package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Served, Tables}

/** Served PQ/OPQ artifacts ([[graft.Served]]): train-once /
  * serve-many for the compressed-knn queries.
  *
  * Per-call Lloyd training inside `vdb_knn_pq`/`vdb_knn_opq` was the
  * slowest vector pair on the bench (1.53 s / 2.76 s at sf0.1), and
  * at 100× data a per-call train is a BUILD per query. The artifact
  * splits them: `book/` holds the codebook rows (subspace, code,
  * centroid) — plus `rot/` for OPQ's rotation (mean + permuted
  * components), and `codes/` holds the ENCODED corpus (vec_id,
  * pq_codes) so serving also skips the encode projection. The stamp
  * is over (vec_id, embedding).
  *
  * Determinism/oracle story: training is deterministic (seeded
  * sample, lowest-id init), so the served model IS the model the
  * per-call query trained — served results are bit-identical and the
  * exact-L2 re-rank keeps the DuckDB oracle green either way.
  */
object ServedQuant {

  // --- codebook (de)serialization ------------------------------------

  private def writeBook(s: SparkSession, dir: String,
                        m: ProductQuantizer.Model): Unit = {
    import s.implicits._
    val rows = for {
      sub <- m.centroids.indices
      code <- m.centroids(sub).indices
    } yield (sub, code, m.centroids(sub)(code).toSeq)
    rows.toDF("subspace", "code", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/book")
  }

  private def readBook(s: SparkSession, dir: String): ProductQuantizer.Model = {
    val rows = Tables.resolved(s, s"$dir/book")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val cents = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, subRows) =>
      subRows.sortBy(_._2).map(_._3)
    }.toArray
    ProductQuantizer.Model(cents(0)(0).length, cents)
  }

  private def writeRot(s: SparkSession, dir: String, m: Pca.Model): Unit = {
    import s.implicits._
    val rows = ("mean", -1, m.mean.toSeq) +:
      m.components.indices.map(i => ("comp", i, m.components(i).toSeq))
    rows.toDF("kind", "idx", "vec").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/rot")
  }

  private def readRot(s: SparkSession, dir: String): Pca.Model = {
    val rows = Tables.resolved(s, s"$dir/rot")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val mean = rows.find(_._1 == "mean").get._3
    val comps = rows.filter(_._1 == "comp").sortBy(_._2).map(_._3)
    Pca.Model(mean, comps)
  }

  // --- PQ lifecycle ---------------------------------------------------

  private def pqDir(d: String, m: Int): String =
    graft.text.TextAnalysis.termIdxDir(d, s"-pq-m$m-v1")

  private def writeCodes(s: SparkSession, dir: String, encoded: DataFrame): Unit =
    encoded.select(col("vec_id").cast(LongType).as("vec_id"), col("pq_codes"))
      .write.mode("overwrite").parquet(s"$dir/codes")

  /** The served PQ model + encoded-corpus frame for `d`'s embeddings
    * table. Trains (deterministic 20% sample, `knnPq`'s recipe) and
    * persists only when the artifact is missing or stale.
    */
  def servedPq(s: SparkSession, d: String, numSubspaces: Int = 16)
      : (ProductQuantizer.Model, DataFrame) = {
    val dir = pqDir(d, numSubspaces)
    Served.ensure(s, dir, Tables.embeddings(s, d), "vec_id", "embedding") { live =>
      val model = ProductQuantizer.train(live.sample(0.2, 42L),
        numSubspaces = numSubspaces)
      writeCodes(s, dir, ProductQuantizer.encode(live, model))
      writeBook(s, dir, model)
    }
    (readBook(s, dir), Tables.resolved(s, s"$dir/codes"))
  }

  // --- OPQ lifecycle --------------------------------------------------

  private def opqDir(d: String, m: Int): String =
    graft.text.TextAnalysis.termIdxDir(d, s"-opq-m$m-v1")

  /** The served OPQ model (rotation + codebooks) + encoded-corpus
    * frame — `knnOpq`'s training recipe behind the same stamp.
    */
  def servedOpq(s: SparkSession, d: String, dim: Int = 64,
                numSubspaces: Int = 16, numCodes: Int = 16, iters: Int = 3)
      : (Opq.Model, DataFrame) = {
    val dir = opqDir(d, numSubspaces)
    Served.ensure(s, dir, Tables.embeddings(s, d), "vec_id", "embedding") { live =>
      val model = Opq.train(live.sample(0.2, 42L), "vec_id", "embedding",
        dim = dim, numSubspaces = numSubspaces, numCodes = numCodes,
        iters = iters)
      writeCodes(s, dir, Opq.encode(live, model))
      writeBook(s, dir, model.pq)
      writeRot(s, dir, model.rotation)
    }
    (Opq.Model(readRot(s, dir), readBook(s, dir)),
      Tables.resolved(s, s"$dir/codes"))
  }
}
