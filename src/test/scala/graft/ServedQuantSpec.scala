package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TopicCluster
import graft.vector.{Opq, ProductQuantizer, ServedQuant}

/** Served PQ/OPQ codebook artifacts: serve-many equals train-per-call
  * bit-identically, repeat serves don't retrain, and a content edit —
  * even count-preserving — rebuilds (the servedIdx staleness
  * contract).
  */
class ServedQuantSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  import spark.implicits._

  private def writeVecs(dir: String, scale: Double, n: Int = 300): Unit =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(64)(d => scale * math.sin(i * 13 + d * 3)))
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  test("served PQ == per-call trained PQ, and repeat serve skips training") {
    val dir = java.nio.file.Files.createTempDirectory("graft-servpq").toString
    writeVecs(dir, 1.0)
    Served.invalidate()
    val (served, codes) = ServedQuant.servedPq(spark, dir, numSubspaces = 16)
    val direct = ProductQuantizer.train(
      Tables.embeddings(spark, dir).sample(0.2, 42L), numSubspaces = 16)
    assert(served.subDim === direct.subDim)
    assert(served.centroids.flatten.flatten.toSeq ===
      direct.centroids.flatten.flatten.toSeq,
      "served codebook must be bit-identical to a per-call train")
    assert(codes.count() === 300L)
    // repeat serve: same artifact (stamp mtime untouched — no rewrite)
    val stampFile = new java.io.File(
      graft.text.TextAnalysis.termIdxDir(dir, "-pq-m16-v1") + "/_served_stamp")
    val mtime = stampFile.lastModified
    val (again, _) = ServedQuant.servedPq(spark, dir, numSubspaces = 16)
    assert(again.centroids.flatten.flatten.toSeq ===
      direct.centroids.flatten.flatten.toSeq)
    assert(stampFile.lastModified === mtime,
      "a repeat serve must not rewrite the artifact")
  }

  test("count-preserving vector edit retrains PQ (stamp catches mutation)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-servpq2").toString
    writeVecs(dir, 1.0)
    Served.invalidate()
    val (m1, _) = ServedQuant.servedPq(spark, dir, numSubspaces = 16)
    writeVecs(dir, 2.5) // same count, same dims, different content
    Served.invalidate()
    val (m2, codes2) = ServedQuant.servedPq(spark, dir, numSubspaces = 16)
    val direct2 = ProductQuantizer.train(
      Tables.embeddings(spark, dir).sample(0.2, 42L), numSubspaces = 16)
    assert(m2.centroids.flatten.flatten.toSeq ===
      direct2.centroids.flatten.flatten.toSeq,
      "the edited corpus must serve a RETRAINED codebook")
    assert(m1.centroids.flatten.flatten.toSeq !==
      m2.centroids.flatten.flatten.toSeq,
      "scaled vectors must move the codebook")
    assert(codes2.count() === 300L)

    // swapping embeddings between two vec_ids keeps count and the
    // multiset of vectors: the served codes must follow the swap, and
    // the vector topic model must re-assign both ids
    val byId = Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val clusters = TopicCluster.servedVectorAssignments(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (a, b) = (0L, (1L until 300L).find(i => clusters(i) != clusters(0L)).get)
    byId.toSeq.sortBy(_._1).map { case (i, v) => (i, if (i == a) byId(b) else if (i == b) byId(a) else v) }
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Served.invalidate()
    val (m3, codes3) = ServedQuant.servedPq(spark, dir, numSubspaces = 16)
    val encoded = ProductQuantizer.encode(Tables.embeddings(spark, dir), m3)
      .select(col("vec_id").cast("long").as("vec_id"), col("pq_codes"))
    assert(codes3.exceptAll(encoded).count() === 0 &&
      encoded.exceptAll(codes3).count() === 0,
      "a vec_id swap must re-encode the served codes")
    val swapped = TopicCluster.servedVectorAssignments(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(swapped === TopicCluster.clusterVectors(Tables.embeddings(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "a vec_id swap must re-assign the served vector topic model")
  }

  test("served OPQ rotation + books round-trip bit-identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-servopq").toString
    writeVecs(dir, 1.0)
    Served.invalidate()
    val (served, codes) = ServedQuant.servedOpq(spark, dir, dim = 64,
      numSubspaces = 16, numCodes = 16, iters = 3)
    val direct = Opq.train(Tables.embeddings(spark, dir).sample(0.2, 42L),
      "vec_id", "embedding", dim = 64, numSubspaces = 16, numCodes = 16,
      iters = 3)
    assert(served.rotation.mean.toSeq === direct.rotation.mean.toSeq)
    assert(served.rotation.components.flatten.toSeq ===
      direct.rotation.components.flatten.toSeq,
      "served rotation must round-trip bit-identically")
    assert(served.pq.centroids.flatten.flatten.toSeq ===
      direct.pq.centroids.flatten.flatten.toSeq)
    // stored codes equal a fresh encode under the same model
    val fresh = Opq.encode(Tables.embeddings(spark, dir), direct)
      .select(col("vec_id").cast("long").as("vec_id"), col("pq_codes"))
    assert(codes.exceptAll(fresh).count() === 0 &&
      fresh.exceptAll(codes).count() === 0,
      "stored codes must equal a fresh encode under the served model")
  }
}
