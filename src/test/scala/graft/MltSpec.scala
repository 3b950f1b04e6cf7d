package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TermIndex
import graft.vector.{Centroids, Serving, VectorStore}

/** Query-by-example served from the MAINTAINED indexes
  * ([[Serving.mltJoin]]): the lexical arm reads tf/df/N from the
  * TermIndex's postings, the vector arm reads the examples from the
  * VectorStore and probes its fused searchJoin — so the whole page
  * must be ROW-IDENTICAL to the registered one-shot
  * `vdb_more_like_this` (oracle-proven), and track deletes on both
  * indexes where the one-shot cannot.
  */
class MltSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Set[Seq[Long]] =
    df.collect().map(_.toSeq.map(_.asInstanceOf[Long]).toSeq).toSet

  /** Store routed by the SAME deterministic centroids as the
    * registered query's IVF arm, index over the same documents.
    */
  private def fixture(): (TermIndex, VectorStore) = {
    val e = Tables.embeddings(spark, sf)
    val vdir = Files.createTempDirectory("graft-mlt-v").toString
    val vs = new VectorStore(spark, vdir, numShards = 4)
    vs.setCentroids(Centroids.deterministicInit(e, k = 4))
    vs.store(e.select(col("vec_id").as("id"), col("embedding").as("vector")))
    val tdir = Files.createTempDirectory("graft-mlt-t").toString
    val idx = new TermIndex(spark, tdir, positional = false)
    idx.build(Tables.documents(spark, sf).select("doc_id", "text"))
    (idx, vs)
  }

  test("postings-served lexical arm is row-identical to the one-shot tf-idf kernel") {
    val (idx, _) = fixture()
    val served = idx.moreLikeThis(Seq(0L, 1L, 2L), k = 50)
      .select("query_id", "rank", "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val oneShot = graft.text.TextAnalysis
      .tfidfCosineNeighbors(spark, sf, Seq(0L, 1L, 2L), k = 50)
      .select("q_id", "rank", "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served === oneShot,
      "index tf/df/N must reproduce the raw-text weights bit-for-bit")
    assert(served.nonEmpty)
  }

  test("mltJoin page equals the registered vdb_more_like_this") {
    val (idx, vs) = fixture()
    val served = canon(Serving.mltJoin(idx, vs, Seq(0L, 1L, 2L)))
    val registered = canon(SparkEntry.queries("vdb_more_like_this")(spark, sf))
    assert(served === registered)
    assert(served.nonEmpty)
  }

  test("streamed MLT pages union to the one-shot join; deletes track on both arms") {
    val (idx, vs) = fixture()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft-mlt-out").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-mlt-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = Serving.serveMltStream(idx, vs, input.toDF().toDF("query_id"),
      outDir, ckpt)
    try {
      input.addData(0L, 1L)
      q.processAllAvailable()
      input.addData(2L)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = canon(spark.read.parquet(outDir).drop("batch"))
    assert(streamed === canon(Serving.mltJoin(idx, vs, Seq(0L, 1L, 2L))),
      "streamed pages must equal the one-shot join")

    // drop example 0's top neighbor from BOTH indexes: the page must
    // re-rank without it — the lifecycle the one-shot query can't serve
    val victim = Serving.mltJoin(idx, vs, Seq(0L))
      .orderBy("rank").head().getLong(2)
    idx.delete(Seq(victim), "mlt-del")
    vs.delete(Seq(victim))
    val after = Serving.mltJoin(idx, vs, Seq(0L))
    assert(after.filter(col("doc_id") === victim).isEmpty,
      s"deleted doc $victim must not rank")
    assert(after.count() === 10L, "page refills from the live corpus")
  }
}
