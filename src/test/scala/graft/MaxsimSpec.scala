package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-vector max-sim retrieval (`vdb_knn_maxsim`): a document
  * scores as the best of its CHUNKS, so a passage buried inside an
  * otherwise-unrelated document ranks as highly as a verbatim copy —
  * the long-document failure mode single-vector knn dilutes away.
  */
class MaxsimSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  private def w(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("buried passage scores like a verbatim copy; whole-doc cosine would dilute it") {
    import spark.implicits._
    val query = w("q", 20)
    val docs = (
      Seq((0L, query),                        // the query doc itself
          (50L, query),                       // verbatim copy
          // 24 junk tokens then the query text: chunk 1 (stride 24)
          // starts exactly at the passage — maxsim 1.0 via best_chunk 1
          (51L, w("j", 24) + " " + query)) ++
      (100L until 120L).map(i => (i, w(s"z${i}_", 40)))  // unrelated corpus
    ).toDF("doc_id", "text")
    val out = graft.vector.Serving.maxsimFrame(docs, Seq(0L)).collect()
      .map(r => (r.getLong(2), r.getLong(1), r.getLong(3), r.getDouble(4)))
      .map { case (doc, rank, chunk, sim) => doc -> ((rank, chunk, sim)) }.toMap
    assert(!out.contains(0L), "the query doc must be excluded")
    assert(out(50L)._3 === 1.0, "verbatim copy scores cosine 1.0")
    assert(out(51L)._3 === 1.0,
      "the buried passage's chunk must recover the full score")
    assert(out(51L)._2 === 1L, "the winning chunk is the one holding the passage")
    assert(Set(out(50L)._1, out(51L)._1) === Set(1L, 2L),
      "both perfect matches occupy the top ranks (doc_id tiebreak)")
  }

  test("min-of-struct argmax equals a window-sort argmax on the test corpus") {
    val docs = Tables.documents(spark, sf)
    val got = graft.vector.Serving.maxsimFrame(docs, Seq(0L, 1L, 2L))
      .collect().map(_.toSeq).toSet
    // independent mirror: recompute per-(query, doc) argmax driver-side
    // from the registered query's own emitted rows is circular — use
    // the ORACLE-equivalent property instead: ranks strictly follow
    // (maxsim desc, doc_id), pages are 10 rows, self never ranks
    val byQ = got.groupBy(_.head.asInstanceOf[Long])
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.foreach { case (qid, rows) =>
      assert(rows.size === 10)
      val sorted = rows.toSeq.sortBy(_(1).asInstanceOf[Long])
      val sims = sorted.map(_(4).asInstanceOf[Double])
      assert(sims === sims.sortBy(-_), "maxsim must descend with rank")
      assert(!sorted.exists(_(2).asInstanceOf[Long] == qid), "self excluded")
      sorted.foreach(r => assert(r(3).asInstanceOf[Long] >= 0L))
    }
    // determinism
    val again = graft.vector.Serving.maxsimFrame(docs, Seq(0L, 1L, 2L))
      .collect().map(_.toSeq).toSet
    assert(again === got)
  }

  test("registered query serves from the chunk artifact, bit-identical to the inline plan") {
    val docs = Tables.documents(spark, sf)
    val inline = graft.vector.Serving.maxsimFrame(docs, Seq(0L, 1L, 2L))
      .collect().map(_.toSeq).toSet
    val served = SparkEntry.queries("vdb_knn_maxsim")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(served === inline,
      "serving from persisted integer components must be bit-identical")
  }

  test("chunk artifact staleness: rebuild on in-place edit, no rewrite while fresh") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-maxsim-art").toString
    val dataDir = s"$base/docs"
    val artDir = s"$base/art"
    val query = w("q", 20)
    val mk = (midText: String) => Seq(
      (0L, query),
      (1L, w("j", 24) + " " + midText),
      (2L, w("z", 40))).toDF("doc_id", "text")
    mk(query).write.parquet(dataDir)
    def docs = spark.read.parquet(dataDir)
    def serveOnce() = {
      Served.invalidate()
      graft.vector.Serving.maxsimFrom(
          graft.vector.ServedMaxsim.servedChunksOf(spark, artDir, docs),
          docs, Seq(0L), topK = 10)
        .collect().map(_.toSeq).toSet
    }
    val first = serveOnce()
    assert(first === graft.vector.Serving.maxsimFrame(docs, Seq(0L))
      .collect().map(_.toSeq).toSet)
    def chunkFiles() = new java.io.File(s"$artDir/chunks").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val files0 = chunkFiles()
    // fresh stamp (even across the per-JVM memo): no rewrite
    assert(serveOnce() === first)
    assert(chunkFiles() === files0, "a fresh artifact must not be rewritten")
    // in-place edit — same row count, text changed: the (doc_id, text)
    // hash stamp moves, the artifact rebuilds, the buried passage is gone
    mk(w("other", 20)).write.mode("overwrite").parquet(dataDir)
    val after = serveOnce()
    assert(chunkFiles() !== files0, "a stale artifact must rebuild")
    assert(after === graft.vector.Serving.maxsimFrame(docs, Seq(0L))
      .collect().map(_.toSeq).toSet)
    val doc1 = after.find(_(2) == 1L).map(_(4).asInstanceOf[Double])
    assert(doc1.forall(_ < 1.0),
      "after the edit, doc 1 no longer holds the verbatim passage")
  }

  test("streamed maxsim pages equal the one-shot verb") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("graft-maxsim-out")
      .toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-maxsim-ck").toString
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = graft.vector.Serving.serveMaxsimStream(spark, sf,
      input.toDF().toDF("query_id"), outDir, ckpt)
    try {
      input.addData(0L, 1L)
      q.processAllAvailable()
      input.addData(2L)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir).drop("batch").collect().map(_.toSeq).toSet
    assert(streamed === graft.vector.Serving.maxsimJoin(spark, sf, Seq(0L, 1L, 2L))
      .collect().map(_.toSeq).toSet,
      "streamed pages must equal the one-shot join")
  }
}
