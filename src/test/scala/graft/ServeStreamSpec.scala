package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TermIndex
import graft.vector.{Centroids, Serving, VectorStore}

/** Replay safety of every streamed output sink: each case serves two
  * micro-batches, deletes the checkpoint's last `commits/<n>` entry
  * and restarts on the same checkpoint, so Spark re-runs batch n under
  * the same id (the failure between sink write and commit). The
  * output, read without its `batch` partition column, must hold each
  * row once and equal the one-shot verb over both batches' queries.
  */
class ServeStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  /** One positional index and one store over the sf0.001 documents and
    * their embeddings (vec_id = doc_id), shared by every case.
    */
  private lazy val (idx, vs) = {
    val e = Tables.embeddings(spark, sf)
    val v = new VectorStore(spark, Files.createTempDirectory("graft-ssv").toString,
      numShards = 4)
    v.setCentroids(Centroids.deterministicInit(e, k = 4))
    v.store(e.select(col("vec_id").as("id"), col("embedding").as("vector")))
    val t = new TermIndex(spark, Files.createTempDirectory("graft-sst").toString)
    t.build(Tables.documents(spark, sf).select("doc_id", "text"))
    (t, v)
  }

  private type Q = (Long, Seq[String], Seq[String], Seq[Double])

  /** Two micro-batches of (query_id, terms, phrase, qv) rows; each
    * case selects the columns its verb takes.
    */
  private lazy val (batch1, batch2): (Seq[Q], Seq[Q]) = {
    val qs = Seq(
      (3L, Seq("merge", "join"), Seq("table", "scan")),
      (10L, Seq("table", "hash"), Seq("batch", "batch")),
      (7L, Seq("scan", "filter"), Seq("scan", "merge")),
      (42L, Seq("join", "stream"), Seq("hash", "scan")))
    val qv = vs.vectorsOf(qs.map(_._1)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    qs.map { case (id, t, p) => (id, t, p, qv(id)) }.splitAt(2)
  }

  private def allQ: DataFrame = {
    import spark.implicits._
    (batch1 ++ batch2).toDF("query_id", "terms", "phrase", "qv")
  }

  /** Serve `b1` then `b2`, drop the last commit, restart to replay that
    * batch, and return each output directory without its `batch`
    * column.
    */
  private def replayed[T: Encoder](b1: Seq[T], b2: Seq[T], nOut: Int)(
      start: (DataFrame, Seq[String], String) => StreamingQuery): Seq[DataFrame] = {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-replay").toString
    val outs = (0 until nOut).map(i => s"$root/out$i")
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[T]
    val q1 = start(input.toDF(), outs, ckpt)
    try {
      input.addData(b1)
      q1.processAllAvailable()
      input.addData(b2)
      q1.processAllAvailable()
    } finally q1.stop()
    val commits = new File(ckpt, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Seq(last, s".$last.crc").foreach(n => new File(commits, n).delete())
    val q2 = start(input.toDF(), outs, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    outs.map(o => spark.read.parquet(o).drop("batch"))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map((r: Row) => r.toSeq.map {
      case d: Double => math.rint(d * 1e9)
      case x => x
    }).sortBy(_.toString)

  private def serveCase(nOut: Int)(
      start: (DataFrame, Seq[String], String) => StreamingQuery)(
      oneShot: DataFrame => Seq[DataFrame]): () => Seq[(DataFrame, DataFrame)] = () => {
    import spark.implicits._
    val got = replayed(batch1, batch2, nOut) { (in, outs, ck) =>
      start(in.toDF("query_id", "terms", "phrase", "qv"), outs, ck)
    }
    got.zip(oneShot(allQ))
  }

  private def curationCase: () => Seq[(DataFrame, DataFrame)] = () => {
    import spark.implicits._
    val base = 1700000000000L
    def doc(id: Long, off: Long) = (id, new java.sql.Timestamp(base + off * 1000L),
      (1 to 12).map(i => s"d${id}w$i").mkString(" "))
    // the second batch's event times stay below the first's, so the
    // watermark does not move and no empty batch follows it: the
    // replayed batch is the one that carried documents
    val (b1, b2) = (Seq(doc(1, 10), doc(2, 11)), Seq(doc(3, 5), doc(4, 6)))
    val got = replayed(b1, b2, 1) { (in, outs, ck) =>
      graft.streaming.StreamingCuration.start(in.toDF("doc_id", "ts", "text"),
        outs.head, ck)
    }
    val all = (b1 ++ b2).toDF("doc_id", "ts", "text").drop("ts")
    Seq(got.head -> graft.pipeline.CurationPipeline.curate(spark, all).kept)
  }

  private val cases: Seq[(String, () => Seq[(DataFrame, DataFrame)])] = Seq(
    "VectorStore.serveStream" -> serveCase(1) { (q, o, ck) =>
      vs.serveStream(q.select("query_id", "qv"), o.head, ck, topK = 5)
    }(q => Seq(vs.searchJoin(q.select("query_id", "qv"), topK = 5))),
    "VectorStore.serveRangeStream" -> serveCase(1) { (q, o, ck) =>
      vs.serveRangeStream(q.select("query_id", "qv"), o.head, ck, minScore = 0.9)
    }(q => Seq(vs.rangeJoin(q.select("query_id", "qv"), minScore = 0.9))),
    "TermIndex.serveStream" -> serveCase(1) { (q, o, ck) =>
      idx.serveStream(q.select("query_id", "terms"), k = 5, o.head, ck)
    }(q => Seq(idx.searchBatch(q.select("query_id", "terms"), k = 5))),
    "TermIndex.servePhraseStream" -> serveCase(1) { (q, o, ck) =>
      idx.servePhraseStream(q.select("query_id", "phrase"), k = 5, o.head, ck)
    }(q => Seq(idx.searchPhraseBatch(q.select("query_id", "phrase"), k = 5))),
    "Serving.serveHybridStream" -> serveCase(1) { (q, o, ck) =>
      Serving.serveHybridStream(idx, vs, q.select("query_id", "terms", "qv"),
        o.head, ck, topK = 5, shortlist = 20)
    }(q => Seq(Serving.hybridJoin(idx, vs, q.select("query_id", "terms", "qv"),
      topK = 5, shortlist = 20))),
    "Serving.serveTriStream" -> serveCase(1) { (q, o, ck) =>
      Serving.serveTriStream(idx, vs, q, o.head, ck, topK = 5, shortlist = 20)
    }(q => Seq(Serving.triJoin(idx, vs, q, topK = 5, shortlist = 20))),
    "Serving.serveFusionStream" -> serveCase(2) { (q, o, ck) =>
      Serving.serveFusionStream(idx, vs, q, o(0), o(1), ck, topK = 5, shortlist = 20)
    }(q => Seq(
      Serving.hybridJoin(idx, vs, q.select("query_id", "terms", "qv"),
        topK = 5, shortlist = 20),
      Serving.triJoin(idx, vs, q, topK = 5, shortlist = 20))),
    "Serving.serveMltStream" -> serveCase(1) { (q, o, ck) =>
      Serving.serveMltStream(idx, vs, q.select("query_id"), o.head, ck)
    }(q => Seq(Serving.mltJoin(idx, vs, ids(q)))),
    "Serving.serveMaxsimStream" -> serveCase(1) { (q, o, ck) =>
      Serving.serveMaxsimStream(spark, sf, q.select("query_id"), o.head, ck)
    }(q => Seq(Serving.maxsimJoin(spark, sf, ids(q)))),
    "StreamingCuration.start's sink" -> curationCase)

  private def ids(q: DataFrame): Seq[Long] =
    q.select("query_id").collect().map(_.getLong(0)).toSeq

  cases.foreach { case (name, run) =>
    test(s"$name: a replayed micro-batch is written once") {
      run().zipWithIndex.foreach { case ((got, want), i) =>
        val g = rows(got)
        assert(g.nonEmpty, s"output $i is empty")
        assert(g.distinct === g, s"output $i holds duplicate rows after the replay")
        assert(g === rows(want), s"output $i differs from the one-shot result")
      }
    }
  }

  test("foreachBatch appears only in ServeStream, StreamingCuration and VectorStore.streamStore") {
    val call = """\.foreachBatch\b""".r
    val defn = """\bdef\s+(\w+)""".r
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val sites = sources(new File("src/main/scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f)("UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.indices.filter(i => call.findFirstIn(lines(i)).isDefined).map { i =>
        val owner = (i to 0 by -1).iterator
          .flatMap(j => defn.findFirstMatchIn(lines(j)).map(_.group(1))).nextOption()
        (f.getName, owner.getOrElse(""))
      }
    }
    assert(sites.nonEmpty, "the scan found no foreachBatch at all")
    val stray = sites.filterNot {
      case ("ServeStream.scala" | "StreamingCuration.scala", _) => true
      case ("VectorStore.scala", "streamStore") => true
      case _ => false
    }
    assert(stray.isEmpty, s"foreachBatch outside the allowed owners: $stray")
  }
}
