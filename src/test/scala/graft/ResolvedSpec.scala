package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TermIndex
import graft.vector.VectorStore

/** The one resolved read path ([[Tables.resolved]]): warm serving
  * verbs build their frames with no Spark job, every mutation — from
  * this handle or another — is read fresh by the next call, and no
  * main code reads parquet around it.
  */
class ResolvedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  /** Spark jobs started while `f` runs ([[JobCount.during]]). */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val (r, n) = JobCount.during(spark)(f)
    (r, n.jobs)
  }

  private def corpus(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 4).select(col("id"),
      array((0 until 8).map { d =>
        when(pmod(col("id"), lit(4)) === d / 2, 3.0).otherwise(0.0) +
          (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) * 0.01
      }: _*).as("vector"))

  private def docs(from: Long, until: Long, text: Column): DataFrame =
    spark.range(from, until).select(col("id").as("doc_id"), text.as("text"))

  private def ids(df: DataFrame, c: String): Set[Long] =
    df.select(c).collect().map(_.getLong(0)).toSet

  private def vectorOf(vs: VectorStore, id: Long): Seq[Double] =
    vs.get(id).select(col("vector").cast("array<double>")).head().getSeq[Double](0)

  test("warm search, get and TermIndex.search build their frames with no Spark job") {
    val vs = new VectorStore(spark, Files.createTempDirectory("graft-res-v").toString,
      numShards = 4)
    vs.build(corpus(0, 200), iters = 2)
    val idx = new TermIndex(spark, Files.createTempDirectory("graft-res-t").toString)
    idx.build(docs(0, 200, concat_ws(" ", concat(lit("w"), pmod(col("id"), lit(7))),
      concat(lit("v"), pmod(col("id"), lit(5))))))
    // tombstones present: the bm25 plan must take them without a job
    idx.delete(Seq(3L), "d1")
    val q = vectorOf(vs, 7L).toArray
    def calls: Seq[(String, () => DataFrame)] = Seq(
      "search" -> (() => vs.search(q, topK = 5, nprobe = 2)),
      "get" -> (() => vs.get(7L)),
      "bm25" -> (() => idx.search(Seq("w3", "v1"), k = 5)))
    calls.foreach { case (_, c) => c().collect() } // warm
    calls.foreach { case (name, c) =>
      val (df, jobs) = jobsDuring(c())
      assert(jobs === 0, s"warm $name fired $jobs Spark jobs building its frame")
      assert(df.collect().nonEmpty, s"$name returned no rows")
    }
    assert(!ids(idx.search(Seq("w3", "v1"), k = 200), "doc_id").contains(3L))
  }

  test("a directory rewritten with a new column is read with that column") {
    val dir = Files.createTempDirectory("graft-res-col").toString + "/t"
    spark.range(5).write.parquet(dir)
    assert(Tables.resolved(spark, dir).columns.toSeq === Seq("id"))
    spark.range(5).withColumn("extra", col("id") * 2).write.mode("overwrite").parquet(dir)
    val df = Tables.resolved(spark, dir)
    assert(df.columns.toSeq === Seq("id", "extra"))
    assert(df.filter(col("id") === 4).select("extra").head().getLong(0) === 8L)
  }

  test("a second handle's store, upsert and delete are read fresh") {
    val dir = Files.createTempDirectory("graft-res-2h").toString
    val a = new VectorStore(spark, dir, numShards = 4)
    a.build(corpus(0, 200), iters = 2)
    val q = vectorOf(a, 11L).toArray
    a.search(q, topK = 3, nprobe = 4).collect()
    val b = new VectorStore(spark, dir, numShards = 4)
    // B stores an exact copy of 11's vector under a new id: A's next
    // search must rank it
    import spark.implicits._
    b.store(Seq((1000L, q.toSeq)).toDF("id", "vector"))
    assert(ids(a.search(q, topK = 2, nprobe = 4), "id") === Set(11L, 1000L))
    // B upserts 11 to a far-away vector: A's get reads the new one
    val far = Seq.fill(8)(-9.0)
    b.upsert(Seq((11L, far)).toDF("id", "vector"))
    assert(vectorOf(a, 11L) === far)
    // B deletes 1000: gone from A's get and search
    b.delete(Seq(1000L))
    assert(a.get(1000L).count() === 0L)
    assert(!ids(a.search(q, topK = 5, nprobe = 4), "id").contains(1000L))
  }

  test("store compaction and re-routed centroids are read fresh") {
    val dir = Files.createTempDirectory("graft-res-cmp").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus(0, 200), iters = 2)
    vs.store(corpus(200, 240))
    val q = vectorOf(vs, 220L).toArray
    val before = vs.search(q, topK = 5, nprobe = 4).collect().toSeq
    val cents = vs.centroids()
    val report = vs.maintain(sampleFraction = 1.0, iters = 2, targetFileBytes = 1L << 30)
    assert(report.compaction.exists { case (_, b, a) => a < b }, "nothing was compacted")
    assert(vs.search(q, topK = 5, nprobe = 4).collect().toSeq.map(_.getLong(0)) ===
      before.map(_.getLong(0)))
    assert(vs.get(220L).count() === 1L)
    // a setCentroids by another handle moves the routing this one reads
    val moved = cents.map { case (s, c) => (s, c.map(_ + 1.0)) }
    new VectorStore(spark, dir, numShards = 4).setCentroids(moved)
    assert(vs.centroids().map(_._2.toSeq).toSeq === moved.map(_._2.toSeq).toSeq)
    // the copy handed out is the caller's own
    vs.centroids()(0)._2(0) = 1e9
    assert(vs.centroids()(0)._2(0) === moved(0)._2(0))
  }

  test("TermIndex: another handle's append, a delete and a compact are read fresh") {
    val dir = Files.createTempDirectory("graft-res-ti").toString
    val a = new TermIndex(spark, dir)
    a.build(docs(0, 100, concat(lit("w"), pmod(col("id"), lit(10)))))
    assert(ids(a.search(Seq("fresh"), k = 10), "doc_id").isEmpty)
    assert(a.health().head().getAs[Long]("n_docs") === 100L)
    new TermIndex(spark, dir).append(docs(100, 103, lit("fresh fresh")), "b1")
    assert(ids(a.search(Seq("fresh"), k = 10), "doc_id") === Set(100L, 101L, 102L))
    assert(a.health().head().getAs[Long]("n_docs") === 103L)
    a.delete(Seq(101L), "d1")
    assert(ids(a.search(Seq("fresh"), k = 10), "doc_id") === Set(100L, 102L))
    val h = a.health().head()
    assert(h.getAs[Long]("n_docs") === 102L && h.getAs[Long]("n_tombstones") === 1L)
    val scores = a.search(Seq("fresh", "w3"), k = 10).collect().toSeq
    a.compact()
    assert(a.search(Seq("fresh", "w3"), k = 10).collect().toSeq === scores)
    assert(a.health().head().getAs[Long]("n_tombstones") === 0L)
  }

  test("no main code reads parquet outside Tables.resolved") {
    val read = """\.read\s*(\.\s*\w+\s*\([^)]*\)\s*)*\.\s*parquet\s*\(""".r
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val all = sources(new File("src/main/scala"))
    assert(all.exists(_.getName == "Tables.scala"), "the scan found no Tables.scala")
    val stray = all.filterNot(_.getName == "Tables.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f)("UTF-8")
      val text = try src.mkString finally src.close()
      read.findAllMatchIn(text).map(m =>
        s"${f.getName}:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(stray.isEmpty, s"parquet reads outside Tables.resolved: $stray")
  }
}
