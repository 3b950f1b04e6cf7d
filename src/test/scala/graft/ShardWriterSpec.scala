package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.vector.VectorStore

/** The vector store's one shard writer: a write sized under one split
  * runs in one task, whatever partitioning its frame arrived with, so
  * every `shard=` directory it writes holds one file. The inputs here
  * are four-partition frames at `local[4]`, the shape under which a
  * writer that keeps its frame's tasks leaves up to four files per
  * shard.
  */
class ShardWriterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  /** 8-d vectors in 4 clusters (cluster = id % 4), centred by `center`
    * on dimension pairs, with hash jitter.
    */
  private def corpus(from: Long, until: Long)(center: Int => Column): DataFrame =
    spark.range(from, until, 1, 4).select(col("id"),
      array((0 until 8).map { d =>
        center(d) + (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) * 0.01
      }: _*).as("vector"))

  private def home(d: Int): Column = when(pmod(col("id"), lit(4)) === d / 2, 3.0).otherwise(0.0)

  /** Data files per shard directory of the store at `dir`. */
  private def files(dir: String): Map[Long, Int] =
    new File(s"$dir/vectors").listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
      .map(d => d.getName.stripPrefix("shard=").toLong ->
        d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")))
      .toMap

  private def ids(dir: String): Set[Long] =
    spark.read.parquet(s"$dir/vectors").select("id").collect().map(_.getLong(0)).toSet

  private def store(): (VectorStore, String) = {
    val dir = Files.createTempDirectory("graft-shardwriter").toString
    (new VectorStore(spark, dir, numShards = 4), dir)
  }

  test("build, store, upsert, delete and refreshCentroids leave one file per shard they write") {
    val (vs, dir) = store()
    vs.build(corpus(0, 400)(home), iters = 3)
    assert(files(dir).keySet === Set(0L, 1L, 2L, 3L))
    assert(files(dir).values.forall(_ == 1), s"build: ${files(dir)}")

    // an append adds one file to each shard it routes to
    val before = files(dir)
    vs.store(corpus(400, 480)(home))
    val added = files(dir).map { case (s, n) => s -> (n - before.getOrElse(s, 0)) }
    assert(added.values.forall(_ <= 1) && added.values.sum == 4, s"store: $before -> ${files(dir)}")

    // upsert rewrites every shard it touches, appended files included
    val touched = vs.upsert(corpus(460, 520)(home))
    assert(touched.toSet === Set(0L, 1L, 2L, 3L))
    assert(files(dir).values.forall(_ == 1), s"upsert: ${files(dir)}")
    assert(ids(dir) === (0L until 520L).toSet)

    val gone = Seq(3L, 8L, 13L, 470L)
    val rewritten = vs.delete(gone)
    assert(rewritten.nonEmpty)
    assert(rewritten.forall(s => files(dir)(s) == 1), s"delete: ${files(dir)}")
    assert(ids(dir) === (0L until 520L).toSet -- gone)

    // cluster 1 drifts halfway to cluster 2, so the refresh re-routes
    // part of it through the upsert path
    vs.store(corpus(1000, 1200)(d => when(pmod(col("id"), lit(4)) === 1,
      if (d / 2 == 1 || d / 2 == 2) 1.5 else 0.0).otherwise(home(d))))
    val (refreshed, moved) = vs.refreshCentroids(sampleFraction = 1.0, iters = 3)
    assert(moved > 0 && refreshed.nonEmpty)
    assert(refreshed.forall(s => files(dir)(s) == 1), s"refresh: ${files(dir)}")
    assert(ids(dir) === ((0L until 520L).toSet -- gone) ++ (1000L until 1200L))
  }

  test("a residual-PQ refresh rewrites every shard as one file") {
    val (vs, dir) = store()
    vs.build(corpus(0, 400)(home), iters = 3, pqSubspaces = 2, pqCodes = 8)
    assert(files(dir).values.forall(_ == 1), s"build: ${files(dir)}")
    vs.store(corpus(400, 480)(home))
    val (refreshed, _) = vs.refreshCentroids(sampleFraction = 1.0, iters = 2)
    assert(refreshed.toSet === files(dir).keySet)
    assert(files(dir).values.forall(_ == 1), s"refresh: ${files(dir)}")
    assert(ids(dir) === (0L until 480L).toSet)
  }

  test("no main code writes shard partitions outside VectorStore.writeShards") {
    val write = """(?<!Window)\.partitionBy\s*\(\s*"shard"\s*\)""".r
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val all = sources(new File("src/main/scala"))
    assert(all.exists(_.getName == "VectorStore.scala"), "the scan found no VectorStore.scala")
    val sites = all.flatMap { f =>
      val src = scala.io.Source.fromFile(f)("UTF-8")
      val text = try src.mkString finally src.close()
      // the writer's own body: from its definition to the next member
      val writer = Some(text.indexOf("private def writeShards(")).filter(_ >= 0)
        .map(a => a -> text.indexOf("\n  /**", a))
      write.findAllMatchIn(text).filterNot(m => writer.exists { case (a, b) =>
        m.start > a && (b < 0 || m.start < b) }).map(m =>
        s"${f.getName}:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(sites.isEmpty, s"partitionBy(\"shard\") writes outside VectorStore.writeShards: $sites")
  }
}
