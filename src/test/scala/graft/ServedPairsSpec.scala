package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, ServedPairs}

/** The served near-dup pair artifact: bit-identical to the one-shot
  * pass for every consumer, refresh-not-refuse on corpus drift, no
  * rebuild while fresh.
  */
class ServedPairsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("served routes are row-identical to the one-shot passes on the test corpus") {
    val docs = Tables.documents(spark, sf)
    // pair + containment projections
    assert(rows(ServedPairs.pairs(spark, sf)) ===
      rows(Dedup.ngramJaccardPairs(docs)))
    assert(ServedPairs.pairs(spark, sf).count() > 0,
      "test corpus should contain injected near-dups")
    assert(rows(SparkEntry.queries("dedup_containment")(spark, sf)) ===
      rows(Dedup.containmentPairs(docs)))
    // consumers: clusters, keep-best, cross-source, leakage, incremental
    assert(rows(SparkEntry.queries("dedup_clusters")(spark, sf)) ===
      rows(Dedup.connectedComponents(Dedup.ngramJaccardPairs(docs))))
    assert(rows(SparkEntry.queries("dedup_keep_best")(spark, sf)) ===
      rows(Dedup.keepBest(docs)))
    assert(rows(SparkEntry.queries("dedup_cross_source")(spark, sf)) ===
      rows(Dedup.crossSourceMatrix(docs)))
    assert(rows(SparkEntry.queries("dedup_incremental")(spark, sf)) ===
      rows(Dedup.incrementalVerdicts(docs, col("doc_id") % 5 === 0)))
    assert(rows(SparkEntry.queries("split_leakage")(spark, sf)) ===
      rows(graft.pipeline.PipelineOps.splitLeakage(docs)))
  }

  test("freshness: no rebuild while the corpus stamp holds; a text edit rebuilds") {
    import spark.implicits._
    def doc(i: Long, seed: String): (Long, String) =
      (i, (0 until 30).map(j => s"w$seed${j}").mkString(" "))
    // 1↔2 near-dup twins (share 28 of 30 words), 3 distinct
    val docs = Seq(doc(1, "a"), (2L, doc(1, "a")._2.replace("wa29", "zz")),
      doc(3, "b")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-servedpairs").toString
    val first = rows(Dedup.jaccardOf(
      ServedPairs.candidatesOf(spark, dir, docs), 0.5))
    assert(first.nonEmpty, "planted twins must pair")

    val cands = new java.io.File(s"$dir/cands")
    def newestMtime(): Long =
      cands.listFiles().map(_.lastModified()).max
    val t0 = newestMtime()
    // same corpus after a memo invalidation: the meta stamp matches,
    // so the artifact is REUSED, not rewritten
    Served.invalidate()
    Thread.sleep(20)
    assert(rows(Dedup.jaccardOf(
      ServedPairs.candidatesOf(spark, dir, docs), 0.5)) === first)
    assert(newestMtime() === t0, "a fresh artifact must not rewrite")

    // an in-place text edit moves the stamp: the artifact rebuilds and
    // the served pairs reflect the edit (twin 2 drifts away from 1)
    val edited = docs.withColumn("text",
      when(col("doc_id") === 2L, lit("altogether different content now here"))
        .otherwise(col("text")))
    Served.invalidate()
    val after = rows(Dedup.jaccardOf(
      ServedPairs.candidatesOf(spark, dir, edited), 0.5))
    assert(after.isEmpty, "the edit must break the planted pair")
    assert(after === rows(Dedup.ngramJaccardPairs(edited, threshold = 0.5)))
    Served.invalidate()
  }
}
