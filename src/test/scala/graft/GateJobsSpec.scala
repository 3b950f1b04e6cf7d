package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointInterop
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.ShingleIndex
import graft.embed.HashEmbedder
import graft.text.TermIndex
import graft.vector.VectorStore

/** The Spark jobs of the dedup gate's verbs (`ShingleIndex.judge`, both
  * indexes' `append`, `VectorStore.upsert`) and of the three takedown
  * verbs, pinned on a small fixed index: a 200-document corpus and
  * 25-document batches, the shape of a gated ingest round. At this
  * size a verb's cost is its job count, not its data.
  *
  * Each verb is counted where an ingest round calls it: the first call
  * after the previous verb's mutation, so the directories it reads
  * were just rewritten and their schemas and folds miss. It is counted
  * warm too: `judge` as a second call on unchanged directories, each
  * mutating verb as an immediate replay of itself (the at-least-once
  * retry every one of them is idempotent under). A pin is an upper
  * bound; raising one is a reviewed change, logged with its reason in
  * CHANGES.md.
  */
class GateJobsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  private val Pins = Map(
    "judge" -> 12, "judge (warm)" -> 10,
    "shingle append" -> 9, "shingle append (replay)" -> 10,
    "term append" -> 6, "term append (replay)" -> 5,
    "upsert" -> 6, "upsert (replay)" -> 5,
    "vector delete" -> 2, "vector delete (replay)" -> 1,
    "term delete" -> 5, "term delete (replay)" -> 6,
    "shingle delete" -> 8, "shingle delete (replay)" -> 9)

  private def word(rnd: Random): String = {
    val u = rnd.nextDouble()
    "w" + (10000 * u * u).toInt
  }

  private def text(rnd: Random): String =
    Seq.fill(20 + rnd.nextInt(31))(word(rnd)).mkString(" ")

  private def frame(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))

  private final class Gate(val store: VectorStore, val terms: TermIndex,
                           val shingles: ShingleIndex, var live: Map[Long, String])

  private def gate(rnd: Random): Gate = {
    val root = Files.createTempDirectory("graft-gate").toString
    val docs = (0L until 200L).map(i => i -> text(rnd))
    val df = frame(docs)
    val store = new VectorStore(spark, s"$root/store", 4)
    store.build(embedded(df), iters = 3)
    val terms = new TermIndex(spark, s"$root/terms")
    terms.build(df)
    val shingles = new ShingleIndex(spark, s"$root/shingles")
    shingles.build(df)
    new Gate(store, terms, shingles, docs.toMap)
  }

  private def embedded(docs: DataFrame): DataFrame =
    HashEmbedder.embed(docs).select(col("doc_id").as("id"), col("embedding").as("vector"))

  /** 25 new documents: 2 exact copies, 3 near copies (one word of a
    * 30-plus-word live document changed), 20 fresh.
    */
  private def batch(rnd: Random, g: Gate, firstId: Long): Seq[(Long, String)] = {
    val live = g.live.values.toIndexedSeq.sorted
    val long = live.filter(_.count(_ == ' ') >= 29)
    def near(t: String) = {
      val ws = t.split(" ")
      ws(2 + rnd.nextInt(ws.length - 4)) = "zz" + rnd.nextInt(1000)
      ws.mkString(" ")
    }
    (Seq.fill(2)(live(rnd.nextInt(live.size))) ++
      Seq.fill(3)(near(long(rnd.nextInt(long.size)))) ++
      Seq.fill(20)(text(rnd))).zipWithIndex.map { case (t, i) => (firstId + i, t) }
  }

  /** One gated ingest round plus a takedown; the jobs of each call. */
  private def round(rnd: Random, g: Gate, r: Int): Map[String, JobCount] = {
    val docs = batch(rnd, g, 1000L * (r + 1))
    val in = frame(docs)
    def judged(): (Map[Long, String], JobCount) = JobCount.during(spark) {
      val v = g.shingles.judge(in)
      try v.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
      finally CheckpointInterop.unpersistCheckpoint(v)
    }
    val (verdicts, judge) = judged()
    val (again, warm) = judged()
    assert(again === verdicts)
    assert(docs.take(2).forall(d => verdicts(d._1) == "exact"), verdicts)
    val kept = docs.filter(d => verdicts(d._1) == "keep")
    val keptDf = frame(kept)
    def jobs(f: => Any): JobCount = JobCount.during(spark)(f)._2
    def twice(verb: String)(f: => Any): Seq[(String, JobCount)] =
      Seq(verb -> jobs(f), s"$verb (replay)" -> jobs(f))
    val gate = Seq("judge" -> judge, "judge (warm)" -> warm) ++
      twice("shingle append")(g.shingles.append(keptDf, s"b$r")) ++
      twice("term append")(g.terms.append(keptDf, s"b$r")) ++
      twice("upsert")(g.store.upsert(embedded(keptDf)))
    g.live ++= kept
    val gone = (kept.take(1).map(_._1) ++ g.live.keys.toSeq.sorted.take(2)).distinct
    val takedown =
      twice("vector delete")(g.store.delete(gone)) ++
      twice("term delete")(g.terms.delete(gone, s"d$r")) ++
      twice("shingle delete")(g.shingles.delete(gone, s"d$r"))
    g.live --= gone
    (gate ++ takedown).toMap
  }

  test("gate and takedown verbs stay within their pinned Spark job counts") {
    val rnd = new Random(7)
    val g = gate(rnd)
    // the second round is the first with tombstones in every index
    val over = (0 until 2).flatMap { r =>
      round(rnd, g, r).toSeq.sortBy(_._1).flatMap { case (verb, n) =>
        info(s"round $r $verb: ${n.jobs} jobs — ${n.callSites.mkString(", ")}")
        if (n.jobs <= Pins(verb)) None
        else Some(s"round $r: $verb fired ${n.jobs} Spark jobs, pinned at ${Pins(verb)}: " +
          n.callSites.mkString(", "))
      }
    }
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("the gate and takedown verbs leave no persisted RDD behind") {
    val rnd = new Random(11)
    val g = gate(rnd)
    // checked as each call returns: an unreleased checkpoint is only
    // dropped later, when the context cleaner sees its frame collected
    val left = scala.collection.mutable.Buffer.empty[String]
    def released(verb: String)(f: => Any): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      f
      (spark.sparkContext.getPersistentRDDs.keySet -- before).foreach(id =>
        left += s"$verb: ${spark.sparkContext.getPersistentRDDs.get(id).map(_.toDebugString)}")
    }
    (0 until 2).foreach { r =>
      val docs = batch(rnd, g, 1000L * (r + 1))
      var verdicts = Map.empty[Long, String]
      released("judge") {
        val v = g.shingles.judge(frame(docs))
        try verdicts = v.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
        finally CheckpointInterop.unpersistCheckpoint(v)
      }
      val kept = frame(docs.filter(d => verdicts(d._1) == "keep"))
      released("shingle append")(g.shingles.append(kept, s"b$r"))
      released("term append")(g.terms.append(kept, s"b$r"))
      released("upsert")(g.store.upsert(embedded(kept)))
      val gone = docs.filter(d => verdicts(d._1) == "keep").take(1).map(_._1) ++
        g.live.keys.toSeq.sorted.take(2)
      released("vector delete")(g.store.delete(gone))
      released("term delete")(g.terms.delete(gone, s"d$r"))
      released("shingle delete")(g.shingles.delete(gone, s"d$r"))
      g.live --= gone
    }
    assert(left.isEmpty, left.mkString("\n"))
  }
}
