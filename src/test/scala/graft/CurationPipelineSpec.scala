package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.CurationPipeline

class CurationPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  test("curate drops near-dups and short docs, index serves search") {
    val docs = Tables.documents(spark, sf)
    val nPairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).count()

    val dir = Files.createTempDirectory("graft-curate").toString
    val (r, vs) = CurationPipeline.curateAndIndex(spark, docs, dir)

    // every near-dup pair loses exactly its higher-id member (the
    // pair graph here is small cliques; dropped <= pair count)
    assert(r.droppedNearDup > 0 && r.droppedNearDup <= nPairs)
    assert(r.kept.count() === docs.count() - r.droppedTotal)

    // no surviving near-dup pairs above threshold
    val remaining = graft.dedup.Dedup.minhashPairs(r.kept)
      .filter(col("jaccard") >= 0.8).count()
    assert(remaining === 0)

    // the index serves top-k over the curated corpus
    val someId = r.kept.select(min("doc_id")).head().getLong(0)
    val v = vs.get(someId).select("vector").head().getSeq[Double](0).toArray
    assert(vs.search(v, topK = 1, nprobe = 4).head().getLong(0) === someId)
  }

  test("containment gate drops the contained doc, not the container") {
    import spark.implicits._
    val w = (1 to 120).map(i => s"tok$i")
    // doc 11 is the first 40 words of doc 12: Jaccard ~0.33 slips the
    // minhash gate, containment = 1.0 hits the containment gate; docs
    // 13-15 are unrelated filler above the word gate
    val docs = Seq(
      (11L, w.take(40).mkString(" ")),
      (12L, w.mkString(" ")),
      (13L, (1 to 60).map(i => s"alt$i").mkString(" ")),
      (14L, (1 to 60).map(i => s"beta$i").mkString(" ")),
      (15L, (1 to 60).map(i => s"gam$i").mkString(" "))
    ).toDF("doc_id", "text")
    val without = CurationPipeline.curate(spark, docs)
    assert(without.droppedContained === 0L)
    assert(without.kept.collect().map(_.getLong(0)).toSet.contains(11L),
      "without the gate the contained doc survives")
    without.release()
    val r = CurationPipeline.curate(spark, docs, containmentThreshold = Some(0.9))
    val keptIds = r.kept.collect().map(_.getLong(0)).toSet
    assert(r.droppedContained === 1L)
    assert(!keptIds.contains(11L), "contained doc dropped")
    assert(keptIds.contains(12L), "container kept")
    assert(r.kept.count() === docs.count() - r.droppedTotal)
    r.release()
  }

  test("LM gate drops low-scoring docs and reconciles the ledger") {
    val docs = Tables.documents(spark, sf)
    // median corpus score as a threshold: roughly half the gate-passing
    // docs must fall, and the ledger must still balance to kept.count()
    val med = graft.text.TextAnalysis.lmScores(docs)
      .selectExpr("percentile(avg_logp_x1e6, 0.5)").head().getDouble(0).toLong
    val r = CurationPipeline.curate(spark, docs, minLmScoreX1e6 = Some(med))
    val r0 = CurationPipeline.curate(spark, docs)
    assert(r.droppedLowLm > 0, "a median threshold must drop someone")
    assert(r.kept.count() === docs.count() - r.droppedTotal)
    // gate only ever shrinks the kept set, and survivors all score >= med
    assert(r.kept.count() < r0.kept.count())
    val kept = r.kept.select("doc_id")
    val below = graft.text.TextAnalysis.lmScores(docs)
      .filter(col("avg_logp_x1e6") < med)
      .join(kept, "doc_id")
    assert(below.count() === 0, "no kept doc may score below the threshold")
  }

  test("curate accounting is one aggregate action, not per-stage counts") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    // count ACCOUNTING-class actions only (head/count/collect — the
    // per-stage-counts antipattern this spec guards against).
    // Deliberate intra-operator materializations are not accounting:
    // minhashPairs eagerly localCheckpoints its signature table so the
    // band/verify consumers can't race the expensive pass (r15), and
    // Spark 4 additionally reports planning-only "rdd" events.
    val accounting = Set("head", "count", "collect", "collectAsList",
      "collectToPython", "take", "first", "show", "toPandas")
    // the listener bus is asynchronous and delivers in order: once a
    // sentinel action's own event arrives, no earlier case's action
    // can still reach this listener and be counted
    val sentinel = spark.range(1).toDF()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq sentinel.queryExecution) drained.countDown()
        else if (accounting.contains(funcName)) actions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        if (accounting.contains(funcName)) actions.incrementAndGet()
    }
    spark.listenerManager.register(l)
    try {
      sentinel.collect()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel action's event never arrived")
      actions.set(0)
      val docs = Tables.documents(spark, sf)
      val bench = docs.filter(col("doc_id") === 7).select("doc_id", "text")
      CurationPipeline.curate(spark, docs, benchmark = Some(bench))
      // drain the async listener bus, then confirm exactly one action
      val deadline = System.currentTimeMillis() + 5000
      while (actions.get() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(actions.get() === 1,
        s"curate ran ${actions.get()} driver actions; accounting must fold into one")
    } finally spark.listenerManager.unregister(l)
  }

  test("keepBest mode keeps the max-quality cluster member, ledger reconciles") {
    import spark.implicits._
    // one planted near-dup cluster of 3 (pairwise Jaccard ~0.9): same
    // 60 words except word 1 — doc 22 swaps in the stopword "the", so
    // its stop_ratio (hence quality_bp) is strictly highest while the
    // default policy would keep lowest-id 20
    val base = (1 to 60).map(i => s"tok$i")
    val docs = Seq(
      (20L, ("zzz" +: base.tail).mkString(" ")),
      (21L, base.mkString(" ")),
      (22L, ("the" +: base.tail).mkString(" "))
    ).toDF("doc_id", "text")
    val byId = CurationPipeline.curate(spark, docs, clusterNearDups = true)
    assert(byId.kept.collect().map(_.getLong(0)).toSet === Set(20L))
    byId.release()
    val byQ = CurationPipeline.curate(spark, docs, keepBest = true)
    assert(byQ.kept.collect().map(_.getLong(0)).toSet === Set(22L),
      "the highest-quality member survives, not the lowest id")
    assert(byQ.droppedNearDup === 2L)
    assert(byQ.kept.count() === docs.count() - byQ.droppedTotal)
    byQ.release()
  }

  test("cluster mode drops at least as much as pairwise and reconciles counts") {
    val docs = Tables.documents(spark, sf)
    val pairwise = CurationPipeline.curate(spark, docs)
    val clustered = CurationPipeline.curate(spark, docs, clusterNearDups = true)
    assert(clustered.droppedNearDup >= pairwise.droppedNearDup)
    assert(clustered.kept.count() === docs.count() - clustered.droppedTotal)
    // no surviving near-dup pairs either way
    assert(graft.dedup.Dedup.minhashPairs(clustered.kept)
      .filter(col("jaccard") >= 0.8).count() === 0)
  }

  test("curate with a benchmark drops contaminated docs and counts them") {
    val docs = Tables.documents(spark, sf)
    // use one corpus document as the pseudo-benchmark: itself (and any
    // near-verbatim copy) must be dropped from the kept set
    val bench = docs.filter(col("doc_id") === 7).select("doc_id", "text")
    val r = CurationPipeline.curate(spark, docs, benchmark = Some(bench))
    assert(r.droppedContaminated >= 1)
    val keptIds = r.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!keptIds.contains(7L))
    // counts reconcile across all stages (incl. exact dedup)
    assert(r.kept.count() === docs.count() - r.droppedTotal)
  }
}
