package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{MixingPipeline, PipelineOps}
import graft.text.TopicCluster

class MixingPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  /** The pipeline's Gumbel noise, replicated — pins the constant set
    * (prefix, 13-hex window, micro-unit floor) against drift.
    */
  private def gumbel(id: org.apache.spark.sql.Column) = {
    val u = (conv(substring(md5(concat(lit("dsir:"), id.cast("string"))), 1, 13),
      16, 10).cast("double") + 0.5) / 4503599627370496.0
    floor(-log(-log(u)) * 1000000.0).cast("long")
  }

  test("mix equals the stages composed manually, and is deterministic") {
    val docs = Tables.documents(spark, sf)
    val pred = col("doc_id") < 20
    val r = MixingPipeline.mix(spark, docs, k = 4, targetDocs = 40,
      targetPred = pred)

    // manual composition from the PUBLIC operators, with the
    // straightforward window formulation where the pipeline uses
    // bounded heaps — equality proves the heap path exact
    val clustered = TopicCluster.clusterDocs(docs, 4, 5).select("doc_id", "cluster")
    val slim = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(clustered, "doc_id")
    val per = slim.groupBy("cluster").agg(sum("n_tokens").as("t"))
    val quotas = per
      .crossJoin(broadcast(per.agg(sum(sqrt(col("t"))).as("tot"))))
      .select(col("cluster"),
        greatest(lit(1L), floor(lit(40.0) * sqrt(col("t")) / col("tot") + 1e-6)).as("q"))
    val keyed = PipelineOps.dsirWeights(docs, pred)
      .select("doc_id", "dsir_x1e6")
      .withColumn("sel", col("dsir_x1e6") + gumbel(col("doc_id")))
      .join(slim, "doc_id")
    val win = Window.partitionBy("cluster").orderBy(desc("sel"), asc("doc_id"))
    val manual = keyed.withColumn("rank", row_number().over(win).cast("long"))
      .join(broadcast(quotas), "cluster")
      .filter(col("rank") <= col("q"))
    assert(rows(r.selected, "cluster", "rank", "doc_id", "sel_key_x1e6")
      === rows(manual.select(col("cluster"), col("rank"), col("doc_id"),
        col("sel").as("sel_key_x1e6")), "cluster", "rank", "doc_id", "sel_key_x1e6"))
    assert(r.ledger.nSelected > 0 && r.ledger.nSelected <= r.ledger.quotaTotal)

    // order and packing are exactly the registered operators applied
    // to the selection
    assert(rows(r.order, "doc_id", "bucket", "pos")
      === rows(PipelineOps.shuffleOrder(r.selected.select("doc_id")),
        "doc_id", "bucket", "pos"))
    val packedDirect = PipelineOps.packSequences(
      docs.join(r.selected.select("doc_id", "cluster"), "doc_id"),
      capacity = 512, stratumCol = "cluster")
    assert(rows(r.packed, "cluster", "window_id", "n_docs", "n_tokens", "first_doc")
      === rows(packedDirect, "cluster", "window_id", "n_docs", "n_tokens", "first_doc"))

    // ledger arithmetic against the frames it describes
    assert(r.ledger.nAfterBudget === r.selected.count())
    assert(r.ledger.tokensAfterBudget ===
      r.selected.agg(sum("n_tokens")).head().getLong(0))
    assert(r.ledger.nWindows === r.packed.count())
    assert(r.ledger.nInput === docs.count())

    // determinism: a second run reproduces the mix byte-for-byte
    val r2 = MixingPipeline.mix(spark, docs, k = 4, targetDocs = 40,
      targetPred = pred)
    assert(rows(r.selected, "cluster", "rank", "doc_id")
      === rows(r2.selected, "cluster", "rank", "doc_id"))
    assert(rows(r.packed, "cluster", "window_id", "n_tokens")
      === rows(r2.packed, "cluster", "window_id", "n_tokens"))
    r.release(); r2.release()
  }

  test("mix with a supplied assignment equals the self-clustering mix") {
    val docs = Tables.documents(spark, sf)
    val pred = col("doc_id") < 20
    val self = MixingPipeline.mix(spark, docs, k = 4, targetDocs = 40,
      targetPred = pred)
    // the served-model path: hand the SAME deterministic assignment in
    // (as servedAssignments would) — every downstream stage must be
    // byte-identical, proving `clustered` is a pure cost knob
    val handed = MixingPipeline.mix(spark, docs, k = 4, targetDocs = 40,
      targetPred = pred,
      clustered = Some(TopicCluster.clusterDocs(docs, k = 4)))
    assert(rows(handed.packed, handed.packed.columns.toSeq: _*) ===
      rows(self.packed, self.packed.columns.toSeq: _*),
      "a pre-computed assignment must not change the mix")
    assert(handed.ledger === self.ledger)
    self.release(); handed.release()
  }

  test("mix composes over the curation pipeline's survivors") {
    val docs = Tables.documents(spark, sf)
    val cur = graft.pipeline.CurationPipeline.curate(spark, docs)
    try {
      val kept = cur.kept.select("doc_id", "text").localCheckpoint(true)
      try {
        val r = MixingPipeline.mix(spark, kept, k = 4, targetDocs = 30,
          targetPred = col("doc_id") < 20)
        // the clean->select->shape handoff: the mix's input universe is
        // exactly the curation survivors, and every selected doc is one
        assert(r.ledger.nInput === kept.count())
        assert(r.ledger.nSelected > 0 && r.ledger.nWindows > 0)
        assert(r.selected.join(kept, Seq("doc_id"), "left_anti").count() === 0L,
          "mix must only select curation survivors")
        r.release()
      } finally org.apache.spark.sql.graftshim.CheckpointInterop
        .unpersistCheckpoint(kept)
    } finally cur.release()
  }

  test("token budget cuts each topic in selection-key order, within its share") {
    val docs = Tables.documents(spark, sf)
    val pred = col("doc_id") < 20
    // 38 selected docs at ~56 tokens each ≈ 2100 tokens free mass: a
    // 600-token budget forces a real cut in every populated topic
    val budget = 600L
    val free = MixingPipeline.mix(spark, docs, k = 4, targetDocs = 40,
      targetPred = pred)
    val cut = MixingPipeline.mix(spark, docs, k = 4, targetDocs = 40,
      targetPred = pred, budgetTokens = Some(budget))
    assert(cut.ledger.tokensAfterBudget <= budget)
    assert(cut.ledger.nAfterBudget < free.ledger.nSelected,
      "a budget below the free token mass must drop docs")
    // survivors are a PREFIX of each topic's selection order (the cut
    // never skips a better doc to keep a worse one)
    val maxKept = cut.selected.groupBy("cluster").agg(max("rank").as("mx"))
    val kept = cut.selected.join(maxKept, "cluster")
      .filter(col("rank") > col("mx")).count()
    assert(kept === 0L)
    val pairs = free.selected.as("f")
      .join(cut.selected.as("c"), Seq("cluster", "rank", "doc_id"), "left_semi")
    assert(pairs.count() === cut.ledger.nAfterBudget,
      "budget survivors must be the same docs at the same ranks as the free mix")
    free.release(); cut.release()
  }

  test("served DSIR weights equal the direct computation and survive a freshness check") {
    val docs = Tables.documents(spark, sf)
    val pred = col("doc_id") < 20
    val direct = rows(PipelineOps.dsirWeights(docs, pred),
      "doc_id", "n_tokens", "dsir_x1e6")
    Served.invalidate()
    val served1 = PipelineOps.servedDsirWeights(spark, sf, "doclt20", pred)
    assert(rows(served1, "doc_id", "n_tokens", "dsir_x1e6") === direct,
      "the maintained artifact must be byte-identical to dsirWeights")
    // second read: the per-JVM memo path (no rebuild) serves the same
    Served.invalidate()
    val served2 = PipelineOps.servedDsirWeights(spark, sf, "doclt20", pred)
    assert(rows(served2, "doc_id", "n_tokens", "dsir_x1e6") === direct,
      "a content-fresh artifact must serve unchanged after memo invalidation")
  }

  test("a drifted corpus rebuilds the served DSIR artifact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir-drift").toString
    def write(n: Int, shift: Int = 0): Unit = (0 until n)
      .map { i => val j = i + shift
        (i.toLong, s"tok${j % 7} tok${j % 11} body$j", "en", "web") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(40)
    val pred = col("doc_id") < 10
    Served.invalidate()
    val before = rows(PipelineOps.servedDsirWeights(spark, dir, "p10", pred),
      "doc_id", "dsir_x1e6")
    write(60) // drift: more docs → different models, stale artifact
    Served.invalidate() // in-session regeneration contract
    val after = PipelineOps.servedDsirWeights(spark, dir, "p10", pred)
    assert(after.count() === 60L, "the rebuilt artifact must cover the drifted corpus")
    assert(rows(after, "doc_id", "dsir_x1e6") !==  before)
    assert(rows(after, "doc_id", "dsir_x1e6") ===
      rows(PipelineOps.dsirWeights(
        spark.read.parquet(s"$dir/documents.parquet"), pred),
        "doc_id", "dsir_x1e6"),
      "post-drift serving must equal a fresh direct computation")
    // an edit that keeps the doc count AND the token count: every doc
    // takes its successor's text, so the target slice's model moves
    write(60, shift = 1)
    Served.invalidate()
    assert(rows(PipelineOps.servedDsirWeights(spark, dir, "p10", pred),
        "doc_id", "dsir_x1e6") ===
      rows(PipelineOps.dsirWeights(
        spark.read.parquet(s"$dir/documents.parquet"), pred),
        "doc_id", "dsir_x1e6"),
      "a token-count-preserving edit must rebuild the served weights")
  }

  test("mix with supplied served weights equals the self-computing mix") {
    val docs = Tables.documents(spark, sf)
    val pred = col("doc_id") < 20
    val self = MixingPipeline.mix(spark, docs, k = 4, targetDocs = 40,
      targetPred = pred)
    Served.invalidate()
    val handed = MixingPipeline.mix(spark, docs, k = 4, targetDocs = 40,
      targetPred = pred,
      weights = Some(PipelineOps.servedDsirWeights(spark, sf, "doclt20", pred)))
    assert(rows(handed.packed, handed.packed.columns.toSeq: _*) ===
      rows(self.packed, self.packed.columns.toSeq: _*),
      "pre-computed weights must not change the mix")
    assert(handed.ledger === self.ledger)
    self.release(); handed.release()
  }
}
