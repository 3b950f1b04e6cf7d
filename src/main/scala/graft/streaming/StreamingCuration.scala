package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.CurationPipeline
import graft.sources.BatchedTable

/** Streaming curation end-to-end: the ingest half of
  * [[CurationPipeline]] running continuously over a document stream,
  * plus the batch pass that closes the pipeline.
  *
  * Stage split, by state semantics:
  *  - WATERMARK-SAFE (runs in-stream): exact dedup via
  *    [[StreamingDedup]] (`dropDuplicatesWithinWatermark` — one state
  *    entry per distinct fingerprint inside the horizon, evicted as
  *    event time advances), then per-micro-batch
  *    [[CurationPipeline.curate]] — quality gate, batch-local exact
  *    dedup, batch-local MinHash near-dup removal. Everything the
  *    batch pipeline does that needs only THIS batch's rows.
  *  - BATCH-ONLY (runs in [[finish]]): cross-batch MinHash near-dup
  *    removal and the optional LM/decontamination gates. MinHash
  *    banding joins bucket keys across the WHOLE corpus — a pair
  *    split across micro-batches never collides in-stream, and a
  *    bounded-state streaming formulation would need the full
  *    signature index resident; corpus-statistic gates (LM
  *    perplexity) are meaningless on a micro-batch sample. So the
  *    stream pass cuts obviously-duplicated/low-quality volume BEFORE
  *    it is stored (the expensive part at ingest rates), and one
  *    batch pass over the surviving, much smaller corpus finishes the
  *    job — the same split the batch pipeline's Scaladoc prescribes
  *    for its own exact-before-banded ordering.
  *
  * Delivery contract: [[ServeStream]]'s. Each micro-batch's survivors
  * overwrite their own `<outDir>/batch=b<batchId>` partition (the
  * label the index appends use), so a replayed batch is written once.
  */
object StreamingCuration {

  /** Start curating `docs` (streaming frame with `tsCol` event time,
    * `doc_id`, `text`) into parquet at `outDir`. Caller stops the
    * returned query, then runs [[finish]].
    *
    * With `corpus = Some(existing)`, every micro-batch is first judged
    * against that STATIC corpus via [[graft.dedup.Dedup]]'s
    * incremental verdicts (exact fingerprint + capped-shingle Jaccard)
    * and only 'keep' docs continue — the live half of the
    * daily-increment shape `dedup_incremental` runs in batch. The
    * gate is stream-static and stateless (no state store growth); it
    * re-derives the corpus-side shingles per batch — fine at test
    * scale, but a per-batch corpus scan at real ingest rates.
    *
    * With `corpusIndex = Some(idx)` (a pre-built
    * [[graft.dedup.ShingleIndex]]) the gate probes the MAINTAINED
    * index instead: per-batch work explodes only the batch's text
    * (corpus-side inputs are scans of the persisted fingerprint /
    * capped-shingle tables), and each batch's post-curation survivors
    * are APPENDED to the index — so unlike the static gate, later
    * batches are also judged against everything accepted before them.
    * This is the 100 TB formulation. Mutually exclusive with
    * `corpus`. Batch doc_ids must be disjoint from indexed doc_ids.
    * `indexBandCandidates` switches the index gate to MinHash-band
    * candidate generation (`ShingleIndex.judge(bandCandidates =
    * true)`): per-batch candidate work probes the 16-rows-per-doc
    * bands table instead of the full postings join — the cheaper gate
    * at high corpus/batch ratios, at banding-s-curve candidate recall
    * (threshold ≥ 0.7 enforced by judge; verification stays exact).
    * `indexResolvedProbe` swaps the per-batch `judge` calls for a
    * [[graft.dedup.ShingleProbe]] resolved once at start: identical
    * verdicts, but the index's file listings resolve once per STREAM
    * instead of once per micro-batch — the per-tick fixed cost stops
    * growing with ingested-batch count. Its contract applies for the
    * stream's lifetime: no compact/reclaim/recap/delete on the index
    * while the stream runs (run maintenance between streams), and
    * long streams should stop/release/restart if the index must be
    * maintained. The probe's fold checkpoints die with the JVM;
    * restarting the stream resolves a fresh probe.
    *
    * With `termIndex = Some(idx)` (a built [[graft.text.TermIndex]])
    * every accepted batch's survivors are ALSO appended to the served
    * text-search index under the same `b<batchId>` label — the ingest
    * half that keeps BM25 serving as fresh as the curated corpus.
    * Same idempotent-replay contract as the shingle-index gate: a
    * retried micro-batch overwrites its own batch directories, so
    * index state converges to exactly-once. Deleted (taken-down) ids
    * must not re-enter the stream before a `compact()` (the index
    * refuses them loudly — see `TermIndex.append`).
    */
  def start(docs: DataFrame, outDir: String, checkpoint: String,
            minWords: Int = 10, jaccardThreshold: Double = 0.8,
            tsCol: String = "ts", watermark: String = "10 minutes",
            corpus: Option[DataFrame] = None,
            corpusIndex: Option[graft.dedup.ShingleIndex] = None,
            indexBandCandidates: Boolean = false,
            indexResolvedProbe: Boolean = false,
            termIndex: Option[graft.text.TermIndex] = None): StreamingQuery = {
    require(corpus.isEmpty || corpusIndex.isEmpty,
      "pass corpus OR corpusIndex, not both: the index gate would silently " +
        "ignore the static corpus (build the index FROM that corpus instead)")
    // fail at configuration time, not inside the first micro-batch —
    // judge() enforces the same bound, but from foreachBatch it would
    // kill a RUNNING stream instead of the start() call
    require(!indexBandCandidates || corpusIndex.nonEmpty,
      "indexBandCandidates is an index-gate mode: pass corpusIndex with it")
    require(!indexBandCandidates || jaccardThreshold >= 0.7,
      s"indexBandCandidates needs jaccardThreshold >= 0.7 (16x8 banding loses " +
        s"candidate recall below); got $jaccardThreshold")
    require(!indexResolvedProbe || corpusIndex.nonEmpty,
      "indexResolvedProbe is an index-gate mode: pass corpusIndex with it")
    // resolved at start() so a pre-bands layout fails HERE, not inside
    // the first micro-batch of a running stream
    val probe =
      if (indexResolvedProbe) corpusIndex.map(_.resolveProbe(indexBandCandidates))
      else None
    StreamingDedup.dedup(docs, tsCol, "text", watermark)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // curate() is the SAME operator the batch pipeline runs; here
        // its corpus is one micro-batch, so its exact/near-dup passes
        // are batch-local by construction. Drop accounting per batch
        // is available from the Result if a caller wants to meter it;
        // the survivors are written and the final accounting comes from
        // finish() over the accumulated corpus.
        // watermark-advance ticks deliver empty batches; curating them
        // would run the full pipeline plan to write nothing
        if (!batch.isEmpty) {
          import org.apache.spark.sql.functions.col
          val b0 = batch.drop(tsCol)
          // one curate() per micro-batch pins one cached frame (plus
          // the gate's shingle caches / the index gate's checkpointed
          // verdicts): release them or dead blocks accumulate for the
          // stream's lifetime. The gate release wraps EVERYTHING
          // downstream of registration — a curate() analysis error
          // must not strand them
          var gateCaches: Seq[DataFrame] = Nil
          var gateCheckpoint: Option[DataFrame] = None
          try {
            val incoming = (corpusIndex, corpus) match {
              case (Some(idx), _) =>
                // verdicts reflect corpus + all prior appended batches.
                // excludeLabel = this batch's own label: a REPLAYED
                // batch (crash after append, before checkpoint commit)
                // would otherwise find its own docs in the index, judge
                // them all duplicates, and overwrite its batch dir with
                // empty — erasing it. Excluding self reproduces the
                // first run's verdicts exactly.
                val v = probe match {
                  case Some(p) => p.judge(b0, s"b$batchId", jaccardThreshold)
                  case None => idx.judge(b0, jaccardThreshold,
                    excludeLabel = Some(s"b$batchId"),
                    bandCandidates = indexBandCandidates)
                }
                gateCheckpoint = Some(v)
                b0.join(v.filter(col("verdict") === "keep").select("doc_id"),
                  Seq("doc_id"), "left_semi")
              case (None, Some(c)) =>
                val (v, caches) = graft.dedup.Dedup.batchVerdictsCached(c, b0, jaccardThreshold)
                gateCaches = caches
                b0.join(v.filter(col("verdict") === "keep").select("doc_id"),
                  Seq("doc_id"), "left_semi")
              case _ => b0
            }
            val r = CurationPipeline.curate(batch.sparkSession, incoming,
              minWords, jaccardThreshold)
            try {
              // index maintenance AFTER the sink write; a retried batch
              // re-runs both, and both overwrite their own batch=b<id>
              // directory, so sink and index converge to exactly-once
              BatchedTable.writeBatch(r.kept, outDir, s"b$batchId")
              corpusIndex.foreach(_.append(r.kept.select("doc_id", "text"), s"b$batchId"))
              // the probe must see the append (an unregistered batch
              // stays invisible to it for the stream's lifetime)
              probe.foreach(_.register(s"b$batchId"))
              termIndex.foreach(_.append(r.kept.select("doc_id", "text"), s"b$batchId"))
            } finally r.release()
          } finally {
            gateCaches.foreach(_.unpersist())
            gateCheckpoint.foreach(
              org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint)
          }
        }
      }
      .start()
  }

  /** The closing batch pass over everything the stream accepted:
    * cross-batch exact dedup (beyond-watermark duplicates),
    * corpus-wide MinHash near-dup removal, and any corpus-statistic
    * gates — the full [[CurationPipeline.curate]] with its
    * single-aggregation drop accounting.
    */
  def finish(spark: SparkSession, outDir: String,
             minWords: Int = 10, jaccardThreshold: Double = 0.8,
             benchmarkShingles: Option[DataFrame] = None,
             clusterNearDups: Boolean = false,
             minLmScoreX1e6: Option[Long] = None): CurationPipeline.Result = {
    // a stream that accepted nothing never created outDir (empty
    // batches are skipped at the sink): close with zero survivors
    // instead of a path-not-found failure
    val p = new org.apache.hadoop.fs.Path(outDir)
    val accepted =
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        graft.Tables.resolved(spark, outDir).select("doc_id", "text")
      else {
        import org.apache.spark.sql.types._
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      }
    CurationPipeline.curate(spark, accepted,
      minWords, jaccardThreshold,
      benchmarkShingles = benchmarkShingles,
      clusterNearDups = clusterNearDups,
      minLmScoreX1e6 = minLmScoreX1e6)
  }
}
