package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.Tables.resolved

/** The maintained incremental shingle index that
  * [[Dedup.incrementalVerdicts]]'s Scaladoc promises: the corpus-side
  * tables a continuously-fed dedup gate probes, PERSISTED once and
  * appended per accepted batch, so judging a new batch never
  * re-shingles (or even touches) the corpus text again.
  *
  * Layout under `path` (plain parquet, one `batch=<label>` partition
  * directory per ingested batch — the index IS data, so the store
  * inherits Spark's scan parallelism, and the label layout makes
  * writes IDEMPOTENT: a replayed batch overwrites its own directory
  * instead of appending duplicate rows):
  *  - `fp/`     (doc_id, fp)  content fingerprints — the exact-dup side
  *  - `sh/`     (doc_id, s)   df-capped trigram shingles — the near-dup side
  *  - `sizes/`  (doc_id, n)   capped-set sizes (Jaccard denominators)
  *  - `dfc/`    (s, df)       RAW document-frequency deltas, one delta
  *                            row-set per batch; the current df of a
  *                            shingle is the SUM over batch dirs.
  *                            [[delete]] writes NEGATIVE deltas here
  *  - `meta/`   (n_docs, n_shingles)  one row per batch; corpus counts
  *                            fold from these (negative [[delete]]
  *                            deltas net out in the same sum)
  *  - `bands/`  (doc_id, band, bv)  MinHash band keys per doc — the
  *                            candidate-generation table
  *                            `judge(bandCandidates = true)` probes;
  *                            16×8 by default, retuned by [[reband]]
  *                            (banding recorded in `bandingcfg/`, the
  *                            measured curve in `bandcurve/`)
  *  - `del/`    (doc_id)      tombstones: docs [[delete]]d but not yet
  *                            physically reclaimed; row-set reads
  *                            filter them out (a literal id set),
  *                            [[compact]] applies and clears them
  * [[compact]] folds EVERY per-batch table (delta tables by summing,
  * row-set tables by rewrite — minus tombstones — and del/ to empty).
  *
  * Per-batch cost model (the point of the index): [[judge]] explodes
  * ONLY the incoming batch's text; every corpus-side input is a scan
  * of these pre-shingled tables — the per-batch work is
  * batch-shingles × (equi-join probes into the index), never a
  * corpus-side explode. At 100 TB the sh/ table is big but compact
  * (post-cap shingle rows), and the join against it is the same
  * bounded candidate generation [[Dedup.incrementalVerdictsCached]]
  * runs — with its corpus half amortized to build time.
  *
  * Capping semantics vs the one-shot operator: the one-shot pass caps
  * over old ∪ new jointly. The index caps each doc's shingles AT
  * INSERT TIME against the df table as of that moment (batch deltas
  * included), and insert-time decisions are not retroactive — a
  * shingle that later crosses the cap keeps its existing postings
  * until a rebuild. That is the standard maintained-index trade
  * (tombstone-until-compaction posture); judge-time candidate
  * generation still applies the CURRENT cap to the probe side, so a
  * newly-hot shingle stops generating new candidates immediately.
  *
  * Consistency contract: SINGLE WRITER, and at-least-once delivery of
  * the LATEST batch only (the streaming retry model — a replay can
  * only be of the most recent uncommitted batch). Under that model:
  *  - [[append]] is idempotent per label: every write overwrites the
  *    batch's own directory, and its df-cap arithmetic EXCLUDES the
  *    batch's own previously-written rows (`nDocs` minus own label),
  *    so a replayed append rewrites byte-identical state. A crash
  *    mid-append leaves the batch partially visible (a doc with
  *    postings but no size row is invisible to near-dup judging);
  *    the retry completes it. Blind SaveMode.Append would instead
  *    double df and intersection counts and silently corrupt Jaccard.
  *  - [[judge]] takes the same `excludeLabel` so a REPLAYED
  *    micro-batch can exclude its own prior writes and reproduce its
  *    first-run verdicts — without it, a replay would see its own
  *    docs in the index, judge them all duplicates, and gate them out
  *    (see `StreamingCuration`'s index-gate wiring).
  *  - [[compact]] is tmp-swap crash-safe (same protocol as
  *    [[graft.sources.Compact]]): the folded table is durable in a
  *    sibling tmp dir before the live dfc/ is touched, and the one
  *    crash window (between delete and rename) fails LOUDLY — reads
  *    find no dfc/ — and heals on the next compact() call, never
  *    silently double-counting.
  */
class ShingleIndex(private[dedup] val spark: SparkSession, path: String,
                   maxDfFraction: Double = Dedup.DefaultMaxDfFraction,
                   dfCapFloor: Long = Dedup.DefaultDfCapFloor) {
  private[dedup] val fpDir = s"$path/fp"
  private[dedup] val shDir = s"$path/sh"
  private[dedup] val szDir = s"$path/sizes"
  private[dedup] val dfDir = s"$path/dfc"
  private[dedup] val metaDir = s"$path/meta"
  private[dedup] val bandDir = s"$path/bands"
  private val delDir = s"$path/del"
  private val dirs = Seq(fpDir, shDir, szDir, dfDir, metaDir, bandDir, delDir)
  // banding config + measured curve live OUTSIDE `dirs`: they are
  // plain overwrite-parquet artifacts, not BatchedTable batch sets —
  // recap's fold/rewrite recovery must never touch them
  private[dedup] val cfgDir = s"$path/bandingcfg"
  private val bandCurve = new graft.Curve(spark, s"$path/bandcurve", "banding",
    Seq("threshold", "sample_docs"), Seq(
      "stamp_docs" -> "the index's live doc count moved",
      "stamp_shingles" -> "the index's live shingle-row count moved"))

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tombstones(excludeLabel: Option[String]): Seq[Long] =
    graft.sources.BatchedTable.tombstoneIds(spark, delDir, excludeLabel)

  private[dedup] def minusDeleted(df: DataFrame, excludeLabel: Option[String]): DataFrame =
    graft.sources.BatchedTable.minusDeleted(spark, delDir, df, excludeLabel)

  private def fpOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("fp"))

  private[dedup] def readIdx(dir: String, excludeLabel: Option[String]): DataFrame =
    graft.sources.BatchedTable.readIdx(spark, dir, excludeLabel)

  /** Current df per shingle (per-batch delta rows summed). */
  private def dfNow(excludeLabel: Option[String] = None): DataFrame =
    readIdx(dfDir, excludeLabel).groupBy("s").agg(sum("df").as("df"))

  /** The per-batch (label, n_docs, n_shingles) meta rows outside
    * `excludeLabel`, collected once per listing of meta/
    * ([[graft.Tables.fold]]) — one row per batch, so the folds below
    * never scan fp/ or sh/ row data.
    */
  private def metaRows(excludeLabel: Option[String]): Array[(String, Long, Long)] = {
    requireDir(metaDir, "meta/ table")
    graft.Tables.fold(spark, "shingle-meta", metaDir) {
      readIdx(metaDir, None)
        .select(col("batch").cast("string"), col("n_docs"), col("n_shingles")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }.filterNot(r => excludeLabel.contains(r._1))
  }

  /** Indexed-corpus doc count, folded from the per-batch meta rows
    * ([[append]] and [[judge]] call it per invocation; at thousands of
    * batches an fp count would be the dominant fixed cost).
    */
  private[graft] def nDocs(excludeLabel: Option[String] = None): Long =
    metaRows(excludeLabel).map(_._2).sum

  /** Loud, actionable failure for an index directory persisted by a
    * layout version that predates `dir` — the alternative is a bare
    * path-does-not-exist AnalysisException deep inside a judge plan
    * (or, worse for meta/, a silent wrong cap).
    */
  private[dedup] def requireDir(dir: String, what: String): Unit =
    require(fs.exists(new Path(dir)),
      s"index at $path has no $what — it predates this layout; rebuild() the index")

  // 'base' is build()'s directory; 'compact0' is the directory
  // compact() folds the ENTIRE history into — a caller writing either
  // label would silently overwrite aggregated state
  private def requireLabel(label: String): Unit =
    require(label != "base" && label != "compact0" && label.nonEmpty,
      s"reserved/empty batch label '$label'")

  // one partition: the row is one file (a bare range(1) also writes an
  // empty file for its first, rowless slice)
  private def writeMeta(label: String, nDocs: Long, nShingles: Long): Unit =
    writeBatch(spark.range(0, 1, 1, 1).select(lit(nDocs).as("n_docs"),
      lit(nShingles).as("n_shingles")), metaDir, label)

  private def writeBatch(df: DataFrame, dir: String, label: String): Unit =
    graft.sources.BatchedTable.writeBatch(df, dir, label)

  /** Build the index from the initial corpus (label `base`) — the
    * one-time pass whose amortization every later [[judge]] enjoys.
    * Rebuilding clears all previously appended batches.
    */
  def build(corpus: DataFrame): Unit = {
    // clear tmps too: a crashed fold's tmp would otherwise be
    // "recovered" into the fresh index by the first write
    dirs.foreach(d => graft.sources.BatchedTable.clearTable(fs, d))
    // a rebuild resets the banding to the default and invalidates any
    // measured curve (it described the previous corpus)
    fs.delete(new Path(cfgDir), true)
    bandCurve.drop()
    val sh = Dedup.shinglesOf(corpus).cache()
    writeBatch(sh.groupBy("s").agg(count(lit(1)).as("df")), dfDir, "base")
    val n = corpus.select("doc_id").distinct().count()
    val cap = math.max(dfCapFloor, math.ceil(n * maxDfFraction).toLong)
    val capped = sh.join(dfNow().filter(col("df") <= cap).select("s"), "s")
    writeBatch(capped, shDir, "base")
    writeBatch(resolved(spark, shDir).groupBy("doc_id").agg(count(lit(1)).as("n")),
      szDir, "base")
    writeBatch(fpOf(corpus), fpDir, "base")
    writeBatch(Dedup.bandKeys(resolved(spark, s"$shDir/batch=base")), bandDir, "base")
    // meta last: it describes a fully-written batch directory set
    writeMeta("base", n, resolved(spark, s"$shDir/batch=base").count())
    sh.unpersist()
  }

  /** Ingest an accepted batch under `label`: its fingerprints, df
    * deltas, and insert-time-capped shingles join the index;
    * subsequent batches are judged against corpus + everything
    * appended so far. Work is batch-explode + one df-table probe — no
    * corpus re-derivation. Idempotent per label (see class doc: the
    * cap arithmetic excludes the label's own prior rows, so a replay
    * rewrites identical state); labels must be unique per logical
    * batch (streaming callers pass the micro-batch id).
    */
  def append(batch: DataFrame, label: String): Unit = {
    requireLabel(label)
    // a label previously used by delete(): this append would overwrite
    // the delete's df/meta deltas while its tombstones stand — refuse
    // (an append REPLAY can never trip this: appends never write del/)
    require(!fs.exists(new Path(s"$delDir/batch=$label")),
      s"label '$label' was used by a delete — labels are unique across mutations")
    val sh = Dedup.shinglesOf(batch)
    val caches = ShingleIndex.cacheUnlessLocal(batch, sh)
    try {
      // corpus size and df EXCLUDE this label's own rows (present on a
      // replay, absent on the first run — excluding makes both equal),
      // and the batch's own df counts once: the insert-time cap,
      // identical on first run and replay
      val nIndexed = nDocs(Some(label))
      val c = ShingleIndex.capped(batch, sh, Seq(readIdx(dfDir, Some(label))),
        tombstones(None))(n => math.max(dfCapFloor, math.ceil((nIndexed + n) * maxDfFraction).toLong))
      // a tombstoned id's new copy would be silently hidden by its own
      // tombstone — refuse until a compact() reclaims the delete
      require(!c.clash,
        "append: batch contains tombstoned doc_ids — run reclaim(<delete label>) " +
          "(or a full compact()) before re-ingesting a deleted id")
      writeBatch(sh.groupBy("s").agg(count(lit(1)).as("df")), dfDir, label)
      val capped = ShingleIndex.without(sh, c.hot).select("s", "doc_id")
      writeBatch(capped, shDir, label)
      writeBatch(capped.groupBy("doc_id").agg(count(lit(1)).as("n")), szDir, label)
      writeBatch(fpOf(batch), fpDir, label)
      writeBatch(Dedup.bandKeysAt(capped, currentBanding()), bandDir, label)
      // meta last: it describes a fully-written batch directory set
      writeMeta(label, c.nBatch, c.nShingles)
    } finally caches.foreach(_.unpersist())
  }

  /** Takedown: remove `ids` from the judged corpus without a rebuild.
    * Logical delete — O(takedown's own postings), not O(corpus):
    * writes the live deleted ids as tombstones under `del/batch=label`
    * (every row-set read anti-joins them from this call on), a
    * compensating NEGATIVE df delta to dfc/ (the deleted docs' own
    * sh/ rows, re-counted — so a shared shingle's df immediately drops
    * and the insert-time/judge-time caps see the post-delete corpus),
    * and a negative meta delta — [[judge]]'s verdicts immediately
    * equal an index built without those docs. [[compact]] later
    * reclaims the bytes (rewrites the row-set tables minus tombstones,
    * clears del/).
    *
    * Idempotent per label (the mutate-in-place semantics the reference
    * keeps per key via REPLACE INTO, storage_server.py:30-40, applied
    * to the index lifecycle): the deltas derive from ids LIVE at call
    * time — present in fp/, not tombstoned under OTHER labels — and
    * physical rows persist until compact, so a replayed delete
    * recomputes byte-identical state. Tombstones write first: a crash
    * mid-delete leaves the docs already unjudgeable (the takedown
    * property) with df/meta briefly overstated until the retry heals
    * them. Returns the number of docs actually removed.
    *
    * df-reversal bound: without `texts`, the negative delta covers
    * the doc's CAPPED-IN postings (sh/ rows) — the index stores no
    * text, so shingles that were capped OUT of the doc's postings at
    * insert time cannot be re-derived, and their df contribution
    * stands until a rebuild. The error is one-sided (df never
    * under-counts, never goes negative) and only touches already-hot
    * shingles, where it makes the cap CONSERVATIVE — the same
    * non-retroactivity the class doc declares for insert-time cap
    * decisions; judge-time candidate generation is unaffected (its
    * union cap re-applies dynamically). A takedown request usually
    * CARRIES the documents: pass them as `texts` (doc_id, text) and
    * the delta derives from the full re-shingled text instead —
    * EXACT df reversal. Supplied texts are fingerprint-verified
    * against fp/ (a stale or edited copy would silently corrupt df).
    */
  def delete(ids: Seq[Long], label: String,
             texts: Option[DataFrame] = None): Long = {
    requireLabel(label)
    require(ids.nonEmpty, "empty id list")
    requireDir(fpDir, "fp/ table")
    // a label previously used by append(): this delete's deltas would
    // overwrite that batch's df/meta rows. A REPLAY of this delete is
    // fine — its first attempt wrote del/batch=<label> as its very
    // first step, so its presence distinguishes the two cases.
    require(!fs.exists(new Path(s"$metaDir/batch=$label")) ||
        fs.exists(new Path(s"$delDir/batch=$label")),
      s"label '$label' was used by an append — labels are unique across mutations")
    val live = minusDeleted(
        readIdx(fpDir, None).filter(col("doc_id").isin(ids: _*)).select("doc_id"),
        excludeLabel = Some(label))
      .localCheckpoint(true)
    try {
      writeBatch(live, delDir, label)
      val liveSh = readIdx(shDir, None)
        .join(broadcast(live), "doc_id")
        .localCheckpoint(true)
      try {
        // df delta source: full re-shingled text when supplied (exact
        // reversal), else the capped-in postings (see Scaladoc bound)
        val negSrc = texts match {
          case None => liveSh
          case Some(t) =>
            val liveTexts = t.join(broadcast(live), "doc_id")
            val mismatched = fpOf(liveTexts).withColumnRenamed("fp", "__fp_now")
              .join(readIdx(fpDir, None), "doc_id")
              .filter(col("__fp_now") =!= col("fp")).limit(1).count()
            require(mismatched == 0,
              "delete: supplied texts do not fingerprint-match the indexed copies " +
                "— a stale/edited text would corrupt the df reversal")
            Dedup.shinglesOf(liveTexts)
        }
        writeBatch(negSrc.groupBy("s").agg((-count(lit(1))).as("df")), dfDir, label)
        // both counts in one job over the two checkpoints
        val n = live.select(lit(1L).as("d"), lit(0L).as("p"))
          .union(liveSh.select(lit(0L), lit(1L)))
          .coalesce(1).agg(coalesce(sum("d"), lit(0L)), coalesce(sum("p"), lit(0L))).head()
        writeMeta(label, -n.getLong(0), -n.getLong(1))
        n.getLong(0)
      } finally org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(liveSh)
    } finally org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(live)
  }

  /** Apply ONE delete's tombstones physically — [[graft.text.TermIndex
    * .reclaim]]'s contract on the shingle side: rewrites only the
    * row-set batch partitions (fp/, sh/, sizes/, bands/) that hold the
    * label's deleted docs, then empties the label's tombstone
    * partition, unblocking [[append]] of a corrected copy without a
    * whole-index [[compact]]. The df and meta DELTAS stand untouched:
    * the delete already wrote the compensating negatives, so after
    * physical removal they describe exactly the surviving corpus —
    * judge verdicts are invariant across reclaim. The emptied
    * `del/batch=<label>` stays as a marker (the label stays burned —
    * append's uniqueness guard keys on it); reclaim FINALIZES the
    * delete, so replaying it afterwards violates the latest-mutation-
    * only replay contract (it would zero the standing deltas).
    * Idempotent; crash-safe per partition
    * ([[graft.sources.BatchedTable.rewriteBatch]]), tombstones
    * emptied LAST. Returns the number of tombstones reclaimed.
    */
  def reclaim(label: String): Long = {
    requireLabel(label)
    val rowSet = Seq(fpDir, shDir, szDir, bandDir)
    dirs.foreach(d => graft.sources.BatchedTable.recoverFold(fs, d))
    rowSet.foreach(d => graft.sources.BatchedTable.recoverRewrites(fs, d))
    val delPart = new Path(s"$delDir/batch=$label")
    require(fs.exists(delPart),
      s"reclaim: no delete recorded under label '$label'")
    // driver-collected ids (takedown-sized by contract — delete() took
    // them as a Seq): the literal isin() pushes into each row-set scan
    // for the affected-batch discovery, where a broadcast join would
    // read every row with no pushdown
    val ids = resolved(spark, delPart.toString).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val n = ids.size.toLong
    if (n > 0) rowSet.foreach { dir =>
      val affected = readIdx(dir, None)
        .filter(col("doc_id").isin(ids: _*))
        .select(col("batch").cast("string")).distinct()
        .collect().map(_.getString(0))
      affected.foreach { b =>
        graft.sources.BatchedTable.rewriteBatch(fs, dir, b,
          resolved(spark, s"$dir/batch=$b")
            .filter(!col("doc_id").isin(ids: _*)))
      }
    }
    writeBatch(spark.range(0).select(col("id").as("doc_id")), delDir, label)
    n
  }

  /** Re-apply the CURRENT df cap to the persisted postings — the
    * maintenance verb that bounds the class doc's insert-time
    * non-retroactivity drift. A shingle that went hot AFTER some docs
    * inserted it stays in their sh/ rows until now; those rows are
    * pure drag on every [[judge]]: they can never match a candidate
    * (the judge-time union cap excludes the shingle from the batch
    * side) yet they are scanned per probe AND inflate their docs'
    * sizes/ denominators — suppressing Jaccard below what a
    * from-scratch build would compute, so borderline near-dups are
    * silently MISSED. recap() rewrites only the batch partitions
    * holding now-hot rows: sh/ minus those rows, sizes/ recounted,
    * bands/ re-derived from the recapped sets, meta's n_shingles
    * corrected — judge verdicts move to the fresh-build values.
    *
    * The remaining drift is the declared one-sided kind: a shingle
    * capped OUT at insert whose df the corpus growth has since pulled
    * back under the cap cannot be resurrected (the index stores no
    * text) — recap only ever narrows sets, exactly like [[delete]]'s
    * df reversal bound. Cost: one hot-shingle fold (df rows above the
    * cap — rare by construction) + one postings-column discovery scan
    * + rewrites of affected partitions only. Tombstoned docs' hot rows
    * drop physically but are EXCLUDED from the meta correction —
    * [[delete]]'s negative delta already reversed their whole
    * contribution, so counting them again would leave health()
    * permanently undercounting. Naturally idempotent (a
    * second call finds no hot rows); crash-safe per partition
    * ([[graft.sources.BatchedTable.rewriteBatch]] — the sh/sizes/
    * bands rewrite order leaves any crash window conservative: a doc
    * whose sizes/ row still counts a dropped posting just keeps its
    * pre-recap verdict until the re-run). Returns the number of
    * postings rows dropped.
    */
  def recap(): Long = {
    requireDir(shDir, "sh/ table")
    val rowSet = Seq(shDir, szDir, bandDir, metaDir)
    dirs.foreach(d => graft.sources.BatchedTable.recoverFold(fs, d))
    rowSet.foreach(d => graft.sources.BatchedTable.recoverRewrites(fs, d))
    val cap = math.max(dfCapFloor, math.ceil(nDocs(None) * maxDfFraction).toLong)
    // the now-hot set: tiny by construction (each member spans > cap
    // docs), checkpointed so the per-partition rewrites don't re-run
    // the df fold
    val hot = dfNow().filter(col("df") > cap).select("s").localCheckpoint(true)
    try {
      // nothing drifted: skip the postings discovery scan entirely
      // (the common steady-state when maintain() probes on a schedule)
      if (hot.isEmpty) return 0L
      // one postings scan finds the affected batches, their PHYSICAL
      // drop counts, and their LIVE drop counts. The distinction
      // matters for the meta correction: a tombstoned doc's hot rows
      // drop physically too (dead weight either way), but delete()
      // already reversed that doc's entire n_shingles contribution —
      // subtracting its hot rows again would double-count, leaving
      // health() permanently undercounting after delete + recap.
      val hotRows = readIdx(shDir, None)
        .join(broadcast(hot), Seq("s"), "left_semi")
      val tombs = tombstones(None)
      val marked = hotRows.withColumn("__t",
        if (tombs.isEmpty) lit(null).cast("int") else when(col("doc_id").isin(tombs: _*), 1))
      val bandingNow = currentBanding()
      val perBatch = marked
        .groupBy(col("batch").cast("string").as("b"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("__t").isNull, 1L).otherwise(0L)).as("nLive"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      perBatch.foreach { case (b, _, liveB) =>
        val kept = resolved(spark, s"$shDir/batch=$b")
          .join(broadcast(hot), Seq("s"), "left_anti")
        graft.sources.BatchedTable.rewriteBatch(fs, shDir, b, kept)
        // recount from the REWRITTEN partition (kept's plan read the
        // pre-rewrite files, which the swap just replaced)
        val recapped = resolved(spark, s"$shDir/batch=$b")
        graft.sources.BatchedTable.rewriteBatch(fs, szDir, b,
          recapped.groupBy("doc_id").agg(count(lit(1)).as("n")))
        graft.sources.BatchedTable.rewriteBatch(fs, bandDir, b,
          Dedup.bandKeysAt(recapped, bandingNow))
        val m = resolved(spark, s"$metaDir/batch=$b")
        graft.sources.BatchedTable.rewriteBatch(fs, metaDir, b,
          m.select(col("n_docs"), (col("n_shingles") - liveB).as("n_shingles")))
      }
      perBatch.map(_._2).sum
    } finally org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(hot)
  }

  // --- tunable banding: measure, pick, reband -------------------------

  /** The banding the bands/ table currently holds (bands ×
    * 128/bands rows of the MinHash signatures). Default 16×8 — the
    * published high-threshold banding — until [[reband]] changes it.
    * A crashed config swap is healed first; a config that is still
    * absent or unreadable re-derives from the bands/ table itself
    * (band ∈ 0..b−1 → max+1) — the bands table is the ground truth
    * the config merely caches, and defaulting to 16 against a
    * rebanded table would silently stop probe keys matching.
    */
  def currentBanding(): Int = {
    graft.sources.BatchedTable.recoverDirSwap(fs, cfgDir)
    if (!fs.exists(new Path(cfgDir))) derivedBanding()
    else
      try graft.Tables.fold(spark, "banding", cfgDir)(resolved(spark, cfgDir).head().getInt(0))
      catch { case scala.util.control.NonFatal(_) => derivedBanding() }
  }

  /** The bands/ table's own banding, folded once per its listing. */
  private def derivedBanding(): Int = graft.Tables.fold(spark, "derived-banding", bandDir) {
    if (!fs.exists(new Path(bandDir))) Dedup.Bands
    else {
      // derive from the MOST RECENTLY WRITTEN batch only, not a
      // max(band) over all batches: after a downward reband (32→16)
      // whose per-batch heal is incomplete, stale old-banding batches
      // would make the global max return the OLD larger value, keying
      // probes at 32 against batches already rewritten to 16 —
      // candidates silently lost. The newest batch dir carries the
      // banding the crashed reband was converging the table TO
      // (reband rewrites batch dirs in place, so the last write is
      // always at the target banding).
      val batches = fs.listStatus(new Path(bandDir))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      if (batches.isEmpty) Dedup.Bands
      else {
        val latest = batches
          .maxBy(st => (st.getModificationTime, st.getPath.getName)).getPath
        // the batch's max band, from its footers' statistics when they
        // carry it; none for an empty newest batch (all rows tombstoned
        // out at rewrite): fall back to the previous global derivation
        graft.Tables.footerMax(spark, latest.toString, "band").getOrElse {
          val m = resolved(spark, latest.toString).agg(max(col("band"))).head()
          if (m.isNullAt(0)) None else Some(m.getInt(0))
        }.map(_ + 1).getOrElse {
          val g = readIdx(bandDir, None).agg(max(col("band"))).head()
          if (g.isNullAt(0)) Dedup.Bands else g.getInt(0) + 1
        }
      }
    }
  }

  /** (live docs, live shingle rows) from the meta fold — the
    * provenance stamps the measured banding curve carries. Append and
    * delete both move them ([[delete]] writes negative deltas);
    * [[reband]] does NOT (the curve measures candidate generation per
    * banding on the same corpus, valid across rebandings).
    */
  private def metaStamp(): Map[String, Long] = {
    val m = metaRows(None)
    Map("stamp_docs" -> m.map(_._2).sum, "stamp_shingles" -> m.map(_._3).sum)
  }

  /** MEASURED banding recall over the index's OWN universe: candidate
    * recall/precision per banding of the live stored shingles, against
    * the exact capped-shingle Jaccard ground truth [[judge]] verifies
    * with — measure the generator you serve, against the verify you
    * run (the [[Dedup.evalBandingRecall]] kernel; raw-text truth would
    * grade the index on pairs its insert-time cap removed from its
    * similarity universe by design). Offline-eval priced: one stored-
    * shingle scan feeds signatures AND truth.
    *
    * The eval's band-bucket cap ([[Dedup.evalBandingRecall]]'s
    * defaults) bounds the MEASUREMENT's own corpus×corpus pair join —
    * it is not part of judge's generator (whose quadratic is
    * batch-bounded by construction, no bucket cap), so on a corpus
    * with a mega-cluster the measured recall is CONSERVATIVE: the
    * star-degraded buckets under-count pairs the batch-bounded judge
    * would still surface.
    *
    * `sampleDocs > 0` measures on the `sampleDocs` lowest-md5(doc_id)
    * live documents (the [[Dedup.evalBandingRecall]] sampling
    * discipline), and the cap-disabled truth pass refuses loudly when
    * a stored shingle in the measured universe is hot enough to make
    * the ground-truth clique join quadratic
    * ([[Dedup.DefaultTruthDfBound]]) — at corpus scale the eval is
    * sample-priced, never corpus².
    *
    * The curve kernel is eager (the curve is |bandings| rows, collected
    * and returned as a local frame), so the measurement's working
    * tables — the sampled stored shingles, the truth pair set, and the
    * kernel's own signature/bucket tables — all release before this
    * returns.
    */
  def evalBanding(threshold: Double = 0.8,
                  bandings: Seq[Int] = Seq(8, 16, 32, 64),
                  sampleDocs: Int = 0,
                  truthDfBound: Long = Dedup.DefaultTruthDfBound): DataFrame = {
    requireDir(shDir, "sh/ table")
    val live = minusDeleted(readIdx(shDir, None), None).select("doc_id", "s")
    val sh = (if (sampleDocs <= 0) live
              else live.join(
                Dedup.mdSample(live.select("doc_id").distinct(), sampleDocs),
                Seq("doc_id"), "left_semi")).cache()
    Dedup.guardTruthDf(sh, truthDfBound)
    // eager (truth-pair-sized): the curve references it twice — see
    // Dedup.evalBandingRecall's twin comment
    val jac = col("i").cast(DoubleType) / (col("na") + col("nb") - col("i"))
    val truth = Dedup.sizedCandidatesFrom(sh, sh,
        maxDfFraction = 1.0, dfCapFloor = Long.MaxValue)
      .filter(jac >= threshold)
      .select("id_a", "id_b").localCheckpoint(true)
    val (curve, _) = Dedup.bandingCurve(sh, truth,
      sh.agg(countDistinct(col("doc_id")).as("n_docs")),
      threshold, bandings,
      maxBucketFraction = Dedup.DefaultMaxDfFraction, bandCapFloor = 100L)
    sh.unpersist()
    org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(truth)
    curve
  }

  /** Measure and PERSIST the banding curve for `threshold` with the
    * current corpus stamp — merge-don't-clobber: other thresholds'
    * rows survive with their own stamps. Returns the rows written.
    * `sampleDocs` bounds the measurement ([[evalBanding]]); the rows
    * record it (`sample_docs`, 0 = full) alongside the corpus stamp.
    */
  def measureBanding(threshold: Double = 0.8,
                     bandings: Seq[Int] = Seq(8, 16, 32, 64),
                     sampleDocs: Int = 0,
                     truthDfBound: Long = Dedup.DefaultTruthDfBound): DataFrame = {
    val stamp = metaStamp()
    val fresh = evalBanding(threshold, bandings, sampleDocs, truthDfBound)
      .withColumn("threshold", lit(threshold))
      .withColumn("stamp_docs", lit(stamp("stamp_docs")))
      .withColumn("stamp_shingles", lit(stamp("stamp_shingles")))
      .withColumn("sample_docs", lit(sampleDocs.toLong))
    bandCurve.write(fresh, col("threshold") === threshold)
      .filter(col("threshold") === threshold)
  }

  /** Re-measure every persisted banding curve whose corpus stamp no
    * longer matches the live meta fold — the curve-side maintenance
    * verb that pairs with [[bandingFor]]'s staleness refusal, the
    * [[graft.vector.VectorStore.maintainCurves]] discipline on the
    * dedup side. Each stale threshold re-measures with the bandings,
    * and sample size, its own rows recorded. Returns the number of
    * thresholds re-measured; fresh curves cost only the stamp read.
    */
  def maintainBanding(truthDfBound: Long = Dedup.DefaultTruthDfBound): Int = {
    val stale = bandCurve.stale(metaStamp())
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("sample_docs").toInt))
      .distinct
    // read before the first re-measure overwrites the table
    lazy val bandsOf = bandCurve.rows.fold(Map.empty[Double, Seq[Int]])(
      _.select("threshold", "bands").collect().toSeq
        .groupMap(_.getDouble(0))(_.getLong(1).toInt).map { case (t, b) => t -> b.sorted })
    stale.foreach { case (thr, sample) =>
      measureBanding(thr, bandsOf(thr), sample, truthDfBound)
    }
    stale.length
  }

  /** Pick a banding from the PERSISTED measured curve: the shared
    * tuner cut ([[Dedup.pickBanding]] — servable rows only, cheapest
    * meeting `target`, else highest measured recall), refusing loudly
    * when no curve was measured for `threshold` (a table written in an
    * older layout holds none) or the corpus moved since — the
    * `nprobeFor` discipline on the dedup side. Apply the pick with
    * [[reband]].
    */
  def bandingFor(threshold: Double = 0.8, target: Double = 0.95): (Int, Int) = {
    val curve = bandCurve.rows.map(_.filter(col("threshold") === threshold))
    val rows = curve.fold(Array.empty[org.apache.spark.sql.Row])(
      _.select("bands", "n_cand", "recall_x1e4", "theo_recall_x1e4").collect())
    require(rows.nonEmpty,
      s"no banding curve measured for threshold $threshold — run " +
        s"measureBanding($threshold) first")
    curve.foreach(bandCurve.requireFresh(_, metaStamp(),
      s"run measureBanding($threshold) again"))
    Dedup.pickBanding(
      rows.map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2), r.getLong(3))),
      threshold, target)
  }

  /** Rewrite the bands/ table at a new banding — every batch
    * partition's keys recomputed from its STORED shingles (no text
    * touched), then the config recorded so [[append]]/[[recap]] write
    * future batches at the same banding and [[judge]] probes with
    * matching keys. Maintenance verb, single-writer like
    * [[compact]]/[[recap]]; idempotent — a crash mid-rewrite leaves
    * some batches' keys at the old banding (those batches simply stop
    * colliding with probes, candidates lost not corrupted) and a
    * re-run heals them all. The config is written FIRST so the re-run
    * (and any interleaved append) already targets the new banding —
    * via the tmp-then-rename swap ([[graft.sources.BatchedTable.swapDir]]),
    * so a crash mid-config-write leaves either the old config or the
    * new one, never an absent/partial directory (which would make
    * [[currentBanding]] disagree with the bands/ table).
    */
  def reband(bands: Int): Long = {
    require(bands > 0 && Dedup.NumPerms % bands == 0,
      s"bands must divide ${Dedup.NumPerms}, got $bands")
    requireDir(shDir, "sh/ table")
    requireDir(bandDir, "bands/ table")
    import spark.implicits._
    graft.sources.BatchedTable.swapDir(fs, cfgDir, Seq(bands).toDF("bands"))
    val batches = fs.listStatus(new Path(shDir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch="))
    batches.foreach { b =>
      graft.sources.BatchedTable.rewriteBatch(fs, bandDir, b,
        Dedup.bandKeysAt(resolved(spark, s"$shDir/batch=$b"), bands))
    }
    batches.size.toLong
  }

  /** Verdict per batch doc — 'exact' (fingerprint already indexed),
    * 'near' (capped-shingle Jaccard >= threshold against an indexed
    * doc), else 'keep' — [[Dedup.incrementalVerdicts]]'s contract with
    * the corpus side served from the index. Pass `excludeLabel` when
    * re-judging a batch that may ALREADY be in the index (a streaming
    * replay): its own prior writes are pruned from every corpus-side
    * read, reproducing the first run's verdicts. Eagerly materialized
    * (verdicts are batch-sized); internal caches are released before
    * returning, but the returned frame's checkpoint blocks are the
    * CALLER's to release once consumed
    * (`CheckpointInterop.unpersistCheckpoint`) — a long-lived stream
    * judging thousands of batches must, or blocks accumulate.
    */
  def judge(batch: DataFrame, threshold: Double = 0.8,
            excludeLabel: Option[String] = None,
            bandCandidates: Boolean = false): DataFrame = {
    val (v, caches) = judgeFrame(batch, threshold, excludeLabel, bandCandidates)
    val out = v.localCheckpoint(true)
    caches.foreach(_.unpersist())
    out
  }

  /** The lazy plan behind [[judge]] plus its caches — exposed for the
    * spec's plan assertions (no corpus-side explode: the only Generate
    * is the batch's own shingling; corpus inputs are index scans).
    */
  private[graft] def judgeFrame(batch: DataFrame, threshold: Double,
                                excludeLabel: Option[String] = None,
                                bandCandidates: Boolean = false): (DataFrame, Seq[DataFrame]) =
    judgeCore(liveView(excludeLabel), batch, threshold, bandCandidates)

  /** The per-call corpus view: every table re-resolved from the index
    * directories (listing + footers per batch dir, per table, per
    * call). A [[ShingleProbe]] substitutes resolved-once frames here.
    */
  private def liveView(excludeLabel: Option[String]): ShingleIndex.CorpusView =
    new ShingleIndex.CorpusView {
      def banding: Int = currentBanding()
      def nDocs: Long = ShingleIndex.this.nDocs(excludeLabel)
      def fps: DataFrame =
        minusDeleted(readIdx(fpDir, excludeLabel), excludeLabel).select("fp")
      def sh: DataFrame = minusDeleted(readIdx(shDir, excludeLabel), excludeLabel)
      def sizes: DataFrame = readIdx(szDir, excludeLabel)
      def bands: DataFrame = {
        requireDir(bandDir, "bands/ table")
        minusDeleted(readIdx(bandDir, excludeLabel), excludeLabel)
      }
      def dfRows: Seq[DataFrame] = Seq(readIdx(dfDir, excludeLabel))
    }

  /** The one judging plan, over whichever [[ShingleIndex.CorpusView]]
    * serves the corpus side (the live per-call reads, or a
    * [[ShingleProbe]]'s resolved snapshot + deltas).
    *
    * Every corpus-side table is scanned once and joined map-side
    * against a batch-bounded broadcast side (see the broadcast posture
    * below), each batch subtree is planned once, and the verdicts are
    * one batch-sized aggregate. A small batch's shingles sit in one
    * partition, a larger one's are hash-partitioned by doc_id (the
    * shingling fans by it), so each doc's capped-set size is a window
    * with no exchange.
    */
  private[dedup] def judgeCore(view: ShingleIndex.CorpusView, batch: DataFrame,
                               threshold: Double,
                               bandCandidates: Boolean): (DataFrame, Seq[DataFrame]) = {
    if (bandCandidates) {
      // guard on the banding's own s-curve, not a fixed floor: a
      // rebanded index (see reband/bandingFor) legitimately serves
      // thresholds the default 16x8 cannot
      val theo = Dedup.bandingTheoreticalRecall(view.banding, threshold)
      require(theo >= 0.6,
        f"banded candidates (${view.banding} bands x " +
          f"${Dedup.NumPerms / view.banding} rows) have theoretical recall " +
          f"$theo%.2f at threshold $threshold — reband() to a wider banding " +
          "(pick one with measureBanding/bandingFor)")
    }
    val bsh = Dedup.shinglesOf(batch)
    val caches = ShingleIndex.cacheUnlessLocal(batch, bsh)
    // judge-time cap over the union: index df + this batch's own df —
    // a shingle that went hot since its insert stops producing
    // candidates NOW, even before any rebuild re-caps it
    val nIndexed = view.nDocs
    val hot = ShingleIndex.capped(batch, bsh, view.dfRows, Nil)(n =>
      math.max(dfCapFloor, math.ceil((nIndexed + n) * maxDfFraction).toLong)).hot
    val bCapped = ShingleIndex.without(bsh, hot)
      .withColumn("na", count(lit(1)).over(Window.partitionBy("doc_id")))
    // Candidate generation, two regimes:
    //  - default: probe the FULL postings table — every shared capped
    //    shingle is a candidate edge (exact candidate recall; postings
    //    volume matching the batch's shingles rides the s-join).
    //  - bandCandidates: probe the 16-rows-per-doc bands/ table first —
    //    old docs sharing >= 1 MinHash band key with the batch form the
    //    candidate set, and ONLY their postings enter the s-join. The
    //    postings scanned drop from (all postings matching batch
    //    shingles) to (candidate docs' postings): at a daily-crawl
    //    corpus/batch ratio that is the near-dup-rate fraction of the
    //    baseline. Candidate recall follows the published 16x8 banding
    //    s-curve (threshold >= 0.7 enforced); precision stays exact —
    //    every candidate is verified with the true capped-shingle
    //    Jaccard.
    // Broadcast posture: the batch's band keys (16 per doc), the
    // near-dup-bounded candidate ids, the candidate pairs (each capped
    // shingle matches at most `cap` old docs) and the batch's
    // fingerprints are batch-bounded explicit broadcasts, so those
    // corpus-side tables are SCANNED map-side, never shuffled. The
    // capped batch shingles are broadcast by the planner's own size
    // rule: a batch too large for it shuffles the postings table in
    // the default regime, the baseline the banded regime exists to
    // beat. A batch that outgrows the broadcast budget is a batch
    // that near-dups a huge corpus slice — split it.
    val oldSh =
      if (!bandCandidates) view.sh
      else {
        val batchBands = Dedup.bandKeysAt(bCapped.select("doc_id", "s"), view.banding)
          .select(col("band"), col("bv"))
        val candOld = view.bands
          .join(broadcast(batchBands), Seq("band", "bv"), "left_semi")
          .select(col("doc_id")).distinct()
        view.sh.join(broadcast(candOld), Seq("doc_id"), "left_semi")
      }
    val inter = bCapped.as("a")
      .join(oldSh.as("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.doc_id").as("id_new"), col("a.na"), col("b.doc_id").as("id_old"))
      .agg(count(lit(1)).as("i"))
    val jac = col("i").cast(DoubleType) / (col("na") + col("nb") - col("i"))
    val near = broadcast(inter)
      .join(view.sizes.select(col("doc_id").as("id_old"), col("n").as("nb")), "id_old")
      .filter(jac >= threshold)
      .select(col("id_new").as("doc_id"), lit(0L).as("__exact"), lit(1L).as("__near"))
    val exact = view.fps.join(broadcast(fpOf(batch)), "fp")
      .select(col("doc_id"), lit(1L).as("__exact"), lit(0L).as("__near"))
    val verdicts = batch.select(col("doc_id"), lit(0L).as("__exact"), lit(0L).as("__near"))
      .union(exact).union(near)
      .groupBy("doc_id").agg(max("__exact").as("__exact"), max("__near").as("__near"))
      .select(col("doc_id"),
        when(col("__exact") === 1L, "exact")
          .when(col("__near") === 1L, "near")
          .otherwise("keep").as("verdict"))
    (verdicts, caches)
  }

  /** A per-stream resolved gate over this index — see [[ShingleProbe]]
    * for the cost model and the replay/maintenance contract. Fails at
    * configuration time when the band regime is requested against a
    * pre-bands layout (inside a stream the same failure would kill a
    * RUNNING query at its first micro-batch).
    */
  def resolveProbe(bandCandidates: Boolean = false,
                   foldEvery: Int = 64): ShingleProbe = {
    require(foldEvery >= 1, s"foldEvery must be >= 1, got $foldEvery")
    requireDir(metaDir, "meta/ table")
    if (bandCandidates) requireDir(bandDir, "bands/ table")
    new ShingleProbe(this, bandCandidates, foldEvery)
  }

  /** Index health — the maintenance dashboard, metadata-cheap (same
    * contract as `TermIndex.health`): a directory listing plus the
    * meta/del folds; never a postings/fingerprint row scan. One row:
    * (n_batches, n_docs, n_shingles, n_tombstones) — n_batches is the
    * judge's fixed per-table listing/footer cost (compact restores
    * O(1) files), n_tombstones the logical deletes awaiting reclaim.
    */
  def health(): DataFrame = {
    requireDir(dfDir, "dfc/ table")
    val batches = fs.listStatus(new Path(dfDir))
      .map(_.getPath.getName).count(_.startsWith("batch="))
    val m = metaRows(None)
    val tomb = tombstones(None).size.toLong
    spark.range(1).select(
      lit(batches.toLong).as("n_batches"),
      lit(m.map(_._2).sum).as("n_docs"),
      lit(m.map(_._3).sum).as("n_shingles"),
      lit(tomb).as("n_tombstones"))
  }

  /** Fold EVERY per-batch directory into one `batch=compact0`
    * partition (plus the optional in-flight `keepLabel`, carried
    * verbatim) — run periodically, like any LSM-ish compaction. At
    * thousands of micro-batches the per-batch directory layout's
    * fixed cost is FILE COUNT: every read lists and opens one parquet
    * footer per batch per table; folding restores O(1) files per
    * table. dfc/ folds by SUMMING deltas and meta/ by summing counts
    * (both reads are sums, so arithmetic is preserved — [[delete]]'s
    * negative deltas net out here); the row-set tables (fp/, sh/,
    * sizes/, bands/) fold by rewrite MINUS the tombstones (the
    * physical reclaim of [[delete]]), and del/ folds to empty last.
    *
    * Crash safety, per directory (the [[graft.sources.Compact]]
    * tmp-swap protocol): the folded copy is durable in a sibling
    * `_<name>__compact_tmp` BEFORE the live directory is touched;
    * the one crash window (between delete and rename) fails loudly —
    * reads find no directory — and the next compact() call recovers
    * with one rename. A crash between DIRECTORIES leaves some folded
    * and some not, which is consistent (each table is independently
    * complete — only relative file counts differ).
    *
    * RETRY INTERACTION: [[append]]/[[judge]]'s `excludeLabel` replay
    * protection prunes the label's own partitions — once a label's
    * rows are folded into `batch=compact0` that pruning no longer
    * removes its contribution and a replay's verdicts can drift.
    * Under the single-writer / latest-batch-only retry contract, pass
    * the in-flight label as `keepLabel`: its partitions are carried
    * through every fold UNFOLDED, so exclusion keeps working until
    * the batch is known committed. Folding with no label in flight
    * needs no argument.
    */
  def compact(keepLabel: Option[String] = None): Unit = {
    // finish any crashed fold first (the delete-then-rename window):
    // dfc/ absent entirely (no tmp either) means the index was never
    // built.
    dirs.foreach(d => graft.sources.BatchedTable.recoverFold(fs, d))
    require(fs.exists(new Path(dfDir)),
      s"compact: $dfDir does not exist — index not built?")
    val emptyDel = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))
    val folds: Seq[(String, () => DataFrame)] = Seq(
      // df=0 rows (a shingle whose every holder was deleted) are dead
      // weight in every later sum — drop them at the fold
      dfDir   -> (() => dfNow(keepLabel).filter(col("df") =!= 0L)),
      // row-set folds apply the tombstones physically (the reclaim
      // half of [[delete]]); the tombstone table itself folds to
      // empty LAST, so a crash at any directory boundary leaves
      // tombstones that at worst anti-join already-absent rows
      fpDir   -> (() => minusDeleted(readIdx(fpDir, keepLabel), keepLabel)
        .select("doc_id", "fp")),
      shDir   -> (() => minusDeleted(readIdx(shDir, keepLabel), keepLabel)
        .select("s", "doc_id")),
      szDir   -> (() => minusDeleted(readIdx(szDir, keepLabel), keepLabel)
        .select("doc_id", "n")),
      bandDir -> (() => minusDeleted(readIdx(bandDir, keepLabel), keepLabel)
        .select("doc_id", "band", "bv")),
      metaDir -> (() => readIdx(metaDir, keepLabel)
        .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
          coalesce(sum("n_shingles"), lit(0L)).as("n_shingles"))),
      delDir  -> (() => emptyDel))
    // a legacy index may lack the newer tables (meta/, bands/, del/) —
    // skip, don't invent them (the guards in nDocs/judge prescribe a
    // rebuild; del/ appears on first delete)
    folds.foreach { case (d, mk) =>
      if (fs.exists(new Path(d)))
        graft.sources.BatchedTable.foldDir(spark, fs, d, mk(), keepLabel)
    }
  }

  /** The scheduled maintenance verb — run on a timer, like
    * [[graft.vector.VectorStore.maintain]]: [[recap]]s when more than
    * `maxHotShingles` shingles have drifted past the current df cap
    * AND at least one still has live postings rows (raw df never
    * falls back under the cap, so without the carrier probe every
    * tick after any drift would re-run a full recap pass forever;
    * the probe is a limit-1 semi-join that short-circuits on the
    * first carrier), then [[compact]]s once the per-batch layout's
    * fixed cost has accumulated past `maxBatches` directories. Recap
    * runs FIRST so the fold rewrites the already-recapped rows once.
    * `keepLabel` protects the in-flight batch, same contract as
    * [[compact]]. The report's `hotShingles` counts drift (a
    * dashboard signal), not carriers.
    */
  def maintain(maxBatches: Int = 256, maxHotShingles: Long = 0L,
               keepLabel: Option[String] = None): ShingleIndex.Maintenance = {
    requireDir(dfDir, "dfc/ table")
    val cap = math.max(dfCapFloor, math.ceil(nDocs(None) * maxDfFraction).toLong)
    val hotF = dfNow().filter(col("df") > cap).select("s").localCheckpoint(true)
    val (hot, dropped) = try {
      val n = hotF.count()
      // raw df never falls back under the cap, so the hot count alone
      // would re-trigger recap on EVERY tick after any shingle drifts;
      // probe for an actual stale CARRIER first (limit-1 semi-join —
      // short-circuits as soon as one postings row matches, one
      // s-column scan at worst) so steady-state maintain() stays a
      // probe, not a full recap pass
      val d = if (n > maxHotShingles && n > 0 &&
          readIdx(shDir, None).join(broadcast(hotF), Seq("s"), "left_semi")
            .limit(1).count() > 0) recap()
        else 0L
      (n, d)
    } finally org.apache.spark.sql.graftshim.CheckpointInterop
      .unpersistCheckpoint(hotF)
    val batches = fs.listStatus(new Path(metaDir))
      .map(_.getPath.getName).count(_.startsWith("batch="))
    val fold = batches > maxBatches
    if (fold) compact(keepLabel)
    ShingleIndex.Maintenance(hot, dropped, fold)
  }
}

object ShingleIndex {
  /** [[ShingleIndex.maintain]]'s report: how many shingles sit above
    * the current cap, how many stale postings rows the recap dropped,
    * and whether the batch layout folded.
    */
  final case class Maintenance(hotShingles: Long, recappedRows: Long,
                               compacted: Boolean)

  /** The corpus-side inputs [[ShingleIndex]]'s judging plan consumes —
    * how they are resolved is the live-vs-probe split: the live view
    * re-reads the index per call, a [[ShingleProbe]] serves frames
    * resolved once per stream. `fps`/`sh`/`bands` are LIVE rows
    * (tombstones excluded); `sizes` may carry deleted docs' rows —
    * they are inert, reachable only through a live `sh` candidate.
    * `dfRows` are the raw (s, df) delta tables whose sum per shingle is
    * its current df ([[capped]] sums them).
    */
  private[dedup] trait CorpusView {
    def banding: Int                         // bands/ table's banding
    def nDocs: Long
    def fps: DataFrame                       // (fp)
    def sh: DataFrame                        // (doc_id, s)
    def sizes: DataFrame                     // (doc_id, n)
    def bands: DataFrame                     // (doc_id, band, bv) — band regime only
    def dfRows: Seq[DataFrame]               // (s, df) deltas
  }

  /** What [[capped]] reads off a batch: its distinct doc count, whether
    * any of its ids is tombstoned, its shingles over the df cap, and the
    * number of its (doc_id, s) rows at or under the cap.
    */
  private[dedup] final case class Capped(nBatch: Long, clash: Boolean,
                                         hot: Seq[String], nShingles: Long)

  /** The batch scalars and the df rule of [[ShingleIndex.append]]'s
    * insert-time cap and [[ShingleIndex.judge]]'s judge-time cap, in one
    * aggregate over the batch's ids and its (doc_id, s) shingles `sh`.
    * A shingle's df is the sum of the index's `dfRows` delta rows — each
    * semi-joined to the batch's keys map-side, so the shuffle is
    * batch-sized whatever the corpus size — plus the batch's own count.
    * The cap is `capOf(distinct batch docs)`; `capOf` never falls as its
    * argument grows, so only shingles over `capOf(0)` can be over it,
    * and only those leave the aggregate. They are few by construction
    * (each is in more than maxDfFraction of the documents, so they
    * number fewer than the mean shingles per document over
    * maxDfFraction), so they leave as a driver-side set: [[without]]
    * filters them out map-side, keeping the batch's partitioning.
    */
  private[dedup] def capped(batch: DataFrame, sh: DataFrame, dfRows: Seq[DataFrame],
                            tombs: Seq[Long])(capOf: Long => Long): Capped = {
    val keys = broadcast(sh.select("s"))
    val noId = lit(null).cast(LongType)
    val index = dfRows.map(_.join(keys, Seq("s"), "left_semi")
      .select(col("s"), noId.as("doc_id"), col("df"), lit(0L).as("own")))
    val ids = batch.select(lit(null).cast(StringType).as("s"),
      col("doc_id").cast(LongType).as("doc_id"), lit(0L).as("df"), lit(0L).as("own"))
    val own = sh.select(col("s"), noId.as("doc_id"), lit(1L).as("df"), lit(1L).as("own"))
    val clash = if (tombs.isEmpty) lit(false) else max(col("doc_id").isin(tombs: _*))
    val r = (ids +: own +: index).reduce(_ union _)
      .groupBy("s", "doc_id").agg(sum("df").as("df"), sum("own").as("own"))
      .coalesce(1)
      .agg(count(col("doc_id")), coalesce(clash, lit(false)),
        collect_list(when(col("df") > capOf(0L), struct(col("s"), col("df"), col("own")))),
        coalesce(sum("own"), lit(0L)))
      .head()
    val cap = capOf(r.getLong(0))
    val hot = r.getSeq[org.apache.spark.sql.Row](2).filter(_.getLong(1) > cap)
    Capped(r.getLong(0), r.getBoolean(1), hot.map(_.getString(0)),
      r.getLong(3) - hot.map(_.getLong(2)).sum)
  }

  /** Caches a batch's shingles `sh` for its several uses, unless the
    * batch is held in driver memory (a local relation): shingling it
    * again at each use is map-only work with no Spark job, while a
    * cache costs a job per plan that first scans it. Returns what was
    * cached, for the caller to release.
    */
  private[dedup] def cacheUnlessLocal(batch: DataFrame, sh: DataFrame): Seq[DataFrame] =
    if (batch.isLocal) Nil else Seq(sh.cache())

  /** `sh` without the shingles `hot`. */
  private[dedup] def without(sh: DataFrame, hot: Seq[String]): DataFrame =
    if (hot.isEmpty) sh else sh.filter(!col("s").isin(hot: _*))
}
