package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-stream resolved judging gate over a [[ShingleIndex]] — the
  * `serveStream` treatment applied to the dedup gate (reference
  * analogue: the gate a continuously-fed ingest service keeps OPEN,
  * vs re-opening the store per request, compute_server.py:60-80's
  * per-request loop).
  *
  * Why: [[ShingleIndex.judge]] re-resolves every corpus-side input per
  * call — each of the five tables re-lists its `batch=<label>`
  * directories and re-reads one parquet footer per batch per call, a
  * fixed cost that grows with ingested-batch count (the measured
  * 2001-dir pathology that `compact()` exists for), and the df fold
  * re-aggregates the whole dfc/ table per call. A probe instead:
  *  - resolves each table's frame ONCE (Spark caches the file listing
  *    inside the frame, so every later tick re-scans data files only —
  *    no re-listing, no footer re-reads, no schema re-inference);
  *  - registers each accepted batch as batch-sized delta frames read
  *    back from the batch's own partition directories — exactly the
  *    rows [[ShingleIndex.append]] persisted, so probe state cannot
  *    drift from disk;
  *  - computes per-tick df totals only for the batch's OWN shingle
  *    keys: each leg is a map-side broadcast semi-join, then a
  *    batch-bounded sum — never a corpus-wide re-aggregation.
  *
  * Contract (on top of the index's single-writer model):
  *  - The only index mutations while a probe is live are
  *    [[ShingleIndex.append]]s, each followed by [[register]] (an
  *    unregistered append is invisible to this probe for its
  *    lifetime). `compact`/`reclaim`/`recap`/`delete` move or remove
  *    files the resolved listings still reference (scans fail loudly)
  *    or write tombstones the frozen frames never see — run
  *    maintenance between streams and resolve a fresh probe after.
  *  - Replay (at-least-once delivery of the LATEST batch only): the
  *    base resolves lazily at the FIRST [[judge]] with that call's
  *    label excluded — after a driver restart the first micro-batch is
  *    the possibly-replayed one, and its prior append (if any) is
  *    already on disk, so exclusion reproduces first-run verdicts; a
  *    label judged again after its own [[register]] is excluded from
  *    the deltas the same way. Re-[[register]] of the latest label
  *    replaces its delta (append just overwrote the directory).
  *  - Long streams: once more than `foldEvery` deltas accumulate, all
  *    but the latest fold into one localCheckpoint so per-tick plan
  *    width stays bounded (the latest stays unfolded — it must remain
  *    excludable for replay). Judging a label that already folded is
  *    refused loudly (a replay older than the latest batch violates
  *    the delivery contract). Call [[release]] after stopping the
  *    stream, or the fold's checkpoint blocks outlive it.
  */
final class ShingleProbe private[dedup](idx: ShingleIndex,
                                        bandCandidates: Boolean,
                                        foldEvery: Int) {

  /** One leg of the corpus side: the resolved base, a folded delta
    * checkpoint, or one registered batch's read-back rows.
    */
  private case class Leg(nDocs: Long, fps: DataFrame, sh: DataFrame,
                         sizes: DataFrame, bands: Option[DataFrame],
                         df: DataFrame)

  // the index's banding, resolved ONCE like every other corpus-side
  // input: a reband() mid-stream is a layout mutation — resolve a
  // fresh probe for it (the stream-restart contract)
  private val bandingResolved: Int = idx.currentBanding()

  private var base: Option[Leg] = None
  private var folded: Option[Leg] = None
  private val foldedLabels = mutable.Set.empty[String]
  private val deltas = mutable.LinkedHashMap.empty[String, Leg]

  /** Verdicts for `batch` under this batch's streaming `label` — same
    * schema and semantics as `ShingleIndex.judge(batch, threshold,
    * excludeLabel = Some(label), bandCandidates)`, served from the
    * resolved corpus side. Eagerly materialized; the returned frame's
    * checkpoint blocks are the caller's to release once consumed
    * (`CheckpointInterop.unpersistCheckpoint`), same as `judge`.
    */
  def judge(batch: DataFrame, label: String,
            threshold: Double = 0.8): DataFrame = {
    require(!foldedLabels.contains(label),
      s"label '$label' already folded into the probe — a replay this old " +
        "violates the latest-batch-only delivery contract; resolve a fresh probe")
    if (base.isEmpty) base = Some(resolveBase(label))
    val legs = base.toSeq ++ folded.toSeq ++
      deltas.collect { case (l, d) if l != label => d }
    val view = new ShingleIndex.CorpusView {
      def banding: Int = bandingResolved
      def nDocs: Long = legs.map(_.nDocs).sum
      def fps: DataFrame = legs.map(_.fps).reduce(_ union _)
      def sh: DataFrame = legs.map(_.sh).reduce(_ union _)
      def sizes: DataFrame = legs.map(_.sizes).reduce(_ union _)
      def bands: DataFrame = legs.map(_.bands.get).reduce(_ union _)
      def dfTotals(keys: DataFrame): DataFrame = {
        val k = broadcast(keys)
        legs.map(_.df.join(k, Seq("s"), "left_semi")).reduce(_ union _)
          .groupBy("s").agg(sum("df").as("df"))
      }
    }
    val (v, caches) = idx.judgeCore(view, batch, threshold, bandCandidates)
    val out = v.localCheckpoint(true)
    caches.foreach(_.unpersist())
    out
  }

  /** Register `label`'s just-appended rows as a delta: reads back the
    * batch's own partition directories (batch-sized listings), so the
    * delta is exactly what `append` persisted. Replaces an existing
    * delta for the same label (a replayed append overwrote the same
    * directory).
    */
  def register(label: String): Unit = {
    require(!foldedLabels.contains(label),
      s"label '$label' already folded into the probe — a replayed append this " +
        "old violates the latest-batch-only delivery contract")
    def part(dir: String) = graft.Tables.resolved(idx.spark, s"$dir/batch=$label")
    val n = part(idx.metaDir).agg(coalesce(sum("n_docs"), lit(0L)))
      .head().getLong(0)
    deltas(label) = Leg(n,
      part(idx.fpDir).select("fp"),
      part(idx.shDir).select("doc_id", "s"),
      part(idx.szDir).select("doc_id", "n"),
      if (bandCandidates) Some(part(idx.bandDir).select("doc_id", "band", "bv"))
      else None,
      part(idx.dfDir).select("s", "df"))
    maybeFold()
  }

  /** Free the fold's checkpoint blocks (base and delta frames hold no
    * pinned state). Call after stopping the stream the probe served.
    */
  def release(): Unit = {
    folded.foreach(unpersistLeg)
    folded = None
    foldedLabels.clear()
    deltas.clear()
    base = None
  }

  /** Re-resolve this probe against CURRENT disk state — the exit of a
    * maintenance window, so a 24/7 gate rides `judge … → (pause
    * ingest, run compact/recap/reclaim/maintain on the index) →
    * refresh() → judge …` without a stream restart. Drops every
    * resolved frame, registered delta, fold checkpoint, and the
    * folded-label ledger: maintenance folded the appended batches
    * into the index's own tables, so the re-resolved base sees them
    * there, and the old listings (which reference moved/removed
    * files) are exactly what must NOT survive. The base re-resolves
    * lazily at the NEXT [[judge]] with that tick's label excluded —
    * a refreshed probe is indistinguishable from a fresh
    * `resolveProbe()`, replay semantics included (if that next tick
    * may replay an append, the maintenance must have run with
    * `keepLabel = <that label>`, the index's own rule). Judging
    * WITHOUT a refresh after maintenance keeps the documented
    * stale-probe failure mode: frozen listings reference moved files
    * and the scan fails loudly.
    */
  def refresh(): Unit = release()

  /** The frozen base: the index as of first judge, that tick's label
    * excluded (replay protection — see class doc). Plain frames: the
    * file listing resolves here and is reused every tick; data blocks
    * are re-scanned per tick, which is the scale-honest trade (a
    * localCheckpoint of the whole corpus-side index would pin
    * corpus-scale blocks to executor storage).
    */
  private def resolveBase(firstLabel: String): Leg = {
    val excl = Some(firstLabel)
    Leg(idx.nDocs(excl),
      idx.minusDeleted(idx.readIdx(idx.fpDir, excl), excl).select("fp"),
      idx.minusDeleted(idx.readIdx(idx.shDir, excl), excl)
        .select("doc_id", "s"),
      idx.readIdx(idx.szDir, excl).select("doc_id", "n"),
      if (bandCandidates)
        Some(idx.minusDeleted(idx.readIdx(idx.bandDir, excl), excl)
          .select("doc_id", "band", "bv"))
      else None,
      idx.readIdx(idx.dfDir, excl).select("s", "df"))
  }

  /** Keep per-tick plan width bounded: fold all but the latest delta
    * (the latest must stay excludable for replay) into one
    * localCheckpoint — in-stream accepted volume, not corpus volume.
    */
  private def maybeFold(): Unit = if (deltas.size > foldEvery) {
    val (latestLabel, latest) = deltas.last
    val toFold = folded.toSeq ++
      deltas.collect { case (l, d) if l != latestLabel => d }.toSeq
    def u(f: Leg => DataFrame) =
      toFold.map(f).reduce(_ union _).localCheckpoint(true)
    val nf = Leg(toFold.map(_.nDocs).sum, u(_.fps), u(_.sh), u(_.sizes),
      if (bandCandidates) Some(toFold.map(_.bands.get).reduce(_ union _)
        .localCheckpoint(true))
      else None,
      u(_.df))
    val old = folded
    foldedLabels ++= deltas.keys.filter(_ != latestLabel)
    deltas.clear()
    deltas(latestLabel) = latest
    folded = Some(nf)
    old.foreach(unpersistLeg)
  }

  private def unpersistLeg(l: Leg): Unit = {
    val shim = org.apache.spark.sql.graftshim.CheckpointInterop
    (Seq(l.fps, l.sh, l.sizes, l.df) ++ l.bands.toSeq)
      .foreach(shim.unpersistCheckpoint)
  }
}
