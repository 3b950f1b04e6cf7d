package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The per-batch parquet table discipline shared by the maintained
  * indexes ([[graft.dedup.ShingleIndex]], [[graft.text.TermIndex]]):
  * one `batch=<label>` partition directory per ingested batch, so
  *  - writes are IDEMPOTENT per label (a replayed batch overwrites its
  *    own directory instead of appending duplicate rows),
  *  - a replay can EXCLUDE its own label from reads (partition-pruned
  *    before any IO) to reproduce first-run results, and
  *  - periodic [[foldDir]] compaction bounds the file/footer count.
  *
  * Fold crash safety (the [[Compact]] tmp-swap protocol): the folded
  * copy is durable in a sibling `_<name>__compact_tmp` BEFORE the
  * live directory is touched; the one crash window (between delete
  * and rename) fails loudly — reads find no directory — and
  * [[recoverFold]] finishes the swap with one rename.
  */
private[graft] object BatchedTable {

  def writeBatch(df: DataFrame, dir: String, label: String): Unit = {
    // a crashed fold's delete-rename window leaves the live directory
    // missing and ALL its data in the tmp sibling. Writing first would
    // recreate a live dir holding only this batch — reads would score
    // a one-batch corpus instead of failing loudly, and the NEXT fold
    // (which clears stale tmps while the live dir exists) would then
    // delete the tmp holding everything. Finish the swap first.
    val fs = new Path(dir)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    recoverFold(fs, dir)
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$label")
  }

  /** Remove a table AND its fold tmp — for build()-style resets, where
    * resurrecting a crashed fold's data would defeat the reset.
    */
  def clearTable(fs: FileSystem, dir: String): Unit = {
    fs.delete(new Path(dir), true)
    fs.delete(tmpFor(dir), true)
  }

  /** Read a batched table, optionally excluding one label (the `batch`
    * column comes from partition discovery, so the exclusion prunes
    * that directory before any IO).
    */
  def readIdx(spark: SparkSession, dir: String,
              excludeLabel: Option[String]): DataFrame = {
    val df = graft.Tables.resolved(spark, dir)
    excludeLabel.fold(df)(l => df.filter(col("batch") =!= l))
  }

  /** The doc_ids a `del/` tombstone table holds outside `excludeLabel`
    * — empty when the table is absent (an index from before the delete
    * layout: the layout is additive). The (label, doc_id) rows are
    * collected once per listing of the table ([[graft.Tables.fold]]).
    */
  def tombstoneIds(spark: SparkSession, delDir: String,
                   excludeLabel: Option[String]): Seq[Long] =
    graft.Tables.fold(spark, "tombstones", delDir) {
      val p = new Path(delDir)
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        Array.empty[(String, Long)]
      else readIdx(spark, delDir, None)
        .select(col("batch").cast("string"), col("doc_id")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
    }.collect { case (l, id) if !excludeLabel.contains(l) => id }.toSeq

  /** `df` without the docs tombstoned in `delDir`. The ids ride the plan
    * as a literal set: tombstones are takedown-request-sized, never
    * corpus-sized (a corpus-scale purge is a rebuild, not a delete).
    */
  def minusDeleted(spark: SparkSession, delDir: String, df: DataFrame,
                   excludeLabel: Option[String]): DataFrame = {
    val ids = tombstoneIds(spark, delDir, excludeLabel)
    if (ids.isEmpty) df else df.filter(!col("doc_id").isin(ids: _*))
  }

  def tmpFor(dir: String): Path = {
    val p = new Path(dir)
    new Path(p.getParent, s"_${p.getName}__compact_tmp")
  }

  /** Finish a fold that crashed between delete and rename: a directory
    * whose live copy is missing but whose tmp exists recovers with one
    * rename; anything else is a no-op.
    */
  def recoverFold(fs: FileSystem, dir: String): Unit = {
    val p = new Path(dir)
    val tmp = tmpFor(dir)
    if (!fs.exists(p) && fs.exists(tmp) && !fs.rename(tmp, p))
      throw new IllegalStateException(
        s"compact recovery: rename $tmp -> $dir failed; all data is in $tmp")
  }

  private def rwTmpFor(dir: String, label: String): Path =
    new Path(new Path(dir), s"_batch=${label}__rw_tmp")

  private def rwOldFor(dir: String, label: String): Path =
    new Path(new Path(dir), s"_batch=${label}__rw_old")

  /** Finish (or discard) crashed [[rewriteBatch]] swaps. Per label,
    * with T = `_batch=<l>__rw_tmp`, O = `_batch=<l>__rw_old`,
    * L = `batch=<l>` (leading `_` keeps T and O invisible to
    * partition discovery):
    *  - L intact: T is pre-swap debris and O is post-swap debris —
    *    delete both (the live rows stand).
    *  - L missing, T present: the crash hit between the two swap
    *    renames — T holds the rewrite's full output; rename it in,
    *    then drop O.
    *  - L missing, only O present (no crash produces this; defensive):
    *    restore O — the pre-rewrite originals — rather than lose the
    *    partition.
    */
  def recoverRewrites(fs: FileSystem, dir: String): Unit = {
    val p = new Path(dir)
    if (!fs.exists(p)) return
    val labels = fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.startsWith("_batch=") &&
        (n.endsWith("__rw_tmp") || n.endsWith("__rw_old")))
      .map(_.stripPrefix("_batch=").stripSuffix("__rw_tmp")
        .stripSuffix("__rw_old")).distinct
    labels.foreach { l =>
      val (tmp, old, live) =
        (rwTmpFor(dir, l), rwOldFor(dir, l), new Path(p, s"batch=$l"))
      def drop(d: Path): Unit =
        if (fs.exists(d) && !fs.delete(d, true)) throw new IllegalStateException(
          s"rewrite recovery: could not clear $d")
      if (fs.exists(live)) { drop(tmp); drop(old) }
      else {
        val src = if (fs.exists(tmp)) tmp else old
        if (!fs.rename(src, live)) throw new IllegalStateException(
          s"rewrite recovery: rename $src -> $live failed")
        if (src eq tmp) drop(old)
      }
    }
  }

  /** Rewrite ONE batch partition in place — the per-partition sibling
    * of [[foldDir]]'s whole-table swap (reclaim-style maintenance that
    * touches only the partitions holding affected rows). `kept` may
    * read the partition being replaced: it is written DURABLY to the
    * hidden tmp sibling while the live originals still stand, then the
    * swap is two renames — live slides OUT to the hidden old sibling,
    * tmp slides IN. A concurrent reader CAN catch the partition absent
    * between the renames (two O(1) metadata ops — unlike a
    * delete-then-rename, whose missing window lasts an O(files)
    * recursive delete), so schedule reclaim-style maintenance off the
    * serving path, same as [[foldDir]] (whose window fails loudly
    * instead: the whole table directory is missing). Crash anywhere
    * re-runs safely: the mutation calls [[recoverRewrites]] first —
    * single-writer, at-least-once, same as every mutation on a
    * batched table.
    */
  def rewriteBatch(fs: FileSystem, dir: String, label: String,
                   kept: DataFrame): Unit = {
    val tmp = rwTmpFor(dir, label)
    val old = rwOldFor(dir, label)
    Seq(tmp, old).foreach(d =>
      if (fs.exists(d) && !fs.delete(d, true)) throw new IllegalStateException(
        s"rewrite: could not clear stale $d; live partition untouched"))
    kept.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val live = new Path(new Path(dir), s"batch=$label")
    if (fs.exists(live) && !fs.rename(live, old)) throw new IllegalStateException(
      s"rewrite: rename $live -> $old failed; originals intact, rewrite at $tmp")
    if (!fs.rename(tmp, live)) throw new IllegalStateException(
      s"rewrite: rename $tmp -> $live failed; re-running the mutation recovers")
    if (fs.exists(old) && !fs.delete(old, true)) throw new IllegalStateException(
      s"rewrite: could not clear $old after swap; recoverRewrites clears it")
  }

  /** One directory's fold: write `folded` as `batch=compact0` (and the
    * kept label's rows, verbatim) durably into the tmp sibling, then
    * swap. `folded` must read from the LIVE directory — it is
    * materialized (checkpoint) before the live copy is touched.
    */
  def foldDir(spark: SparkSession, fs: FileSystem, dir: String,
              folded: DataFrame, keepLabel: Option[String]): Unit = {
    val p = new Path(dir)
    val tmp = tmpFor(dir)
    // debris from a crash DURING a previous tmp write (live copy still
    // intact in that window) — clear it before rebuilding. The return
    // value matters: a failed delete would let a stale batch partition
    // (e.g. a previous fold's keepLabel) ride through the swap and
    // resurrect rows the fold's output already contains.
    if (fs.exists(tmp) && !fs.delete(tmp, true)) throw new IllegalStateException(
      s"compact: could not clear stale tmp $tmp; live directory untouched")
    val f = folded.localCheckpoint(true)
    try f.write.mode(SaveMode.Overwrite).parquet(s"$tmp/batch=compact0")
    finally org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(f)
    // the kept label rides into the new directory as its own
    // partition, byte-equivalent to its pre-compact state — both
    // writes are durable in tmp before the live directory is touched
    keepLabel.foreach { l =>
      graft.Tables.resolved(spark, dir).filter(col("batch") === l).drop("batch")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/batch=$l")
    }
    if (!fs.delete(p, true)) throw new IllegalStateException(
      s"compact: delete of $dir failed; originals intact, folded copy at $tmp")
    if (!fs.rename(tmp, p)) throw new IllegalStateException(
      s"compact: rename $tmp -> $dir failed; all data is in $tmp, " +
        "re-running compact() recovers")
  }

  private def dirTmpFor(dir: String): Path = {
    val p = new Path(dir)
    new Path(p.getParent, s"_${p.getName}__swap_tmp")
  }

  private def dirOldFor(dir: String): Path = {
    val p = new Path(dir)
    new Path(p.getParent, s"_${p.getName}__swap_old")
  }

  /** Replace a whole (small, config-sized) parquet directory with the
    * [[rewriteBatch]] crash discipline at directory granularity: the
    * fresh copy is durable in a hidden tmp sibling BEFORE the live
    * directory is touched, then the swap is two O(1) renames (live
    * slides out to a hidden old sibling, tmp slides in). A plain
    * SaveMode.Overwrite deletes-then-writes, so a crash in that window
    * leaves the directory absent or holding only `_temporary` — for a
    * config table that silently changes reader behavior. Crash
    * anywhere here is healed by [[recoverDirSwap]], which readers call
    * first. `fresh` must not read from the live directory.
    */
  def swapDir(fs: FileSystem, dir: String, fresh: DataFrame): Unit = {
    recoverDirSwap(fs, dir)
    val (tmp, old, live) = (dirTmpFor(dir), dirOldFor(dir), new Path(dir))
    Seq(tmp, old).foreach(d =>
      if (fs.exists(d) && !fs.delete(d, true)) throw new IllegalStateException(
        s"swapDir: could not clear stale $d; live directory untouched"))
    fresh.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(live) && !fs.rename(live, old)) throw new IllegalStateException(
      s"swapDir: rename $live -> $old failed; originals intact, fresh copy at $tmp")
    if (!fs.rename(tmp, live)) throw new IllegalStateException(
      s"swapDir: rename $tmp -> $live failed; recoverDirSwap finishes the swap")
    if (fs.exists(old) && !fs.delete(old, true)) throw new IllegalStateException(
      s"swapDir: could not clear $old after swap; recoverDirSwap clears it")
  }

  /** Heal a crashed [[swapDir]]: live present → tmp/old are debris
    * (pre-swap tmp writes are only complete once live was renamed out,
    * so while live stands the tmp may be partial — drop both); live
    * missing + COMPLETE tmp (its `_SUCCESS` marker exists — live may
    * be missing either because it never existed, first-ever swap, or
    * because the crash hit between the two renames) → rename the tmp
    * in; live missing + INCOMPLETE tmp → the crash hit mid-write on a
    * first-ever swap — the tmp is partial debris, never promote it
    * (drop it, and restore `old` if one exists); live missing + only
    * old present (defensive; no crash ordering produces it) → restore
    * the originals.
    */
  def recoverDirSwap(fs: FileSystem, dir: String): Unit = {
    val (tmp, old, live) = (dirTmpFor(dir), dirOldFor(dir), new Path(dir))
    def drop(d: Path): Unit =
      if (fs.exists(d) && !fs.delete(d, true)) throw new IllegalStateException(
        s"swap recovery: could not clear $d")
    if (fs.exists(live)) { drop(tmp); drop(old) }
    else {
      val tmpComplete = fs.exists(tmp) && fs.exists(new Path(tmp, "_SUCCESS"))
      if (tmpComplete) {
        if (!fs.rename(tmp, live)) throw new IllegalStateException(
          s"swap recovery: rename $tmp -> $live failed")
        drop(old)
      } else {
        drop(tmp)
        if (fs.exists(old) && !fs.rename(old, live))
          throw new IllegalStateException(
            s"swap recovery: rename $old -> $live failed")
      }
    }
  }
}
