package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointInterop

/** A persisted, measured tuning curve: the one table protocol behind
  * [[graft.vector.VectorStore]]'s recall, radius-recall and
  * fusion-recall curves and [[graft.dedup.ShingleIndex]]'s banding
  * curve. Each measurement writes the rows of one key (`keys`: its
  * mode and parameters) and stamps them with the provenance it was
  * measured against (`stamps`: routing, corpus size, index content),
  * each stamp named with what its moving means, for the refusal.
  *
  *  - [[write]] merges: rows outside the replaced keys survive.
  *  - [[rows]] serves no curve for a directory written in an older
  *    layout (any key or stamp column missing); the next measurement
  *    replaces that table wholesale.
  *  - Freshness: every stamp must equal its current value, except
  *    `n_rows`, which may drift by up to 20%. [[requireFresh]] refuses
  *    a stale curve; [[stale]] lists what maintenance re-measures.
  *  - [[Curve.pick]]: the cheapest probe depth meeting a recall target.
  */
final class Curve(spark: SparkSession, dir: String, family: String,
                  keys: Seq[String], stamps: Seq[(String, String)]) {
  private val stampCols = stamps.map(_._1)
  private def fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The persisted rows, or None when nothing was measured or the
    * directory predates the current layout.
    */
  def rows: Option[DataFrame] =
    if (!fs.exists(new Path(dir))) None
    else Some(Tables.resolved(spark, dir))
      .filter(t => (keys ++ stampCols).forall(t.columns.contains))

  /** Persist `fresh`, keeping the existing rows outside `replaced`.
    * The merged rows are pinned first: the overwrite deletes the files
    * the carried rows are read from. Returns the table as written.
    */
  def write(fresh: DataFrame, replaced: Column): DataFrame = {
    val all = rows.fold(fresh)(t => fresh.unionByName(t.filter(!replaced)))
      .localCheckpoint(true)
    try all.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
    finally CheckpointInterop.unpersistCheckpoint(all)
    Tables.resolved(spark, dir)
  }

  /** Delete the table (a rebuild of the measured corpus). */
  def drop(): Unit = fs.delete(new Path(dir), true)

  /** The first stamp of `r` that no longer matches `now`. A stamp
    * absent from `now` is not compared (its current value is unknown).
    */
  private def moved(r: Row, now: Map[String, Long]): Option[(String, String)] =
    stamps.find { case (s, _) => now.get(s).exists { v =>
      val was = r.getAs[Long](s)
      if (s == "n_rows") math.abs(v - was) * 5L > math.max(v, was) else v != was
    }}

  /** Refuse `curve` (rows of this table) when a stamp moved since it
    * was measured, telling the caller `remedy`; `now` is evaluated
    * only when there are rows.
    */
  def requireFresh(curve: DataFrame, now: => Map[String, Long], remedy: String): Unit = {
    val measured = curve.select(stampCols.map(col): _*).distinct().collect()
    if (measured.nonEmpty) {
      val cur = now
      measured.foreach(r => moved(r, cur).foreach { case (s, why) =>
        throw new IllegalStateException(
          s"$family curve is STALE: $why since it was measured " +
            s"($s ${r.getAs[Long](s)} -> ${cur(s)}) — $remedy")
      })
    }
  }

  /** The distinct (key, stamp) rows whose stamps no longer match `now`:
    * the measurements maintenance re-runs.
    */
  def stale(now: => Map[String, Long]): Seq[Row] = rows.fold(Seq.empty[Row]) { t =>
    val cur = now
    t.select((keys ++ stampCols).map(col): _*).distinct().collect()
      .filter(moved(_, cur).isDefined).toSeq
  }
}

object Curve {
  /** Smallest `nprobe` whose measured `recall_x1e4` meets `target`;
    * `numShards` (full probing, exact) when none does or `curve` is
    * empty.
    */
  def pick(curve: DataFrame, target: Double, numShards: Int): Int = {
    val r = curve.filter(col("recall_x1e4") >= math.ceil(target * 10000).toLong)
      .agg(min("nprobe")).head()
    if (r.isNullAt(0)) numShards else r.getLong(0).toInt
  }
}
