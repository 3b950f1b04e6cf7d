package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction for parquet directories — the housekeeping
  * job any long-lived ingest needs: micro-batch appends
  * ([[graft.vector.VectorStore.streamStore]]) leave a long tail of
  * KB-scale files, one per batch per shard, whose per-file
  * open/footer/stat cost eventually dominates scans. Compaction
  * rewrites a directory into ~`targetBytes` files with a shuffle-free
  * `coalesce` (file count is a SIZE concern, not a semantic one — no
  * keys, no sort unless asked).
  *
  * Consistency contract: SINGLE WRITER, not crash-atomic. The swap is
  * write-to-sibling-`_<name>__compact_tmp` -> delete `<dir>` -> rename
  * tmp into place; a crash between the last two steps leaves the full
  * data in the tmp directory and recovery is one `fs.rename`. The live
  * directory is never deleted before its replacement is durable, and
  * the tmp name's underscore prefix keeps partition discovery and
  * whole-dataset scans from ever picking a crashed leftover up as
  * data. Compact cold partitions.
  */
object Compact {

  private def isData(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** Compact one leaf parquet directory (no partition subdirs).
    * `sortCols` re-sorts rows within each output file — pass the id
    * column when compacting a [[graft.vector.VectorStore]] shard so
    * row-group pruning keeps working. Returns (filesBefore,
    * filesAfter); a directory already at or under the target file
    * count is left untouched.
    */
  def compactDir(spark: SparkSession, dir: String, targetBytes: Long = 128L << 20,
                 sortCols: Seq[String] = Nil): (Int, Int) = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(path).filter(f => f.isFile && isData(f.getPath))
    val bytes = files.map(_.getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (files.length <= n) return (files.length, files.length)
    val compacted0 = graft.Tables.resolved(spark, dir).coalesce(n)
    val compacted =
      if (sortCols.isEmpty) compacted0
      else compacted0.sortWithinPartitions(sortCols.map(col): _*)
    // the tmp dir must be a SIBLING derived from the normalized Path —
    // naive string concat on a trailing-slash `dir` would nest it
    // INSIDE the data directory, and the delete below would destroy
    // the freshly-written copy along with the original
    val tmp = new Path(path.getParent, "_" + path.getName + "__compact_tmp")
    compacted.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (!fs.delete(path, true))
      throw new java.io.IOException(
        s"compact: delete of $path failed; originals intact, compacted copy at $tmp")
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(
        s"compact: rename $tmp -> $path failed; all data is in $tmp, recover with one fs.rename")
    (files.length, n)
  }

  /** Compact every leaf `key=value` partition directory under a
    * partitioned dataset root (e.g. a VectorStore's `vectors/`).
    * Returns one (partitionPath, filesBefore, filesAfter) per leaf.
    */
  def compactPartitions(spark: SparkSession, root: String,
                        targetBytes: Long = 128L << 20,
                        sortCols: Seq[String] = Nil): Seq[(String, Int, Int)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(rootPath)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") && isData(s.getPath))
      .toSeq.map { part =>
        val (before, after) = compactDir(spark, part.getPath.toString, targetBytes, sortCols)
        (part.getPath.toString, before, after)
      }
  }
}
