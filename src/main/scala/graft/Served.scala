package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Served artifacts: derived data persisted once per (dataset,
  * parameters, layout version) directory and served until the live
  * table it was built from changes. The term indexes, DSIR weights,
  * topic models, near-dup candidates, max-sim chunks and PQ/OPQ
  * codebooks all serve through here; each family owns only its
  * directory name (every parameter that picks a different artifact is
  * in it) and its build.
  *
  *  - Stamp: (row count, Σ hash(id, payload)) over the live table. The
  *    id is hashed with its payload, so swapping payloads between two
  *    ids moves the stamp, as does any append, delete or in-place
  *    edit. `hash` is 32-bit, so the long sum cannot overflow below
  *    2^32 rows.
  *  - Publish: delete the stamp, build, then write the stamp to a
  *    `_`-prefixed temp sibling and rename it into place (the
  *    [[graft.sources.Compact]] swap). A build that dies midway leaves
  *    no stamp, so a partial payload is never served as fresh.
  *  - Memo: a directory proven fresh is not re-stamped for the rest of
  *    the JVM, which assumes the session's datasets do not change
  *    under it; a caller that regenerates one in-session calls
  *    [[invalidate]]. A stale artifact is rebuilt, never refused.
  *
  * The stamp lives at `<dir>/_served_stamp`, not `<dir>/meta`: a
  * served term index's directory is a [[graft.text.TermIndex]] root,
  * whose `meta/` holds BM25 statistics.
  */
object Served {
  type Stamp = (Long, Long)

  private val fresh = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Forget every directory proven fresh: each re-checks its stamp at
    * its next use.
    */
  private[graft] def invalidate(): Unit = fresh.clear()

  /** Make `dir` current for `live` (evaluated only on a memo miss):
    * `build` runs on the live frame iff the stamp on disk differs.
    */
  private[graft] def ensure(s: SparkSession, dir: String, live: => DataFrame,
                            idCol: String, payloadCol: String)
                           (build: DataFrame => Unit): Unit =
    if (!fresh.contains(dir)) {
      val frame = live
      val st = stamp(frame, idCol, payloadCol)
      if (read(s, dir).contains(st)) fresh.add(dir)
      else publish(s, dir, st)(build(frame))
    }

  private[graft] def stamp(live: DataFrame, idCol: String, payloadCol: String): Stamp = {
    val r = live.agg(count(lit(1)),
      coalesce(sum(hash(col(idCol), col(payloadCol)).cast(LongType)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The published stamp, if `dir` holds a complete artifact. */
  private[graft] def read(s: SparkSession, dir: String): Option[Stamp] = scala.util.Try {
    val p = stampPath(dir)
    val in = p.getFileSystem(s.sparkContext.hadoopConfiguration).open(p)
    val Array(n, h) = try new String(in.readAllBytes(), UTF_8).split(' ') finally in.close()
    (n.toLong, h.toLong)
  }.toOption

  /** Rewrite `dir`'s payload with `build` and certify it as `st`. */
  private[graft] def publish(s: SparkSession, dir: String, st: Stamp)(build: => Unit): Unit = {
    val p = stampPath(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fresh.remove(dir)
    fs.delete(p, false)
    build
    val tmp = new Path(dir, "_served_stamp.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"${st._1} ${st._2}".getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"served: rename $tmp -> $p failed; $dir stays unstamped")
    fresh.add(dir)
  }

  private def stampPath(dir: String): Path = new Path(dir, "_served_stamp")
}
