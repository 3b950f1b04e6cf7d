package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

import graft.sources.BatchedTable

/** The one stream plumbing and sink layout behind every streamed
  * serving path (`serve*Stream` on [[graft.vector.VectorStore]],
  * [[graft.text.TermIndex]] and [[graft.vector.Serving]]). Callers
  * keep their probe and their empty-batch rule; this object owns
  * `writeStream → foreachBatch → start` and where the pages land.
  *
  * Delivery contract: `write(dir, page)` writes the page as the
  * micro-batch's own `<dir>/batch=b<batchId>` partition through
  * [[BatchedTable.writeBatch]]'s per-label overwrite. A batch Spark
  * replays after a failure between the write and the checkpoint
  * commit carries the same id, so it overwrites its partition instead
  * of appending a second copy: each committed micro-batch is in the
  * output exactly once. Readers of the output directory see a
  * `batch` string column from partition discovery.
  */
object ServeStream {

  def start(queries: DataFrame, checkpoint: String)(
      serve: (DataFrame, (String, DataFrame) => Unit) => Unit): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        serve(batch, (dir, page) => BatchedTable.writeBatch(page, dir, s"b$batchId"))
      }
      .start()

  /** Pin an `allowed` id set once, at stream (or session) start, as a
    * long `c` column: an expensive or non-deterministic producing plan
    * then never re-executes inside a micro-batch's semi-join.
    */
  def pin(allowed: Option[DataFrame], c: String): Option[DataFrame] =
    allowed.map(ids => ids.select(col(c).cast(LongType).as(c)).localCheckpoint(true))
}
