package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Served, Tables}

/** Served multi-vector (max-sim) chunk artifact ([[graft.Served]]):
  * train-once / serve-many for `vdb_knn_maxsim` and
  * [[Serving.maxsimJoin]].
  *
  * The registered max-sim query used to re-chunk and re-hash-embed the
  * ENTIRE corpus per call — a corpus-scale explode + groupBy paid for
  * a page-sized answer, and at 100× data a per-call corpus build per
  * query. The artifact splits the halves: `chunks/` persists the
  * corpus-side chunk components (doc_id, chunk_id, dim, w — exact
  * 1e4-quantized integers, so serving is bit-identical to the inline
  * plan). The stamp is over the documents table's (doc_id, text).
  *
  * Reference anchor: the /search loop
  * (reference compute_server.py:106-138) at passage granularity — the
  * reference embeds whole documents only, so this is the beyond-
  * reference scale path for long-document retrieval.
  */
object ServedMaxsim {

  private def msDir(d: String): String =
    graft.text.TextAnalysis.termIdxDir(d, "-maxsim-v1")

  /** The served chunk-component frame (doc_id, chunk_id, dim, w) for
    * `d`'s documents table. Builds ([[Serving.chunkComponents]]) and
    * persists only when the artifact is missing or stale.
    */
  def servedChunks(s: SparkSession, d: String): DataFrame =
    servedChunksOf(s, msDir(d), Tables.documents(s, d))

  /** [[servedChunks]] with explicit artifact dir + corpus frame — the
    * staleness spec's entry point.
    */
  private[graft] def servedChunksOf(s: SparkSession, dir: String,
                                    docs: => DataFrame): DataFrame = {
    Served.ensure(s, dir, docs, "doc_id", "text")(live =>
      Serving.chunkComponents(live).write.mode("overwrite").parquet(s"$dir/chunks"))
    Tables.resolved(s, s"$dir/chunks")
  }
}
