package graft.embed

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QueryModule, Tables}

/** Deterministic text -> unit-vector embedder via the feature-hashing
  * trick — the Spark-native stand-in for the reference's
  * sentence-transformers embedder (embed.py:1-20; that model can't
  * ship here, and a transformer is not re-expressible as a query
  * plan). Classic hashing-trick semantics: every word occurrence
  * lands in dimension `md5_32(w) mod dim` with a md5-derived sign;
  * the per-document sums are L2-normalized.
  *
  * Scale shape: explode -> map-only hashing -> partial-aggregated
  * groupBy(doc, dim) -> per-doc window norm. Shuffle volume is at most
  * `dim` rows per document regardless of document length.
  */
object HashEmbedder extends QueryModule {
  val Dim = 64

  /** 32-bit word hash from the first 8 md5 hex chars (md5 is available
    * and bit-identical in Spark and DuckDB, which makes the whole
    * embedder oracle-checkable).
    */
  private def wordHash(w: Column): Column =
    conv(substring(md5(w), 1, 8), 16, 10).cast(LongType)

  /** Exploded (doc_id, dim, val) embedding components. Components whose
    * signed counts cancel to zero appear with val 0; dims with no words
    * are absent — identical semantics on the oracle side.
    */
  def components(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val byDoc = Window.partitionBy(idCol)
    docs
      .transform(Tables.fanned(_, col(idCol))) // pinned count: AQE would
      // coalesce a bare repartition(col) to 1 partition on sub-MB
      // shuffles, serializing the md5-per-word stage (measured r15)
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .withColumn("h", wordHash(col("w")))
      .withColumn("dim", col("h") % Dim)
      .withColumn("sign", when(expr(s"(h div $Dim) % 2") === 0, 1.0).otherwise(-1.0))
      .groupBy(col(idCol), col("dim"))
      .agg(sum("sign").as("raw"))
      .withColumn("nrm", sqrt(sum(col("raw") * col("raw")).over(byDoc)))
      .select(col(idCol), col("dim").cast(LongType).as("dim"),
        round(when(col("nrm") === 0, 0.0).otherwise(col("raw") / col("nrm")), 4).as("val"))
  }

  /** Dense array<double> embedding column (absent dims zero-filled) —
    * the drop-in input for VectorStore / knn / dedup operators.
    */
  def embed(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val byDoc = Window.partitionBy(idCol)
    val sparse = docs
      .transform(Tables.fanned(_, col(idCol))) // as in components(): a
      // small batch is one partition, so neither aggregate nor the
      // window below needs an exchange
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .withColumn("h", wordHash(col("w")))
      .withColumn("dim", (col("h") % Dim).cast("int"))
      .withColumn("sign", when(expr(s"(h div $Dim) % 2") === 0, 1.0).otherwise(-1.0))
      .groupBy(col(idCol), col("dim"))
      .agg(sum("sign").as("raw"))
      .withColumn("nrm", sqrt(sum(col("raw") * col("raw")).over(byDoc)))
      .withColumn("v", when(col("nrm") === 0, 0.0).otherwise(col("raw") / col("nrm")))
    sparse
      .groupBy(idCol)
      .agg(map_from_arrays(collect_list("dim"), collect_list("v")).as("m"))
      // transform-over-sequence instead of 64 inlined coalesce columns:
      // the unrolled form blew generated hashAgg methods past janino's
      // method-size limit and dropped the whole stage to interpreted
      // execution
      .select(col(idCol),
        transform(sequence(lit(0), lit(Dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("embedding"))
  }

  private def embedQuery(s: SparkSession, d: String): DataFrame =
    components(Tables.documents(s, d))

  private val embedSql =
    s"""WITH wx AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)),
       |c AS (
       |  SELECT doc_id, h % $Dim AS dim,
       |         SUM(CASE WHEN (h // $Dim) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS raw
       |  FROM wx GROUP BY 1, 2),
       |n AS (SELECT doc_id, sqrt(SUM(raw * raw)) AS nrm FROM c GROUP BY 1)
       |SELECT c.doc_id, CAST(dim AS BIGINT) AS dim,
       |       ROUND(CASE WHEN nrm = 0 THEN 0.0 ELSE raw / nrm END, 4) AS val
       |FROM c JOIN n ON c.doc_id = n.doc_id""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("embed_hash" -> (embedQuery _))
  override val oracleSql: Map[String, String] = Map("embed_hash" -> embedSql)
}
