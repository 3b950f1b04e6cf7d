package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QueryModule, Served, Tables}

/** Corpus-curation operators a training-data pipeline runs besides
  * dedup: deterministic stratified sampling (data mixing) and
  * benchmark decontamination. Both designed for the 100 TB posture:
  * sampling uses a bounded per-stratum heap (k rows per stratum per
  * map partition on the shuffle, never a corpus-wide sort) and
  * decontamination broadcasts the benchmark's n-gram set (benchmarks
  * are tiny; the corpus side stays map-local).
  */
object PipelineOps extends QueryModule {

  /** Deterministic uniform sample of up to `quota` docs per stratum:
    * rank by a 52-bit integer prefix of md5(doc_id) — a stable
    * pseudo-random order both Spark and the DuckDB oracle compute
    * bit-identically (52 bits so the double-typed heap key stays
    * exact). The per-stratum top-k runs on [[graft.expressions.TopKAgg]]
    * bounded heaps: each map partition ships at most `quota` rows per
    * stratum, so the shuffle is quota-bounded regardless of corpus
    * size — the scalable alternative to a row_number() window, which
    * would shuffle and sort EVERY row.
    */
  def sampleStratified(docs: DataFrame, stratumCol: String, quota: Int,
                       idCol: String = "doc_id"): DataFrame = {
    // TopKAgg carries ids as longs; fail fast with a clear message
    // rather than a ClassCastException in an executor. String-keyed
    // corpora can sample on a surrogate (e.g. xxhash64 of the key)
    // and join back.
    require(Seq("bigint", "int", "smallint", "tinyint")
        .contains(docs.schema(idCol).dataType.simpleString),
      s"sampleStratified needs an integral id column; '$idCol' is " +
        docs.schema(idCol).dataType.simpleString)
    // lowest-hash-first via the (score desc) heap: negate the key
    val key = -conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast(LongType).cast("double")
    docs
      .withColumn("__k", key)
      .groupBy(stratumCol)
      .agg(graft.expressions.TopKAgg.topK(col("__k"), col(idCol).cast(LongType), quota).as("t"))
      .select(col(stratumCol), posexplode(col("t")).as(Seq("pos", "e")))
      .select(col(stratumCol), (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as(idCol))
  }

  private def sampleQuery(s: SparkSession, d: String): DataFrame =
    sampleStratified(Tables.documents(s, d), "source", quota = 50)

  private val sampleSql =
    """SELECT source, CAST(rn AS BIGINT) AS rank, doc_id
      |FROM (
      |  SELECT source, doc_id,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |           ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT),
      |                    doc_id) AS rn
      |  FROM documents) q
      |WHERE rn <= 50""".stripMargin

  /** A benchmark suite's distinct word-trigram set — the write-once
    * half of decontamination. Shingling a multi-MB eval suite per
    * pipeline run is waste: compute this once, persist it
    * (`.write.parquet(...)`), and feed the read-back frame to
    * [[decontaminateWith]] on every corpus pass.
    */
  def benchmarkShingles(benchmark: DataFrame): DataFrame =
    graft.dedup.Dedup.shinglesOf(benchmark).select("s").distinct()

  /** Benchmark decontamination against a PRECOMPUTED shingle set: flag
    * corpus documents sharing at least `minShared` distinct word
    * trigrams with it. The shingle set is broadcast (benchmarks are
    * KBs-to-MBs even for large eval suites), so the corpus side is a
    * map-local hash probe of its own shingles + one quota-bounded
    * aggregation — no corpus-side self-join anywhere.
    */
  def decontaminateWith(docs: DataFrame, benchShingles: DataFrame,
                        minShared: Int = 5): DataFrame = {
    // shinglesOf emits DISTINCT shingles per doc and the benchmark set
    // is deduped, so a plain count after the join IS the distinct
    // shared-shingle count — no two-phase distinct aggregation needed
    graft.dedup.Dedup.shinglesOf(docs)
      .join(broadcast(benchShingles.select("s")), "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One-shot convenience: shingle the benchmark in-plan and
    * decontaminate. Pipelines that run repeatedly should precompute via
    * [[benchmarkShingles]] and call [[decontaminateWith]].
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, minShared: Int = 5): DataFrame =
    decontaminateWith(docs, benchmarkShingles(benchmark), minShared)

  /** Driver query: docs 0-19 act as the pseudo-benchmark; everything
    * else is the corpus under test.
    */
  private def decontaminateQuery(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    decontaminate(all.filter(col("doc_id") >= 20), all.filter(col("doc_id") < 20))
  }

  private val decontaminateSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM w, UNNEST(generate_series(1, len(ws)-2)) AS t(i)),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
      |SELECT sh.doc_id, COUNT(*) AS n_shared
      |FROM sh JOIN bench USING (s)
      |WHERE sh.doc_id >= 20
      |GROUP BY 1
      |HAVING COUNT(*) >= 5""".stripMargin

  /** Sequence packing: greedily fill fixed-capacity token windows with
    * consecutive documents (contiguous fill, a straddling doc overflows
    * into its window rather than splitting) — how training corpora are
    * packed into context windows. Window assignment is a per-stratum
    * cumulative sum over the deterministic doc_id order:
    * window = floor(tokens_before / capacity).
    *
    * The cumulative sum is BLOCKED so no partition ever sorts more than
    * `blockSize` rows: docs are bucketed by `doc_id div blockSize`
    * within their stratum, the running sum is computed per
    * (stratum, block) — bounded partitions, parallel across blocks —
    * and each block's starting token offset comes from an exclusive
    * prefix sum over the tiny per-block totals table (one row per
    * block: a 100 TB / 1e11-doc corpus at the default block size is
    * ~1.5M rows, megabytes), joined back via broadcast. Two bounded
    * passes; a 90%-one-source mega-stratum costs the same as a uniform
    * one. Result is bit-identical to the naive per-stratum window
    * (PipelineSpec cross-checks). Token count = whitespace words (the
    * cheap proxy; swap in text_tokens' BPE-ish regex for real runs).
    *
    * Blocks span the OBSERVED id range, not a fixed divisor: with
    * sparse 64-bit hashed doc_ids (TextDocs ingestion) `doc_id div
    * blockSize` would put nearly every doc in its own block — the
    * "tiny" offsets table becomes corpus-sized and its broadcast
    * explodes. Sizing the span as range/targetBlocks keeps ~n/blockSize
    * blocks for ANY id distribution (uniform hashed ids land balanced;
    * dense sequential ids reproduce the old blocks). The range probe is
    * one 1-row aggregate action at plan-construction time — this
    * operator is NOT fully lazy. Arithmetic rides DECIMAL(38,0): a
    * hashed id range (±2^63) overflows Long subtraction, and a wrapped
    * block id would break the monotone id→block mapping the packing
    * order depends on.
    */
  def packSequences(docs: DataFrame, capacity: Long = 512,
                    stratumCol: String = "source", blockSize: Long = 65536): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probe = docs.agg(min(col("doc_id")), max(col("doc_id")), count(lit(1))).head()
    val blkCol =
      if (probe.isNullAt(0)) lit(0L)   // empty corpus: any constant block
      else {
        val lo = BigInt(probe.getLong(0))
        val hi = BigInt(probe.getLong(1))
        val targetBlocks = math.max(1L, probe.getLong(2) / blockSize)
        val span = (hi - lo) / targetBlocks + 1
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        floor((col("doc_id").cast(dec) - lit(lo.toString).cast(dec))
          / lit(span.toString).cast(dec)).cast(LongType)
      }
    val withTok = docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
      .withColumn("__blk", blkCol)
    // in-block exclusive running sum: partitions bounded by blockSize rows
    val wInBlock = Window.partitionBy(col(stratumCol), col("__blk")).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-block token totals -> exclusive prefix over blocks per stratum
    // (one row per block; this window sorts block COUNTS, not docs)
    val wOffset = Window.partitionBy(stratumCol).orderBy("__blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockOffsets = withTok.groupBy(col(stratumCol), col("__blk"))
      .agg(sum(col("n_tokens")).as("__blk_tokens"))
      .withColumn("__offset", coalesce(sum(col("__blk_tokens")).over(wOffset), lit(0L)))
      .select(col(stratumCol), col("__blk"), col("__offset"))
    withTok
      .withColumn("__cum_in", coalesce(sum(col("n_tokens")).over(wInBlock), lit(0L)))
      .join(broadcast(blockOffsets), Seq(stratumCol, "__blk"))
      .withColumn("window_id", floor((col("__offset") + col("__cum_in")) / capacity))
      .groupBy(col(stratumCol), col("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min("doc_id").as("first_doc"))
  }

  private def packQuery(s: SparkSession, d: String): DataFrame =
    packSequences(Tables.documents(s, d))

  private val packSql =
    """WITH t AS (
      |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         COALESCE(SUM(len(string_split(text, ' ')))
      |           OVER (PARTITION BY source ORDER BY doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM documents)
      |SELECT source, CAST(FLOOR(cum_before / 512.0) AS BIGINT) AS window_id,
      |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |       MIN(doc_id) AS first_doc
      |FROM t GROUP BY 1, 2""".stripMargin

  /** Corpus mixing statistics — the table a data-mixing step starts
    * from: per source, doc/token counts, the token share, and a
    * temperature-smoothed mixing weight `sqrt(n_s) / sum sqrt(n)`
    * (temperature 0.5 — sqrt rather than an arbitrary power because
    * IEEE sqrt is correctly rounded, so Spark and the oracle agree
    * bit-for-bit). One aggregation + a broadcast of the 1-row totals:
    * no window over the corpus, scale-free.
    */
  /** (stratum, n_docs, n_tokens) — shared by [[corpusMixStats]] and
    * [[sampleTemperature]].
    */
  private def perStratumTokens(docs: DataFrame, stratumCol: String): DataFrame =
    docs
      .withColumn("__t", size(split(col("text"), " ")).cast(LongType))
      .groupBy(stratumCol)
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"))

  def corpusMixStats(docs: DataFrame, stratumCol: String = "source"): DataFrame = {
    val per = perStratumTokens(docs, stratumCol)
    val tot = per.agg(sum(col("n_tokens")).cast("double").as("__tot"),
      sum(sqrt(col("n_tokens"))).as("__tot_s"))
    per.crossJoin(broadcast(tot))
      .select(col(stratumCol), col("n_docs"), col("n_tokens"),
        (round(col("n_tokens") / col("__tot") * 10000.0, 0) / 10000.0).as("token_share"),
        (round(sqrt(col("n_tokens")) / col("__tot_s") * 10000.0, 0) / 10000.0)
          .as("mix_weight_t05"))
  }

  private def mixStatsQuery(s: SparkSession, d: String): DataFrame =
    corpusMixStats(Tables.documents(s, d))

  private val mixStatsSql =
    """WITH per AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_t, SUM(SQRT(n_tokens)) AS tot_s FROM per)
      |SELECT source, n_docs, n_tokens,
      |       ROUND(n_tokens / tot_t * 10000.0) / 10000.0 AS token_share,
      |       ROUND(SQRT(n_tokens) / tot_s * 10000.0) / 10000.0 AS mix_weight_t05
      |FROM per, tot""".stripMargin

  /** Temperature-based mixing sample: per-source quotas proportional
    * to sqrt(token mass) (floor of `target` x normalized sqrt share,
    * min 1 — upweights the tail like low-temperature data mixing
    * does), filled deterministically with each source's lowest-md5
    * docs. Runs as [[sampleStratified]]'s bounded heaps capped at
    * `target` + a broadcast joined quota filter — the corpus is never
    * sorted, the shuffle ships <= target rows per stratum per map
    * partition.
    */
  def sampleTemperature(docs: DataFrame, stratumCol: String = "source",
                        target: Int = 100, idCol: String = "doc_id"): DataFrame = {
    val per = perStratumTokens(docs, stratumCol)
    // +1e-6 inside the floor, mirrored in the oracle SQL: tot_s is an
    // order-dependent double sum, so a perfectly uniform corpus puts
    // target*sqrt/tot_s EXACTLY on an integer and a last-ulp difference
    // (between engines, or between Spark runs) would flip the floor.
    // The nudge moves the boundary off the exact-arithmetic attractor.
    val quotas = per
      .crossJoin(broadcast(per.agg(sum(sqrt(col("n_tokens"))).as("__tot_s"))))
      .select(col(stratumCol),
        greatest(lit(1L),
          floor(lit(target.toDouble) * sqrt(col("n_tokens")) / col("__tot_s") + 1e-6))
          .as("__quota"))
    sampleStratified(docs, stratumCol, quota = target, idCol = idCol)
      .join(broadcast(quotas), stratumCol)
      .filter(col("rank") <= col("__quota"))
      .select(col(stratumCol), col("rank"), col(idCol))
  }

  private def sampleTempQuery(s: SparkSession, d: String): DataFrame =
    sampleTemperature(Tables.documents(s, d))

  private val sampleTempSql =
    """WITH per AS (
      |  SELECT source, SUM(len(string_split(text, ' '))) AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT SUM(SQRT(n_tokens)) AS tot_s FROM per),
      |quota AS (
      |  SELECT source, GREATEST(1, CAST(FLOOR(100 * SQRT(n_tokens) / tot_s + 1e-6) AS BIGINT)) AS q
      |  FROM per, tot),
      |ranked AS (
      |  SELECT source, doc_id,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |           ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT),
      |                    doc_id) AS rn
      |  FROM documents)
      |SELECT r.source, CAST(r.rn AS BIGINT) AS rank, r.doc_id
      |FROM ranked r JOIN quota USING (source)
      |WHERE r.rn <= q""".stripMargin

  /** Deterministic train/val/test split: bucket = (52-bit md5 prefix
    * of "split:"+id) mod 100 → train (< trainPct), val (< trainPct +
    * valPct), test. A pure map-side projection — the assignment is a
    * function of the id alone, so it is stable under corpus growth,
    * repartitioning, and backfills: a doc never migrates between
    * splits when new data arrives, the property that makes hash-range
    * splits the standard over `rand()` at corpus scale (rand() resplits
    * every run and every recovery). The "split:" salt decorrelates the
    * bucket from the OTHER md5(doc_id) order this library uses
    * (stratified sampling's rank key) — without it the val/test docs
    * would be exactly the sampler's highest-ranked ones.
    */
  /** md5 bucket (0-99) of an id — the pure function behind split
    * assignment, exposed as a Column so consumers (the leakage audit)
    * can PROJECT a split from any id column instead of joining back
    * to a corpus-sized assignment frame.
    */
  private def splitBucket(id: Column): Column =
    conv(substring(md5(concat(lit("split:"), id.cast("string"))), 1, 13),
      16, 10).cast(LongType) % 100L

  private def splitOf(id: Column, trainPct: Int, valPct: Int): Column = {
    val b = splitBucket(id)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  def splitAssign(docs: DataFrame, idCol: String = "doc_id",
                  trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"percentages must partition [0,100): got train=$trainPct val=$valPct")
    docs.select(col(idCol), splitBucket(col(idCol)).as("bucket"),
      splitOf(col(idCol), trainPct, valPct).as("split"))
  }

  private def splitQuery(s: SparkSession, d: String): DataFrame =
    splitAssign(Tables.documents(s, d))

  // the one definition of the oracle-side bucket/split expressions —
  // splitSql and leakageSql both build from these, so the Spark hash
  // ('split:' prefix, 13-hex window, 90/5/5 cut) can never diverge
  // from one oracle but not the other
  private def splitBucketSql(idExpr: String): String =
    s"CAST(('0x' || substring(md5('split:' || CAST($idExpr AS VARCHAR)), 1, 13)) AS BIGINT) % 100"

  private def splitCaseSql(idExpr: String): String =
    s"""CASE WHEN ${splitBucketSql(idExpr)} < 90 THEN 'train'
       |     WHEN ${splitBucketSql(idExpr)} < 95 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  private val splitSql =
    s"""SELECT doc_id,
      |  ${splitBucketSql("doc_id")} AS bucket,
      |  ${splitCaseSql("doc_id")} AS split
      |FROM documents""".stripMargin

  /** Overlapping token-window chunking — the unit-of-work transform for
    * RAG indexing and long-document training prep: each document yields
    * windows of `size` whitespace tokens starting every `stride` tokens
    * (`size > stride` → `size - stride` tokens of overlap, so no
    * boundary-straddling phrase is lost to a cut). Chunk count is
    * `1 + ceil(max(nw - size, 0) / stride)` — always >= 1 so empty-ish
    * docs still surface, and the last window is allowed to run short.
    *
    * Pure per-row explode: no shuffle, scan-bound at 100 TB, and the
    * fan-out is bounded by nw/stride per doc (a book-length doc emits
    * many rows but each is one hash + two ints — the heavy `text`
    * column is dropped before the explode multiplies it). Emits the
    * chunk's md5 rather than its text: downstream exact-dedup of chunks
    * joins on the hash, and re-materializing text is a doc_id +
    * start_token slice against the source.
    */
  def chunkDocuments(docs: DataFrame, size: Int = 32, stride: Int = 24,
                     idCol: String = "doc_id"): DataFrame = {
    require(size >= stride && stride > 0, s"need size >= stride > 0, got $size/$stride")
    val nChunks = lit(1L) +
      floor((greatest(col("__nw") - size, lit(0L)) + (stride - 1)) / stride)
    docs
      .select(col(idCol), split(col("text"), " ").as("__ws"))
      .withColumn("__nw", size2(col("__ws")))
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("start_token"),
        size2(slice(col("__ws"), (col("chunk_id") * stride + 1).cast("int"), lit(size)))
          .as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("__ws"), (col("chunk_id") * stride + 1).cast("int"), lit(size))))
          .as("chunk_hash"))
  }
  private def size2(c: Column): Column = size(c).cast(LongType)

  private def chunkQuery(s: SparkSession, d: String): DataFrame =
    chunkDocuments(Tables.documents(s, d))

  private val chunkSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
      |  FROM documents),
      |c AS (SELECT doc_id, ws, i AS chunk_id
      |      FROM t, UNNEST(generate_series(0, (GREATEST(nw - 32, 0) + 23) // 24)) AS g(i))
      |SELECT doc_id, chunk_id, chunk_id * 24 + 1 AS start_token,
      |       CAST(len(list_slice(ws, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT) AS n_tokens,
      |       md5(array_to_string(list_slice(ws, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')) AS chunk_hash
      |FROM c""".stripMargin

  // --- token-budget selection (quality-ranked data mixing) -----------
  /** Select docs per language under a token budget, best-quality
    * first: rank each language's docs by composite quality score
    * (ties by doc_id), take docs while the running token total stays
    * within `budgetTokens`. This is the standard data-mixing move —
    * "N billion tokens of each language, keep the best" — expressed
    * as one windowed cumulative sum per partition key.
    *
    * Scale: the window partitions by lang and the running sum is
    * rows-unbounded-preceding — Spark evaluates it in one pass per
    * partition after an ORDER BY within the lang partition. Per-lang
    * global order is real work at 100 TB but unavoidable for an EXACT
    * budget cut; the approximate path (quality-threshold from an
    * approx quantile at the budget point, then a pure filter) avoids
    * the sort when a few-percent overshoot is acceptable. Lang count
    * is small, so AQE handles the per-lang skew (en dominates).
    */
  def tokenBudgetSelect(docs: DataFrame, budgetTokens: Long): DataFrame = {
    // qualityScores passes input columns through, so scoring + token
    // counting is ONE projection over one scan — no re-join on doc_id
    val scored = graft.text.TextAnalysis.qualityScores(docs)
      .select(col("doc_id"), col("lang"), col("quality_bp"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("quality_bp").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("quality_bp"), col("cum_tokens"))
  }

  private def tokenBudgetQuery(s: SparkSession, d: String): DataFrame =
    tokenBudgetSelect(Tables.documents(s, d), budgetTokens = 2000L)

  private val tokenBudgetSql =
    s"""WITH q AS (${graft.text.TextAnalysis.qualitySql}),
      |t AS (SELECT d.doc_id, d.lang,
      |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |        q.quality_bp,
      |        CAST(SUM(CAST(len(string_split(d.text, ' ')) AS BIGINT))
      |          OVER (PARTITION BY d.lang ORDER BY q.quality_bp DESC, d.doc_id
      |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |      FROM documents d JOIN q ON d.doc_id = q.doc_id)
      |SELECT doc_id, lang, n_tokens, quality_bp, cum_tokens
      |FROM t WHERE cum_tokens <= 2000""".stripMargin

  /** [[tokenBudgetSelect]]'s scale path: the exact cut pays a
    * per-language GLOBAL order (a window sort over every doc). Here
    * the cut is decided on a quality-bucket ROLLUP instead — token
    * mass aggregates into `quality_bp div bucketWidth` buckets
    * (≤ 10000/width + 1 rows per language, dimension-sized at any
    * corpus volume), the running sum + threshold pick runs over that
    * tiny frame, and docs then select by a broadcast threshold join +
    * pure filter. Greedy whole-bucket semantics: keep each language's
    * best buckets while their cumulative mass fits the budget — the
    * selection NEVER overshoots, is always a subset of the exact
    * cut's (every kept doc outranks every dropped one by ≥ a bucket
    * boundary), and undershoots it by less than the first dropped
    * bucket's mass — with width 100 on a 0..10000 score, a ≤1%-of-
    * quality-range granularity. Unlike most approx paths this one is
    * DETERMINISTIC and SQL-expressible (integer arithmetic
    * throughout), so the driver row is fully hash-checked.
    */
  def tokenBudgetSelectApprox(docs: DataFrame, budgetTokens: Long,
                              bucketWidth: Int = 100): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val scored = graft.text.TextAnalysis.qualityScores(docs)
      .select(col("doc_id"), col("lang"), col("quality_bp"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .withColumn("qb", expr(s"quality_bp div $bucketWidth"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("qb").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cut = scored.groupBy("lang", "qb").agg(sum("n_tokens").as("bt"))
      .withColumn("cum", sum("bt").over(w))
      .filter(col("cum") <= budgetTokens)
      .groupBy("lang").agg(min("qb").as("__min_qb"))
    scored.join(broadcast(cut), "lang")
      .filter(col("qb") >= col("__min_qb"))
      .select("doc_id", "lang", "n_tokens", "quality_bp")
  }

  private def tokenBudgetApproxQuery(s: SparkSession, d: String): DataFrame =
    tokenBudgetSelectApprox(Tables.documents(s, d), budgetTokens = 2000L)

  /** The composed [[MixingPipeline]] as a driver query: topic-route,
    * quota, DSIR-select, shuffle, pack — the packed-window manifest is
    * the output (deterministic end-to-end, but Lloyd iterations are
    * not SQL-expressible: rows-only by design, composition
    * spec-proven in MixingPipelineSpec). The Result's checkpoint
    * blocks stay pinned for the frame's lifetime — selection-sized
    * (≤ targetDocs rows), the self-contained-query trade.
    */
  private def mixQuery(s: SparkSession, d: String): DataFrame =
    graft.pipeline.MixingPipeline.mix(s, Tables.documents(s, d),
      k = 4, targetDocs = 100, targetPred = col("doc_id") < 20,
      // the served-model path: the assignment AND the DSIR weights are
      // properties of the corpus, computed once (servedAssignments /
      // servedDsirWeights) and reused by every mix against the dataset
      clustered = Some(graft.text.TopicCluster.servedAssignments(s, d, k = 4)),
      weights = Some(servedDsirWeights(s, d, "doclt20", col("doc_id") < 20)))
      .packed

  private val tokenBudgetApproxSql =
    s"""WITH q AS (${graft.text.TextAnalysis.qualitySql}),
      |s AS (SELECT d.doc_id, d.lang, q.quality_bp,
      |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |        q.quality_bp // 100 AS qb
      |      FROM documents d JOIN q ON d.doc_id = q.doc_id),
      |h AS (SELECT lang, qb, SUM(n_tokens) AS bt FROM s GROUP BY 1, 2),
      |c AS (SELECT lang, qb,
      |        SUM(bt) OVER (PARTITION BY lang ORDER BY qb DESC
      |                      ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM h),
      |cut AS (SELECT lang, MIN(qb) AS min_qb FROM c WHERE cum <= 2000 GROUP BY 1)
      |SELECT s.doc_id, s.lang, s.n_tokens, s.quality_bp
      |FROM s JOIN cut ON s.lang = cut.lang AND s.qb >= cut.min_qb""".stripMargin

  // --- split-leakage audit -------------------------------------------
  /** Near-duplicate pairs annotated with their train/val/test
    * assignment — the contamination audit run after [[splitAssign]]:
    * a near-dup pair straddling train and test leaks training signal
    * into evaluation (`is_leak`). Emits ALL near-dup pairs with both
    * splits so the leak rate is read off the same output that names
    * the offending pairs.
    *
    * Plan: [[graft.dedup.Dedup.ngramJaccardPairs]] generates pairs
    * (df-capped shingle equi-join — the scale posture documented
    * there); the split is a pure FUNCTION of the id (md5 bucket), so
    * both splits are projected straight onto the pair columns — no
    * join back to a corpus-sized assignment frame, nothing after
    * candidate generation costs more than the pairs themselves.
    */
  def splitLeakage(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame =
    splitLeakageFrom(graft.dedup.Dedup.ngramJaccardPairs(docs), trainPct, valPct)

  /** [[splitLeakage]] over caller-supplied verified pairs — the
    * [[graft.dedup.ServedPairs]]-served route: the split is a pure
    * function of the id, so everything after pair generation is a
    * projection.
    */
  private[graft] def splitLeakageFrom(pairs: DataFrame, trainPct: Int,
                                      valPct: Int): DataFrame =
    pairs
      .select(col("id_a"), col("id_b"), col("jaccard"),
        splitOf(col("id_a"), trainPct, valPct).as("split_a"),
        splitOf(col("id_b"), trainPct, valPct).as("split_b"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))

  private def leakageQuery(s: SparkSession, d: String): DataFrame =
    splitLeakageFrom(graft.dedup.ServedPairs.pairs(s, d), 90, 5)

  // pairs come from Dedup's shared SELECT, splits from the shared
  // CASE — this oracle holds no similarity or hash logic of its own
  private val leakageSql =
    s"""${graft.dedup.Dedup.candSqlCtes},
      |pairs AS (${graft.dedup.Dedup.jaccardPairsSelectSql})
      |SELECT id_a, id_b, jaccard, split_a, split_b,
      |       split_a <> split_b AS is_leak
      |FROM (SELECT id_a, id_b, jaccard,
      |        ${splitCaseSql("id_a")} AS split_a,
      |        ${splitCaseSql("id_b")} AS split_b
      |      FROM pairs) t""".stripMargin

  // --- deterministic corpus shuffle (training order) -----------------
  /** Per-epoch training-data shuffle WITHOUT a global sort: every doc
    * gets a seeded md5 order key; `bucket` = key-derived hash bucket,
    * `pos` = rank within the bucket by key. Reading buckets in order,
    * each sorted by pos, replays one deterministic pseudorandom
    * permutation of the corpus; a different `seed` gives the next
    * epoch's permutation. The scale shape: the only wide operation is
    * numBuckets independent window ranks — each bucket sorts its own
    * ~n/numBuckets slice in parallel (at 100 TB, numBuckets is sized
    * to the output file count, so the sort stays partition-local).
    * A corpus-wide ORDER BY md5 would be the textbook global-sort
    * anti-pattern this operator exists to avoid.
    */
  def shuffleOrder(docs: DataFrame, idCol: String = "doc_id",
                   numBuckets: Int = 16, seed: String = "ep0"): DataFrame = {
    val key = md5(concat(lit(s"shuf:$seed:"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("__k"), col(idCol))
    docs.select(col(idCol), key.as("__k"),
        (conv(substring(key, 1, 13), 16, 10).cast(LongType) % numBuckets).as("bucket"))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select(col(idCol), col("bucket"), col("pos"))
  }

  private def shuffleQuery(s: SparkSession, d: String): DataFrame =
    shuffleOrder(Tables.documents(s, d))

  private val shuffleSql =
    """SELECT doc_id, bucket,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY k, doc_id) AS BIGINT) AS pos
      |FROM (SELECT doc_id, md5('shuf:ep0:' || CAST(doc_id AS VARCHAR)) AS k,
      |        CAST(('0x' || substring(md5('shuf:ep0:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 16 AS bucket
      |      FROM documents) t""".stripMargin

  // --- DSIR importance weights (data selection toward a target) -------
  /** Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by the log importance
    * weight log p_target(x) − p_raw(x) under bag-of-hashed-unigram
    * models — the published recipe for "select web data that looks
    * like my target corpus". Downstream, sampling ∝ exp(weight)
    * (Gumbel top-k) yields the DSIR subset; this operator emits the
    * per-doc log-weights that drive it (reference analogue: none —
    * selection there is vector-similarity only).
    *
    * Both models are hashed-multinomial with add-one smoothing over
    * B buckets: p(bucket b) = (c_b + 1) / (total + B). A token's
    * bucket is the 52-bit md5-prefix mod B ([[splitAssign]]'s stable
    * cross-engine hash). Per-bucket log-ratios are FLOOR-quantized to
    * micro-nats BEFORE the weighted per-doc sum (the [[graft.text
    * .TextAnalysis.lmScores]] convention — integer sums are
    * order-independent where float sums are not), and every token in
    * a bucket shares the ratio, so the sum is count·ratio exactly.
    *
    * Scale shape: one token explode collapses map-side into per-(doc,
    * bucket) counts (the shuffle carries ≤ B rows per doc); both
    * models aggregate THOSE counts (bucket-sized tables, B rows);
    * the scored model is a B-row broadcast joined back map-side.
    * Nothing corpus-sized shuffles twice, and the target predicate
    * is evaluated on doc ids, never re-scanning text.
    */
  def dsirWeights(docs: DataFrame, targetPred: Column,
                  buckets: Int = 1024): DataFrame =
    dsirWeightsReleasable(docs, targetPred, buckets)._1

  /** [[dsirWeights]] plus a release hook for the per-(doc, bucket)
    * cache the returned plan pins (see the NOTE below): a caller that
    * fully materializes the weights — e.g. [[MixingPipeline.mix]]'s
    * checkpointed selection — calls the hook to free the cached
    * blocks instead of leaving them to session teardown. Idempotent;
    * calling it before the plan's last action re-runs the token
    * explode per remaining action (correct, just slower).
    */
  private[graft] def dsirWeightsReleasable(docs: DataFrame, targetPred: Column,
                                           buckets: Int = 1024): (DataFrame, () => Unit) = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 13), 16, 10).cast(LongType)
          % buckets).as("b"))
    val db = tok.groupBy("doc_id", "b").agg(count(lit(1)).as("c")).cache()
    val raw = db.groupBy("b").agg(sum(col("c")).as("r"))
    val tgt = db.filter(targetPred).groupBy("b").agg(sum(col("c")).as("t"))
    val model = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("t"))
    val totals = model.agg(sum(col("r")).as("rr"), sum(col("t")).as("tt"))
    val scored = model.crossJoin(broadcast(totals))
      .withColumn("lr",
        floor((log((col("t") + 1) / (col("tt") + buckets))
             - log((col("r") + 1) / (col("rr") + buckets))) * 1000000.0)
          .cast(LongType))
      .select("b", "lr")
    // NOTE: db stays cached — the returned plan still references it
    // (raw/tgt aggregate it AND the final join re-reads it), and an
    // unpersist here would run at plan-construction time, before any
    // action materializes the cache, silently tripling the token
    // explode. Released via the returned hook once the caller has
    // materialized the weights, or by catalog-wide clearCache (Bench)
    // / session teardown (specs) for dsirWeights callers.
    val out = db.join(broadcast(scored), "b")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("lr")).as("dsir_x1e6"))
    (out, () => { db.unpersist(); () })
  }

  // --- served DSIR weights (the maintained-artifact form) -------------
  /** DSIR weights as a [[graft.Served]] artifact: the weights are a
    * property of (corpus, target predicate, bucket count), not of one
    * mix call, yet every `mix`/`corpus_dsir` invocation was re-paying
    * the token explode + two model aggregates for a result that never
    * changes between corpus drifts. One directory per (dataset,
    * predicate key, buckets, layout version) holds the (doc_id,
    * n_tokens, dsir_x1e6) table, stamped over the documents table's
    * (doc_id, text). Byte-identical to [[dsirWeights]]
    * (floor-quantized integer weights are deterministic), so
    * hash-oracle rows serve from it unchanged.
    *
    * `predKey` names the predicate in the cache key — the Column
    * itself has no stable identity, so the CALLER owns the contract
    * that one key means one predicate per dataset (same discipline as
    * a view name). At 100 TB this turns the mix's dominant repeated
    * corpus pass into a parquet read of one slim row-per-doc table.
    */
  def servedDsirWeights(s: SparkSession, d: String, predKey: String,
                        targetPred: Column, buckets: Int = 1024): DataFrame = {
    val dir = graft.text.TextAnalysis.termIdxDir(d, s"-dsir-$predKey-b$buckets-v1")
    Served.ensure(s, dir, Tables.documents(s, d), "doc_id", "text") { live =>
      val (w, release) = dsirWeightsReleasable(live, targetPred, buckets)
      w.write.mode("overwrite").parquet(s"$dir/weights")
      release()
    }
    Tables.resolved(s, s"$dir/weights")
  }

  private def dsirQuery(s: SparkSession, d: String): DataFrame =
    servedDsirWeights(s, d, "doclt20", col("doc_id") < 20)

  private val dsirSql =
    """WITH tok AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substring(md5(u.w), 1, 13)) AS BIGINT) % 1024 AS b
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
      |       UNNEST(ws) AS u(w)),
      |db AS (SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |raw AS (SELECT b, CAST(SUM(c) AS BIGINT) AS r FROM db GROUP BY 1),
      |tgt AS (SELECT b, CAST(SUM(c) AS BIGINT) AS t FROM db WHERE doc_id < 20 GROUP BY 1),
      |model AS (
      |  SELECT raw.b, raw.r, COALESCE(tgt.t, 0) AS t
      |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
      |tot AS (SELECT CAST(SUM(r) AS BIGINT) AS rr, CAST(SUM(t) AS BIGINT) AS tt FROM model),
      |scored AS (
      |  SELECT b, CAST(FLOOR((ln((t + 1) / (tt + 1024))
      |                      - ln((r + 1) / (rr + 1024))) * 1000000.0) AS BIGINT) AS lr
      |  FROM model CROSS JOIN tot)
      |SELECT db.doc_id, CAST(SUM(db.c) AS BIGINT) AS n_tokens,
      |       CAST(SUM(db.c * scored.lr) AS BIGINT) AS dsir_x1e6
      |FROM db JOIN scored USING (b)
      |GROUP BY 1""".stripMargin

  /** The selection step DSIR runs on top of [[dsirWeights]]: sample
    * k docs with probability ∝ exp(weight) via the Gumbel top-k trick
    * (Xie et al. 2023 §2 sample exactly this way) — key = weight +
    * Gumbel noise, take the k largest. Noise is DETERMINISTIC here:
    * u = (52-bit md5 prefix of "dsir:"+doc_id + 0.5) / 2^52 ∈ (0,1),
    * g = −ln(−ln u) — reproducible across engines and runs (same
    * rationale as corpus_shuffle's seeded order). Integer key
    * discipline: the doc's weight is already micro-nat integer
    * (dsir_x1e6); the noise is FLOOR-quantized to micro-units
    * independently, so the sum is exact integer arithmetic and the
    * (key DESC, doc_id) order is engine-stable. Plan: a pure
    * projection over the weights output + TakeOrdered(k) —
    * per-partition heaps, no global sort.
    */
  def dsirSample(weights: DataFrame, k: Int = 100): DataFrame = {
    val u = (conv(substring(md5(concat(lit("dsir:"), col("doc_id").cast("string"))),
        1, 13), 16, 10).cast("double") + 0.5) / 4503599627370496.0
    weights
      .withColumn("sel_key_x1e6",
        (col("dsir_x1e6") + floor(-log(-log(u)) * 1000000.0).cast(LongType))
          .as("sel_key_x1e6"))
      .orderBy(desc("sel_key_x1e6"), asc("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("sel_key_x1e6"))
  }

  private def dsirSampleQuery(s: SparkSession, d: String): DataFrame =
    dsirSample(servedDsirWeights(s, d, "doclt20", col("doc_id") < 20))

  private val dsirSampleSql =
    s"""WITH w AS ($dsirSql),
      |keyed AS (
      |  SELECT doc_id, dsir_x1e6 + CAST(FLOOR(-ln(-ln(
      |      (CAST(('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
      |        / 4503599627370496.0)) * 1000000.0) AS BIGINT) AS sel_key_x1e6
      |  FROM w)
      |SELECT doc_id, sel_key_x1e6 FROM keyed
      |ORDER BY sel_key_x1e6 DESC, doc_id LIMIT 100""".stripMargin

  // --- per-language quality gate --------------------------------------
  /** The CCNet-style curation gate: keep each language's docs scoring
    * at or above that LANGUAGE'S median quality — a per-group quantile
    * threshold, not a global one, so a low-resource language is not
    * wiped out by a high-resource language's score distribution (the
    * classic failure of one global cutoff). Scores are
    * [[graft.text.TextAnalysis.qualityScores]]' basis-point BIGINTs;
    * the median interpolates two mid values at worst, so both engines
    * compute the identical .0/.5 double and the >= cut is exact.
    *
    * Scale shape: one documents scan (the scoring projection), an
    * exact per-lang percentile whose aggregation state is bounded by
    * the score DOMAIN (≤ 10001 distinct bp values per language — an
    * integer-quantized score makes exact quantiles cheap where raw
    * doubles would buffer the corpus), a ≤|langs|-row broadcast back,
    * and a map-side filter. Nothing corpus-sized shuffles.
    */
  private def qualityGateQuery(s: SparkSession, d: String): DataFrame = {
    val scored = graft.text.TextAnalysis.qualityScores(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), col("quality_bp"))
    val thr = scored.groupBy("lang")
      .agg(percentile(col("quality_bp"), lit(0.5)).as("thr"))
    scored.join(broadcast(thr), "lang")
      .filter(col("quality_bp") >= col("thr"))
      .select("doc_id", "lang", "quality_bp")
  }

  private val qualityGateSql =
    s"""WITH q AS (SELECT * FROM (${graft.text.TextAnalysis.qualitySql}) t),
       |d AS (SELECT doc_id, lang FROM documents),
       |thr AS (
       |  SELECT d.lang, quantile_cont(q.quality_bp, 0.5) AS thr
       |  FROM q JOIN d USING (doc_id) GROUP BY 1)
       |SELECT d.doc_id, d.lang, q.quality_bp
       |FROM q JOIN d USING (doc_id) JOIN thr ON thr.lang = d.lang
       |WHERE q.quality_bp >= thr.thr""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_quality_gate" -> (qualityGateQuery _),
    "corpus_dsir"        -> (dsirQuery _),
    "corpus_dsir_sample" -> (dsirSampleQuery _),
    "corpus_shuffle"     -> (shuffleQuery _),
    "corpus_token_budget" -> (tokenBudgetQuery _),
    "corpus_token_budget_approx" -> (tokenBudgetApproxQuery _),
    "corpus_mix" -> (mixQuery _),
    "split_leakage"      -> (leakageQuery _),
    "doc_chunk"          -> (chunkQuery _),
    "split_assign"       -> (splitQuery _),
    "sample_stratified"  -> (sampleQuery _),
    "sample_temperature" -> (sampleTempQuery _),
    "corpus_mix_stats"   -> (mixStatsQuery _),
    "decontaminate"      -> (decontaminateQuery _),
    "pack_sequences"     -> (packQuery _))

  override val oracleSql: Map[String, String] = Map(
    "corpus_quality_gate" -> qualityGateSql,
    "corpus_dsir"        -> dsirSql,
    "corpus_dsir_sample" -> dsirSampleSql,
    "corpus_shuffle"     -> shuffleSql,
    "corpus_token_budget" -> tokenBudgetSql,
    "corpus_token_budget_approx" -> tokenBudgetApproxSql,
    "split_leakage"      -> leakageSql,
    "doc_chunk"          -> chunkSql,
    "split_assign"       -> splitSql,
    "sample_stratified"  -> sampleSql,
    "sample_temperature" -> sampleTempSql,
    "corpus_mix_stats"   -> mixStatsSql,
    "decontaminate"      -> decontaminateSql,
    "pack_sequences"     -> packSql)
}
