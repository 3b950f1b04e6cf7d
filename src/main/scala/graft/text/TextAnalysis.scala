package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{QueryModule, Served, Tables}
import graft.expressions.CountMinAgg

/** Text analysis for training-data curation (SURVEY §2 block E):
  * language-ID, quality scoring, token counting, fingerprinting.
  * Every operator is a pure map-side projection over `documents` —
  * no shuffle at all, so throughput at 100 TB is scan-bound.
  *
  * Oracle parity: identical marker lists and formulas on the DuckDB
  * side; set ops go through distinct first (Spark's array_intersect
  * dedups, DuckDB's list_intersect may not).
  */
object TextAnalysis extends QueryModule {

  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "les", "et", "des", "un"),
    "zh" -> Seq("的", "是", "在", "了", "和"))
  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ", ", "]")

  private val wsAll: Column = split(col("text"), " ")
  private val wsDistinct: Column = array_distinct(wsAll)
  private val nWords: Column = size(wsAll).cast(LongType)

  // --- per-document statistics ---------------------------------------
  private def stats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast(LongType).as("n_chars"),
      nWords.as("n_words"),
      size(wsDistinct).cast(LongType).as("n_distinct_words"),
      // engine-stable 4-dp rounding for an integer ratio: scale, round
      // at integer scale, divide back (see quality's scaladoc)
      (round(aggregate(transform(wsAll, w => length(w)), lit(0), _ + _).cast(DoubleType) /
        size(wsAll) * 10000.0, 0) / 10000.0).as("avg_word_len"))

  private val statsSql =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words,
      |  ROUND(CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
      |        / len(string_split(text, ' ')) * 10000.0) / 10000.0 AS avg_word_len
      |FROM documents""".stripMargin

  // --- language ID: marker-word scoring ------------------------------
  private def langid(s: SparkSession, d: String): DataFrame = {
    val scores = markers.map { case (lang, ws) =>
      size(array_intersect(wsDistinct, array(ws.map(lit): _*))).cast(LongType).as(s"score_$lang")
    }
    val m = greatest(markers.map { case (lang, _) => col(s"score_$lang") }: _*)
    // first language (alphabetical) reaching the max, mirrored in SQL
    val pred = markers.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col(s"score_$lang") === m, lit(lang)).otherwise(acc)
    }
    Tables.documents(s, d)
      .select(col("doc_id") +: col("lang").as("labeled_lang") +: scores: _*)
      .withColumn("pred_lang", pred)
  }

  private val langidSql = {
    val scoreExprs = markers.map { case (lang, ws) =>
      s"  CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ${sqlList(ws)})) AS BIGINT) AS score_$lang"
    }.mkString(",\n")
    val m = markers.map { case (l, _) => s"score_$l" }.mkString("GREATEST(", ", ", ")")
    val cases = markers.map { case (l, _) => s"WHEN score_$l = $m THEN '$l'" }.mkString(" ")
    s"""SELECT doc_id, labeled_lang, score_de, score_en, score_es, score_fr, score_zh,
       |  CASE $cases ELSE 'und' END AS pred_lang
       |FROM (SELECT doc_id, lang AS labeled_lang,
       |$scoreExprs
       |      FROM documents) t""".stripMargin
  }

  /** The language the marker heuristic picks for `text` — [[langid]]'s
    * decision rule as a standalone expression, for operators that need
    * the verdict without the per-language score columns.
    */
  private val predLangExpr: Column = {
    val scores = markers.map { case (lang, ws) =>
      lang -> size(array_intersect(wsDistinct, array(ws.map(lit): _*))).cast(LongType)
    }
    val m = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === m, lit(lang)).otherwise(acc)
    }
  }

  // --- per-(source, lang) curation report ----------------------------
  /** The corpus health dashboard a curation team keeps per provenance
    * cell: for every (source, labeled lang) — document and token
    * volume, character mass, mean composite quality (integer
    * basis-points, sum-div-count so the mean is engine-exact), and
    * LABEL DISAGREEMENT (docs whose marker-heuristic language differs
    * from the label — mislabeled or code-mixed sources surface here
    * first). Everything is computed in ONE map-side projection over
    * the scan ([[qualityScores]] appends, [[predLangExpr]] decides)
    * followed by a single hash aggregate on a low-cardinality key:
    * scan-bound at 100 TB, no joins, no second pass.
    */
  def qualityReport(docs: DataFrame): DataFrame =
    qualityScores(docs)
      .withColumn("pred_lang", predLangExpr)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(nWords).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        expr("sum(quality_bp) div count(1)").as("avg_quality_bp"),
        sum(when(col("pred_lang") =!= col("lang"), 1L).otherwise(0L))
          .as("n_lang_mismatch"))

  private def qualityReportQ(s: SparkSession, d: String): DataFrame =
    qualityReport(Tables.documents(s, d))

  // lazy: interpolates qualitySql, which is declared later in the object
  private lazy val qualityReportSql = {
    val m = markers.map { case (l, _) => s"score_$l" }.mkString("GREATEST(", ", ", ")")
    val cases = markers.map { case (l, _) => s"WHEN score_$l = $m THEN '$l'" }.mkString(" ")
    val scoreExprs = markers.map { case (lang, ws) =>
      s"    CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ${sqlList(ws)})) AS BIGINT) AS score_$lang"
    }.mkString(",\n")
    s"""WITH q AS (SELECT * FROM (${qualitySql}) t),
       |scored AS (
       |  SELECT doc_id, source, lang, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
       |    CASE $cases ELSE 'und' END AS pred_lang
       |  FROM (SELECT doc_id, source, lang, n_chars, text,
       |$scoreExprs
       |        FROM documents) t)
       |SELECT s.source, s.lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(s.nw) AS BIGINT) AS n_tokens,
       |  CAST(SUM(s.n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(q.quality_bp) // COUNT(*) AS BIGINT) AS avg_quality_bp,
       |  CAST(SUM(CASE WHEN s.pred_lang <> s.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_mismatch
       |FROM scored s JOIN q ON q.doc_id = s.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  // --- quality score -------------------------------------------------
  /** Scores leave as BASIS-POINT BIGINTs (x/10000), not round(x, 4):
    * fractional ROUND differs between engines at boundary doubles
    * (DuckDB scales by 10^4 before rounding, which itself rounds —
    * observed 0.4902 vs 0.4903 on this corpus), while rounding to
    * integer scale has no scaling multiply and both engines round
    * positive halves away from zero identically.
    */
  /** Appends the four score columns to the input (all input columns
    * pass through) so composing operators — token-budget selection,
    * curation gates — score in the SAME projection as their other
    * work: one scan, no corpus-sized re-join on doc_id.
    */
  def qualityScores(docs: DataFrame): DataFrame = {
    val stop = markers.toMap.apply("en")
    val nStop = size(filter(wsAll, w => array_contains(typedlit(stop), w))).cast(DoubleType)
    val lenScore = least(nWords.cast(DoubleType) / 100.0, lit(1.0))
    val stopRatio = nStop / nWords
    val ttr = size(wsDistinct).cast(DoubleType) / nWords
    def bp(c: Column): Column = round(c * 10000.0, 0).cast(LongType)
    docs.withColumns(Map(
      "len_score_bp" -> bp(lenScore),
      "stop_ratio_bp" -> bp(stopRatio),
      "type_token_ratio_bp" -> bp(ttr),
      "quality_bp" -> bp(lenScore * 0.4 + stopRatio * 0.3 + ttr * 0.3)))
  }

  private def quality(s: SparkSession, d: String): DataFrame =
    qualityScores(Tables.documents(s, d)).select("doc_id",
      "len_score_bp", "stop_ratio_bp", "type_token_ratio_bp", "quality_bp")

  private[graft] val qualitySql = {
    val stop = sqlList(markers.toMap.apply("en"))
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
      |    CAST(len(list_filter(string_split(text, ' '), x -> list_contains(STOP, x))) AS DOUBLE) AS ns,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(ROUND(LEAST(nw / 100.0, 1.0) * 10000.0) AS BIGINT) AS len_score_bp,
      |  CAST(ROUND((ns / nw) * 10000.0) AS BIGINT) AS stop_ratio_bp,
      |  CAST(ROUND((nd / nw) * 10000.0) AS BIGINT) AS type_token_ratio_bp,
      |  CAST(ROUND((LEAST(nw / 100.0, 1.0) * 0.4 + (ns / nw) * 0.3 + (nd / nw) * 0.3) * 10000.0) AS BIGINT) AS quality_bp
      |FROM t""".stripMargin.replace("STOP", stop)
  }

  // --- token counting ------------------------------------------------
  private val tokenRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  private def tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      nWords.as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(tokenRe), lit(0))).cast(LongType).as("n_re_tokens"))

  private val tokensSql =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$tokenRe')) AS BIGINT) AS n_re_tokens
       |FROM documents""".stripMargin

  // --- character entropy ---------------------------------------------
  /** Per-doc character-level Shannon entropy — the classic gibberish /
    * encoded-blob signal (natural language sits ~2.7-4.3 nats·1e6 at
    * this granularity; base64 noise and single-char runs land far
    * outside). Each char class contributes
    * FLOOR(1e6 · (c/n) · ln(n/c)) BEFORE the per-doc sum — the same
    * order-independent integer quantization as [[lmScores]], so the
    * sum is exact and engine-stable.
    *
    * Plan: explode to (doc, char) → partial-aggregated groupBy (the
    * shuffle carries ≤ |alphabet| rows per doc, not corpus bytes) →
    * per-doc window over those ≤ |alphabet| rows (bounded by
    * construction) → per-doc sum. Scan-bound at 100 TB.
    */
  def charEntropy(docs0: DataFrame): DataFrame = {
    val docs = Tables.fanned(docs0, col("doc_id")) // single-split input, §2.5
    val counts = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val perDoc = Window.partitionBy("doc_id")
    counts
      .withColumn("n", sum(col("c")).over(perDoc))
      .withColumn("q",
        floor(lit(1000000.0) * col("c") * log(col("n").cast(DoubleType) / col("c")) / col("n"))
          .cast(LongType))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("q")).as("entropy_x1e6"))
  }

  private def entropy(s: SparkSession, d: String): DataFrame =
    charEntropy(Tables.documents(s, d))

  private val entropySql =
    """WITH ch AS (
      |  SELECT doc_id, u.ch
      |  FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents) t,
      |       UNNEST(cs) AS u(ch)),
      |cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
      |tot AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY 1)
      |SELECT cnt.doc_id,
      |  CAST(MAX(t.n) AS BIGINT) AS n_chars,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
      |  CAST(SUM(CAST(FLOOR(1000000.0 * cnt.c * ln(CAST(t.n AS DOUBLE) / cnt.c) / t.n) AS BIGINT)) AS BIGINT) AS entropy_x1e6
      |FROM cnt JOIN tot t ON cnt.doc_id = t.doc_id
      |GROUP BY cnt.doc_id""".stripMargin

  // --- content fingerprint -------------------------------------------
  private def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(wsDistinct))).as("fingerprint"),
      size(wsDistinct).cast(LongType).as("n_distinct_words"))

  private val fingerprintSql =
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words
      |FROM documents""".stripMargin

  // --- corpus word frequency: top 20 -------------------------------
  private def wordFreq(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(20)

  private val wordFreqSql =
    """SELECT w AS word, COUNT(*) AS n
      |FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      |GROUP BY w ORDER BY n DESC, word ASC LIMIT 20""".stripMargin

  // --- tf-idf: top-3 terms per document ------------------------------
  /** tf = occurrences in doc; idf = ln(N / df) over distinct-word doc
    * frequency. Top-3 terms per doc with (score desc, word asc)
    * tiebreak. Join on word is the only shuffle; df table is
    * dimension-sized (vocabulary) and broadcast.
    */
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // corpus size folded into the plan as a broadcast 1-row agg — no
    // separate driver-side count() action/job
    val nDf = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    // bare keyed repartition ON PURPOSE (not Tables.fanned): AQE right-
    // sizes this exchange by bytes, and the weight table's many cached-
    // frame consumer stages are cheaper at AQE's coalesced width than
    // at a pinned 32 (bench A/B r15: pinning cost +0.11 s on
    // text_tfidf_sim / +0.10 s on vdb_more_like_this)
    val words = docs.repartition(col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // df DERIVED from tf, not from a second explode+distinct: tf holds
    // exactly one row per distinct (doc_id, word), so counting tf rows
    // per word IS the document frequency — identical values, one fewer
    // corpus explode and no distinct shuffle (r15; the oracle keeps the
    // textbook DISTINCT formulation, values provably equal)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score0"), asc("word"))
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(nDf))
      .withColumn("score0", col("tf") * log(col("__n_docs") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
        col("word"), round(col("score0"), 4).as("tfidf"))
  }

  private val tfidfSql =
    """WITH words AS (
      |  SELECT doc_id, w AS word FROM documents, UNNEST(string_split(text, ' ')) AS t(w)),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.word, tf.tf * ln(n.n / df.df) AS s
      |  FROM tf JOIN df USING (word) CROSS JOIN n)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, word, ROUND(s, 4) AS tfidf
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, word ASC) AS rank
      |      FROM scored) q
      |WHERE rank <= 3""".stripMargin

  // --- sparse tf-idf document similarity -----------------------------
  /** Doc-to-doc top-5 by SPARSE tf-idf cosine — the inverted-index
    * complement to the dense embedding knn family: similarity flows
    * through an equi-join on shared TERMS, so only term-overlapping
    * doc pairs are ever scored (no dense all-pairs shape anywhere).
    * Query docs 0-2 rank the rest of the corpus.
    *
    * Determinism: weights quantize to 1e4-scaled BIGINTs (same
    * integer-micro-unit convention as text_lm_score), so dots and
    * norms are ORDER-INDEPENDENT integer sums — a double SUM here
    * would hash-drift on shuffle order. The final
    * `dot / (sqrt(nq)·sqrt(nd))` is correctly-rounded IEEE ops on
    * identical integers, bit-equal in both engines.
    *
    * Scale shape: the corpus-side weight table is one explode + two
    * hash aggregates (corpus-volume, the tf-idf build the pipeline
    * already pays); the QUERY side is a handful of docs whose weights
    * broadcast, so scoring is a map-side join over the corpus scan +
    * one partial-aggregated groupBy — per-query cost rides document
    * frequency of the query's terms, never corpus².
    */
  private def tfidfSim(s: SparkSession, d: String): DataFrame =
    tfidfCosineNeighbors(s, d, Seq(0L, 1L, 2L), k = 5)
      .select(col("q_id"), col("rank").cast(LongType).as("rank"),
        col("doc_id"), round(col("sim0"), 4).as("sim"))

  /** The sparse-cosine KERNEL behind [[tfidfSim]] and the lexical arm
    * of query-by-example ([[graft.vector.Serving]]'s
    * `vdb_more_like_this`): per query doc, the top-`k` corpus docs by
    * tf-idf cosine, emitted UNROUNDED as (q_id, rank, doc_id, sim0) so
    * each caller applies its own display contract. One shared
    * definition keeps the integer-weight determinism convention (see
    * the scaladoc above) in exactly one place.
    */
  private[graft] def tfidfCosineNeighbors(s: SparkSession, d: String,
                                          qIds: Seq[Long], k: Int): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDf = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    // bare keyed repartition ON PURPOSE (not Tables.fanned): AQE right-
    // sizes this exchange by bytes, and the weight table's many cached-
    // frame consumer stages are cheaper at AQE's coalesced width than
    // at a pinned 32 (bench A/B r15: pinning cost +0.11 s on
    // text_tfidf_sim / +0.10 s on vdb_more_like_this)
    val words = docs.repartition(col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    // tf materialized ONCE, eagerly (r15): it feeds the broadcast df
    // build AND the weight projection — racing/recomputing the explode
    // + aggregate per consumer was the kernel's residual double pass.
    // The eager localCheckpoint is the same compute-once discipline as
    // the cached wts below (both are distinct-(doc,word)-sized — the
    // inverted-index build intermediate a real indexer materializes).
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // df DERIVED from tf (one row per distinct (doc_id, word) by
    // construction): identical values, no second explode, no distinct
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    // EAGER localCheckpoint (r16, was a lazy .cache()): norms (twice —
    // the nq and nd sides), the broadcast query side, and the dots
    // probe all reference this weight subtree, and the consumers
    // launch as concurrent broadcast-build jobs that raced the cold
    // cache (profiled as 3-4 sequential ~150 ms single-task stages per
    // call re-deriving the weights). Same distinct-(doc,word)-bounded
    // posture as the tf checkpoint it reads — which is superseded once
    // the weights exist, so its blocks release here; the weight blocks
    // release via Bench's unpersistCheckpoint (the returned plan's
    // LogicalRDD leaves all share this one RDD).
    val wts = tf.join(broadcast(df), "word").crossJoin(broadcast(nDf))
      .select(col("doc_id"), col("word"),
        round(col("tf") * log(col("__n_docs") / col("df")) * 10000.0, 0)
          .cast(LongType).as("w"))
      .localCheckpoint(true)
    org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(tf)
    cosineNeighborsFromWeights(wts, col("doc_id").isin(qIds: _*), k)
  }

  /** The ranking half of the sparse-cosine kernel, over an ALREADY
    * BUILT (cached) integer weight frame (doc_id, word, w) — shared by
    * the raw-text path above and the POSTINGS-served path
    * ([[graft.text.TermIndex.moreLikeThis]]: same weight formula
    * computed from the maintained index's tf/df/N, so served and
    * one-shot rank on bit-identical integers). `isQuery` selects the
    * example docs' weight rows (broadcast — per-query cost rides the
    * examples' term df, never corpus²).
    */
  private[graft] def cosineNeighborsFromWeights(wts: DataFrame,
                                                isQuery: org.apache.spark.sql.Column,
                                                k: Int): DataFrame = {
    val norms = wts.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val qw = wts.filter(isQuery)
      .select(col("doc_id").as("q_id"), col("word"), col("w").as("wq"))
    val dots = wts.as("d")
      .join(broadcast(qw).as("q"),
        col("d.word") === col("q.word") && col("d.doc_id") =!= col("q.q_id"))
      .groupBy(col("q.q_id").as("q_id"), col("d.doc_id").as("doc_id"))
      .agg(sum(col("q.wq") * col("d.w")).as("dot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("sim0"), asc("doc_id"))
    dots
      .join(norms.select(col("doc_id").as("q_id"), col("n2").as("nq")), "q_id")
      .join(norms.select(col("doc_id"), col("n2").as("nd")), "doc_id")
      .withColumn("sim0", col("dot") / (sqrt(col("nq")) * sqrt(col("nd"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("sim0"))
  }

  /** The integer tf-idf weight CTE chain (words → tf → df → n → wts →
    * norms) — ONE definition shared by [[tfidfSimSql]] and the
    * `vdb_more_like_this` oracle's lexical arm (graft.vector.Serving),
    * the keyword-side analogue of the shared bm25CtesFor.
    */
  private[graft] val tfidfWeightCtes =
    """words AS (
      |  SELECT doc_id, w AS word FROM documents, UNNEST(string_split(text, ' ')) AS t(w)),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |wts AS (
      |  SELECT tf.doc_id, tf.word,
      |         CAST(ROUND(tf.tf * ln(n.n / df.df) * 10000.0) AS BIGINT) AS w
      |  FROM tf JOIN df USING (word) CROSS JOIN n),
      |norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM wts GROUP BY 1)""".stripMargin

  private val tfidfSimSql =
    s"""WITH $tfidfWeightCtes,
      |dots AS (
      |  SELECT q.doc_id AS q_id, d.doc_id AS doc_id, CAST(SUM(q.w * d.w) AS BIGINT) AS dot
      |  FROM wts q JOIN wts d ON q.word = d.word AND d.doc_id <> q.doc_id
      |  WHERE q.doc_id < 3
      |  GROUP BY 1, 2)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ROUND(sim0, 4) AS sim
      |FROM (SELECT dots.q_id, dots.doc_id,
      |        dots.dot / (sqrt(nq.n2) * sqrt(nd.n2)) AS sim0,
      |        ROW_NUMBER() OVER (PARTITION BY dots.q_id
      |          ORDER BY dots.dot / (sqrt(nq.n2) * sqrt(nd.n2)) DESC, dots.doc_id) AS rank
      |      FROM dots
      |      JOIN norms nq ON nq.doc_id = dots.q_id
      |      JOIN norms nd ON nd.doc_id = dots.doc_id) z
      |WHERE rank <= 5""".stripMargin

  // --- per-doc characteristic terms, served from the index -----------
  /** Every document's 3 most characteristic terms SERVED from the
    * shared flat TermIndex — `TermIndex.topTerms` (tf·idf over the
    * index's own statistics: tf from the doc's live postings, df from
    * live postings, N from the meta fold; BM25's idf shape
    * ln(1 + (N − df + 0.5)/(df + 0.5)); ties term-asc) as a registered
    * query. This is query-by-example's keyword-arm primitive and the
    * fusion-recall bootstrap's query sample
    * ([[graft.vector.VectorStore.fusionSampleFrom]]) — registering it
    * pins the term derivation itself against the one-shot oracle, not
    * just its downstream consumers. The terms column ships joined with
    * single spaces (rank order) — an array column would hash
    * engine-dependently. Cost: one postings scan for the docs' own
    * rows plus one partial-aggregated postings pass for df —
    * index-served, document text untouched. The id frame is
    * CORPUS-SIZED here, so the scan joins it unbroadcast
    * (broadcastIds = false — page-shaped probes keep their broadcast).
    * Reference anchor: none (its embed/search has no lexical
    * explanation surface); this is the "why did these match" verb.
    */
  private def topTermsServed(s: SparkSession, d: String): DataFrame = {
    val idx = servedIdx(s, d, positional = false)
    idx.topTerms(Tables.documents(s, d).select("doc_id"), n = 3,
        broadcastIds = false)
      .select(col("doc_id"), concat_ws(" ", col("terms")).as("top_terms"))
  }

  /** One-shot replay of the index statistics: same space-split
    * tokenization (every token kept), same idf, same (score desc,
    * term asc) tiebreak — a green row proves the SERVED derivation
    * equals the declarative one.
    */
  private val topTermsSql =
    """WITH words AS (
      |  SELECT doc_id, w AS word FROM documents, UNNEST(string_split(text, ' ')) AS t(w)),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.word,
      |         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |           ORDER BY ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5)) * tf.tf DESC,
      |                    tf.word ASC) AS r
      |  FROM tf JOIN df USING (word) CROSS JOIN n)
      |SELECT doc_id, string_agg(word, ' ' ORDER BY r) AS top_terms
      |FROM ranked WHERE r <= 3 GROUP BY doc_id""".stripMargin

  // --- within-document repetition (Gopher-style quality signals) -----
  /** Repetition signals per document, the Gopher repetition filters
    * (Rae et al. 2021, §A1.1): share of the corpus-free signals that
    * flag template/boilerplate text — most-frequent-word share,
    * duplicate-word share, duplicate-bigram share. All three are pure
    * per-document projections (no shuffle, scan-bound at 100 TB).
    * Ratios ship as x1e4 BIGINTs: the inputs are exact small integers,
    * so 10000.0·a/b is one correctly-rounded IEEE division in both
    * engines and FLOOR agrees bit-for-bit — no double-hash drift.
    *
    * The top-word count is a nested higher-order function —
    * O(distinct·total) per document, evaluated inside codegen with no
    * explode/shuffle. That quadratic bound is per DOCUMENT, not per
    * corpus: fine for context-window-sized docs (≤ ~10k words); a
    * corpus of book-length docs should chunk first (pack_sequences'
    * windows are natural units).
    */
  private def repetition(s: SparkSession, d: String): DataFrame = {
    // the token array materializes BEFORE the nested lambda reads it:
    // `filter(ws, …)` sits inside transform's lambda, outside
    // common-subexpression elimination, so an inline split(text)
    // would re-tokenize the document once per DISTINCT WORD (measured
    // ~4x this operator's cost at sf0.1, round 12)
    val ws = col("__ws")
    val nw = size(ws).cast(LongType)
    val wsd = array_distinct(ws)
    val bigrams = zip_with(
      slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
      (a, b) => concat(a, lit(" "), b))
    val topCnt = array_max(transform(wsd, w => size(filter(ws, x => x === w))))
      .cast(LongType)
    val nBi = size(bigrams).cast(LongType)
    // per-doc O(distinct·total) scoring on a single-split scan ran on
    // one core — fan first (guide §2.5; gated no-op on real layouts)
    Tables.fanned(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), wsAll.as("__ws"))
      .select(
        col("doc_id"),
        nw.as("n_words"),
        floor(lit(10000.0) * topCnt / nw).as("top_word_share_x1e4"),
        floor(lit(10000.0) * (nw - size(wsd).cast(LongType)) / nw)
          .as("dup_word_share_x1e4"),
        when(nBi > 0,
          floor(lit(10000.0) * (nBi - size(array_distinct(bigrams)).cast(LongType)) / nBi))
          .otherwise(0L).as("dup_bigram_share_x1e4"))
  }

  private val repetitionSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT doc_id, ws,
      |        list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1]) AS bi
      |      FROM t)
      |SELECT doc_id,
      |  CAST(len(ws) AS BIGINT) AS n_words,
      |  CAST(FLOOR(10000.0 * list_max(list_transform(list_distinct(ws),
      |         w -> len(list_filter(ws, x -> x = w)))) / len(ws)) AS BIGINT) AS top_word_share_x1e4,
      |  CAST(FLOOR(10000.0 * (len(ws) - len(list_distinct(ws))) / len(ws)) AS BIGINT) AS dup_word_share_x1e4,
      |  CASE WHEN len(bi) > 0
      |       THEN CAST(FLOOR(10000.0 * (len(bi) - len(list_distinct(bi))) / len(bi)) AS BIGINT)
      |       ELSE CAST(0 AS BIGINT) END AS dup_bigram_share_x1e4
      |FROM b""".stripMargin

  // --- Count-Min heavy hitters (sketch vs exact) ---------------------
  /** Corpus top-20 words with BOTH the exact count and the Count-Min
    * estimate side by side — the demonstration harness for
    * [[graft.expressions.CountMinAgg]]. Two passes by design: pass 1
    * builds the sketch (one fixed-size buffer per map partition on the
    * shuffle — this is the only pass a 100 TB run needs, the exact
    * groupBy here exists to exhibit the estimate's guarantees); the
    * 64 KB sketch then re-enters pass 2's plan as a literal, the same
    * collect-a-codebook pattern as PQ, and estimation is a codegen'd
    * min-over-rows of array lookups. Rows-only: the paired-seed
    * XxHash64 layout has no DuckDB twin; CountMinSpec asserts the
    * sketch guarantees (never undercounts, overcount within e·N/width).
    */
  private def cmsTopk(s: SparkSession, d: String): DataFrame = {
    val depth = 4; val width = 2048
    val words = Tables.documents(s, d).select(explode(wsAll).as("word"))
    val sk = words.agg(CountMinAgg.sketch(col("word"), depth, width).as("sk"))
      .head().getSeq[Long](0)
    words.groupBy("word").agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), col("word").asc).limit(20)
      .withColumn("n_cms", CountMinAgg.estimate(typedlit(sk), col("word"), depth, width))
  }

  // --- PII scrub (fingerprinted so full text never leaves the query) -
  /** The test corpus is synthetic word-salad with no PII, so here
    * every n_pii is 0 and the fingerprint equals the original's — the
    * oracle still replays the full regex pipeline on both engines;
    * redaction on dirty text is spec-proven with injected emails/IPs
    * (TextMultimodalSpec).
    */
  private def scrubQuery(s: SparkSession, d: String): DataFrame =
    Scrub.scrub(Tables.documents(s, d))
      .select(col("doc_id"), col("n_pii"),
        md5(col("text_scrubbed")).as("scrubbed_fp"))

  private val scrubSql =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${Scrub.EmailPattern}'))
       |     + len(regexp_extract_all(text, '${Scrub.Ipv4Pattern}')) AS BIGINT) AS n_pii,
       |  md5(regexp_replace(regexp_replace(text, '${Scrub.EmailPattern}', '<EMAIL>', 'g'),
       |      '${Scrub.Ipv4Pattern}', '<IP>', 'g')) AS scrubbed_fp
       |FROM documents""".stripMargin

  // --- bigram LM quality score (CCNet-style perplexity proxy) --------
  /** Per-document language-model score: an add-one-smoothed token
    * bigram LM trained on the corpus itself scores each document by
    * its mean log-probability — the CCNet-style "how typical is this
    * text of the corpus" quality signal (Wenzek et al. 2020 rank by
    * LM perplexity; a self-trained bigram model is the in-sandbox
    * stand-in for their KenLM). Low scores flag gibberish / boilerplate
    * relative to the corpus distribution.
    *
    * P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V). Each bigram's log-prob is
    * FLOOR-quantized to integer micro-nats BEFORE the per-doc sum:
    * float addition isn't associative, and a double sum over a shuffled
    * join's arrival order would drift between runs and engines — the
    * integer sum is order-independent and exact (|q| <= ~20 bits per
    * bigram, far inside long range). The count tables are
    * vocabulary-sized, so they are NOT broadcast: both sides shuffle on
    * the bigram/word key (the honest 100 TB plan; partial aggregation
    * keeps the shuffle at distinct-key volume).
    */
  /** Emits one row per input doc: docs with fewer than two tokens have
    * no bigrams, score NULL (no evidence, not "bad"), n_bigrams 0 —
    * rather than silently vanishing from the output, which would make
    * a left-joining consumer misread "unscorable" as "failed".
    */
  def lmScores(docs0: DataFrame): DataFrame = {
    // the bigram explode feeds three consumers (pairs/c2 twice via the
    // self-join, plus the word side) and the input scan is a single
    // split on the test layout — fan once here so every pass above
    // runs wide (guide §2.5; identity when the scan is already
    // parallel)
    val docs = Tables.fanned(docs0, col("doc_id"))
    val bigramsArr = zip_with(
      slice(wsAll, lit(1), size(wsAll) - 1), slice(wsAll, lit(2), size(wsAll) - 1),
      (a, b) => concat(a, lit(" "), b))
    // NOTE (r15): pre-partitioning `pairs` on the join key to share one
    // exchange between c2 and the scoring join was tried and REVERTED:
    // per-branch column pruning makes the two exchange subtrees
    // non-identical (c2 prunes to `bigram` alone), so ReuseExchange
    // never fires and the explode ran twice ANYWAY, now with bigger
    // shuffle writes (measured +0.3 s on text_lm_score).
    val pairs = docs.select(col("doc_id"), explode(bigramsArr).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val wordsAll = docs.select(explode(wsAll).as("word"))
    val c2 = pairs.groupBy("bigram").agg(count(lit(1)).as("c2"))
    // c1 materializes EAGERLY (vocabulary-sized — the same bounded
    // posture as the dedup signature tables), because it feeds the
    // scoring join AND the V scalar: V = COUNT(DISTINCT word) over the
    // corpus ≡ the row count of c1 (c1 has exactly one row per
    // distinct word), so deriving it removes lmScores' third full
    // corpus explode — r16 profile showed the countDistinct pass alone
    // at 5-9 s of task time per call, concurrent with (not shared
    // with) c1's own explode. Values are provably identical; the
    // oracle keeps the textbook COUNT(DISTINCT) formulation.
    val c1 = wordsAll.groupBy("word").agg(count(lit(1)).as("c1"))
      .localCheckpoint(true)
    val vocab = c1.agg(count(lit(1)).cast(DoubleType).as("v"))
    val scored = pairs.join(c2, "bigram")
      .join(c1.withColumnRenamed("word", "w1"), "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("q",
        floor(log((col("c2") + 1).cast(DoubleType) / (col("c1") + col("v"))) * 1000000.0)
          .cast(LongType))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("__sq"))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("__sq").cast(DoubleType) / col("n_bigrams")).cast(LongType)
          .as("avg_logp_x1e6"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logp_x1e6"))
  }

  private def lmScore(s: SparkSession, d: String): DataFrame =
    lmScores(Tables.documents(s, d))

  private val lmScoreSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS bigram
      |       FROM w, UNNEST(generate_series(1, len(ws)-1)) AS t(i)),
      |c2 AS (SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY 1),
      |c1 AS (SELECT u.w AS word, COUNT(*) AS c1 FROM w, UNNEST(ws) AS u(w) GROUP BY 1),
      |v AS (SELECT CAST(COUNT(DISTINCT u.w) AS DOUBLE) AS v FROM w, UNNEST(ws) AS u(w)),
      |q AS (SELECT bg.doc_id,
      |        CAST(FLOOR(ln((c2.c2 + 1) / (c1.c1 + v.v)) * 1000000.0) AS BIGINT) AS q
      |      FROM bg JOIN c2 USING (bigram) JOIN c1 ON bg.w1 = c1.word CROSS JOIN v),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |         CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_logp_x1e6
      |  FROM q GROUP BY 1)
      |SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.avg_logp_x1e6
      |FROM documents d LEFT JOIN scored s USING (doc_id)""".stripMargin

  // --- perplexity bucketing (CCNet head/middle/tail) -----------------
  /** CCNet-style perplexity partition (Wenzek et al. 2020 §4.3): rank
    * the corpus by LM score and cut into terciles — "head" (most
    * corpus-typical, usually cleanest), "middle", "tail" (likely
    * gibberish / boilerplate). Downstream pipelines train on head+
    * middle or weight buckets differently; this emits the per-doc
    * assignment. Unscorable docs (< 2 tokens, score NULL) are excluded
    * from ranking rather than defaulted into "tail" — no evidence is
    * not bad evidence.
    *
    * NTILE over (score DESC, doc_id) is a TOTAL order, so bucket edges
    * are engine-deterministic. Like q_deciles, the exact tercile is a
    * global sort; at 100 TB the cut-points come from approx-percentile
    * over scores (2 values broadcast) and assignment becomes a pure
    * projection — registered query keeps the exact form for oracle
    * parity.
    */
  private def pplBucket(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("avg_logp_x1e6").desc, col("doc_id"))
    lmScores(Tables.documents(s, d))
      .filter(col("n_bigrams") > 0)
      .select(col("doc_id"), col("avg_logp_x1e6"), ntile(3).over(w).as("b"))
      .select(col("doc_id"), col("avg_logp_x1e6"),
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  private val pplBucketSql =
    s"""SELECT doc_id, avg_logp_x1e6,
       |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
       |FROM (SELECT doc_id, avg_logp_x1e6,
       |        NTILE(3) OVER (ORDER BY avg_logp_x1e6 DESC, doc_id) AS b
       |      FROM ($lmScoreSql) lm WHERE n_bigrams > 0) t""".stripMargin

  /** The 100 TB tercile plan [[pplBucket]]'s scaladoc promises: the
    * 33rd/67th percentile cut-points come from one KLL-sketch
    * aggregation (2 longs, taken eagerly driver-side) and bucket
    * assignment is a pure projection with the cuts as literals — no
    * global sort. The LM scoring (the heaviest text pass: bigram
    * explode + two count-table joins) runs ONCE: the slim
    * (doc_id, score) frame is localCheckpoint'd eagerly, the sketch
    * cut reads the checkpoint blocks, and the returned assignment
    * plan reads the same blocks — cut + assignment share one LM pass.
    * Rows-only (sketch cuts are engine-specific); CurationOpsSpec
    * bounds bucket-size drift vs the exact NTILE terciles. Ties land
    * in the lower bucket (`> cut`), mirroring NTILE's bias closely
    * enough for the bound.
    */
  private def pplBucketApprox(s: SparkSession, d: String): DataFrame = {
    // eager localCheckpoint: materializes the scored frame once and
    // severs lineage, so the cuts action below AND the returned plan
    // both read the 2-column checkpoint blocks instead of re-running
    // the bigram-LM join pipeline (round-12 weak plan: double pass).
    val lm = lmScores(Tables.documents(s, d))
    val scored = lm
      .filter(col("n_bigrams") > 0)
      .select(col("doc_id"), col("avg_logp_x1e6"))
      .localCheckpoint(true)
    // scored supersedes the LM plan entirely — release its c1
    // vocabulary checkpoint (lm's only LogicalRDD leaf) before the
    // truncated-lineage frame hides it from Bench's per-timing cleanup
    org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(lm)
    val cuts = scored.agg(percentile_approx(col("avg_logp_x1e6"),
      typedlit(Seq(1.0 / 3, 2.0 / 3)), lit(10000))).head().getSeq[Long](0)
    scored.select(col("doc_id"), col("avg_logp_x1e6"),
      when(col("avg_logp_x1e6") > cuts(1), "head")
        .when(col("avg_logp_x1e6") > cuts(0), "middle")
        .otherwise("tail").as("ppl_bucket"))
  }

  // --- BM25 ranking --------------------------------------------------
  /** BM25 top-10 documents for a fixed conjunctive keyword query
    * (Robertson & Walker's Okapi weighting, k1=1.2 b=0.75) — the
    * keyword-retrieval scorer hybrid search pairs with the vector side
    * (the reference's keyword path is plain substring match; BM25 is
    * what a production lexical leg actually runs).
    *
    * Plan shape: one map-side pass computes per-doc term frequencies
    * and length; a 1-row corpus aggregate (N, total length, per-term
    * document frequencies — all EXACT integers, so avgdl and the idf
    * inputs are bit-identical across engines) broadcasts back via
    * cross join; scoring is a pure projection and the top-10 is a
    * TakeOrdered. No shuffle wider than the 1-row aggregate at any
    * corpus size.
    */
  private val bm25Terms = Seq("table", "hash", "merge")
  // private[graft]: TermIndex scores with THESE constants — one
  // definition, or the index's hash-exact parity contract silently
  // drifts on a retune
  private[graft] val (bmK1, bmB) = (1.2, 0.75)

  private def bm25(s: SparkSession, d: String): DataFrame = {
    def tf(t: String): Column = size(filter(wsAll, w => w === t)).cast(LongType)
    val perDoc = Tables.documents(s, d).select(
      col("doc_id") +: nWords.as("dl") +:
        bm25Terms.zipWithIndex.map { case (t, i) => tf(t).as(s"tf$i") }: _*)
    val aggCols = Seq(
      count(lit(1)).cast(DoubleType).as("n"),
      sum(col("dl")).cast(DoubleType).as("sdl")) ++
      bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast(DoubleType).as(s"df$i"))
    val corpus = perDoc.agg(aggCols.head, aggCols.tail: _*)
    val score = bm25Terms.indices.map { i =>
      val idf = log(lit(1.0) + (col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
      idf * (col(s"tf$i") * (bmK1 + 1.0)) /
        (col(s"tf$i") +
          lit(bmK1) * (lit(1.0 - bmB) + lit(bmB) * col("dl") / (col("sdl") / col("n"))))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(corpus))
      .withColumn("score0", score)
      .orderBy(desc("score0"), asc("doc_id"))
      .limit(10)
      .select(col("doc_id"), round(col("score0"), 4).as("bm25"))
  }

  private val bm25Sql = bm25SqlFor(bm25Terms, "WITH")

  /** The SERVED text-search path: the same BM25 top-10 as `text_bm25`
    * probed from a maintained [[TermIndex]] instead of re-deriving
    * tf/dl/df/N in-plan. Registered with #29g's OWN oracle SQL — a
    * green row proves index-served scoring reproduces the one-shot
    * expression hash-exactly (same tokenization, same float
    * association; see TermIndex's Scaladoc for the parity argument).
    * The timed cost here includes the build; a serving deployment
    * builds once and pays only the probe (TermIndexSpec measures the
    * probe plan's pushdown).
    */
  /** One DETERMINISTIC index directory per (source dataset, variant),
    * rebuilt (overwritten) each call: repeated bench/verify
    * invocations reuse the same path instead of accumulating
    * corpus-sized temp copies.
    */
  private[graft] def termIdxDir(d: String, suffix: String = ""): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-termidx-" +
      java.lang.Long.toHexString(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          d.getBytes("UTF-8"),
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          d.getBytes("UTF-8").length, 42) & 0xffffffffL) + suffix

  /** The SHARED maintained index the registered probe queries serve
    * from — a [[graft.Served]] artifact, built once per (sf dir,
    * layout) and reused by every query and bench pass after: the
    * maintained-index contract IS build-once-serve-many, so per-query
    * rebuilds would overstate serving cost ~5x (ScaleSmoke records
    * build cost separately). The layout-version suffix retires cached
    * dirs when the postings schema changes (bump it with any such
    * change).
    */
  private val idxLayoutVersion = 1
  private[graft] def servedIdx(s: SparkSession, d: String,
                               positional: Boolean): TermIndex =
    servedTermIdx(s, d, if (positional) "-pos-v" else "-flat-v", positional, None)

  private def servedTermIdx(s: SparkSession, d: String, tag: String,
                            positional: Boolean,
                            analyzer: Option[TermIndex.Analyzer]): TermIndex = {
    val dir = termIdxDir(d, tag + idxLayoutVersion)
    val idx = new TermIndex(s, dir, positional = positional, analyzer = analyzer)
    Served.ensure(s, dir, Tables.documents(s, d), "doc_id", "text")(docs =>
      idx.build(docs.select("doc_id", "text")))
    idx
  }

  // --- analyzed BM25: case folding + stopword removal (round 14) -----
  /** The analyzed serving surface: a production index wants lowercase
    * + stopword normalization (the first mismatch class a real search
    * caller hits — "Table" vs "table", "the" flooding dl), and the
    * whitespace convention is kept ONLY because the oracle replays it.
    * This index applies [[TermIndex.Analyzer]] at build AND probe, and
    * the oracle replays the identical normalization in SQL
    * (`list_filter(list_transform(..., lower), NOT IN stoplist)`), so
    * the hash-exact parity contract extends to analyzed scoring: same
    * analyzed tokens, same dl (stopwords excluded), same float
    * association. Probe terms arrive UN-normalized ("Table", "the",
    * "MERGE") — the index folds and drops them itself.
    */
  private val bm25AnalyzedProbe = Seq("Table", "the", "Hash", "MERGE")
  private[graft] val bm25Analyzer = graft.text.TermIndex.Analyzer(
    lowercase = true, stopwords = graft.text.TermIndex.EnglishStopwords)

  private[graft] def servedAnalyzedIdx(s: SparkSession, d: String,
                                       positional: Boolean = false): TermIndex =
    servedTermIdx(s, d, if (positional) "-anlpos-v" else "-anl-v", positional,
      Some(bm25Analyzer))

  private def bm25Analyzed(s: SparkSession, d: String): DataFrame =
    servedAnalyzedIdx(s, d).search(bm25AnalyzedProbe, k = 10,
      padFrom = Some(Tables.documents(s, d).select("doc_id")))

  /** The analyzed oracle: the SAME normalization as a SQL token
    * expression, and the probe terms pre-analyzed the way the index
    * analyzes them (fold, drop stopwords, first-occurrence dedup).
    */
  private def bm25AnalyzedSql: String =
    bm25SqlFor(analyzedProbeTerms(bm25AnalyzedProbe), "WITH",
      tokensSql = analyzedTokensSql)

  private def bm25Indexed(s: SparkSession, d: String): DataFrame = {
    // pure-BM25 probes: serve the positions-free shared index
    val idx = servedIdx(s, d, positional = false)
    // padFrom guards the fewer-than-k-matches case: the one-shot oracle
    // pads its top-k with 0.0-score unmatched docs when the corpus is
    // small/filtered enough that < 10 docs match any term — without
    // the pad the served result would diverge exactly there
    idx.search(bm25Terms, k = 10,
      padFrom = Some(Tables.documents(s, d).select("doc_id")))
  }

  /** Filtered served search — `TermIndex.search(allowed)`: the same
    * BM25 probe restricted to an allowed doc_id set (here the English
    * slice — tenant/license/language in production), filter-THEN-rank
    * so the top-10 ranks only eligible docs. Collection statistics
    * stay index-global (the Lucene filter contract — see
    * `TermIndex.restrictTo`), which is exactly what the oracle pins:
    * its df/N/avgdl CTEs aggregate the FULL documents table while the
    * final cut keeps allowed matches only. Completes the predicated-
    * retrieval story on the keyword arm (`searchWhere` is the vector
    * twin). Matched-only (no 0.0 padding), like every batch probe.
    */
  private def bm25Filtered(s: SparkSession, d: String): DataFrame = {
    val idx = servedIdx(s, d, positional = false)
    idx.search(bm25Terms, k = 10,
      allowed = Some(Tables.documents(s, d)
        .filter(col("lang") === "en").select("doc_id")))
  }

  private val bm25FilteredSql =
    bm25SqlFor(bm25Terms, "WITH", matchedOnly = true,
      allowedSql = Some("lang = 'en'"))

  /** Batched served search — `TermIndex.searchBatch` over a frame of
    * keyword queries (the text twin of `vdb_knn_batch_ivf`): one
    * term-pruned postings scan serves every query's top-10 at once.
    * Oracle: the one-shot BM25 SQL instantiated per query and
    * UNION ALLed — a green row proves batch assembly (sort-by-position
    * contribution sums) reproduces the per-query float association
    * hash-exactly.
    */
  private val bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> bm25Terms,
    1L -> Seq("scan", "filter", "join"),
    2L -> Seq("vector", "stream"))

  private def bm25Batch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = servedIdx(s, d, positional = false)
    idx.searchBatch(bm25BatchQueries.toDF("query_id", "terms"), k = 10)
  }

  /** [[bm25Sql]]'s derivation parameterized by the term list — the
    * per-query building block of the batched oracle. `matchedOnly`
    * drops 0.0-score docs BEFORE the top-k cut: `searchBatch` never
    * pads with unmatched docs (batch probes are no-padding by
    * contract), so its oracle must not either — without the filter,
    * parity would hold only while every query matches ≥ 10 docs at
    * the tested SF, and a term-list tweak could silently flip the
    * row. A matched doc's score is strictly positive (idf's log
    * argument > 1), so `score0 > 0` separates the two sets exactly.
    */
  /** The one-shot BM25 CTE pair — `d AS (...), c AS (...)` plus the
    * score expression over them — shared by every oracle that replays
    * served BM25 (the single definition keeping the SQL formula in
    * lockstep with the index's `contribCol`).
    */
  private[graft] def bm25CtesFor(terms: Seq[String],
                                 tokensSql: String =
                                   "string_split(text, ' ')"): (String, String) = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"    CAST(len(list_filter($tokensSql, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n")
    val dfs = terms.indices.map(i =>
      s"    CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i").mkString(",\n")
    val score = terms.indices.map(i =>
      s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${bmK1 + 1.0}) / " +
        s"(tf$i + $bmK1 * ((1.0 - $bmB) + $bmB * dl / (sdl / n)))").mkString("\n      + ")
    val ctes =
      s"""d AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS dl,
         |$tfs
         |  FROM documents),
         |c AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dl) AS DOUBLE) AS sdl,
         |$dfs
         |  FROM d)""".stripMargin
    (ctes, score)
  }

  private def bm25SqlFor(terms: Seq[String], prefix: String,
                         matchedOnly: Boolean = false,
                         allowedSql: Option[String] = None,
                         tokensSql: String =
                           "string_split(text, ' ')"): String = {
    val (ctes, score) = bm25CtesFor(terms, tokensSql)
    val conds = (if (matchedOnly) Seq("score0 > 0") else Nil) ++
      allowedSql.map(p => s"doc_id IN (SELECT doc_id FROM documents WHERE $p)")
    val where = if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", "\n")
    s"""$prefix $ctes
       |SELECT doc_id, ROUND(score0, 4) AS bm25
       |FROM (SELECT d.doc_id,
       |      $score AS score0
       |      FROM d CROSS JOIN c) q
       |${where}ORDER BY score0 DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  private val bm25BatchSql =
    bm25BatchQueries.map { case (qid, terms) =>
      s"SELECT CAST($qid AS BIGINT) AS query_id, doc_id, bm25 FROM (\n" +
        bm25SqlFor(terms, "WITH", matchedOnly = true) + "\n)"
    }.mkString("\nUNION ALL\n")

  /** Exact-phrase search served from the positional postings —
    * `TermIndex.searchPhrase`: docs containing the consecutive token
    * sequence, ranked by OVERLAPPING occurrence count (the standard
    * positional-index semantics). The oracle enumerates window starts
    * over the split token list and compares slices — same counting,
    * from the raw text.
    */
  private val phraseTerms = Seq("merge", "join")

  private def phraseIndexed(s: SparkSession, d: String): DataFrame = {
    val idx = servedIdx(s, d, positional = true)
    idx.searchPhrase(phraseTerms, k = 10)
  }

  private val phraseIndexedSql = {
    val n = phraseTerms.size
    val cond = phraseTerms.zipWithIndex
      .map { case (t, j) => s"ws[i + $j] = '$t'" }.mkString(" AND ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c AS (SELECT doc_id,
       |        CAST(len(list_filter(range(1, len(ws) - ${n - 2}), i -> $cond)) AS BIGINT)
       |          AS n_occurrences
       |      FROM w)
       |SELECT doc_id, n_occurrences FROM c WHERE n_occurrences > 0
       |ORDER BY n_occurrences DESC, doc_id LIMIT 10""".stripMargin
  }

  /** Window-enumeration phrase oracle generalized to proximity: an
    * anchor position i (of the first term) counts iff every term j
    * appears within i + j ± slop (slop 0 = the exact-phrase
    * condition). Same anchor-count semantics as
    * `TermIndex.searchPhrase(slop = …)`, derived from the raw text.
    */
  private[graft] def phraseSqlFor(terms: Seq[String], slop: Int,
                                  allowedSql: Option[String] = None,
                                  limit: Int = 10,
                                  wsSql: String = "string_split(text, ' ')")
      : String = {
    val conds = terms.zipWithIndex.map { case (t, j) =>
      if (j == 0) s"ws[i] = '$t'"
      else if (slop == 0) s"i + $j <= len(ws) AND ws[i + $j] = '$t'"
      else s"len(list_filter(range(greatest(1, i + $j - $slop), " +
        s"least(len(ws), i + $j + $slop) + 1), q -> ws[q] = '$t')) > 0"
    }.mkString("\n          AND ")
    // an allowed slice restricts CANDIDATES; phrase ranking carries no
    // collection statistics, so filtering the source table is the
    // whole semantics (unlike the BM25 oracle's global-stat CTEs)
    val src = allowedSql.fold("documents")(p => s"documents WHERE $p")
    s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM $src),
       |c AS (SELECT doc_id,
       |        CAST(len(list_filter(range(1, len(ws) + 1), i -> $conds)) AS BIGINT)
       |          AS n_occurrences
       |      FROM w)
       |SELECT doc_id, n_occurrences FROM c WHERE n_occurrences > 0
       |ORDER BY n_occurrences DESC, doc_id LIMIT $limit""".stripMargin
  }

  /** Proximity (slop) phrase search — `searchPhrase(slop = 2)`: term j
    * may sit anywhere within anchor + j ± 2, the "merge …near… join"
    * query exact phrasing misses (at sf0.01 slop 2 matches ~3.5x the
    * docs the exact phrase does). Served from the SAME positional
    * postings as the exact probe; the oracle enumerates anchors over
    * the raw token list with the identical window condition.
    */
  private val slopTerms = Seq("merge", "join")

  private def phraseSlop(s: SparkSession, d: String): DataFrame = {
    val idx = servedIdx(s, d, positional = true)
    idx.searchPhrase(slopTerms, k = 10, slop = 2)
  }

  private val phraseSlopSql = phraseSqlFor(slopTerms, slop = 2)

  /** Predicated phrase search — `searchPhrase(allowed)`: the exact
    * phrase probe restricted to the English slice, completing the
    * filter-then-rank path across every text probe shape (BM25 one-
    * shot/batch got it as #29u). Phrase ranking carries no collection
    * statistics, so the semi-join's only job is pruning disallowed
    * candidates BEFORE the position intersect — cheaper than post-
    * filtering and, for a selective predicate, the only way to return
    * k allowed matches at all. Oracle = the window-enumeration SQL
    * over the filtered source table.
    */
  private def phraseFiltered(s: SparkSession, d: String): DataFrame = {
    val idx = servedIdx(s, d, positional = true)
    idx.searchPhrase(phraseTerms, k = 10,
      allowed = Some(Tables.documents(s, d)
        .filter(col("lang") === "en").select("doc_id")))
  }

  private val phraseFilteredSql =
    phraseSqlFor(phraseTerms, slop = 0, allowedSql = Some("lang = 'en'"))

  /** Batched phrase serving — `TermIndex.searchPhraseBatch` over a
    * 3-phrase (query_id, phrase) frame: one term-pruned postings scan
    * serves every phrase's top-10 (slot-keyed map reassembly). Oracle
    * = the window-enumeration SQL instantiated per phrase and
    * UNION ALLed — a green row proves the batch plan's map-indexed
    * counting equals the per-phrase joined-frames projection.
    */
  // --- ANALYZED phrase search (round 15) ------------------------------
  /** Phrase search over the ANALYZED positional index — the analyzer
    * folds case and drops stopword slots at build AND probe, so
    * positions number KEPT tokens and the phrase matches ACROSS elided
    * stopwords: the raw probe ("Merge", "the", "JOIN") analyzes to
    * ("merge", "join") and matches "merge the join" / "merge a join" /
    * "merge join" alike — the quoted-query behavior every production
    * analyzed index (Lucene with a stop filter) exhibits, which the
    * un-analyzed `text_phrase_indexed` cannot. The oracle replays the
    * identical normalization as the token-array expression inside the
    * window enumeration (kept-token positions, analyzed probe terms),
    * so a green row pins the renumbering contract end-to-end.
    */
  private val phraseAnalyzedProbe = Seq("Merge", "the", "JOIN")

  /** The probe as the analyzer rewrites it — lowercase fold + stopword
    * drop, duplicates and order kept (Analyzer.tokensCol's semantics,
    * mirrored driver-side for the oracle's literal terms).
    */
  private def analyzedSlots(raw: Seq[String]): Seq[String] =
    raw.map(_.toLowerCase(java.util.Locale.ROOT))
      .filterNot(bm25Analyzer.stopwords.toSet)

  /** BM25-probe analysis for an oracle's literal terms: fold + drop +
    * FIRST-OCCURRENCE dedup (what `search`/`searchBatch` do to raw
    * probe terms under the analyzer — phrases keep duplicates,
    * keyword probes collapse them).
    */
  private[graft] def analyzedProbeTerms(raw: Seq[String]): Seq[String] =
    analyzedSlots(raw).distinct

  /** The analyzer's normalization as a DuckDB token-array expression —
    * the oracle-side twin of [[bm25Analyzer]].tokensCol, shared by
    * every analyzed oracle so the SQL replay cannot drift.
    */
  private[graft] def analyzedTokensSql: String = {
    val stops = bm25Analyzer.stopwords.map(w => s"'$w'").mkString(", ")
    "list_filter(list_transform(string_split(text, ' '), " +
      s"x -> lower(x)), x -> x NOT IN ($stops))"
  }

  private def phraseAnalyzed(s: SparkSession, d: String): DataFrame =
    servedAnalyzedIdx(s, d, positional = true)
      .searchPhrase(phraseAnalyzedProbe, k = 10)

  private def phraseAnalyzedSql: String =
    phraseSqlFor(analyzedSlots(phraseAnalyzedProbe), slop = 0,
      wsSql = analyzedTokensSql)

  private val phraseBatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("merge", "join"),
    1L -> Seq("table", "hash"),
    2L -> Seq("part", "filter"))

  private def phraseBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = servedIdx(s, d, positional = true)
    idx.searchPhraseBatch(phraseBatchQueries.toDF("query_id", "phrase"), k = 10)
  }

  private val phraseBatchSql =
    phraseBatchQueries.map { case (qid, terms) =>
      s"SELECT CAST($qid AS BIGINT) AS query_id, doc_id, n_occurrences FROM (\n" +
        phraseSqlFor(terms, slop = 0) + "\n)"
    }.mkString("\nUNION ALL\n")

  /** Mixed exact/proximity batch — the per-query `slop` COLUMN
    * (`TermIndex.searchPhraseBatch` with (query_id, phrase, slop)
    * rows): one serving micro-batch carrying an exact phrase, a
    * slop-2 proximity query, and a slop-1 one, all from ONE
    * term-pruned postings scan; slop-0 rows keep the intersect fast
    * path (the branch is a per-row `when`). Oracle = the
    * window-enumeration SQL instantiated per (phrase, slop) and
    * UNION ALLed — a green row proves the per-row windows match the
    * per-phrase probes at each slop.
    */
  private val phraseMixedQueries: Seq[(Long, Seq[String], Int)] = Seq(
    (0L, Seq("merge", "join"), 2),
    (1L, Seq("table", "hash"), 0),
    (2L, Seq("part", "filter"), 1))

  private def phraseMixed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = servedIdx(s, d, positional = true)
    idx.searchPhraseBatch(phraseMixedQueries.toDF("query_id", "phrase", "slop"), k = 10)
  }

  private val phraseMixedSql =
    phraseMixedQueries.map { case (qid, terms, sl) =>
      s"SELECT CAST($qid AS BIGINT) AS query_id, doc_id, n_occurrences FROM (\n" +
        phraseSqlFor(terms, slop = sl) + "\n)"
    }.mkString("\nUNION ALL\n")

  // --- corpus trigram diversity: the boilerplate-source detector -----
  /** Distinct-trigram ratio per (source, lang) — the corpus-level
    * diversity diagnostic curation runs to catch templated or
    * boilerplate-heavy sources BEFORE they flood a training mix (a
    * source whose docs are stamped from one template shows a
    * collapsed ratio even when every doc hashes unique, so exact
    * dedup never sees it; the per-DOC twin is `text_repetition`).
    * Trigram convention matches [[graft.dedup.Dedup]]'s shingles
    * (consecutive space-split words). Scale shape: the total-count
    * side never explodes (it is `greatest(n_words-2, 0)` summed per
    * doc, a scan-bound projection); only the distinct side explodes,
    * and it shuffles trigram strings once into a per-group
    * count-distinct — the same cost class as `text_word_freq`.
    * Ratio is floor(x10000) over exact BIGINTs, hash-stable.
    */
  private def corpusDiversity(s: SparkSession, d: String): DataFrame =
    corpusDiversityFrame(s, d, countDistinct(col("s")).as("nd"))

  /** [[corpusDiversity]]'s 100 TB twin — the `q_approx_distinct`
    * treatment: the distinct side runs through HLL++
    * (`approx_count_distinct`, rsd 2%) instead of an exact
    * count-distinct, so the exchange carries one FIXED-SIZE sketch
    * per (source, lang, map partition) rather than the corpus's full
    * distinct-trigram volume — the operator becomes scan-bound, which
    * is the right trade for its actual consumer (a per-source health
    * dashboard watching for template collapse, where a 2% estimate
    * error cannot flip the diagnosis of a ratio that craters 10-100x
    * on templated sources). Rows-only by design (HLL estimates are
    * engine-specific); the spec bounds drift vs the exact ratio and
    * PlanAudit pins the partial-sketch aggregate shape.
    */
  private def corpusDiversityApprox(s: SparkSession, d: String): DataFrame =
    // the sketch never sees the trigram TEXT, so the approx twin
    // hashes the token triple in place (xxhash64 — one long per
    // trigram, no string concat/allocation on the exploded path;
    // 64-bit collisions are ~n²/2⁶⁵, noise next to the 2% rsd) —
    // the exact twin must keep real strings for oracle parity
    corpusDiversityFrame(s, d, approx_count_distinct(col("s"), 0.02).as("nd"),
      ws => i => xxhash64(element_at(ws, i), element_at(ws, i + 1),
        element_at(ws, i + 2)), fan = false)

  /** The shared diversity plan, parameterized by the distinct-side
    * aggregate (exact countDistinct or the HLL sketch) and the
    * per-position trigram representation (string for exact,
    * xxhash64 for the sketch). The total side never explodes —
    * `greatest(n_words − 2, 0)` summed per doc is a scan-bound
    * projection in both variants. The split token array MATERIALIZES
    * in its own projection before the lambda touches it: expressions
    * referenced from inside a higher-order function's lambda sit
    * outside common-subexpression elimination, so an inline
    * `split(text)` would re-tokenize the document for every
    * element_at — 3× per trigram (measured 40% of this operator's
    * cost at sf0.1, round 12).
    */
  private def corpusDiversityFrame(s: SparkSession, d: String,
                                   distinctAgg: Column,
                                   triOf: Column => Column => Column = ws => i =>
                                     concat_ws(" ", element_at(ws, i),
                                       element_at(ws, i + 1),
                                       element_at(ws, i + 2)),
                                   fan: Boolean = true): DataFrame = {
    // fan gated per twin: the exact countDistinct's string explode pays
    // off (−0.15 s, bench A/B r15), the HLL twin's sketch agg is too
    // cheap for the exchange (+0.33 s fanned at r15's flat width 32;
    // re-A/B'd at r16's byte-aware width 10 — still no win, 0.66 both
    // ways with the canary favoring fan-off, so the gate stands)
    val docs = if (fan) Tables.fanned(Tables.documents(s, d), col("doc_id"))
               else Tables.documents(s, d)
    val tri = docs.select(col("source"), col("lang"), wsAll.as("__ws"))
      .select(col("source"), col("lang"),
        explode(when(size(col("__ws")) >= 3,
            transform(sequence(lit(1), size(col("__ws")) - 2), triOf(col("__ws"))))
          .otherwise(array())).as("s"))
    val totals = docs
      .select(col("source"), col("lang"),
        greatest(size(wsAll) - 2, lit(0)).cast(LongType).as("nt"))
      .groupBy("source", "lang").agg(sum("nt").as("n_trigrams"))
    val distincts = tri.groupBy("source", "lang").agg(distinctAgg)
    totals.join(distincts, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"), col("n_trigrams"),
        coalesce(col("nd"), lit(0L)).as("n_distinct"),
        when(col("n_trigrams") > 0,
            floor(coalesce(col("nd"), lit(0L)) * 10000.0 / col("n_trigrams")))
          .otherwise(lit(0L)).cast(LongType).as("diversity_bp"))
  }

  private val corpusDiversitySql =
    """WITH w AS (SELECT source, lang, string_split(text, ' ') AS ws FROM documents),
      |tot AS (SELECT source, lang,
      |          CAST(SUM(GREATEST(len(ws) - 2, 0)) AS BIGINT) AS n_trigrams
      |        FROM w GROUP BY 1, 2),
      |tri AS (SELECT source, lang, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |        FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
      |dc AS (SELECT source, lang, COUNT(DISTINCT s) AS nd FROM tri GROUP BY 1, 2)
      |SELECT t.source, t.lang, t.n_trigrams,
      |       COALESCE(d.nd, 0) AS n_distinct,
      |       CAST(CASE WHEN t.n_trigrams > 0
      |            THEN FLOOR(COALESCE(d.nd, 0) * 10000.0 / t.n_trigrams)
      |            ELSE 0 END AS BIGINT) AS diversity_bp
      |FROM tot t LEFT JOIN dc d ON t.source = d.source AND t.lang = d.lang""".stripMargin

  // --- substring search (LIKE pushed to the scan) --------------------
  private def search(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("text").contains("vector") && col("lang") === "en")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast(LongType).as("n_chars"))

  private val searchSql =
    """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents WHERE text LIKE '%vector%' AND lang = 'en'""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lm_score"    -> (lmScore _),
    "text_ppl_bucket"  -> (pplBucket _),
    "text_ppl_bucket_approx" -> (pplBucketApprox _),
    "text_bm25"        -> (bm25 _),
    "text_bm25_indexed" -> (bm25Indexed _),
    "text_bm25_analyzed" -> (bm25Analyzed _),
    "text_bm25_filtered" -> (bm25Filtered _),
    "text_bm25_batch"  -> (bm25Batch _),
    "text_phrase_indexed" -> (phraseIndexed _),
    "text_phrase_filtered" -> (phraseFiltered _),
    "text_phrase_analyzed" -> (phraseAnalyzed _),
    "text_phrase_slop" -> (phraseSlop _),
    "text_phrase_batch" -> (phraseBatch _),
    "text_phrase_mixed" -> (phraseMixed _),
    "text_search"      -> (search _),
    "text_word_freq"   -> (wordFreq _),
    "text_tfidf"       -> (tfidf _),
    "text_tfidf_sim"   -> (tfidfSim _),
    "text_top_terms"   -> (topTermsServed _),
    "text_stats"       -> (stats _),
    "text_langid"      -> (langid _),
    "text_quality"     -> (quality _),
    "text_tokens"      -> (tokens _),
    "text_repetition"  -> (repetition _),
    "text_cms_topk"    -> (cmsTopk _),
    "text_scrub"       -> (scrubQuery _),
    "text_entropy"     -> (entropy _),
    "text_fingerprint" -> (fingerprint _),
    "corpus_quality_report" -> (qualityReportQ _),
    "corpus_diversity" -> (corpusDiversity _),
    "corpus_diversity_approx" -> (corpusDiversityApprox _))

  override val oracleSql: Map[String, String] = Map(
    "text_lm_score"    -> lmScoreSql,
    "text_ppl_bucket"  -> pplBucketSql,
    "text_bm25"        -> bm25Sql,
    "text_bm25_indexed" -> bm25Sql,
    "text_bm25_analyzed" -> bm25AnalyzedSql,
    "text_bm25_filtered" -> bm25FilteredSql,
    "text_bm25_batch"  -> bm25BatchSql,
    "text_phrase_indexed" -> phraseIndexedSql,
    "text_phrase_filtered" -> phraseFilteredSql,
    "text_phrase_analyzed" -> phraseAnalyzedSql,
    "text_phrase_slop" -> phraseSlopSql,
    "text_phrase_batch" -> phraseBatchSql,
    "text_phrase_mixed" -> phraseMixedSql,
    "text_search"      -> searchSql,
    "text_word_freq"   -> wordFreqSql,
    "text_tfidf"       -> tfidfSql,
    "text_tfidf_sim"   -> tfidfSimSql,
    "text_top_terms"   -> topTermsSql,
    "text_stats"       -> statsSql,
    "text_langid"      -> langidSql,
    "text_quality"     -> qualitySql,
    "text_tokens"      -> tokensSql,
    "text_repetition"  -> repetitionSql,
    "text_scrub"       -> scrubSql,
    "text_entropy"     -> entropySql,
    "text_fingerprint" -> fingerprintSql,
    "corpus_quality_report" -> qualityReportSql,
    "corpus_diversity" -> corpusDiversitySql)
}
