package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QueryModule, Tables}
import graft.embed.HashEmbedder
import graft.expressions.TopKAgg
import graft.expressions.VectorExpressions._
import graft.streaming.ServeStream

/** Serving-layer operators a production vector DB offers on top of the
  * raw knn core (SURVEY §2 block A): hybrid keyword+vector retrieval,
  * the knn JOIN (every vector is a query — the primitive behind
  * semantic dedup and embedding-based recommendation), the recall
  * evaluation that picks nprobe, and MMR-diversified results. The
  * reference serves single-vector /search (compute_server.py:106-138);
  * these are the query shapes its clients compose on the caller side,
  * re-expressed as single Spark plans.
  *
  * Determinism: same contract as [[VectorQueries]] — deterministic
  * centroid seeds, (score DESC, id ASC) tiebreaks everywhere, leaf
  * scores rounded to 4 decimals, rank arithmetic integer-exact.
  */
object Serving extends QueryModule {
  private val K = 4          // shard count (reference NUM_SHARDS)
  private val QUERY_ID = 0L  // fixed query vector/doc for single-query ops
  private val SHORTLIST = 50 // per-modality candidate depth for fusion
  private val RRF_K = 60     // standard reciprocal-rank-fusion constant

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  private def queryVec(s: SparkSession, d: String): Array[Double] =
    emb(s, d).filter(col("vec_id") === QUERY_ID)
      .select(col("embedding")).head().getSeq[Double](0).toArray

  // --- hybrid search: keyword rank + vector rank, RRF-fused ----------
  /** Reciprocal-rank fusion of a keyword shortlist and a vector
    * shortlist — the retrieval shape RAG stacks actually serve (vector
    * recall alone misses exact-term matches; BM25 alone misses
    * paraphrase). Each modality contributes a bounded TOP-SHORTLIST
    * list via TakeOrdered (k·partitions rows to the driver-side heap,
    * never a corpus sort); the row_number windows rank ≤SHORTLIST rows
    * post-limit, so the unpartitioned window is bounded by
    * construction. Fusion is a full-outer join of two 50-row frames:
    * score = Σ 1/(60+rank), absent modality contributes 0 (standard
    * RRF). Rank arithmetic is integer; the fused score is a sum of
    * exactly-reproducible double divisions, emitted x1e6 as BIGINT.
    */
  private def hybridSearch(s: SparkSession, d: String): DataFrame = {
    val kws = Seq("vector", "merge", "scan")
    val kwScore = kws.map(kw =>
        size(filter(split(col("text"), " "), w => w === kw)))
      .reduce(_ + _)
    val kwTop = Tables.documents(s, d).filter(col("doc_id") =!= QUERY_ID)
      .select(col("doc_id"), kwScore.as("kw_score"))
      .orderBy(desc("kw_score"), asc("doc_id")).limit(SHORTLIST)
      .withColumn("rank_kw",
        row_number().over(Window.orderBy(desc("kw_score"), asc("doc_id"))))
      .select(col("doc_id"), col("rank_kw"))
    val q = queryVec(s, d)
    val vTop = emb(s, d).filter(col("vec_id") =!= QUERY_ID)
      .select(col("vec_id").as("doc_id"),
        cosineSim(col("embedding"), typedlit(q.toSeq)).as("vscore"))
      .orderBy(desc("vscore"), asc("doc_id")).limit(SHORTLIST)
      .withColumn("rank_vec",
        row_number().over(Window.orderBy(desc("vscore"), asc("doc_id"))))
      .select(col("doc_id"), col("rank_vec"))
    val rrf = coalesce(lit(1.0) / (col("rank_kw") + RRF_K), lit(0.0)) +
      coalesce(lit(1.0) / (col("rank_vec") + RRF_K), lit(0.0))
    kwTop.join(vTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), rrf.as("rrf"),
        coalesce(col("rank_kw"), lit(0)).cast(LongType).as("rank_kw"),
        coalesce(col("rank_vec"), lit(0)).cast(LongType).as("rank_vec"))
      .orderBy(desc("rrf"), asc("doc_id")).limit(10)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("rrf"), asc("doc_id"))).cast(LongType))
      .select(col("rank"), col("doc_id"), col("rank_kw"), col("rank_vec"),
        round(col("rrf") * 1e6, 0).cast(LongType).as("rrf_x1e6"))
  }

  private val hybridSearchSql =
    """WITH kw AS (
      |  SELECT doc_id,
      |         len(list_filter(string_split(text, ' '), w -> w = 'vector')) +
      |         len(list_filter(string_split(text, ' '), w -> w = 'merge')) +
      |         len(list_filter(string_split(text, ' '), w -> w = 'scan')) AS kw_score
      |  FROM documents WHERE doc_id <> 0),
      |kwtop AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY kw_score DESC, doc_id) AS rank_kw
      |  FROM kw ORDER BY kw_score DESC, doc_id LIMIT 50),
      |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      |vs AS (SELECT e.vec_id AS doc_id,
      |              list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS vscore
      |       FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      |vtop AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY vscore DESC, doc_id) AS rank_vec
      |  FROM vs ORDER BY vscore DESC, doc_id LIMIT 50),
      |fused AS (
      |  SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
      |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + k.rank_kw), 0) +
      |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rank_vec), 0) AS rrf,
      |         COALESCE(k.rank_kw, 0) AS rank_kw,
      |         COALESCE(v.rank_vec, 0) AS rank_vec
      |  FROM kwtop k FULL OUTER JOIN vtop v ON k.doc_id = v.doc_id)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
      |       doc_id, CAST(rank_kw AS BIGINT) AS rank_kw,
      |       CAST(rank_vec AS BIGINT) AS rank_vec,
      |       CAST(ROUND(rrf * 1000000) AS BIGINT) AS rrf_x1e6
      |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  // --- hybrid at JOIN scale: batched RRF over both maintained indexes -
  /** Join-scale hybrid retrieval — [[hybridSearch]]'s RRF fusion for a
    * FRAME of queries, served from BOTH maintained indexes: the
    * keyword arm probes a [[graft.text.TermIndex]] via `searchBatch`
    * (one term-pruned postings scan for the whole batch), the vector
    * arm probes a [[VectorStore]] via `searchJoin` (one shard
    * equi-join, bounded-heap per-query shortlist), and fusion is a
    * full-outer join of two nQueries×shortlist frames — every stage
    * bounded, nothing corpus-sized shuffles beyond the two probes
    * themselves. `queries` is (query_id, terms array<string>, qv
    * array<double>); returns each query's top-k
    * (query_id, rank, doc_id, rank_kw, rank_vec, rrf_x1e6) with the
    * single-query semantics: score = Σ 1/(rrfK + rank), absent
    * modality contributes 0. Keyword ranks order by the served
    * 4-dp bm25 (deterministic across replays); vector ranks are
    * searchJoin's own. The store's ids must be the document ids.
    */
  def hybridJoin(idx: graft.text.TermIndex, store: VectorStore,
                 queries: DataFrame, topK: Int = 10, shortlist: Int = 50,
                 nprobe: Int = 2, rrfK: Int = RRF_K,
                 allowed: Option[DataFrame] = None,
                 excludeSelf: Boolean = false,
                 maxRowsPerTask: Long = 0L,
                 compressed: Boolean = false,
                 vecShortlist: Int = 100,
                 wKw: Double = 1.0, wVec: Double = 1.0): DataFrame =
    hybridJoinWith(idx, queries, topK, shortlist, rrfK, allowed,
      q => store.searchJoin(q, topK = shortlist, nprobe = nprobe,
        allowed = vecAllowed(store, allowed), excludeSelf = excludeSelf,
        maxRowsPerTask = maxRowsPerTask, compressed = compressed,
        shortlist = vecShortlist), wKw, wVec)

  /** The hybrid `allowed` set renamed to the store's id column — one
    * doc_id frame restricts BOTH arms (the store's ids are the
    * document ids by [[hybridJoin]]'s contract).
    */
  private def vecAllowed(store: VectorStore,
                         allowed: Option[DataFrame]): Option[DataFrame] =
    allowed.map(_.select(col("doc_id").cast(LongType).as(store.idCol)))

  /** The shared hybrid kernel: keyword arm from the maintained
    * [[graft.text.TermIndex]] (`searchBatch(allowed)` — filter-then-
    * rank with index-global statistics), vector arm supplied by the
    * caller (one-shot [[VectorStore.searchJoin]] with every mode
    * passthrough, or the stream-resolved closure), RRF-fused. At
    * 100 TB a hybrid batch wants the salted + compressed arm the
    * store already serves — `maxRowsPerTask`/`compressed` reach
    * searchJoin unchanged, and `excludeSelf` drops the vector arm's
    * self-match (the keyword arm ranks the full corpus: query terms
    * are not the query doc's own text).
    */
  private def hybridJoinWith(idx: graft.text.TermIndex, queries: DataFrame,
                             topK: Int, shortlist: Int, rrfK: Int,
                             allowed: Option[DataFrame],
                             vecArm: DataFrame => DataFrame,
                             wKw: Double = 1.0, wVec: Double = 1.0): DataFrame = {
    require(queries.columns.toSeq == Seq("query_id", "terms", "qv"),
      s"queries must be (query_id, terms, qv), got ${queries.columns.mkString(", ")}")
    fuseRrf(kwRanks(idx, queries, shortlist, allowed),
      vecRanks(vecArm(queries.select("query_id", "qv"))), topK, rrfK, wKw, wVec)
  }

  /** The keyword arm's (query_id, doc_id, rank_kw) shortlist — the
    * shortlist-bounded rank window every fusion arity shares.
    */
  private[vector] def kwRanks(idx: graft.text.TermIndex, queries: DataFrame,
                              shortlist: Int, allowed: Option[DataFrame]): DataFrame =
    idx.searchBatch(queries.select("query_id", "terms"), k = shortlist,
        allowed = allowed)
      .withColumn("rank_kw", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("bm25"), asc("doc_id"))))
      .select("query_id", "doc_id", "rank_kw")

  /** The phrase arm's (query_id, doc_id, rank_ph) shortlist. */
  private def phRanks(idx: graft.text.TermIndex, queries: DataFrame,
                      shortlist: Int, allowed: Option[DataFrame]): DataFrame =
    idx.searchPhraseBatch(queries.select("query_id", "phrase"),
        k = shortlist, allowed = allowed)
      .withColumn("rank_ph", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(desc("n_occurrences"), asc("doc_id"))))
      .select("query_id", "doc_id", "rank_ph")

  /** A searchJoin result reshaped to the fusion arm contract. */
  private[vector] def vecRanks(v: DataFrame): DataFrame =
    v.select(col("query_id"), col(v.columns(2)).as("doc_id"),
      col("rank").cast("int").as("rank_vec"))

  // --- fusion-level recall: served page vs exact-arm page -----------
  /** Replica-id pack base for [[fusionRecallFrame]]'s one-pass trick:
    * probe replicas carry `query_id · 64 + (prank − 1)` so one fused
    * broadcast pass ranks every (query, probe-depth-class) shortlist
    * at once. Bounds numShards ≤ 64 for the eval (not for serving).
    */
  private val FUSION_PACK = 64L

  /** The fusion-recall curve (round 13): for every probe depth p in
    * 1..k, how much of the EXACT hybrid page (keyword arm + exact
    * all-shards vector arm, RRF-fused) does the page served at
    * nprobe = p recover? IVF misses do NOT translate 1:1 into page
    * misses — RRF can re-surface a vector-missed doc through its
    * keyword rank, and can demote a doc the vector arm found — so the
    * vector recall curve ([[VectorStore.evalRecall]]) bounds but does
    * not determine the page-level metric a RAG caller actually
    * experiences. That metric is what this measures.
    *
    * ONE corpus pass for all depths: probe replicas carry
    * (query · 64 + prank − 1) as their id with the prank-th nearest
    * shard as their key, so the keyed [[graft.plans
    * .BroadcastTopKJoin]] emits each (query, prank)'s within-shard
    * top-(shortlist+1) in a single map-only scan (the +1 absorbs the
    * self row, dropped after unpacking — each group still covers its
    * non-self top-shortlist). A candidate visible at depth p is
    * visible at every deeper page, so per-depth vector shortlists are
    * a bounded re-rank of prank ≤ p groups (≤ nQueries·k²·shortlist
    * tiny rows — never the corpus), the keyword arm is
    * depth-independent, and the RRF pages + recall rollup are
    * arithmetic on page-sized frames.
    *
    * Output: (nprobe, recall_x1e4) — integer-exact
    * `hits·10⁴ div (nQueries·topK)`, recall ≡ 10⁴ at p = k by
    * construction. `kw` is the (query_id, doc_id, rank_kw) arm;
    * `assigned`/`queries` positional as in [[curveFrom]].
    */
  /** The packed probe replicas shared by both fusion-recall frames:
    * (query·64 + prank − 1, prank-th shard, qv).
    */
  private def packedProbes(queries: DataFrame,
                           cents: Seq[(Int, Array[Double])], k: Int): DataFrame =
    queries
      .select(col("query_id").cast(LongType).as("query_id"),
        posexplode(Centroids.nearestShards(col("qv"), cents, k))
          .as(Seq("__p0", "shard")),
        col("qv").cast("array<double>").as("qv"))
      .select((col("query_id") * FUSION_PACK + col("__p0")).as("query_id"),
        col("shard"), col("qv"))

  /** RRF of per-depth arm ranks + page cut + overlap rollup vs the
    * reference page — the ONE depth-parameterized tail both
    * fusion-recall frames share (the RRF formula, the (rrf desc, doc
    * asc) page window, and the hit rollup live only here, so the raw
    * and compressed curves cannot drift from each other). `vtop`:
    * (qid, nprobe, doc_id, rank_vec); `exactPage`: (qid, doc_id,
    * __hit), or None to reference this frame's OWN full-depth page
    * (the raw curve's self-reference — exact by construction at
    * nprobe = k).
    */
  private def fusionRollup(kw: DataFrame, vtop: DataFrame,
                           exactPage: Option[DataFrame], k: Int, topK: Int,
                           rrfK: Int, nQueries: Long): DataFrame = {
    val kwD = kw
      .select(col("query_id").cast(LongType).as("qid"), col("doc_id"),
        col("rank_kw"),
        explode(sequence(lit(1L), lit(k.toLong))).as("nprobe"))
    val rrf = coalesce(lit(1.0) / (col("rank_kw") + rrfK), lit(0.0)) +
      coalesce(lit(1.0) / (col("rank_vec") + rrfK), lit(0.0))
    // arm union + grouped fold instead of the full-outer join — the
    // same §2.4 rewrite as [[fuseRrf]] (arms unique on the group key
    // by their rank windows, so max() is exact and rrf identical)
    val u = kwD.select(col("qid"), col("nprobe"), col("doc_id"),
        col("rank_kw").cast(LongType).as("rank_kw"),
        lit(null).cast(LongType).as("rank_vec"))
      .unionAll(vtop.select(col("qid"), col("nprobe"), col("doc_id"),
        lit(null).cast(LongType).as("rank_kw"),
        col("rank_vec").cast(LongType).as("rank_vec")))
    val pages0 = u.groupBy("qid", "nprobe", "doc_id")
      .agg(max(col("rank_kw")).as("rank_kw"), max(col("rank_vec")).as("rank_vec"))
      .select(col("qid"), col("nprobe"), col("doc_id"), rrf.as("rrf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid", "nprobe").orderBy(desc("rrf"), asc("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("nprobe"), col("doc_id"))
    // Self-referencing raw curve (exactPage = None): `pages` is read
    // twice — the per-depth side AND the full-depth reference — and as
    // a lazy plan the ENTIRE arm subtree (keyword probe + packed-probe
    // corpus pass + per-depth windows) executed once per reference
    // (r16 profile: two corpus-scan+shuffle stages, 24 jobs for a
    // 4-row curve). The page cut is ≤ nQueries·k·topK rows by the
    // rank filter, so checkpoint it eagerly (guide §1.2) and derive
    // the reference from the materialized rows; the compressed twin
    // passes its own exactPage and reads pages once — no checkpoint.
    val pages = if (exactPage.isEmpty) pages0.localCheckpoint(true) else pages0
    val ref = exactPage.getOrElse(
      pages.filter(col("nprobe") === k.toLong)
        .select(col("qid"), col("doc_id"), lit(1L).as("__hit")))
    pages.join(ref, Seq("qid", "doc_id"), "left")
      .groupBy("nprobe")
      .agg((sum(coalesce(col("__hit"), lit(0L))) * 10000L).as("__h"))
      .select(col("nprobe"), expr(s"__h div ${nQueries * topK}").as("recall_x1e4"))
  }

  private[vector] def fusionRecallFrame(kw: DataFrame, assigned: DataFrame,
                                        queries: DataFrame,
                                        cents: Seq[(Int, Array[Double])], k: Int,
                                        topK: Int, shortlist: Int, rrfK: Int,
                                        nQueries: Long): DataFrame = {
    require(k > 0 && k <= FUSION_PACK,
      s"fusion recall packs prank into the replica id: numShards $k > $FUSION_PACK")
    // NOT fanned (r16 A/B): fanning this corpus pass regressed the
    // curve 1.36→1.87 s — the fan exchange lands on the critical path
    // ahead of the eager page checkpoint, and the scoring pass (~100
    // ms single-task) overlaps the kw arm's probe anyway.
    val corpusK = assigned.select(col("vec_id").cast(LongType).as("vec_id"),
      col("shard").cast(LongType).as("shard"),
      col("embedding").cast("array<double>").as("embedding"))
    val probes = packedProbes(queries, cents, k)
    val cand = graft.plans.BroadcastTopKJoin.ranked(corpusK, probes,
        k = shortlist + 1, excludeSelf = false, idName = "doc_id", keyed = true)
      .select(expr(s"query_id div $FUSION_PACK").as("qid"),
        (pmod(col("query_id"), lit(FUSION_PACK)) + 1).as("prank"),
        col("doc_id"), col("score"))
      .filter(col("doc_id") =!= col("qid"))
    // a candidate found at probe rank r is on every page of depth >= r
    val vtop = cand
      .select(col("qid"), col("doc_id"), col("score"),
        explode(sequence(col("prank"), lit(k.toLong))).as("nprobe"))
      .withColumn("rank_vec", row_number().over(
        Window.partitionBy("qid", "nprobe")
          .orderBy(desc("score"), asc("doc_id"))))
      .filter(col("rank_vec") <= shortlist)
      .select(col("qid"), col("nprobe"), col("doc_id"), col("rank_vec"))
    // the full-depth page IS the exact reference — self-referencing
    // rollup (exactPage = None)
    fusionRollup(kw, vtop, None, k, topK, rrfK, nQueries)
  }

  /** [[fusionRecallFrame]]'s COMPRESSED twin — the ADC-served page's
    * recall, still in ONE corpus pass (round 13: the keyed broadcast
    * exec's Adc metric makes the per-(query, prank) ADC shortlists a
    * single codes-only scan; previously this mode paid numShards
    * probe-bounded joins). Per depth p the served arm is: merge the
    * prank ≤ p groups' approx-ranked candidates → top-`vecShortlist`
    * by (approx desc, id asc) — the ADC truncation — → exact cosine
    * re-rank (each distinct (query, doc) pair scored ONCE against the
    * raw vectors; the pair set is ≤ nQueries·k·(vecShortlist+1)) →
    * top-`shortlist` = the arm `searchJoin(compressed = true)` serves
    * at that depth, reproduced bit-for-bit (spec-pinned against a
    * literal per-depth searchJoin mirror). The reference page is the
    * exact-arm full-depth page — the SAME reference the raw curve
    * measures against, so compressed and raw curves are comparable.
    */
  private[vector] def fusionRecallFrameCompressed(
      kw: DataFrame, assigned: DataFrame, coded: DataFrame,
      queries: DataFrame, cents: Seq[(Int, Array[Double])], k: Int,
      topK: Int, shortlist: Int, rrfK: Int, nQueries: Long,
      adcState: graft.plans.ShardTopKJoin.AdcState,
      vecShortlist: Int): DataFrame = {
    require(k > 0 && k <= FUSION_PACK,
      s"fusion recall packs prank into the replica id: numShards $k > $FUSION_PACK")
    val codedK = coded.select(col("vec_id").cast(LongType).as("vec_id"),
      col("shard").cast(LongType).as("shard"),
      col("codes").cast("array<int>").as("codes"),
      col("vnorm").cast("double").as("vnorm"))
    val probes = packedProbes(queries, cents, k)
    val cand = graft.plans.BroadcastTopKJoin.ranked(codedK, probes,
        k = vecShortlist + 1, excludeSelf = false, idName = "doc_id",
        keyed = true, metric = graft.plans.ShardTopKJoin.Metric.Adc,
        adc = Some(adcState))
      .select(expr(s"query_id div $FUSION_PACK").as("qid"),
        (pmod(col("query_id"), lit(FUSION_PACK)) + 1).as("prank"),
        col("doc_id"), col("score").as("approx"))
      .filter(col("doc_id") =!= col("qid"))
    val shortP = cand
      .select(col("qid"), col("doc_id"), col("approx"),
        explode(sequence(col("prank"), lit(k.toLong))).as("nprobe"))
      .withColumn("__ar", row_number().over(
        Window.partitionBy("qid", "nprobe")
          .orderBy(desc("approx"), asc("doc_id"))))
      .filter(col("__ar") <= vecShortlist)
      .select(col("qid"), col("nprobe"), col("doc_id"))
    val rawVecs = assigned.select(col("vec_id").cast(LongType).as("doc_id"),
      col("embedding").cast("array<double>").as("__v"))
    val qVecs = queries.select(col("query_id").cast(LongType).as("qid"),
      col("qv").cast("array<double>").as("__q"))
    val exactScores = shortP.select("qid", "doc_id").distinct()
      .join(rawVecs, "doc_id")
      .join(qVecs, "qid")
      .select(col("qid"), col("doc_id"), cosineSim(col("__v"), col("__q")).as("score"))
    val vtop = shortP.join(exactScores, Seq("qid", "doc_id"))
      .withColumn("rank_vec", row_number().over(
        Window.partitionBy("qid", "nprobe")
          .orderBy(desc("score"), asc("doc_id"))))
      .filter(col("rank_vec") <= shortlist)
      .select(col("qid"), col("nprobe"), col("doc_id"), col("rank_vec"))
    // exact REFERENCE page: the exact arm at full depth, uncompressed
    // — the unkeyed broadcast exec over the raw vectors, fused
    // through the SAME shared RRF as every served page (fuseRrf)
    val exactVec = graft.plans.BroadcastTopKJoin.ranked(
        rawVecs.select(col("doc_id"), col("__v")),
        qVecs.select(col("qid"), col("__q")),
        k = shortlist, excludeSelf = true, idName = "doc_id")
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("int").as("rank_vec"))
    val exactPage = fuseRrf(
        kw.select(col("query_id").cast(LongType).as("query_id"),
          col("doc_id"), col("rank_kw")),
        exactVec, topK, rrfK)
      .select(col("query_id").as("qid"), col("doc_id"), lit(1L).as("__hit"))
    fusionRollup(kw, vtop, Some(exactPage), k, topK, rrfK, nQueries)
  }

  /** Continuous hybrid serving — the streamed twin completing the
    * set (keyword [[graft.text.TermIndex.serveStream]], phrase
    * `servePhraseStream`, knn [[VectorStore.serveStream]]): each
    * micro-batch of (query_id, terms, qv) rows probes both maintained
    * indexes and writes the fused per-query top-k to `outDir` through
    * [[graft.streaming.ServeStream]]. Full mode passthrough like
    * [[hybridJoin]]; arm state (vector serving closure, pinned allowed
    * set) resolves ONCE at stream start via [[fusionServing]], and
    * searchBatch's validate-and-collect stays the one pre-probe driver
    * action per tick.
    */
  def serveHybridStream(idx: graft.text.TermIndex, store: VectorStore,
                        queries: DataFrame, outDir: String, checkpoint: String,
                        topK: Int = 10, shortlist: Int = 50, nprobe: Int = 2,
                        rrfK: Int = RRF_K,
                        allowed: Option[DataFrame] = None,
                        excludeSelf: Boolean = false,
                        maxRowsPerTask: Long = 0L,
                        compressed: Boolean = false,
                        vecShortlist: Int = 100,
                        wKw: Double = 1.0, wVec: Double = 1.0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val fs = fusionServing(idx, store, topK, shortlist, nprobe, rrfK,
      allowed, excludeSelf, maxRowsPerTask, compressed, vecShortlist)
    ServeStream.start(queries, checkpoint) { (batch, write) =>
      if (!batch.isEmpty) write(outDir, fs.hybridPage(batch, wKw, wVec))
    }
  }

  /** Query-by-example served from BOTH maintained indexes — the
    * store-verb form of the registered `vdb_more_like_this`: lexical
    * arm from the TermIndex's postings
    * ([[graft.text.TermIndex.moreLikeThis]] — tf/df/N read from the
    * index, weight-for-weight the one-shot kernel), vector arm from
    * the store's fused searchJoin (the examples' vectors read from the
    * store itself via [[VectorStore.vectorsOf]] — the reference's
    * get-then-search composition, self excluded), RRF fuse. Mode
    * passthrough matches [[hybridJoin]]: salting and the compressed
    * ADC arm reach searchJoin unchanged. Examples are page-shaped, so
    * `ids` is a literal list (their postings rows broadcast; the
    * vector probe rides the size-conditional join exactly like any
    * searchJoin batch).
    */
  def mltJoin(idx: graft.text.TermIndex, store: VectorStore,
              ids: Seq[Long], topK: Int = 10, shortlist: Int = 50,
              nprobe: Int = 2, rrfK: Int = RRF_K,
              maxRowsPerTask: Long = 0L,
              compressed: Boolean = false,
              vecShortlist: Int = 100): DataFrame =
    // one-shot: the lexical weight cache follows the session-cache
    // convention (Bench's clearCache releases it); the STREAM twin
    // below must release per batch instead
    mltJoinWith(idx, ids, topK, shortlist, rrfK,
      q => store.searchJoin(q, topK = shortlist, nprobe = nprobe,
        excludeSelf = true, maxRowsPerTask = maxRowsPerTask,
        compressed = compressed, shortlist = vecShortlist),
      store.vectorsOf(ids))._1

  private def mltJoinWith(idx: graft.text.TermIndex, ids: Seq[Long],
                          topK: Int, shortlist: Int, rrfK: Int,
                          vecArm: DataFrame => DataFrame,
                          probes: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val (lexRaw, caches) = idx.moreLikeThisFrame(ids, k = shortlist)
    val lex = lexRaw.select(col("query_id"), col("doc_id"),
      col("rank").cast("int").as("rank_kw"))
    (fuseRrf(lex, vecRanks(vecArm(probes)), topK, rrfK)
      .withColumnRenamed("rank_kw", "rank_lex"), caches)
  }

  /** The streamed twin of [[mltJoin]]: a stream of example doc ids
    * (single `query_id` column), the ROUTING state resolved once at
    * stream start ([[VectorStore.searchJoinServing]] pins centroids/PQ
    * meta/salts, like [[serveHybridStream]]); the example VECTORS and
    * the index's postings resolve live per batch — examples ingested
    * mid-stream become queryable, and a store/index mutation
    * mid-stream follows the single-writer maintenance contract. A
    * micro-batch's ids collect driver-side — page-shaped by the verb's
    * nature, the bounded-collect discipline — and the lexical arm's
    * weight cache is released after every batch (a leaked cache per
    * micro-batch would grow storage for the stream's lifetime).
    */
  def serveMltStream(idx: graft.text.TermIndex, store: VectorStore,
                     ids: DataFrame, outDir: String, checkpoint: String,
                     topK: Int = 10, shortlist: Int = 50, nprobe: Int = 2,
                     rrfK: Int = RRF_K,
                     maxRowsPerTask: Long = 0L,
                     compressed: Boolean = false,
                     vecShortlist: Int = 100)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val vecArm = store.searchJoinServing(topK = shortlist, nprobe = nprobe,
      allowed = None, excludeSelf = true,
      maxRowsPerTask = maxRowsPerTask, compressed = compressed,
      shortlist = vecShortlist)
    ServeStream.start(ids, checkpoint) { (batch, write) =>
      val page = batch.select(col("query_id").cast(LongType))
        .collect().map(_.getLong(0)).toSeq
      if (page.nonEmpty) {
        val (res, caches) = mltJoinWith(idx, page, topK, shortlist, rrfK,
          vecArm, store.vectorsOf(page))
        try write(outDir, res)
        finally caches.foreach(_.unpersist())
      }
    }
  }

  /** RRF fusion of per-query (doc, rank) shortlists — shared by
    * [[hybridJoin]] and the registered `vdb_hybrid_batch`.
    */
  private[vector] def fuseRrf(kw: DataFrame, vec: DataFrame,
                              topK: Int, rrfK: Int,
                              wKw: Double = 1.0, wVec: Double = 1.0): DataFrame = {
    // Arm union + ONE grouped fold instead of a full-outer join (§2.4
    // "remove shuffles outright"): each arm is unique on (query_id,
    // doc_id) by its rank window, so max(rank_*) over the union
    // reproduces the join's row set and rank columns exactly — one
    // exchange (with partial aggregation) where the join needed both
    // sides re-shuffled onto the pair key. RRF arithmetic is computed
    // AFTER the fold on the identical rank values, so the x1e6
    // emission is bit-identical (the oracle keeps the FULL OUTER
    // formulation and stays green).
    val u = kw.select(col("query_id"), col("doc_id"),
        col("rank_kw").cast(LongType).as("rank_kw"),
        lit(null).cast(LongType).as("rank_vec"))
      .unionAll(vec.select(col("query_id"), col("doc_id"),
        lit(null).cast(LongType).as("rank_kw"),
        col("rank_vec").cast(LongType).as("rank_vec")))
    val rrf = lit(wKw) * coalesce(lit(1.0) / (col("rank_kw") + rrfK), lit(0.0)) +
      lit(wVec) * coalesce(lit(1.0) / (col("rank_vec") + rrfK), lit(0.0))
    u.groupBy("query_id", "doc_id")
      .agg(max(col("rank_kw")).as("rank_kw"), max(col("rank_vec")).as("rank_vec"))
      .select(col("query_id"), col("doc_id"), rrf.as("rrf"),
        coalesce(col("rank_kw"), lit(0L)).as("rank_kw"),
        coalesce(col("rank_vec"), lit(0L)).as("rank_vec"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id")))
        .cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rank_kw"), col("rank_vec"),
        round(col("rrf") * 1e6, 0).cast(LongType).as("rrf_x1e6"))
  }

  /** The registered batched-hybrid query — `vdb_hybrid_search` at join
    * scale: three (query_id, terms, qv) rows, keyword arm served from
    * the SHARED flat TermIndex (`searchBatch`, BM25 — hash-proven
    * equal to the one-shot expression, so the oracle replays the
    * one-shot SQL), vector arm routed on the deterministic centroids
    * with nprobe = 2 exactly like `vdb_knn_join_ivf` (per-query
    * top-SHORTLIST through the rank window; self excluded BEFORE
    * ranking — the self-match is always rank 1 and carries no
    * information; the keyword arm ranks the full corpus, since query
    * terms are not the query doc's own text). Shortlist selection
    * orders by the unrounded scores both engines compute
    * bit-identically; ranks order by the 4-dp values both emit.
    */
  private val hybridBatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("vector", "merge", "scan"),
    1L -> Seq("scan", "filter", "join"),
    2L -> Seq("table", "stream"))

  private def hybridBatch(s: SparkSession, d: String): DataFrame =
    hybridBatchFrame(s, d, allowed = None)

  /** Batches up to this size broadcast their probe frame in
    * [[ivfBatchArm]]; larger ones take the fused shuffle (see the arm's
    * doc). A dashboard page is a handful of queries — broadcast wins
    * there (the corpus never shuffles); the threshold is the point
    * where replicating nprobe·batch probe rows to every task (and
    * scoring every corpus row against the partition's WHOLE probe
    * list) stops beating one corpus shuffle.
    */
  private val FUSED_ARM_MIN = 33

  /** The inline IVF vector arm shared by every registered hybrid
    * batch: per-query top-SHORTLIST through the bounded heap (the
    * shuffle after scoring carries ≤ SHORTLIST rows per (query, map
    * partition) — a row_number window would shuffle the full probed
    * population per query before truncating), self excluded before
    * ranking, deterministic-centroid nprobe=2 routing, allowed slice
    * semi-joined AFTER shard assignment (routing is the index's
    * property, not the query's).
    *
    * SIZE-CONDITIONAL plan (round 13): at or above `fusedMin` queries
    * the arm abandons the broadcast for [[graft.plans.ShardTopKJoin]]'s
    * fused shard equi-join — `knnJoinFrame`'s exec, scores and ranks
    * bit-identical (spec-pinned), so a corpus-sized query frame through
    * the hybrid/tri path inherits the knn JOIN's scale shape (both
    * sides shuffle on the key, nobody broadcasts, no per-pair row)
    * instead of OOMing the executors on a giant probe broadcast. The
    * registered 3-query batches stay on the broadcast plan — at page
    * size the corpus-shuffle-free join is the right one.
    */
  private[graft] def ivfBatchArm(s: SparkSession, d: String, qIds: Seq[Long],
                                 allowed: Option[DataFrame],
                                 fusedMin: Int = FUSED_ARM_MIN): DataFrame = {
    val e = emb(s, d)
    val cents = Centroids.deterministicInit(e, k = K)
    val corpus0 = e.withColumn("shard",
      Centroids.nearestShard(col("embedding"), cents))
    val corpus = allowed.fold(corpus0)(ids => corpus0.join(
      ids.select(col("doc_id").cast(LongType).as("vec_id")), Seq("vec_id"), "left_semi"))
    if (qIds.size >= fusedMin) {
      val corpus3 = corpus.select(col("vec_id").cast(LongType).as("vec_id"),
        col("shard").cast(LongType).as("shard"),
        col("embedding").cast("array<double>").as("embedding"))
      // nearestShards elements are already LONG (Centroids casts sids)
      val probes3 = e.filter(col("vec_id").isin(qIds: _*))
        .select(col("vec_id").cast(LongType).as("query_id"),
          explode(Centroids.nearestShards(col("embedding"), cents, nprobe = 2))
            .as("shard"),
          col("embedding").cast("array<double>").as("qv"))
      graft.plans.ShardTopKJoin.ranked(corpus3, probes3, SHORTLIST,
          excludeSelf = true, idName = "doc_id")
        .select(col("query_id"), col("doc_id"),
          col("rank").cast("int").as("rank_vec"))
    } else {
      // page-sized batch: the KEYED broadcast exec (round 13) — the
      // corpus stays put, the probe page broadcasts, candidates pair
      // on the shard key inside the partition loop (no per-pair
      // aggregate walk). Bit-identical to the previous broadcast-join
      // + TopKAgg plan; the fused-vs-broadcast equivalence spec pins
      // both against the shuffle exec above. The corpus scoring pass
      // is map-only over the scan, so a single-split input runs it on
      // ONE core (r16 profile: 80-150 ms single-task stages on every
      // hybrid page) — fan it byte-aware (§2.5, identity at scale).
      val corpusK = graft.Tables.fanned(
        corpus.select(col("vec_id").cast(LongType).as("vec_id"),
          col("shard").cast(LongType).as("shard"),
          col("embedding").cast("array<double>").as("embedding")),
        col("vec_id"))
      val probes = e.filter(col("vec_id").isin(qIds: _*))
        .select(col("vec_id").cast(LongType).as("query_id"),
          explode(Centroids.nearestShards(col("embedding"), cents, nprobe = 2))
            .as("shard"),
          col("embedding").cast("array<double>").as("qv"))
      graft.plans.BroadcastTopKJoin.ranked(corpusK, probes, SHORTLIST,
          excludeSelf = true, idName = "doc_id", keyed = true)
        .select(col("query_id"), col("doc_id"),
          col("rank").cast("int").as("rank_vec"))
    }
  }

  /** The batched-hybrid plan, optionally restricted to an allowed
    * doc_id frame on BOTH arms (filter-then-search each side: the
    * vector arm semi-joins the corpus AFTER shard assignment against
    * the full-corpus routing centroids — routing is a property of the
    * index, not of one query's allowed set — and the keyword arm is
    * `searchBatch(allowed)`'s filter-then-rank with index-global df).
    */
  private def hybridBatchFrame(s: SparkSession, d: String,
                               allowed: Option[DataFrame],
                               wKw: Double = 1.0, wVec: Double = 1.0): DataFrame = {
    import s.implicits._
    val vec = ivfBatchArm(s, d, hybridBatchQueries.map(_._1), allowed)
    val idx = graft.text.TextAnalysis.servedIdx(s, d, positional = false)
    val kw = idx.searchBatch(hybridBatchQueries.toDF("query_id", "terms"),
        k = SHORTLIST, allowed = allowed)
      .withColumn("rank_kw", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("bm25"), asc("doc_id"))))
      .select("query_id", "doc_id", "rank_kw")
    fuseRrf(kw, vec, topK = 10, rrfK = RRF_K, wKw = wKw, wVec = wVec)
  }

  /** Weighted RRF — the fusion knob real RAG stacks tune: score =
    * w_kw/(K + rank_kw) + w_vec/(K + rank_vec). Equal weights are the
    * standard default, but a corpus whose keyword arm is noisy (OCR
    * text) or whose embeddings are weak (out-of-domain encoder) wants
    * the arms rebalanced; the registered query runs 2:1
    * keyword-favored so the reordering vs #9m is visible and
    * oracle-pinned. Weights multiply exactly reproducible double
    * divisions — the x1e6 BIGINT emission stays engine-stable.
    */
  private def hybridWeighted(s: SparkSession, d: String): DataFrame =
    hybridBatchFrame(s, d, allowed = None, wKw = 2.0, wVec = 1.0)

  /** The registered FILTERED hybrid — `vdb_hybrid_batch` restricted to
    * the English slice on both arms (the tenant/license/language
    * predicated-retrieval shape, completing on the HYBRID path what
    * `vdb_knn_join_filtered` proved on the vector arm and
    * `text_bm25_filtered` on the keyword arm): candidates filter
    * BEFORE any scoring, so a selective predicate costs no recall
    * and < k-row shortlists only happen when fewer than k allowed
    * docs exist in the probed shards. The oracle replays the same
    * slice inside each arm's selection while keeping df/N/avgdl and
    * the routing centroids corpus-global — a green row pins both
    * filter-then-search semantics at once.
    */
  private def hybridFiltered(s: SparkSession, d: String): DataFrame =
    hybridBatchFrame(s, d, allowed = Some(
      graft.Tables.documents(s, d).filter(col("lang") === "en").select("doc_id")))

  /** Per-query oracle: the one-shot BM25 CTEs (the single shared
    * definition — TextAnalysis.bm25CtesFor) give the keyword top-50;
    * the deterministic-centroid IVF pruning gives the vector top-50;
    * RRF fuses. Shortlists select on the unrounded scores (bit-
    * identical across engines, like every green bm25/knn row); ranks
    * order by the 4-dp values both engines emit.
    */
  private def hybridBatchSqlFor(qid: Long, terms: Seq[String],
                                allowedSql: Option[String] = None,
                                wKw: Double = 1.0, wVec: Double = 1.0,
                                tokensSql: String =
                                  "string_split(text, ' ')"): String =
    s"""${hybridFusedCtes(qid, terms, allowedSql, wKw, wVec, tokensSql = tokensSql)}
       |SELECT CAST($qid AS BIGINT) AS query_id,
       |       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
       |       doc_id, CAST(rank_kw AS BIGINT) AS rank_kw,
       |       CAST(rank_vec AS BIGINT) AS rank_vec,
       |       CAST(ROUND(rrf * 1000000) AS BIGINT) AS rrf_x1e6
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** The WITH … fused chain shared by the hybrid-page oracle and the
    * fusion-recall oracle — identical CTEs, parameterized probe depth.
    */
  private def hybridFusedCtes(qid: Long, terms: Seq[String],
                              allowedSql: Option[String] = None,
                              wKw: Double = 1.0, wVec: Double = 1.0,
                              nprobe: Int = 2,
                              tokensSql: String =
                                "string_split(text, ' ')"): String = {
    val (bmCtes, bmScore) = graft.text.TextAnalysis.bm25CtesFor(terms, tokensSql)
    // the allowed slice restricts each arm's SELECTION while df/N/avgdl
    // and the routing centroids stay corpus-global — the filter-then-
    // search semantics the Spark side implements
    val kwAllow = allowedSql.fold("")(p =>
      s" AND doc_id IN (SELECT doc_id FROM documents WHERE $p)")
    val vAllow = allowedSql.fold("")(p =>
      s" AND b.vec_id IN (SELECT doc_id FROM documents WHERE $p)")
    s"""WITH $bmCtes,
       |kwsel AS (
       |  SELECT doc_id, score0 FROM (SELECT d.doc_id,
       |      $bmScore AS score0
       |      FROM d CROSS JOIN c) q
       |  WHERE score0 > 0$kwAllow ORDER BY score0 DESC, doc_id LIMIT $SHORTLIST),
       |kwtop AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (
       |    ORDER BY ROUND(score0, 4) DESC, doc_id) AS rank_kw
       |  FROM kwsel),
       |${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = $qid),
       |qsh AS (SELECT shard FROM (
       |  SELECT c.shard, ROW_NUMBER() OVER (
       |    ORDER BY list_distance(qv.v, c.c), c.shard) AS rn
       |  FROM qv CROSS JOIN cent c) t WHERE rn <= $nprobe),
       |vsel AS (
       |  SELECT b.vec_id AS doc_id,
       |         list_cosine_similarity(b.embedding::DOUBLE[], qv.v) AS vscore
       |  FROM qv CROSS JOIN qsh
       |  JOIN assign a ON a.shard = qsh.shard
       |  JOIN embeddings b ON b.vec_id = a.vec_id
       |  WHERE b.vec_id <> $qid$vAllow
       |  ORDER BY vscore DESC, doc_id LIMIT $SHORTLIST),
       |vtop AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY vscore DESC, doc_id) AS rank_vec
       |  FROM vsel),
       |fused AS (
       |  SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
       |         $wKw * COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + k.rank_kw), 0) +
       |         $wVec * COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + v.rank_vec), 0) AS rrf,
       |         COALESCE(k.rank_kw, 0) AS rank_kw,
       |         COALESCE(v.rank_vec, 0) AS rank_vec
       |  FROM kwtop k FULL OUTER JOIN vtop v ON k.doc_id = v.doc_id)""".stripMargin
  }

  /** One (query, depth) fusion page for the recall oracle: the same
    * fused CTEs at probe depth `p`, emitting the page's doc ids.
    */
  private def fusionPageSqlFor(qid: Long, terms: Seq[String], p: Int): String =
    s"""${hybridFusedCtes(qid, terms, nprobe = p)}
       |SELECT CAST($qid AS BIGINT) AS query_id, CAST($p AS BIGINT) AS nprobe,
       |       doc_id
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  // --- ANALYZED hybrid (round 15) -------------------------------------
  /** The hybrid page with its keyword arm served from the ANALYZED
    * index — round-14 VERDICT missing #3: a production retrieval tier
    * runs analyzed everywhere, but only plain BM25 pinned the analyzer
    * contract. Probe terms arrive RAW (mixed case + stopwords — what a
    * user actually types into a search box); `searchBatch` folds,
    * drops, and first-occurrence-dedups them in-plan against the
    * analyzer-built postings; the vector arm and the RRF fuse are
    * exactly `vdb_hybrid_batch`'s. The oracle replays the analysis on
    * BOTH sides of the keyword arm: pre-analyzed literal terms AND the
    * normalized token-array expression through the shared
    * `bm25CtesFor` — extending the analyzed hash-exact parity to the
    * fused page.
    */
  private val hybridAnalyzedQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("Vector", "the", "MERGE", "scan"),
    1L -> Seq("Scan", "a", "Filter", "join"),
    2L -> Seq("TABLE", "the", "stream"))

  private def hybridAnalyzed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vec = ivfBatchArm(s, d, hybridAnalyzedQueries.map(_._1), allowed = None)
    val idx = graft.text.TextAnalysis.servedAnalyzedIdx(s, d)
    val kw = idx.searchBatch(hybridAnalyzedQueries.toDF("query_id", "terms"),
        k = SHORTLIST)
      .withColumn("rank_kw", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("bm25"), asc("doc_id"))))
      .select("query_id", "doc_id", "rank_kw")
    fuseRrf(kw, vec, topK = 10, rrfK = RRF_K)
  }

  private def hybridAnalyzedSql: String =
    hybridAnalyzedQueries.map { case (qid, terms) =>
      s"SELECT * FROM (\n${hybridBatchSqlFor(qid,
        graft.text.TextAnalysis.analyzedProbeTerms(terms),
        tokensSql = graft.text.TextAnalysis.analyzedTokensSql)}\n)"
    }.mkString("\nUNION ALL\n")

  private val hybridBatchSql =
    hybridBatchQueries.map { case (qid, terms) =>
      s"SELECT * FROM (\n${hybridBatchSqlFor(qid, terms)}\n)"
    }.mkString("\nUNION ALL\n")

  private val hybridWeightedSql =
    hybridBatchQueries.map { case (qid, terms) =>
      s"SELECT * FROM (\n${hybridBatchSqlFor(qid, terms, None, wKw = 2.0, wVec = 1.0)}\n)"
    }.mkString("\nUNION ALL\n")

  private val hybridFilteredSql =
    hybridBatchQueries.map { case (qid, terms) =>
      s"SELECT * FROM (\n${hybridBatchSqlFor(qid, terms, Some("lang = 'en'"))}\n)"
    }.mkString("\nUNION ALL\n")

  // --- query-by-example: "more like this" -----------------------------
  /** Query-by-example — the "more like this" verb: given EXAMPLE
    * DOCUMENTS (not a typed query), rank the corpus by fused lexical +
    * semantic similarity to each example. The reference's clients
    * compose this by hand as get(id) → search(vector)
    * (storage_server.py:52-68 feeding compute_server.py:106-138) and
    * lose the lexical half entirely; here it is one plan:
    *
    *  - lexical arm: sparse tf-idf cosine (classic MoreLikeThis) —
    *    the shared [[graft.text.TextAnalysis.tfidfCosineNeighbors]]
    *    kernel, top-SHORTLIST per example. Integer 1e4-quantized
    *    weights make dots/norms order-independent (hash-stable); the
    *    example docs' weight rows BROADCAST, so per-query cost rides
    *    the examples' term df, never corpus².
    *  - semantic arm: the size-conditional IVF arm ([[ivfBatchArm]],
    *    nprobe = 2, self excluded) — page-sized example sets broadcast
    *    against the unmoved corpus, join-scale sets ride the fused
    *    ShardTopKJoin exec.
    *  - RRF fuse (K = 60), top-10 per example.
    *
    * Both arms exclude the example itself BEFORE ranking. Emits
    * rank_lex/rank_vec (0 = arm missed the doc) like the hybrid
    * family; the oracle replays both arms through the SAME shared CTE
    * definitions (tfidfWeightCtes + the IVF cent/assign chain).
    */
  private val mltQueryIds: Seq[Long] = Seq(0L, 1L, 2L)

  private def moreLikeThis(s: SparkSession, d: String): DataFrame = {
    val lex = graft.text.TextAnalysis
      .tfidfCosineNeighbors(s, d, mltQueryIds, k = SHORTLIST)
      .select(col("q_id").as("query_id"), col("doc_id"),
        col("rank").cast("int").as("rank_kw"))
    val vec = ivfBatchArm(s, d, mltQueryIds, allowed = None)
    fuseRrf(lex, vec, topK = 10, rrfK = RRF_K)
      .withColumnRenamed("rank_kw", "rank_lex")
  }

  /** Per-example oracle: lexical shortlist from the shared tf-idf
    * weight CTEs (selection on the unrounded cosine — integer dot and
    * norms make it bit-identical), vector shortlist from the IVF
    * cent/assign chain at nprobe = 2, RRF full-outer fuse.
    */
  private def mltSqlFor(qid: Long): String =
    s"""WITH ${graft.text.TextAnalysis.tfidfWeightCtes},
       |dots AS (
       |  SELECT d.doc_id AS doc_id, CAST(SUM(q.w * d.w) AS BIGINT) AS dot
       |  FROM wts q JOIN wts d ON q.word = d.word AND d.doc_id <> q.doc_id
       |  WHERE q.doc_id = $qid
       |  GROUP BY 1),
       |lexsel AS (
       |  SELECT dots.doc_id, dots.dot / (sqrt(nq.n2) * sqrt(nd.n2)) AS sim0
       |  FROM dots
       |  JOIN norms nq ON nq.doc_id = $qid
       |  JOIN norms nd ON nd.doc_id = dots.doc_id
       |  ORDER BY sim0 DESC, dots.doc_id LIMIT $SHORTLIST),
       |lextop AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim0 DESC, doc_id) AS rank_lex
       |  FROM lexsel),
       |${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = $qid),
       |qsh AS (SELECT shard FROM (
       |  SELECT c.shard, ROW_NUMBER() OVER (
       |    ORDER BY list_distance(qv.v, c.c), c.shard) AS rn
       |  FROM qv CROSS JOIN cent c) t WHERE rn <= 2),
       |vsel AS (
       |  SELECT b.vec_id AS doc_id,
       |         list_cosine_similarity(b.embedding::DOUBLE[], qv.v) AS vscore
       |  FROM qv CROSS JOIN qsh
       |  JOIN assign a ON a.shard = qsh.shard
       |  JOIN embeddings b ON b.vec_id = a.vec_id
       |  WHERE b.vec_id <> $qid
       |  ORDER BY vscore DESC, doc_id LIMIT $SHORTLIST),
       |vtop AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY vscore DESC, doc_id) AS rank_vec
       |  FROM vsel),
       |fused AS (
       |  SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
       |         COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + k.rank_lex), 0) +
       |         COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + v.rank_vec), 0) AS rrf,
       |         COALESCE(k.rank_lex, 0) AS rank_lex,
       |         COALESCE(v.rank_vec, 0) AS rank_vec
       |  FROM lextop k FULL OUTER JOIN vtop v ON k.doc_id = v.doc_id)
       |SELECT CAST($qid AS BIGINT) AS query_id,
       |       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
       |       doc_id, CAST(rank_lex AS BIGINT) AS rank_lex,
       |       CAST(rank_vec AS BIGINT) AS rank_vec,
       |       CAST(ROUND(rrf * 1000000) AS BIGINT) AS rrf_x1e6
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  private val moreLikeThisSql =
    mltQueryIds.map(qid => s"SELECT * FROM (\n${mltSqlFor(qid)}\n)")
      .mkString("\nUNION ALL\n")

  // --- multi-vector retrieval: per-chunk max-sim ----------------------
  /** Multi-vector ("late interaction" family) retrieval — the long-
    * document shape single-vector knn dilutes away: every document is
    * CHUNKED (the `doc_chunk` window arithmetic: 32-token windows
    * every 24 tokens, so no boundary-straddling passage is lost), each
    * chunk hash-embedded, and a document scores as the MAX cosine over
    * its chunks against the query vector — best-matching-passage
    * ranking with the winning chunk emitted as provenance (`best_chunk`
    * is the passage a RAG caller would actually retrieve). The
    * reference embeds whole documents only (embed.py) — its long-doc
    * recall decays with document length; this is the standard fix,
    * re-expressed declaratively.
    *
    * Determinism: chunk and query vectors are the hash embedder's
    * components QUANTIZED to 1e4 integers (the text_tfidf_sim
    * convention), so dots and norms are order-independent integer
    * sums; `sim0 = dot / (sqrt(nc)·sqrt(nq))` is correctly-rounded
    * IEEE on identical integers — bit-equal in both engines. The
    * per-(query, doc) argmax rides min-of-struct
    * ((−sim, chunk_id) — max sim, lowest winning chunk), never a
    * window sort over all chunk scores.
    *
    * Scale shape: the chunk-component pass is one explode + one
    * partial-aggregated groupBy (≤ 64 rows per chunk on the shuffle —
    * the embed_hash build the pipeline already pays, chunk-grained);
    * the page-sized query components BROADCAST into a dim equi-join
    * (each corpus row meets ≤ |queries| rows, map-side); the max-agg
    * shuffles ≤ one row per (query, doc, chunk) partial. Nothing
    * corpus² anywhere.
    */
  private val maxsimQueryIds = Seq(0L, 1L, 2L)
  private val MAXSIM_SIZE = 32
  private val MAXSIM_STRIDE = 24

  /** 1e4-quantized hash-embedding components (idCols…, dim, w). */
  private def hashComponents(df: DataFrame, idCols: Seq[String]): DataFrame = {
    val ids = idCols.map(col)
    val byKey = Window.partitionBy(ids: _*)
    df.select(ids :+ explode(split(col("text"), " ")).as("__w"): _*)
      .withColumn("__h", conv(substring(md5(col("__w")), 1, 8), 16, 10)
        .cast(LongType))
      .withColumn("dim", (col("__h") % HashEmbedder.Dim).cast(LongType))
      .withColumn("__s", when(expr(s"(__h div ${HashEmbedder.Dim}) % 2") === 0,
        1.0).otherwise(-1.0))
      .groupBy(ids :+ col("dim"): _*)
      .agg(sum("__s").as("__raw"))
      .withColumn("__nrm", sqrt(sum(col("__raw") * col("__raw")).over(byKey)))
      .select(ids :+ col("dim") :+
        round(when(col("__nrm") === 0, 0.0)
            .otherwise(col("__raw") / col("__nrm")) * 10000.0, 0)
          .cast(LongType).as("w"): _*)
  }

  /** Registered form — serves from the PERSISTED chunk-component
    * artifact ([[ServedMaxsim]]): the corpus-side chunk + explode +
    * embed pass (the expensive, corpus-scale half of max-sim) is paid
    * once per corpus state and reread from parquet after, the
    * ServedQuant train-once/serve-many treatment. Components are
    * exact 1e4-quantized integers, so served results are bit-identical
    * to the one-shot plan (MaxsimSpec pins it).
    */
  private def knnMaxsim(s: SparkSession, d: String): DataFrame =
    maxsimJoin(s, d, maxsimQueryIds)

  /** Max-sim retrieval verb over dataset `d`'s documents, served from
    * the stamped chunk artifact: `ids` are example documents (query =
    * the document's own text), result pages are (query_id, rank,
    * doc_id, best_chunk, maxsim) — the more_like_this shape at
    * best-matching-passage granularity.
    */
  def maxsimJoin(s: SparkSession, d: String, ids: Seq[Long],
                 topK: Int = 10): DataFrame =
    maxsimFrom(ServedMaxsim.servedChunks(s, d),
      graft.Tables.documents(s, d), ids, topK)

  /** The [[knnMaxsim]] kernel over any (doc_id, text) frame — exposed
    * for MaxsimSpec's fixture-based semantic pins (buried-passage
    * recovery, alternative-plan argmax parity). One-shot: chunk
    * components are built inline, not served.
    */
  private[graft] def maxsimFrame(docs: DataFrame, qIds: Seq[Long]): DataFrame =
    maxsimFrom(chunkComponents(docs), docs, qIds, topK = 10)

  /** Corpus-side half of max-sim: every document chunked (doc_chunk's
    * window arithmetic — 32-token windows every 24) and each chunk
    * reduced to its 1e4-quantized hash-embedding components
    * (doc_id, chunk_id, dim, w) — the frame [[ServedMaxsim]] persists.
    */
  private[graft] def chunkComponents(docs: DataFrame): DataFrame = {
    val nChunks = lit(1L) + floor(
      (greatest(col("__nw") - MAXSIM_SIZE, lit(0L)) + (MAXSIM_STRIDE - 1)) /
        MAXSIM_STRIDE)
    val chunks = docs.select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .withColumn("__nw", size(col("__ws")).cast(LongType))
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(col("__ws"),
          (col("chunk_id") * MAXSIM_STRIDE + 1).cast("int"),
          lit(MAXSIM_SIZE))).as("text"))
    hashComponents(chunks, Seq("doc_id", "chunk_id"))
  }

  /** Scoring half of max-sim over a caller-supplied chunk-component
    * frame (inline or served — identical integers either way): page-
    * sized query components broadcast into the dim equi-join, per-
    * (query, doc) argmax via min-of-struct, top-`topK` page per query.
    */
  private[graft] def maxsimFrom(cComp: DataFrame, queryDocs: DataFrame,
                                qIds: Seq[Long], topK: Int): DataFrame = {
    val cNorm = cComp.groupBy("doc_id", "chunk_id")
      .agg(sum(col("w") * col("w")).as("nc"))
    val qComp = hashComponents(
        queryDocs.filter(col("doc_id").isin(qIds: _*)), Seq("doc_id"))
      .select(col("doc_id").as("query_id"), col("dim"), col("w").as("wq"))
    val qNorm = qComp.groupBy("query_id").agg(sum(col("wq") * col("wq")).as("nq"))
    val dots = cComp
      .join(broadcast(qComp), cComp("dim") === qComp("dim") &&
        col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id", "chunk_id")
      .agg(sum(col("w") * col("wq")).as("dot"))
    val sims = dots
      .join(cNorm, Seq("doc_id", "chunk_id"))
      .join(broadcast(qNorm), Seq("query_id"))
      .withColumn("sim0", col("dot") / (sqrt(col("nc")) * sqrt(col("nq"))))
    val best = sims.groupBy("query_id", "doc_id")
      .agg(min(struct((-col("sim0")).as("ns"), col("chunk_id").as("c"))).as("b"))
      .select(col("query_id"), col("doc_id"),
        (-col("b.ns")).as("score0"), col("b.c").as("best_chunk"))
    best
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(desc("score0"), asc("doc_id"))).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("best_chunk").cast(LongType).as("best_chunk"),
        round(col("score0"), 4).as("maxsim"))
  }

  /** The streamed twin of [[maxsimJoin]]: a stream of example doc ids
    * (single `query_id` column); the chunk ARTIFACT resolves once at
    * stream start (freshness checked against the corpus then — the
    * single-writer maintenance contract covers mid-stream corpus
    * mutation, like [[serveHybridStream]]'s pinned routing state),
    * query texts resolve live per batch. Micro-batch ids collect
    * driver-side — page-shaped, the bounded-collect discipline.
    */
  def serveMaxsimStream(s: SparkSession, d: String, ids: DataFrame,
                        outDir: String, checkpoint: String, topK: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cComp = ServedMaxsim.servedChunks(s, d)
    ServeStream.start(ids, checkpoint) { (batch, write) =>
      val page = batch.select(col("query_id").cast(LongType))
        .collect().map(_.getLong(0)).toSeq
      if (page.nonEmpty)
        write(outDir, maxsimFrom(cComp, graft.Tables.documents(s, d), page, topK))
    }
  }

  /** Per-dim integer components CTE chain shared by both sides of the
    * maxsim oracle (the hash embedder's md5 trick + the 1e4
    * quantization).
    */
  private def maxsimSql: String = {
    val dim = HashEmbedder.Dim
    val qids = maxsimQueryIds.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, i AS chunk_id,
       |         array_to_string(list_slice(ws, i * $MAXSIM_STRIDE + 1,
       |           i * $MAXSIM_STRIDE + $MAXSIM_SIZE), ' ') AS ctext
       |  FROM t, UNNEST(generate_series(0,
       |    (GREATEST(nw - $MAXSIM_SIZE, 0) + ${MAXSIM_STRIDE - 1}) // $MAXSIM_STRIDE)) AS g(i)),
       |cwx AS (
       |  SELECT doc_id, chunk_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
       |  FROM ch, UNNEST(string_split(ctext, ' ')) AS t2(w)),
       |cc AS (
       |  SELECT doc_id, chunk_id, h % $dim AS dim,
       |         SUM(CASE WHEN (h // $dim) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS raw
       |  FROM cwx GROUP BY 1, 2, 3),
       |cv AS (
       |  SELECT doc_id, chunk_id, dim,
       |         CAST(ROUND((CASE WHEN nrm = 0 THEN 0.0 ELSE raw / nrm END) * 10000.0) AS BIGINT) AS w
       |  FROM (SELECT *, sqrt(SUM(raw * raw) OVER (PARTITION BY doc_id, chunk_id)) AS nrm
       |        FROM cc) z),
       |cn AS (SELECT doc_id, chunk_id, SUM(w * w) AS nc FROM cv GROUP BY 1, 2),
       |qwx AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t3(w)
       |  WHERE doc_id IN ($qids)),
       |qc AS (
       |  SELECT doc_id, h % $dim AS dim,
       |         SUM(CASE WHEN (h // $dim) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS raw
       |  FROM qwx GROUP BY 1, 2),
       |qv AS (
       |  SELECT doc_id AS query_id, dim,
       |         CAST(ROUND((CASE WHEN nrm = 0 THEN 0.0 ELSE raw / nrm END) * 10000.0) AS BIGINT) AS wq
       |  FROM (SELECT *, sqrt(SUM(raw * raw) OVER (PARTITION BY doc_id)) AS nrm
       |        FROM qc) z),
       |qn AS (SELECT query_id, SUM(wq * wq) AS nq FROM qv GROUP BY 1),
       |dots AS (
       |  SELECT qv.query_id, cv.doc_id, cv.chunk_id, SUM(cv.w * qv.wq) AS dot
       |  FROM cv JOIN qv ON cv.dim = qv.dim AND cv.doc_id <> qv.query_id
       |  GROUP BY 1, 2, 3),
       |sims AS (
       |  SELECT dots.query_id, dots.doc_id, dots.chunk_id,
       |         dots.dot / (sqrt(cn.nc) * sqrt(qn.nq)) AS sim0
       |  FROM dots
       |  JOIN cn ON cn.doc_id = dots.doc_id AND cn.chunk_id = dots.chunk_id
       |  JOIN qn ON qn.query_id = dots.query_id),
       |best AS (
       |  SELECT query_id, doc_id, sim0 AS score0, chunk_id AS best_chunk
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, doc_id
       |          ORDER BY sim0 DESC, chunk_id) AS rn
       |        FROM sims) y
       |  WHERE rn = 1)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |       CAST(best_chunk AS BIGINT) AS best_chunk,
       |       ROUND(score0, 4) AS maxsim
       |FROM (SELECT query_id, doc_id, score0, best_chunk,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score0 DESC, doc_id) AS rank
       |      FROM best) q
       |WHERE rank <= 10""".stripMargin
  }

  // --- three-arm hybrid: keyword + vector + phrase --------------------
  /** Three-arm RRF: score = Σ_arm w/(K + rank_arm), absent arm
    * contributes 0 — the full serving tier fused in one plan. The
    * phrase arm catches exact multi-word matches BOTH other arms
    * miss (BM25 is order-blind, embeddings paraphrase), the classic
    * "named entity / quoted phrase" retrieval gap. Two chained
    * full-outer joins of nQueries×shortlist frames — bounded, like
    * the two-arm fuse.
    */
  private[vector] def fuseRrf3(kw: DataFrame, vec: DataFrame, ph: DataFrame,
                               topK: Int, rrfK: Int): DataFrame = {
    // three-way arm union + one grouped fold — [[fuseRrf]]'s §2.4
    // rewrite at arity 3: replaces TWO chained full-outer joins (each
    // re-shuffling onto the pair key) with one exchange; arms are
    // unique on (query_id, doc_id), so the max() fold is exact.
    val u = kw.select(col("query_id"), col("doc_id"),
        col("rank_kw").cast(LongType).as("rank_kw"),
        lit(null).cast(LongType).as("rank_vec"),
        lit(null).cast(LongType).as("rank_ph"))
      .unionAll(vec.select(col("query_id"), col("doc_id"),
        lit(null).cast(LongType).as("rank_kw"),
        col("rank_vec").cast(LongType).as("rank_vec"),
        lit(null).cast(LongType).as("rank_ph")))
      .unionAll(ph.select(col("query_id"), col("doc_id"),
        lit(null).cast(LongType).as("rank_kw"),
        lit(null).cast(LongType).as("rank_vec"),
        col("rank_ph").cast(LongType).as("rank_ph")))
    val rrf = coalesce(lit(1.0) / (col("rank_kw") + rrfK), lit(0.0)) +
      coalesce(lit(1.0) / (col("rank_vec") + rrfK), lit(0.0)) +
      coalesce(lit(1.0) / (col("rank_ph") + rrfK), lit(0.0))
    u.groupBy("query_id", "doc_id")
      .agg(max(col("rank_kw")).as("rank_kw"), max(col("rank_vec")).as("rank_vec"),
        max(col("rank_ph")).as("rank_ph"))
      .select(col("query_id"), col("doc_id"), rrf.as("rrf"),
        coalesce(col("rank_kw"), lit(0L)).as("rank_kw"),
        coalesce(col("rank_vec"), lit(0L)).as("rank_vec"),
        coalesce(col("rank_ph"), lit(0L)).as("rank_ph"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id")))
        .cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rank_kw"), col("rank_vec"), col("rank_ph"),
        round(col("rrf") * 1e6, 0).cast(LongType).as("rrf_x1e6"))
  }

  /** The three-arm hybrid as a library call against BOTH maintained
    * indexes: keyword (`searchBatch`) and phrase
    * (`searchPhraseBatch`) arms probe the SAME positional
    * [[graft.text.TermIndex]] — two probes over one postings layout,
    * the phrase arm reading the pos column the BM25 arm leaves on
    * disk — and the vector arm is [[VectorStore.searchJoin]].
    * `queries` is (query_id, terms, phrase, qv); `allowed` restricts
    * all three arms (filter-then-rank each, the #29u/#29v/#9k
    * semantics per arm). Phrase ranks order by the integer
    * occurrence counts — engine-stable with no rounding contract.
    */
  def triJoin(idx: graft.text.TermIndex, store: VectorStore,
              queries: DataFrame, topK: Int = 10, shortlist: Int = 50,
              nprobe: Int = 2, rrfK: Int = RRF_K,
              allowed: Option[DataFrame] = None,
              excludeSelf: Boolean = false,
              maxRowsPerTask: Long = 0L,
              compressed: Boolean = false,
              vecShortlist: Int = 100): DataFrame =
    triJoinWith(idx, queries, topK, shortlist, rrfK, allowed,
      q => store.searchJoin(q, topK = shortlist, nprobe = nprobe,
        allowed = vecAllowed(store, allowed), excludeSelf = excludeSelf,
        maxRowsPerTask = maxRowsPerTask, compressed = compressed,
        shortlist = vecShortlist))

  /** The shared three-arm kernel — [[hybridJoinWith]] plus the phrase
    * probe, vector arm supplied by the caller (one-shot searchJoin or
    * the stream-resolved closure).
    */
  private def triJoinWith(idx: graft.text.TermIndex, queries: DataFrame,
                          topK: Int, shortlist: Int, rrfK: Int,
                          allowed: Option[DataFrame],
                          vecArm: DataFrame => DataFrame): DataFrame = {
    require(queries.columns.toSeq == Seq("query_id", "terms", "phrase", "qv"),
      s"queries must be (query_id, terms, phrase, qv), got ${queries.columns.mkString(", ")}")
    fuseRrf3(kwRanks(idx, queries, shortlist, allowed),
      vecRanks(vecArm(queries.select("query_id", "qv"))),
      phRanks(idx, queries, shortlist, allowed), topK, rrfK)
  }

  /** Continuous three-arm serving — [[serveHybridStream]]'s treatment
    * for [[triJoin]]: each micro-batch of (query_id, terms, phrase,
    * qv) rows probes the positional index twice (BM25 + phrase) and
    * the vector store once, writing the fused top-k to `outDir`
    * through [[graft.streaming.ServeStream]]. Arm state resolves ONCE
    * at stream start via [[fusionServing]]; the allowed set is pinned
    * once for all three arms.
    */
  def serveTriStream(idx: graft.text.TermIndex, store: VectorStore,
                     queries: DataFrame, outDir: String, checkpoint: String,
                     topK: Int = 10, shortlist: Int = 50, nprobe: Int = 2,
                     rrfK: Int = RRF_K,
                     allowed: Option[DataFrame] = None,
                     excludeSelf: Boolean = false,
                     maxRowsPerTask: Long = 0L,
                     compressed: Boolean = false,
                     vecShortlist: Int = 100)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val fs = fusionServing(idx, store, topK, shortlist, nprobe, rrfK,
      allowed, excludeSelf, maxRowsPerTask, compressed, vecShortlist)
    ServeStream.start(queries, checkpoint) { (batch, write) =>
      if (!batch.isEmpty) write(outDir, fs.triPage(batch))
    }
  }

  // --- cross-arity fusion serving: probe arms once, fuse many ways ---
  /** One batch's PINNED arm shortlists ((query_id, doc_id, rank_*)
    * frames, localCheckpoint'd eagerly) — the product of
    * [[FusionServing.arms]], consumable by any fusion arity or
    * weighting without re-probing. `release()` frees the checkpoint
    * blocks when the batch's serving is done.
    */
  final class FusionArms private[Serving](
      val kw: DataFrame, val vec: DataFrame, val ph: Option[DataFrame]) {
    def release(): Unit =
      (Seq(kw, vec) ++ ph).foreach(
        org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint)
  }

  /** Cross-arity fusion serving — the shortlist-reuse path for a
    * caller serving MULTIPLE fusions of the same batch (a hybrid page
    * and a tri page; A/B'd RRF weightings; a weighted re-rank slider).
    * [[hybridJoin]] and [[triJoin]] re-probe all arms per call, so
    * serving both against one corpus pays the vector shard join and
    * both index probes twice; here [[arms]] probes each arm ONCE and
    * pins the ≤ nQueries×shortlist rank frames, and every
    * [[hybrid]]/[[tri]] call after that is a fuse of pinned frames —
    * re-weighting is FREE (weights enter at fusion, not at probing).
    * Arm state (vector serving closure, pinned allowed set) resolves
    * once at construction, [[VectorStore.searchJoinServing]]'s
    * discipline.
    */
  final class FusionServing private[Serving](idx: graft.text.TermIndex,
      vecArm: DataFrame => DataFrame, shortlist: Int, topK: Int, rrfK: Int,
      allowed: Option[DataFrame]) {

    /** Probe every arm the batch shape carries and pin the results:
      * (query_id, terms, qv) probes keyword + vector; (query_id,
      * terms, phrase, qv) adds the phrase arm (tri-capable).
      */
    def arms(queries: DataFrame): FusionArms = {
      val cols = queries.columns.toSeq
      require(cols == Seq("query_id", "terms", "qv") ||
          cols == Seq("query_id", "terms", "phrase", "qv"),
        s"queries must be (query_id, terms[, phrase], qv), got ${cols.mkString(", ")}")
      val kw = kwRanks(idx, queries, shortlist, allowed).localCheckpoint(true)
      val vec = vecRanks(vecArm(queries.select("query_id", "qv")))
        .localCheckpoint(true)
      val ph =
        if (cols.contains("phrase"))
          Some(phRanks(idx, queries, shortlist, allowed).localCheckpoint(true))
        else None
      new FusionArms(kw, vec, ph)
    }

    // --- cross-CALL arms cache (round-13 VERDICT ask 4) -------------
    // A dashboard refreshing the same query frame re-probed per call
    // even though arms() reuses probes across arities WITHIN a call.
    // Key = (batch content hash, batch arity, text-index content
    // stamp): the hash is one tiny agg over the BATCH (never the
    // corpus), and the index stamp is a driver-side directory listing
    // — any append/delete/reclaim/compact changes it, so a mutated
    // index gets fresh probes, never stale shortlists. (The vector
    // arm's store state is frozen at construction by this class's
    // existing contract — searchJoinServing resolves centroids once —
    // so the store needs no stamp here.) LRU-bounded: evicted entries
    // release their checkpoint blocks, which is why CACHE-owned arms
    // must never be release()d by callers.
    private val armsLru =
      new java.util.LinkedHashMap[(Long, Long, Long, String), FusionArms](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Long, Long, Long, String), FusionArms])
            : Boolean = {
          val evict = size() > 8
          if (evict) e.getValue.release()
          evict
        }
      }

    private def batchStamp(queries: DataFrame): (Long, Long) = {
      // 32-bit hash() summed into a long (ANSI-overflow-safe below
      // 2^32 rows — the TopicCluster stamp convention); order-
      // independent, content-sensitive across every column including
      // the vector
      val r = queries.agg(count(lit(1)), coalesce(
        sum(hash(queries.columns.map(col): _*).cast(LongType)), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    /** [[arms]] behind the cross-call cache: a repeated batch (same
      * content, same arity, index unchanged) serves its pinned arm
      * frames with NO index or store probe — one batch-sized hash agg
      * is the whole cost. Returned arms are cache-owned: do NOT call
      * `release()` on them (eviction and [[invalidateArms]] do).
      */
    def armsCached(queries: DataFrame): FusionArms = {
      val (n, h) = batchStamp(queries)
      val key = (n, h, idx.contentStamp(), queries.columns.mkString(","))
      armsLru.synchronized {
        val hit = armsLru.get(key)
        if (hit != null) hit
        else { val a = arms(queries); armsLru.put(key, a); a }
      }
    }

    /** Drop every cached arm frame and free its checkpoint blocks —
      * for callers that mutate the underlying DATASET in-session
      * (the store side has no stamp; see the cache comment).
      */
    def invalidateArms(): Unit = armsLru.synchronized {
      armsLru.values().forEach(_.release())
      armsLru.clear()
    }

    /** Two-arm RRF over pinned arms — [[hybridJoin]]'s output shape;
      * weights are fusion-time knobs, so a re-weighted page costs no
      * probe.
      */
    def hybrid(a: FusionArms, wKw: Double = 1.0, wVec: Double = 1.0): DataFrame =
      fuseRrf(a.kw, a.vec, topK, rrfK, wKw, wVec)

    /** Three-arm RRF over pinned arms — [[triJoin]]'s output shape. */
    def tri(a: FusionArms): DataFrame =
      fuseRrf3(a.kw, a.vec, a.ph.getOrElse(throw new IllegalArgumentException(
        "tri fusion needs arms built from a (query_id, terms, phrase, qv) batch")),
        topK, rrfK)

    /** One batch's [[hybridJoin]] page as one un-pinned plan over this
      * session's arm state — the single-fusion streams' per-tick probe.
      */
    private[Serving] def hybridPage(queries: DataFrame, wKw: Double,
                                    wVec: Double): DataFrame =
      hybridJoinWith(idx, queries, topK, shortlist, rrfK, allowed, vecArm,
        wKw, wVec)

    /** One batch's [[triJoin]] page, as [[hybridPage]]. */
    private[Serving] def triPage(queries: DataFrame): DataFrame =
      triJoinWith(idx, queries, topK, shortlist, rrfK, allowed, vecArm)
  }

  /** Build a [[FusionServing]] session over both maintained indexes —
    * full vector-arm mode passthrough, allowed set pinned once for
    * every arm of every batch.
    */
  def fusionServing(idx: graft.text.TermIndex, store: VectorStore,
                    topK: Int = 10, shortlist: Int = 50, nprobe: Int = 2,
                    rrfK: Int = RRF_K,
                    allowed: Option[DataFrame] = None,
                    excludeSelf: Boolean = false,
                    maxRowsPerTask: Long = 0L,
                    compressed: Boolean = false,
                    vecShortlist: Int = 100): FusionServing = {
    val pinned = ServeStream.pin(allowed, "doc_id")
    val vecArm = store.searchJoinServing(topK = shortlist, nprobe = nprobe,
      allowed = vecAllowed(store, pinned), excludeSelf = excludeSelf,
      maxRowsPerTask = maxRowsPerTask, compressed = compressed,
      shortlist = vecShortlist)
    new FusionServing(idx, vecArm, shortlist, topK, rrfK, pinned)
  }

  /** [[fusionServing]] with the probe depth resolved from the store's
    * persisted PAGE-level recall curve
    * ([[VectorStore.evalFusionRecall]]): the cheapest nprobe whose
    * measured fusion recall meets `targetRecall` — tuned on the
    * metric the caller actually serves, not the vector arm's recall
    * in isolation. Refuses a stale curve (routing change, > 20% row
    * drift, OR a mutated text index) unless `checkFresh = false`;
    * the tune resolves ONCE here, [[FusionServing]]'s
    * state-at-construction discipline.
    */
  def fusionServingAtRecall(idx: graft.text.TermIndex, store: VectorStore,
                            targetRecall: Double,
                            topK: Int = 10, shortlist: Int = 50,
                            rrfK: Int = RRF_K,
                            allowed: Option[DataFrame] = None,
                            excludeSelf: Boolean = false,
                            maxRowsPerTask: Long = 0L,
                            compressed: Boolean = false,
                            vecShortlist: Int = 100,
                            checkFresh: Boolean = true): FusionServing =
    fusionServing(idx, store, topK, shortlist,
      nprobe = store.nprobeForFusion(idx, targetRecall, topK, shortlist, rrfK,
        checkFresh, compressed = compressed, vecShortlist = vecShortlist,
        allowed = allowed),
      rrfK = rrfK, allowed = allowed, excludeSelf = excludeSelf,
      maxRowsPerTask = maxRowsPerTask, compressed = compressed,
      vecShortlist = vecShortlist)

  /** Continuous cross-arity serving — [[fusionServing]] as a stream:
    * each micro-batch of (query_id, terms, phrase, qv) rows probes
    * the three arms ONCE, writes the two-arm RRF page to
    * `hybridOut` AND the three-arm page to `triOut` (both through
    * [[graft.streaming.ServeStream]]), then releases
    * the pinned arm frames. The one-stream form of "a service that
    * renders both fusion styles": [[serveHybridStream]] +
    * [[serveTriStream]] side by side would probe the vector store
    * and both index layouts TWICE per tick for the same queries.
    * Arm state resolves once at stream start; weights apply at
    * fusion, per the [[FusionServing]] contract.
    *
    * `cacheArms = true` (round 13): ticks go through
    * [[FusionServing.armsCached]], so a dashboard stream re-submitting
    * an IDENTICAL batch (same content, same arity) skips all three
    * probes for that tick — one batch-sized hash agg, then two fusions
    * of the pinned frames. The eviction story is the cache key itself:
    * it carries the TEXT index's content stamp, so any
    * append/delete/reclaim/compact between ticks re-probes (the index-
    * mutation watermark); the vector arm's serving state is frozen at
    * STREAM START by this function's existing contract — a rebuilt
    * store needs a stream restart with or without the cache, so the
    * store needs no stamp in the key. Cached arms are LRU-owned
    * (released on eviction, ≤ 8 batches pinned), not released per
    * tick; a stream whose every batch is unique should leave the cache
    * off — it would pin 8 batches' frames for no hit.
    */
  def serveFusionStream(idx: graft.text.TermIndex, store: VectorStore,
                        queries: DataFrame, hybridOut: String, triOut: String,
                        checkpoint: String,
                        topK: Int = 10, shortlist: Int = 50, nprobe: Int = 2,
                        rrfK: Int = RRF_K,
                        allowed: Option[DataFrame] = None,
                        excludeSelf: Boolean = false,
                        maxRowsPerTask: Long = 0L,
                        compressed: Boolean = false,
                        vecShortlist: Int = 100,
                        wKw: Double = 1.0, wVec: Double = 1.0,
                        cacheArms: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val fs = fusionServing(idx, store, topK, shortlist, nprobe, rrfK,
      allowed, excludeSelf, maxRowsPerTask, compressed, vecShortlist)
    ServeStream.start(queries, checkpoint) { (batch, write) =>
      if (!batch.isEmpty) {
        val a = if (cacheArms) fs.armsCached(batch) else fs.arms(batch)
        try {
          write(hybridOut, fs.hybrid(a, wKw, wVec))
          write(triOut, fs.tri(a))
        } finally if (!cacheArms) a.release()
      }
    }
  }

  /** The registered three-arm batch — #9m's shape plus the phrase
    * arm, all text probes served from ONE shared positional index.
    */
  private val hybridTriQueries: Seq[(Long, Seq[String], Seq[String])] = Seq(
    (0L, Seq("vector", "merge", "scan"), Seq("merge", "join")),
    (1L, Seq("scan", "filter", "join"), Seq("table", "hash")),
    (2L, Seq("table", "stream"), Seq("part", "filter")))

  private def hybridTri(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = graft.text.TextAnalysis.servedIdx(s, d, positional = true)
    val kw = idx.searchBatch(
        hybridTriQueries.map(q => (q._1, q._2)).toDF("query_id", "terms"),
        k = SHORTLIST)
      .withColumn("rank_kw", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("bm25"), asc("doc_id"))))
      .select("query_id", "doc_id", "rank_kw")
    val ph = idx.searchPhraseBatch(
        hybridTriQueries.map(q => (q._1, q._3)).toDF("query_id", "phrase"),
        k = SHORTLIST)
      .withColumn("rank_ph", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(desc("n_occurrences"), asc("doc_id"))))
      .select("query_id", "doc_id", "rank_ph")
    val vec = ivfBatchArm(s, d, hybridTriQueries.map(_._1), allowed = None)
    fuseRrf3(kw, vec, ph, topK = 10, rrfK = RRF_K)
  }

  private def hybridTriSqlFor(qid: Long, terms: Seq[String],
                              phrase: Seq[String]): String = {
    val (bmCtes, bmScore) = graft.text.TextAnalysis.bm25CtesFor(terms)
    // the phrase arm's window-enumeration SELECT nests as a subquery
    // (its WITH names shadow the outer CTEs inside the parens)
    val phSel = graft.text.TextAnalysis.phraseSqlFor(phrase, slop = 0,
      limit = SHORTLIST)
    s"""WITH $bmCtes,
       |kwsel AS (
       |  SELECT doc_id, score0 FROM (SELECT d.doc_id,
       |      $bmScore AS score0
       |      FROM d CROSS JOIN c) q
       |  WHERE score0 > 0 ORDER BY score0 DESC, doc_id LIMIT $SHORTLIST),
       |kwtop AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (
       |    ORDER BY ROUND(score0, 4) DESC, doc_id) AS rank_kw
       |  FROM kwsel),
       |${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = $qid),
       |qsh AS (SELECT shard FROM (
       |  SELECT c.shard, ROW_NUMBER() OVER (
       |    ORDER BY list_distance(qv.v, c.c), c.shard) AS rn
       |  FROM qv CROSS JOIN cent c) t WHERE rn <= 2),
       |vsel AS (
       |  SELECT b.vec_id AS doc_id,
       |         list_cosine_similarity(b.embedding::DOUBLE[], qv.v) AS vscore
       |  FROM qv CROSS JOIN qsh
       |  JOIN assign a ON a.shard = qsh.shard
       |  JOIN embeddings b ON b.vec_id = a.vec_id
       |  WHERE b.vec_id <> $qid
       |  ORDER BY vscore DESC, doc_id LIMIT $SHORTLIST),
       |vtop AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY vscore DESC, doc_id) AS rank_vec
       |  FROM vsel),
       |phtop AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (
       |    ORDER BY n_occurrences DESC, doc_id) AS rank_ph
       |  FROM (
       |$phSel
       |  )),
       |fused AS (
       |  SELECT COALESCE(k.doc_id, v.doc_id, p.doc_id) AS doc_id,
       |         COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + k.rank_kw), 0) +
       |         COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + v.rank_vec), 0) +
       |         COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + p.rank_ph), 0) AS rrf,
       |         COALESCE(k.rank_kw, 0) AS rank_kw,
       |         COALESCE(v.rank_vec, 0) AS rank_vec,
       |         COALESCE(p.rank_ph, 0) AS rank_ph
       |  FROM kwtop k
       |  FULL OUTER JOIN vtop v ON k.doc_id = v.doc_id
       |  FULL OUTER JOIN phtop p ON p.doc_id = COALESCE(k.doc_id, v.doc_id))
       |SELECT CAST($qid AS BIGINT) AS query_id,
       |       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
       |       doc_id, CAST(rank_kw AS BIGINT) AS rank_kw,
       |       CAST(rank_vec AS BIGINT) AS rank_vec,
       |       CAST(rank_ph AS BIGINT) AS rank_ph,
       |       CAST(ROUND(rrf * 1000000) AS BIGINT) AS rrf_x1e6
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  }

  private val hybridTriSql =
    hybridTriQueries.map { case (qid, terms, phrase) =>
      s"SELECT * FROM (\n${hybridTriSqlFor(qid, terms, phrase)}\n)"
    }.mkString("\nUNION ALL\n")

  // --- knn join: top-3 neighbors for EVERY vector ---------------------
  /** The knn JOIN — every corpus vector is simultaneously a query. This
    * is the primitive behind semantic dedup, embedding-based related-
    * item recommendation, and hard-negative mining; the reference's
    * clients get it only by looping /search per vector (test.py:117-127
    * does exactly that). Scale shape: each query probes its nprobe=2
    * nearest shards as a PROJECTION (no per-query planning), scoring is
    * an EQUI-JOIN on the shard key — candidate count per query is the
    * probed shards' population, never the corpus, and neither side is
    * broadcast (both are corpus-sized; the join shuffles on the shard
    * key and AQE may still broadcast at small SF). Per-query top-3 via
    * the bounded-heap TopKAgg: the shuffle after scoring carries ≤3
    * rows per (query, map partition). At testdata's K=4/nprobe=2 the
    * probe set is wide enough that the oracle below — which replays
    * the SAME pruning — matches hash-exactly.
    *
    * SKEW: the join's task grain is the shard id — a hot shard (more
    * members AND more queries routed to it; clustered data makes both
    * at once) re-concentrates its candidate volume on one task no
    * matter how many executors exist. `maxRowsPerTask > 0` bounds the
    * straggler via [[graft.operators.SaltedJoin.joinByPopulation]]:
    * per-shard salt = ceil(population / maxRowsPerTask), corpus side
    * partitioned, query side replicated per probed shard's salt.
    * Result-invariant (every candidate pair meets in exactly one
    * task); the TopKAgg's partial aggregation is salt-blind. The
    * registered query runs SALTED with a population-scaled bound that
    * forces saltc ≥ 2 at every SF against a salt-blind oracle, so a green row PROVES
    * invariance — the q_skew_join contract. Note AQE's own skew-split
    * covers the plain BATCH join (measured: it beats the salt on a
    * planted hot shard); the salt is the defense for the regimes AQE
    * can't reach — stream-static scoring (`StreamingSearch.scoreIvf`),
    * pinned output partitionings, skew-split-off configs — and
    * `maxRowsPerTask` is the direct task-size knob AQE's byte
    * threshold only approximates.
    */
  private[graft] def knnJoinFrame(e: DataFrame, maxRowsPerTask: Long = 0L,
                                  corpusPred: Option[Column] = None,
                                  k: Int = 3,
                                  metric: String =
                                    graft.plans.ShardTopKJoin.Metric.Cosine)
      : DataFrame = {
    val cents = Centroids.deterministicInit(e, k = K)
    // NOT fanned (r16 A/B): the probe side's explode(nprobe) + qv
    // serialization runs as one task writing the whole replicated
    // shuffle (~110 ms run, profile stage [349]), but fanning `e`
    // byte-aware regressed every knn-join query ~0.2 s (0.63→0.82
    // ivf, 0.83→0.97 classify): the fan exchange is NOT reused across
    // the two children (self-join attribute dedup defeats exchange
    // canonicalization), so both sides paid it, and its latency sits
    // on the critical path ahead of the shard shuffle both sides
    // already pay. The single-task stage is the cheaper evil here.
    // predicate restricts the CORPUS side before any scoring, after
    // shard assignment against the full-corpus routing centroids (the
    // store's routing is a property of the index, not of one query's
    // allowed set). Every query still probes its own nprobe nearest
    // shards and ranks top-k among the ALLOWED docs there — a
    // selective predicate costs no recall, unlike post-filtering a
    // top-k (which returns < k or misses allowed neighbors ranked
    // below disallowed ones). The predicate is a plain filter over
    // scan columns, so Catalyst pushes it below the shard projection
    // into the parquet scan; with the predicate as a partition-style
    // column the pruning is free. Queries remain ALL vectors —
    // restricting who asks is the caller's slice, orthogonal to this.
    val corpus0 = e.withColumn("shard", Centroids.nearestShard(col("embedding"), cents))
    val corpus = corpusPred.fold(corpus0)(corpus0.filter)
      .select(col("vec_id").cast(LongType).as("vec_id"),
        col("shard").cast(LongType).as("shard"),
        col("embedding").cast("array<double>").as("embedding"))
    // nearestShards elements are already LONG (Centroids casts sids)
    val queries = e.select(col("vec_id").cast(LongType).as("query_id"),
      explode(Centroids.nearestShards(col("embedding"), cents, nprobe = 2))
        .as("shard"),
      col("embedding").cast("array<double>").as("qv"))
    // fused exec (graft.plans.ShardTopKJoinExec): both sides still
    // shuffle on the (shard[, salt]) key exactly like the old
    // join→cosine→TopKAgg pipeline, but scoring and the bounded heap
    // run inside the join's own partition loop — no per-pair row
    // materialization or aggregate hash walk (round 12 measured that
    // walk at ~20 s of the 5k×1M leg's 33.6 s). Scores bit-identical
    // (the exec mirrors VectorKernels.cosine term-for-term), so the
    // DuckDB-oracle hash stays the proof.
    graft.plans.ShardTopKJoin.ranked(corpus, queries, k,
        excludeSelf = true, idName = "vec_id",
        maxRowsPerTask = maxRowsPerTask, saltOn = Some(col("vec_id")),
        metric = metric)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("score"), 4).as(
          if (metric == graft.plans.ShardTopKJoin.Metric.L2) "dist" else "score"))
  }

  private def knnJoinIvf(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // POPULATION-SCALED task bound, not a constant: with a fixed
    // maxRowsPerTask the per-shard salt — and with it the query side's
    // replication factor — would grow linearly with corpus size
    // (saltc = ceil(n/K / bound)). n/(8K) keeps saltc ≈ 8 at any n,
    // so replicated shuffle volume stays a constant multiple of the
    // query side, while still forcing saltc ≥ 2 at every test SF — the
    // salt-blind oracle keeps proving invariance. One count() job at
    // plan construction (parquet metadata at real scale).
    val n = e.count()
    knnJoinFrame(e, maxRowsPerTask = math.max(2L, n / (8L * K)))
  }

  /** The L2 (euclidean) knn JOIN — [[knnJoinFrame]] through the fused
    * exec's L2 metric: the heap keys on the NEGATED distance so the
    * max-heap keeps the nearest, rank ascends distance with ties to
    * the lower id. The reference routes on L2 (compute_server.py:40-48)
    * and `vdb_knn_l2` serves the single-query form; this is the
    * metric-complete join twin — same salted shard equi-join shape,
    * same oracle discipline (DuckDB `list_distance` agrees with
    * VectorKernels.l2 at 4-dp rounding, proven by vdb_knn_l2 since
    * round 4).
    */
  private def knnJoinL2(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val n = e.count()
    knnJoinFrame(e, maxRowsPerTask = math.max(2L, n / (8L * K)),
      metric = graft.plans.ShardTopKJoin.Metric.L2)
  }

  /** The inner-product (MIPS) knn JOIN — [[knnJoinFrame]] through the
    * fused exec's Ip metric (round 15): unnormalized dot, higher =
    * better, rank descending score with ties to the lower id. The
    * metric a trained-embedding recommender actually serves; the
    * reference has cosine (compute_server.py:32-37) and L2 (:29-30)
    * only, so this completes the standard metric triple. Same salted
    * shard equi-join shape and 4-dp oracle discipline as the cosine /
    * L2 twins (DuckDB `list_inner_product` matches VectorKernels.dot).
    */
  private def knnJoinIp(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val n = e.count()
    knnJoinFrame(e, maxRowsPerTask = math.max(2L, n / (8L * K)),
      metric = graft.plans.ShardTopKJoin.Metric.Ip)
  }

  private val knnJoinIpSql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings),
       |qsh AS (SELECT query_id, shard FROM (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS rn
       |  FROM q CROSS JOIN cent c) t WHERE rn <= 2),
       |scored AS (
       |  SELECT q.query_id, b.vec_id,
       |         list_inner_product(b.embedding::DOUBLE[], q.qv) AS s,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_inner_product(b.embedding::DOUBLE[], q.qv) DESC,
       |                    b.vec_id) AS rank
       |  FROM q
       |  JOIN qsh ON qsh.query_id = q.query_id
       |  JOIN assign a ON a.shard = qsh.shard
       |  JOIN embeddings b ON b.vec_id = a.vec_id
       |  WHERE b.vec_id <> q.query_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, ROUND(s, 4) AS score
       |FROM scored WHERE rank <= 3""".stripMargin

  private val knnJoinL2Sql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings),
       |qsh AS (SELECT query_id, shard FROM (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS rn
       |  FROM q CROSS JOIN cent c) t WHERE rn <= 2),
       |scored AS (
       |  SELECT q.query_id, b.vec_id,
       |         list_distance(b.embedding::DOUBLE[], q.qv) AS s,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(b.embedding::DOUBLE[], q.qv) ASC,
       |                    b.vec_id) AS rank
       |  FROM q
       |  JOIN qsh ON qsh.query_id = q.query_id
       |  JOIN assign a ON a.shard = qsh.shard
       |  JOIN embeddings b ON b.vec_id = a.vec_id
       |  WHERE b.vec_id <> q.query_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, ROUND(s, 4) AS dist
       |FROM scored WHERE rank <= 3""".stripMargin

  private val knnJoinIvfSql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings),
       |qsh AS (SELECT query_id, shard FROM (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS rn
       |  FROM q CROSS JOIN cent c) t WHERE rn <= 2),
       |scored AS (
       |  SELECT q.query_id, b.vec_id,
       |         list_cosine_similarity(b.embedding::DOUBLE[], q.qv) AS s,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_cosine_similarity(b.embedding::DOUBLE[], q.qv) DESC,
       |                    b.vec_id) AS rank
       |  FROM q
       |  JOIN qsh ON qsh.query_id = q.query_id
       |  JOIN assign a ON a.shard = qsh.shard
       |  JOIN embeddings b ON b.vec_id = a.vec_id
       |  WHERE b.vec_id <> q.query_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, ROUND(s, 4) AS score
       |FROM scored WHERE rank <= 3""".stripMargin

  // --- FILTERED knn join: metadata predicate before scoring ----------
  // --- range (radius) search at JOIN scale ----------------------------
  /** Radius search for a BATCH of queries through the IVF routing —
    * `vdb_range_search`'s threshold semantics (every match with
    * cosine ≥ τ, unranked) at `knnJoinFrame`'s scale shape: queries
    * probe their nprobe=2 nearest shards as a projection, scoring is
    * the shard equi-join, and the threshold is a MAP-SIDE filter — no
    * heap, no window, no per-query sort anywhere; the result is a
    * data-determined set. The one-shot `vdb_range_search` broadcasts
    * its 5 queries against the FULL corpus (exact); this is the form
    * that scales to a query FRAME — per-query candidate volume is the
    * probed shards' population, and a corpus-sized query set costs
    * one equi-join, not a loop. The oracle replays the same
    * deterministic-centroid pruning, so a green row pins the IVF
    * recall contract too (matches in unprobed shards are missed by
    * BOTH engines). Library twin: [[VectorStore.rangeJoin]] (adds
    * allowed/excludeSelf/salting/compressed-ADC-prefilter modes
    * against the persisted store).
    */
  private def rangeJoinQuery(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = Centroids.deterministicInit(e, k = K)
    val corpus = e.withColumn("shard", Centroids.nearestShard(col("embedding"), cents))
    val queries = e.filter(col("vec_id").isin(0L, 100L, 200L, 300L, 400L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(Centroids.nearestShards(col("embedding"), cents, nprobe = 2))
          .as("shard"))
    corpus.join(broadcast(queries), Seq("shard"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score0", cosineSim(col("embedding"), col("qv")))
      .filter(col("score0") >= 0.25)
      .select(col("query_id"), col("vec_id"), round(col("score0"), 4).as("score"))
  }

  private val rangeJoinSql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
       |      WHERE vec_id IN (0, 100, 200, 300, 400)),
       |qsh AS (SELECT query_id, shard FROM (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS rn
       |  FROM q CROSS JOIN cent c) t WHERE rn <= 2)
       |SELECT q.query_id, b.vec_id,
       |       ROUND(list_cosine_similarity(b.embedding::DOUBLE[], q.qv), 4) AS score
       |FROM q
       |JOIN qsh ON qsh.query_id = q.query_id
       |JOIN assign a ON a.shard = qsh.shard
       |JOIN embeddings b ON b.vec_id = a.vec_id
       |WHERE b.vec_id <> q.query_id
       |  AND list_cosine_similarity(b.embedding::DOUBLE[], q.qv) >= 0.25""".stripMargin

  /** The metadata-predicated knn JOIN — the most common real retrieval
    * shape after plain top-k: EVERY query vector's top-3 among the
    * docs an access/metadata predicate allows (here `label = 3` —
    * tenant, license, language, freshness in production). This is
    * `VectorStore.searchWhere`'s filter-THEN-search semantics at join
    * scale: [[knnJoinFrame]]'s salted shard-equi-join plan with the
    * predicate applied to the corpus side BEFORE any scoring, so a
    * selective predicate costs no recall (a post-filtered top-k — the
    * reference clients' only option around their per-vector /search
    * loop, compute_server.py:106-138 — drops allowed neighbors ranked
    * below disallowed ones). Routing stays the full-corpus centroids:
    * the allowed set changes per call, the index's routing does not.
    * The salt bound scales with the FILTERED population (the join's
    * actual big side); queries whose probed shards hold no allowed
    * doc emit nothing, exactly as the oracle's replayed pruning does.
    */
  private def knnJoinFiltered(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"), col("label"))
    val n = e.filter(col("label") === 3).count()
    knnJoinFrame(e, maxRowsPerTask = math.max(2L, n / (8L * K)),
      corpusPred = Some(col("label") === 3))
  }

  private val knnJoinFilteredSql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings),
       |qsh AS (SELECT query_id, shard FROM (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS rn
       |  FROM q CROSS JOIN cent c) t WHERE rn <= 2),
       |scored AS (
       |  SELECT q.query_id, b.vec_id,
       |         list_cosine_similarity(b.embedding::DOUBLE[], q.qv) AS s,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_cosine_similarity(b.embedding::DOUBLE[], q.qv) DESC,
       |                    b.vec_id) AS rank
       |  FROM q
       |  JOIN qsh ON qsh.query_id = q.query_id
       |  JOIN assign a ON a.shard = qsh.shard
       |  JOIN embeddings b ON b.vec_id = a.vec_id
       |  WHERE b.vec_id <> q.query_id AND b.label = 3)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, ROUND(s, 4) AS score
       |FROM scored WHERE rank <= 3""".stripMargin

  // --- knn classification: majority label of the 10 nearest ----------
  /** kNN classification at join scale — EVERY vector's predicted label
    * = the majority label among its 10 nearest neighbors (self
    * excluded), ties to the smaller label. The auto-labeling shape a
    * curation pipeline runs to propagate a seed taxonomy (quality
    * tier, domain, license class) from a labeled slice onto the whole
    * corpus, and the leave-one-out consistency check that flags
    * mislabeled seeds (predicted ≠ stored). The reference's clients
    * could only loop /search per vector and tally client-side.
    *
    * Scale shape: [[knnJoinFrame]]'s salted shard-equi-join serves the
    * neighbor lists (top-10 through the bounded heap — k rows per
    * (query, map partition) cross the shuffle, never candidates); the
    * label lookup is ONE equi-join of the (n·10)-row neighbor frame
    * against the corpus's (vec_id, label) projection — co-partitionable
    * on vec_id, no broadcast of anything corpus-sized; the vote is a
    * two-level aggregate whose second level carries ≤ |labels| rows
    * per query, folded to one row by a max(struct) — no window, no
    * sort. Votes count UNWEIGHTED neighbors (rank-independent), so the
    * result is insensitive to score rounding; both engines cut the
    * same top-10 on unrounded scores (the `vdb_knn_join_ivf`
    * contract).
    */
  private def knnClassify(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val n = e.count()
    val nn = knnJoinFrame(e, maxRowsPerTask = math.max(2L, n / (8L * K)), k = 10)
    val labels = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast(LongType).as("label"))
    nn.join(labels, "vec_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .groupBy("query_id")
      .agg(max(struct(col("n_votes"), (-col("label")).as("nl"),
        col("label"))).as("w"))
      .select(col("query_id"), col("w.label").as("pred_label"),
        col("w.n_votes").as("n_votes"))
  }

  private val knnClassifySql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings),
       |qsh AS (SELECT query_id, shard FROM (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS rn
       |  FROM q CROSS JOIN cent c) t WHERE rn <= 2),
       |scored AS (
       |  SELECT q.query_id, b.vec_id, b.label,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_cosine_similarity(b.embedding::DOUBLE[], q.qv) DESC,
       |                    b.vec_id) AS rank
       |  FROM q
       |  JOIN qsh ON qsh.query_id = q.query_id
       |  JOIN assign a ON a.shard = qsh.shard
       |  JOIN embeddings b ON b.vec_id = a.vec_id
       |  WHERE b.vec_id <> q.query_id),
       |votes AS (
       |  SELECT query_id, label, COUNT(*) AS n_votes
       |  FROM scored WHERE rank <= 10 GROUP BY 1, 2),
       |pick AS (
       |  SELECT query_id, label, n_votes,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY n_votes DESC, label ASC) AS rn
       |  FROM votes)
       |SELECT query_id, CAST(label AS BIGINT) AS pred_label, n_votes
       |FROM pick WHERE rn = 1""".stripMargin

  // --- recall@10: IVF vs exact, per query ------------------------------
  /** The evaluation loop that tunes nprobe: per query, |IVF top-10 ∩
    * exact top-10| — the number an operator watches before trading
    * recall for pruning (raise nprobe when it dips, lower when it
    * saturates). The reference has no evaluation surface at all; its
    * report/benchmarks.py times requests but never measures recall.
    * Both arms reuse the serving shapes (broadcast 20-query set; exact
    * arm scores all shards, IVF arm equi-joins its nprobe=2 probes) and
    * the comparison is a join of two 200-row frames. Integer-exact end
    * to end — no float leaves the plan.
    */
  private def recallEval(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = Centroids.deterministicInit(e, k = K)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("score0", cosineSim(col("embedding"), col("qv")))
      .groupBy("query_id")
      .agg(TopKAgg.topK(col("score0"), col("vec_id"), 10).as("tops"))
      .select(col("query_id"), explode(col("tops.id")).as("vec_id"))
    val probes = queries.withColumn("shard",
      explode(Centroids.nearestShards(col("qv"), cents, nprobe = 2)))
    val ivf = e.withColumn("shard", Centroids.nearestShard(col("embedding"), cents))
      .join(broadcast(probes), Seq("shard"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score0", cosineSim(col("embedding"), col("qv")))
      .groupBy("query_id")
      .agg(TopKAgg.topK(col("score0"), col("vec_id"), 10).as("tops"))
      .select(col("query_id"), explode(col("tops.id")).as("vec_id"),
        lit(1L).as("hit"))
    exact.join(ivf, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        expr("n_hit * 10000 div n_exact").as("recall_x1e4"))
  }

  // --- the full recall curve: recall@10 for EVERY probe depth ---------
  /** [[recallEval]] generalized to the whole tuning surface in one
    * pass — the table `VectorStore.evalRecall` persists and
    * `searchAtRecall` consults, as an oracle-checked query. Key
    * property: an exact top-10 member is an IVF hit at probe depth p
    * iff its shard's PROBE RANK for that query (position in the
    * centroid-distance order) is ≤ p — so one exact-arm top-10 pass
    * annotated with probe ranks yields recall@10 for all K depths
    * with no per-depth re-search. Output: (nprobe, recall_x1e4),
    * K rows, integer-exact.
    */
  private def recallCurve(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = Centroids.deterministicInit(e, k = K)
    val assigned = e.withColumn("shard",
      Centroids.nearestShard(col("embedding"), cents))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    curveFrom(assigned, queries, cents, K, topK = 10, nQueries = 20L)
  }

  /** The one-pass probe-rank curve shared by this query and
    * `VectorStore.evalRecall`: exact top-`topK` per query (bounded
    * heap), each hit annotated with the PROBE RANK of its shard for
    * that query, rolled up to recall@topK for every depth 1..k.
    * `assigned` columns: (vec_id LONG, shard, embedding); `queries`:
    * (query_id, qv). Note: array_position's not-found sentinel is 0,
    * which would count as a hit at every depth — safe here because
    * the rank array always holds ALL k shards (nprobe = k) and every
    * assigned shard comes from the same centroid set.
    */
  private[vector] def curveFrom(assigned: DataFrame, queries: DataFrame,
                                cents: Seq[(Int, Array[Double])], k: Int,
                                topK: Int, nQueries: Long,
                                metric: String =
                                  graft.plans.ShardTopKJoin.Metric.Cosine)
      : DataFrame =
    curveFromHits(exactHits(assigned, queries, topK, metric), assigned, queries,
      cents, k, denom = nQueries * topK)

  /** The L2 recall curve — [[recallCurve]]'s probe-rank trick against
    * EUCLIDEAN ground truth (round 13: completes the metric surface
    * the way `vdb_range_recall` did for radius). The reference routes
    * on L2 (compute_server.py:40-48) and `vdb_knn_join_l2` serves L2
    * top-k at join scale; this measures what that serving path's IVF
    * pruning actually recalls per probe depth: an exact L2 top-10
    * member is found at depth p iff its shard's probe rank ≤ p — the
    * routing side is ALREADY L2 (nearest-centroid by distance), only
    * the truth set changes geometry. Same one-pass shape, K rows,
    * integer-exact; `VectorStore.evalRecall(metric = l2)` persists the
    * store-level twin that `searchAtRecall(metric = l2)` tunes from.
    */
  private def recallL2(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = Centroids.deterministicInit(e, k = K)
    val assigned = e.withColumn("shard",
      Centroids.nearestShard(col("embedding"), cents))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    curveFrom(assigned, queries, cents, K, topK = 10, nQueries = 20L,
      metric = graft.plans.ShardTopKJoin.Metric.L2)
  }

  /** The registered fusion-recall query — `vdb_fusion_recall`:
    * [[fusionRecallFrame]] over the deterministic-centroid store and
    * the SHARED flat TermIndex, on the same three (terms, qv) probes
    * `vdb_hybrid_batch` serves. Per depth p, the page served at
    * nprobe = p vs the exact-arm page (p = numShards) — the
    * page-level recall a RAG caller experiences, which the vector
    * curve (#9j) bounds but does not determine (RRF re-surfaces
    * vector misses through keyword ranks). The DuckDB oracle replays
    * every (query, depth) page through the SAME fused CTE chain the
    * hybrid-page oracles use and rolls up the overlap — integer-exact.
    */
  private def fusionRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d)
    val cents = Centroids.deterministicInit(e, k = K)
    val assigned = e.select(col("vec_id"),
      Centroids.nearestShard(col("embedding"), cents).as("shard"),
      col("embedding"))
    val idx = graft.text.TextAnalysis.servedIdx(s, d, positional = false)
    val kw = kwRanks(idx, hybridBatchQueries.toDF("query_id", "terms"),
      SHORTLIST, allowed = None)
    val queries = e.filter(col("vec_id").isin(hybridBatchQueries.map(_._1): _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    fusionRecallFrame(kw, assigned, queries, cents, K, topK = 10,
      shortlist = SHORTLIST, rrfK = RRF_K,
      nQueries = hybridBatchQueries.size.toLong)
  }

  private val fusionRecallSql = {
    val pages = (for {
      (qid, terms) <- hybridBatchQueries
      p <- 1 to K
    } yield s"SELECT * FROM (\n${fusionPageSqlFor(qid, terms, p)}\n)")
      .mkString("\nUNION ALL\n")
    s"""WITH pages AS (\n$pages\n),
       |exact AS (SELECT query_id, doc_id FROM pages WHERE nprobe = $K)
       |SELECT p.nprobe,
       |       CAST(SUM(CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END) * 10000
       |            // ${hybridBatchQueries.size * 10} AS BIGINT) AS recall_x1e4
       |FROM pages p LEFT JOIN exact e
       |  ON e.query_id = p.query_id AND e.doc_id = p.doc_id
       |GROUP BY 1""".stripMargin
  }

  /** Radius (range-search) recall curve — [[recallCurve]]'s probe-rank
    * trick applied to a THRESHOLD truth set: for each probe depth p,
    * the fraction of TRUE τ-matches (exact cosine ≥ τ, self excluded)
    * whose assigned shard ranks ≤ p in the query's centroid-distance
    * order. This MEASURES `vdb_range_join`'s IVF recall contract
    * (matches in unprobed shards are missed — until now oracle-pinned
    * but never quantified per depth; reference anchor:
    * compute_server.py:106-138's shards_to_search knob, radius
    * flavor). Unlike recall@k the denominator is data-determined (the
    * true match count), so `n_matches` rides along. One corpus
    * scoring pass: the tiny prank frame (one LONG per true match) is
    * eagerly localCheckpoint'd, and the count + per-depth rollup both
    * read it.
    */
  private def rangeRecall(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cents = Centroids.deterministicInit(e, k = K)
    val assigned = e.withColumn("shard",
      Centroids.nearestShard(col("embedding"), cents))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    rangeCurveFrom(assigned, queries, cents, K, minScore = 0.25)
  }

  /** The shared radius-curve kernel (this query and
    * `VectorStore.evalRangeRecall`): score the broadcast queries
    * against the assigned corpus once, keep each τ-match's probe
    * rank, roll up to per-depth found-fractions. `assigned`:
    * (vec_id, shard, embedding); `queries`: (query_id, qv). A
    * zero-match corpus yields recall 10000 at every depth (vacuously
    * complete — there was nothing to find).
    */
  private[vector] def rangeCurveFrom(assigned: DataFrame, queries: DataFrame,
                                     cents: Seq[(Int, Array[Double])],
                                     k: Int, minScore: Double): DataFrame = {
    val pranks = assigned.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("__s", cosineSim(col("embedding"), col("qv")))
      .filter(col("__s") >= minScore)
      .select(array_position(
        Centroids.nearestShards(col("qv"), cents, k), col("shard")).as("prank"))
      .localCheckpoint(true)
    val nm = pranks.count()
    if (nm == 0L) {
      val s = queries.sparkSession
      s.range(1, k + 1L).select(col("id").as("nprobe"),
        lit(10000L).as("recall_x1e4"), lit(0L).as("n_matches"))
    } else
      pranks
        .select(explode(sequence(lit(1L), lit(k.toLong))).as("nprobe"), col("prank"))
        .groupBy("nprobe")
        .agg((sum(when(col("prank") <= col("nprobe"), 1L).otherwise(0L)) * 10000L)
          .as("__h"))
        .select(col("nprobe"), expr(s"__h div $nm").as("recall_x1e4"),
          lit(nm).as("n_matches"))
  }

  private val rangeRecallSql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 20),
       |qsh AS (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS prank
       |  FROM q CROSS JOIN cent c),
       |hits AS (
       |  SELECT qsh.prank
       |  FROM q
       |  JOIN embeddings b ON b.vec_id <> q.query_id
       |  JOIN assign a ON a.vec_id = b.vec_id
       |  JOIN qsh ON qsh.query_id = q.query_id AND qsh.shard = a.shard
       |  WHERE list_cosine_similarity(b.embedding::DOUBLE[], q.qv) >= 0.25)
       |SELECT p.nprobe,
       |       CAST(SUM(CASE WHEN hits.prank <= p.nprobe THEN 1 ELSE 0 END) * 10000
       |            // (SELECT COUNT(*) FROM hits) AS BIGINT) AS recall_x1e4,
       |       CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_matches
       |FROM hits CROSS JOIN (SELECT UNNEST(range(1, ${K + 1})) AS nprobe) p
       |GROUP BY 1""".stripMargin

  /** The shared exact arm: per query, the exact top-`topK` ids
    * (self excluded) via the fused broadcast exec
    * ([[graft.plans.BroadcastTopKJoin]]) — (query_id,
    * vec_id) rows. Both the raw-IVF curve and `VectorStore.evalRecall`'s
    * compressed (ADC-shortlist) curve measure against this ground
    * truth, so `evalRecall(compressed = true)` runs it ONCE for both.
    * `metric` picks the ground-truth geometry: cosine (descending
    * similarity) or [[graft.plans.ShardTopKJoin.Metric.L2]] (ascending
    * distance — the heap keys on the NEGATED distance, the searchJoin
    * L2 convention, so ties still break to the lower id).
    */
  private[vector] def exactHits(assigned: DataFrame, queries: DataFrame,
                                topK: Int,
                                metric: String =
                                  graft.plans.ShardTopKJoin.Metric.Cosine)
      : DataFrame =
    // fused broadcast exec (round 13): the corpus scan stays map-only
    // — NO exchange, the one shape that survives 100 TB for a tiny
    // query sample — but scoring + heaps run inside the partition
    // loop, so the (corpus row x query) pairs never walk
    // ObjectHashAggregate (the declarative broadcast-join + TopKAgg
    // plan paid a hash probe per pair, ~half the exact arm's cost at
    // 1M x 48). Kernel accumulation and (score desc, id asc) heap
    // order are bit-identical to the previous plan — the recall-curve
    // oracle hashes and BroadcastTopKJoinSpec pin it.
    graft.plans.BroadcastTopKJoin.ranked(
        assigned.select(col("vec_id").cast(LongType).as("vec_id"),
          col("embedding").cast("array<double>").as("embedding")),
        queries.select(col("query_id").cast(LongType).as("query_id"),
          col("qv").cast("array<double>").as("qv")),
        topK, excludeSelf = true, metric = metric)
      .select(col("query_id"), col("id").as("vec_id"))

  /** Probe-rank rollup of [[exactHits]] output into the raw-path
    * recall curve (see [[curveFrom]]'s Scaladoc for the trick).
    * `denom` is the truth-set size — nQueries·topK on a whole corpus;
    * the ACTUAL hit count on a filtered slice (a slice smaller than
    * topK+1 yields fewer than topK truths per query).
    */
  private[vector] def curveFromHits(hits: DataFrame, assigned: DataFrame,
                                    queries: DataFrame,
                                    cents: Seq[(Int, Array[Double])], k: Int,
                                    denom: Long): DataFrame =
    hits
      .join(assigned.select("vec_id", "shard"), "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("prank",
        array_position(Centroids.nearestShards(col("qv"), cents, k), col("shard")))
      .select(explode(sequence(lit(1L), lit(k.toLong))).as("nprobe"), col("prank"))
      .groupBy("nprobe")
      .agg((sum(when(col("prank") <= col("nprobe"), 1L).otherwise(0L)) * 10000L)
        .as("__h"))
      .select(col("nprobe"), expr(s"__h div ${math.max(denom, 1L)}").as("recall_x1e4"))

  private val recallCurveSql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 20),
       |exact AS (SELECT query_id, vec_id FROM (
       |  SELECT q.query_id, b.vec_id,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_cosine_similarity(b.embedding::DOUBLE[], q.qv) DESC,
       |                    b.vec_id) AS rank
       |  FROM q JOIN embeddings b ON b.vec_id <> q.query_id) t WHERE rank <= 10),
       |qsh AS (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS prank
       |  FROM q CROSS JOIN cent c),
       |hits AS (
       |  SELECT e.query_id, qsh.prank
       |  FROM exact e
       |  JOIN assign a ON a.vec_id = e.vec_id
       |  JOIN qsh ON qsh.query_id = e.query_id AND qsh.shard = a.shard)
       |SELECT p.nprobe,
       |       CAST(SUM(CASE WHEN hits.prank <= p.nprobe THEN 1 ELSE 0 END) * 10000
       |            // 200 AS BIGINT) AS recall_x1e4
       |FROM hits CROSS JOIN (SELECT UNNEST(range(1, 5)) AS nprobe) p
       |GROUP BY 1""".stripMargin

  private val recallL2Sql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 20),
       |exact AS (SELECT query_id, vec_id FROM (
       |  SELECT q.query_id, b.vec_id,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(b.embedding::DOUBLE[], q.qv) ASC,
       |                    b.vec_id) AS rank
       |  FROM q JOIN embeddings b ON b.vec_id <> q.query_id) t WHERE rank <= 10),
       |qsh AS (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS prank
       |  FROM q CROSS JOIN cent c),
       |hits AS (
       |  SELECT e.query_id, qsh.prank
       |  FROM exact e
       |  JOIN assign a ON a.vec_id = e.vec_id
       |  JOIN qsh ON qsh.query_id = e.query_id AND qsh.shard = a.shard)
       |SELECT p.nprobe,
       |       CAST(SUM(CASE WHEN hits.prank <= p.nprobe THEN 1 ELSE 0 END) * 10000
       |            // 200 AS BIGINT) AS recall_x1e4
       |FROM hits CROSS JOIN (SELECT UNNEST(range(1, 5)) AS nprobe) p
       |GROUP BY 1""".stripMargin

  private val recallEvalSql =
    s"""WITH ${VectorQueries.centSql}, ${VectorQueries.assignSql},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 20),
       |exact AS (SELECT query_id, vec_id FROM (
       |  SELECT q.query_id, b.vec_id,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_cosine_similarity(b.embedding::DOUBLE[], q.qv) DESC,
       |                    b.vec_id) AS rank
       |  FROM q JOIN embeddings b ON b.vec_id <> q.query_id) t WHERE rank <= 10),
       |qsh AS (SELECT query_id, shard FROM (
       |  SELECT q.query_id, c.shard,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_distance(q.qv, c.c), c.shard) AS rn
       |  FROM q CROSS JOIN cent c) t WHERE rn <= 2),
       |ivf AS (SELECT query_id, vec_id FROM (
       |  SELECT q.query_id, b.vec_id,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_cosine_similarity(b.embedding::DOUBLE[], q.qv) DESC,
       |                    b.vec_id) AS rank
       |  FROM q
       |  JOIN qsh ON qsh.query_id = q.query_id
       |  JOIN assign a ON a.shard = qsh.shard
       |  JOIN embeddings b ON b.vec_id = a.vec_id
       |  WHERE b.vec_id <> q.query_id) t WHERE rank <= 10)
       |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |       CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |       CAST((SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000)
       |            // COUNT(*) AS BIGINT) AS recall_x1e4
       |FROM exact e LEFT JOIN ivf i ON i.query_id = e.query_id AND i.vec_id = e.vec_id
       |GROUP BY e.query_id""".stripMargin

  // --- MMR: diversified top-k ------------------------------------------
  /** Greedy maximal-marginal-relevance selection over a shortlist:
    * picks k results maximizing `λ·sim(q,d) − (1−λ)·max sim(d, picked)`
    * — relevance traded against redundancy, so near-duplicate hits
    * don't crowd the result page. The selection is inherently
    * sequential (pick i+1 depends on picks 1..i), so it runs on the
    * SHORTLIST only: the distributed plan reduces the corpus to
    * `shortlist` rows via TakeOrdered, and the greedy loop is
    * shortlist²·dim driver work on collected rows — the same k-row
    * driver-table pattern as Centroids (50² · 64 ≈ 160k flops,
    * corpus-size-independent). Not SQL-expressible (recursive greedy)
    * → rows-only; MmrSpec pins first-pick/diversity/determinism.
    */
  def mmrSelect(cands: Seq[(Long, Array[Double], Double)], k: Int,
                lambda: Double): Seq[(Long, Double, Double)] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (picked.size < k && remaining.nonEmpty) {
      // deterministic argmax: strictly-greater wins, ties keep the
      // earlier (lower-id, since cands arrive id-tiebroken) candidate
      var bestIdx = 0; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < remaining.size) {
        val (_, vec, rel) = remaining(i)
        val maxSim = if (pickedVecs.isEmpty) 0.0
          else pickedVecs.map(cos(vec, _)).max
        val score = lambda * rel - (1 - lambda) * maxSim
        if (score > bestScore) { bestScore = score; bestIdx = i }
        i += 1
      }
      val (id, vec, rel) = remaining.remove(bestIdx)
      picked += ((id, rel, bestScore))
      pickedVecs += vec
    }
    picked.toSeq
  }

  /** The batched-MMR kernel shared by the registered `vdb_mmr_batch`
    * and [[VectorStore.mmrJoin]]: `rows` is every query's shortlist as
    * (query_id, id, vec, rel) — ≤ nQueries × shortlist rows, collected
    * by the caller in ONE driver action for the whole batch (the
    * greedy selection is inherently sequential per query, so it runs
    * on collected shortlists exactly like single-query [[mmrSelect]];
    * batching buys one job instead of nQueries jobs, the same
    * shape win as `searchBatch` over a search loop). Shortlists
    * re-sort (rel desc, id asc) before the greedy so candidate order —
    * and therefore tie behavior — is identical to the single-query
    * path no matter what join produced the rows.
    */
  private[vector] def mmrFromShortlists(
      rows: Array[(Long, Long, Array[Double], Double)],
      k: Int, lambda: Double, s: SparkSession): DataFrame = {
    import s.implicits._
    rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, cs) =>
      val cands = cs.sortBy(c => (-c._4, c._2)).map(c => (c._2, c._3, c._4)).toSeq
      mmrSelect(cands, k, lambda).zipWithIndex.map { case ((id, rel, sc), i) =>
        (qid, i + 1L, id, math.rint(rel * 1e4) / 1e4, math.rint(sc * 1e4) / 1e4)
      }
    }.toDF("query_id", "rank", "vec_id", "relevance", "mmr_score")
  }

  /** Batched MMR — [[mmr]]'s diversified re-rank for a FRAME of
    * queries, completing the batch-everything serving story
    * (knn/bm25/phrase/hybrid all have batch forms; MMR now does too).
    * Per-query exact shortlists ride the bounded heap (≤ SHORTLIST
    * rows per (query, map partition) on the shuffle — the
    * `vdb_knn_batch` discipline), candidate vectors come back via ONE
    * equi-join of the nQueries×shortlist frame against the corpus
    * (never a broadcast of anything corpus-sized), and the whole
    * batch collects in ONE driver action before the per-query greedy.
    * Rows-only by design, like `vdb_mmr` (recursive greedy selection
    * is not SQL-expressible); the spec pins query 0's slice equal to
    * the single-query `vdb_mmr` row-for-row.
    */
  private def mmrBatch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val qIds = Seq(0L, 1L, 2L)
    val queries = e.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val tops = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("rel", cosineSim(col("embedding"), col("qv")))
      .groupBy("query_id")
      .agg(TopKAgg.topK(col("rel"), col("vec_id"), SHORTLIST).as("tops"))
      .select(col("query_id"), explode(col("tops")).as("t"))
      .select(col("query_id"), col("t.id").as("vec_id"), col("t.score").as("rel"))
    val rows = tops.join(e, "vec_id")
      .select(col("query_id"), col("vec_id"), col("embedding"), col("rel"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray,
        r.getDouble(3)))
    mmrFromShortlists(rows, k = 10, lambda = 0.5, s)
  }

  private def mmr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = queryVec(s, d)
    val shortlist = emb(s, d).filter(col("vec_id") =!= QUERY_ID)
      .withColumn("rel", cosineSim(col("embedding"), typedlit(q.toSeq)))
      .orderBy(desc("rel"), asc("vec_id")).limit(SHORTLIST)
      .select(col("vec_id"), col("embedding"), col("rel"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .toSeq
    mmrSelect(shortlist, k = 10, lambda = 0.5)
      .zipWithIndex
      .map { case ((id, rel, sc), i) =>
        (i + 1L, id, math.rint(rel * 1e4) / 1e4, math.rint(sc * 1e4) / 1e4) }
      .toDF("rank", "vec_id", "relevance", "mmr_score")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vdb_hybrid_search" -> (hybridSearch _),
    "vdb_knn_join_ivf"  -> (knnJoinIvf _),
    "vdb_knn_join_l2"   -> (knnJoinL2 _),
    "vdb_knn_join_ip"   -> (knnJoinIp _),
    "vdb_range_join"    -> (rangeJoinQuery _),
    "vdb_knn_join_filtered" -> (knnJoinFiltered _),
    "vdb_knn_classify"  -> (knnClassify _),
    "vdb_hybrid_batch"  -> (hybridBatch _),
    "vdb_hybrid_analyzed" -> (hybridAnalyzed _),
    "vdb_hybrid_filtered" -> (hybridFiltered _),
    "vdb_hybrid_weighted" -> (hybridWeighted _),
    "vdb_hybrid_tri" -> (hybridTri _),
    "vdb_more_like_this" -> (moreLikeThis _),
    "vdb_knn_maxsim" -> (knnMaxsim _),
    "vdb_recall_eval"   -> (recallEval _),
    "vdb_recall_curve"  -> (recallCurve _),
    "vdb_recall_l2"     -> (recallL2 _),
    "vdb_fusion_recall" -> (fusionRecall _),
    "vdb_range_recall"  -> (rangeRecall _),
    "vdb_mmr"           -> (mmr _),
    "vdb_mmr_batch"     -> (mmrBatch _))

  override val oracleSql: Map[String, String] = Map(
    "vdb_hybrid_search" -> hybridSearchSql,
    "vdb_knn_join_ivf"  -> knnJoinIvfSql,
    "vdb_knn_join_l2"   -> knnJoinL2Sql,
    "vdb_knn_join_ip"   -> knnJoinIpSql,
    "vdb_range_join"    -> rangeJoinSql,
    "vdb_knn_join_filtered" -> knnJoinFilteredSql,
    "vdb_knn_classify"  -> knnClassifySql,
    "vdb_hybrid_batch"  -> hybridBatchSql,
    "vdb_hybrid_analyzed" -> hybridAnalyzedSql,
    "vdb_hybrid_filtered" -> hybridFilteredSql,
    "vdb_hybrid_weighted" -> hybridWeightedSql,
    "vdb_hybrid_tri" -> hybridTriSql,
    "vdb_more_like_this" -> moreLikeThisSql,
    "vdb_knn_maxsim" -> maxsimSql,
    "vdb_recall_eval"   -> recallEvalSql,
    "vdb_recall_curve"  -> recallCurveSql,
    "vdb_recall_l2"     -> recallL2Sql,
    "vdb_fusion_recall" -> fusionRecallSql,
    "vdb_range_recall"  -> rangeRecallSql)
}
