package graft.text

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.sources.BatchedTable
import graft.streaming.ServeStream

/** Maintained inverted index for BM25 serving — the text-search
  * counterpart of [[graft.dedup.ShingleIndex]]: the corpus is
  * tokenized ONCE (build / per accepted batch), and a keyword query
  * probes postings instead of re-scanning document text. The one-shot
  * `text_bm25` query derives tf/dl/df/N in-plan per call — right for
  * one ad-hoc query, wrong for a serving path: at 100 TB every query
  * would pay a full corpus scan and agg. Here a query reads the
  * postings rows of ITS OWN terms (predicate pushdown over the
  * term-sorted layout prunes row groups) plus one tiny meta fold —
  * scan volume ∝ query-term df, corpus-size-independent for selective
  * terms.
  *
  * Layout under `path` ([[BatchedTable]] discipline — idempotent
  * per-label writes, replay exclusion, crash-safe folds):
  *  - `post/` (term, doc_id, tf, dl, pos)  postings, denormalized
  *            with the doc length so scoring needs NO doc-table join
  *            (the classic IR index trade: a long per posting buys a
  *            corpus-sized join per query) and carrying the term's
  *            token positions (the positional half [[searchPhrase]]
  *            consumes; BM25 probes never read the column — parquet
  *            column pruning leaves it on disk); written term-sorted
  *            so parquet row-group stats prune non-query terms
  *  - `meta/` (n_docs, sum_dl)        one row per batch; N and avgdl
  *            fold from these on the driver, once per listing of
  *            meta/, into probe-plan literals. [[delete]] writes
  *            NEGATIVE delta rows here — the sum nets them out with
  *            zero read-path changes
  *  - `del/`  (doc_id)                tombstones: docs [[delete]]d but
  *            not yet physically reclaimed; reads filter them out
  *            (takedown-sized — a literal id set), [[compact]] applies them
  *            to post/ and clears them
  *
  * Scoring parity: [[search]] reproduces the one-shot query's BM25
  * expression EXACTLY — same tokenization (space split), same
  * term-order float association (per-term contributions come back as
  * separate conditional sums and add left-to-right), same idf/tf
  * forms — so for any query where ≥ k docs match at least one term,
  * the index's top-k equals the one-shot top-k hash-exactly (the
  * registered `text_bm25_indexed` proves it against `text_bm25`'s own
  * oracle SQL). Docs matching NO query term score 0.0 in the one-shot
  * and can pad its top-k when fewer than k docs match anything; pass
  * `padFrom` (the doc_id universe) to reproduce that padding — the
  * default skips it, the right call when a probe is known to match
  * ≥ k docs (it spares a per-query doc-table scan).
  *
  * Contracts shared with ShingleIndex: single writer; batch doc_ids
  * disjoint from indexed doc_ids — INCLUDING tombstoned ids until a
  * [[reclaim]] (one delete label, takedown-cost) or [[compact]]
  * reclaims them ([[append]] enforces this: an append of
  * a tombstoned id would be silently hidden by its tombstone); one
  * mutation (append or delete) in flight at a time, at-least-once
  * retry of the LATEST label only (every write is idempotent per
  * label; pass the in-flight label as `compact(keepLabel)` so a
  * replay's `excludeLabel` reads keep working).
  *
  * @param positional write token positions into the postings
  *                   (required by [[TermIndex.searchPhrase]]; BM25
  *                   probes never read them). The ~2-3x postings-byte
  *                   knob — pass false for a pure-BM25 index. Must be
  *                   CONSTANT across every instance writing one path:
  *                   mixed batches would leave null positions that
  *                   silently undercount phrases.
  * @param analyzer   optional index-time + probe-time normalization
  *                   ([[TermIndex.Analyzer]]): lowercase fold and a
  *                   stopword list, applied identically to document
  *                   tokens (postings, dl, positions — positions
  *                   number the KEPT tokens, the classic positional-
  *                   index stopping semantics) and to every probe's
  *                   terms — a real search deployment's first
  *                   mismatch class (case, stopwords) handled in ONE
  *                   place, and SQL-replayable (lower() + NOT IN) so
  *                   the oracle can score the same normalization.
  *                   Like `positional`, must be CONSTANT across every
  *                   instance writing or probing one path.
  */
class TermIndex(spark: SparkSession, path: String,
                positional: Boolean = true,
                analyzer: Option[TermIndex.Analyzer] = None) {
  private val postDir = s"$path/post"
  private val metaDir = s"$path/meta"
  private val delDir = s"$path/del"
  private val dirs = Seq(postDir, metaDir, delDir)
  // the SAME constants the one-shot query scores with — the hash-exact
  // parity contract depends on them (and on the shared space-split
  // tokenization) staying identical, so there is exactly one definition
  private val (k1, b) = (TextAnalysis.bmK1, TextAnalysis.bmB)

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def requireLabel(label: String): Unit =
    require(label != "base" && label != "compact0" && label.nonEmpty,
      s"reserved/empty batch label '$label'")

  /** (term, doc_id, tf, dl, pos) postings for a (doc_id, text) frame —
    * exactly `text_bm25`'s tokenization: split on single spaces, every
    * token a term, dl = token count. `pos` holds the term's 0-based
    * token positions (sorted — the POSITIONAL index half that phrase
    * queries consume; the classic ~2-3x postings-bytes trade, which
    * BM25 probes never pay: they don't reference the column, so
    * parquet column pruning leaves it on disk).
    */
  /** The index's tokenization as a column expression — `text_bm25`'s
    * plain space split, with the analyzer's lowercase fold and
    * stopword filter applied when configured. ONE definition feeds
    * postings, dl, and the meta sum_dl, so the BM25 statistics can
    * never disagree with the tokens they describe.
    */
  private def analyzedTokens(text: Column): Column = {
    val raw = split(text, " ")
    analyzer.fold(raw)(_.tokensCol(raw))
  }

  /** The probe-side twin of [[analyzedTokens]]: normalize a caller's
    * query terms exactly as the index normalized document tokens
    * (order preserved, post-fold duplicates collapsed to the first
    * occurrence — a duplicate would double-count the term).
    */
  private def analyzeTerms(terms: Seq[String]): Seq[String] =
    analyzer.fold(terms) { a =>
      val low =
        if (a.lowercase) terms.map(_.toLowerCase(java.util.Locale.ROOT))
        else terms
      low.filterNot(a.stopwords.toSet).distinct
    }

  private def postingsOf(docs: DataFrame): DataFrame = {
    val ws = analyzedTokens(col("text"))
    val base =
      if (positional)
        docs.select(col("doc_id"), size(ws).cast(LongType).as("dl"),
            posexplode(ws).as(Seq("p", "term")))
          .groupBy("term", "doc_id", "dl")
          .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("p"))).as("pos"))
      else
        docs.select(col("doc_id"), size(ws).cast(LongType).as("dl"),
            explode(ws).as("term"))
          .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
    // term-sorted files: parquet row-group min/max on `term` lets a
    // query's isin() filter skip non-matching groups at scan time;
    // the doc_id minor order gives monotone id runs within a term —
    // delta/dictionary-friendly pages and tighter doc_id row-group
    // stats for the id-probe paths (delete's isin, reclaim discovery)
    base.repartition(col("term")).sortWithinPartitions("term", "doc_id")
      .select(("term" +: "doc_id" +: "tf" +: "dl" +:
        (if (positional) Seq("pos") else Nil)).map(col): _*)
  }

  private def writeBatchOf(docs: DataFrame, label: String): Unit = {
    BatchedTable.writeBatch(postingsOf(docs), postDir, label)
    // meta last: it describes a fully-written batch
    val m = docs.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(analyzedTokens(col("text"))).cast(LongType)), lit(0L))
        .as("sum_dl"))
    BatchedTable.writeBatch(m, metaDir, label)
  }

  private def tombstones(excludeLabel: Option[String]): Seq[Long] =
    BatchedTable.tombstoneIds(spark, delDir, excludeLabel)

  private def minusDeleted(df: DataFrame, excludeLabel: Option[String]): DataFrame =
    BatchedTable.minusDeleted(spark, delDir, df, excludeLabel)

  /** The per-batch (label, n_docs, sum_dl) meta rows outside
    * `excludeLabel`, collected once per listing of meta/
    * ([[graft.Tables.fold]]).
    */
  private def metaRows(excludeLabel: Option[String]): Array[(String, Long, Long)] =
    graft.Tables.fold(spark, "bm25-meta", metaDir) {
      BatchedTable.readIdx(spark, metaDir, None)
        .select(col("batch").cast("string"), col("n_docs"), col("sum_dl")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }.filterNot(r => excludeLabel.contains(r._1))

  /** The corpus statistics (N, Σdl) outside `excludeLabel`, as double
    * literals (null over no meta row, as the SQL sum is), so a probe
    * plan carries no meta scan.
    */
  private def corpusStats(excludeLabel: Option[String]): (Column, Column) = {
    val rows = metaRows(excludeLabel)
    def total(v: Long): Column =
      if (rows.isEmpty) lit(null).cast(DoubleType) else lit(v.toDouble)
    (total(rows.map(_._2).sum), total(rows.map(_._3).sum))
  }

  /** Build from the initial corpus (label `base`); clears prior state. */
  def build(corpus: DataFrame): Unit = {
    // clear tmps too: a crashed fold's tmp would otherwise be
    // "recovered" into the fresh index by the first write
    dirs.foreach(d => BatchedTable.clearTable(fs, d))
    writeBatchOf(corpus, "base")
  }

  /** Ingest an accepted batch of NEW docs under `label` — idempotent
    * per label (overwrites its own partition directories). Refuses
    * doc_ids that are currently tombstoned: their tombstone would
    * silently hide the new copy (compact() first, then re-ingest).
    */
  def append(batch: DataFrame, label: String): Unit = {
    requireLabel(label)
    // a label previously used by delete(): this append would overwrite
    // the delete's meta delta while its tombstones stand — refuse (a
    // REPLAY of an append can never trip this: appends never write del/)
    require(!fs.exists(new Path(s"$delDir/batch=$label")),
      s"label '$label' was used by a delete — labels are unique across mutations")
    val tombs = tombstones(None)
    if (tombs.nonEmpty) {
      val clash = batch.filter(col("doc_id").isin(tombs: _*)).limit(1).count()
      require(clash == 0,
        "append: batch contains tombstoned doc_ids — run reclaim(<delete label>) " +
          "(or a full compact()) before re-ingesting a deleted id")
    }
    writeBatchOf(batch, label)
  }

  /** Takedown: remove `ids` from serving without a rebuild. Logical
    * delete — O(takedown), not O(corpus): writes the ids as tombstones
    * under `del/batch=<label>` (reads anti-join them from this call
    * on) plus a compensating NEGATIVE meta delta (computed from the
    * deleted docs' own postings rows), so N and avgdl — and therefore
    * every surviving doc's BM25 — immediately equal an index built
    * without those docs. [[compact]] later applies the tombstones
    * physically (rewrites post/ minus the deleted rows, clears del/).
    *
    * Idempotent per label: the delta is derived from ids LIVE at call
    * time (postings ∩ ids, minus ids already tombstoned under OTHER
    * labels), and physical rows persist until compact — so a replayed
    * delete recomputes byte-identical state. Mirrors
    * [[graft.vector.VectorStore.delete]]'s partition-rewrite
    * discipline, deferred to compact() because postings partition by
    * TERM-batch, not by doc: the rewrite is a fold, not a lookup.
    *
    * Returns the number of docs actually removed (ids never indexed,
    * or already deleted, count 0).
    */
  def delete(ids: Seq[Long], label: String): Long = {
    requireLabel(label)
    require(ids.nonEmpty, "empty id list")
    require(fs.exists(new Path(postDir)), s"delete: index at $path not built")
    // a label previously used by append(): this delete's meta delta
    // would overwrite that batch's counts. A REPLAY of this delete is
    // fine — it wrote del/batch=<label> on the first attempt's very
    // first step, so its presence distinguishes the two cases.
    require(!fs.exists(new Path(s"$metaDir/batch=$label")) ||
        fs.exists(new Path(s"$delDir/batch=$label")),
      s"label '$label' was used by an append — labels are unique across mutations")
    // one distinct (doc_id, dl) row per live deleted doc: dl rides
    // every posting, so no doc-table access is needed for the delta
    val live = minusDeleted(
        BatchedTable.readIdx(spark, postDir, None)
          .filter(col("doc_id").isin(ids: _*))
          .select("doc_id", "dl").distinct(),
        excludeLabel = Some(label))
      .localCheckpoint(true)
    try {
      // tombstones first, delta second: a crash between leaves the
      // docs unsearchable (the takedown property) with stats briefly
      // overstated; the retry recomputes both from the still-present
      // postings rows and heals
      BatchedTable.writeBatch(live.select("doc_id"), delDir, label)
      // the delta's two counts in one job over the checkpoint; the
      // first is also the return value
      val d = live.coalesce(1).agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
      BatchedTable.writeBatch(spark.range(0, 1, 1, 1).select(lit(-d.getLong(0)).as("n_docs"),
        lit(-d.getLong(1)).as("sum_dl")), metaDir, label)
      d.getLong(0)
    } finally org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(live)
  }

  /** Apply ONE delete's tombstones physically — the takedown-cost
    * reclaim that unblocks re-ingesting a corrected copy of a deleted
    * doc without folding the whole index. [[append]] refuses
    * tombstoned doc_ids (their tombstone would hide the new copy), so
    * the takedown-then-reissue workflow was gated on a full
    * [[compact]]; this rewrites ONLY the postings batch partitions
    * that hold the label's deleted docs (minus those rows, term order
    * preserved) and then empties the label's tombstone partition —
    * probe results are invariant (df counts live postings rows, which
    * the tombstones already excluded; the delete's negative meta
    * delta stands and now describes physically-absent rows). Cost
    * tracks where the deleted docs LIVE: a micro-batch-ingested doc
    * costs its micro-batch's rewrite, a base-resident doc costs the
    * base partition — still never the whole index.
    *
    * The emptied `del/batch=<label>` partition is kept as a marker:
    * the label stays burned (append's label-uniqueness guard keys on
    * the directory's existence — reusing it would overwrite the
    * delete's meta delta). Reclaim FINALIZES the delete: replaying
    * `delete(ids, label)` afterwards is a contract violation (only
    * the LATEST in-flight mutation may replay — the class contract),
    * and would zero out the standing meta delta. Idempotent itself:
    * re-running finds no postings rows and an already-empty tombstone
    * set. Crash-safe per partition ([[BatchedTable.rewriteBatch]]);
    * tombstones empty LAST, so any crash leaves them standing over
    * at-worst-already-rewritten partitions (anti-joining absent rows,
    * a no-op). Returns the number of tombstones reclaimed.
    */
  def reclaim(label: String): Long = {
    requireLabel(label)
    dirs.foreach(d => BatchedTable.recoverFold(fs, d))
    BatchedTable.recoverRewrites(fs, postDir)
    val delPart = new Path(s"$delDir/batch=$label")
    require(fs.exists(delPart),
      s"reclaim: no delete recorded under label '$label'")
    // driver-collected ids, takedown-sized by contract (delete() took
    // them as a Seq): the literal isin() reaches the parquet scan as a
    // pushed In filter, so the (term, doc_id) row-group stats prune the
    // affected-batch discovery — a broadcast join here would scan every
    // postings row with no pushdown
    val ids = graft.Tables.resolved(spark, delPart.toString).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val n = ids.size.toLong
    if (n > 0) {
      val affected = BatchedTable.readIdx(spark, postDir, None)
        .filter(col("doc_id").isin(ids: _*))
        .select(col("batch").cast("string")).distinct()
        .collect().map(_.getString(0))
      affected.foreach { b =>
        BatchedTable.rewriteBatch(fs, postDir, b,
          graft.Tables.resolved(spark, s"$postDir/batch=$b")
            .filter(!col("doc_id").isin(ids: _*))
            .repartition(col("term")).sortWithinPartitions("term", "doc_id"))
      }
    }
    BatchedTable.writeBatch(
      spark.range(0).select(col("id").as("doc_id")), delDir, label)
    n
  }

  /** The BM25 contribution of one postings row, given a broadcast df
    * column and the corpus (n, sdl) — the shared scoring kernel of
    * [[search]] and [[searchBatch]].
    */
  private def contribCol(stats: (Column, Column)): Column = {
    val (n, sdl) = stats
    val idf = log(lit(1.0) + (n - col("df") + 0.5) / (col("df") + 0.5))
    idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / (sdl / n)))
  }

  /** Filter-THEN-rank for the keyword arm: restrict a postings frame to
    * the `allowed` doc_ids BEFORE any scoring — the predicated-
    * retrieval shape [[graft.vector.VectorStore.searchWhere]] serves on
    * the vector side ("BM25 over my tenant's / this license-class's
    * docs"). A post-filtered top-k — the reference clients' only
    * option around /search (compute_server.py:106-138) — returns < k
    * rows or misses allowed docs ranked below disallowed ones whenever
    * the predicate is selective; here the top-k ranks ONLY eligible
    * docs, so recall against the filtered ground truth is unchanged.
    *
    * SEMANTICS (pinned by the registered `text_bm25_filtered` oracle):
    * collection statistics stay INDEX-GLOBAL — df, N, and avgdl count
    * every live doc, not just allowed ones, exactly Lucene's filter
    * contract (a filter restricts candidates, never the statistics).
    * The alternative — scores equal to an index built on the allowed
    * slice — needs per-doc dl for EVERY allowed doc, i.e. a postings
    * scan with no term pruning (rebuild-shaped cost, per query); a
    * tenant wanting slice-local idf builds a slice index. The semi-join
    * touches only the query terms' df rows, so the predicate's cost
    * rides the probe, not the corpus (Catalyst broadcasts a small
    * allowed set; a corpus-sized one shuffles both sides — either way
    * scoring sees eligible rows only).
    */
  private def restrictTo(post: DataFrame, allowed: Option[DataFrame]): DataFrame =
    allowed.fold(post)(ids => post.join(
      ids.select(col("doc_id").cast(LongType).as("doc_id")), Seq("doc_id"), "left_semi"))

  /** Postings filtered to `terms` + the corpus (N, Σdl) + per-term df
    * — the three probe-side inputs every search shape starts from.
    */
  private def probe(terms: Seq[String], excludeLabel: Option[String])
      : (DataFrame, (Column, Column), DataFrame) = {
    // loud, actionable failure instead of a bare path-not-found
    // AnalysisException deep inside the probe plan
    require(fs.exists(new Path(postDir)),
      s"search: index at $path not built — call build() first")
    val post = minusDeleted(
      BatchedTable.readIdx(spark, postDir, excludeLabel)
        .filter(col("term").isin(terms: _*)), excludeLabel)
    // df per term: postings rows are unique per (term, doc) across
    // batches (disjoint doc_ids), so df = filtered row count per term
    val dfs = post.groupBy("term").agg(count(lit(1)).cast(DoubleType).as("df"))
    (post, corpusStats(excludeLabel), dfs)
  }

  /** BM25 top-k (doc_id, bm25) for a keyword query over everything
    * indexed. The plan: one postings scan FILTERED to the query's
    * terms (pushdown + row-group pruning), df per term from that same
    * filtered frame (broadcast-tiny), N/avgdl as literals from the
    * meta fold, per-doc fixed-term-order score assembly,
    * TakeOrdered(k).
    * `excludeLabel` replays a batch against the pre-mutation index.
    * `padFrom` (a doc_id frame — the corpus universe) pads the top-k
    * with 0.0-score unmatched docs exactly as the one-shot query
    * would, at the cost of one doc_id-column scan of that frame.
    * Terms must be distinct: a duplicated term would double-count its
    * contribution (as would naively duplicating it in the one-shot
    * query) — refuse rather than silently score a different query.
    * `allowed` (a doc_id frame) is filter-then-rank with index-global
    * statistics — see [[restrictTo]]; the pad universe (when both are
    * passed) intersects it, so 0.0-padding never leaks disallowed ids.
    */
  def search(rawTerms: Seq[String], k: Int = 10,
             excludeLabel: Option[String] = None,
             padFrom: Option[DataFrame] = None,
             allowed: Option[DataFrame] = None): DataFrame = {
    val terms = analyzeTerms(rawTerms)
    require(terms.nonEmpty,
      if (rawTerms.isEmpty) "empty term list"
      else s"every query term was removed by the analyzer: ${rawTerms.mkString(", ")}")
    require(terms.distinct.size == terms.size,
      s"duplicate query terms would double-count: ${terms.mkString(", ")}")
    val (post, stats, dfs) = probe(terms, excludeLabel)
    val scoredRows = restrictTo(post, allowed)
      .join(broadcast(dfs), "term")
      .withColumn("__c", contribCol(stats))
    // fixed-term-order sum: each term's contribution comes back as ONE
    // conditional-sum column (a single double per doc — no accumulation
    // order inside), then adds left-to-right in the caller's term
    // order — the same float association as the one-shot expression
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("__c"))).as(s"__s$i")
    }
    val score = terms.indices
      .map(i => coalesce(col(s"__s$i"), lit(0.0)))
      .reduce(_ + _)
    val matched = scoredRows.groupBy("doc_id")
      .agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score0", score)
      .select("doc_id", "score0")
    // zero-score padding: every contribution of a matched doc is
    // strictly positive (idf's log argument is > 1), so unmatched
    // docs — exactly 0.0 in the one-shot's sum — can only fill ranks
    // the matched set leaves open, in the same doc_id-asc tie order
    val ranked = padFrom.fold(matched) { universe =>
      matched.unionByName(
        restrictTo(minusDeleted(universe.select("doc_id"), excludeLabel), allowed)
          .join(matched.select("doc_id"), Seq("doc_id"), "left_anti")
          .withColumn("score0", lit(0.0)))
    }
    ranked.orderBy(desc("score0"), asc("doc_id")).limit(k)
      .select(col("doc_id"), round(col("score0"), 4).as("bm25"))
  }

  /** The `n` most CHARACTERISTIC live terms of each given doc —
    * ranked by tf·idf over the index's own statistics (df from live
    * postings, N from the meta fold; ties term-asc, deterministic):
    * query-by-example's keyword arm, and the default query sample
    * [[graft.vector.VectorStore.fusionSampleFrom]] builds for
    * fusion-recall bootstrap/maintenance. Cost: one postings scan
    * joined to `ids` for the docs' own rows, one partial-aggregated
    * postings pass for df — offline-eval priced. Docs with no
    * live postings (never indexed, or fully tombstoned) emit no row.
    */
  def topTerms(ids: DataFrame, n: Int = 3,
               broadcastIds: Boolean = true): DataFrame = {
    require(n > 0, s"topTerms needs n > 0, got $n")
    require(fs.exists(new Path(postDir)),
      s"topTerms: index at $path not built — call build() first")
    // page/sample-shaped callers broadcast their id list into the
    // postings scan; a CORPUS-WIDE caller (the registered
    // text_top_terms) must pass broadcastIds = false — broadcasting
    // every live doc_id is the bounded-broadcast discipline violated
    val want = ids.select(col("doc_id").cast(LongType).as("doc_id"))
    val post = minusDeleted(BatchedTable.readIdx(spark, postDir, None), None)
    val mine = post.join(if (broadcastIds) broadcast(want) else want, "doc_id")
      .select("term", "doc_id", "tf")
    // df over ALL live terms in one partial-aggregated pass — a
    // candidate-term semi-join would shuffle the same postings scan a
    // second time just to shrink the aggregate's key space (measured
    // 2.3 s → 0.9 s at sf0.1 for the corpus-wide query); for page-sized
    // `ids`, AQE broadcasts the small `mine` side of the join below, so
    // the vocabulary-sized df table never shuffles either way
    val dfs = post.groupBy("term").agg(count(lit(1)).cast(DoubleType).as("df"))
    val nDocs = corpusStats(None)._1
    val idf = log(lit(1.0) + (nDocs - col("df") + 0.5) / (col("df") + 0.5))
    import org.apache.spark.sql.expressions.Window
    mine.join(dfs, "term")
      .withColumn("__sc", idf * col("tf"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("__sc"), asc("term"))))
      .filter(col("__r") <= n)
      .groupBy("doc_id")
      .agg(transform(
        sort_array(collect_list(struct(col("__r"), col("term")))),
        x => x.getField("term")).as("terms"))
  }

  /** Lexical "more like this" SERVED from the postings: rank live docs
    * by sparse tf-idf cosine against each example doc — the classic
    * MoreLikeThis, with tf/df/N read from the maintained index instead
    * of re-tokenizing any text. The weight formula is EXACTLY the
    * one-shot kernel's (w = round(tf · ln(N/df) · 1e4), integer dots
    * and norms), so served and one-shot rank on bit-identical integers
    * — MltSpec pins row equality against the oracle-proven
    * text_tfidf_sim / vdb_more_like_this lexical arm. Examples are
    * page-shaped (a user's "find docs like these"), so `ids` is a
    * literal list; their weight rows broadcast and per-query cost
    * rides the examples' term df. Emits (query_id, doc_id, rank, sim0
    * UNROUNDED) — [[graft.vector.Serving.mltJoin]] fuses it with the
    * vector store's arm.
    */
  def moreLikeThis(ids: Seq[Long], k: Int = 10): DataFrame =
    moreLikeThisFrame(ids, k)._1

  /** [[moreLikeThis]] plus the weight-table cache it builds — a
    * STREAMING caller (`Serving.serveMltStream`) must unpersist the
    * cache after consuming each micro-batch, or one corpus-sized
    * cached frame accumulates per batch for the stream's lifetime.
    * One-shot callers follow the session-cache convention (Bench's
    * clearCache between timings releases it).
    */
  private[graft] def moreLikeThisFrame(ids: Seq[Long],
                                       k: Int): (DataFrame, Seq[DataFrame]) = {
    require(ids.nonEmpty, "no example ids")
    require(fs.exists(new Path(postDir)),
      s"moreLikeThis: index at $path not built — call build() first")
    val post = minusDeleted(BatchedTable.readIdx(spark, postDir, None), None)
    val dfs = post.groupBy("term").agg(count(lit(1)).cast(DoubleType).as("df"))
    val n = corpusStats(None)._1
    val wts = post.join(dfs, "term")
      .select(col("doc_id"), col("term").as("word"),
        round(col("tf") * log(n / col("df")) * 10000.0, 0)
          .cast(LongType).as("w"))
      .cache()
    (TextAnalysis.cosineNeighborsFromWeights(wts, col("doc_id").isin(ids: _*), k)
      .select(col("q_id").as("query_id"), col("rank"), col("doc_id"), col("sim0")),
      Seq(wts))
  }

  /** Exact-phrase / proximity probe over the positional postings:
    * docs containing the token sequence `phrase`, ranked by occurrence
    * count (desc, doc_id asc). The plan: one postings scan filtered
    * to the phrase's terms (pushdown + row-group pruning, same as
    * [[search]]), one doc_id equi-join per phrase term — each side
    * that term's df rows — and the occurrence count as a pure
    * projection over the joined position arrays. No document text is
    * touched; scan volume tracks the phrase terms' df,
    * corpus-size-independent for selective phrases. Repeated terms in
    * the phrase are fine (each position slot joins its own copy of
    * the postings). Requires a positionally-built index (any
    * build/append from this layout version on).
    *
    * `slop = 0` (exact): a position p of the first term counts iff
    * term j sits at exactly p + j for every j — OVERLAPPING
    * occurrences, the standard positional-index semantics. Counted as
    * ONE n-way intersection of the position arrays with term j's
    * shifted by −j (each array is distinct-element by construction,
    * so |∩| is exactly the aligned-start count): hash-set based, O(Σ
    * df-row array lengths) — not the per-position containment scan
    * whose O(occ·len) degenerated on phrases of very common terms.
    *
    * `slop = w > 0` (proximity): term j may sit ANYWHERE within
    * p + j ± w — each slot matches independently (no injectivity
    * across slots; "database …≤w… systems" style queries).
    * n_occurrences counts the ANCHOR positions p of the FIRST term
    * whose every slot finds a within-window match. The window check
    * is an exists() over term j's positions per anchor — O(occ·len),
    * acceptable because slop probes are interactive-query-shaped; an
    * exact probe never pays it.
    */
  def searchPhrase(rawPhrase: Seq[String], k: Int = 10,
                   excludeLabel: Option[String] = None,
                   slop: Int = 0,
                   allowed: Option[DataFrame] = None): DataFrame = {
    // the analyzer folds case and DROPS stopword slots — positions
    // number the index's KEPT tokens, so the shortened phrase is
    // exactly what an analyzed index stored for the original text
    val phrase = analyzer.fold(rawPhrase) { a =>
      val low =
        if (a.lowercase) rawPhrase.map(_.toLowerCase(java.util.Locale.ROOT))
        else rawPhrase
      low.filterNot(a.stopwords.toSet)
    }
    require(phrase.size >= 2,
      "a phrase needs >= 2 terms (after analysis) — rank single terms with search()")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    // `allowed` is [[restrictTo]]'s filter-then-rank; phrase ranking
    // carries no collection statistics, so restricting the postings
    // IS restricting the docs — the semi-join just prunes disallowed
    // candidates before the position intersect instead of after
    val post = restrictTo(minusDeleted(
      BatchedTable.readIdx(spark, postDir, excludeLabel)
        .filter(col("term").isin(phrase.distinct: _*)), excludeLabel), allowed)
    require(post.columns.contains("pos"),
      s"index at $path predates the positional layout — rebuild() to serve phrases")
    val frames = phrase.zipWithIndex.map { case (t, i) =>
      post.filter(col("term") === t).select(col("doc_id"), col("pos").as(s"__pos$i"))
    }
    val joined = frames.reduce((a, b) => a.join(b, "doc_id"))
    val cnt = phraseCountCol(phrase.size, slop, j => col(s"__pos$j"))
    joined.withColumn("n_occurrences", cnt.cast(LongType))
      .filter(col("n_occurrences") > 0)
      .orderBy(desc("n_occurrences"), asc("doc_id")).limit(k)
      .select("doc_id", "n_occurrences")
  }

  /** The occurrence-count expression shared by [[searchPhrase]] and
    * [[searchPhraseBatch]], given each slot's position array (see
    * searchPhrase's Scaladoc for the two regimes' semantics/cost).
    */
  private def phraseCountCol(n: Int, slop: Int, pos: Int => Column): Column =
    if (slop == 0)
      size((0 until n).map(j =>
          if (j == 0) pos(0) else transform(pos(j), q => q - j))
        .reduce(array_intersect(_, _)))
    else
      size(filter(pos(0), p =>
        (1 until n)
          .map(j => exists(pos(j), q => abs(q - (p + j)) <= slop))
          .reduce(_ && _)))

  /** Batched phrase serving — [[searchBatch]]'s discipline applied to
    * [[searchPhrase]]: `queries` is (query_id, phrase array<string>,
    * each ≥ 2 terms), returns (query_id, doc_id, n_occurrences) —
    * each query's top-k, row-for-row what a searchPhrase loop would
    * produce. ONE postings scan filtered to the union of all phrases'
    * terms (driver-collected literal isin — query frames are
    * serving-request-sized by contract — keeping row-group pruning);
    * each phrase SLOT replicates its term's postings rows via a
    * broadcast join against the exploded (query_id, slot, term)
    * frame, per-(query, doc) slot arrays reassemble into a
    * slot-keyed map (postings are unique per (term, doc), so map
    * keys are unique even with repeated phrase terms — each slot is
    * its own entry), and the occurrence count is [[searchPhrase]]'s
    * exact projection over `element_at(map, slot)`. Docs missing ANY
    * slot drop on `size(map) = phrase length` before counting. Same
    * `slop` semantics as the single-phrase probe — uniform across the
    * batch via the parameter, or PER QUERY via an optional third
    * `slop` column (mixed exact/proximity micro-batches; mutually
    * exclusive with a non-zero parameter). Slop-0 rows keep the
    * intersect fast path either way.
    */
  def searchPhraseBatch(queries: DataFrame, k: Int = 10,
                        excludeLabel: Option[String] = None,
                        slop: Int = 0,
                        allowed: Option[DataFrame] = None): DataFrame =
    searchPhraseBatchOpt(queries, k, excludeLabel, slop, allowed).getOrElse(
      throw new IllegalArgumentException("no phrases in the batch"))

  /** [[searchPhraseBatch]] tolerating an EMPTY query frame (None) —
    * [[servePhraseStream]]'s fast path, mirroring `searchBatchOpt`.
    */
  private def searchPhraseBatchOpt(rawQueries: DataFrame, k: Int,
                                   excludeLabel: Option[String],
                                   slop: Int,
                                   allowed: Option[DataFrame] = None): Option[DataFrame] = {
    // PER-QUERY slop: a third `slop` column overrides the batch-wide
    // parameter row-by-row (a serving tier mixes exact and proximity
    // queries in one micro-batch) — the two knobs are mutually
    // exclusive to keep the semantics unambiguous
    val hasSlopCol = rawQueries.columns.toSeq == Seq("query_id", "phrase", "slop")
    require(hasSlopCol || rawQueries.columns.toSeq == Seq("query_id", "phrase"),
      s"queries must be (query_id, phrase[, slop]), got ${rawQueries.columns.mkString(", ")}")
    // analyzer-normalize each phrase in-plan — searchPhrase's fold +
    // stopword-slot drop (duplicates KEPT: phrases repeat words), so a
    // batched/streamed probe matches the analyzed postings exactly
    // like the single-phrase verb. A RAW phrase under 2 terms still
    // trips the loud short-phrase refusal (caller bug), but a raw-
    // valid phrase that ANALYZES below 2 slots (pure stopwords — 'of
    // the') drops SILENTLY, mirroring searchBatchOpt's size>0 drop:
    // under servePhraseStream one innocuous user phrase must not
    // abort the whole streaming query, and a sub-2-slot phrase has no
    // phrase semantics left to serve.
    val queries = analyzer.fold(rawQueries) { a =>
      val an = rawQueries
        .withColumn("__rawlen", coalesce(size(col("phrase")), lit(0)))
        .withColumn("phrase", a.tokensCol(col("phrase")))
      // raw-short rows are KEPT here so they still reach the loud
      // refusal below (their analyzed size stays < 2 — the analyzer
      // never grows a phrase)
      an.filter(col("__rawlen") < 2 || size(col("phrase")) >= 2)
        .drop("__rawlen")
    }
    require(slop >= 0, s"slop must be >= 0, got $slop")
    require(!hasSlopCol || slop == 0,
      "pass slop per query (column) OR batch-wide (parameter), not both")
    // integral only: a double would silently truncate through the
    // cast below (1.9 -> window 1), a string would cast to null and
    // zero out every query — both the masked-caller-bug shapes this
    // validation exists to refuse
    if (hasSlopCol) {
      val dt = queries.schema("slop").dataType
      require(Seq[org.apache.spark.sql.types.DataType](
          org.apache.spark.sql.types.IntegerType, LongType,
          org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
          .contains(dt),
        s"slop column must be integral, got ${dt.simpleString}")
    }
    // one job collects the term universe AND validates phrase lengths
    // + per-query slops (the serveStream probe-hygiene contract: a
    // micro-batch costs one driver action before the probe itself).
    // explode_OUTER: a plain explode emits no row for an empty/null
    // phrase, so its __short flag would never reach the require and
    // the caller bug would be masked as a silent zero-row query
    // instead of failing loudly like the 1-term case.
    val terms = queries.select(explode_outer(array_distinct(col("phrase"))).as("t"),
        (coalesce(size(col("phrase")), lit(0)) < 2).as("__short"),
        (if (hasSlopCol) coalesce(col("slop"), lit(-1)) < 0 else lit(false))
          .as("__bad"))
      .groupBy("t").agg(max(col("__short")).as("s"), max(col("__bad")).as("bd"))
      .collect()
    require(!terms.exists(_.getBoolean(1)),
      "every phrase needs >= 2 terms — rank single terms with searchBatch()")
    require(!terms.exists(_.getBoolean(2)),
      "every per-query slop must be a non-negative, non-null integer")
    if (terms.isEmpty) return None
    val allTerms = terms.map(_.getString(0)).toSeq
    val post = restrictTo(minusDeleted(
      BatchedTable.readIdx(spark, postDir, excludeLabel)
        .filter(col("term").isin(allTerms: _*)), excludeLabel), allowed)
    require(post.columns.contains("pos"),
      s"index at $path predates the positional layout — rebuild() to serve phrases")
    val slopC = if (hasSlopCol) col("slop").cast("int") else lit(slop)
    val slots = queries.select(col("query_id"), size(col("phrase")).as("__plen"),
      slopC.as("__slop"), posexplode(col("phrase")).as(Seq("__slot", "term")))
    val m = col("__m")
    val cnt = phraseCountCol0(col("__slop"), j => element_at(m, j), size(m))
    Some(post.select(col("term"), col("doc_id"), col("pos"))
      .join(broadcast(slots), "term")
      .groupBy("query_id", "doc_id", "__plen", "__slop")
      .agg(map_from_entries(collect_list(struct(col("__slot"), col("pos")))).as("__m"))
      .filter(size(m) === col("__plen"))
      .withColumn("n_occurrences", cnt.cast(LongType))
      .filter(col("n_occurrences") > 0)
      // bounded-heap top-k per query (see searchBatchOpt) — counts are
      // small integers, exact through the heap's double score
      .groupBy("query_id")
      .agg(graft.expressions.TopKAgg.topK(
        col("n_occurrences").cast("double"), col("doc_id"), k).as("__t"))
      .select(col("query_id"), explode(col("__t")).as("__e"))
      .select(col("query_id"), col("__e.id").as("doc_id"),
        col("__e.score").cast(LongType).as("n_occurrences")))
  }

  /** Continuous PHRASE serving — [[serveStream]]'s contract for the
    * phrase query shape: each micro-batch of (query_id, phrase
    * array<string>) rows probes via [[searchPhraseBatch]] (one
    * term-pruned postings scan, one pre-probe driver action) and
    * writes (query_id, doc_id, n_occurrences) to `outDir`. A
    * separate handle/sink from the keyword stream because the result
    * schemas differ (bm25 vs occurrence counts). `slop` applies
    * batch-wide; a stream whose rows carry their own `slop` column
    * gets per-query windows instead. `allowed` restricts every tick
    * ([[restrictTo]]), pinned once at stream start like
    * [[serveStream]]'s.
    */
  def servePhraseStream(queries: DataFrame, k: Int = 10, outDir: String,
                        checkpoint: String, slop: Int = 0,
                        allowed: Option[DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val allowedPinned = ServeStream.pin(allowed, "doc_id")
    ServeStream.start(queries, checkpoint) { (batch, write) =>
      searchPhraseBatchOpt(batch, k, None, slop, allowedPinned).foreach(write(outDir, _))
    }
  }

  /** [[phraseCountCol]] with a RUNTIME slot count and slop (the batch
    * path: phrase length — and, with a slop column, the window width —
    * varies per query, so slots index a map and the fold runs over
    * `sequence(1, n-1)` instead of a compile-time range). The exact
    * intersect fast path still serves every slop-0 row: the branch is
    * a per-row `when`, constant-folded away for a literal batch-wide
    * slop. Map keys are the 0-based slots from posexplode.
    */
  private def phraseCountCol0(slop: Column, pos: Column => Column, n: Column): Column = {
    val slotIdx = sequence(lit(1), (n - 1).cast("int"))
    when(slop === 0,
      size(aggregate(slotIdx, pos(lit(0)),
        (acc, j) => array_intersect(acc, transform(pos(j), q => q - j)))))
      .otherwise(
        size(filter(pos(lit(0)), p =>
          forall(slotIdx, j => exists(pos(j), q => abs(q - (p + j)) <= slop)))))
  }

  /** Batched probe — the text twin of `vdb_knn_batch_ivf`: a serving
    * tier issues query FRAMES, not single calls. `queries` is
    * (query_id, terms array<string>, each query's terms distinct);
    * returns (query_id, doc_id, bm25) — each query's top-k, row-for-row
    * what a [[search]] loop over the frame would produce (no padding:
    * batch probes are for live serving corpora where ≥ k docs match).
    *
    * Plan: ONE postings scan filtered to the union of all queries'
    * terms (the term list is collected driver-side — query frames are
    * serving-request-sized by contract, and the literal isin() is what
    * keeps parquet row-group pruning; a corpus-sized "query table"
    * is a join workload — use `text_tfidf_sim`'s shape instead). Each
    * postings row replicates per referencing query via a broadcast
    * join against the exploded (query_id, pos, term) frame, and
    * per-(query, doc) scores assemble by sorting the (pos, contrib)
    * pairs and summing left-to-right — bit-identical to [[search]]'s
    * fixed-term-order association, because adding the absent terms'
    * 0.0 placeholders cannot change an IEEE sum. Top-k per query
    * rides the bounded-heap aggregate, deterministic (score desc,
    * doc_id asc) — a window would shuffle and sort every candidate
    * of a common term into one partition per query.
    * `allowed` applies [[restrictTo]]'s filter-then-rank to the
    * whole batch (one semi-join on the shared scan, index-global
    * statistics) — the batched form of the predicated keyword probe.
    */
  def searchBatch(queries: DataFrame, k: Int = 10,
                  excludeLabel: Option[String] = None,
                  allowed: Option[DataFrame] = None): DataFrame =
    searchBatchOpt(queries, k, excludeLabel, allowed).getOrElse(
      throw new IllegalArgumentException("no terms in any query"))

  /** [[searchBatch]] tolerating an EMPTY query frame (None) — the
    * [[serveStream]] fast path: streaming watermark ticks deliver
    * empty micro-batches, and distinguishing them must not cost its
    * own isEmpty job on top of the probe's term collect.
    */
  private def searchBatchOpt(rawQueries: DataFrame, k: Int,
                             excludeLabel: Option[String],
                             allowed: Option[DataFrame] = None): Option[DataFrame] = {
    require(rawQueries.columns.toSeq == Seq("query_id", "terms"),
      s"queries must be (query_id, terms), got ${rawQueries.columns.mkString(", ")}")
    // analyzer-normalize each row's terms in-plan (fold case, drop
    // stopwords, collapse post-fold duplicates keeping first position)
    // — [[analyzeTerms]]'s expression twin; identity when unconfigured
    val queries = analyzer.fold(rawQueries) { a =>
      rawQueries.select(col("query_id"),
          array_distinct(a.tokensCol(col("terms"))).as("terms"))
        .filter(size(col("terms")) > 0)
    }
    // ONE driver job validates AND collects the term universe: each
    // exploded term rides its query's duplicate flag, folded per term
    // — under serveStream this is the only scheduled job before the
    // probe plan itself (was: a duplicate-check count + a distinct
    // collect + the caller's isEmpty, three jobs per micro-batch)
    val terms = queries
      .select(explode(col("terms")).as("t"),
        (size(col("terms")) =!= size(array_distinct(col("terms")))).as("__dup"))
      .groupBy("t").agg(max(col("__dup")).as("d")).collect()
    require(!terms.exists(_.getBoolean(1)),
      "duplicate terms within a query would double-count")
    if (terms.isEmpty) return None
    val allTerms = terms.map(_.getString(0)).toSeq
    val (post, stats, dfs) = probe(allTerms, excludeLabel)
    // __qpos, not pos: the postings frame carries its own positional
    // `pos` column, and the join would make the bare name ambiguous
    val qt = queries.select(col("query_id"),
      posexplode(col("terms")).as(Seq("__qpos", "term")))
    Some(restrictTo(post, allowed)
      .join(broadcast(dfs), "term")
      .withColumn("__c", contribCol(stats))
      .join(broadcast(qt), "term")
      .groupBy("query_id", "doc_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("__qpos"), col("__c")))),
        lit(0.0),
        (acc, x) => acc + x.getField("__c")).as("score0"))
      // top-k per query rides the bounded heap, not a window: a
      // common term's candidate set is corpus-sized, and row_number
      // would shuffle + SORT every candidate into one partition per
      // query — the heap ships ≤ k rows per (query, map partition)
      // with the identical (score desc, doc_id asc) order
      .groupBy("query_id")
      .agg(graft.expressions.TopKAgg.topK(col("score0"), col("doc_id"), k).as("__t"))
      .select(col("query_id"), explode(col("__t")).as("__e"))
      .select(col("query_id"), col("__e.id").as("doc_id"),
        round(col("__e.score"), 4).as("bm25")))
  }

  /** Index health — the maintenance dashboard, metadata-cheap:
    * directory listings plus the meta/del folds (one tiny row per
    * batch), never a postings-row scan. The operational signals:
    * `n_batches` is the probe's FIXED listing/footer cost (ScaleSmoke:
    * 16.7 s at 2001 dirs vs 0.5 s folded — compact every few hundred
    * batches) and `n_tombstones` counts logical deletes awaiting
    * physical reclaim (also folded by compact). One row:
    * (n_batches, n_post_files, n_docs, sum_dl, n_tombstones).
    */
  def health(): DataFrame = {
    require(fs.exists(new Path(postDir)), s"health: index at $path not built")
    // meta/ is the WIDEST table — every mutation (append AND delete)
    // writes one meta batch, while deletes add no post/ partition — so
    // its directory count bounds every table's listing cost
    val batches = fs.listStatus(new Path(metaDir))
      .map(_.getPath.getName).count(_.startsWith("batch="))
    val files = graft.Tables.listing(spark, postDir).getOrElse(Vector.empty)
      .count(_._1.endsWith(".parquet"))
    val m = metaRows(None)
    spark.range(1).select(
      lit(batches.toLong).as("n_batches"),
      lit(files.toLong).as("n_post_files"),
      lit(m.map(_._2).sum).as("n_docs"),
      lit(m.map(_._3).sum).as("sum_dl"),
      lit(tombstones(None).size.toLong).as("n_tombstones"))
  }

  /** A metadata-cheap content stamp: [[graft.Tables.stamp]] over
    * post/meta/del — every file's path, size and mtime, a pure
    * driver-side listing, no Spark job, no postings read. Every
    * mutation path (append, delete, reclaim, compact, maintain, and a
    * re-append of an existing label, which rewrites its files) moves
    * it, so any stamp-equal index serves the same rows;
    * [[graft.vector.Serving.FusionServing]] keys its cross-call arms
    * cache on this so a mutated index EVICTS, never serves stale
    * shortlists.
    */
  private[graft] def contentStamp(): Long = graft.Tables.stamp(spark, dirs: _*)

  /** Continuous text-query serving — the text twin of
    * [[graft.streaming.StreamingSearch]]: each micro-batch of keyword
    * queries (query_id, terms array) probes the index via
    * [[searchBatch]] (ONE term-pruned postings scan per batch) and
    * writes (query_id, doc_id, bm25) to `outDir` through
    * [[ServeStream]]. Results reflect the index AS OF each batch — a
    * concurrently-appending ingest tier's batches become visible to
    * queries that arrive after them (reads are plain parquet scans;
    * the single-WRITER contract is the mutator's, probes don't
    * participate). Caller stops the returned handle. `allowed`
    * restricts every tick's candidates ([[restrictTo]]); it is PINNED
    * at stream start (localCheckpoint) so an expensive or non-
    * deterministic producing plan doesn't re-execute inside every
    * micro-batch's semi-join — same rule as
    * [[graft.vector.VectorStore.serveStream]].
    */
  def serveStream(queries: DataFrame, k: Int = 10, outDir: String,
                  checkpoint: String, allowed: Option[DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val allowedPinned = ServeStream.pin(allowed, "doc_id")
    ServeStream.start(queries, checkpoint) { (batch, write) =>
      // one pre-probe job per micro-batch: the Opt variant's merged
      // validate-and-collect doubles as the empty-batch check
      // (watermark ticks deliver empty batches — None skips the
      // probe and the write entirely)
      searchBatchOpt(batch, k, None, allowedPinned).foreach(write(outDir, _))
    }
  }

  /** Fold all per-batch directories into `batch=compact0` (+ the
    * optional in-flight `keepLabel`, carried verbatim) — the same
    * file-count maintenance and crash protocol as
    * `ShingleIndex.compact` ([[BatchedTable.foldDir]]). Additionally
    * RECLAIMS deletes: the postings fold drops tombstoned rows (meta's
    * negative deltas net out in its sum fold) and del/ folds to empty
    * — ordered so a crash at any boundary stays correct (tombstones
    * outliving their physical application anti-join already-absent
    * rows, a no-op; they are only cleared AFTER the postings fold that
    * applied them is durable). A keepLabel names the one in-flight
    * mutation (append OR delete): its partitions ride every table
    * unfolded, so replay exclusion keeps working.
    */
  def compact(keepLabel: Option[String] = None): Unit = {
    dirs.foreach(d => BatchedTable.recoverFold(fs, d))
    require(fs.exists(new Path(postDir)),
      s"compact: $postDir does not exist — index not built?")
    val emptyDel = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType))))
    val folds: Seq[(String, () => DataFrame)] = Seq(
      postDir -> (() => {
        val live = minusDeleted(
          BatchedTable.readIdx(spark, postDir, keepLabel), keepLabel)
        // a pre-positional index folds without the pos column —
        // phrase probes keep prescribing a rebuild, BM25 keeps working
        val cols = Seq("term", "doc_id", "tf", "dl") ++
          (if (live.columns.contains("pos")) Seq("pos") else Nil)
        live.select(cols.map(col): _*)
          .repartition(col("term")).sortWithinPartitions("term", "doc_id")
      }),
      metaDir -> (() => BatchedTable.readIdx(spark, metaDir, keepLabel)
        .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
          coalesce(sum("sum_dl"), lit(0L)).as("sum_dl"))),
      // LAST: only clear tombstones once the folds that applied them
      // physically are durable (a legacy index without del/ skips it)
      delDir -> (() => emptyDel))
    folds.foreach { case (d, mk) =>
      if (d != delDir || fs.exists(new Path(d)))
        BatchedTable.foldDir(spark, fs, d, mk(), keepLabel)
    }
  }

  /** The scheduled maintenance verb — run on a timer, like
    * [[graft.vector.VectorStore.maintain]]: [[compact]]s once the
    * per-batch layout's fixed cost has accumulated past `maxBatches`
    * directories (the listing+footer overhead ScaleSmoke measures at
    * ~30x a folded probe by 2000 batches) or the tombstone set has
    * outgrown `maxTombstones` (anti-join weight every probe carries
    * until a fold applies it physically). Decision cost: one metaDir
    * listing + the tombstone count — no postings IO unless it folds.
    * Returns true when it compacted; `keepLabel` protects the
    * in-flight batch, same contract as [[compact]].
    */
  def maintain(maxBatches: Int = 256, maxTombstones: Long = Long.MaxValue,
               keepLabel: Option[String] = None): Boolean = {
    require(fs.exists(new Path(metaDir)), s"maintain: index at $path not built")
    val batches = fs.listStatus(new Path(metaDir))
      .map(_.getPath.getName).count(_.startsWith("batch="))
    val tombs =
      if (maxTombstones == Long.MaxValue) 0L
      else tombstones(None).size.toLong
    val fold = batches > maxBatches || tombs > maxTombstones
    if (fold) compact(keepLabel)
    fold
  }
}

object TermIndex {
  /** Index-time + probe-time token normalization (see the class
    * Scaladoc's `analyzer` note): `lowercase` folds every token via
    * `lower()` (SQL-replayable), `stopwords` drops the listed tokens
    * AFTER folding (so list entries should be lowercase when
    * `lowercase` is on). The whole analysis is expressible as
    * `list_filter(list_transform(...), NOT IN ...)` in ANSI/DuckDB
    * SQL, which is what keeps analyzed indexes oracle-checkable.
    */
  final case class Analyzer(lowercase: Boolean = true,
                            stopwords: Seq[String] = Nil) {
    /** The analysis as ONE column expression over a token array —
      * every consumer (postings/dl/meta at build, batch probes
      * in-plan, the served-index freshness probe) derives from this
      * single definition, so a future analysis change cannot
      * desynchronize the index's statistics from its probes.
      */
    def tokensCol(tokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val low = if (lowercase) transform(tokens, w => lower(w)) else tokens
      if (stopwords.isEmpty) low
      else filter(low, w => !w.isin(stopwords: _*))
    }
  }

  /** A small English stopword list for the analyzed BM25 surface —
    * deliberately tiny and FROZEN (it participates in index layout:
    * changing it is a rebuild, like `positional`).
    */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "are",
    "was", "on", "for", "with", "as", "at", "by", "it", "this", "that")
}
