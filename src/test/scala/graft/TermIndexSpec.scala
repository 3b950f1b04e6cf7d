package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TermIndex

class TermIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  private def topMap(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("index-served BM25 equals the one-shot query on the test corpus") {
    val dir = Files.createTempDirectory("graft-tidx").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Tables.documents(spark, sf).select("doc_id", "text"))
    val served = topMap(idx.search(Seq("table", "hash", "merge"), k = 10))
    val oneShot = topMap(
      graft.text.TextAnalysis.queries("text_bm25")(spark, sf))
    assert(served === oneShot,
      "the maintained index must reproduce the one-shot BM25 top-10 exactly")
  }

  test("query plan probes postings with the term filter pushed to the scan") {
    val dir = Files.createTempDirectory("graft-tidx2").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Tables.documents(spark, sf).select("doc_id", "text"))
    val plan = idx.search(Seq("table", "hash"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains(dir), "scoring must read the persisted postings")
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"the query-term filter must reach the parquet scan:\n$plan")
    // corpus text is never read at query time — the only inputs are
    // the index directories
    assert(!plan.contains("documents.parquet"),
      "query time must not touch the document table")
  }

  test("append serves new docs, replays idempotently, and excludeLabel rewinds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx3").toString
    val idx = new TermIndex(spark, dir)
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha alpha delta")).toDF("doc_id", "text")
    idx.build(corpus)
    val before = topMap(idx.search(Seq("alpha"), k = 10))
    assert(before.map(_._1) === Seq(2L, 1L), "tf=2 doc must outrank tf=1")

    val batch = Seq((10L, "alpha epsilon")).toDF("doc_id", "text")
    idx.append(batch, "b1")
    val after = topMap(idx.search(Seq("alpha"), k = 10))
    assert(after.map(_._1).toSet === Set(1L, 2L, 10L))
    // idempotent replay: same label overwrites, results identical
    idx.append(batch, "b1")
    assert(topMap(idx.search(Seq("alpha"), k = 10)) === after)
    // a replayed batch judged against the pre-append index
    assert(topMap(idx.search(Seq("alpha"), k = 10,
      excludeLabel = Some("b1"))) === before)
    // reserved labels refused
    intercept[IllegalArgumentException](idx.append(batch, "base"))
    intercept[IllegalArgumentException](idx.append(batch, "compact0"))
  }

  test("compact folds to one partition per table without changing results") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx4").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Seq((1L, "alpha beta")).toDF("doc_id", "text"))
    (0 until 3).foreach(i =>
      idx.append(Seq((10L + i, s"alpha w$i")).toDF("doc_id", "text"), s"b$i"))
    val before = topMap(idx.search(Seq("alpha", "beta"), k = 10))
    idx.compact()
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("post", "meta").foreach { t =>
      val parts = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$t"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
      assert(parts.sameElements(Array("batch=compact0")),
        s"$t/ must fold to compact0, got ${parts.mkString(",")}")
    }
    assert(topMap(idx.search(Seq("alpha", "beta"), k = 10)) === before)
    // keepLabel: the in-flight batch survives the fold unfolded.
    // Exclusion rewinds the WHOLE corpus state (N, avgdl, df — not
    // just the hit list), so the reference is the pre-append search.
    val preB9 = topMap(idx.search(Seq("alpha"), k = 10))
    idx.append(Seq((99L, "alpha zeta")).toDF("doc_id", "text"), "b9")
    val withB9 = topMap(idx.search(Seq("alpha"), k = 10))
    idx.compact(keepLabel = Some("b9"))
    assert(topMap(idx.search(Seq("alpha"), k = 10)) === withB9)
    assert(topMap(idx.search(Seq("alpha"), k = 10, excludeLabel = Some("b9")))
      === preB9,
      "replay exclusion must keep working after a keepLabel fold")
  }

  test("maintain folds on the batch-count and tombstone signals only when crossed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx-maint").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text"))
    (0 until 3).foreach(i =>
      idx.append(Seq((10L + i, s"alpha w$i")).toDF("doc_id", "text"), s"b$i"))
    assert(!idx.maintain(maxBatches = 16), "4 batches under a 16 budget: no fold")
    // a tombstone set past its budget folds (and applies) even when
    // the batch count is fine; the logical delete already shaped the
    // results, so the fold must not change them
    idx.delete(Seq(10L), "takedown")
    val afterDelete = topMap(idx.search(Seq("alpha"), k = 10))
    assert(!afterDelete.exists(_._1 == 10L))
    assert(idx.maintain(maxBatches = 16, maxTombstones = 0L))
    val h = idx.health().collect().head
    assert(h.getLong(0) === 1L && h.getLong(4) === 0L,
      "fold must collapse the layout and apply the tombstones")
    assert(topMap(idx.search(Seq("alpha"), k = 10)) === afterDelete,
      "physical application of the tombstones is result-invariant")
    assert(!idx.maintain(maxBatches = 16, maxTombstones = 0L))
  }

  test("delete serves exactly an index built without those docs, before and after compact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx5").toString
    val keep = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha alpha delta"),
      (3L, "beta beta epsilon")).toDF("doc_id", "text")
    val doomed = Seq(
      (8L, "alpha beta beta"),
      (9L, "alpha gamma gamma gamma")).toDF("doc_id", "text")
    val idx = new TermIndex(spark, dir)
    idx.build(keep.unionByName(doomed))
    val ref = new TermIndex(spark,
      Files.createTempDirectory("graft-tidx5ref").toString)
    ref.build(keep)
    val terms = Seq("alpha", "beta")
    val preDelete = topMap(idx.search(terms, k = 10))

    assert(idx.delete(Seq(8L, 9L), "d1") === 2L)
    // EXACT parity with the never-indexed reference: not just the
    // deleted docs gone, but N/avgdl/df — every survivor's score —
    // rewound too (the compensating deltas, not a hit-list filter)
    assert(topMap(idx.search(terms, k = 10)) === topMap(ref.search(terms, k = 10)))
    // the batched probe sees the same post-delete corpus
    val q = Seq((0L, terms)).toDF("query_id", "terms")
    assert(idx.searchBatch(q, k = 10).select("doc_id", "bm25").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      === topMap(ref.search(terms, k = 10)).sortBy(_._1))
    // idempotent replay: same ids, same label — state unchanged
    assert(idx.delete(Seq(8L, 9L), "d1") === 2L)
    assert(topMap(idx.search(terms, k = 10)) === topMap(ref.search(terms, k = 10)))
    // replay exclusion rewinds the whole delete
    assert(topMap(idx.search(terms, k = 10, excludeLabel = Some("d1"))) === preDelete)
    // deleting never-indexed or already-deleted ids is a no-op
    assert(idx.delete(Seq(8L, 777L), "d2") === 0L)
    // a tombstoned id cannot be re-ingested until compact reclaims it
    intercept[IllegalArgumentException](
      idx.append(Seq((8L, "alpha reborn")).toDF("doc_id", "text"), "b1"))
    // label uniqueness across mutation kinds: an append under a
    // delete's label would clobber the delete's meta delta
    intercept[IllegalArgumentException](
      idx.append(Seq((50L, "fresh doc")).toDF("doc_id", "text"), "d1"))

    // health reads the mutation state without scanning postings:
    // base + d1 + d2 dirs, 3 net docs (5 - 2 deleted), 2 tombstones
    val h1 = idx.health().collect().head
    assert(h1.getLong(0) === 3L, s"3 batch dirs expected, got $h1")
    assert(h1.getLong(2) === 3L, s"meta must net the deletes, got $h1")
    assert(h1.getLong(4) === 2L, s"2 live tombstones expected, got $h1")

    idx.compact()
    val h2 = idx.health().collect().head
    assert(h2.getLong(0) === 1L && h2.getLong(4) === 0L,
      s"compact must fold dirs and clear tombstones, got $h2")
    assert(topMap(idx.search(terms, k = 10)) === topMap(ref.search(terms, k = 10)),
      "physical reclaim must not change served results")
    // tombstones cleared: the postings fold applied them, and the id
    // is free for re-ingest again
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(spark.read.parquet(s"$dir/del").count() === 0L)
    assert(spark.read.parquet(s"$dir/post")
      .filter(col("doc_id").isin(8L, 9L)).count() === 0L,
      "compact must physically drop the deleted docs' postings")
    idx.append(Seq((8L, "alpha reborn")).toDF("doc_id", "text"), "b1")
    assert(topMap(idx.search(Seq("reborn"), k = 1)).map(_._1) === Seq(8L))
    // ...and a delete under an append's label would clobber that
    // batch's meta counts
    intercept[IllegalArgumentException](idx.delete(Seq(8L), "b1"))
  }

  test("reclaim applies one delete's tombstones and unblocks re-ingest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx14").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Seq(
      (1L, "alpha beta"),
      (2L, "alpha gamma"),
      (3L, "beta beta delta")).toDF("doc_id", "text"))
    idx.append(Seq((10L, "alpha beta beta")).toDF("doc_id", "text"), "b1")
    idx.delete(Seq(2L, 10L), "d1")
    // a SECOND delete under another label must survive d1's reclaim
    idx.delete(Seq(3L), "d2")
    val before = topMap(idx.search(Seq("alpha", "beta"), k = 10))
    intercept[IllegalArgumentException](
      idx.append(Seq((2L, "corrected")).toDF("doc_id", "text"), "b2"))

    assert(idx.reclaim("d1") === 2L)
    assert(topMap(idx.search(Seq("alpha", "beta"), k = 10)) === before,
      "probe results must be invariant under reclaim")
    // physical: the reclaimed docs' postings rows are gone (raw read,
    // no tombstone anti-join), d2's doc 3 rows still present
    val rawIds = spark.read.parquet(s"$dir/post")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(rawIds === Set(1L, 3L), s"raw postings ids: $rawIds")
    // d2's tombstone still live; d1's reclaimed
    val h = idx.health().collect().head
    assert(h.getLong(4) === 1L, s"only d2's tombstone should remain: $h")
    // idempotent: nothing left to reclaim under d1
    assert(idx.reclaim("d1") === 0L)
    // the label stays burned for appends (its meta delta stands)
    intercept[IllegalArgumentException](
      idx.append(Seq((50L, "zeta")).toDF("doc_id", "text"), "d1"))

    // takedown-then-reissue: corrected copies ingest now, and serving
    // equals an index built from scratch over the surviving corpus
    idx.append(Seq((2L, "alpha alpha corrected"),
      (10L, "beta epsilon")).toDF("doc_id", "text"), "b2")
    val ref = new TermIndex(spark,
      Files.createTempDirectory("graft-tidx14-ref").toString)
    ref.build(Seq(
      (1L, "alpha beta"),
      (2L, "alpha alpha corrected"),
      (10L, "beta epsilon")).toDF("doc_id", "text"))
    for (terms <- Seq(Seq("alpha", "beta"), Seq("corrected", "epsilon"))) {
      assert(topMap(idx.search(terms, k = 10)) === topMap(ref.search(terms, k = 10)),
        s"post-reissue serving must equal the from-scratch reference for $terms")
    }
    // reclaim of a label that never deleted: loud
    intercept[IllegalArgumentException](idx.reclaim("nope"))
  }

  test("padFrom pads the top-k with zero-score docs exactly as the one-shot would") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx6").toString
    val docs = Seq(
      (1L, "alpha beta"),
      (2L, "gamma delta"),
      (3L, "epsilon zeta"),
      (4L, "alpha alpha")).toDF("doc_id", "text")
    val idx = new TermIndex(spark, dir)
    idx.build(docs)
    // only docs 1 and 4 match: unpadded search returns 2 rows, padded
    // fills ranks 3..4 with 0.0-score docs in doc_id order — the
    // one-shot query's exact semantics for the fewer-than-k case
    assert(topMap(idx.search(Seq("alpha"), k = 4)).map(_._1) === Seq(4L, 1L))
    val padded = topMap(idx.search(Seq("alpha"), k = 4,
      padFrom = Some(docs.select("doc_id"))))
    assert(padded.map(_._1) === Seq(4L, 1L, 2L, 3L))
    assert(padded.drop(2).forall(_._2 === 0.0))
  }

  test("filtered search: filter-then-rank with index-global statistics") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx-allow").toString
    val idx = new TermIndex(spark, dir)
    // 'beta' appears in a DISALLOWED doc too: index-global df counts it
    // (the Lucene filter contract), so allowed docs' scores must equal
    // their unfiltered scores exactly — slice-local statistics would
    // shift every idf and the parity below would fail
    val corpus = Seq(
      (1L, "alpha beta"),
      (2L, "alpha alpha beta"),
      (3L, "alpha rare"),
      (4L, "alpha beta beta"),
      (5L, "gamma delta")).toDF("doc_id", "text")
    idx.build(corpus)
    val allowedIds = Set(1L, 2L, 5L)
    val allowed = allowedIds.toSeq.toDF("doc_id")
    val unfiltered = topMap(idx.search(Seq("alpha", "beta"), k = 10))
    val got = topMap(
      idx.search(Seq("alpha", "beta"), k = 10, allowed = Some(allowed)))
    assert(got === unfiltered.filter(t => allowedIds(t._1)),
      "filtered top-k must be the unfiltered ranking restricted to " +
        "allowed ids — same (global) scores, eligible candidates only")
    assert(got.map(_._1).toSet.subsetOf(allowedIds))
    // batched form equals a filtered-search loop
    val qs: Seq[(Long, Seq[String])] =
      Seq(0L -> Seq("alpha", "beta"), 1L -> Seq("beta"))
    val bGot = idx.searchBatch(qs.toDF("query_id", "terms"), k = 10,
        allowed = Some(allowed)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bWant = qs.flatMap { case (q, ts) =>
      topMap(idx.search(ts, k = 10, allowed = Some(allowed)))
        .map { case (doc, s) => (q, doc, s) }
    }.toSet
    assert(bGot === bWant,
      "batched filtered probe must equal a filtered search loop")
    // the pad universe intersects the allowed set: no disallowed id
    // leaks in as a 0.0-score row
    val padded = topMap(idx.search(Seq("alpha"), k = 10,
      padFrom = Some(corpus.select("doc_id")), allowed = Some(allowed)))
    assert(padded.map(_._1).toSet === allowedIds,
      "padding must fill from allowed ∩ universe only")
    assert(padded.last === ((5L, 0.0)), "the termless allowed doc pads at 0.0")
  }

  test("filtered phrase search prunes candidates, not occurrence counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx-pallow").toString
    val idx = new TermIndex(spark, dir)
    val corpus = Seq(
      (1L, "alpha beta x alpha beta"),  // allowed, 2 occurrences
      (2L, "alpha beta y"),             // disallowed, would rank 2nd
      (3L, "alpha beta z"),             // allowed, 1 occurrence
      (4L, "beta alpha w")).toDF("doc_id", "text") // allowed, 0 occurrences
    idx.build(corpus)
    val allowed = Seq(1L, 3L, 4L).toDF("doc_id")
    val got = idx.searchPhrase(Seq("alpha", "beta"), k = 10,
        allowed = Some(allowed)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 2L), (3L, 1L)),
      "counts must be the unfiltered per-doc counts, candidates the allowed set")
    // batch form, with a per-query slop column riding along
    val qs = Seq((0L, Seq("alpha", "beta"), 0), (1L, Seq("beta", "alpha"), 1))
      .toDF("query_id", "phrase", "slop")
    val bGot = idx.searchPhraseBatch(qs, k = 10, allowed = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bWant = Seq(0 -> (Seq("alpha", "beta"), 0), 1 -> (Seq("beta", "alpha"), 1))
      .flatMap { case (q, (ph, sl)) =>
        idx.searchPhrase(ph, k = 10, slop = sl, allowed = Some(allowed)).collect()
          .map(r => (q.toLong, r.getLong(0), r.getLong(1)))
      }.toSet
    assert(bGot === bWant,
      "batched filtered phrases must equal a filtered searchPhrase loop")
    assert(bGot.exists(_._1 == 1L), "the slop query must match something")
    assert(!bGot.exists(_._2 == 2L), "no disallowed doc may surface")
  }

  test("duplicate query terms are refused (they would double-count)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx7").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Seq((1L, "alpha beta")).toDF("doc_id", "text"))
    intercept[IllegalArgumentException](idx.search(Seq("alpha", "alpha")))
    intercept[IllegalArgumentException](
      idx.searchBatch(Seq((0L, Seq("alpha", "alpha"))).toDF("query_id", "terms")))
  }

  test("searchBatch is row-identical to a per-query search loop") {
    val dir = Files.createTempDirectory("graft-tidx8").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Tables.documents(spark, sf).select("doc_id", "text"))
    val qs: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("table", "hash", "merge"),
      1L -> Seq("scan", "filter", "join"),
      2L -> Seq("vector", "stream"))
    import spark.implicits._
    val batched = idx.searchBatch(qs.toDF("query_id", "terms"), k = 10)
      .orderBy("query_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val looped = qs.flatMap { case (qid, terms) =>
      idx.search(terms, k = 10).collect()
        .map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.sortBy(t => (t._1, t._2))
    assert(batched === looped,
      "batch score assembly must reproduce the per-query float association exactly")
  }

  test("phrase search: positional overlap counting, tombstones honored") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx11").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Seq(
      (1L, "a a a b"),
      (2L, "x a a y"),
      (3L, "b c d a")).toDF("doc_id", "text"))
    def phrase(p: String*): Seq[(Long, Long)] =
      idx.searchPhrase(p, k = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // overlapping occurrences: "a a a" holds TWO "a a" windows
    assert(phrase("a", "a") === Seq((1L, 2L), (2L, 1L)))
    assert(phrase("a", "a", "a") === Seq((1L, 1L)))
    assert(phrase("b", "c") === Seq((3L, 1L)))
    assert(phrase("c", "b") === Seq.empty, "order matters")
    intercept[IllegalArgumentException](idx.searchPhrase(Seq("a")))
    // appended docs serve phrases; deleted docs stop serving them
    idx.append(Seq((9L, "a a z")).toDF("doc_id", "text"), "b1")
    assert(phrase("a", "a") === Seq((1L, 2L), (2L, 1L), (9L, 1L)))
    idx.delete(Seq(1L), "d1")
    assert(phrase("a", "a") === Seq((2L, 1L), (9L, 1L)))
    idx.compact()
    assert(phrase("a", "a") === Seq((2L, 1L), (9L, 1L)),
      "the positional column must survive the fold")
  }

  test("slop phrase search: anchor-count proximity semantics") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx12").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Seq(
      (1L, "merge join x"),        // exact
      (2L, "merge x join"),        // gap 1 -> slop >= 1
      (3L, "merge x y z join"),    // gap 3 -> slop >= 3
      (4L, "join merge"),          // reversed: slop 2 window reaches back
      (5L, "merge x merge join")).toDF("doc_id", "text")) // two anchors, one hits at slop 0, both at slop >= 2
    def phrase(slop: Int): Map[Long, Long] =
      idx.searchPhrase(Seq("merge", "join"), k = 10, slop = slop).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(phrase(0) === Map(1L -> 1L, 5L -> 1L))
    assert(phrase(1) === Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
    // slop 2: doc 4's anchor p has "join" at p-1, |p-1-(p+1)| = 2 — the
    // standard sloppy-phrase reach-back (reordering within the window);
    // doc 5's first anchor finds "join" at p+3 within +-2 of p+1
    assert(phrase(2) === Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 5L -> 2L))
    assert(phrase(3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    intercept[IllegalArgumentException](
      idx.searchPhrase(Seq("merge", "join"), slop = -1))
  }

  test("searchPhraseBatch is row-identical to a per-phrase searchPhrase loop") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx13").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Tables.documents(spark, sf).select("doc_id", "text"))
    // mixed lengths and a repeated-term phrase — the map-keyed slots
    // must keep each slot its own entry
    val qs: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("merge", "join"),
      1L -> Seq("table", "hash", "merge"),
      2L -> Seq("a", "a"))
    for (slop <- Seq(0, 1)) {
      val batched = idx.searchPhraseBatch(qs.toDF("query_id", "phrase"),
          k = 5, slop = slop)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val looped = qs.flatMap { case (qid, p) =>
        idx.searchPhrase(p, k = 5, slop = slop).collect()
          .map(r => (qid, r.getLong(0), r.getLong(1)))
      }.toSet
      assert(batched === looped, s"slop=$slop batch must equal the loop")
      assert(batched.nonEmpty)
    }
    intercept[IllegalArgumentException](
      idx.searchPhraseBatch(Seq((0L, Seq("solo"))).toDF("query_id", "phrase")))

    // per-query slop: a slop COLUMN mixes exact and proximity rows in
    // one batch, each row-identical to its own searchPhrase(slop)
    val mixed: Seq[(Long, Seq[String], Int)] = Seq(
      (0L, Seq("merge", "join"), 2),
      (1L, Seq("table", "hash", "merge"), 0),
      (2L, Seq("a", "a"), 1))
    val gotMixed = idx.searchPhraseBatch(mixed.toDF("query_id", "phrase", "slop"),
        k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wantMixed = mixed.flatMap { case (qid, p, sl) =>
      idx.searchPhrase(p, k = 5, slop = sl).collect()
        .map(r => (qid, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(gotMixed === wantMixed, "per-query slop must equal per-phrase probes")
    assert(gotMixed.nonEmpty)
    // the two slop knobs are mutually exclusive; negative/null per-row
    // slops refuse loudly
    intercept[IllegalArgumentException](idx.searchPhraseBatch(
      mixed.toDF("query_id", "phrase", "slop"), k = 5, slop = 1))
    intercept[IllegalArgumentException](idx.searchPhraseBatch(
      Seq((0L, Seq("merge", "join"), -1)).toDF("query_id", "phrase", "slop")))
  }

  test("searchBatch runs exactly ONE driver action before the probe plan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx15").toString
    val idx = new TermIndex(spark, dir, positional = false)
    idx.build(Tables.documents(spark, sf).select("doc_id", "text"))
    val qs: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("table", "hash"), 1L -> Seq("scan", "filter"))
    // warm the plan paths once
    idx.searchBatch(qs.toDF("query_id", "terms"), k = 5)
    // count query ACTIONS, not raw jobs: AQE legitimately splits one
    // collect into stage jobs and parquet reads fire footer jobs —
    // the serveStream contract is about scheduled ACTIONS per
    // micro-batch (was three: dup-check count + term collect +
    // caller isEmpty; now the one merged validate+collect)
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      idx.searchBatch(qs.toDF("query_id", "terms"), k = 5)
      // the listener bus is async; give queued events a beat, then a
      // grace poll so a straggling SECOND action cannot hide
      val deadline = System.nanoTime() + 5000000000L
      while (actions.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(actions.get() === 1,
        s"searchBatch must cost one merged validate+collect action pre-probe, " +
          s"ran ${actions.get()}")
    } finally spark.listenerManager.unregister(l)
  }

  test("compact writes postings in (term, doc_id) order within each file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tidx16").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Tables.documents(spark, sf).select("doc_id", "text"))
    idx.append(Seq((90001L, "table hash table"), (90002L, "hash merge"))
      .toDF("doc_id", "text"), "b1")
    val before = topMap(idx.search(Seq("table", "hash"), k = 10))
    idx.compact()
    assert(topMap(idx.search(Seq("table", "hash"), k = 10)) === before)
    // delta-friendly runs: every folded file is sorted by (term,
    // doc_id), so parquet pages see monotone id runs per term and
    // row-group stats stay tight on both probe columns
    val files = new java.io.File(s"$dir/post/batch=compact0")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val rows = spark.read.parquet(f.getAbsolutePath)
        .select("term", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"${f.getName}: rows must be (term, doc_id)-sorted")
    }
  }

  test("serveStream probes a query stream batch-for-batch like searchBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-tidx10").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Tables.documents(spark, sf).select("doc_id", "text"))
    val outDir = Files.createTempDirectory("graft-tidx10-out").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-tidx10-ck").toString
    val qs: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("table", "hash"), 1L -> Seq("scan", "filter"))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String])]
    val q = idx.serveStream(input.toDF().toDF("query_id", "terms"),
      k = 5, outDir, ckpt)
    try {
      input.addData(qs.head)
      q.processAllAvailable()
      input.addData(qs(1))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = idx.searchBatch(qs.toDF("query_id", "terms"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === direct,
      "streamed serving must equal the one-shot batched probe")
  }

  test("servePhraseStream probes a phrase stream batch-for-batch like searchPhraseBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-tidx17").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Tables.documents(spark, sf).select("doc_id", "text"))
    val outDir = Files.createTempDirectory("graft-tidx17-out").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-tidx17-ck").toString
    val qs: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("merge", "join"), 1L -> Seq("table", "hash"))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String])]
    val q = idx.servePhraseStream(input.toDF().toDF("query_id", "phrase"),
      k = 5, outDir, ckpt)
    try {
      input.addData(qs.head)
      q.processAllAvailable()
      input.addData(qs(1))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = idx.searchPhraseBatch(qs.toDF("query_id", "phrase"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === direct,
      "streamed phrase serving must equal the one-shot batched probe")
    assert(streamed.nonEmpty)
  }

  test("streaming curation keeps the served text index fresh per accepted batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def doc(id: Long, off: Long, text: String) =
      (id, new java.sql.Timestamp(base + off * 1000L), text)
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val dir = Files.createTempDirectory("graft-tidx9").toString
    val idx = new TermIndex(spark, dir)
    idx.build(Seq((1L, "alpha " + words("k", 15))).toDF("doc_id", "text"))
    val outDir = Files.createTempDirectory("graft-tidx9-out").toString + "/docs"
    val ckpt = Files.createTempDirectory("graft-tidx9-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingCuration.start(
      input.toDF().toDF("doc_id", "ts", "text"), outDir, ckpt,
      termIndex = Some(idx))
    try {
      input.addData(
        doc(100, 0, "alpha beta " + words("m", 15)),
        doc(101, 1, "gamma " + words("n", 15)))
      q.processAllAvailable()
      input.addData(doc(200, 2, "alpha alpha alpha " + words("p", 15)))
      q.processAllAvailable()
    } finally q.stop()
    // the index must serve build corpus + every accepted batch: same
    // ranking a one-shot scan of (base + accepted) would produce
    // tf=3 doc first; the tf=1 pair orders by BM25 length
    // normalization (dl 16 beats dl 17)
    val served = topMap(idx.search(Seq("alpha"), k = 10)).map(_._1)
    assert(served === Seq(200L, 1L, 100L),
      s"index must rank the streamed tf=3 doc first, got $served")
    assert(topMap(idx.search(Seq("gamma"), k = 1)).map(_._1) === Seq(101L))
  }

  test("text_top_terms: served derivation equals the one-shot tf-idf over raw text") {
    import org.apache.spark.sql.expressions.Window
    val out = SparkEntry.queries("text_top_terms")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // declarative one-shot: the index's own statistics recomputed from
    // the raw table — same tokenizer (space split, every token kept),
    // same idf shape, same (score desc, term asc) tiebreak
    val docs = Tables.documents(spark, sf)
    val n = docs.count().toDouble
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfT = words.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("s"), asc("word"))
    val expect = tf.join(dfT, "word")
      .withColumn("s",
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)) * col("tf"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 3)
      .groupBy("doc_id")
      .agg(concat_ws(" ", transform(
        sort_array(collect_list(struct(col("r"), col("word")))),
        x => x.getField("word"))).as("top_terms"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === docs.count())
    assert(out === expect)
  }

  test("analyzer: analyzed index == plain index over pre-normalized text, probes fold and drop") {
    import spark.implicits._
    val stops = graft.text.TermIndex.EnglishStopwords
    val anl = graft.text.TermIndex.Analyzer(lowercase = true, stopwords = stops)
    val docs = Seq(
      (1L, "The Table scan And the Hash merge table"),
      (2L, "a Hash join of the MERGE phase"),
      (3L, "stream window batch dedup"),
      (4L, "Table TABLE table the")).toDF("doc_id", "text")
    // ground truth: normalize the TEXT up front, index it plain
    val norm = udf((t: String) => t.split(" ")
      .map(_.toLowerCase(java.util.Locale.ROOT))
      .filterNot(stops.toSet).mkString(" "))
    val plainDir = Files.createTempDirectory("graft-anl-plain").toString
    val plain = new graft.text.TermIndex(spark, plainDir)
    plain.build(docs.select(col("doc_id"), norm(col("text")).as("text")))
    val anlDir = Files.createTempDirectory("graft-anl-idx").toString
    val idx = new graft.text.TermIndex(spark, anlDir, analyzer = Some(anl))
    idx.build(docs)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // BM25: raw mixed-case + stopword probe == plain search of the
    // pre-analyzed terms on the pre-normalized corpus, bit-identical
    // (same postings, same dl, same float association)
    assert(rows(idx.search(Seq("Table", "the", "MERGE"))) ===
      rows(plain.search(Seq("table", "merge"))))
    // post-fold duplicates collapse instead of double-counting
    assert(rows(idx.search(Seq("Table", "TABLE", "table"))) ===
      rows(plain.search(Seq("table"))))
    // every term analyzed away -> loud refusal, not an empty scan
    val ex = intercept[IllegalArgumentException](idx.search(Seq("the", "a")))
    assert(ex.getMessage.contains("analyzer"))
    // batch probe: in-plan normalization matches the loop; a query of
    // pure stopwords drops from the batch rather than scoring nothing
    val batch = Seq((0L, Seq("Table", "the", "MERGE")),
      (1L, Seq("the", "of")), (2L, Seq("STREAM", "dedup"))).toDF("query_id", "terms")
    val got = idx.searchBatch(batch, k = 5)
    assert(rows(got.filter(col("query_id") === 0L).drop("query_id")) ===
      rows(plain.search(Seq("table", "merge"), k = 5)))
    assert(got.filter(col("query_id") === 1L).isEmpty)
    assert(rows(got.filter(col("query_id") === 2L).drop("query_id")) ===
      rows(plain.search(Seq("stream", "dedup"), k = 5)))
    // phrase: stopword slots drop, positions number KEPT tokens — the
    // analyzed phrase matches across an elided stopword
    assert(rows(idx.searchPhrase(Seq("Hash", "join", "of", "the", "MERGE"))) ===
      rows(plain.searchPhrase(Seq("hash", "join", "merge"))))
    assert(idx.searchPhrase(Seq("Hash", "join", "of", "the", "MERGE"))
      .filter(col("doc_id") === 2L).head().getLong(1) === 1L)
    // BATCHED phrase probes analyze in-plan exactly like the single
    // verb (review regression: the batch path used to skip the
    // analyzer and silently match nothing on raw-cased terms)
    val phraseBatch = Seq(
      (0L, Seq("Hash", "join", "of", "the", "MERGE")),
      (1L, Seq("The", "Table", "scan"))).toDF("query_id", "phrase")
    val gotPh = idx.searchPhraseBatch(phraseBatch, k = 5)
    assert(rows(gotPh.filter(col("query_id") === 0L).drop("query_id")) ===
      rows(plain.searchPhrase(Seq("hash", "join", "merge"), k = 5)))
    assert(rows(gotPh.filter(col("query_id") === 1L).drop("query_id")) ===
      rows(plain.searchPhrase(Seq("table", "scan"), k = 5)))
    assert(gotPh.count() > 0, "analyzed batch phrases must match")
    // meta sum_dl counts ANALYZED tokens (BM25 stats match the tokens)
    val dl = idx.health().select("sum_dl").head().getLong(0)
    val dlPlain = plain.health().select("sum_dl").head().getLong(0)
    assert(dl === dlPlain)
  }

  test("analyzer: a pure-stopword phrase drops from the batch; raw-short still refuses") {
    import spark.implicits._
    val anl = graft.text.TermIndex.Analyzer(
      lowercase = true, stopwords = graft.text.TermIndex.EnglishStopwords)
    val docs = Seq(
      (1L, "hash join merge phase"),
      (2L, "stream window batch dedup")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-anl-stopphrase").toString
    val idx = new TermIndex(spark, dir, analyzer = Some(anl))
    idx.build(docs)
    // one innocuous all-stopword phrase ('of the' analyzes to 0
    // slots) must NOT abort the batch — it drops silently, mirroring
    // searchBatch's treatment, so a streamed tick survives user input
    val batch = Seq(
      (0L, Seq("of", "the")),
      (1L, Seq("hash", "join"))).toDF("query_id", "phrase")
    val got = idx.searchPhraseBatch(batch, k = 5)
    assert(got.filter(col("query_id") === 0L).isEmpty,
      "an analyzed-away phrase contributes no rows")
    assert(got.filter(col("query_id") === 1L).count() > 0,
      "the surviving phrase still serves")
    // a RAW phrase under 2 terms is a caller bug — loud refusal as ever
    val ex = intercept[IllegalArgumentException](idx.searchPhraseBatch(
      Seq((0L, Seq("hash"))).toDF("query_id", "phrase")))
    assert(ex.getMessage.contains(">= 2 terms"))
  }

  test("served indexes rebuild on an edit that keeps every count") {
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft-tidx-served").toString
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    def hits(): (Set[Long], Set[Long]) = {
      def ids(idx: TermIndex) = topMap(idx.search(Seq("alpha"), k = 10)).map(_._1).toSet
      (ids(graft.text.TextAnalysis.servedIdx(spark, dataDir, positional = false)),
        ids(graft.text.TextAnalysis.servedAnalyzedIdx(spark, dataDir)))
    }
    write(Seq("alpha beta", "gamma delta", "zeta alpha eta"))
    Served.invalidate()
    assert(hits() === ((Set(0L, 2L), Set(0L, 2L))))
    // docs 0 and 1 swap texts: row count, token count and analyzed
    // token count all hold, so only the (doc_id, text) hash sees it
    write(Seq("gamma delta", "alpha beta", "zeta alpha eta"))
    Served.invalidate()
    assert(hits() === ((Set(1L, 2L), Set(1L, 2L))),
      "a count-preserving edit must rebuild both served indexes")
  }
}
