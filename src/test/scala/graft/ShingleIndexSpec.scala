package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, ShingleIndex}

class ShingleIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  private def w(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("fresh index judge matches the one-shot incremental verdicts") {
    import spark.implicits._
    val corpus = Seq(
      (1L, w("a", 40)),
      (2L, w("b", 40)),
      (3L, "tiny doc here")).toDF("doc_id", "text")
    // 100: exact copy of 1; 101: near-dup of 2 (1 of 41 words differs,
    // J ~ 0.87); 102: fresh
    val batch = Seq(
      (100L, w("a", 40)),
      (101L, w("b", 40) + " delta"),
      (102L, w("c", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    val got = idx.judge(batch).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Dedup.incrementalVerdicts(corpus.unionByName(batch), col("doc_id") >= 100L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === want)
    assert(got === Map(100L -> "exact", 101L -> "near", 102L -> "keep"))
  }

  test("append makes later batches judged against accepted history, plan probes the index") {
    import spark.implicits._
    val corpus = Seq((1L, w("a", 40))).toDF("doc_id", "text")
    val batch1 = Seq((100L, w("x", 40))).toDF("doc_id", "text")
    // 200: exact copy of APPENDED 100; 201: near-dup of appended 100;
    // 202: fresh — none of them overlap the original corpus at all
    val batch2 = Seq(
      (200L, w("x", 40)),
      (201L, w("x", 40) + " delta"),
      (202L, w("y", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx2").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    assert(idx.judge(batch1).filter(col("verdict") === "keep").count() === 1L)
    idx.append(batch1, "b1")
    // at-least-once replay: re-running the same append overwrites its
    // own batch directory — df counts and postings must NOT double
    // (blind appends would inflate intersection counts past Jaccard 1)
    idx.append(batch1, "b1")
    // a REPLAYED batch re-judged with its own label excluded must get
    // its first-run verdicts back (all keep), not see itself as dup
    val replay = idx.judge(batch1, excludeLabel = Some("b1"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(replay === Map(100L -> "keep"),
      "self-exclusion must reproduce the pre-append verdicts on replay")
    assert(idx.judge(batch1).collect().head.getString(1) === "exact",
      "without exclusion the replayed batch sees its own indexed copy")
    val v2 = idx.judge(batch2).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2 === Map(200L -> "exact", 201L -> "near", 202L -> "keep"),
      "the gate must see batch1's accepted docs, not just the build-time corpus")

    // scale contract: judging explodes ONLY the batch text — corpus
    // inputs are parquet scans of the persisted index tables. The
    // batch here is an in-memory frame, so every FileScan in the plan
    // is an index probe; the plan must reference the index path and
    // its only Generate (explode) feeds off the batch's local rows.
    val (frame, caches) = idx.judgeFrame(batch2, 0.8)
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains(dir), "corpus side must be served from the persisted index")
    caches.foreach(_.unpersist())
  }

  test("compaction folds every per-batch directory without changing verdicts") {
    import spark.implicits._
    val corpus = Seq((1L, w("a", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx3").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    (0 until 3).foreach { i =>
      idx.append(Seq((10L + i, w(s"p$i", 40))).toDF("doc_id", "text"), s"b$i")
    }
    val batch = Seq((300L, w("p1", 40)), (301L, w("q", 40))).toDF("doc_id", "text")
    val before = idx.judge(batch).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val nBefore = idx.nDocs()
    idx.compact()
    // every table folded to ONE batch directory (the file-count point
    // of compaction), with counts and verdicts — exact AND banded —
    // preserved through the fold
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("dfc", "fp", "sh", "sizes", "bands", "meta").foreach { t =>
      val parts = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$t"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
      assert(parts.sameElements(Array("batch=compact0")),
        s"$t/ must fold to a single compact0 partition, got ${parts.mkString(",")}")
    }
    assert(idx.nDocs() === nBefore, "meta fold must preserve the corpus count")
    val after = idx.judge(batch).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === before)
    assert(after === Map(300L -> "exact", 301L -> "keep"))
    val banded = idx.judge(batch, bandCandidates = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(banded === before, "the folded bands table must serve banded judging")
  }

  test("compact(keepLabel) keeps replay exclusion working for the in-flight batch") {
    import spark.implicits._
    val corpus = Seq((1L, w("a", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx8").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    val inflight = Seq((50L, w("z", 40))).toDF("doc_id", "text")
    val preAppend = idx.judge(inflight).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    idx.append(inflight, "b9")
    // the latest batch may still be retried: fold everything EXCEPT it
    idx.compact(keepLabel = Some("b9"))
    // a replay that excludes its own label must reproduce the
    // pre-append verdicts — the exclusion b9's partitions survive for
    val replay = idx.judge(inflight, excludeLabel = Some("b9"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(replay === preAppend)
    assert(replay === Map(50L -> "keep"))
    // and the replayed append still rewrites consistent state
    idx.append(inflight, "b9")
    assert(idx.nDocs() === 2L)
    assert(idx.judge(inflight).collect().head.getString(1) === "exact")
  }

  test("corpus-size arithmetic reads the meta table, not fp row data") {
    import spark.implicits._
    val corpus = Seq((1L, w("a", 40)), (2L, w("b", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx5").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    idx.append(Seq((10L, w("c", 40))).toDF("doc_id", "text"), "b1")
    assert(idx.nDocs() === 3L)
    assert(idx.nDocs(Some("b1")) === 2L, "label exclusion must prune the meta row")
    // tamper ONLY the meta row: if nDocs still counted fp/ rows the
    // doctored value would be invisible — this pins the metadata-sized
    // fixed cost (one tiny row per batch) against regression to a scan
    spark.range(1).select(lit(999L).as("n_docs"), lit(0L).as("n_shingles"))
      .write.mode("overwrite").parquet(s"$dir/meta/batch=base")
    assert(idx.nDocs() === 1000L, "nDocs must be served from meta/, not an fp/ scan")
  }

  /** Total shuffle-write bytes across all tasks while `f` runs
    * ([[JobCount.during]]).
    */
  private def withShuffleBytes[T](f: => T): (T, Long) = {
    val (r, n) = JobCount.during(spark)(f)
    (r, n.shuffleBytes)
  }

  test("banded judge: identical verdicts, candidate shuffle below the shingle-join baseline") {
    import spark.implicits._
    // per-doc-distinct vocab: the only shared shingles are the planted
    // dups, so both paths verify the same pairs — the difference is
    // candidate-generation volume, not verdicts
    val corpus = (1 to 400).map(i => (i.toLong, w(s"c${i}x", 40))).toDF("doc_id", "text")
    val batch = Seq(
      (1000L, w("c7x", 40)),            // exact copy of doc 7
      (1001L, w("c9x", 40) + " zz"),    // near-dup of doc 9 (J ~ 0.87)
      (1002L, w("f", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx6").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    // model the regime banding exists for: batch shingles too big to
    // broadcast, so the baseline's s-join SHUFFLES the whole postings
    // table. The banded path's explicit broadcast hints (batch bands,
    // candidate ids) survive the disabled threshold — its corpus-side
    // tables stay map-side-scanned.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def verdicts(banded: Boolean): (Map[Long, String], Long) =
        withShuffleBytes {
          val v = idx.judge(batch, bandCandidates = banded)
          val m = v.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(v)
          m
        }
      val (exactV, exactBytes) = verdicts(banded = false)
      val (bandV, bandBytes) = verdicts(banded = true)
      assert(exactV === Map(1000L -> "exact", 1001L -> "near", 1002L -> "keep"))
      assert(bandV === exactV, "banded candidates must reproduce the verdicts")
      assert(bandBytes < exactBytes,
        s"banded candidate generation must shuffle less: banded=$bandBytes exact=$exactBytes")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("judge's shuffle bytes stay flat when the corpus doubles at a fixed batch") {
    import spark.implicits._
    // per-doc-distinct vocab: the batch shares shingles only with its
    // planted dups, so every batch-bounded input is the same at both
    // corpus sizes, and any corpus-sized shuffle (the whole df table
    // aggregated per call) would double
    val batch = Seq(
      (1000L, w("c7x", 40)),
      (1001L, w("c9x", 40) + " zz"),
      (1002L, w("f", 40))).toDF("doc_id", "text")
    def judged(n: Int): (Map[Long, String], Long) = {
      val idx = new ShingleIndex(spark, Files.createTempDirectory("graft-shidx-flat").toString)
      idx.build((1 to n).map(i => (i.toLong, w(s"c${i}x", 40))).toDF("doc_id", "text"))
      // warm: the measured call reads cached schemas and folds
      org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(idx.judge(batch))
      withShuffleBytes {
        val v = idx.judge(batch)
        val m = v.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(v)
        m
      }
    }
    val (small, bytesSmall) = judged(200)
    val (large, bytesLarge) = judged(400)
    assert(small === Map(1000L -> "exact", 1001L -> "near", 1002L -> "keep"))
    assert(large === small)
    assert(bytesLarge <= bytesSmall + bytesSmall / 10,
      s"judge shuffled $bytesSmall bytes at 200 docs and $bytesLarge at 400")
  }

  test("delete judges exactly as an index built without those docs, before and after compact") {
    import spark.implicits._
    val keep = Seq((1L, w("a", 40)), (2L, w("b", 40))).toDF("doc_id", "text")
    val doomed = Seq((8L, w("x", 40)), (9L, w("y", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shdel").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(keep.unionByName(doomed))
    val ref = new ShingleIndex(spark,
      Files.createTempDirectory("graft-shdel-ref").toString)
    ref.build(keep)
    // the probe: exact copy of a DELETED doc, near-dup of a deleted
    // doc, exact copy of a kept doc, fresh — a taken-down doc must
    // stop producing dup verdicts entirely
    val batch = Seq(
      (100L, w("x", 40)),
      (101L, w("y", 40) + " delta"),
      (102L, w("a", 40)),
      (103L, w("f", 40))).toDF("doc_id", "text")
    def verdicts(i: ShingleIndex, excl: Option[String] = None,
                 banded: Boolean = false): Map[Long, String] = {
      val v = i.judge(batch, excludeLabel = excl, bandCandidates = banded)
      val m = v.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(v)
      m
    }
    val preDelete = verdicts(idx)
    assert(preDelete === Map(100L -> "exact", 101L -> "near",
      102L -> "exact", 103L -> "keep"))

    assert(idx.delete(Seq(8L, 9L), "d1") === 2L)
    val want = verdicts(ref)
    assert(want === Map(100L -> "keep", 101L -> "keep",
      102L -> "exact", 103L -> "keep"))
    assert(verdicts(idx) === want,
      "post-delete judging must equal a never-indexed reference")
    assert(verdicts(idx, banded = true) === want,
      "the banded candidate path must honor tombstones too")
    assert(idx.nDocs() === 2L, "meta delta must rewind the corpus count")
    // idempotent replay + exclusion rewind
    assert(idx.delete(Seq(8L, 9L), "d1") === 2L)
    assert(verdicts(idx) === want)
    assert(verdicts(idx, excl = Some("d1")) === preDelete,
      "excluding the delete label must rewind the takedown")
    // a tombstoned id cannot be re-ingested until compact reclaims it
    intercept[IllegalArgumentException](
      idx.append(Seq((8L, w("z", 40))).toDF("doc_id", "text"), "b1"))
    // label uniqueness across mutation kinds: an append under a
    // delete's label would clobber the delete's df/meta deltas
    intercept[IllegalArgumentException](
      idx.append(Seq((60L, w("v", 40))).toDF("doc_id", "text"), "d1"))

    // health: base + d1 dirs, 2 net docs, 2 live tombstones
    val h1 = idx.health().collect().head
    assert(h1.getLong(0) === 2L && h1.getLong(1) === 2L && h1.getLong(3) === 2L,
      s"pre-compact health mismatch: $h1")

    idx.compact()
    val h2 = idx.health().collect().head
    assert(h2.getLong(0) === 1L && h2.getLong(3) === 0L,
      s"compact must fold dirs and clear tombstones, got $h2")
    assert(verdicts(idx) === want, "physical reclaim must not change verdicts")
    assert(idx.nDocs() === 2L)
    assert(spark.read.parquet(s"$dir/del").count() === 0L)
    assert(spark.read.parquet(s"$dir/sh")
      .filter(col("doc_id").isin(8L, 9L)).count() === 0L,
      "compact must physically drop the deleted docs' postings")
    assert(spark.read.parquet(s"$dir/dfc").filter(col("df") <= 0L).count() === 0L,
      "fully-deleted shingles must not survive the fold as df=0 rows")
    // the id is free again after reclaim
    idx.append(Seq((8L, w("z", 40))).toDF("doc_id", "text"), "b1")
    assert(idx.nDocs() === 3L)
    // ...and a delete under an append's label would clobber that
    // batch's meta counts
    intercept[IllegalArgumentException](idx.delete(Seq(8L), "b1"))
  }

  test("reclaim applies one delete physically and unblocks re-ingest of the corrected doc") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-shrecl").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(Seq((1L, w("a", 40)), (2L, w("b", 40))).toDF("doc_id", "text"))
    idx.append(Seq((8L, w("x", 40))).toDF("doc_id", "text"), "b1")
    idx.delete(Seq(8L), "d1")
    intercept[IllegalArgumentException](
      idx.append(Seq((8L, w("z", 40))).toDF("doc_id", "text"), "b2"))

    assert(idx.reclaim("d1") === 1L)
    // physical: doc 8's rows gone from every row-set table
    for (t <- Seq("fp", "sh", "sizes", "bands")) {
      val ids = spark.read.parquet(s"$dir/$t")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L), s"$t still holds reclaimed rows: $ids")
    }
    assert(idx.health().collect().head.getLong(3) === 0L, "no live tombstones")
    assert(idx.reclaim("d1") === 0L, "reclaim is idempotent")
    intercept[IllegalArgumentException](
      idx.append(Seq((60L, w("v", 40))).toDF("doc_id", "text"), "d1")) // label burned

    // takedown-then-reissue: the corrected doc ingests and judging
    // equals an index built from scratch over the surviving corpus
    idx.append(Seq((8L, w("z", 40))).toDF("doc_id", "text"), "b2")
    val ref = new ShingleIndex(spark,
      Files.createTempDirectory("graft-shrecl-ref").toString)
    ref.build(Seq((1L, w("a", 40)), (2L, w("b", 40)), (8L, w("z", 40)))
      .toDF("doc_id", "text"))
    val probe = Seq(
      (100L, w("z", 40)),          // exact copy of the CORRECTED doc
      (101L, w("x", 40)),          // copy of the taken-down ORIGINAL
      (102L, w("b", 40) + " q")).toDF("doc_id", "text")
    def verdicts(i: ShingleIndex): Map[Long, String] = {
      val v = i.judge(probe)
      val m = v.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(v)
      m
    }
    val want = verdicts(ref)
    assert(want === Map(100L -> "exact", 101L -> "keep", 102L -> "near"))
    assert(verdicts(idx) === want,
      "post-reissue judging must equal the from-scratch reference")
    assert(idx.nDocs() === 3L)
  }

  test("delete with texts reverses df exactly even for capped-out shingles") {
    import spark.implicits._
    def dfNet(dir: String): Map[String, Long] =
      spark.read.parquet(s"$dir/dfc").groupBy("s").agg(sum("df").as("df"))
        .filter(col("df") =!= 0L).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a phrase shared by 10 docs: with cap = max(2, ceil(0.1·n)) = 3
    // its shingles are capped OUT of those docs' postings at insert —
    // the regime where a postings-derived reversal must under-reverse
    val hot = (1 to 10).map(i => (i.toLong, "common shared phrase here " + w(s"u$i", 30)))
    val cold = (11 to 30).map(i => (i.toLong, w(s"v$i", 30)))
    def freshIdx(docs: Seq[(Long, String)], tag: String): (ShingleIndex, String) = {
      val d = Files.createTempDirectory(s"graft-shdel-$tag").toString
      val i = new ShingleIndex(spark, d, maxDfFraction = 0.1, dfCapFloor = 2)
      i.build(docs.toDF("doc_id", "text")); (i, d)
    }
    val (ref, refDir) = freshIdx(cold, "ref")
    // WITHOUT texts: the hot shingles' df contribution survives the
    // delete (documented one-sided bound) — prove the bound is real
    val (blind, blindDir) = freshIdx(hot ++ cold, "blind")
    blind.delete(hot.map(_._1), "d1")
    assert(dfNet(blindDir) !== dfNet(refDir),
      "postings-derived reversal cannot reverse capped-out shingles")
    // WITH texts: full re-shingle reversal — df table net-identical
    // to an index that never saw the docs
    val (exact, exactDir) = freshIdx(hot ++ cold, "exact")
    exact.delete(hot.map(_._1), "d1", texts = Some(hot.toDF("doc_id", "text")))
    assert(dfNet(exactDir) === dfNet(refDir),
      "text-supplied delete must reverse df exactly")
    // tampered text refused (fingerprint mismatch)
    val (tam, _) = freshIdx(hot ++ cold, "tam")
    intercept[IllegalArgumentException](
      tam.delete(Seq(1L), "d1",
        texts = Some(Seq((1L, "edited text entirely")).toDF("doc_id", "text"))))
  }

  test("recap re-applies the current df cap; verdicts move to the fresh-build values") {
    import spark.implicits._
    // A carries a unique 40-word body plus a 12-word phrase that will
    // go HOT later: its 10 inner trigrams end up in > capFloor docs.
    val hotTail = (1 to 12).map(i => s"h$i").mkString(" ")
    val corpus = Seq(
      (1L, w("u", 40) + " " + hotTail),
      (2L, w("b", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx-recap").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    // three 7-doc batches sharing the hot phrase: the first two insert
    // its trigrams UNDER the cap (df 8, then 15); the third crosses it
    // (df 22 > 20) and caps them out at insert — so the stale carriers
    // span base, hb1, and hb2 but not hb3
    def hotBatch(tag: Int): org.apache.spark.sql.DataFrame =
      (1 to 7).map(i => (300L + tag * 10 + i,
        (1 to 6).map(j => s"f$tag${i}x$j").mkString(" ") + " " + hotTail))
        .toDF("doc_id", "text")
    Seq(1, 2, 3).foreach(t => idx.append(hotBatch(t), s"hb$t"))
    // probe: a near-dup of A's unique body WITHOUT the hot tail.
    // Stale index: A's size row still counts the 10 hot trigrams, so
    // J = 38/50 = 0.76 < 0.8 -> 'keep' (the silently-missed near-dup)
    val probe = Seq((900L, w("u", 40))).toDF("doc_id", "text")
    assert(idx.judge(probe).collect().head.getString(1) === "keep",
      "pre-recap, the inflated denominator must suppress the match")
    // 10 hot trigrams x (A + 14 early hot docs) = 150 stale rows
    assert(idx.recap() === 150L)
    assert(idx.judge(probe).collect().head.getString(1) === "near",
      "post-recap J = 38/40 must clear the threshold")
    assert(idx.recap() === 0L, "recap is naturally idempotent")
    // fresh-build equivalence: an index built from scratch over the
    // same total corpus judges identically, and the banded candidate
    // path (bands/ re-derived from the recapped sets) agrees
    val freshDir = Files.createTempDirectory("graft-shidx-recap-f").toString
    val fresh = new ShingleIndex(spark, freshDir)
    fresh.build(corpus.unionByName(hotBatch(1)).unionByName(hotBatch(2))
      .unionByName(hotBatch(3)))
    val probes = probe.unionByName(
      Seq((901L, w("b", 40) + " tail"), (902L, w("z", 40))).toDF("doc_id", "text"))
    def vmap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = vmap(idx.judge(probes))
    assert(got === vmap(fresh.judge(probes)),
      "recapped index must judge like a from-scratch build")
    assert(got === vmap(idx.judge(probes, bandCandidates = true)),
      "banded candidates over re-derived bands must agree")
    // meta's n_shingles was corrected per batch: totals match fresh
    val nSh = idx.health().select("n_shingles").head().getLong(0)
    assert(nSh === fresh.health().select("n_shingles").head().getLong(0))
    // maintain() composes the signals: the hot shingles still sit
    // above the cap (recap can't lower raw df), but their postings are
    // already gone — so it reports them, recaps nothing, and folds the
    // 4-batch layout when asked
    val m = idx.maintain(maxBatches = 2)
    assert(m === graft.dedup.ShingleIndex.Maintenance(10L, 0L, compacted = true))
    assert(idx.health().select("n_batches").head().getLong(0) === 1L)
    assert(vmap(idx.judge(probes)) === got, "maintain must not change verdicts")
    assert(idx.maintain(maxBatches = 2) ===
      graft.dedup.ShingleIndex.Maintenance(10L, 0L, compacted = false),
      "a folded index inside the batch budget does not re-fold")
  }

  test("recap after a delete never double-counts the tombstoned doc's meta") {
    import spark.implicits._
    val hotTail = (1 to 12).map(i => s"h$i").mkString(" ")
    val corpus = Seq(
      (1L, w("u", 40) + " " + hotTail),
      (2L, w("b", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx-recapdel").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    def hotBatch(tag: Int): org.apache.spark.sql.DataFrame =
      (1 to 7).map(i => (300L + tag * 10 + i,
        (1 to 6).map(j => s"g$tag${i}x$j").mkString(" ") + " " + hotTail))
        .toDF("doc_id", "text")
    Seq(1, 2, 3).foreach(t => idx.append(hotBatch(t), s"hb$t"))
    // doc 1 carries 10 now-hot rows; tombstone it BEFORE the recap —
    // its whole contribution is already reversed by the delete delta
    assert(idx.delete(Seq(1L), "td") === 1L)
    assert(idx.recap() === 150L,
      "physical drop covers the tombstoned doc's hot rows too")
    // the invariant the meta correction must keep: n_shingles ==
    // live physical postings rows (tombstoned rows excluded from
    // both sides; the buggy double-count would undershoot by 10)
    val tomb = spark.read.parquet(s"$dir/del").select("doc_id")
    val liveRows = spark.read.parquet(s"$dir/sh")
      .join(tomb, Seq("doc_id"), "left_anti").count()
    assert(idx.health().select("n_shingles").head().getLong(0) === liveRows)
    // maintain()'s carrier probe: hot shingles remain (df never
    // drops) but no carriers — recap must NOT re-run its full pass
    val m = idx.maintain(maxBatches = 1000)
    assert(m.hotShingles === 10L && m.recappedRows === 0L && !m.compacted)
  }

  test("streaming gate over the maintained index blocks dups of earlier batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def doc(id: Long, off: Long, text: String) =
      (id, new java.sql.Timestamp(base + off * 1000L), text)
    val corpus = Seq((1L, w("k", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx4").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    val outDir = Files.createTempDirectory("graft-sig-out").toString + "/docs"
    val ckpt = Files.createTempDirectory("graft-sig-ck").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingCuration.start(
      input.toDF().toDF("doc_id", "ts", "text"), outDir, ckpt,
      corpusIndex = Some(idx))
    try {
      // batch 1: 100 dups the corpus -> gate drop; 101 fresh -> lands
      input.addData(doc(100, 0, w("k", 40)), doc(101, 1, w("m", 40)))
      q.processAllAvailable()
      // batch 2: 200 near-dups batch 1's ACCEPTED 101 -> the static
      // gate would pass it; the maintained index drops it. 201 fresh.
      input.addData(doc(200, 2, w("m", 40) + " delta"), doc(201, 3, w("n", 40)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect().sorted
      === Array(101L, 201L))
  }

  test("streaming gate with banded candidates blocks the same dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def doc(id: Long, off: Long, text: String) =
      (id, new java.sql.Timestamp(base + off * 1000L), text)
    val corpus = Seq((1L, w("k", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx7").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    val outDir = Files.createTempDirectory("graft-sig-out2").toString + "/docs"
    val ckpt = Files.createTempDirectory("graft-sig-ck2").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingCuration.start(
      input.toDF().toDF("doc_id", "ts", "text"), outDir, ckpt,
      corpusIndex = Some(idx), indexBandCandidates = true)
    try {
      input.addData(doc(100, 0, w("k", 40)), doc(101, 1, w("m", 40)))
      q.processAllAvailable()
      input.addData(doc(200, 2, w("m", 40) + " delta"), doc(201, 3, w("n", 40)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect().sorted
      === Array(101L, 201L),
      "the banded index gate must drop the corpus dup and the cross-batch near-dup")
  }

  test("resolved probe reproduces live verdicts across appends, replay, and folds") {
    import spark.implicits._
    val corpus = Seq(
      (1L, w("a", 40)),
      (2L, w("b", 40)),
      (9L, w("z", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shprobe").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    // base must respect tombstones standing at resolve time
    assert(idx.delete(Seq(9L), "td1") === 1L)
    def vmapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def live(b: org.apache.spark.sql.DataFrame, l: String) =
      vmapOf(idx.judge(b, excludeLabel = Some(l)))
    val probe = idx.resolveProbe(foldEvery = 2)
    // 100 exact of corpus 1, 101 near of 2, 102 copy of DELETED 9
    // (must be keep), 103 fresh
    val batch1 = Seq(
      (100L, w("a", 40)),
      (101L, w("b", 40) + " delta"),
      (102L, w("z", 40)),
      (103L, w("c", 40))).toDF("doc_id", "text")
    val p1 = vmapOf(probe.judge(batch1, "b1"))
    assert(p1 === live(batch1, "b1"))
    assert(p1(102L) === "keep", "resolved base must honor the standing tombstone")
    idx.append(batch1.filter(col("doc_id") >= 102L), "b1")
    probe.register("b1")
    // 200 exact of b1's accepted 103, 201 near of it, 202 fresh —
    // proves the registered delta is visible
    val batch2 = Seq(
      (200L, w("c", 40)),
      (201L, w("c", 40) + " delta"),
      (202L, w("d", 40))).toDF("doc_id", "text")
    val p2 = vmapOf(probe.judge(batch2, "b2"))
    assert(p2 === live(batch2, "b2"))
    assert(p2 === Map(200L -> "exact", 201L -> "near", 202L -> "keep"))
    idx.append(Seq((202L, w("d", 40))).toDF("doc_id", "text"), "b2")
    probe.register("b2")
    // replay of the LATEST label after its own register: self-excluded
    assert(vmapOf(probe.judge(batch2, "b2")) === live(batch2, "b2"))
    val batch3 = Seq((300L, w("e", 40))).toDF("doc_id", "text")
    assert(vmapOf(probe.judge(batch3, "b3")) === live(batch3, "b3"))
    idx.append(batch3, "b3")
    probe.register("b3") // 3 deltas > foldEvery=2: b1+b2 fold, b3 stays
    // post-fold visibility: 400 exact of b2's 202, 401 near of b3's
    // 300, 402 fresh
    val batch4 = Seq(
      (400L, w("d", 40)),
      (401L, w("e", 40) + " delta"),
      (402L, w("f", 40))).toDF("doc_id", "text")
    val p4 = vmapOf(probe.judge(batch4, "b4"))
    assert(p4 === live(batch4, "b4"))
    assert(p4 === Map(400L -> "exact", 401L -> "near", 402L -> "keep"))
    // the latest label stays replayable after the fold; older labels
    // folded away refuse loudly instead of judging wrong
    assert(vmapOf(probe.judge(batch3, "b3")) === live(batch3, "b3"))
    intercept[IllegalArgumentException](probe.judge(batch1, "b1"))
    probe.release()
    // a FRESH probe resolves lazily at its first judge with that
    // label excluded — the post-restart replay path
    val probe2 = idx.resolveProbe()
    assert(vmapOf(probe2.judge(batch3, "b3")) === live(batch3, "b3"),
      "lazy base resolution must exclude the replayed first label")
    probe2.release()
  }

  test("probe refresh rides a maintenance window; a stale probe fails loudly") {
    import spark.implicits._
    val corpus = Seq((1L, w("a", 40)), (2L, w("b", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shprobe-rf").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    def vmapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val probe = idx.resolveProbe()
    val batch1 = Seq((100L, w("c", 40))).toDF("doc_id", "text")
    assert(vmapOf(probe.judge(batch1, "b1")) === Map(100L -> "keep"))
    idx.append(batch1, "b1")
    probe.register("b1")
    // the maintenance window: fold everything (b1 included) into base
    idx.compact()
    // WITHOUT refresh the probe is stale by contract — its frozen
    // listings reference the folded-away batch dirs and fail loudly
    // rather than serving wrong verdicts
    val batch2 = Seq(
      (200L, w("c", 40)),
      (201L, w("d", 40))).toDF("doc_id", "text")
    assert(scala.util.Try(probe.judge(batch2, "b2x")).isFailure,
      "a stale probe must fail loudly after maintenance moved its files")
    // refresh → verdicts equal a FRESH probe's (and the live judge's):
    // the folded b1 batch is visible through the re-resolved base
    probe.refresh()
    val got = vmapOf(probe.judge(batch2, "b2"))
    assert(got === vmapOf(idx.judge(batch2, excludeLabel = Some("b2"))),
      "a refreshed probe must equal the live judge")
    assert(got === Map(200L -> "exact", 201L -> "keep"),
      "the maintenance-folded batch must be visible post-refresh")
    // the refreshed probe keeps working as a normal probe: register
    // the next accepted batch, judge against it
    idx.append(batch2.filter(col("doc_id") === 201L), "b2")
    probe.register("b2")
    val batch3 = Seq((300L, w("d", 40) + " delta")).toDF("doc_id", "text")
    assert(vmapOf(probe.judge(batch3, "b3")) === Map(300L -> "near"),
      "post-refresh deltas must serve like any probe delta")
    probe.release()
  }

  test("resolved probe parity in the banded regime") {
    import spark.implicits._
    val corpus = Seq((1L, w("a", 40)), (2L, w("b", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shprobe-band").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    def vmapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val probe = idx.resolveProbe(bandCandidates = true)
    val batch1 = Seq(
      (100L, w("a", 40)),
      (101L, w("b", 40) + " delta"),
      (102L, w("c", 40))).toDF("doc_id", "text")
    assert(vmapOf(probe.judge(batch1, "b1")) ===
      vmapOf(idx.judge(batch1, excludeLabel = Some("b1"), bandCandidates = true)))
    idx.append(Seq((102L, w("c", 40))).toDF("doc_id", "text"), "b1")
    probe.register("b1")
    val batch2 = Seq(
      (200L, w("c", 40) + " delta"),
      (201L, w("d", 40))).toDF("doc_id", "text")
    val p2 = vmapOf(probe.judge(batch2, "b2"))
    assert(p2 === vmapOf(
      idx.judge(batch2, excludeLabel = Some("b2"), bandCandidates = true)))
    assert(p2 === Map(200L -> "near", 201L -> "keep"),
      "the banded probe must surface the cross-batch near-dup through the delta's bands")
    probe.release()
  }

  test("streaming gate with a resolved probe blocks the same dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def doc(id: Long, off: Long, text: String) =
      (id, new java.sql.Timestamp(base + off * 1000L), text)
    val corpus = Seq((1L, w("k", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx8").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    val outDir = Files.createTempDirectory("graft-sig-out3").toString + "/docs"
    val ckpt = Files.createTempDirectory("graft-sig-ck3").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingCuration.start(
      input.toDF().toDF("doc_id", "ts", "text"), outDir, ckpt,
      corpusIndex = Some(idx), indexResolvedProbe = true)
    try {
      input.addData(doc(100, 0, w("k", 40)), doc(101, 1, w("m", 40)))
      q.processAllAvailable()
      input.addData(doc(200, 2, w("m", 40) + " delta"), doc(201, 3, w("n", 40)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect().sorted
      === Array(101L, 201L),
      "the resolved-probe gate must drop the corpus dup and the cross-batch near-dup")
  }

  test("banding lifecycle: measured curve persists with stamps, reband serves lower thresholds") {
    import spark.implicits._
    // (1,5): J ~ 0.9 — the high-threshold pair; (3,4): J ~ 0.75 — a
    // moderate pair only a wide banding can serve at threshold 0.5
    val corpus = Seq(
      (1L, w("a", 40)),
      (2L, w("b", 40)),
      (3L, w("m", 20) + " z1 z2 z3"),
      (4L, w("m", 20) + " y1 y2 y3"),
      (5L, w("a", 40) + " delta")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx-band").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    assert(idx.currentBanding() === 16)

    // measure + persist + pick at the published threshold
    val curve = idx.measureBanding(threshold = 0.8)
    assert(curve.count() === 4)
    val (b0, r0) = idx.bandingFor(0.8, target = 0.95)
    assert(b0 * r0 === 128)
    assert(curve.filter(col("bands") === b0)
      .select("recall_x1e4").head().getLong(0) >= 9500L,
      "the pick must meet the target on the measured column")

    // no curve measured for another threshold → loud refusal
    intercept[IllegalArgumentException](idx.bandingFor(0.5))

    // corpus moved → stale refusal; re-measure heals
    idx.append(Seq((100L, w("q", 40))).toDF("doc_id", "text"), "bb1")
    intercept[IllegalStateException](idx.bandingFor(0.8))
    idx.measureBanding(threshold = 0.8)
    idx.bandingFor(0.8)

    // threshold 0.5 on the default 16x8: the banded judge refuses
    val probe = Seq((500L, w("m", 20) + " v1 v2 v3")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      idx.judge(probe, threshold = 0.5, bandCandidates = true))

    // measure at 0.5, pick (servable ⇒ wider than 16), reband, serve
    idx.measureBanding(threshold = 0.5)
    val (b1, _) = idx.bandingFor(0.5, target = 0.9)
    assert(b1 > 16, s"servable bandings at 0.5 are 32/64, got $b1")
    assert(idx.reband(b1) === 2L, "base + bb1 batch partitions rewritten")
    assert(idx.currentBanding() === b1)
    val v = idx.judge(probe, threshold = 0.5, bandCandidates = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v === Map(500L -> "near"),
      "the rebanded index must surface the moderate-similarity match")

    // high-threshold banded verdicts are unchanged by the reband
    val nearBatch = Seq((600L, w("a", 40) + " gamma")).toDF("doc_id", "text")
    assert(idx.judge(nearBatch, bandCandidates = true)
      .head().getString(1) === "near")

    // appends after reband write band keys at the new banding
    idx.append(probe, "bb2")
    assert(spark.read.parquet(s"$dir/bands/batch=bb2")
      .select(countDistinct(col("band"))).head().getLong(0) === b1.toLong)

    // reband is idempotent: a re-run rewrites the same keys
    val before = spark.read.parquet(s"$dir/bands").orderBy("doc_id", "band")
      .collect().map(_.toSeq)
    idx.reband(b1)
    val after = spark.read.parquet(s"$dir/bands").orderBy("doc_id", "band")
      .collect().map(_.toSeq)
    assert(before.toSeq === after.toSeq)

    // a REBUILD resets banding to the default and drops the curve
    idx.build(corpus)
    assert(idx.currentBanding() === 16)
    intercept[IllegalArgumentException](idx.bandingFor(0.8))
  }

  test("banding config crash windows: derive from bands/, heal a crashed swap") {
    import spark.implicits._
    val corpus = Seq(
      (1L, w("a", 40)), (2L, w("b", 40)), (3L, w("c", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx-cfgcrash").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    idx.measureBanding(threshold = 0.5)
    val (b1, _) = idx.bandingFor(0.5, target = 0.9)
    assert(b1 > 16)
    idx.reband(b1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cfg = new org.apache.hadoop.fs.Path(s"$dir/bandingcfg")

    // config directory lost entirely: the banding re-derives from the
    // bands/ table (max band + 1), NOT the default 16 — probe keys
    // keep matching the rebanded table
    assert(fs.delete(cfg, true))
    assert(idx.currentBanding() === b1)

    // config present but unreadable (only _temporary debris left by a
    // crashed plain overwrite): same derivation instead of a throw
    assert(fs.delete(cfg, true) || !fs.exists(cfg))
    fs.mkdirs(new org.apache.hadoop.fs.Path(cfg, "_temporary"))
    assert(idx.currentBanding() === b1)
    assert(fs.delete(cfg, true))

    // crashed swap (live renamed out, tmp not yet renamed in): the
    // hidden tmp holds the complete fresh config — the next read
    // finishes the swap and serves the new value
    val tmp = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), "_bandingcfg__swap_tmp")
    Seq(64).toDF("bands").write.parquet(tmp.toString)
    assert(idx.currentBanding() === 64)
    assert(fs.exists(cfg) && !fs.exists(tmp),
      "recovery must rename the tmp in, leaving a clean live config")

    // PARTIAL tmp with live missing (a first-ever swap crashed
    // mid-write — no _SUCCESS marker): recovery must NOT promote the
    // debris; the banding re-derives from bands/ (review regression)
    assert(fs.delete(cfg, true))
    fs.mkdirs(tmp)
    fs.create(new org.apache.hadoop.fs.Path(tmp, "part-00000.parquet")).close()
    assert(idx.currentBanding() === b1,
      "a partial tmp must not be promoted to live config")
    assert(!fs.exists(tmp), "partial tmp debris is dropped")
    assert(!fs.exists(cfg), "no live config is invented from debris")

    // and with a healthy config, the config wins over derivation
    idx.reband(b1)
    assert(idx.currentBanding() === b1)
  }

  test("derivedBanding keys off the most recently written batch, not a global max") {
    import spark.implicits._
    // the double-failure scenario: a DOWNWARD reband's per-batch heal
    // crashed partway AND the config is lost. Stale batches still hold
    // the old wider banding, so a max(band)+1 over ALL batches would
    // return the OLD value and probes would key against batches
    // already rewritten to the new one — the newest write is the
    // banding the reband was converging the table to.
    val corpus = Seq(
      (1L, w("a", 40)), (2L, w("b", 40)), (3L, w("c", 40))).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shidx-derive").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    idx.append(Seq((10L, w("d", 40)), (11L, w("e", 40))).toDF("doc_id", "text"), "b2")
    idx.measureBanding(threshold = 0.5)
    val (b1, _) = idx.bandingFor(0.5, target = 0.9)
    assert(b1 > 16)
    idx.reband(b1) // both batches now at b1
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the incomplete 'reband down to 16': ONE batch rewritten
    // (becomes the newest write), the other left at b1, config lost
    val b2dir = s"$dir/bands/batch=b2"
    val rewritten = spark.read.parquet(b2dir)
      .withColumn("band", col("band") % 16)
      .localCheckpoint(true)
    Thread.sleep(20) // ensure a strictly newer mtime than batch=base
    rewritten.write.mode("overwrite").parquet(b2dir)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/bandingcfg"), true))
    assert(idx.currentBanding() === 16,
      s"must derive from the newest batch (16), not the stale global max ($b1)")
  }
}
