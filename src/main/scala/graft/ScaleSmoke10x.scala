package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.vector.VectorStore

/** The 10× leg of [[ScaleSmoke]] (round-14 VERDICT ask 5): the fused
  * execs' 1M-vector legs are single-digit seconds everywhere, which
  * leaves partition-count cliffs, AQE-coalesce interaction with the
  * zipPartitions pair loop, and the probe-residency warning path
  * untested at volume. This main runs a 10M-vector corpus through a
  * REAL multi-file parquet store (128-file scan, not an in-memory
  * range): store build, the fused knn JOIN at two shuffle-partition
  * settings × AQE on/off (checksum-asserted identical), the salted
  * twin, the broadcast exec's exact ground-truth pass (evalRecall),
  * and the residency guard asserted to FIRE on a pathological
  * corpus-sized-probe shape and STAY SILENT on every sane leg.
  *
  * Run: `sbt "runMain graft.ScaleSmoke10x [nVec] [nQ]"` (defaults
  * 10M / 5k). Figures land in SURVEY §6.
  */
object ScaleSmoke10x {
  def main(args: Array[String]): Unit = {
    val nVec = args.headOption.map(_.toInt).getOrElse(10000000)
    val nQ = args.drop(1).headOption.map(_.toInt).getOrElse(5000)
    val spark = GraftSession.local(32, "graft-scale10x")
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale10x] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val dir = Files.createTempDirectory("graft-scale10x").toString
    // multi-file parquet corpus: 128 write tasks -> 128 files, so the
    // store build and every serving scan plan a real FileScan over
    // many splits (the 1M smoke's cached range hides that planning)
    timed(s"write $nVec x 64d corpus as 128-file parquet") {
      spark.range(0, nVec, 1, 128)
        .select(col("id"),
          array((0 until 64).map(i => rand(seed = 3000 + i) - 0.5): _*).as("vector"))
        .write.parquet(s"$dir/raw")
    }
    val vecs = Tables.resolved(spark, s"$dir/raw")

    val vs = new VectorStore(spark, s"$dir/store", numShards = 32)
    timed(s"ivf build ($nVec vectors, 32 shards, 2 iters)") {
      vs.build(vecs, iters = 2)
    }

    val step = math.max(nVec / nQ, 1)
    val queries = vecs.filter(col("id") % step === 0)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
      .localCheckpoint(true)
    val nq = queries.count()
    println(s"[scale10x] $nq probe queries")

    def checksum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum(col("id") + col("rank")), lit(0L)).cast("long"))
        .head().getLong(0)

    // --- fused knn JOIN: shuffle-partition cliff x AQE coalesce ------
    // the fused exec's pair loop runs inside the shard shuffle's
    // partitions; AQE coalescing shrinks the partition count after the
    // map side, concentrating probe replicas — results must be
    // identical and the residency guard silent in all four cells
    val warnsBefore = graft.plans.ShardTopKJoin.residencyWarnings.get()
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val cells = for (parts <- Seq(32, 256); aqe <- Seq(true, false)) yield {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val c = timed(s"fused knn JOIN $nq x $nVec k=10 nprobe=2 " +
          s"[shuffle.partitions=$parts aqe=$aqe]") {
        checksum(vs.searchJoin(queries, topK = 10, nprobe = 2))
      }
      (parts, aqe, c)
    }
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    require(cells.map(_._3).distinct.size == 1,
      s"fused join checksum must be partition/AQE-invariant, got $cells")
    println(s"[scale10x] 4-cell checksum identical: ${cells.head._3}")

    // --- salted twin at volume --------------------------------------
    val salted = timed(s"fused knn JOIN salted maxRowsPerTask=200000") {
      checksum(vs.searchJoin(queries, topK = 10, nprobe = 2,
        maxRowsPerTask = 200000L))
    }
    require(salted == cells.head._3,
      "salted fused join must reproduce the unsalted checksum")

    // --- broadcast exec at volume: the exact ground-truth pass -------
    timed(s"evalRecall 64 queries x $nVec (broadcast exec exact arm + curve)") {
      vs.evalRecall(nQueries = 64, topK = 10)
    }
    val p95 = vs.nprobeFor(0.95)
    println(s"[scale10x] measured nprobe@0.95 = $p95 of 32")

    require(graft.plans.ShardTopKJoin.residencyWarnings.get() == warnsBefore,
      "no sane leg may trip the probe-residency warning")

    // --- probe-residency warning: the pathological shape -------------
    // corpus-sized query frame (200k probes x nprobe 8 = 1.6M replicas)
    // squeezed into 2 shuffle partitions: ~800k resident probe states
    // per partition (~0.5 GB) — the guard must fire BEFORE an executor
    // OOM would. The corpus side is tiny (1k rows): the warning is
    // about probe-state residency, not pair volume.
    val patCorpus = spark.range(0, 1000, 1, 8)
      .select(col("id"), pmod(col("id"), lit(32)).as("shard"),
        array((0 until 64).map(i => rand(seed = 4000 + i) - 0.5): _*)
          .cast("array<double>").as("vec"))
    val patProbes = spark.range(0, 200000, 1, 32)
      .select(col("id").as("query_id"),
        explode(array((0 until 8).map(j => pmod(col("id") + j, lit(32))): _*))
          .as("shard"),
        array((0 until 64).map(i => rand(seed = 5000 + i) - 0.5): _*)
          .cast("array<double>").as("qv"))
    spark.conf.set("spark.sql.shuffle.partitions", 2)
    spark.conf.set("spark.sql.adaptive.enabled", false)
    timed("pathological fused join (1.6M probe replicas on 2 partitions)") {
      graft.plans.ShardTopKJoin.ranked(patCorpus, patProbes, k = 10,
          excludeSelf = false)
        .agg(count(lit(1))).head()
    }
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val fired = graft.plans.ShardTopKJoin.residencyWarnings.get() - warnsBefore
    require(fired > 0,
      "the pathological probe shape must trip the residency warning")
    println(s"[scale10x] residency warning fired $fired time(s) on the " +
      "pathological shape, 0 on sane legs — guard verified")

    // --- maintenance lifecycle at volume (round 15, VERDICT ask 5) ---
    // the 1M smoke proves these verbs correct; this measures the
    // REWRITE AMPLIFICATION an operator actually budgets at 10M rows:
    // each verb reports the shard directories it rewrote, and the wall
    // time is dominated by rewriting exactly those directories.
    val n0 = Tables.resolved(spark, s"$dir/store/vectors").count()
    val upBatch = spark.range(nVec - 100000, nVec + 50000, 1, 16)
      .select(col("id"),
        array((0 until 64).map(i => rand(seed = 6000 + i) - 0.5): _*).as("vector"))
    val upTouched = timed(s"upsert 150k (100k replace + 50k insert) into $nVec") {
      vs.upsert(upBatch)
    }
    println(s"[scale10x] upsert touched ${upTouched.length}/32 shards — a " +
      "randomly-routed 1.5% batch reaches every shard (IVF routing is " +
      "content-addressed); amplification is bounded by batch SPREAD, not size")
    val n1 = Tables.resolved(spark, s"$dir/store/vectors").count()
    require(n1 == n0 + 50000, s"upsert count drift: $n0 -> $n1")

    val delIds: Seq[Any] = (0 until 1000).map(i => (nVec + i).toLong)
    val delTouched = timed("delete 1k ids") { vs.delete(delIds) }
    println(s"[scale10x] delete touched ${delTouched.length}/32 shards")
    require(Tables.resolved(spark, s"$dir/store/vectors").count() == n1 - 1000,
      "delete count drift")

    val (rcTouched, rcMoved) = timed("refreshCentroids(sample 5%, 2 iters)") {
      vs.refreshCentroids(sampleFraction = 0.05, iters = 2)
    }
    println(s"[scale10x] refreshCentroids re-routed $rcMoved vectors across " +
      s"${rcTouched.length} shards")

    timed("maintain() — retrain + compact + drift baseline") {
      vs.maintain(sampleFraction = 0.05, iters = 2)
    }
    require(vs.driftBaseline().isDefined,
      "maintain must persist the calibrated drift baseline")

    // the calibrated gate: an immediate maintainAll tick must NOT
    // re-repair a just-maintained store (the oscillation the baseline
    // exists to stop) — and the decision itself is one health() scan
    val tick = timed("maintainAll tick on the just-maintained store") {
      Maintenance.maintainAll(store = Some(vs))
    }
    require(!tick.storeMaintained,
      s"a fresh maintain must gate the next tick's re-repair: $tick")

    // --- ServedPairs: the near-dup candidate artifact at volume ------
    // (round 15 VERDICT ask 7): nine dedup queries serve from this
    // artifact, so its COLD BUILD and staleness-rebuild are the costs
    // an operator actually budgets — measure them at 10M documents
    // next to the other maintained-state verbs. Corpus: 20-token docs
    // over a 2M-word synthetic vocabulary, with 1% planted near-dups
    // (every 100th doc repeats doc_id−50's text) so the capped shingle
    // self-join has real collisions to verify.
    val nDocs = nVec
    val srcId = when(pmod(col("id"), lit(100)) === 0 && col("id") >= 50,
      col("id") - 50).otherwise(col("id"))
    timed(s"write $nDocs-doc text corpus (1% planted dups)") {
      spark.range(0, nDocs, 1, 128)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 20).map(i =>
            concat(lit("w"), pmod(srcId * 37 + lit(i * 101), lit(2000000)))): _*)
            .as("text"))
        .write.parquet(s"$dir/docs")
    }
    val docs = Tables.resolved(spark, s"$dir/docs")
    val pairsDir = s"$dir/servedpairs"
    val nCand = timed(s"ServedPairs COLD build ($nDocs docs: stamp + " +
        "shingle/df-cap/self-join candidate write + publish)") {
      graft.dedup.ServedPairs.candidatesOf(spark, pairsDir, docs).count()
    }
    println(s"[scale10x] served candidate universe: $nCand rows")
    // the steady-state serve: memo hit, artifact scan only
    timed("ServedPairs serve (memoized fresh)") {
      graft.dedup.ServedPairs.candidatesOf(spark, pairsDir, docs).count()
    }
    // a NEW session (memo cleared) pays one stamp pass + stamp read
    Served.invalidate()
    timed("ServedPairs staleness CHECK (stamp pass, stamp fresh)") {
      graft.dedup.ServedPairs.candidatesOf(spark, pairsDir, docs).count()
    }
    // corpus moved: full rebuild (the refresh-not-refuse contract) —
    // this is the rewrite amplification: candidate generation is not
    // incremental, a moved stamp rebuilds the whole universe
    Served.invalidate()
    val docs2 = docs.unionByName(spark.range(1).select(
      lit(nDocs.toLong + 7L).as("doc_id"),
      lit("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10").as("text")))
    timed("ServedPairs STALENESS REBUILD (1-doc append moved the stamp)") {
      graft.dedup.ServedPairs.candidatesOf(spark, pairsDir, docs2).count()
    }

    println("[scale10x] OK")
    spark.stop()
  }
}
