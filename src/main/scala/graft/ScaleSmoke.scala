package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions._
import graft.vector.VectorStore

/** Scale smoke: deterministic synthetic data 100-250x the sf0.1 test
  * corpus, exercising the operators whose cost curves matter at
  * 100 TB — IVF build/search (partition-pruned vs full scan) and
  * MinHash dedup. Prints one timing line per step. Artifacts live in
  * /tmp; the driver test corpus is untouched.
  *
  * Usage: runMain graft.ScaleSmoke [nVectors] [nDocs]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nVec = args.headOption.map(_.toInt).getOrElse(1000000)
    val nDoc = args.drop(1).headOption.map(_.toInt).getOrElse(50000)
    val spark = GraftSession.local(32, "graft-scale")
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // deterministic synthetic vectors: 64 dims of seeded rand
    val vecs = spark.range(0, nVec, 1, 64)
      .select(col("id"), array((0 until 64).map(i => rand(seed = 1000 + i) - 0.5): _*).as("vector"))
      .cache()
    vecs.count()

    val dir = Files.createTempDirectory("graft-scale").toString
    val vs = new VectorStore(spark, dir, numShards = 16)
    timed(s"ivf build ($nVec vectors, 16 shards, 3 iters)") { vs.build(vecs, iters = 3) }

    val q = vecs.filter(col("id") === 12345)
      .select(col("vector")).head().getSeq[Double](0).toArray
    val full = timed("search nprobe=16 (full scan)") {
      vs.search(q, topK = 10, nprobe = 16).collect()
    }
    val pruned = timed("search nprobe=2 (pruned)") {
      vs.search(q, topK = 10, nprobe = 2).collect()
    }
    println(s"[scale] self-match ok: ${full.head.getLong(0) == 12345L && pruned.head.getLong(0) == 12345L}")

    val brute = timed("brute-force knn (no index)") {
      vecs.withColumn("s", cosineSim(col("vector"), typedlit(q.toSeq)))
        .orderBy(desc("s"), col("id").asc).limit(10).collect()
    }
    println(s"[scale] brute agrees with full-probe: ${brute.map(_.getLong(0)).sameElements(full.map(_.getLong(0)))}")

    // product quantization at volume: 16x16 codebooks turn a 512-byte
    // double vector into 16 4-bit codes; the ADC scan reads codes only.
    // codebooks train on a 10% sample (textbook PQ practice; the
    // reference trains KMeans on a 10% head-slice too, test.py:42)
    val pqModel = timed("pq train (16 subspaces x 16 codes, 3 iters, 10% sample)") {
      graft.vector.ProductQuantizer.train(vecs.filter(col("id") % 10 === 0),
        idCol = "id", vecCol = "vector", numSubspaces = 16)
    }
    val enc = timed(s"pq encode $nVec vectors") {
      val e = graft.vector.ProductQuantizer.encode(vecs, pqModel, vecCol = "vector")
        .select(col("id"), col("pq_codes")).cache()
      e.count(); e
    }
    val pqTop = timed("pq ADC shortlist-200 + exact rerank top-10") {
      graft.vector.ProductQuantizer.searchRerank(enc, vecs, q, pqModel,
        topK = 10, shortlist = 200, idCol = "id", vecCol = "vector").collect()
    }
    val bruteL2 = timed("brute-force L2 knn (uncompressed, for recall)") {
      vecs.withColumn("d", l2Dist(col("vector"), typedlit(q.toSeq)))
        .orderBy(asc("d"), col("id").asc).limit(10).collect()
    }
    val overlap = pqTop.map(_.getLong(0)).toSet
      .intersect(bruteL2.map(_.getLong(0)).toSet).size
    println(s"[scale] pq rerank top-10 recall vs exact L2 top-10: $overlap/10 " +
      "(4-bit sketch over uniform random vectors — the hardest case for PQ)")
    enc.unpersist()

    // IVF + PQ COMPOSED — the 100 TB serving shape: route to nprobe
    // shards (partition pruning), ADC-scan only (id, pq_codes, vnorm)
    // within them (column pruning keeps raw vectors on disk), then
    // exact-rerank a shortlist fetched by pushed-down id filter.
    // Contrast line: the same probed shards scanned with raw vectors.
    val dirPq = Files.createTempDirectory("graft-scale-ivfpq").toString
    val vsPq = new VectorStore(spark, dirPq, numShards = 16)
    timed(s"ivf+pq build ($nVec vectors, 16 shards, 16x16 codes, 10% train)") {
      vsPq.build(vecs, iters = 3, pqSubspaces = 16, pqTrainFraction = 0.1)
    }
    val rawProbe = timed("ivf search nprobe=2 scanning raw vectors") {
      vsPq.search(q, topK = 10, nprobe = 2).collect()
    }
    val compProbe = timed("ivf+pq search nprobe=2 (ADC code scan + rerank-2000)") {
      vsPq.search(q, topK = 10, nprobe = 2, compressed = true, shortlist = 2000).collect()
    }
    val pqOverlap = compProbe.map(_.getLong(0)).toSet
      .intersect(rawProbe.map(_.getLong(0)).toSet).size
    println(s"[scale] ivf+pq top-10 overlap with raw-vector search: $pqOverlap/10 " +
      "(4-bit sketch, uniform random vectors — the hardest case)")
    // apples-to-apples WITHIN the probed shards: the compressed scan
    // (reads 16 int codes + norm per row) vs the raw scan (reads the
    // 64-double vector and runs the cosine kernel). This per-row byte
    // ratio is what turns IO-bound at 100 TB; the rerank's cost rides
    // on id-pushdown row-group pruning over the id-sorted layout.
    val model2 = vsPq.pqModel().get
    val probe2 = graft.vector.Centroids.nearestShardsOf(q, vsPq.centroids(), 2).map(_.toLong)
    val probedScan = Tables.resolved(spark, s"$dirPq/vectors")
      .filter(col("shard").isin(probe2: _*))
    val qn = math.sqrt(q.map(x => x * x).sum)
    // the store is residual-coded (the default), so the approximate
    // dot is <q, c_shard> + ADC over residual codes — the same score
    // search()'s shortlist phase computes; ADC alone would rank on
    // <q, residual> and time a sort over a meaningless key
    val shardOffs = vsPq.centroids().sortBy(_._1)
      .map { case (_, c) => c.zip(q).map { case (a, b) => a * b }.sum }.toSeq
    timed("  probed-shard scan, ADC codes only (top-2000)") {
      probedScan.withColumn("approx",
        (element_at(typedlit(shardOffs), col("shard").cast("int") + 1) +
          graft.vector.ProductQuantizer.adcDot(col("pq_codes"), q, model2)) / (col("vnorm") * qn))
        .orderBy(desc("approx"), col("id").asc).limit(2000).select("id").collect()
    }
    timed("  probed-shard scan, raw vectors + cosine (top-10)") {
      probedScan.withColumn("s", cosineSim(col("vector"), typedlit(q.toSeq)))
        .orderBy(desc("s"), col("id").asc).limit(10).collect()
    }

    // OPQ-rotated IVF+PQ — the same serving shape with codes in rotated
    // space (rotation + allocation trained on the 10% sample alongside
    // the codebooks). On uniform random vectors the rotation cannot
    // HELP (nothing to decorrelate); the check is recall PARITY with
    // the unrotated store — the composition must cost nothing where it
    // has nothing to gain, and the spec-measured win on correlated data
    // (OpqSpec) then comes free at serving time.
    val dirOpq = Files.createTempDirectory("graft-scale-opq").toString
    val vsOpq = new VectorStore(spark, dirOpq, numShards = 16)
    timed(s"ivf+opq build ($nVec vectors, rotation + 16x16 codes, 10% train)") {
      vsOpq.build(vecs, iters = 3, pqSubspaces = 16, pqTrainFraction = 0.1,
        opqRotate = true)
    }
    val opqComp = timed("ivf+opq search nprobe=2 (rotated ADC scan + rerank-2000)") {
      vsOpq.search(q, topK = 10, nprobe = 2, compressed = true, shortlist = 2000).collect()
    }
    val opqRaw = vsOpq.search(q, topK = 10, nprobe = 2).collect()
    val opqOverlap = opqComp.map(_.getLong(0)).toSet
      .intersect(opqRaw.map(_.getLong(0)).toSet).size
    println(s"[scale] ivf+opq top-10 overlap with raw-vector search: $opqOverlap/10 " +
      s"(parity check vs unrotated ivf+pq above: $pqOverlap/10)")

    // per-shard codebooks at volume: same IVF+PQ serving shape, one
    // book per inverted list (16 books; training is still one job per
    // Lloyd iteration, keyed by (shard, m))
    val dirPs = Files.createTempDirectory("graft-scale-psq").toString
    val vsPs = new VectorStore(spark, dirPs, numShards = 16)
    timed(s"ivf+pq build, PER-SHARD books ($nVec vectors, 16x(16x16) codes, 10% train)") {
      vsPs.build(vecs, iters = 3, pqSubspaces = 16, pqTrainFraction = 0.1,
        pqPerShard = true)
    }
    val psComp = timed("ivf+pq(per-shard) search nprobe=2 (ADC code scan + rerank-2000)") {
      vsPs.search(q, topK = 10, nprobe = 2, compressed = true, shortlist = 2000).collect()
    }
    val psRaw = vsPs.search(q, topK = 10, nprobe = 2).collect()
    val psOverlap = psComp.map(_.getLong(0)).toSet
      .intersect(psRaw.map(_.getLong(0)).toSet).size
    println(s"[scale] per-shard-book top-10 overlap with raw-vector search: $psOverlap/10")

    // knn JOIN at volume — every query routed to its nprobe=2 shards,
    // scored through a shard EQUI-JOIN with a bounded-heap top-3
    // (Serving.knnJoinIvf's plan). Queries are a 5k sample so the local
    // run is candidate-volume-bounded, but broadcast is disabled for
    // this step to pin the 100 TB plan: there BOTH sides are
    // corpus-sized, so the join must shuffle on the shard key — a plan
    // that only works because the small side got broadcast would lie
    // about scale.
    val nQ = 5000
    val knnQueries = vecs.filter(col("id") % (nVec / nQ) === 0)
      .select(col("id").as("query_id"), col("vector").as("qv"))
      .withColumn("shard", explode(graft.vector.Centroids.nearestShards(
        col("qv"), vsPq.centroids().toSeq, nprobe = 2)))
    val corpusS = Tables.resolved(spark, s"$dirPq/vectors")
      .select(col("shard").cast("long").as("shard"), col("id"), col("vector"))
    val balance = corpusS.groupBy("shard").count()
      .agg(min("count"), max("count")).head()
    println(s"[scale] shard population min=${balance.getLong(0)} max=${balance.getLong(1)} " +
      "(uniform corpus; the planted-skew section below exercises the within-shard salt)")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val knnJoin = corpusS.join(knnQueries, Seq("shard"))
        .filter(col("id") =!= col("query_id"))
        .withColumn("s", cosineSim(col("vector"), col("qv")))
        .groupBy("query_id")
        .agg(graft.expressions.TopKAgg.topK(col("s"), col("id"), 3).as("tops"))
      val plan = knnJoin.queryExecution.executedPlan.toString
      // hard assert, not a printed hint: a regression that reintroduces
      // a broadcast JOIN (hash or nested-loop) of either side
      // invalidates the 100 TB shape the smoke exists to pin. A bare
      // "Broadcast" match is too wide — dynamic partition pruning's
      // SubqueryBroadcast node (the shard-pruning machinery, which we
      // WANT) contains the substring too.
      require(!plan.contains("BroadcastHashJoin") &&
          !plan.contains("BroadcastNestedLoopJoin"),
        s"knn-join plan must be broadcast-free with broadcast disabled:\n$plan")
      println("[scale] knn-join plan broadcast-free: true (asserted)")
      // force the HEAPS, not the row count: .count() on a
      // groupBy().agg(topK) lets column pruning delete the aggregate
      // function and the cosine project feeding it — rounds 9-11
      // reported ~4 s for this leg, which was the join skeleton with
      // zero scoring. sum(size(tops)) makes the aggregate's output a
      // required column, so the timed plan is the served plan.
      val nOut = timed(s"knn JOIN ($nQ queries x $nVec corpus, nprobe=2, shard equi-join, heap top-3) [declarative round-12 plan]") {
        knnJoin.select(count(col("query_id")), sum(size(col("tops")))).head()
      }
      println(s"[scale] knn join produced ${nOut.getLong(0)} query rows, " +
        s"${nOut.getLong(1)} result pairs (heap output forced)")

      // FUSED exec (graft.plans.ShardTopKJoinExec, round 13): same
      // shard-key shuffle on both sides — EnsureRequirements plans the
      // exchanges, broadcast still disabled and asserted — but the
      // cosine + bounded heap run inside the join's partition loop,
      // so the ~3·10^8 candidate pairs never materialize as rows and
      // never walk ObjectHashAggregate's per-pair hash lookup. The
      // partials the exec emits are <= 3 rows per (probe, partition);
      // the final TopKAgg merge aggregates thousands of rows.
      val corpusF = corpusS.select(col("id").cast("long").as("id"),
        col("shard"), col("vector").cast("array<double>").as("vec"))
      val probesF = knnQueries.select(col("query_id").cast("long").as("query_id"),
        col("shard").cast("long").as("shard"),
        col("qv").cast("array<double>").as("qv"))
      val fused = graft.plans.ShardTopKJoin
        .ranked(corpusF, probesF, k = 3, excludeSelf = true)
      val fusedAgg = fused.groupBy("query_id")
        .agg(collect_list(col("id")).as("ids"), count(lit(1)).as("n"))
      val fPlan = fused.queryExecution.executedPlan.toString
      require(fPlan.contains("ShardTopKJoin"),
        s"fused knn-join plan must contain the fused exec:\n$fPlan")
      require(!fPlan.contains("BroadcastHashJoin") &&
          !fPlan.contains("BroadcastNestedLoopJoin"),
        s"fused knn-join plan must be broadcast-free:\n$fPlan")
      println("[scale] fused knn-join plan: ShardTopKJoinExec present, broadcast-free (asserted)")
      val fOut = timed(s"knn JOIN ($nQ queries x $nVec corpus, nprobe=2) [FUSED ShardTopKJoinExec]") {
        fusedAgg.select(count(col("query_id")), sum(col("n"))).head()
      }
      println(s"[scale] fused knn join produced ${fOut.getLong(0)} query rows, " +
        s"${fOut.getLong(1)} result pairs")
      // same answers, not just same counts: top-3 id SETS per query
      // must match the declarative plan exactly (both heaps order by
      // score desc, id asc; collect_list order is nondeterministic so
      // compare sorted)
      val declTops = knnJoin.select(col("query_id"), col("tops.id").as("ids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
      val fusedTops = fused.groupBy("query_id")
        .agg(sort_array(collect_list(col("id"))).as("ids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      require(declTops.keySet == fusedTops.keySet &&
          declTops.forall { case (q, ids) => fusedTops(q) == ids },
        "fused knn JOIN must reproduce the declarative top-3 exactly")
      println(s"[scale] fused top-3 identical to declarative: true (${declTops.size} queries, asserted)")

      // range JOIN at volume — the radius twin on the same probe plan:
      // no heap at all, the threshold is pushed into the SMJ's join
      // condition (cosine evaluated once per candidate pair inside
      // whole-stage codegen), so the only shuffle is the join itself
      // and the leg undercuts the knn JOIN ~2.4x (the heap aggregate's
      // per-row ObjectHashAggregate walk costs more than the scoring —
      // measured round 12: 13 s vs 31 s at 1M). Same broadcast-free
      // contract.
      val rangeQueries = vecs.filter(col("id") % (nVec / nQ) === 0)
        .select(col("id").as("query_id"), col("vector").as("qv"))
      val rangeDf = vsPq.rangeJoin(rangeQueries, minScore = 0.45,
        nprobe = 2, excludeSelf = true)
      val rPlan = rangeDf.queryExecution.executedPlan.toString
      require(!rPlan.contains("BroadcastHashJoin") &&
          !rPlan.contains("BroadcastNestedLoopJoin"),
        s"range-join plan must be broadcast-free with broadcast disabled:\n$rPlan")
      val nRange = timed(s"range JOIN ($nQ queries x $nVec corpus, nprobe=2, map-side cos >= 0.45)") {
        rangeDf.count()
      }
      println(s"[scale] range join produced $nRange (query, match) pairs, broadcast-free (asserted)")

      // COMPRESSED knn JOIN at volume (round 13): the codes-only IO
      // regime through the fused exec's DotOverNorm metric. Two wins
      // vs the old declarative compressed plan: no per-pair agg walk
      // (same as the raw leg), AND the codebook reconstruction now
      // materializes once per CORPUS ROW in the exec's child
      // projection — the old post-join projection recomputed the M
      // lookups + sum once per (row, probing query) PAIR, ~300x
      // redundant at this shard fan-in. The shortlist heap + exact
      // re-rank of nQ x 200 survivors ride behind it.
      val compQueries = vecs.filter(col("id") % (nVec / nQ) === 0)
        .select(col("id").as("query_id"), col("vector").as("qv"))
      val compDf = vsPq.searchJoin(compQueries, topK = 3, nprobe = 2,
        excludeSelf = true, compressed = true, shortlist = 200)
      val cPlan = compDf.queryExecution.executedPlan.toString
      require(cPlan.contains("ShardTopKJoin"),
        s"compressed knn-join plan must use the fused exec:\n$cPlan")
      require(!cPlan.contains("BroadcastHashJoin") &&
          !cPlan.contains("BroadcastNestedLoopJoin"),
        s"compressed knn-join plan must be broadcast-free:\n$cPlan")
      val nComp = timed(s"compressed knn JOIN ($nQ queries x $nVec corpus, nprobe=2, ADC shortlist-200 + exact rerank) [FUSED DotOverNorm]") {
        compDf.count()
      }
      println(s"[scale] compressed knn join produced $nComp ranked rows, fused + broadcast-free (asserted)")

      // knn JOIN under PLANTED SHARD SKEW — half the corpus forced
      // into shard 0 (the drifted/clustered-ingest pathology). The
      // shard-key join then lands ~500k corpus rows x every query
      // probing shard 0 on ONE task. Three measurements tell the
      // honest story:
      //  1. unsalted with AQE skew-split DISABLED — the regime
      //     Structured Streaming's stream-static joins live in (no AQE
      //     in streaming) and the true single-task straggler;
      //  2. salted (joinByPopulation, maxRowsPerTask) in the same
      //     regime — the manual defense, result-invariant;
      //  3. unsalted with AQE skew-split ON — the batch engine's own
      //     byte-bounded split, which covers the plain batch join
      //     (documented in SaltedJoin's Scaladoc: prefer AQE where it
      //     runs; salt where it can't).
      val hotCorpus = corpusS.withColumn("shard",
        when(pmod(col("id"), lit(2)) === 0, lit(0L)).otherwise(col("shard")))
        .cache()
      val hotPop = hotCorpus.groupBy("shard").count()
        .agg(min("count"), max("count")).head()
      val maxRows = 50000L
      val hotQueries = knnQueries.filter(col("query_id") % 500 === 0)
      println(s"[scale] planted skew: shard population min=${hotPop.getLong(0)} " +
        s"max=${hotPop.getLong(1)} -> hot-shard salt " +
        s"${math.ceil(hotPop.getLong(1) / maxRows.toDouble).toLong}, balanced salt 1")
      def knnTops(salt: Long): Array[(Long, Seq[Long])] = {
        val joined =
          if (salt > 0) graft.operators.SaltedJoin
            .joinByPopulation(hotCorpus, hotQueries, "shard", salt,
              saltOn = Some(col("id")))
          else hotCorpus.join(hotQueries, Seq("shard"))
        joined.filter(col("id") =!= col("query_id"))
          .withColumn("s", cosineSim(col("vector"), col("qv")))
          .groupBy("query_id")
          .agg(graft.expressions.TopKAgg.topK(col("s"), col("id"), 3).as("tops"))
          .select(col("query_id"), col("tops.id").as("ids"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
      }
      // fused twin: the same hot corpus through ShardTopKJoinExec with
      // the packed (shard, salt) key — proves the fused operator keeps
      // joinByPopulation's straggler bound AND its result invariance
      def knnTopsFused(salt: Long): Array[(Long, Seq[Long])] =
        graft.plans.ShardTopKJoin.ranked(
            hotCorpus.select(col("id").cast("long").as("id"), col("shard"),
              col("vector").cast("array<double>").as("vec")),
            hotQueries.select(col("query_id").cast("long").as("query_id"),
              col("shard").cast("long").as("shard"),
              col("qv").cast("array<double>").as("qv")),
            k = 3, excludeSelf = true,
            maxRowsPerTask = salt, saltOn = Some(col("id")))
          .groupBy("query_id")
          .agg(transform(sort_array(collect_list(struct(col("rank"), col("id")))),
            x => x.getField("id")).as("ids"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val unsalted = timed("knn JOIN hot-shard UNSALTED, skew-split off (the streaming regime)") {
        knnTops(0L)
      }
      val saltedTop = timed(s"knn JOIN hot-shard salted maxRowsPerTask=$maxRows, skew-split off") {
        knnTops(maxRows)
      }
      val fusedSalted = timed(s"knn JOIN hot-shard FUSED salted maxRowsPerTask=$maxRows, skew-split off") {
        knnTopsFused(maxRows)
      }
      require(unsalted.length == fusedSalted.length &&
          unsalted.zip(fusedSalted).forall { case (a, b) => a._1 == b._1 && a._2 == b._2 },
        "fused salted knn JOIN must reproduce the unsalted top-3 exactly")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
      val aqeTop = timed("knn JOIN hot-shard UNSALTED, AQE skew-split on (the batch engine's own defense)") {
        knnTops(0L)
      }
      require(unsalted.length == saltedTop.length &&
          unsalted.zip(saltedTop).forall { case (a, b) => a._1 == b._1 && a._2 == b._2 },
        "salted knn JOIN must reproduce the unsalted top-3 exactly")
      require(unsalted.zip(aqeTop).forall { case (a, b) => a._1 == b._1 && a._2 == b._2 },
        "AQE-split knn JOIN must reproduce the same top-3")
      println(s"[scale] hot-shard salted top-3 identical to unsalted: true " +
        s"(${unsalted.length} queries, asserted)")
      hotCorpus.unpersist()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      // a knnTops failure must not leave skew-split disabled for the
      // sections that follow (their timings would silently distort)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
    }

    // ADC-mode A/B at EMBEDDING width (round 13, committed evidence
    // for the codes-native fast path): at dim=64 the pair-loop
    // overhead masks the dim/M flop cut, so the 64-d legs above show
    // parity — the win the Adc metric exists for appears at real
    // embedding dims. Same shuffle shape both arms (fused exec,
    // clustered on the packed shard key): (a) DotOverNorm scores a
    // per-row RECONSTRUCTION (dim multiply-adds per candidate pair),
    // (b) Adc builds each probe's M·K lookup table once per partition
    // and pays M lookups per pair. Corpus is 0.4x the 64-d volume so
    // the section stays minutes-bounded; the DevAdcBench sweep of more
    // shapes can be read at commit 918c039.
    val dimH = 256
    val nVecH = math.max(nVec * 2 / 5, 1000)
    val nQH = math.max(nQ * 2 / 5, 100)
    val vecsH = spark.range(0, nVecH, 1, 64)
      .select(col("id"), array((0 until dimH).map(i => rand(seed = 2000 + i) - 0.5): _*)
        .cast("array<double>").as("vector"))
      .cache()
    vecsH.count()
    val centsH = graft.vector.Centroids.deterministicInit(
      vecsH.select(col("id").as("vec_id"), col("vector").as("embedding")), k = 16)
    val modelH = timed(s"pq train at dim=$dimH (16x16 codes, 2% sample)") {
      graft.vector.ProductQuantizer.train(
        vecsH.sample(0.02, seed = 7).select(col("id"), col("vector")),
        idCol = "id", vecCol = "vector", dim = dimH, numSubspaces = 16, numCodes = 16)
    }
    val codedH = timed(s"pq encode $nVecH x $dimH") {
      graft.vector.ProductQuantizer.encode(vecsH, modelH, "vector")
        .withColumn("shard", graft.vector.Centroids.nearestShard(col("vector"), centsH))
        .withColumn("vnorm", vecNorm(col("vector")))
        .select(col("id").cast("long").as("id"), col("shard").cast("long").as("shard"),
          col("pq_codes").cast("array<int>").as("codes"),
          col("vnorm").cast("double").as("vnorm"))
        .localCheckpoint(true)
    }
    val probesH = vecsH.filter(col("id") % math.max(nVecH / nQH, 1) === 0)
      .select(col("id").as("query_id"),
        explode(graft.vector.Centroids.nearestShards(col("vector"), centsH, nprobe = 2))
          .as("shard"),
        col("vector").as("qv"))
      .localCheckpoint(true)
    def forceRanked(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum(col("id") + col("rank")), lit(0L)).cast("long"))
        .head().getLong(0)
    val corpusRH = codedH.select(col("id"), col("shard"),
      graft.vector.ProductQuantizer.decodeCol(col("codes"), modelH).as("__recon"),
      col("vnorm"))
    val ckRecon = timed(s"compressed knn JOIN dim=$dimH ($nQH x $nVecH, k=100) [fused, RECONSTRUCTION DotOverNorm]") {
      forceRanked(graft.plans.ShardTopKJoin.ranked(corpusRH, probesH, k = 100,
        excludeSelf = false, metric = graft.plans.ShardTopKJoin.Metric.DotOverNorm))
    }
    val stateH = graft.plans.ShardTopKJoin.AdcState(
      books = Map(-1 -> modelH.centroids), rotation = None, residual = None)
    val ckAdc = timed(s"compressed knn JOIN dim=$dimH ($nQH x $nVecH, k=100) [fused, codes-native Adc LUT]") {
      forceRanked(graft.plans.ShardTopKJoin.ranked(codedH, probesH, k = 100,
        excludeSelf = false, metric = graft.plans.ShardTopKJoin.Metric.Adc,
        adc = Some(stateH)))
    }
    // same candidate sets; scores carry the same terms accumulated
    // per-subspace, so ulp-level rank flips are possible by design —
    // report the id+rank checksum rather than assert
    println(s"[scale] dim=$dimH id+rank checksum: recon=$ckRecon adc=$ckAdc " +
      s"(equal=${ckRecon == ckAdc})")
    vecsH.unpersist()

    // upsert/delete at volume. Two contrasting workloads:
    // (a) worst case — ids spread over every shard, negated vectors
    //     re-route across shards, so ALL partitions rewrite;
    // (b) locality — 2000 ids from ONE shard, vectors rescaled (same
    //     direction, same routing), so only that shard rewrites.
    val nUp = nVec / 500
    val upserts = vecs.filter(col("id") % 500 === 0)
      .select(col("id"), transform(col("vector"), x => -x).as("vector"))
    val touchedAll = timed(s"upsert $nUp vectors spread over all shards (worst case)") {
      vs.upsert(upserts)
    }
    val oneShardIds = Tables.resolved(spark, s"$dir/vectors")
      .filter(col("shard") === 0).select("id").limit(2000)
    val localUpserts = vecs.join(oneShardIds, "id")
      .select(col("id"), transform(col("vector"), x => x * 1.0001).as("vector"))
    val touchedOne = timed("upsert 2000 single-shard vectors (locality case)") {
      vs.upsert(localUpserts)
    }
    println(s"[scale] shards rewritten: worst-case=${touchedAll.length}/16, " +
      s"single-shard=${touchedOne.length}/16")
    val delIds = (0 until 1000).map(_ * 7L)
    val touchedDel = timed("delete 1000 ids") { vs.delete(delIds) }
    val nAfter = vs.listIds().agg(sum("n_vectors")).head().getLong(0)
    println(s"[scale] count after upserts+delete ok: ${nAfter == nVec - 1000L} " +
      s"(delete touched ${touchedDel.length} shards)")

    // SemDeDup at volume: cluster-scoped pairwise cosine bounds the
    // quadratic at n^2/k — 100k vectors in 16 clusters is ~6k per
    // cluster, ~16x fewer comparisons than all-pairs, all through one
    // equi-join on the cluster id. Planted +0.05-shift twins (cosine
    // ~0.97 to their originals) drop at threshold 0.75; the uniform
    // base has no 0.75-cosine pairs (6 sigma above the cosine
    // concentration at 64-d) so it survives untouched. A twin can
    // survive only by landing across a Voronoi boundary from its
    // original — the paper's known recall cost of cluster scoping.
    val sdBase = vecs.filter(col("id") < 100000)
    val sdTwins = sdBase.filter(col("id") % 100 === 0)
      .select((col("id") + 10000000L).as("id"),
        transform(col("vector"), x => x + lit(0.05)).as("vector"))
    // unsalted contrast: the pair join keys on the cluster id alone, so
    // k=16 caps parallelism at 16 tasks on 32 cores; pairSalt=8 splits
    // each cluster's quadratic over 8 tasks (identical result,
    // spec-asserted)
    timed("semdedup UNSALTED (100k + 1k twins, k=16 -> 16 pair tasks)") {
      graft.dedup.Dedup.semDedup(sdBase.unionByName(sdTwins),
        k = 16, threshold = 0.75, idCol = "id", vecCol = "vector")
        .filter(col("keep") === 0).count()
    }
    val sd = timed("semdedup (100k + 1k twins, k=16, t=0.75, pairSalt=8)") {
      val r = graft.dedup.Dedup.semDedup(sdBase.unionByName(sdTwins),
        k = 16, threshold = 0.75, idCol = "id", vecCol = "vector", pairSalt = 8).cache()
      r.count(); r
    }
    val sdDropped = sd.filter(col("keep") === 0).count()
    val sdTwinDropped = sd.filter(col("vec_id") >= 10000000L && col("keep") === 0).count()
    println(s"[scale] semdedup dropped $sdDropped total, $sdTwinDropped/1000 planted twins " +
      "(misses = twins routed across a cluster boundary)")
    sd.unpersist()

    // hot-cluster mitigation: 8k near-copies of ONE vector all route to
    // a single cluster (~32M pairs). Bounding that straggler at ~1M
    // pairs/task with a UNIFORM salt needs pairSalt=32 — which
    // replicates EVERY cluster's build side 32x (and at a real k of
    // thousands of clusters, 32x the whole corpus through the
    // shuffle). Adaptive salting reads the same bound from each
    // cluster's own population: the mega-cluster fans out over ~32
    // tasks, the balanced ~3k-member clusters get salt ~5 — the
    // replication cost lands exactly where the skew is. Identical
    // verdicts (spec-asserted); compare the wall-clocks.
    val hcBase = vecs.filter(col("id") < 50000)
    val hcHot = vecs.filter(col("id") === 7)
      .crossJoin(spark.range(1, 8001).select(col("id").as("j")))
      .select((col("j") + 20000000L).as("id"),
        transform(col("vector"), x => x + (col("j") % 11) * lit(0.002)).as("vector"))
    val hcCorpus = hcBase.unionByName(hcHot).cache()
    hcCorpus.count()
    val hcUniform = timed("semdedup HOT cluster (50k + 8k mega-cluster, UNIFORM pairSalt=32 for the 1M-pair bound)") {
      graft.dedup.Dedup.semDedup(hcCorpus, k = 16, threshold = 0.75,
        idCol = "id", vecCol = "vector", pairSalt = 32)
        .filter(col("keep") === 0).count()
    }
    val hcAdaptive = timed("semdedup HOT cluster (same corpus + bound, ADAPTIVE maxPairsPerTask=1M)") {
      graft.dedup.Dedup.semDedup(hcCorpus, k = 16, threshold = 0.75,
        idCol = "id", vecCol = "vector", maxPairsPerTask = 1000000L)
        .filter(col("keep") === 0).count()
    }
    println(s"[scale] hot-cluster verdict parity: ${hcUniform == hcAdaptive} " +
      s"($hcAdaptive dropped)")
    hcCorpus.unpersist()

    // self-tuning nprobe: one exact-arm pass persists the measured
    // recall@10 curve for ALL probe depths (each true hit carries its
    // shard's probe rank); searchAtRecall then serves at the cheapest
    // depth meeting the target — the /search shards_to_search knob
    // made data-driven
    val rcurve = timed(s"evalRecall ($nVec vectors, 48 queries, full curve in one pass) [fused broadcast exact arm]") {
      vs.evalRecall(nQueries = 48, topK = 10)
        .orderBy("nprobe").collect()
    }
    println("[scale] recall curve: " + rcurve.map(r =>
      s"p=${r.getLong(0)}:${r.getLong(1) / 100.0}%").mkString(" "))
    val pTuned = vs.nprobeFor(0.95)
    timed(s"searchAtRecall(0.95) -> nprobe=$pTuned") {
      vs.searchAtRecall(q, topK = 10, targetRecall = 0.95).collect()
    }

    // sequence packing under extreme stratum skew: 5M docs, 90% in ONE
    // source. The naive per-stratum cumulative sum would sort 4.5M rows
    // in a single task; the blocked formulation never sorts more than
    // blockSize rows per partition, so the mega-stratum costs the same
    // as a uniform corpus.
    val packDocs = spark.range(0, 5000000, 1, 64)
      .select(col("id").as("doc_id"),
        when(col("id") % 10 === 0, concat(lit("minor"), (col("id") % 3).cast("string")))
          .otherwise(lit("mega")).as("source"),
        concat_ws(" ", (0 until 8).map(i => lit(s"w$i")): _*).as("text"))
    val packed = timed("pack_sequences, 5M docs, 90% one stratum (blocked cumsum)") {
      graft.pipeline.PipelineOps.packSequences(packDocs).agg(
        sum("n_docs").as("docs"), count(lit(1)).as("windows")).head()
    }
    println(s"[scale] packed ${packed.getLong(0)} docs into ${packed.getLong(1)} windows")

    // synthetic documents: 60 words over a 2k vocabulary, near-dup pairs injected
    val docs = spark.range(0, nDoc, 1, 64)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 60).map(i =>
          concat(lit("w"), (abs(xxhash64(col("id") * 60 + i, lit(7))) % 2000).cast("string"))): _*)
          .as("text"))
    val dupes = docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + nDoc).as("doc_id"), col("text"))
    val corpus = docs.unionByName(dupes).cache()
    corpus.count()

    val found = timed(s"minhash-LSH dedup (${nDoc + nDoc / 100} docs)") {
      graft.dedup.Dedup.minhashPairs(corpus).count()
    }
    println(s"[scale] minhash found $found pairs (injected ${nDoc / 100} exact dupes)")

    // skewed corpus: every doc shares one hot leading trigram. The
    // df-cap drops it from candidate generation — uncapped, that one
    // shingle alone yields |corpus|^2/2 candidate pairs
    val skewed = corpus.select(col("doc_id"),
      concat(lit("the of and "), col("text")).as("text")).cache()
    skewed.count()
    val nearDups = timed(s"ngram-jaccard dedup, hot shingle, df-capped (${nDoc + nDoc / 100} docs)") {
      graft.dedup.Dedup.ngramJaccardPairs(skewed).count()
    }
    println(s"[scale] capped ngram dedup found $nearDups pairs (injected ${nDoc / 100})")
    val small = skewed.filter(col("doc_id") % 10 === 0) // 10x smaller slice
    val smallPairs = timed("ngram-jaccard UNCAPPED on a 10x smaller slice (contrast)") {
      graft.dedup.Dedup.ngramJaccardPairs(small, dfCapFloor = Long.MaxValue).count()
    }
    println(s"[scale] uncapped-on-slice found $smallPairs pairs — compare the timings above")

    // incremental dedup: a 2%-of-corpus batch judged against the rest.
    // The near-check join is new-side shingles x old-side shingles, so
    // candidate volume is batch-bounded — wall time should sit well
    // under the corpus-wide jaccard pass above even though both
    // re-shingle the full corpus (at 100 TB the old side's shingles
    // come from the maintained incremental index instead).
    val incVerdicts = timed(s"incremental dedup (2% batch vs ${nDoc}-doc corpus)") {
      graft.dedup.Dedup.incrementalVerdicts(corpus, col("doc_id") >= nDoc)
        .groupBy("verdict").count().collect()
    }
    println("[scale] incremental verdicts: " + incVerdicts.sortBy(_.getString(0))
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ") +
      s" (the ${nDoc / 100}-doc injected batch duplicates the corpus exactly)")

    // the maintained index formulation of the same gate: the corpus
    // shingles/fingerprints/df persist ONCE (build), and judging the
    // batch explodes only batch text — per-batch work scales with the
    // batch. Compare judge time against the one-shot pass above,
    // which re-derived the corpus side in-plan.
    val idxDir = Files.createTempDirectory("graft-scale-shidx").toString
    val shIdx = new graft.dedup.ShingleIndex(spark, idxDir)
    timed(s"shingle-index build ($nDoc-doc corpus, one-time)") {
      shIdx.build(corpus.filter(col("doc_id") < nDoc))
    }
    val idxVerdicts = timed("shingle-index judge (2% batch, corpus-side = index scans)") {
      val v = shIdx.judge(corpus.filter(col("doc_id") >= nDoc))
      val out = v.groupBy("verdict").count().collect()
      // judge()'s contract: the checkpointed verdicts are the caller's
      // to release — or they stay pinned across the later timed steps
      org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(v)
      out
    }
    println("[scale] index-gate verdicts: " + idxVerdicts.sortBy(_.getString(0))
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))

    // banded candidate generation over the same index: candidates come
    // from the 16-rows-per-doc bands table instead of the full postings
    // join, with only colliding docs' postings entering the Jaccard
    // verify — verdicts must be identical on this corpus (all planted
    // dups are exact or near-exact, far above the banding s-curve knee)
    val bandVerdicts = timed("shingle-index judge, BANDED candidates (2% batch)") {
      val v = shIdx.judge(corpus.filter(col("doc_id") >= nDoc), bandCandidates = true)
      val out = v.groupBy("verdict").count().collect()
      org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(v)
      out
    }
    val sameVerdicts = bandVerdicts.sortBy(_.getString(0)).map(r => (r.getString(0), r.getLong(1)))
      .sameElements(idxVerdicts.sortBy(_.getString(0)).map(r => (r.getString(0), r.getLong(1))))
    require(sameVerdicts, "banded judge must reproduce the exact judge's verdict counts")
    println(s"[scale] banded judge verdict counts identical: true (asserted)")

    // banding lifecycle at volume: append an intra-index dup slice so
    // the measured curve has a non-degenerate truth set (the smoke's
    // planted dups live in the judged BATCH — an index-internal curve
    // would otherwise measure recall over zero pairs), then measure
    // the curve over the index's OWN stored shingles (truth = its
    // exact-Jaccard universe), tune, reband to the widest split, and
    // the banded judge still reproduces the exact verdicts at the new
    // banding (every batch doc's match set only grew)
    shIdx.append(docs.filter(col("doc_id") % 200 === 0)
      .select((col("doc_id") + 20L * nDoc).as("doc_id"), col("text")), "bc0")
    val bandCurve = timed(s"shingle-index measureBanding ($nDoc-doc corpus, 16x8 + 64x2)") {
      shIdx.measureBanding(threshold = 0.8, bandings = Seq(16, 64))
        .select("bands", "rows_per_band", "n_truth", "n_cand", "recall_x1e4")
        .collect()
    }
    println("[scale] banding curve: " + bandCurve.sortBy(_.getLong(0)).map(r =>
      s"${r.getLong(0)}x${r.getLong(1)} truth=${r.getLong(2)} " +
        s"cand=${r.getLong(3)} recall=${r.getLong(4)}").mkString(", "))
    val (pickB, pickR) = shIdx.bandingFor(0.8, target = 0.95)
    println(s"[scale] bandingFor(0.8, target 0.95) -> ${pickB}x$pickR")
    timed(s"shingle-index reband(64) ($nDoc docs, stored shingles only)") {
      shIdx.reband(64)
    }
    val band64Verdicts = timed("shingle-index judge, BANDED at 64x2 (2% batch)") {
      val v = shIdx.judge(corpus.filter(col("doc_id") >= nDoc), bandCandidates = true)
      val out = v.groupBy("verdict").count().collect()
      org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(v)
      out
    }
    require(band64Verdicts.sortBy(_.getString(0)).map(r => (r.getString(0), r.getLong(1)))
      .sameElements(idxVerdicts.sortBy(_.getString(0)).map(r => (r.getString(0), r.getLong(1)))),
      "rebanded judge must reproduce the exact judge's verdict counts")
    println(s"[scale] rebanded (64x2) judge verdict counts identical: true (asserted)")

    // recap at volume: a phrase spread over appended batches goes hot
    // AFTER its first batch inserted it under the cap — that batch's
    // docs carry stale postings (dead candidate weight + inflated
    // Jaccard denominators) until recap() rewrites exactly the carrier
    // partitions. Cost measured = the hot-detect dfc fold + one
    // sh/-column discovery scan + the carrier batch's rewrite; the
    // base partition (no hot rows) must NOT rewrite.
    val hotPhrase = (1 to 12).map(i => s"hot$i").mkString(" ")
    def recapBatch(tag: Int): org.apache.spark.sql.DataFrame =
      spark.range(tag * 1000L, tag * 1000L + 200L)
        .select((col("id") + 10L * nDoc).as("doc_id"),
          concat(lit(hotPhrase + " "), concat_ws(" ", (0 until 20).map(i =>
            concat(lit("r"), (abs(xxhash64(col("id") * 20 + i, lit(11))) % 5000)
              .cast("string"))): _*)).as("text"))
    Seq(1, 2, 3).foreach(t => shIdx.append(recapBatch(t), s"rb$t"))
    val recapped = timed(s"shingle-index recap ($nDoc-doc base + 3 appends, one stale carrier batch)") {
      shIdx.recap()
    }
    // 10 inner hot trigrams x the 200 first-batch carriers (later
    // batches crossed the cap at insert and never carried them). The
    // phrase only crosses the df cap against the DEFAULT 50k-doc base
    // — a scaled-down validation run skips the count assertion
    if (nDoc >= 50000)
      require(recapped == 2000L, s"expected 2000 stale rows, got $recapped")
    else println(s"[scale] (recap count assertion skipped at nDoc=$nDoc < 50000)")
    println(s"[scale] recap dropped $recapped stale postings rows (carrier batch only)")

    // resolved-probe fixed cost vs batch count: the live judge()
    // re-lists every table's batch=<label> directories and re-reads
    // one footer per batch per table PER CALL — a constant term that
    // grows with ingested-batch count (the TermIndex twin of this
    // pathology is measured below at 2001 dirs). A ShingleProbe
    // resolves the listings once per stream. Lay down ~500 batch dirs
    // per table with one partitionBy write each (the exact layout 500
    // append() calls produce — same trick as the TermIndex block),
    // then compare three live ticks against resolve + three probe
    // ticks of the SAME batch. 2000 dirs/table — the measured
    // pathology the probe was built for (the TermIndex twin below
    // sits at 2001 dirs for the same reason).
    val nPB = 2000
    val pDocs = spark.range(0, nPB * 2L, 1, 32).select(
        (col("id") + 30000000L).as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("p"), (abs(xxhash64(col("id") * 12 + i, lit(7))) % 20000)
            .cast("string"))): _*).as("text"),
        concat(lit("pb"), (col("id") / 2).cast("string")).as("batch"))
      .cache()
    val pSh = graft.dedup.Dedup.shinglesOf(pDocs.select("doc_id", "text"))
      .join(pDocs.select("doc_id", "batch"), "doc_id").cache()
    pSh.count()
    pSh.groupBy("batch", "s").agg(count(lit(1)).as("df"))
      .write.mode("append").partitionBy("batch").parquet(s"$idxDir/dfc")
    pSh.select("batch", "doc_id", "s")
      .write.mode("append").partitionBy("batch").parquet(s"$idxDir/sh")
    pSh.groupBy("batch", "doc_id").agg(count(lit(1)).as("n"))
      .write.mode("append").partitionBy("batch").parquet(s"$idxDir/sizes")
    pDocs.select(col("batch"), col("doc_id"), md5(col("text")).as("fp"))
      .write.mode("append").partitionBy("batch").parquet(s"$idxDir/fp")
    pDocs.groupBy("batch").agg(countDistinct(col("doc_id")).as("n_docs"))
      .join(pSh.groupBy("batch").agg(count(lit(1)).as("n_shingles")), "batch")
      .write.mode("append").partitionBy("batch").parquet(s"$idxDir/meta")
    pSh.unpersist(); pDocs.unpersist()
    val gateBatch = corpus.filter(col("doc_id") >= nDoc)
    def gateTick(label: String): Array[(String, Long)] = {
      val v = shIdx.judge(gateBatch, excludeLabel = Some(label))
      val out = v.groupBy("verdict").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(v)
      out
    }
    val liveTicks = timed(s"shingle LIVE judge x3 (~${nPB + 4} batch dirs/table, re-listed per tick)") {
      Seq("t1", "t2", "t3").map(gateTick)
    }
    val pr = shIdx.resolveProbe()
    def probeTick(label: String): Array[(String, Long)] = {
      val v = pr.judge(gateBatch, label)
      val out = v.groupBy("verdict").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(v)
      out
    }
    val probeFirst = timed("shingle PROBE tick 1 (listings resolve here, once)") {
      probeTick("t1")
    }
    val probeRest = timed("shingle PROBE ticks 2+3 (resolved listings reused)") {
      Seq("t2", "t3").map(probeTick)
    }
    require((probeFirst +: probeRest).forall(_.sameElements(liveTicks.head)),
      "probe ticks must reproduce the live judge's verdict counts")
    println("[scale] probe verdict counts identical to live: true (asserted)")

    // the maintain-driven lifecycle, end to end at this volume: the
    // index has ingested (3 recap-drifted appends + ~2000 probe-leg
    // batches), recap() already repaired the drift above — now the
    // SCHEDULED verb notices the batch-count signal, folds, and the
    // same serving paths get cheap: the live judge drops the
    // per-batch listing/footer constant, and a REFRESHED probe keeps
    // serving the identical verdicts without a stream restart (the
    // refresh() contract at the volume it exists for).
    def nsTick(f: => Array[(String, Long)]): (Array[(String, Long)], Double) = {
      val t0 = System.nanoTime()
      val out = f
      (out, (System.nanoTime() - t0) / 1e9)
    }
    val (preV, preT) = nsTick(gateTick("m1"))
    timed(s"shingle maintain() — ${nPB + 4} dirs/table cross maxBatches=64, full fold") {
      val m = shIdx.maintain(maxBatches = 64)
      require(m.compacted,
        "maintain must fold once the batch-count signal is crossed")
      require(m.recappedRows == 0L,
        "recap() above already repaired the drift — maintain's carrier " +
          s"probe must find nothing stale, dropped ${m.recappedRows}")
    }
    require(!shIdx.maintain(maxBatches = 64).compacted,
      "a second maintain must be a cheap no-op on the folded layout")
    val (postV, postT) = nsTick(gateTick("m2"))
    require(postV.sameElements(preV),
      "the folded index must serve the pre-fold verdicts")
    require(postT < preT,
      f"post-fold tick ($postT%.2f s) must undercut the ${nPB + 4}-dir tick ($preT%.2f s)")
    println(f"[scale] maintain lifecycle: live tick $preT%.2f s @ ${nPB + 4} dirs -> " +
      f"$postT%.2f s folded (${preT / postT}%.1fx, verdicts identical, asserted)")
    val (refV, refT) = nsTick { pr.refresh(); probeTick("m3") }
    require(refV.sameElements(preV),
      "a refreshed probe must serve the same verdicts over the folded index")
    pr.release()
    println(f"[scale] refreshed probe tick (resolve + judge, folded layout): $refT%.2f s")

    // chunking fan-out: a pure projection, so wall time tracks OUTPUT
    // row count, not any shuffle — the corpus chunks at scan speed
    val nChunks = timed(s"doc_chunk (${nDoc + nDoc / 100} docs, size 32 stride 24)") {
      graft.pipeline.PipelineOps.chunkDocuments(corpus).count()
    }
    println(s"[scale] chunked into $nChunks windows")

    // bigram LM scoring: partial aggregation bounds the COUNT-TABLE
    // builds at distinct-bigram volume, but the scoring joins shuffle
    // every bigram OCCURRENCE (corpus-sized rows carrying doc_id +
    // bigram) through two equi-joins plus the per-doc rollup — the
    // honest 100 TB posture is "several corpus-volume shuffles", the
    // same class as the shingle-dedup passes above, not count-table
    // sized
    val lmN = timed(s"text_lm_score (${nDoc + nDoc / 100} docs, bigram LM)") {
      graft.text.TextAnalysis.lmScores(corpus).count()
    }
    println(s"[scale] lm-scored $lmN docs")

    // maintained inverted index: the corpus tokenizes ONCE (build),
    // then a keyword query reads only its own terms' postings — the
    // one-shot BM25 re-derives tf/dl/df/N from a full text scan per
    // query. The gap between the two query timings is what every
    // SUBSEQUENT query saves; it widens with corpus size (probe cost
    // tracks query-term df, one-shot cost tracks the corpus).
    val tiDir = Files.createTempDirectory("graft-scale-tidx").toString
    val tIdx = new graft.text.TermIndex(spark, tiDir)
    timed(s"term-index build (${nDoc + nDoc / 100} docs, one-time)") {
      tIdx.build(corpus)
    }
    def oneShotBm25(c: org.apache.spark.sql.DataFrame): Array[(Long, Double)] = {
      val ws = split(col("text"), " ")
      def tf(t: String) = size(filter(ws, w => w === t)).cast("long")
      val terms = Seq("w7", "w42", "w100")
      val perDoc = c.select(col("doc_id") +: size(ws).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) => tf(t).as(s"tf$i") }: _*)
      val aggCols = Seq(count(lit(1)).cast("double").as("n"),
        sum(col("dl")).cast("double").as("sdl")) ++
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"df$i"))
      val stats = perDoc.agg(aggCols.head, aggCols.tail: _*)
      val score = terms.indices.map { i =>
        val idf = log(lit(1.0) + (col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
        idf * (col(s"tf$i") * 2.2) /
          (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / (col("sdl") / col("n"))))
      }.reduce(_ + _)
      perDoc.crossJoin(broadcast(stats)).withColumn("s0", score)
        .orderBy(desc("s0"), col("doc_id").asc).limit(10)
        .select(col("doc_id"), round(col("s0"), 4).as("bm25"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
    val served = timed("term-index BM25 probe (3 vocabulary terms, top-10)") {
      tIdx.search(Seq("w7", "w42", "w100"), k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
    }
    val oneShotBm = timed("one-shot BM25 (full corpus scan + agg, top-10)") {
      oneShotBm25(corpus)
    }
    require(served.toSeq == oneShotBm.toSeq,
      "index-served BM25 must equal the one-shot at volume")
    println("[scale] term-index top-10 identical to one-shot: true (asserted)")

    // takedown at volume: deleting 500 docs costs the deleted docs'
    // OWN postings lookup + two tiny delta writes — O(takedown), not
    // O(corpus) — and the next probe scores exactly as if the docs
    // were never indexed (the one-shot over the surviving corpus is
    // the ground truth)
    val tdIds = (0L until 500L)
    timed("term-index delete of 500 docs (tombstones + compensating deltas)") {
      require(tIdx.delete(tdIds, "takedown1") == 500L, "500 live docs expected")
    }
    val servedDel = timed("term-index probe after delete") {
      tIdx.search(Seq("w7", "w42", "w100"), k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
    }
    require(servedDel.toSeq ==
        oneShotBm25(corpus.filter(!col("doc_id").isin(tdIds: _*))).toSeq,
      "post-delete serving must equal the one-shot over the surviving corpus")
    println("[scale] post-delete top-10 equals never-indexed ground truth: true (asserted)")

    // single-label reclaim: the takedown applied PHYSICALLY by
    // rewriting only the partitions that hold the deleted docs — here
    // the base partition, the worst case (micro-batch-resident docs
    // cost only their own micro-batch) — vs compact()'s whole-index
    // fold. Results invariant; re-ingesting corrected copies of the
    // taken-down ids unblocks (append refuses them while tombstoned).
    timed("term-index reclaim of the takedown label (base-partition rewrite)") {
      require(tIdx.reclaim("takedown1") == 500L, "500 tombstones expected")
    }
    val servedRecl = timed("term-index probe after reclaim") {
      tIdx.search(Seq("w7", "w42", "w100"), k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
    }
    require(servedRecl.toSeq == servedDel.toSeq,
      "reclaim must not change served results")
    timed("re-ingest of 500 corrected docs (blocked before the reclaim)") {
      tIdx.append(corpus.filter(col("doc_id").isin(tdIds: _*))
        .withColumn("text", concat(col("text"), lit(" corrected"))),
        "takedown1-fix")
    }
    println("[scale] reclaim applied the takedown physically; corrected docs re-ingested")

    // served-index fixed cost vs batch count: at thousands of ingested
    // micro-batches a probe's constant term is file LISTING/FOOTER
    // work — one directory per batch per table regardless of row
    // volume — and compact() folds it back to O(1) files. The 2000
    // batch directories are laid down with one partitionBy("batch")
    // write per table (the same on-disk layout 2000 append() calls
    // produce, without paying 4000 tiny Spark write jobs to create it;
    // append()'s own semantics are spec-covered, this measures READ
    // cost vs directory count).
    val nB = 2000
    val bDocs = spark.range(0, nB * 2L, 1, 32).select(
        (col("id") + 10000000L).as("doc_id"),
        concat(lit("w7 filler"), (col("id") % 97).cast("string")).as("text"),
        concat(lit("sb"), (col("id") / 2).cast("string")).as("batch"))
      .cache()
    val ws2 = split(col("text"), " ")
    bDocs.select(col("batch"), col("doc_id"),
        size(ws2).cast("long").as("dl"), posexplode(ws2).as(Seq("p", "term")))
      .groupBy("batch", "term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("p"))).as("pos"))
      .select("batch", "term", "doc_id", "tf", "dl", "pos")
      .write.mode("append").partitionBy("batch").parquet(s"$tiDir/post")
    bDocs.groupBy("batch")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(ws2).cast("long")).as("sum_dl"))
      .write.mode("append").partitionBy("batch").parquet(s"$tiDir/meta")
    bDocs.unpersist()
    val probeMany = timed(s"term-index probe at ${nB + 1} batch dirs") {
      tIdx.search(Seq("w7", "w42", "w100"), k = 10).collect()
    }
    timed(s"term-index compact (${nB + 1} dirs -> 1 per table)") { tIdx.compact() }
    val probeOne = timed("term-index probe after compact") {
      tIdx.search(Seq("w7", "w42", "w100"), k = 10).collect()
    }
    require(probeMany.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        probeOne.map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "compact must not change served results")
    println("[scale] post-compact probe identical: true (asserted)")

    // fusion-recall lifecycle at volume (round 13): BOTH maintained
    // indexes over the one doc corpus — synthetic 64-d embeddings
    // keyed by doc_id beside the compacted TermIndex above — then the
    // one-pass packed-replica eval measures the page-level recall
    // curve for every probe depth in one corpus scan (raw arm), the
    // codes-native one-pass for the ADC-served page (compressed arm),
    // and maintainCurves re-measures exactly what a routing change
    // staled. The query sample derives from the store + index
    // themselves (fusionSampleFrom — tf-idf terms via topTerms).
    val fvDir = Files.createTempDirectory("graft-scale-fus").toString
    val fvVecs = corpus.select(col("doc_id").as("id"),
      array((0 until 64).map(i =>
        (pmod(xxhash64(col("doc_id") * 64 + i, lit(3)), lit(1000)).cast("double")
          / 500.0 - 1.0)): _*).as("vector"))
    val fvs = new VectorStore(spark, fvDir, numShards = 16)
    timed(s"fusion fixture: ivf+pq build (${nDoc + nDoc / 100} vectors, 16 shards)") {
      fvs.build(fvVecs, iters = 3, pqSubspaces = 16, pqTrainFraction = 0.2)
    }
    val fSample = timed("fusionSampleFrom (64 queries, tf-idf terms from the shared TermIndex)") {
      val s0 = fvs.fusionSampleFrom(tIdx, nQueries = 64).localCheckpoint(true)
      require(s0.count() > 0, "fusion sample must cover doubly-indexed docs")
      s0
    }
    timed("evalFusionRecall — RAW arm, ALL 16 depths in one corpus pass") {
      fvs.evalFusionRecall(tIdx, fSample).count()
    }
    timed("evalFusionRecall — COMPRESSED arm (codes-native one-pass, shortlist 200)") {
      fvs.evalFusionRecall(tIdx, fSample, compressed = true, vecShortlist = 200).count()
    }
    val fp9 = fvs.nprobeForFusion(tIdx, 0.9)
    val fp9c = fvs.nprobeForFusion(tIdx, 0.9, compressed = true, vecShortlist = 200)
    println(s"[scale] fusion tuner: nprobe@0.9 raw=$fp9 compressed=$fp9c (of 16)")
    timed("maintainCurves no-op (stamp reads only)") {
      val r = fvs.maintainCurves(Some(tIdx))
      require(r.refreshed == 0 && r.fusionSkipped == 0,
        s"fresh curves must not re-measure, got $r")
    }
    timed("centroid refresh + maintainCurves (re-measures BOTH stale fusion modes)") {
      fvs.refreshCentroids(sampleFraction = 0.2, iters = 2)
      val r = fvs.maintainCurves(Some(tIdx))
      require(r.fusionRefreshed == 2,
        s"both fusion parameterizations must re-measure, got $r")
    }
    println(s"[scale] fusion tuner after heal: nprobe@0.9 raw=${fvs.nprobeForFusion(tIdx, 0.9)}")
    org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(fSample)

    // ONE maintenance verb across every family at volume (round 14):
    // stale the store's curves with another routing refresh; the
    // shingle index's banding curve is ALREADY stale (the corpus moved
    // well past its measureBanding stamp — rb appends, probe-leg
    // batches, the fold); the term index sits under its fold bound.
    // One maintainAll call heals exactly what is stale: the fusion
    // curves re-measure, the banding curve re-measures, the healthy
    // store is NOT retrained, the folded indexes do NOT re-fold.
    // the drift gate is corpus-relative: this fixture's hash-derived
    // vectors have weak cluster structure, so a SAMPLED Lloyd refresh
    // legitimately parks ~0.10 L2 from the full-population shard means
    // (measured 0.104 here) — a 0.1 default gate would re-train every
    // tick without converging. Gate at 0.2 so "healthy" means "as good
    // as a retrain gets on this data"; the spec's strongly-clustered
    // fixture exercises the tight-gate path.
    val driftGate = 200000L
    timed("maintainAll — one verb heals stale fusion curves + stale banding curve") {
      fvs.refreshCentroids(sampleFraction = 0.2, iters = 3)
      val r = graft.Maintenance.maintainAll(store = Some(fvs),
        termIdx = Some(tIdx), shingleIdx = Some(shIdx), maxBatches = 64,
        storeDriftX1e6 = driftGate)
      require(r.curvesRefreshed >= 1,
        s"the routing change must re-measure the fusion curves, got $r")
      require(r.bandingRemeasured == 1,
        s"the stale banding curve must re-measure, got $r")
      require(!r.storeMaintained && !r.termFolded && !r.shingleFolded,
        s"healthy/folded families must be untouched, got $r")
    }
    require(shIdx.bandingFor(0.8, target = 0.95)._1 >= 1 &&
        fvs.nprobeForFusion(tIdx, 0.9) >= 1,
      "healed banding + fusion tuners must serve without a staleness refusal")
    timed("maintainAll no-op tick (health/stamp reads only)") {
      val r2 = graft.Maintenance.maintainAll(store = Some(fvs),
        termIdx = Some(tIdx), shingleIdx = Some(shIdx), maxBatches = 64,
        storeDriftX1e6 = driftGate)
      require(!r2.anythingRepaired, s"fresh families must be untouched: $r2")
    }

    // the composed training-mix assembly at 10x bench scale: topic
    // clustering + temperature quotas + in-topic DSIR selection +
    // token budget + shuffle + packing, one ledgered call — the
    // selection stages ride bounded heaps, so cost is dominated by
    // the two corpus passes (Lloyd assignment, DSIR token explode)
    val mixR = timed(s"mixing pipeline (cluster+DSIR-select+budget+pack, ${nDoc + nDoc / 100} docs)") {
      graft.pipeline.MixingPipeline.mix(spark, corpus, k = 8,
        targetDocs = 2000, targetPred = col("doc_id") < 1000,
        budgetTokens = Some(60000L))
    }
    println(s"[scale] mix ledger: ${mixR.ledger}")
    require(mixR.ledger.tokensAfterBudget <= 60000L && mixR.ledger.nWindows > 0)
    mixR.release()

    // the full decision pipeline: pairs -> components -> survivor per
    // cluster. Costs one jaccard pass + diameter rounds of edge-sized
    // joins + a dup-volume quality join — the same class as the pair
    // passes, so "which doc do we keep" adds no new scale hazard.
    // Runs LAST: its internal localCheckpoint (components) and shingle
    // caches are released here, not pinned across later timed steps.
    // constructed INSIDE the timer: connectedComponents materializes
    // its rounds eagerly (localCheckpoint), so construction is most of
    // the cost
    val (kb, nKept) = timed(s"keep-best survivors (pairs→clusters→quality, ${nDoc + nDoc / 100} docs)") {
      val f = graft.dedup.Dedup.keepBest(corpus)
      (f, f.count())
    }
    println(s"[scale] keep-best resolved $nKept clusters (injected ${nDoc / 100})")
    org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(kb)
    spark.catalog.clearCache()
    spark.stop()
  }
}
