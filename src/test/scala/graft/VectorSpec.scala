package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.VectorExpressions._
import graft.vector.{Centroids, VectorStore}

class VectorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  test("cosine kernel matches a hand computation and guards zero vectors") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 2.0f), 0.0),
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f), 1.0 / math.sqrt(2)),
      (Array(0.0f, 0.0f), Array(1.0f, 0.0f), 0.0) // reference zero-norm guard
    ).toDF("a", "b", "want")
    val got = df.select(cosineSim(col("a"), col("b")).as("got"), col("want")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("l2 kernel") {
    import spark.implicits._
    val d = Seq((Array(0.0f, 3.0f), Array(4.0f, 0.0f)))
      .toDF("a", "b").select(l2Dist(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(d - 5.0) < 1e-12)
  }

  test("VectorStore: build/get/listIds/search round-trip with IVF pruning") {
    val dir = Files.createTempDirectory("graft-vs").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(emb, iters = 3)

    // every vector landed in exactly one shard
    assert(vs.listIds().agg(sum("n_vectors")).head().getLong(0) === emb.count())

    // point lookup returns the original vector
    val got = vs.get(7).select("vector").head().getSeq[Double](0)
    val want = emb.filter(col("id") === 7)
      .select(col("vector").cast("array<double>")).head().getSeq[Double](0)
    assert(got === want)

    // nprobe = numShards search is exact: matches brute force
    val q = want.toArray
    val brute = emb.filter(col("id") =!= 7)
      .select(col("id"), cosineSim(col("vector"), typedlit(q.toSeq)).as("score"))
      .orderBy(desc("score"), col("id").asc).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val full = vs.search(q, topK = 5, nprobe = 4)
      .filter(col("id") =!= 7)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // self may occupy one slot in store search; compare on the overlap
    assert(full.map(_._1).toSeq.take(4) === brute.map(_._1).toSeq.take(4))

    // nprobe=1 IVF search returns results from a single shard only
    val ivf = vs.search(q, topK = 5, nprobe = 1)
    assert(ivf.select("shard").distinct().count() === 1)

    // IVF pruning is real partition pruning: the shard filter appears
    // as a PartitionFilter on the scan, not a post-scan Filter
    val plan = vs.search(q, topK = 5, nprobe = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"expected shard partition filter in plan:\n$plan")
  }

  test("filtered search ranks only allowed ids, matching filtered exact knn") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vsf").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    val vs = new VectorStore(spark, dir)
    vs.build(emb, iters = 3)
    val q = emb.filter(col("id") === 0).select(col("vector").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    // predicate: even ids only (selective enough that post-filtering a
    // plain top-5 would lose rows)
    val allowed = emb.select(col("id")).filter(col("id") % 2 === 0 && col("id") =!= 0)
    val got = vs.searchWhere(q, Some(allowed), topK = 5, nprobe = 4).collect()
    assert(got.length === 5 && got.forall(_.getLong(0) % 2 == 0))
    // ground truth: exact cosine over the same eligible set, full probe
    val want = emb.filter(col("id") % 2 === 0 && col("id") =!= 0)
      .select(col("id"), cosineSim(col("vector"), typedlit(q.toSeq)).as("s"))
      .orderBy(desc("s"), col("id").asc).limit(5)
      .collect().map(_.getLong(0))
    assert(got.map(_.getLong(0)).sameElements(want))
    // unfiltered top-5 differs (the predicate actually bites)
    val unf = vs.search(q, topK = 5, nprobe = 4).collect().map(_.getLong(0))
    assert(!unf.forall(_ % 2 == 0))
  }

  test("IVF+PQ store: compressed search matches exact, ingest keeps the codes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ivfpq").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(emb, iters = 2, pqSubspaces = 16)
    assert(vs.pqModel().exists(m => m.numSubspaces == 16 && m.subDim == 4))

    // pruned + compressed search reproduces exact search top-k
    val q = emb.filter(col("id") === 3)
      .select(col("vector").cast("array<double>")).head().getSeq[Double](0).toArray
    val exact = vs.search(q, topK = 5, nprobe = 4).collect()
    val comp = vs.search(q, topK = 5, nprobe = 4, compressed = true, shortlist = 100).collect()
    assert(comp.map(_.getLong(0)).toSeq === exact.map(_.getLong(0)).toSeq)
    comp.zip(exact).foreach { case (c, e) =>
      assert(math.abs(c.getDouble(2) - e.getDouble(2)) < 1e-9)
    }

    // compressed search still prunes: nprobe=1 touches a single shard
    assert(vs.search(q, 5, 1, compressed = true)
      .select("shard").distinct().count() === 1)

    // the ADC pass is code-only IO: the raw vector column is pruned
    // from its scan (this is the shape search()'s shortlist phase reads)
    val model = vs.pqModel().get
    val adcScan = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("vnorm"),
        graft.vector.ProductQuantizer.adcDot(col("pq_codes"), q, model).as("d"))
    val plan = adcScan.queryExecution.executedPlan.toString
    val readSchema = plan.substring(plan.indexOf("ReadSchema")).takeWhile(_ != '\n')
    assert(readSchema.contains("pq_codes") && !readSchema.contains("vector"),
      s"ADC scan must not read raw vectors: $readSchema")

    // routed append and upsert both encode incoming vectors
    vs.store(Seq((9999L, q.toSeq)).toDF("id", "vector"))
    assert(vs.get(9999L).columns.contains("pq_codes"))
    val top2 = vs.search(q, topK = 2, nprobe = 4, compressed = true)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 === Seq(3L, 9999L)) // both cosine 1.0; id breaks the tie
    val v9 = emb.filter(col("id") === 9)
      .select(col("vector").cast("array<double>")).head().getSeq[Double](0)
    vs.upsert(Seq((7L, v9)).toDF("id", "vector"))
    val nearV9 = vs.search(v9.toArray, topK = 2, nprobe = 4, compressed = true)
      .collect().map(_.getLong(0)).toSet
    assert(nearV9 === Set(7L, 9L))
  }

  test("residual PQ cuts ADC error vs raw-vector PQ on clustered data") {
    // 4 tight clusters on distinct axis blocks + deterministic jitter —
    // the regime residual coding exists for: residuals are jitter-sized
    // while raw vectors are center-sized
    val vecs = spark.range(0, 2000, 1, 8).select(col("id"),
      array((0 until 64).map { d =>
        when(pmod(col("id"), lit(4)) === d / 16, 5.0).otherwise(0.0) +
          (pmod(col("id") * 31 + d, lit(7)).cast("double") - 3.0) * 0.05
      }: _*).as("vector"))
    val dirR = Files.createTempDirectory("graft-pq-res").toString
    val dirP = Files.createTempDirectory("graft-pq-raw").toString
    val vsR = new VectorStore(spark, dirR, numShards = 4)
    val vsP = new VectorStore(spark, dirP, numShards = 4)
    vsR.build(vecs, iters = 3, pqSubspaces = 16) // residual default
    vsP.build(vecs, iters = 3, pqSubspaces = 16, pqResidual = false)
    assert(vsR.pqIsResidual && !vsP.pqIsResidual)

    val q = vecs.filter(col("id") === 1)
      .select(col("vector").cast("array<double>")).head().getSeq[Double](0).toArray
    val qn = math.sqrt(q.map(x => x * x).sum)
    def adcError(vs: VectorStore, dir: String, residual: Boolean): Double = {
      val model = vs.pqModel().get
      val adc = graft.vector.ProductQuantizer.adcDot(col("pq_codes"), q, model)
      val dot = if (!residual) adc else {
        val offs = vs.centroids().sortBy(_._1)
          .map { case (_, c) => q.zip(c).map { case (a, b) => a * b }.sum }.toSeq
        element_at(typedlit(offs), col("shard").cast("int") + 1) + adc
      }
      spark.read.parquet(s"$dir/vectors")
        .withColumn("approx", dot / (col("vnorm") * qn))
        .withColumn("truth", cosineSim(col("vector").cast("array<double>"), typedlit(q.toSeq)))
        .agg(avg(abs(col("approx") - col("truth")))).head().getDouble(0)
    }
    val errR = adcError(vsR, dirR, residual = true)
    val errP = adcError(vsP, dirP, residual = false)
    assert(errR < errP * 0.5,
      s"residual ADC error $errR should be well under raw-PQ error $errP")

    // compressed search on the residual store matches exact
    val exact = vsR.search(q, topK = 5, nprobe = 4).collect().map(_.getLong(0)).toSeq
    val comp = vsR.search(q, topK = 5, nprobe = 4, compressed = true, shortlist = 50)
      .collect().map(_.getLong(0)).toSeq
    assert(comp === exact)

    // a centroid refresh re-encodes the residual index consistently:
    // compressed search still matches exact afterwards
    val (touched, _) = vsR.refreshCentroids(sampleFraction = 1.0, iters = 2)
    assert(touched.nonEmpty)
    val comp2 = vsR.search(q, topK = 5, nprobe = 4, compressed = true, shortlist = 50)
      .collect().map(_.getLong(0)).toSeq
    assert(comp2 === vsR.search(q, topK = 5, nprobe = 4).collect().map(_.getLong(0)).toSeq)
  }

  test("decode reconstructs residual codes; compressed IVF scoring tracks exact") {
    val vecs = spark.range(0, 2000, 1, 8).select(col("id"),
      array((0 until 64).map { d =>
        when(pmod(col("id"), lit(4)) === d / 16, 5.0).otherwise(0.0) +
          (pmod(col("id") * 31 + d, lit(7)).cast("double") - 3.0) * 0.05
      }: _*).as("vector"))
    val dir = Files.createTempDirectory("graft-deccomp").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(vecs, iters = 3, pqSubspaces = 16)
    val model = vs.pqModel().get
    val cents = vs.centroids()
    val corpus = spark.read.parquet(s"$dir/vectors")
      .withColumn("shard", col("shard").cast("long"))

    // reconstruction: cosine(v, centroid + decode(codes)) ~ 1 on
    // clustered data (residual quantization error is jitter-sized)
    val ordered = cents.sortBy(_._1).map(_._2.toSeq).toSeq
    val recon = zip_with(
      element_at(typedlit(ordered), col("shard").cast("int") + 1),
      graft.vector.ProductQuantizer.decodeCol(col("pq_codes"), model),
      (c, r) => c + r)
    val minCos = corpus
      .select(cosineSim(col("vector").cast("array<double>"), recon).as("c"))
      .agg(min("c")).head().getDouble(0)
    assert(minCos > 0.99, s"worst reconstruction cosine $minCos")

    // code-only scoring top-5 tracks raw-vector scoring (same plan the
    // stream-static join runs; batch frames here)
    val queries = vecs.filter(col("id") < 3)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
    import graft.streaming.StreamingSearch
    def top5(df: org.apache.spark.sql.DataFrame) =
      StreamingSearch.topKPerQuery(df, 5).select("query_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val comp = top5(StreamingSearch.scoreIvfCompressed(
      queries, corpus, cents.toSeq, model, residual = true, nprobe = 4))
    val exact = top5(StreamingSearch.scoreIvf(queries, corpus, cents.toSeq, nprobe = 4))
    (0L until 3L).foreach { q =>
      assert((comp(q) intersect exact(q)).size >= 4, s"query $q: ${comp(q)} vs ${exact(q)}")
    }
  }

  test("streamed ADC LUT scoring: driver-mirror exact and bit-identical to the fused exec") {
    // an OPQ + residual store — the hardest composition: the LUT must
    // rotate the query into code space while the residual offset stays
    // raw-space, exactly the exec's AdcState split
    val vecs = spark.range(0, 2000, 1, 8).select(col("id"),
      array((0 until 64).map { d =>
        when(pmod(col("id"), lit(4)) === d / 16, 5.0).otherwise(0.0) +
          (pmod(col("id") * 31 + d, lit(7)).cast("double") - 3.0) * 0.05
      }: _*).as("vector"))
    val dir = Files.createTempDirectory("graft-adcstream").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(vecs, iters = 3, pqSubspaces = 16, opqRotate = true)
    val model = vs.pqModel().get
    val rot = vs.opqRotation()
    assert(rot.isDefined, "opqRotate build must persist a rotation")
    val cents = vs.centroids()
    val corpus = spark.read.parquet(s"$dir/vectors")
      .withColumn("shard", col("shard").cast("long"))
    val queries = vecs.filter(col("id") < 3)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
    import graft.streaming.StreamingSearch

    // nprobe = numShards, so every (query, corpus row) pair scores and
    // the mirror below needs no routing logic
    val adcScores = StreamingSearch.scoreIvfCompressedAdc(
        queries, corpus, cents.toSeq, model, residual = true, nprobe = 4,
        rotation = rot)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(adcScores.size === 3 * 2000)

    // driver mirror, accumulated in the exec's order: s = off, then
    // += LUT[m][code_m]; LUT rows in j order; qn = sqrt(sum q^2)
    val R = rot.get
    val centMap = cents.toMap
    val qvs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val sub = model.subDim
    val kC = model.numCodes
    def mirrorState(q: Array[Double]): (Array[Double], Double) = {
      val qr = R.map { row =>
        var s = 0.0; var j = 0
        while (j < q.length) { s += row(j) * q(j); j += 1 }
        s
      }
      val lut = new Array[Double](model.numSubspaces * kC)
      for (m <- 0 until model.numSubspaces; c <- 0 until kC) {
        val cw = model.centroids(m)(c)
        var s = 0.0; var j = 0
        while (j < sub) { s += qr(m * sub + j) * cw(j); j += 1 }
        lut(m * kC + c) = s
      }
      var nb = 0.0
      q.foreach(x => nb += x * x)
      (lut, math.sqrt(nb))
    }
    val states = qvs.map { case (qid, q) => qid -> mirrorState(q) }
    val rows = corpus.select(col("id"), col("shard"), col("pq_codes"), col("vnorm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toArray, r.getDouble(3)))
    var checked = 0
    for ((qid, q) <- qvs; (id, shard, codes, vn) <- rows) {
      val (lut, qn) = states(qid)
      val cent = centMap(shard.toInt)
      var s = 0.0; var j = 0
      while (j < q.length) { s += q(j) * cent(j); j += 1 }
      var mi = 0
      while (mi < codes.length) { s += lut(mi * kC + codes(mi)); mi += 1 }
      val want = if (vn == 0.0 || qn == 0.0) 0.0 else s / (vn * qn)
      assert(adcScores((qid, id)) === want,
        s"query $qid candidate $id: streamed ADC diverges from the mirror")
      checked += 1
    }
    assert(checked === 3 * 2000)

    // the fused exec's Metric.Adc over the same frames must emit the
    // SAME doubles — k covers the whole corpus so every pair ranks
    import graft.plans.ShardTopKJoin
    val corpusC = corpus.select(col("id").cast("long").as("id"), col("shard"),
      col("pq_codes").cast("array<int>").as("codes"),
      col("vnorm").cast("double").as("vnorm"))
    val probesC = queries
      .withColumn("shard", explode(Centroids.nearestShards(col("qv"), cents.toSeq, 4)))
      .select(col("query_id").cast("long").as("query_id"),
        col("shard").cast("long").as("shard"), col("qv"))
    val state = ShardTopKJoin.AdcState(books = Map(-1 -> model.centroids),
      rotation = rot, residual = Some(centMap))
    val fused = ShardTopKJoin.ranked(corpusC, probesC, k = 2000,
        excludeSelf = false, metric = ShardTopKJoin.Metric.Adc, adc = Some(state))
      .collect()
    assert(fused.length === 3 * 2000)
    fused.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(adcScores(key) === r.getDouble(3),
        s"pair $key: streamed ADC and fused exec disagree")
    }

    // end to end: ADC shortlist + exact re-rank tracks the raw scorer
    def top5(df: org.apache.spark.sql.DataFrame) =
      StreamingSearch.topKPerQuery(df, 5).select("query_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val adcTop = top5(StreamingSearch.scoreIvfCompressedAdc(
      queries, corpus, cents.toSeq, model, residual = true, nprobe = 4,
      rotation = rot))
    val exactTop = top5(StreamingSearch.scoreIvf(queries, corpus, cents.toSeq, nprobe = 4))
    (0L until 3L).foreach { q =>
      assert((adcTop(q) intersect exactTop(q)).size >= 4,
        s"query $q: ${adcTop(q)} vs ${exactTop(q)}")
    }
  }

  test("streamed per-shard ADC LUT scoring is bit-identical to the fused exec") {
    import spark.implicits._
    // synthetic per-shard books + rotation + residual — the full
    // AdcState composition, with the streamed plan building each
    // replica's LUT from the broadcast code-space book frame
    val n = 300; val shards = 4; val dim = 8; val M = 4; val K = 4
    val subDim = dim / M
    def book(s: Int): Array[Array[Array[Double]]] =
      Array.tabulate(M, K, subDim)((m, k, j) =>
        math.sin(s * 13 + m * 7 + k * 3 + j).abs + 0.01)
    val rot: Array[Array[Double]] =
      Array.tabulate(dim, dim)((i, j) => if (j == dim - 1 - i) 1.0 else 0.0)
    def cent(s: Int): Array[Double] =
      Array.tabulate(dim)(j => math.cos(s * 5 + j) * 0.5)
    def codesOf(id: Int): Array[Int] = Array.tabulate(M)(m => (id + m) % K)
    def vnormOf(id: Int): Double = if (id % 17 == 0) 0.0 else 1.0 + (id % 7) * 0.1
    val corpus = (0 until n).map { i =>
      (i.toLong, (i % shards).toLong, codesOf(i), vnormOf(i))
    }.toDF("id", "shard", "pq_codes", "vnorm")
      .select($"id", $"shard", $"pq_codes".cast("array<int>").as("pq_codes"), $"vnorm")
    val cents = (0 until shards).map(s => s -> cent(s))
    val books = graft.vector.ProductQuantizer.PerShardBooks(
      (0 until shards).map(s =>
        s -> graft.vector.ProductQuantizer.Model(subDim, book(s))).toMap)
    val queries = (0 until 3).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 31 + d * 7).abs + 0.01 * d))
    }.toDF("query_id", "qv").select($"query_id", $"qv".cast("array<double>").as("qv"))

    import graft.streaming.StreamingSearch
    val streamed = StreamingSearch.scoreIvfCompressedPerShardAdc(
        queries, corpus, cents, books, residual = true, nprobe = 4,
        rotation = Some(rot))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamed.size === 3 * n)

    import graft.plans.ShardTopKJoin
    val corpusC = corpus.select($"id", $"shard",
      $"pq_codes".as("codes"), $"vnorm".cast("double").as("vnorm"))
    val probesC = queries
      .withColumn("shard", explode(graft.vector.Centroids.nearestShards(
        $"qv", cents, 4)))
      .select($"query_id", $"shard".cast("long").as("shard"), $"qv")
    val state = ShardTopKJoin.AdcState(
      books = (0 until shards).map(s => s -> book(s)).toMap,
      rotation = Some(rot),
      residual = Some(cents.toMap))
    val fused = ShardTopKJoin.ranked(corpusC, probesC, k = n,
        excludeSelf = false, metric = ShardTopKJoin.Metric.Adc,
        adc = Some(state))
      .collect()
    assert(fused.length === 3 * n)
    fused.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(streamed(key) === r.getDouble(3),
        s"pair $key: streamed per-shard ADC and fused exec disagree")
    }
    assert(streamed.values.exists(_ != 0.0))
  }

  test("store-level semdedup drops planted twins within shards; delete closes the loop") {
    val dir = Files.createTempDirectory("graft-vs-sd").toString
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vector"))
    val twins = base.filter(col("id") < 10)
      .select((col("id") + 100000).as("id"),
        transform(col("vector"), x => x + lit(0.05)).as("vector"))
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(base.unionByName(twins), iters = 3)

    val verdicts = vs.semDedup(threshold = 0.75)
    assert(verdicts.count() === base.count() + 10)
    // identical result with and without pair salting
    val unsalted = vs.semDedup(threshold = 0.75, pairSalt = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(verdicts.collect().map(r => (r.getLong(0), r.getLong(2))).toSet === unsalted)
    // a twin routes with its original (KMeans centroids, tiny shift):
    // every twin must drop; the rule replays from the store's own rows
    val rows = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("shard").cast("long"),
        col("vector").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val expectDrop = rows.filter { case (id, sh, v) =>
      rows.exists { case (id2, sh2, v2) =>
        sh2 == sh && id2 < id && cos(v, v2) >= 0.75 }
    }.map(_._1).toSet
    val gotDrop = verdicts.filter(col("keep") === 0)
      .collect().map(_.getLong(0)).toSet
    assert(gotDrop === expectDrop)
    assert((0 until 10).forall(i => gotDrop.contains(i + 100000L)), "all twins drop")

    // the maintenance loop: delete the drops, store is twin-free
    vs.delete(gotDrop.toSeq.sorted)
    assert(vs.listIds().agg(sum("n_vectors")).head().getLong(0)
      === base.count() + 10 - gotDrop.size)
  }

  test("upsert replaces by id and delete removes, touching only affected shards") {
    val dir = Files.createTempDirectory("graft-upsert").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(emb, iters = 2)
    val n0 = vs.listIds().agg(sum("n_vectors")).head().getLong(0)

    // upsert: replace vector 7 with vector 9's data (id stays 7)
    import spark.implicits._
    val v9 = emb.filter(col("id") === 9)
      .select(col("vector").cast("array<double>")).head().getSeq[Double](0)
    vs.upsert(Seq((7L, v9)).toDF("id", "vector"))
    assert(vs.listIds().agg(sum("n_vectors")).head().getLong(0) === n0)
    assert(vs.get(7).select("vector").head().getSeq[Double](0) === v9)

    // delete removes exactly the requested ids
    vs.delete(Seq(7L, 11L))
    assert(vs.listIds().agg(sum("n_vectors")).head().getLong(0) === n0 - 2)
    assert(vs.get(7).count() === 0 && vs.get(11).count() === 0)
    assert(vs.get(12).count() === 1)
  }

  test("string ids round-trip through store -> get -> upsert -> delete") {
    // the reference keys vectors by TEXT (storage_server.py id TEXT
    // PRIMARY KEY; test.py derives string ids by hashing) — mirror that
    val dir = Files.createTempDirectory("graft-strid").toString
    val emb = Tables.embeddings(spark, sf)
      .select(md5(col("vec_id").cast("string")).as("id"),
        col("embedding").as("vector"))
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(emb, iters = 2)
    val n0 = vs.listIds().agg(sum("n_vectors")).head().getLong(0)
    assert(n0 === emb.count())

    val id7 = emb.orderBy("id").limit(8).collect().last.getString(0)
    val got = vs.get(id7).select("vector").head().getSeq[Double](0)
    val want = emb.filter(col("id") === id7)
      .select(col("vector").cast("array<double>")).head().getSeq[Double](0)
    assert(got === want)

    // upsert under a string key replaces in place
    import spark.implicits._
    val flipped = want.map(-_)
    vs.upsert(Seq((id7, flipped)).toDF("id", "vector"))
    assert(vs.listIds().agg(sum("n_vectors")).head().getLong(0) === n0)
    assert(vs.get(id7).select("vector").head().getSeq[Double](0) === flipped)

    // delete by string id
    vs.delete(Seq(id7))
    assert(vs.get(id7).count() === 0)
    assert(vs.listIds().agg(sum("n_vectors")).head().getLong(0) === n0 - 1)
  }

  test("OPQ store: rotated compressed search matches raw top-k end-to-end") {
    // the correlated regime OPQ exists for: 8 latent axes with decaying
    // scales mixed densely into 64 dims (same shape as OpqSpec)
    val rnd = new scala.util.Random(4242)
    val w = Array.fill(8, 64)(rnd.nextGaussian())
    val z = (0 until 8).map(j => (rand(seed = 900 + j) - 0.5) * (6.0 / (j + 1)))
    val x = (0 until 64).map { i =>
      z.zipWithIndex.map { case (zj, j) => zj * w(j)(i) }.reduce(_ + _) +
        (rand(seed = 2000 + i) - 0.5) * 0.05
    }
    val vecs = spark.range(0, 2000, 1, 8)
      .select(col("id"), array(x: _*).as("vector"))
    val dir = Files.createTempDirectory("graft-opqstore").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(vecs, iters = 3, pqSubspaces = 16, opqRotate = true)
    assert(vs.opqRotation().exists(r => r.length == 64 && r(0).length == 64))

    val q = vecs.filter(col("id") === 17)
      .select(col("vector").cast("array<double>")).head().getSeq[Double](0).toArray
    // rotated-compressed search reproduces the raw-vector top-k (the
    // shortlist re-rank is exact; rotation must not break routing,
    // offsets, or the ADC space)
    val exact = vs.search(q, topK = 5, nprobe = 4).collect()
    val comp = vs.search(q, topK = 5, nprobe = 4, compressed = true, shortlist = 100).collect()
    assert(comp.map(_.getLong(0)).toSeq === exact.map(_.getLong(0)).toSeq)
    comp.zip(exact).foreach { case (c, e) =>
      assert(math.abs(c.getDouble(2) - e.getDouble(2)) < 1e-9)
    }

    // ingest through store() keeps the rotated-code shape: a vector
    // stored post-build is findable by compressed search
    import spark.implicits._
    vs.store(Seq((9999L, q.toSeq)).toDF("id", "vector"))
    val top2 = vs.search(q, topK = 2, nprobe = 4, compressed = true)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 === Seq(17L, 9999L)) // both cosine 1.0; id breaks the tie

    // the streaming reconstruction path applies the INVERSE rotation:
    // cosine(raw, centroid + R^T decode(codes)) stays ~1, and wiring
    // the rotation through scoreIvfCompressed tracks exact scoring
    val model = vs.pqModel().get
    val cents = vs.centroids()
    val corpus = spark.read.parquet(s"$dir/vectors")
      .withColumn("shard", col("shard").cast("long"))
    val ordered = cents.sortBy(_._1).map(_._2.toSeq).toSeq
    val recon = zip_with(
      element_at(typedlit(ordered), col("shard").cast("int") + 1),
      graft.vector.Opq.decodeRawCol(col("pq_codes"), graft.vector.Opq.Model(
        graft.vector.Pca.Model(new Array[Double](64), vs.opqRotation().get), model)),
      (c, r) => c + r)
    // a wrong-basis reconstruction (missing/incorrect inverse) scores
    // near zero on dense correlated data; genuine 16x16 quantization
    // error on this corpus leaves the mean ~0.99 with a worst row ~0.88
    val cos = corpus
      .select(cosineSim(col("vector").cast("array<double>"), recon).as("c"))
      .agg(min("c").as("mn"), avg("c").as("av")).head()
    assert(cos.getDouble(0) > 0.8, s"worst inverse-rotated reconstruction cosine $cos")
    assert(cos.getDouble(1) > 0.97, s"mean inverse-rotated reconstruction cosine $cos")

    val queries = vecs.filter(col("id") < 3)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
    import graft.streaming.StreamingSearch
    def top5(df: org.apache.spark.sql.DataFrame) =
      StreamingSearch.topKPerQuery(df, 5).select("query_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (qq, xs) => qq -> xs.map(_._2).toSet }
    val compTop = top5(StreamingSearch.scoreIvfCompressed(
      queries, corpus, cents.toSeq, model, residual = true, nprobe = 4,
      rotation = vs.opqRotation()))
    val exactTop = top5(StreamingSearch.scoreIvf(queries, corpus, cents.toSeq, nprobe = 4))
    (0L until 3L).foreach { qq =>
      assert((compTop(qq) intersect exactTop(qq)).size >= 4,
        s"query $qq: ${compTop(qq)} vs ${exactTop(qq)}")
    }

    // a centroid refresh re-encodes THROUGH the rotation (withCodes
    // gets the persisted rotation from the meta): the rotation
    // survives and compressed search still matches exact afterwards
    val (touchedR, _) = vs.refreshCentroids(sampleFraction = 1.0, iters = 2)
    assert(touchedR.nonEmpty && vs.opqRotation().isDefined)
    val comp3 = vs.search(q, topK = 5, nprobe = 4, compressed = true, shortlist = 100)
      .collect().map(_.getLong(0)).toSeq
    assert(comp3 === vs.search(q, topK = 5, nprobe = 4).collect().map(_.getLong(0)).toSeq)
  }

  test("per-shard codebooks cut ADC error vs one global book at 16 shards") {
    // 16 clusters; within cluster c the residual is t·d_c for a dense
    // cluster-SPECIFIC direction d_c (plus tiny noise). A global book's
    // subspaces must model the mixture of 16 different line segments;
    // a per-shard book models one segment with all 16 codes — the
    // locally-adaptive regime per-shard books exist for.
    val rnd = new scala.util.Random(77)
    val dirs = Array.tabulate(16) { _ =>
      val d = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(d.map(x => x * x).sum); d.map(_ / n)
    }
    val cluster = pmod(col("id"), lit(16)).cast("int")
    val t = (rand(seed = 5) - 0.5) * 2.0
    val vec = array((0 until 64).map { i =>
      val center = element_at(typedlit(Array.tabulate(16)(c =>
        if (i / 4 == c) 10.0 else 0.0).toSeq), cluster + 1)
      val drift = element_at(typedlit(dirs.map(_(i)).toSeq), cluster + 1) * t
      center + drift + (rand(seed = 3000 + i) - 0.5) * 0.02
    }: _*)
    val vecs = spark.range(0, 3200, 1, 8).select(col("id"), vec.as("vector"))
    val dirG = Files.createTempDirectory("graft-psq-g").toString
    val dirS = Files.createTempDirectory("graft-psq-s").toString
    val vsG = new VectorStore(spark, dirG, numShards = 16)
    val vsS = new VectorStore(spark, dirS, numShards = 16)
    vsG.build(vecs, iters = 3, pqSubspaces = 16)
    vsS.build(vecs, iters = 3, pqSubspaces = 16, pqPerShard = true)
    assert(vsG.pqModel().isDefined && vsS.pqModel().isEmpty)
    assert(vsS.pqBooks().exists(_.isPerShard))

    val q = vecs.filter(col("id") === 1)
      .select(col("vector").cast("array<double>")).head().getSeq[Double](0).toArray
    val qn = math.sqrt(q.map(x => x * x).sum)
    def adcErr(vs: VectorStore, dir: String): Double = {
      val offs = vs.centroids().sortBy(_._1)
        .map { case (_, c) => c.zip(q).map { case (a, b) => a * b }.sum }.toSeq
      // an OPQ store's codes live in rotated space: the ADC query must
      // be R q (exactly what searchWhere does internally)
      val qa = vs.opqRotation()
        .map(_.map(row => row.zip(q).map { case (a, b) => a * b }.sum))
        .getOrElse(q)
      val adc = vs.pqBooks().get match {
        case graft.vector.ProductQuantizer.GlobalBooks(m) =>
          graft.vector.ProductQuantizer.adcDot(col("pq_codes"), qa, m)
        case ps: graft.vector.ProductQuantizer.PerShardBooks =>
          graft.vector.ProductQuantizer.adcDotPerShard(
            col("pq_codes"), col("shard"), qa, ps)
      }
      spark.read.parquet(s"$dir/vectors")
        .withColumn("shard", col("shard").cast("long"))
        .withColumn("approx",
          (element_at(typedlit(offs), col("shard").cast("int") + 1) + adc) /
            (col("vnorm") * qn))
        .withColumn("truth", cosineSim(col("vector").cast("array<double>"), typedlit(q.toSeq)))
        .agg(avg(abs(col("approx") - col("truth")))).head().getDouble(0)
    }
    val errG = adcErr(vsG, dirG)
    val errS = adcErr(vsS, dirS)
    info(s"mean ADC cosine error: global=$errG per-shard=$errS")
    assert(errS <= errG,
      s"per-shard books must not lose to the global book: $errS vs $errG")
    assert(errS < errG * 0.7, s"expected a clear local-book win: $errS vs $errG")

    // compressed search on the per-shard store reproduces exact top-5,
    // and ingest through store() keeps the per-shard code shape
    val exact = vsS.search(q, topK = 5, nprobe = 16).collect().map(_.getLong(0)).toSeq
    val comp = vsS.search(q, topK = 5, nprobe = 16, compressed = true, shortlist = 100)
      .collect().map(_.getLong(0)).toSeq
    assert(comp === exact)
    import spark.implicits._
    vsS.store(Seq((9999L, q.toSeq)).toDF("id", "vector"))
    val top2 = vsS.search(q, topK = 2, nprobe = 16, compressed = true)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 === Seq(1L, 9999L))

    // the COMPOSED store — global OPQ rotation + per-shard books —
    // builds, round-trips, and keeps the local-book ADC win
    val dirC = Files.createTempDirectory("graft-psq-c").toString
    val vsC = new VectorStore(spark, dirC, numShards = 16)
    vsC.build(vecs, iters = 3, pqSubspaces = 16, pqPerShard = true, opqRotate = true)
    assert(vsC.pqBooks().exists(_.isPerShard) && vsC.opqRotation().isDefined)
    val errC = adcErr(vsC, dirC)
    info(s"mean ADC cosine error: composed(rotation+per-shard)=$errC")
    assert(errC < errG * 0.7,
      s"composed store should keep the local-book win over the global book: $errC vs $errG")
    val exactC = vsC.search(q, topK = 5, nprobe = 16).collect().map(_.getLong(0)).toSeq
    val compC = vsC.search(q, topK = 5, nprobe = 16, compressed = true, shortlist = 100)
      .collect().map(_.getLong(0)).toSeq
    assert(compC === exactC)

    // the streaming code-only scoring path handles per-shard books —
    // plain and composed-with-rotation — tracking exact scoring
    import graft.streaming.StreamingSearch
    val queries3 = vecs.filter(col("id") < 3)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
    def top5(df: org.apache.spark.sql.DataFrame) =
      StreamingSearch.topKPerQuery(df, 5).select("query_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (qq, xs) => qq -> xs.map(_._2).toSet }
    for ((vsX, dirX) <- Seq((vsS, dirS), (vsC, dirC))) {
      val corpusX = spark.read.parquet(s"$dirX/vectors")
        .withColumn("shard", col("shard").cast("long"))
      val books = vsX.pqBooks().get.asInstanceOf[graft.vector.ProductQuantizer.PerShardBooks]
      // basis correctness: the broadcast-book reconstruction must sit
      // on the raw vectors (a wrong subspace embedding or a missing /
      // incorrect inverse rotation scores ~0.87 on this data, see the
      // OPQ test). Top-5 overlap is NOT asserted tightly here: this
      // corpus packs ~12 points per quantization cell along each
      // cluster's residual line, so code-only scoring legitimately
      // ties and reorders within a cell.
      val scored = StreamingSearch.scoreIvfCompressedPerShard(
        queries3, corpusX, vsX.centroids().toSeq, books, residual = true,
        nprobe = 16, rotation = vsX.opqRotation())
      val exact5 = top5(StreamingSearch.scoreIvf(
        queries3, corpusX, vsX.centroids().toSeq, nprobe = 16))
      val comp5 = top5(scored)
      (0L until 3L).foreach { qq =>
        assert((comp5(qq) intersect exact5(qq)).size >= 3,
          s"$dirX query $qq: ${comp5(qq)} vs ${exact5(qq)}")
        assert(comp5(qq).contains(qq),
          s"$dirX query $qq must find its own row at cosine ~1")
      }
      val meanScore = scored.filter(col("query_id") === col("id"))
        .agg(avg("score")).head().getDouble(0)
      assert(meanScore > 0.999,
        s"$dirX self-score through reconstruction: $meanScore")
    }
  }

  test("maintain() heals recall after cluster drift and compacts ingest files") {
    // 4 clusters on 16-dim axis blocks; cluster = id % 4 so the
    // deterministic seeds hit distinct clusters
    // hash-based jitter: a modular-arithmetic jitter like (id*31+d)%7
    // collapses to id%7 — only 7 distinct jitter patterns, so a point's
    // exact twins (its whole true-neighbor set) share its shard and the
    // split never shows in recall
    def clustered(center: Int => org.apache.spark.sql.Column, from: Long = 0L,
                  until: Long = 2000L) =
      spark.range(from, until, 1, 8).select(col("id"),
        array((0 until 64).map { d =>
          center(d) +
            (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) * 0.003
        }: _*).as("vector"))
    def home(d: Int) = when(pmod(col("id"), lit(4)) === d / 16, 5.0).otherwise(0.0)
    val original = clustered(home)
    val dir = Files.createTempDirectory("graft-maint").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(original, iters = 3)

    // cluster 1 drifts to the MIDPOINT of its old home and cluster 2's:
    // the stale router splits its points across shards 1 and 2 by
    // jitter sign — the classic stale-centroid recall killer (a query
    // probing one shard sees only half the cluster)
    val drifted = clustered(d =>
      if (d / 16 == 1 || d / 16 == 2) lit(2.5) else lit(0.0))
      .filter(pmod(col("id"), lit(4)) === 1)
    vs.upsert(drifted)
    // ingest churn for the compaction below: three micro-batch appends
    // of fresh cluster-3 vectors, each one more small file in that
    // cluster's shard (an upsert rewrites each shard it touches as one
    // file, so it leaves nothing to compact)
    (0 until 3).foreach(b => vs.store(clustered(home, 2000L + 40 * b, 2040L + 40 * b)
      .filter(pmod(col("id"), lit(4)) === 3)))

    val q = drifted.filter(col("id") === 1)
      .select(col("vector").cast("array<double>")).head().getSeq[Double](0)
      .toArray
    // nudge on block 0 — NEUTRAL to the shard-1/shard-2 tie (equidistant
    // change to both centroids) and to the split sides, so the true
    // neighbor set stays uncorrelated with the stale shard assignment
    // (a nudge inside block 1 would bias the top-10 toward exactly the
    // points that routed to shard 1 and mask the split)
    q(0) += 0.5
    val truth = spark.read.parquet(s"$dir/vectors")
      .withColumn("s", cosineSim(col("vector").cast("array<double>"), typedlit(q.toSeq)))
      .orderBy(desc("s"), col("id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    def recall1 = vs.search(q, topK = 10, nprobe = 1).collect()
      .map(_.getLong(0)).toSet.intersect(truth).size
    val before = recall1
    assert(before <= 7, s"stale centroids should split the drifted cluster: $before/10")

    // one maintenance pass: warm-started refresh consolidates the
    // drifted cluster into one shard (its old centroid, emptied of
    // original mass, converges onto the midpoint cluster) and the
    // appended small files compact back to one per shard
    val m = vs.maintain(sampleFraction = 1.0, iters = 3, targetFileBytes = 1L << 30)
    val after = recall1
    assert(after >= 9, s"refresh should consolidate the drifted cluster: $after/10")
    assert(after > before)
    assert(m.vectorsRerouted > 0)
    assert(m.compaction.forall { case (_, b, a) => a <= b }
      && m.compaction.exists { case (_, b, a) => a < b },
      s"compaction report: ${m.compaction}")
  }

  test("recall-curve eval makes search self-tune nprobe to a recall target") {
    // 4 true clusters on 16-dim axis blocks, indexed into 8 shards:
    // Lloyd splits each cluster across ~2 shards, so a query's true
    // neighbor set straddles shards and nprobe=1 CANNOT reach high
    // recall — the regime the persisted recall curve exists for
    val corpus = spark.range(0, 2000, 1, 8).select(col("id"),
      array((0 until 64).map { d =>
        when(pmod(col("id"), lit(4)) === d / 16, 5.0).otherwise(0.0) +
          (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) * 0.003
      }: _*).as("vector"))
    val dir = Files.createTempDirectory("graft-recall").toString
    val vs = new VectorStore(spark, dir, numShards = 8)
    vs.build(corpus, iters = 3)

    val curve = vs.evalRecall(nQueries = 48, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(curve(8L) === 10000L, "full probe is exact by construction")
    assert(curve(1L) < 9500L, "the split clusters must make nprobe=1 insufficient")

    val p = vs.nprobeFor(0.95)
    assert(p > 1 && p < 8, s"tuning should prune (1 < p < 8), got $p")

    // measured recall at the tuned nprobe on queries OUTSIDE the eval
    // sample (eval used ids 0-47)
    val qs = corpus.filter(col("id") >= 100 && col("id") < 116)
      .select(col("id"), col("vector").cast("array<double>").as("v")).collect()
    val store = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("vector").cast("array<double>").as("v"))
    var hit = 0; var tot = 0
    qs.foreach { r =>
      val qv = r.getSeq[Double](1).toArray
      val truth = store.filter(col("id") =!= r.getLong(0))
        .withColumn("s", cosineSim(col("v"), typedlit(qv.toSeq)))
        .orderBy(desc("s"), col("id").asc).limit(10)
        .collect().map(_.getLong(0)).toSet
      val got = vs.searchAtRecall(qv, topK = 11, targetRecall = 0.95)
        .collect().map(_.getLong(0)).filter(_ != r.getLong(0)).take(10).toSet
      hit += truth.intersect(got).size; tot += 10
    }
    assert(hit.toDouble / tot >= 0.95,
      s"requested recall 0.95 -> measured ${hit.toDouble / tot} at nprobe=$p")
  }

  test("filtered-slice recall curve: slice tunes differently, drift refuses, maintenance heals") {
    // the 4-cluster fixture again, but the ALLOWED slice is one
    // cluster's members: for the store-wide query sample (all four
    // clusters) the slice's true neighbors concentrate in the ~2
    // shards holding cluster 0 — which are NOT most queries' nearest
    // shards — so the slice's measured curve needs deeper probing
    // than the whole corpus's. Tuning a filtered path on the corpus
    // curve would under-probe; exactly what round 14 fixes.
    val corpus = spark.range(0, 2000, 1, 8).select(col("id"),
      array((0 until 64).map { d =>
        when(pmod(col("id"), lit(4)) === d / 16, 5.0).otherwise(0.0) +
          (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) * 0.003
      }: _*).as("vector"))
    val dir = Files.createTempDirectory("graft-recall-slice").toString
    val vs = new VectorStore(spark, dir, numShards = 8)
    vs.build(corpus, iters = 3)
    val slice = corpus.filter(pmod(col("id"), lit(4)) === 0).select("id")

    // corpus curve only: an UNMEASURED slice falls back to full probe
    vs.evalRecall(nQueries = 48, topK = 10)
    val pCorpus = vs.nprobeFor(0.95)
    assert(pCorpus < 8)
    assert(vs.nprobeFor(0.95, allowed = Some(slice)) === 8,
      "unmeasured slice must fall back to full probing")

    // measured slice curve: keyed by content stamp, tunes deeper than
    // the corpus curve on this geometry
    val t = vs.evalRecall(nQueries = 48, topK = 10, allowed = Some(slice))
    val stamps = t.select("allowed_stamp").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(stamps.size === 2 && stamps.contains(0L),
      s"rows must key whole-corpus (0) and slice stamps, got $stamps")
    val pSlice = vs.nprobeFor(0.95, allowed = Some(slice))
    assert(pSlice > pCorpus,
      s"slice truths concentrate off the query's nearest shards — " +
        s"expected deeper probe than corpus ($pCorpus), got $pSlice")
    // the corpus tune is untouched by the slice measurement
    assert(vs.nprobeFor(0.95) === pCorpus)

    // a re-measured corpus curve KEEPS the slice rows (merge policy)
    vs.evalRecall(nQueries = 48, topK = 10)
    assert(vs.nprobeFor(0.95, allowed = Some(slice)) === pSlice)

    // duplicate multiplicity is NOT slice identity: restrictSlice's
    // left_semi join dedups the allowed frame, so a tenant filter
    // that emits duplicate ids names the SAME effective slice and
    // must serve the measured curve — not trip the drift refusal
    assert(vs.nprobeFor(0.95, allowed = Some(slice.unionByName(slice))) === pSlice)

    // slice drift: same mode, different allowed set -> loud refusal
    val drifted = corpus.filter(pmod(col("id"), lit(4)) === 0)
      .filter(col("id") =!= 0).select("id")
    val ex = intercept[IllegalStateException] {
      vs.nprobeFor(0.95, allowed = Some(drifted))
    }
    assert(ex.getMessage.contains("DIFFERENT"))

    // staleness + healing: new routing stales BOTH curves; one
    // maintainCurves() re-measures the slice from its persisted ids
    vs.build(corpus, iters = 2)
    intercept[IllegalStateException] { vs.nprobeFor(0.95, allowed = Some(slice)) }
    val m = vs.maintainCurves()
    assert(m.recallRefreshed >= 2,
      s"corpus AND slice modes must re-measure, got ${m.recallRefreshed}")
    assert(vs.nprobeFor(0.95, allowed = Some(slice)) >= 1, "healed slice serves")
    assert(vs.nprobeFor(0.95) >= 1, "healed corpus curve serves")
  }

  test("filtered-slice radius curve: slice-keyed rows, drift refusal, rangeJoinAtRecall tunes on the slice") {
    val corpus = spark.range(0, 800, 1, 8).select(col("id"),
      array((0 until 32).map { d =>
        when(pmod(col("id"), lit(4)) === d / 8, 5.0).otherwise(0.0) +
          (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) * 0.003
      }: _*).as("vector"))
    val dir = Files.createTempDirectory("graft-range-slice").toString
    val vs = new VectorStore(spark, dir, numShards = 8)
    vs.build(corpus, iters = 3)
    val slice = corpus.filter(pmod(col("id"), lit(4)) === 0).select("id")
    val tau = 0.9

    vs.evalRangeRecall(minScore = tau, nQueries = 32)
    val pCorpus = vs.nprobeForRange(tau, target = 0.95)
    assert(vs.nprobeForRange(tau, target = 0.95, allowed = Some(slice)) === 8,
      "unmeasured slice falls back to full probe")
    vs.evalRangeRecall(minScore = tau, nQueries = 32, allowed = Some(slice))
    val pSlice = vs.nprobeForRange(tau, target = 0.95, allowed = Some(slice))
    assert(pSlice >= 1 && pSlice <= 8)
    // corpus rows survive the slice measurement and vice versa
    assert(vs.nprobeForRange(tau, target = 0.95) === pCorpus)
    // τ ≥ 0.9 within one axis cluster: truths are same-cluster docs, so
    // the slice's τ-curve exists and serves the filtered join
    val q = corpus.filter(col("id") < 4)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
    val served = vs.rangeJoinAtRecall(q, minScore = tau, targetRecall = 0.95,
      allowed = Some(slice), excludeSelf = true)
    assert(served.filter(pmod(col("id"), lit(4)) =!= 0).isEmpty,
      "filtered serving returns slice members only")
    // drifted slice refuses
    val drifted = slice.filter(col("id") =!= 0)
    val ex = intercept[IllegalStateException] {
      vs.nprobeForRange(tau, target = 0.95, allowed = Some(drifted))
    }
    assert(ex.getMessage.contains("DIFFERENT"))
  }

  test("two families hold DIFFERENT slices: maintenance heals each from its own persisted ids") {
    // recall curve measured on slice A, radius curve on slice B; a
    // routing change stales both; one maintainCurves must re-measure
    // each with ITS OWN id set (review regression: a single shared id
    // directory re-measured one family's slice with the other's ids,
    // re-keying the curve so the original slice refused forever)
    val corpus = spark.range(0, 800, 1, 8).select(col("id"),
      array((0 until 32).map { d =>
        when(pmod(col("id"), lit(4)) === d / 8, 5.0).otherwise(0.0) +
          (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) * 0.003
      }: _*).as("vector"))
    val dir = Files.createTempDirectory("graft-two-slices").toString
    val vs = new VectorStore(spark, dir, numShards = 8)
    vs.build(corpus, iters = 3)
    val sliceA = corpus.filter(pmod(col("id"), lit(4)) === 0).select("id")
    val sliceB = corpus.filter(pmod(col("id"), lit(4)) === 1).select("id")
    vs.evalRecall(nQueries = 16, topK = 5, allowed = Some(sliceA))
    vs.evalRangeRecall(minScore = 0.9, nQueries = 16, allowed = Some(sliceB))
    assert(vs.nprobeFor(0.9, allowed = Some(sliceA)) >= 1)
    assert(vs.nprobeForRange(0.9, target = 0.9, allowed = Some(sliceB)) >= 1)
    // routing change stales both families' slice curves
    vs.build(corpus, iters = 2)
    intercept[IllegalStateException](vs.nprobeFor(0.9, allowed = Some(sliceA)))
    val m = vs.maintainCurves()
    assert(m.recallRefreshed >= 1 && m.rangeRefreshed >= 1, s"got $m")
    // each family healed with ITS slice: tuning with the original
    // slices serves; tuning with the OTHER family's slice refuses
    assert(vs.nprobeFor(0.9, allowed = Some(sliceA)) >= 1,
      "recall slice A must heal with A's ids")
    assert(vs.nprobeForRange(0.9, target = 0.9, allowed = Some(sliceB)) >= 1,
      "range slice B must heal with B's ids")
    intercept[IllegalStateException](vs.nprobeFor(0.9, allowed = Some(sliceB)))
    intercept[IllegalStateException](
      vs.nprobeForRange(0.9, target = 0.9, allowed = Some(sliceA)))
  }

  test("evalRecall merges modes: a raw re-measurement keeps the compressed curve") {
    val corpus = spark.range(0, 512, 1, 8).select(col("id"),
      array((0 until 64).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-recall-merge").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2, pqSubspaces = 16, pqCodes = 16)
    vs.evalRecall(nQueries = 16, topK = 5, compressed = true, shortlist = 16)
    val before = spark.read.parquet(s"$dir/recall_eval")
      .filter(col("compressed")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before.nonEmpty)
    // a later raw-only re-measurement must MERGE, not clobber: the
    // compressed rows carry over untouched and stay consultable
    vs.evalRecall(nQueries = 16, topK = 5)
    val after = spark.read.parquet(s"$dir/recall_eval")
    assert(after.filter(col("compressed")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap === before,
      "raw re-measurement must not erase or alter the compressed curve")
    assert(after.filter(!col("compressed")).count() > 0)
    val p = vs.nprobeFor(0.5, compressed = true, shortlist = 16)
    assert(p >= 1 && p <= 4)
    // re-measuring the SAME mode replaces its own rows (no duplicates)
    vs.evalRecall(nQueries = 16, topK = 5, compressed = true, shortlist = 16)
    val counts = spark.read.parquet(s"$dir/recall_eval")
      .groupBy("compressed", "shortlist", "nprobe").count()
      .filter(col("count") > 1).count()
    assert(counts === 0L, "per-(mode, depth) rows must stay unique across re-runs")
    // a re-measurement at a DIFFERENT top_k supersedes carried rows:
    // recall@k is a different metric per k, and nprobeFor reads the
    // table mode-keyed without a k filter — mixed-k curves would let
    // it pick a depth from the wrong metric
    vs.evalRecall(nQueries = 16, topK = 3)
    val t = spark.read.parquet(s"$dir/recall_eval")
    assert(t.filter(col("top_k") =!= 3L).count() === 0L,
      "rows measured at a different top_k must not survive the merge")
    assert(t.filter(col("compressed")).count() === 0L,
      "the stale-k compressed curve is superseded, not carried")
  }

  test("evalRecall(metric = l2): measured L2 curve tunes searchAtRecall; modes stay isolated") {
    val L2 = graft.plans.ShardTopKJoin.Metric.L2
    // the self-tune corpus shape: 4 true clusters split over 8 shards,
    // so nprobe=1 cannot reach high L2 recall either
    val corpus = spark.range(0, 1200, 1, 8).select(col("id"),
      array((0 until 64).map { d =>
        when(pmod(col("id"), lit(4)) === d / 16, 5.0).otherwise(0.0) +
          (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) * 0.003
      }: _*).as("vector"))
    val dir = Files.createTempDirectory("graft-recall-l2").toString
    val vs = new VectorStore(spark, dir, numShards = 8)
    vs.build(corpus, iters = 3)

    val curve = vs.evalRecall(nQueries = 32, topK = 10, metric = L2)
      .filter(col("metric") === L2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(curve(8L) === 10000L, "full probe is exact by construction")
    assert(curve(1L) < 9500L, "split clusters must make nprobe=1 insufficient")
    val p = vs.nprobeFor(0.95, metric = L2)
    assert(p > 1 && p < 8, s"L2 tuning should prune (1 < p < 8), got $p")
    // an UNMEASURED mode (cosine) falls back to full probing — exact,
    // never a tune borrowed from the wrong geometry
    assert(vs.nprobeFor(0.95) === 8, "cosine request on an L2-only table")

    // measured L2 recall at the tuned depth on held-out queries
    val store = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("vector").cast("array<double>").as("v"))
    val qs = corpus.filter(col("id") >= 100 && col("id") < 112)
      .select(col("id"), col("vector").cast("array<double>").as("v")).collect()
    var hit = 0; var tot = 0
    qs.foreach { r =>
      val qv = r.getSeq[Double](1).toArray
      val truth = store.filter(col("id") =!= r.getLong(0))
        .withColumn("s", l2Dist(col("v"), typedlit(qv.toSeq)))
        .orderBy(asc("s"), col("id").asc).limit(10)
        .collect().map(_.getLong(0)).toSet
      val got = vs.searchAtRecall(qv, topK = 11, targetRecall = 0.95, metric = L2)
        .collect().map(_.getLong(0)).filter(_ != r.getLong(0)).take(10).toSet
      hit += truth.intersect(got).size; tot += 10
    }
    assert(hit.toDouble / tot >= 0.95,
      s"requested L2 recall 0.95 -> measured ${hit.toDouble / tot} at nprobe=$p")

    // the single-query L2 path: score IS the distance, rank ascends it
    val qv0 = qs.head.getSeq[Double](1).toArray
    val got = vs.search(qv0, topK = 5, nprobe = 8, metric = L2).collect()
    val want = store.withColumn("s", l2Dist(col("v"), typedlit(qv0.toSeq)))
      .orderBy(asc("s"), col("id").asc).limit(5)
      .select("id", "s").collect()
    assert(got.map(_.getLong(0)).toSeq === want.map(_.getLong(0)).toSeq)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getDouble(2) === w.getDouble(1), "score must be the L2 distance") }

    // compressed + L2 refused on every entry point
    val e1 = intercept[IllegalArgumentException] {
      vs.search(qv0, topK = 5, nprobe = 2, compressed = true, metric = L2) }
    assert(e1.getMessage.contains("cosine-only"))
    val e2 = intercept[IllegalArgumentException] {
      vs.evalRecall(nQueries = 8, topK = 5, compressed = true, metric = L2) }
    assert(e2.getMessage.contains("cosine-only"))

    // a later cosine measurement MERGES — both curves coexist and each
    // mode tunes from its own geometry
    vs.evalRecall(nQueries = 32, topK = 10)
    val t = spark.read.parquet(s"$dir/recall_eval")
    assert(t.filter(col("metric") === L2).count() === 8L,
      "cosine re-measurement must not erase the L2 curve")
    assert(t.filter(col("metric") =!= L2).count() === 8L)
    assert(vs.nprobeFor(0.95) < 8, "cosine now measured -> tunes")
  }

  test("searchJoin equals the per-query search loop, filtered and salted included") {
    val corpus = spark.range(0, 512, 1, 8).select(col("id"),
      array((0 until 32).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-searchjoin").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2)
    val queries = corpus.filter(col("id") < 12)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
    def canon(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9).toLong)).toSet
    val got = canon(vs.searchJoin(queries, topK = 5, nprobe = 2).collect())
    val qrows = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val want = qrows.flatMap { case (qid, qv) =>
      vs.search(qv, topK = 5, nprobe = 2).collect().zipWithIndex.map {
        case (x, i) => org.apache.spark.sql.Row(qid, i + 1L, x.getLong(0), x.getDouble(2)) }
    }
    assert(got === canon(want), "join-scale results must equal the search loop")

    // filter-then-search at join scale: allowed ids semi-join before
    // scoring — equals a searchWhere loop over the same allowed set
    val allowed = corpus.filter(col("id") % 3 === 0).select("id")
    val gotF = canon(vs.searchJoin(queries, topK = 5, nprobe = 2,
      allowed = Some(allowed)).collect())
    val wantF = qrows.flatMap { case (qid, qv) =>
      vs.searchWhere(qv, Some(allowed), topK = 5, nprobe = 2).collect()
        .zipWithIndex.map {
          case (x, i) => org.apache.spark.sql.Row(qid, i + 1L, x.getLong(0), x.getDouble(2)) }
    }
    assert(gotF === canon(wantF),
      "filtered join-scale results must equal the searchWhere loop")
    assert(gotF.forall(_._3 % 3 == 0), "only allowed ids may appear")

    // the salt is semantically invisible; excludeSelf drops the
    // rank-1 self match corpus-queries-itself shapes would carry
    assert(canon(vs.searchJoin(queries, topK = 5, nprobe = 2,
      maxRowsPerTask = 40L).collect()) === got)
    val noSelf = vs.searchJoin(queries, topK = 5, nprobe = 2, excludeSelf = true)
      .collect()
    assert(noSelf.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("searchJoin metric=l2: distance top-k equals a driver mirror; compressed+l2 refuses") {
    val corpus = spark.range(0, 256, 1, 8).select(col("id"),
      array((0 until 16).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-sjl2").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2)
    val queries = corpus.filter(col("id") < 6)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
    val got = vs.searchJoin(queries, topK = 4, nprobe = 4, excludeSelf = true,
        metric = graft.plans.ShardTopKJoin.Metric.L2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9).toLong))
      .sortBy(t => (t._1, t._2)).toSeq
    // full-probe L2 mirror on collected vectors
    val vecs = corpus.select(col("id"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
    val want = vecs.filter(_._1 < 6).toSeq.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid).map { case (id, v) => (id, l2(v, qv)) }
        .sortBy { case (id, d) => (d, id) }.take(4).zipWithIndex
        .map { case ((id, d), i) =>
          (qid, i + 1L, id, math.rint(d * 1e9).toLong) }
    }.sortBy(t => (t._1, t._2))
    assert(got === want, "L2 join must rank by ascending distance, ties id asc")
    // rank 1 distance <= rank 2 distance per query (dist emitted, not negated)
    got.groupBy(_._1).values.foreach { rs =>
      val d = rs.sortBy(_._2).map(_._4)
      assert(d === d.sorted)
    }
    val ex = intercept[IllegalArgumentException] {
      vs.searchJoin(queries, topK = 4, compressed = true,
        metric = graft.plans.ShardTopKJoin.Metric.L2)
    }
    assert(ex.getMessage.contains("cosine-only"))
  }

  test("searchJoin metric=ip: MIPS top-k equals a driver mirror; search agrees; compressed+ip refuses") {
    val corpus = spark.range(0, 256, 1, 8).select(col("id"),
      array((0 until 16).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-sjip").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2)
    val queries = corpus.filter(col("id") < 6)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
    val got = vs.searchJoin(queries, topK = 4, nprobe = 4, excludeSelf = true,
        metric = graft.plans.ShardTopKJoin.Metric.Ip)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9).toLong))
      .sortBy(t => (t._1, t._2)).toSeq
    // full-probe inner-product mirror on collected vectors
    val vecs = corpus.select(col("id"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def ip(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val want = vecs.filter(_._1 < 6).toSeq.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid).map { case (id, v) => (id, ip(v, qv)) }
        .sortBy { case (id, s) => (-s, id) }.take(4).zipWithIndex
        .map { case ((id, s), i) =>
          (qid, i + 1L, id, math.rint(s * 1e9).toLong) }
    }.sortBy(t => (t._1, t._2))
    assert(got === want, "Ip join must rank by descending dot, ties id asc")
    // single-query form agrees with the join's page for one query
    val qv2 = vecs.find(_._1 == 2L).get._2
    val single = vs.search(qv2, topK = 4, nprobe = 4,
        metric = graft.plans.ShardTopKJoin.Metric.Ip)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(2) * 1e9).toLong))
      .toSeq
    // search does NOT exclude self — mirror over all vectors
    val wantSingle = vecs.map { case (id, v) => (id, ip(v, qv2)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(4)
      .map { case (id, s) => (id, math.rint(s * 1e9).toLong) }
    assert(single === wantSingle)
    val ex = intercept[IllegalArgumentException] {
      vs.searchJoin(queries, topK = 4, compressed = true,
        metric = graft.plans.ShardTopKJoin.Metric.Ip)
    }
    assert(ex.getMessage.contains("cosine-only"))
    // measured IP recall curve: full probing recovers everything, and
    // the tuned depth serves searchAtRecall without touching the
    // cosine/L2 curves
    vs.evalRecall(nQueries = 6, topK = 4,
      metric = graft.plans.ShardTopKJoin.Metric.Ip)
    val p = vs.nprobeFor(1.0, metric = graft.plans.ShardTopKJoin.Metric.Ip)
    assert(p >= 1 && p <= 4)
  }

  test("compressed searchJoin: code-scan shortlist + exact re-rank equals the raw join") {
    val corpus = spark.range(0, 512, 1, 8).select(col("id"),
      array((0 until 32).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-searchjoin-pq").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2, pqSubspaces = 16, pqCodes = 16)
    val queries = corpus.filter(col("id") < 10)
      .select(col("id").as("query_id"), col("vector").cast("array<double>").as("qv"))
    def canon(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9).toLong)).toSet
    // a generous shortlist must contain every true top-5 member, so
    // the exact re-rank reproduces the raw join bit-for-bit
    val comp = vs.searchJoin(queries, topK = 5, nprobe = 2,
      compressed = true, shortlist = 200)
    assert(canon(comp.collect()) ===
      canon(vs.searchJoin(queries, topK = 5, nprobe = 2).collect()),
      "compressed join with a covering shortlist must equal the raw join")
    // the candidate scan reads codes, not raw vectors: some scan in
    // the plan must list pq_codes WITHOUT the vector column (the
    // re-rank join legitimately reads vectors in its own scan)
    val schemas = "ReadSchema: \\S+".r
      .findAllIn(comp.queryExecution.executedPlan.toString).toSeq
    assert(schemas.exists(s => s.contains("pq_codes") && !s.contains("vector:")),
      s"expected a codes-only candidate scan, got:\n${schemas.mkString("\n")}")
    // a PQ-less store refuses loudly
    val rawDir = Files.createTempDirectory("graft-searchjoin-raw").toString
    val vsRaw = new VectorStore(spark, rawDir, numShards = 4)
    vsRaw.build(corpus, iters = 1)
    intercept[IllegalStateException](
      vsRaw.searchJoin(queries, compressed = true))
  }

  test("serveStream probes a query stream batch-for-batch like searchJoin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.range(0, 512, 1, 8).select(col("id"),
      array((0 until 32).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-vserve").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2, pqSubspaces = 16, pqCodes = 16)
    val qrows: Seq[Seq[(Long, Seq[Double])]] = Seq(Seq(0L, 3L), Seq(7L, 11L)).map(
      ids => corpus.filter(col("id").isin(ids: _*))
        .select(col("id"), col("vector").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
    def canon(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9).toLong)).toSet
    // per-batch results are independent per query, so the streamed
    // union must equal one searchJoin over the combined query set —
    // in BOTH modes, salt included
    def runStream(compressed: Boolean): Set[(Long, Long, Long, Long)] = {
      val tag = if (compressed) "c" else "r"
      val outDir = Files.createTempDirectory(s"graft-vserve-out$tag").toString + "/res"
      val ckpt = Files.createTempDirectory(s"graft-vserve-ck$tag").toString
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = vs.serveStream(input.toDF().toDF("query_id", "qv"), outDir, ckpt,
        topK = 5, nprobe = 2, maxRowsPerTask = 40L,
        compressed = compressed, shortlist = 200)
      try {
        input.addData(qrows.head: _*)
        q.processAllAvailable()
        input.addData(qrows(1): _*)
        q.processAllAvailable()
      } finally q.stop()
      canon(spark.read.parquet(outDir).collect())
    }
    val allQ = qrows.flatten.toDF("query_id", "qv")
    assert(runStream(compressed = false) ===
      canon(vs.searchJoin(allQ, topK = 5, nprobe = 2).collect()),
      "raw streamed serving must equal the one-shot join")
    assert(runStream(compressed = true) ===
      canon(vs.searchJoin(allQ, topK = 5, nprobe = 2,
        compressed = true, shortlist = 200).collect()),
      "compressed streamed serving must equal the one-shot compressed join")
    // a compressed stream over a PQ-less store refuses at start()
    val rawDir2 = Files.createTempDirectory("graft-vserve-nopq").toString
    val vsRaw2 = new VectorStore(spark, rawDir2, numShards = 4)
    vsRaw2.build(corpus, iters = 1)
    intercept[IllegalStateException](vsRaw2.serveStream(
      spark.readStream.format("rate").load()
        .select(col("value").as("query_id"), array(lit(0.0)).as("qv")),
      Files.createTempDirectory("graft-vserve-x").toString + "/res",
      Files.createTempDirectory("graft-vserve-xc").toString,
      compressed = true))
  }

  test("serveStream(metric = l2) equals the one-shot L2 join; compressed + L2 refuses at start") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val L2 = graft.plans.ShardTopKJoin.Metric.L2
    val corpus = spark.range(0, 512, 1, 8).select(col("id"),
      array((0 until 32).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-vserve-l2").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    // PQ-built on purpose: the compressed+L2 refusal below must be
    // about the METRIC, not a missing PQ build
    vs.build(corpus, iters = 2, pqSubspaces = 16, pqCodes = 16)
    val qrows: Seq[Seq[(Long, Seq[Double])]] = Seq(Seq(0L, 3L), Seq(7L, 11L)).map(
      ids => corpus.filter(col("id").isin(ids: _*))
        .select(col("id"), col("vector").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9).toLong)).toSet
    val outDir = Files.createTempDirectory("graft-vserve-l2o").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-vserve-l2c").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val q = vs.serveStream(input.toDF().toDF("query_id", "qv"), outDir, ckpt,
      topK = 5, nprobe = 2, metric = L2)
    try {
      input.addData(qrows.head: _*)
      q.processAllAvailable()
      input.addData(qrows(1): _*)
      q.processAllAvailable()
    } finally q.stop()
    val allQ = qrows.flatten.toDF("query_id", "qv")
    assert(canon(spark.read.parquet(outDir).collect()) ===
      canon(vs.searchJoin(allQ, topK = 5, nprobe = 2, metric = L2).collect()),
      "L2 streamed serving must equal the one-shot L2 join")
    val e = intercept[IllegalArgumentException](vs.serveStream(
      input.toDF().toDF("query_id", "qv"),
      Files.createTempDirectory("graft-vserve-l2x").toString + "/res",
      Files.createTempDirectory("graft-vserve-l2xc").toString,
      compressed = true, metric = L2))
    assert(e.getMessage.contains("cosine-only"),
      "compressed + L2 must refuse at stream start on the metric contract")
  }

  test("hybridJoin fuses both maintained indexes like a per-query RRF loop") {
    import spark.implicits._
    val n = 256
    val corpus = spark.range(0, n, 1, 4).select(col("id"),
      array((0 until 16).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    // text with term frequencies that vary by id, so BM25 ranks are
    // nontrivial and partially disagree with the vector ranks
    val docs = spark.range(0, n).select(col("id").as("doc_id"),
      concat_ws(" ",
        when(col("id") % 3 === 0, "merge merge").otherwise("fx"),
        when(col("id") % 5 === 0, "join").otherwise("fy"),
        concat(lit("w"), pmod(col("id"), lit(11)))).as("text"))
    val vdir = Files.createTempDirectory("graft-hyb-v").toString
    val vs = new VectorStore(spark, vdir, numShards = 4)
    vs.build(corpus, iters = 2)
    val tdir = Files.createTempDirectory("graft-hyb-t").toString
    val idx = new graft.text.TermIndex(spark, tdir, positional = false)
    idx.build(docs)
    val qRows: Seq[(Long, Seq[String])] = Seq(3L -> Seq("merge", "join"),
      10L -> Seq("join", "w3"))
    val qv = corpus.filter(col("id").isin(qRows.map(_._1): _*))
      .select(col("id"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val queries = qRows.map { case (id, t) => (id, t, qv(id)) }
      .toDF("query_id", "terms", "qv")
    val got = graft.vector.Serving
      .hybridJoin(idx, vs, queries, topK = 5, shortlist = 20, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // the loop mirror: per query, each arm's top-20 ranks, Scala-side
    // RRF, top-5 by (rrf desc, doc_id)
    val want = qRows.flatMap { case (id, terms) =>
      val kw = idx.search(terms, k = 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (d, s) => (-s, d) }.zipWithIndex
        .map { case ((d, _), i) => d -> (i + 1) }.toMap
      val vec = vs.search(qv(id).toArray, topK = 20, nprobe = 2).collect()
        .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1) }.toMap
      (kw.keySet ++ vec.keySet).toSeq.map { d =>
        val rrf = kw.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          vec.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (d, rrf, kw.getOrElse(d, 0).toLong, vec.getOrElse(d, 0).toLong)
      }.sortBy { case (d, rrf, _, _) => (-rrf, d) }.take(5).zipWithIndex.map {
        case ((d, rrf, rk, rv), i) =>
          (id, (i + 1).toLong, d, rk, rv, math.rint(rrf * 1e6).toLong)
      }
    }.toSet
    assert(got === want, "join-scale hybrid must equal the per-query RRF loop")
    assert(got.nonEmpty)

    // the streamed twin: per-batch results union to the one-shot join
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft-hyb-out").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-hyb-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String], Seq[Double])]
    val q = graft.vector.Serving.serveHybridStream(idx, vs,
      input.toDF().toDF("query_id", "terms", "qv"), outDir, ckpt,
      topK = 5, shortlist = 20, nprobe = 2)
    try {
      input.addData((3L, Seq("merge", "join"), qv(3L)))
      q.processAllAvailable()
      input.addData((10L, Seq("join", "w3"), qv(10L)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(streamed === got, "streamed hybrid must equal the one-shot join")
  }

  test("hybridJoin passes the vector arm's modes through: filtered+salted and compressed equal per-query loops") {
    import spark.implicits._
    val n = 256
    val corpus = spark.range(0, n, 1, 4).select(col("id"),
      array((0 until 16).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val docs = spark.range(0, n).select(col("id").as("doc_id"),
      concat_ws(" ",
        when(col("id") % 3 === 0, "merge merge").otherwise("fx"),
        when(col("id") % 5 === 0, "join").otherwise("fy"),
        concat(lit("w"), pmod(col("id"), lit(11)))).as("text"))
    val vdir = Files.createTempDirectory("graft-hybm-v").toString
    val vs = new VectorStore(spark, vdir, numShards = 4)
    vs.build(corpus, iters = 2, pqSubspaces = 16)
    val tdir = Files.createTempDirectory("graft-hybm-t").toString
    val idx = new graft.text.TermIndex(spark, tdir, positional = false)
    idx.build(docs)
    val qRows: Seq[(Long, Seq[String])] = Seq(3L -> Seq("merge", "join"),
      10L -> Seq("join", "w3"))
    val qv = corpus.filter(col("id").isin(qRows.map(_._1): _*))
      .select(col("id"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val queries = qRows.map { case (id, t) => (id, t, qv(id)) }
      .toDF("query_id", "terms", "qv")
    val allowedIds = (0L until n.toLong).filter(_ % 2 == 0).toSet
    val allowed = allowedIds.toSeq.toDF("doc_id")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // the per-query mirror: kw ranks from search(allowed), vec ranks
    // from the given per-query single-vector arm, Scala-side RRF
    def loopMirror(kwAllowed: Option[org.apache.spark.sql.DataFrame],
                   vecRanks: Long => Seq[Long]) =
      qRows.flatMap { case (id, terms) =>
        val kw = idx.search(terms, k = 20, allowed = kwAllowed).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
          .sortBy { case (doc, s) => (-s, doc) }.zipWithIndex
          .map { case ((doc, _), i) => doc -> (i + 1) }.toMap
        val vec = vecRanks(id).zipWithIndex
          .map { case (doc, i) => doc -> (i + 1) }.toMap
        (kw.keySet ++ vec.keySet).toSeq.map { doc =>
          val rrf = kw.get(doc).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
            vec.get(doc).map(r => 1.0 / (60 + r)).getOrElse(0.0)
          (doc, rrf, kw.getOrElse(doc, 0).toLong, vec.getOrElse(doc, 0).toLong)
        }.sortBy { case (doc, rrf, _, _) => (-rrf, doc) }.take(5).zipWithIndex.map {
          case ((doc, rrf, rk, rv), i) =>
            (id, (i + 1).toLong, doc, rk, rv, math.rint(rrf * 1e6).toLong)
        }
      }.toSet
    // variant 1: allowed + excludeSelf + salted — the predicated,
    // skew-bounded hybrid; salting must stay result-invariant and the
    // allowed set must restrict BOTH arms
    val got1 = canon(graft.vector.Serving.hybridJoin(idx, vs, queries,
      topK = 5, shortlist = 20, nprobe = 2, allowed = Some(allowed),
      excludeSelf = true, maxRowsPerTask = 16L).collect())
    val want1 = loopMirror(Some(allowed), id =>
      vs.searchWhere(qv(id).toArray, Some(allowedIds.toSeq.toDF("id")),
          topK = 21, nprobe = 2).collect()
        .map(_.getLong(0)).filter(_ != id).take(20).toSeq)
    assert(got1 === want1,
      "filtered+salted hybrid must equal the per-query searchWhere loop")
    assert(got1.forall { case (_, _, doc, _, _, _) => allowedIds(doc) },
      "no disallowed doc may surface in the fused top-k")
    // variant 2: compressed vector arm (ADC shortlist + exact re-rank)
    // — wide shortlist makes it exact, so the raw loop is the mirror
    val comp = graft.vector.Serving.hybridJoin(idx, vs, queries,
      topK = 5, shortlist = 20, nprobe = 2, compressed = true,
      vecShortlist = 300)
    val got2 = canon(comp.collect())
    val want2 = loopMirror(None, id =>
      vs.search(qv(id).toArray, topK = 20, nprobe = 2).collect()
        .map(_.getLong(0)).toSeq)
    assert(got2 === want2,
      "compressed hybrid must equal the per-query raw-arm loop at full shortlist")
    // the hybrid's ADC candidate scan stays codes-only: some store
    // scan lists pq_codes WITHOUT the raw vector column (the exact
    // re-rank join legitimately reads vectors in its own scan)
    val schemas = "ReadSchema: \\S+".r
      .findAllIn(comp.queryExecution.executedPlan.toString).toSeq
    assert(schemas.exists(s => s.contains("pq_codes") && !s.contains("vector:")),
      s"expected a codes-only candidate scan in the hybrid arm, got:\n${schemas.mkString("\n")}")
  }

  test("triJoin fuses keyword + vector + phrase arms like a per-query loop") {
    import spark.implicits._
    val n = 256
    val corpus = spark.range(0, n, 1, 4).select(col("id"),
      array((0 until 16).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    // doc text places the exact phrase "merge join" in a doc subset
    // DISJOINT from the high-BM25 docs, so the phrase arm genuinely
    // reorders the fusion
    val docs = spark.range(0, n).select(col("id").as("doc_id"),
      concat_ws(" ",
        when(col("id") % 3 === 0, "merge merge").otherwise("fx"),
        when(col("id") % 5 === 0, "join").otherwise("fy"),
        when(col("id") % 7 === 0, "merge join").otherwise("fz"),
        concat(lit("w"), pmod(col("id"), lit(11)))).as("text"))
    val vdir = Files.createTempDirectory("graft-tri-v").toString
    val vs = new VectorStore(spark, vdir, numShards = 4)
    vs.build(corpus, iters = 2)
    val tdir = Files.createTempDirectory("graft-tri-t").toString
    val idx = new graft.text.TermIndex(spark, tdir) // positional
    idx.build(docs)
    val qRows: Seq[(Long, Seq[String], Seq[String])] = Seq(
      (3L, Seq("merge", "join"), Seq("merge", "join")),
      (10L, Seq("join", "w3"), Seq("merge", "merge")))
    val qv = corpus.filter(col("id").isin(qRows.map(_._1): _*))
      .select(col("id"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val queries = qRows.map { case (id, t, p) => (id, t, p, qv(id)) }
      .toDF("query_id", "terms", "phrase", "qv")
    val got = graft.vector.Serving
      .triJoin(idx, vs, queries, topK = 5, shortlist = 20, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val want = qRows.flatMap { case (id, terms, phrase) =>
      val kw = idx.search(terms, k = 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (doc, sc) => (-sc, doc) }.zipWithIndex
        .map { case ((doc, _), i) => doc -> (i + 1) }.toMap
      val ph = idx.searchPhrase(phrase, k = 20).collect()
        .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1) }.toMap
      val vec = vs.search(qv(id).toArray, topK = 20, nprobe = 2).collect()
        .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1) }.toMap
      (kw.keySet ++ ph.keySet ++ vec.keySet).toSeq.map { doc =>
        def c(m: Map[Long, Int]) = m.get(doc).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (doc, c(kw) + c(vec) + c(ph), kw.getOrElse(doc, 0).toLong,
          vec.getOrElse(doc, 0).toLong, ph.getOrElse(doc, 0).toLong)
      }.sortBy { case (doc, rrf, _, _, _) => (-rrf, doc) }.take(5).zipWithIndex.map {
        case ((doc, rrf, rk, rv, rp), i) =>
          (id, (i + 1).toLong, doc, rk, rv, rp, math.rint(rrf * 1e6).toLong)
      }
    }.toSet
    assert(got === want, "three-arm fusion must equal the per-query RRF loop")
    assert(got.exists { case (_, _, _, _, _, rp, _) => rp > 0 },
      "the phrase arm must contribute at least one ranked doc")

    // the streamed twin: per-batch results union to the one-shot join
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft-tri-out").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-tri-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String], Seq[String], Seq[Double])]
    val q = graft.vector.Serving.serveTriStream(idx, vs,
      input.toDF().toDF("query_id", "terms", "phrase", "qv"), outDir, ckpt,
      topK = 5, shortlist = 20, nprobe = 2)
    try {
      input.addData((3L, Seq("merge", "join"), Seq("merge", "join"), qv(3L)))
      q.processAllAvailable()
      input.addData((10L, Seq("join", "w3"), Seq("merge", "merge"), qv(10L)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(streamed === got, "streamed three-arm serving must equal the one-shot join")
  }

  test("fusionServing probes arms once; hybrid/tri/re-weighted fusions ride the pinned frames") {
    import spark.implicits._
    val n = 256
    val corpus = spark.range(0, n, 1, 4).select(col("id"),
      array((0 until 16).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val docs = spark.range(0, n).select(col("id").as("doc_id"),
      concat_ws(" ",
        when(col("id") % 3 === 0, "merge merge").otherwise("fx"),
        when(col("id") % 5 === 0, "join").otherwise("fy"),
        when(col("id") % 7 === 0, "merge join").otherwise("fz"),
        concat(lit("w"), pmod(col("id"), lit(11)))).as("text"))
    val vdir = Files.createTempDirectory("graft-fus-v").toString
    val vs = new VectorStore(spark, vdir, numShards = 4)
    vs.build(corpus, iters = 2)
    val tdir = Files.createTempDirectory("graft-fus-t").toString
    val idx = new graft.text.TermIndex(spark, tdir)
    idx.build(docs)
    val qRows: Seq[(Long, Seq[String], Seq[String])] = Seq(
      (3L, Seq("merge", "join"), Seq("merge", "join")),
      (10L, Seq("join", "w3"), Seq("merge", "merge")))
    val qv = corpus.filter(col("id").isin(qRows.map(_._1): _*))
      .select(col("id"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val triQ = qRows.map { case (id, t, p) => (id, t, p, qv(id)) }
      .toDF("query_id", "terms", "phrase", "qv")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (0 until r.length).map(r.get).toSeq).toSet
    // mirrors from the per-call APIs, computed BEFORE the dirs vanish
    val wantHybrid = canon(graft.vector.Serving.hybridJoin(idx, vs,
      triQ.select("query_id", "terms", "qv"), topK = 5, shortlist = 20,
      nprobe = 2).collect())
    val wantWeighted = canon(graft.vector.Serving.hybridJoin(idx, vs,
      triQ.select("query_id", "terms", "qv"), topK = 5, shortlist = 20,
      nprobe = 2, wKw = 2.0, wVec = 1.0).collect())
    val wantTri = canon(graft.vector.Serving.triJoin(idx, vs, triQ,
      topK = 5, shortlist = 20, nprobe = 2).collect())
    // streamed twin FIRST (it needs the live dirs): one arms probe
    // per tick feeds BOTH output pages
    implicit val sqlCtx = spark.sqlContext
    val hyOut = Files.createTempDirectory("graft-fus-hy").toString + "/res"
    val trOut = Files.createTempDirectory("graft-fus-tr").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-fus-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String], Seq[String], Seq[Double])]
    val sq = graft.vector.Serving.serveFusionStream(idx, vs,
      input.toDF().toDF("query_id", "terms", "phrase", "qv"), hyOut, trOut,
      ckpt, topK = 5, shortlist = 20, nprobe = 2)
    try {
      input.addData(qRows.map { case (id, t, p) => (id, t, p, qv(id)) }: _*)
      sq.processAllAvailable()
    } finally sq.stop()
    assert(canon(spark.read.parquet(hyOut).drop("batch").collect()) === wantHybrid,
      "streamed fusion's hybrid page must equal hybridJoin")
    assert(canon(spark.read.parquet(trOut).drop("batch").collect()) === wantTri,
      "streamed fusion's tri page must equal triJoin")

    val fs = graft.vector.Serving.fusionServing(idx, vs,
      topK = 5, shortlist = 20, nprobe = 2)
    val arms = fs.arms(triQ)
    // the probes are PINNED: deleting both index layouts under the
    // session proves no fusion below re-reads an index (a lineage
    // re-execution would throw on the missing paths)
    def rmrf(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(p)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    rmrf(vdir); rmrf(tdir)
    assert(canon(fs.hybrid(arms).collect()) === wantHybrid,
      "pinned-arm hybrid must equal hybridJoin")
    assert(canon(fs.hybrid(arms, wKw = 2.0, wVec = 1.0).collect()) === wantWeighted,
      "re-weighting pinned arms must equal the weighted hybridJoin, with no probe")
    assert(canon(fs.tri(arms).collect()) === wantTri,
      "pinned-arm tri must equal triJoin")
    // a two-arm batch builds hybrid-only arms; tri refuses loudly
    val hyArms = {
      // rebuild the stores for the shape check (the dirs were deleted)
      val vdir2 = Files.createTempDirectory("graft-fus-v2").toString
      val vs2 = new VectorStore(spark, vdir2, numShards = 4)
      vs2.build(corpus, iters = 2)
      val tdir2 = Files.createTempDirectory("graft-fus-t2").toString
      val idx2 = new graft.text.TermIndex(spark, tdir2)
      idx2.build(docs)
      graft.vector.Serving.fusionServing(idx2, vs2, topK = 5,
        shortlist = 20, nprobe = 2).arms(triQ.select("query_id", "terms", "qv"))
    }
    val e = intercept[IllegalArgumentException] { fs.tri(hyArms) }
    assert(e.getMessage.contains("phrase"))
    arms.release(); hyArms.release()
  }

  test("serveFusionStream(cacheArms = true): an identical tick re-serves with NO probe") {
    import spark.implicits._
    val n = 128
    val corpus = spark.range(0, n, 1, 4).select(col("id"),
      array((0 until 16).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val docs = spark.range(0, n).select(col("id").as("doc_id"),
      concat_ws(" ",
        when(col("id") % 3 === 0, "merge merge").otherwise("fx"),
        when(col("id") % 5 === 0, "join").otherwise("fy"),
        concat(lit("w"), pmod(col("id"), lit(11)))).as("text"))
    val vdir = Files.createTempDirectory("graft-fscache-v").toString
    val vs = new VectorStore(spark, vdir, numShards = 4)
    vs.build(corpus, iters = 2)
    val tdir = Files.createTempDirectory("graft-fscache-t").toString
    val idx = new graft.text.TermIndex(spark, tdir)
    idx.build(docs)
    val qv = corpus.filter(col("id").isin(3L, 10L))
      .select(col("id"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val tick: Seq[(Long, Seq[String], Seq[String], Seq[Double])] = Seq(
      (3L, Seq("merge", "join"), Seq("merge", "join"), qv(3L)),
      (10L, Seq("join", "w3"), Seq("merge", "merge"), qv(10L)))
    implicit val sqlCtx = spark.sqlContext
    val hyOut = Files.createTempDirectory("graft-fscache-hy").toString + "/res"
    val trOut = Files.createTempDirectory("graft-fscache-tr").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-fscache-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String], Seq[String], Seq[Double])]
    def rmrf(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        .iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    def canon(dir: String) = spark.read.parquet(dir).drop("batch").collect()
      .map(r => (0 until r.length).map(r.get).toSeq)
    val sq = graft.vector.Serving.serveFusionStream(idx, vs,
      input.toDF().toDF("query_id", "terms", "phrase", "qv"), hyOut, trOut,
      ckpt, topK = 5, shortlist = 20, nprobe = 2, cacheArms = true)
    try {
      input.addData(tick: _*)
      sq.processAllAvailable()
      val hy1 = canon(hyOut); val tr1 = canon(trOut)
      // delete the VECTOR store out from under the stream: the cache
      // key is the TEXT index's content stamp (unmoved), so an
      // identical tick must serve from the pinned arms — an uncached
      // tick would scan the deleted parquet and kill the stream
      rmrf(vdir)
      input.addData(tick: _*)
      sq.processAllAvailable()
      assert(sq.isActive, "the cached tick must not have probed the deleted store")
      val hy2 = canon(hyOut); val tr2 = canon(trOut)
      assert(hy2.length === 2 * hy1.length && tr2.length === 2 * tr1.length,
        "the second tick must have appended")
      assert(hy2.toSet === hy1.toSet && tr2.toSet === tr1.toSet,
        "the cached tick must reproduce the first tick's pages exactly")
    } finally sq.stop()
  }

  test("armsCached: repeated batch serves the SAME pinned arms; index mutation evicts") {
    import spark.implicits._
    val n = 128
    val corpus = spark.range(0, n, 1, 4).select(col("id"),
      array((0 until 16).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    def docsOf(m: Long) = spark.range(0, m).select(col("id").as("doc_id"),
      concat_ws(" ",
        when(col("id") % 3 === 0, "merge merge").otherwise("fx"),
        when(col("id") % 5 === 0, "join").otherwise("fy"),
        concat(lit("w"), pmod(col("id"), lit(11)))).as("text"))
    val vdir = Files.createTempDirectory("graft-fusc-v").toString
    val vs = new VectorStore(spark, vdir, numShards = 4)
    vs.build(corpus, iters = 2)
    val tdir = Files.createTempDirectory("graft-fusc-t").toString
    val idx = new graft.text.TermIndex(spark, tdir)
    idx.build(docsOf(n))
    val qv = corpus.filter(col("id").isin(3L, 10L))
      .select(col("id"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    def batch() = Seq((3L, Seq("merge", "join"), qv(3L)),
      (10L, Seq("join", "w3"), qv(10L))).toDF("query_id", "terms", "qv")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (0 until r.length).map(r.get).toSeq).toSet
    val fs = graft.vector.Serving.fusionServing(idx, vs,
      topK = 5, shortlist = 20, nprobe = 2)
    val a1 = fs.armsCached(batch())
    val want = canon(fs.hybrid(a1).collect())
    // a REBUILT frame with identical content hits the cache: object
    // identity proves no index/store probe ran (the returned arms ARE
    // the pinned checkpoints from call 1)
    val a2 = fs.armsCached(batch())
    assert(a2 eq a1, "same-content batch must serve the cached arms object")
    assert(canon(fs.hybrid(a2).collect()) === want)
    // different batch content -> different key -> fresh probe
    val other = Seq((3L, Seq("merge"), qv(3L))).toDF("query_id", "terms", "qv")
    assert(!(fs.armsCached(other) eq a1))
    // index mutation moves the content stamp -> eviction, results
    // reflect the APPENDED corpus (doc ids >= n carry 'merge' too)
    idx.append(spark.range(n, n + 16).select(col("id").as("doc_id"),
      lit("merge join merge").as("text")), "mut1")
    val a3 = fs.armsCached(batch())
    assert(!(a3 eq a1), "a mutated index must not serve cached arms")
    val fresh = canon(graft.vector.Serving.hybridJoin(idx, vs, batch(),
      topK = 5, shortlist = 20, nprobe = 2).collect())
    assert(canon(fs.hybrid(a3).collect()) === fresh,
      "post-mutation arms must equal a fresh per-call fusion")
    assert(fresh !== want, "the appended merge-heavy docs must change the page")
    fs.invalidateArms()
  }

  test("armsCached: re-appending an existing label with different docs evicts") {
    import spark.implicits._
    val n = 64
    val corpus = spark.range(0, n, 1, 4).select(col("id"),
      array((0 until 8).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val vs = new VectorStore(spark, Files.createTempDirectory("graft-fusra-v").toString,
      numShards = 2)
    vs.build(corpus, iters = 2)
    val idx = new graft.text.TermIndex(spark,
      Files.createTempDirectory("graft-fusra-t").toString)
    idx.build(spark.range(0, n).select(col("id").as("doc_id"),
      concat(lit("w"), pmod(col("id"), lit(7))).as("text")))
    val qv = corpus.filter(col("id") === 5L).select(col("vector").cast("array<double>"))
      .head().getSeq[Double](0)
    def batch() = Seq((5L, Seq("merge"), qv)).toDF("query_id", "terms", "qv")
    def docs(text: String) = spark.range(n, n + 8).select(col("id").as("doc_id"),
      lit(text).as("text"))
    def kwIds(rows: Array[org.apache.spark.sql.Row]) = rows.map(_.getAs[Long]("doc_id")).toSet
    val fs = graft.vector.Serving.fusionServing(idx, vs, topK = 5, shortlist = 10,
      nprobe = 2)
    // the same label, re-appended: its directory names stay, its files change
    idx.append(docs("fx fy"), "b1")
    fs.armsCached(batch())
    idx.append(docs("merge merge"), "b1")
    val fresh = graft.vector.Serving.hybridJoin(idx, vs, batch(), topK = 5,
      shortlist = 10, nprobe = 2).collect()
    assert(kwIds(fresh).exists(_ >= n), "the re-appended docs carry the query term")
    assert(fs.hybrid(fs.armsCached(batch())).collect().toSet === fresh.toSet,
      "a page after the re-append must rank the new documents")
    fs.invalidateArms()
  }

  test("a store handle serves another handle's PQ rebuild") {
    val dir = Files.createTempDirectory("graft-pqhandles").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    def books(vs: VectorStore) = vs.pqBooks().collect {
      case graft.vector.ProductQuantizer.GlobalBooks(m) =>
        m.centroids.map(_.map(_.toSeq).toSeq).toSeq
    }
    val a = new VectorStore(spark, dir, numShards = 4)
    a.build(emb, iters = 2, pqSubspaces = 8, pqCodes = 16)
    val before = books(a)
    val b = new VectorStore(spark, dir, numShards = 4)
    b.build(emb, iters = 2, pqSubspaces = 16, pqCodes = 8)
    assert(books(b) !== before)
    assert(books(a) === books(b), "handle A must serve B's rebuilt codebooks")
    assert(a.pqModel().map(_.numSubspaces) === Some(16))
  }

  test("evalRangeRecall: measured radius curve matches a driver mirror; nprobeForRange tunes and refuses stale") {
    import spark.implicits._
    val n = 256
    val dim = 16
    val corpus = spark.range(0, n, 1, 4).select(col("id"),
      array((0 until dim).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-rrc-v").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2)
    val tau = 0.3
    val curve = vs.evalRangeRecall(minScore = tau, nQueries = 32)
      .filter(col("min_score_x1e6") === math.round(tau * 1e6))
      .orderBy("nprobe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(curve.length === 4, "one row per probe depth")
    // monotone nondecreasing, full probing finds every true match
    assert(curve.sliding(2).forall(p => p(0)._2 <= p(1)._2))
    assert(curve.last._2 === 10000L, "nprobe = numShards is exact")
    // driver mirror: true tau-matches + shard probe ranks, recomputed
    // from the persisted store itself
    val cents = vs.centroids().toSeq
    val stored = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("shard").cast("long"),
        col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    def shardRanks(q: Array[Double]): Seq[Long] =
      cents.map { case (sid, c) =>
        var s = 0.0; var i = 0
        while (i < q.length) { val dd = q(i) - c(i); s += dd * dd; i += 1 }
        (math.sqrt(s), sid)
      }.sortBy(identity).map(_._2.toLong)
    val qs = stored.sortBy(_._1).take(32)
    val pranks = for {
      (qid, _, qv) <- qs.toSeq
      ranks = shardRanks(qv)
      (id, shard, v) <- stored if id != qid && cos(qv, v) >= tau
    } yield ranks.indexOf(shard) + 1
    assert(curve.head._3 === pranks.size.toLong, "n_matches must equal the mirror")
    curve.foreach { case (p, r, _) =>
      val want = pranks.count(_ <= p).toLong * 10000L / math.max(pranks.size, 1)
      assert(r === want, s"recall at depth $p must match the mirror")
    }
    assert(curve.head._2 < 10000L,
      "hash-scattered vectors must have cross-shard matches at depth 1 " +
        "(otherwise the curve measures nothing)")
    // tuning: cheapest depth meeting the measured target, exact for 1.0
    val p95 = vs.nprobeForRange(tau, target = curve.head._2 / 10000.0)
    assert(p95 === 1, "depth-1 recall as target must pick nprobe = 1")
    assert(vs.nprobeForRange(tau, target = 1.0) ===
      curve.indexWhere(_._2 == 10000L) + 1)
    // rangeJoinAtRecall serves through the curve and stays a subset of
    // the exact set with at least the measured fraction found
    val qdf = qs.take(4).map(t => (t._1, t._3.toSeq)).toSeq.toDF("query_id", "qv")
    val atR = vs.rangeJoinAtRecall(qdf, minScore = tau, targetRecall = 1.0,
      excludeSelf = true)
    val full = vs.rangeJoin(qdf, minScore = tau, nprobe = 4, excludeSelf = true)
    assert(atR.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "target 1.0 must reproduce full probing on the measured corpus")
    // an unknown tau falls back to full probing rather than guessing
    assert(vs.nprobeForRange(0.77, target = 0.9) === 4)
    // the streamed form at a MEASURED depth (round 13): targetRecall
    // resolves nprobe from the curve at stream start; the streamed
    // pages equal the one-shot rangeJoinAtRecall
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft-rrc-out").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-rrc-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val sq = vs.serveRangeStream(input.toDF().toDF("query_id", "qv"),
      outDir, ckpt, minScore = tau, excludeSelf = true,
      targetRecall = Some(1.0))
    try {
      input.addData(qs.take(2).map(t => (t._1, t._3.toSeq)): _*)
      sq.processAllAvailable()
      input.addData(qs.slice(2, 4).map(t => (t._1, t._3.toSeq)): _*)
      sq.processAllAvailable()
    } finally sq.stop()
    assert(spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      atR.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "recall-tuned streamed range serving must equal rangeJoinAtRecall")
    // staleness: new routing centroids must refuse the old curve
    vs.setCentroids(vs.centroids().map { case (s, c) => (s, c.map(_ * -1.0)) })
    val ex = intercept[IllegalStateException] { vs.nprobeForRange(tau, 0.9) }
    assert(ex.getMessage.contains("STALE"))
    assert(vs.nprobeForRange(tau, 0.9, checkFresh = false) >= 1,
      "checkFresh = false knowingly serves the stale curve")
    // ... and refuses the STREAM at start(), never inside a tick
    val exS = intercept[IllegalStateException] {
      vs.serveRangeStream(input.toDF().toDF("query_id", "qv"),
        outDir + "2", ckpt + "2", minScore = tau, targetRecall = Some(0.9))
    }
    assert(exS.getMessage.contains("STALE"))
  }

  test("rangeJoin returns exactly the above-threshold set; pruning, modes, and ADC prefilter hold") {
    import spark.implicits._
    val n = 256
    val dim = 16
    val corpus = spark.range(0, n, 1, 4).select(col("id"),
      array((0 until dim).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-range-v").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2, pqSubspaces = 16)
    val vecs = corpus.select(col("id"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val qIds = Seq(3L, 10L, 77L)
    val queries = qIds.map(id => (id, vecs(id).toSeq)).toDF("query_id", "qv")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val tau = 0.3
    // nprobe = numShards is EXACT: parity with the all-pairs mirror
    val exact = vs.rangeJoin(queries, minScore = tau, nprobe = 4,
        excludeSelf = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mirror = (for {
      q <- qIds; (id, v) <- vecs.toSeq if id != q && cos(vecs(q), v) >= tau
    } yield (q, id)).toSet
    assert(exact === mirror, "full-probe rangeJoin must equal the all-pairs threshold set")
    assert(exact.nonEmpty, "test threshold must select something")
    // IVF pruning: fewer probes only ever MISS, never invent
    val pruned = vs.rangeJoin(queries, minScore = tau, nprobe = 1,
        excludeSelf = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.subsetOf(exact), "pruned range results must be a subset of exact")
    // allowed: filter-then-score — exactly the allowed slice of exact
    val allowedIds = (0L until n.toLong).filter(_ % 2 == 0)
    val filtered = vs.rangeJoin(queries, minScore = tau, nprobe = 4,
        excludeSelf = true, allowed = Some(allowedIds.toDF("id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered === exact.filter(p => p._2 % 2 == 0),
      "allowed must restrict matches to the slice, nothing else")
    // compressed: generous margin → identical set (exact re-check
    // removes ADC false positives; margin absorbs false negatives)
    val adc = vs.rangeJoin(queries, minScore = tau, nprobe = 4,
        excludeSelf = true, compressed = true, margin = 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adc === exact,
      "compressed rangeJoin at a covering margin must equal the raw arm")
    // scores emitted are the exact cosines in every mode
    val scored = vs.rangeJoin(queries, minScore = tau, nprobe = 4,
        excludeSelf = true, compressed = true, margin = 1.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    scored.foreach { case ((q, id), s) =>
      assert(math.abs(s - cos(vecs(q), vecs(id))) < 1e-12) }

    // the streamed twin: per-batch radius results union to the
    // one-shot join (serving state resolved once at stream start)
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft-range-out").toString + "/res"
    val ckpt = Files.createTempDirectory("graft-range-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val sq = vs.serveRangeStream(input.toDF().toDF("query_id", "qv"),
      outDir, ckpt, minScore = tau, nprobe = 4, excludeSelf = true)
    try {
      input.addData((3L, vecs(3L).toSeq), (10L, vecs(10L).toSeq))
      sq.processAllAvailable()
      input.addData((77L, vecs(77L).toSeq))
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === exact, "streamed range serving must equal the one-shot join")
  }

  test("a rebuild or mass ingest stales the recall curve; serving refuses until re-measured") {
    val corpus = spark.range(0, 512, 1, 8).select(col("id"),
      array((0 until 64).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-stale-recall").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2)
    vs.evalRecall(nQueries = 16, topK = 5)
    assert(vs.nprobeFor(0.5) >= 1, "fresh curve serves")
    val qv = corpus.select(col("vector").cast("array<double>")).head()
      .getSeq[Double](0).toArray

    // rebuild over a shifted corpus: the routing centroids change, so
    // the persisted curve describes a store that no longer exists
    vs.build(corpus.withColumn("vector",
      transform(col("vector"), x => x + 3.0)), iters = 2)
    val e = intercept[IllegalStateException](
      vs.searchAtRecall(qv, topK = 3, targetRecall = 0.5))
    assert(e.getMessage.contains("STALE"), e.getMessage)
    // the knowing bypass still serves (caller owns the staleness risk)
    assert(vs.searchAtRecall(qv, topK = 3, targetRecall = 0.5,
      checkFresh = false).collect().nonEmpty)
    // re-measuring heals
    vs.evalRecall(nQueries = 16, topK = 5)
    assert(vs.searchAtRecall(qv, topK = 3, targetRecall = 0.5)
      .collect().nonEmpty)

    // mass ingest WITHOUT a centroid change: > 20% row-count drift —
    // the distribution the curve measured has shifted under it
    vs.store(spark.range(1000, 1200, 1, 4).select(col("id"),
      array((0 until 64).map(d =>
        (pmod(hash(col("id"), lit(d + 7)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector")))
    val e2 = intercept[IllegalStateException](vs.nprobeFor(0.5))
    assert(e2.getMessage.contains("drifted"), e2.getMessage)
    // the maintenance verb: maintainCurves re-measures ONLY stale modes
    // (here the one raw mode) and the refusal clears; a second call is
    // a fresh-curve no-op
    assert(vs.maintainCurves().recallRefreshed > 0,
      "a stale mode must trigger a re-measurement")
    assert(vs.nprobeFor(0.5) >= 1, "refresh heals the drift refusal")
    assert(vs.maintainCurves().recallRefreshed === 0,
      "an all-fresh curve must refresh nothing")
  }

  test("maintainCurves re-measures compressed recall modes at their own parameters") {
    val corpus = spark.range(0, 512, 1, 8).select(col("id"),
      array((0 until 32).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) / 50.0): _*)
        .as("vector"))
    val dir = Files.createTempDirectory("graft-refresh-recall").toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2, pqSubspaces = 16, pqCodes = 16)
    vs.evalRecall(nQueries = 16, topK = 5, compressed = true, shortlist = 24)
    assert(vs.maintainCurves().recallRefreshed === 0,
      "freshly measured modes must not re-run")
    // rebuild: routing changes, BOTH persisted modes go stale
    vs.build(corpus.withColumn("vector",
      transform(col("vector"), x => x * 2.0 + 1.0)), iters = 2,
      pqSubspaces = 16, pqCodes = 16)
    intercept[IllegalStateException](vs.nprobeFor(0.5, compressed = true,
      shortlist = 24))
    assert(vs.maintainCurves().recallRefreshed > 0)
    // both modes serve again, and the compressed mode kept ITS
    // shortlist parameter through the refresh
    assert(vs.nprobeFor(0.5) >= 1)
    assert(vs.nprobeFor(0.5, compressed = true, shortlist = 24) >= 1)
    val kept = spark.read.parquet(s"$dir/recall_eval")
      .filter(col("compressed")).select("shortlist").distinct().collect()
      .map(_.getLong(0)).toSeq
    assert(kept === Seq(24L), s"compressed mode must keep shortlist=24: $kept")
  }

  test("compressed recall curve measures ADC truncation the raw curve cannot see") {
    // 250 subclusters of 8 near-identical members: a query's top-7
    // true neighbors are its own group (one quantizable pattern), and
    // ranks 8-10 come from the nearest OTHER group — landing in
    // whatever shard Lloyd put that group, so the raw curve RISES
    // GRADUALLY across all 8 depths instead of saturating at the
    // cluster count. The group patterns are coarse (multiples of 0.5)
    // so ADC resolves groups but confuses near-tied ones — a real,
    // measurable shortlist-truncation loss at every depth
    val corpus = spark.range(0, 2000, 1, 8).select(col("id"),
      array((0 until 64).map { d =>
        (pmod(hash((col("id") / 8).cast("int"), lit(d)), lit(9)).cast("double") - 4.0) * 0.5 +
          (pmod(hash(col("id"), lit(d + 1000)), lit(101)).cast("double") - 50.0) * 0.001
      }: _*).as("vector"))
    val dir = Files.createTempDirectory("graft-comp-recall").toString
    val vs = new VectorStore(spark, dir, numShards = 8)
    vs.build(corpus, iters = 3, pqSubspaces = 16, pqCodes = 16)

    val shortlist = 24
    val rows = vs.evalRecall(nQueries = 32, topK = 10, compressed = true,
      shortlist = shortlist).collect()
    val rawC = rows.filter(!_.getBoolean(4)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val compC = rows.filter(_.getBoolean(4)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rawC.keySet === (1L to 8L).toSet)
    assert(compC.keySet === (1L to 8L).toSet)
    assert(rows.filter(_.getBoolean(4)).forall(_.getLong(5) === shortlist.toLong))
    // compressed hits are raw hits that ALSO survived the shortlist:
    // a strict subset relation, depth by depth
    (1L to 8L).foreach(p => assert(compC(p) <= rawC(p),
      s"compressed recall must never exceed raw at the same depth (p=$p)"))
    assert(compC(8L) < 10000L,
      "truncation loss must be visible at full probe for this test to bite")

    // the round's point: at target 0.80 the raw curve picks a depth
    // whose COMPRESSED recall misses the target; the compressed curve
    // provisions deeper and meets it
    val target = 0.80
    val pRaw = vs.nprobeFor(target)
    val pComp = vs.nprobeFor(target, compressed = true, shortlist = shortlist)
    assert(rawC(pRaw.toLong) >= 8000L)
    assert(compC(pRaw.toLong) < 8000L,
      s"raw pick p=$pRaw must under-provision compressed serving for this test to bite")
    assert(pComp > pRaw, s"compressed pick $pComp must be deeper than raw pick $pRaw")
    assert(compC(pComp.toLong) >= 8000L,
      s"compressed curve value at its own pick p=$pComp must meet the target")

    // end-to-end: actual compressed searches at each pick, measured
    // against exact truth — the curve's prediction, reproduced by the
    // serving path itself
    val queries = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("vector").cast("array<double>").as("v"))
      .orderBy("id").limit(16).collect()
    val store = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("vector").cast("array<double>").as("v"))
    var hitAt = 0; var hitUnder = 0; var tot = 0
    queries.foreach { r =>
      val qv = r.getSeq[Double](1).toArray
      val self = r.getLong(0)
      val truth = store.filter(col("id") =!= self)
        .withColumn("s", cosineSim(col("v"), typedlit(qv.toSeq)))
        .orderBy(desc("s"), col("id").asc).limit(10)
        .collect().map(_.getLong(0)).toSet
      def got(p: Int) = vs.search(qv, topK = 11, nprobe = p, compressed = true,
          shortlist = shortlist)
        .collect().map(_.getLong(0)).filter(_ != self).take(10).toSet
      hitAt += truth.intersect(got(pComp)).size
      hitUnder += truth.intersect(got(pRaw)).size
      tot += 10
    }
    assert(hitAt.toDouble / tot >= target - 0.03,
      s"requested $target -> measured ${hitAt.toDouble / tot} at compressed-curve pick $pComp")
    assert(hitAt > hitUnder,
      s"the raw pick must measurably under-serve: $hitUnder vs $hitAt hits")
  }

  test("health() reports balance and centroid drift that appends create") {
    val dir = Files.createTempDirectory("graft-health").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(emb, iters = 3)
    val before = vs.health().collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(before.keySet.size === 4)
    assert(before.values.map(_._1).sum === emb.count())
    // load factors average to balanced by construction
    assert(math.abs(before.values.map(_._2).sum / 4 - 10000L) <= 1)
    // fresh build: every shard's mean sits near its routing centroid
    assert(before.values.map(_._3).max < 300000L,
      s"fresh-build drift should be small: $before")

    // append a clump far from every centroid: it lands in ONE shard and
    // drags that shard's mean — drift and load rise there
    val dim = emb.select(size(col("vector"))).head().getInt(0)
    import spark.implicits._
    val clump = (0 until 200).map(i =>
      (100000L + i, Seq.fill(dim)(3.0))).toDF("id", "vector")
    vs.store(clump)
    val after = vs.health().collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val grew = after.filter { case (s, (n, _, _)) => n > before(s)._1 }
    assert(grew.size === 1, s"clump must land in one shard: $after")
    val (shard, (_, load, drift)) = grew.head
    assert(load > before(shard)._2, "load factor rose on the hot shard")
    assert(drift > before(shard)._3 * 2,
      s"drift must jump on the dragged shard: before=${before(shard)._3} after=$drift")
  }

  test("deterministic centroids match lowest-id vectors") {
    val cents = Centroids.deterministicInit(Tables.embeddings(spark, sf), k = 4)
    assert(cents.map(_._1).toSeq === Seq(0, 1, 2, 3))
    val v0 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    assert(cents(0)._2.toSeq === v0)
  }

  test("vector outliers = per-shard |z|>2 set, recomputed independently") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Centroids.deterministicInit(emb, k = 4)
    // independent tally: route every vector in Scala over the collected
    // embeddings, quantize the distance like the query does, then apply
    // the same one-sided z>2 cut per shard
    val routed = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        val byShard = cents.map { case (sid, c) =>
          val d = math.sqrt(v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
          (sid, d)
        }
        val (sid, d) = byShard.minBy { case (s2, d2) => (d2, s2) }
        (r.getLong(0), sid, math.round(d * 1000000.0))
      }
    val want = routed.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val ds = rows.map(_._3.toDouble)
      val n = ds.length.toDouble
      val mean = ds.sum / n
      val sd = math.sqrt((ds.map(x => x * x).sum - ds.sum * ds.sum / n) / (n - 1.0))
      rows.filter(r => math.abs(r._3 - mean) > sd * 2.0).map(_._1).toSeq
    }.toSet
    val got = SparkEntry.queries("vdb_vector_outliers")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(got === want, s"flagged set mismatch: extra=${got -- want} missing=${want -- got}")
    assert(got.nonEmpty && got.size < routed.length / 4,
      s"a 2-sigma gate should flag a small minority: ${got.size} of ${routed.length}")
    // the near tail catches the degenerate vectors: each shard's seed
    // centroid routes to itself at distance 0, |z| >> 2
    assert(Set(0L, 1L, 2L, 3L).subsetOf(got),
      s"collapsed (distance-0) vectors must be flagged: $got")
  }
}
