package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TopicCluster

class TopicClusterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf = "/root/testdata/sf0.001"

  test("clustering partitions the corpus and is deterministic") {
    val docs = Tables.documents(spark, sf)
    val a = TopicCluster.clusterDocs(docs)
    // a partition: one row per doc, sizes consistent
    assert(a.count() === docs.count())
    assert(a.select("doc_id").distinct().count() === docs.count())
    val sizes = a.groupBy("cluster").agg(
      count(lit(1)).as("n"), max("cluster_size").as("cs"), min("cluster_size").as("cs2"))
    sizes.collect().foreach { r =>
      assert(r.getLong(1) === r.getLong(2) && r.getLong(1) === r.getLong(3))
    }
    // deterministic under re-evaluation
    val b = TopicCluster.clusterDocs(docs)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("two planted vocabularies separate into pure clusters at k=2") {
    import spark.implicits._
    val sci = "quantum electron proton neutrino boson fermion lattice spin orbit decay"
    val law = "court statute plaintiff defendant verdict appeal clause tort estoppel brief"
    def perturb(base: String, i: Long): String = {
      val ws = base.split(" ")
      // drop one word per doc so docs differ but stay in-domain
      (ws.take((i % ws.length).toInt) ++ ws.drop((i % ws.length).toInt + 1)).mkString(" ")
    }
    val docs = ((0L to 19L).map(i => (i, perturb(sci, i))) ++
      (20L to 39L).map(i => (i, perturb(law, i)))).toDF("doc_id", "text")
    val a = TopicCluster.clusterDocs(docs, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sciClusters = (0L to 19L).map(a).toSet
    val lawClusters = (20L to 39L).map(a).toSet
    assert(sciClusters.size === 1, s"sci docs split across $sciClusters")
    assert(lawClusters.size === 1, s"law docs split across $lawClusters")
    assert(sciClusters != lawClusters, "domains merged into one cluster")
  }

  test("served assignments equal a direct cluster run, cache, and rebuild on drift") {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft-servclu").toString
    def writeDocs(suffix: String): Unit =
      (0L until 40L).map(i => (i, s"w${i % 7} x${i % 5} y${i % 3}$suffix"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    writeDocs("")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val direct = canon(TopicCluster.clusterDocs(
      Tables.documents(spark, dataDir), k = 4))
    val served = canon(TopicCluster.servedAssignments(spark, dataDir, k = 4))
    assert(served === direct,
      "the served assignment must be byte-identical to a direct Lloyd run")
    assert(canon(TopicCluster.servedAssignments(spark, dataDir, k = 4)) === direct,
      "a repeat read serves the cached assignment unchanged")
    // corpus drift (same doc count, different tokens) must rebuild:
    // the token-count sum moves, the meta check fails, Lloyd reruns.
    // The per-JVM memo assumes immutable-in-session datasets, so an
    // in-session regeneration invalidates first (the documented
    // contract — a fresh JVM re-checks unprompted).
    writeDocs(" drifted tokens here")
    Served.invalidate()
    val drifted = canon(TopicCluster.servedAssignments(spark, dataDir, k = 4))
    assert(drifted === canon(TopicCluster.clusterDocs(
        Tables.documents(spark, dataDir), k = 4)),
      "a drifted corpus must re-cluster, not serve the stale assignment")
  }

  test("in-place edit preserving row count AND token count still rebuilds") {
    // round-12 advice: the doc stamp was (count, token-sum) only, so a
    // content edit that keeps both served a stale model silently; the
    // stamp now folds in a per-row text hash like the vector twin.
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft-editclu").toString
    def writeDocs(vocab: IndexedSeq[String]): Unit =
      (0L until 40L).map(i =>
        (i, s"${vocab((i % 7).toInt)} ${vocab((i % 5).toInt)} ${vocab((i % 3).toInt)}"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    val v1 = (0 until 7).map(j => s"aa$j")
    val v2 = (0 until 7).map(j => s"zz$j") // same word lengths, same token counts
    writeDocs(v1)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    Served.invalidate()
    canon(TopicCluster.servedAssignments(spark, dataDir, k = 4))
    val dir = graft.text.TextAnalysis.termIdxDir(dataDir, "-cluster-k4-i5-v3")
    val stampBefore = Served.read(spark, dir).get._2
    writeDocs(v2)
    Served.invalidate()
    val edited = canon(TopicCluster.servedAssignments(spark, dataDir, k = 4))
    assert(edited === canon(TopicCluster.clusterDocs(
        Tables.documents(spark, dataDir), k = 4)),
      "a count- and token-preserving edit must re-cluster, not serve stale")
    // proof the rebuild actually FIRED: the re-stamped hash moved, which
    // only the hash term can see (row count and token sum are unchanged)
    assert(Served.read(spark, dir).get._2 !== stampBefore,
      "the content-hash stamp must move on an in-place edit")

    // swapping texts between two doc_ids in different clusters keeps
    // every count and the multiset of texts: only a stamp that hashes
    // the id with its text sees it
    val byId = edited.map(t => t._1 -> t._2).toMap
    val b = (1L until 40L).find(i => byId(i) != byId(0L)).get
    val texts = Tables.documents(spark, dataDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 40L).map(i => (i, texts(if (i == 0L) b else if (i == b) 0L else i)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    Served.invalidate()
    assert(canon(TopicCluster.servedAssignments(spark, dataDir, k = 4)) ===
      canon(TopicCluster.clusterDocs(Tables.documents(spark, dataDir), k = 4)),
      "a doc_id text swap must re-cluster, not serve stale")
  }

  test("maintain assigns appended docs to the frozen model without moving old rows") {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft-mainclu").toString
    def gen(n: Long) = (0L until n).map(i => (i, s"w${i % 7} x${i % 5} y${i % 3}"))
      .toDF("doc_id", "text")
    gen(40).write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    Served.invalidate()
    val before = canon(TopicCluster.servedAssignments(spark, dataDir, k = 4))
    gen(60).write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    Served.invalidate()
    val m = TopicCluster.maintainAssignments(spark, dataDir, k = 4)
    assert(m.nNew === 20L && m.nDocs === 60L && !m.retrained)
    val after = canon(TopicCluster.servedAssignments(spark, dataDir, k = 4))
    assert(after.size === 60)
    // old docs keep their (doc, cluster) pairs — the model was frozen,
    // not re-trained (sizes legitimately change with the arrivals)
    val beforeMap = before.map(t => t._1 -> t._2).toMap
    after.filter(_._1 < 40).foreach { case (id, c, _) =>
      assert(c === beforeMap(id), s"doc $id moved cluster under frozen maintain") }
    // sizes are consistent with the maintained rows
    val sizes = after.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    after.foreach { case (_, c, cs) => assert(cs === sizes(c)) }
    // a fresh-JVM-style re-check (memo dropped) serves without rebuild:
    // meta was re-stamped, so the served rows are the maintained ones
    Served.invalidate()
    assert(canon(TopicCluster.servedAssignments(spark, dataDir, k = 4)) === after,
      "maintain must leave the artifact content-fresh for serving")
    // maintain with nothing new is a cheap no-op ledger
    val m2 = TopicCluster.maintainAssignments(spark, dataDir, k = 4)
    assert(m2.nNew === 0L && m2.nDocs === 60L)
  }

  test("maintain refuses deletions; retrain re-converges and covers the shrunken corpus") {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft-retrclu").toString
    def gen(ids: Seq[Long]) = ids.map(i => (i, s"w${i % 7} x${i % 5} y${i % 3}"))
      .toDF("doc_id", "text")
    gen(0L until 40L).write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    Served.invalidate()
    TopicCluster.servedAssignments(spark, dataDir, k = 4).count()
    gen(10L until 40L).write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    Served.invalidate()
    val e = intercept[IllegalArgumentException] {
      TopicCluster.maintainAssignments(spark, dataDir, k = 4)
    }
    assert(e.getMessage.contains("append-only"),
      s"deletion must fail loudly, got: ${e.getMessage}")
    val m = TopicCluster.maintainAssignments(spark, dataDir, k = 4, retrain = true)
    assert(m.retrained && m.nDocs === 30L)
    val served = TopicCluster.servedAssignments(spark, dataDir, k = 4)
    assert(served.count() === 30L)
    assert(served.select("doc_id").distinct().count() === 30L)
    // maintaining against an unserved dataset fails loudly
    val fresh = java.nio.file.Files.createTempDirectory("graft-noserve").toString
    gen(0L until 5L).write.mode("overwrite").parquet(s"$fresh/documents.parquet")
    val e2 = intercept[IllegalArgumentException] {
      TopicCluster.maintainAssignments(spark, fresh, k = 4)
    }
    assert(e2.getMessage.contains("serve"),
      s"maintain without a served model must fail loudly, got: ${e2.getMessage}")
  }

  test("embedding-column model: clusters stored vectors, serves, maintains, refuses deletions") {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft-vecclu").toString
    // two planted blobs in 8-d float space: ids < half near +1 on dims
    // 0-3, the rest near +1 on dims 4-7, with a small per-id wiggle
    def gen(ids: Seq[Long]) = ids.map { i =>
      val base = if (i < 50) Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f)
                 else Array(0f, 0f, 0f, 0f, 1f, 1f, 1f, 1f)
      val v = base.zipWithIndex.map { case (x, d) =>
        x + ((i * 31 + d * 7) % 11).toFloat / 100f }
      (i, v.toSeq, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    gen(0L until 100L).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    // direct: planted blobs recovered pure at k=2 on the raw column
    val direct = TopicCluster.clusterVectors(
      Tables.embeddings(spark, dataDir), k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 50L).map(direct).toSet.size === 1, "blob A split")
    assert((50L until 100L).map(direct).toSet.size === 1, "blob B split")
    assert(direct(0L) !== direct(99L), "blobs merged")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    Served.invalidate()
    val served = canon(TopicCluster.servedVectorAssignments(spark, dataDir, k = 2))
    assert(served.map(t => t._1 -> t._2).toMap === direct,
      "served vector assignment must equal the direct Lloyd run")
    // frozen maintain: 20 new vectors in blob A route to blob A's
    // cluster map-only; old pairs byte-stable
    gen(0L until 120L).filter(col("vec_id") < 100 || col("vec_id") >= 100)
      .write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    Served.invalidate()
    val m = TopicCluster.maintainVectorAssignments(spark, dataDir, k = 2)
    assert(m.nNew === 20L && m.nDocs === 120L && !m.retrained)
    val after = canon(TopicCluster.servedVectorAssignments(spark, dataDir, k = 2))
    assert(after.size === 120)
    val beforeMap = served.map(t => t._1 -> t._2).toMap
    after.filter(_._1 < 100).foreach { case (id, c, _) =>
      assert(c === beforeMap(id), s"vec $id moved under frozen maintain") }
    // the appended ids (100-119 are all blob B by construction: >= 50)
    after.filter(_._1 >= 100).foreach { case (id, c, _) =>
      assert(c === direct(99L), s"new blob-B vec $id routed to cluster $c") }
    // deletion refuses; retrain covers the shrunken set
    gen(0L until 80L).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    Served.invalidate()
    val e = intercept[IllegalArgumentException] {
      TopicCluster.maintainVectorAssignments(spark, dataDir, k = 2)
    }
    assert(e.getMessage.contains("append-only"))
    val mr = TopicCluster.maintainVectorAssignments(spark, dataDir, k = 2, retrain = true)
    assert(mr.retrained && mr.nDocs === 80L)
    assert(TopicCluster.servedVectorAssignments(spark, dataDir, k = 2).count() === 80L)
  }
}
