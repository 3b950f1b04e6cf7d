package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QueryModule, Served, Tables}
import graft.embed.HashEmbedder
import graft.vector.Centroids

/** Corpus topic clustering: deterministic KMeans over hash-embedded
  * documents — the "bucket the corpus by topic" stage a mixing
  * pipeline runs before per-topic sampling (and the clustering that
  * SemDeDup-style dedup routes through). No trained model needed:
  * [[HashEmbedder]] gives every doc a 64-d signed-hash vector in one
  * pass, and [[Centroids.lloyd]] is the deterministic, scale-shaped
  * KMeans used for IVF builds (map-only assignment per iteration,
  * shuffle volume one 64-d array per (cluster, task) — input-size
  * independent).
  *
  * A corpus that already carries PRE-COMPUTED embeddings (the
  * `embeddings` table — a real encoder's vectors) clusters directly
  * on that column instead: [[clusterVectors]] /
  * [[servedVectorAssignments]] / [[maintainVectorAssignments]] are
  * the same model lifecycle with the hash-embed step replaced by the
  * stored vector (maintain routes NEW vectors against the persisted
  * centroids map-only — no re-embedding of any kind).
  *
  * Output is the per-doc assignment (id, cluster) plus the
  * cluster population — deterministic end-to-end (deterministic init,
  * deterministic embedder) but not SQL-expressible (Lloyd iterations),
  * so the driver entries are rows-only; TopicClusterSpec proves
  * planted two-domain recovery, the partition property, determinism,
  * and text/vector lifecycle symmetry.
  */
object TopicCluster extends QueryModule {

  /** Train the model AND return it with the slim assignment — the
    * form maintenance needs: the centroid set is the reusable model,
    * the (doc_id, cluster) rows are one frozen-model projection of it.
    */
  private[graft] def clusterModel(docs: DataFrame, k: Int = 8, iters: Int = 5)
      : (Array[(Int, Array[Double])], DataFrame) =
    clusterEmb(HashEmbedder.embed(docs), "doc_id", k, iters)

  /** Lloyd over an (idCol, embedding ARRAY<DOUBLE>) frame. */
  private def clusterEmb(emb: DataFrame, idCol: String, k: Int, iters: Int)
      : (Array[(Int, Array[Double])], DataFrame) = {
    val (cents, assigned) = Centroids.lloyd(emb, idCol = idCol, k = k, iters = iters)
    (cents, assigned.select(col(idCol), col("shard").cast(LongType).as("cluster")))
  }

  /** Map-only frozen-model assignment over pre-embedded rows: nearest
    * persisted centroid, no Lloyd pass — what `maintain` runs over
    * NEW rows only.
    */
  private def assignFrozenEmb(emb: DataFrame, idCol: String,
                              cents: Array[(Int, Array[Double])]): DataFrame =
    emb.select(col(idCol),
      Centroids.nearestShard(col("embedding"), cents.toSeq)
        .cast(LongType).as("cluster"))

  def clusterDocs(docs: DataFrame, k: Int = 8, iters: Int = 5): DataFrame =
    withSizes(clusterModel(docs, k, iters)._2, "doc_id")

  /** Topic-cluster a frame that ALREADY carries embeddings —
    * (idCol, vecCol ARRAY<FLOAT|DOUBLE>) — returning (idCol, cluster,
    * cluster_size). The hash-embed pass is skipped entirely; Lloyd
    * runs on the stored vectors (cast to double once, map-side).
    */
  def clusterVectors(vecs: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     k: Int = 8, iters: Int = 5): DataFrame =
    withSizes(clusterEmb(
      vecs.select(col(idCol), col(vecCol).cast("array<double>").as("embedding")),
      idCol, k, iters)._2, idCol)

  private def withSizes(a: DataFrame, idCol: String): DataFrame = {
    // cluster populations: a k-row aggregate, broadcast back
    val sizes = a.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    a.join(broadcast(sizes), "cluster")
      .select(col(idCol), col("cluster"), col("cluster_size"))
  }

  /** The SERVED assignment ([[graft.Served]]): the registered
    * `text_cluster` and `corpus_mix` queries were re-running
    * hash-embed + Lloyd per call, overstating served clustering cost
    * the same way per-query index rebuilds overstated text serving
    * (a mixing pipeline clusters once, then samples/packs/dashboards
    * against the SAME assignment many times — re-clustering between
    * reads would even break mix reproducibility if the corpus
    * drifted). One directory per (dataset, k, iters, source, layout
    * version). Output is byte-identical to [[clusterDocs]] (everything
    * deterministic), so the rows-only spec contract is unchanged.
    *
    * A source is everything one model lifecycle needs: the artifact
    * dir, the live frame, its id and stamped payload columns, and the
    * embed step (live rows → (idCol, embedding ARRAY<DOUBLE>)). Text
    * and vector flavors differ ONLY here.
    */
  private case class ModelSource(dir: String, live: DataFrame, idCol: String,
                                 payloadCol: String, embed: DataFrame => DataFrame)

  private def docSource(s: SparkSession, d: String, k: Int, iters: Int): ModelSource =
    ModelSource(TextAnalysis.termIdxDir(d, s"-cluster-k$k-i$iters-v3"),
      Tables.documents(s, d), "doc_id", "text", docs => HashEmbedder.embed(docs))

  private def vecSource(s: SparkSession, d: String, k: Int, iters: Int): ModelSource =
    ModelSource(TextAnalysis.termIdxDir(d, s"-veccluster-k$k-i$iters-v1"),
      Tables.embeddings(s, d), "vec_id", "embedding",
      vs => vs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")))

  /** Full train-and-persist: slim assignment, k-row sizes and the
    * centroid MODEL (what `maintain` assigns against).
    */
  private def persistModel(s: SparkSession, src: ModelSource,
                           k: Int, iters: Int): Unit = {
    val (cents, a) = clusterEmb(src.embed(src.live), src.idCol, k, iters)
    a.write.mode("overwrite").parquet(s"${src.dir}/assign")
    writeSizes(s, src.dir)
    writeModel(s, src.dir, cents)
  }

  private def writeSizes(s: SparkSession, dir: String): Unit =
    Tables.resolved(s, s"$dir/assign").groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/sizes")

  private def writeModel(s: SparkSession, dir: String,
                         cents: Array[(Int, Array[Double])]): Unit = {
    import s.implicits._
    cents.toSeq.map { case (c, v) => (c.toLong, v.toSeq) }
      .toDF("cluster", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/model")
  }

  private def readModel(s: SparkSession, dir: String): Array[(Int, Array[Double])] =
    Tables.resolved(s, s"$dir/model").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  private def servedFor(s: SparkSession, src: ModelSource,
                        k: Int, iters: Int): DataFrame = {
    Served.ensure(s, src.dir, src.live, src.idCol, src.payloadCol)(_ =>
      persistModel(s, src, k, iters))
    Tables.resolved(s, s"${src.dir}/assign")
      .join(broadcast(Tables.resolved(s, s"${src.dir}/sizes")), "cluster")
      .select(col(src.idCol), col("cluster"), col("cluster_size"))
  }

  private[graft] def servedAssignments(s: SparkSession, d: String,
                                       k: Int = 8, iters: Int = 5): DataFrame =
    servedFor(s, docSource(s, d, k, iters), k, iters)

  /** The served assignment over the PRE-COMPUTED embeddings table —
    * (vec_id, cluster, cluster_size), same artifact layout and
    * freshness discipline as the text model, model dir keyed
    * `-veccluster-…` so the two coexist per dataset.
    */
  private[graft] def servedVectorAssignments(s: SparkSession, d: String,
                                             k: Int = 8, iters: Int = 5): DataFrame =
    servedFor(s, vecSource(s, d, k, iters), k, iters)

  /** Maintenance ledger: how many docs the verb assigned or
    * re-assigned, and whether the centroid model itself moved.
    */
  case class ModelMaintenance(nNew: Long, nDocs: Long, retrained: Boolean)

  /** The staleness verbs for the served topic model — `maintain`/
    * `retrain` symmetry with the two maintained indexes, replacing
    * wholesale re-clustering on drift:
    *
    *  - `retrain = false` (default): FROZEN-MODEL append — docs the
    *    live table has that the assignment lacks are hash-embedded
    *    and routed to the nearest persisted centroid (map-only over
    *    the NEW docs only — the Lloyd pass is not re-run, centroids
    *    do not move, existing assignments are untouched). The
    *    production-classifier contract: the model is a versioned
    *    artifact, arrivals are scored against it, and re-training is
    *    an explicit decision, not a side effect of serving. Deletions
    *    are NOT handled incrementally (the assignment would go stale
    *    silently under a frozen stamp) — a shrunken corpus fails
    *    loudly here and wants `retrain = true`.
    *  - `retrain = true`: warm-start Lloyd from the PERSISTED
    *    centroids ([[graft.vector.Centroids.lloydFrom]] — few
    *    iterations to re-converge, shard identities stable for mass
    *    that didn't move), full assignment rewrite. The drift-repair
    *    verb when append volume has moved the topic mass enough that
    *    frozen routing misleads quotas.
    *
    * Both end by re-publishing sizes under the live table's stamp, so
    * `servedAssignments` serves the maintained artifact without a
    * rebuild. Requires a
    * served model to exist (serve once first).
    */
  def maintainAssignments(s: SparkSession, d: String, k: Int = 8,
                          iters: Int = 5, retrain: Boolean = false,
                          retrainIters: Int = 2): ModelMaintenance =
    maintainFor(s, docSource(s, d, k, iters), retrain, retrainIters)

  /** [[maintainAssignments]] for the embeddings-table model: new
    * vec_ids route to the persisted centroids using their STORED
    * vectors (nothing is re-embedded), deletions fail loudly,
    * `retrain = true` warm-starts Lloyd from the persisted model.
    */
  def maintainVectorAssignments(s: SparkSession, d: String, k: Int = 8,
                                iters: Int = 5, retrain: Boolean = false,
                                retrainIters: Int = 2): ModelMaintenance =
    maintainFor(s, vecSource(s, d, k, iters), retrain, retrainIters)

  private def maintainFor(s: SparkSession, src: ModelSource,
                          retrain: Boolean, retrainIters: Int): ModelMaintenance = {
    val dir = src.dir
    require(Served.read(s, dir).isDefined,
      s"no served topic model at $dir — serve (or rebuild) before maintaining")
    val cached = Tables.resolved(s, s"$dir/assign").select(src.idCol)
    val st = Served.stamp(src.live, src.idCol, src.payloadCol)
    if (retrain) {
      // count BEFORE the overwrite below: `cached`'s resolved file
      // listing points at the pre-retrain part files
      val nOld = cached.count()
      Served.publish(s, dir, st) {
        val (cents, a) = Centroids.lloydFrom(src.embed(src.live),
          idCol = src.idCol, vecCol = "embedding",
          init = readModel(s, dir), iters = retrainIters)
        a.select(col(src.idCol), col("shard").cast(LongType).as("cluster"))
          .write.mode("overwrite").parquet(s"$dir/assign")
        writeSizes(s, dir)
        writeModel(s, dir, cents)
      }
      ModelMaintenance(nNew = st._1 - nOld, nDocs = st._1,
        retrained = true)
    } else {
      val removed = cached.join(src.live.select(src.idCol), Seq(src.idCol), "left_anti").count()
      require(removed == 0L,
        s"$removed assigned docs no longer exist — incremental maintain is " +
          "append-only; deletions need retrain = true (or a rebuild)")
      val newDocs = src.live.join(cached, Seq(src.idCol), "left_anti")
      val nNew = newDocs.count()
      Served.publish(s, dir, st) {
        if (nNew > 0)
          assignFrozenEmb(src.embed(newDocs), src.idCol, readModel(s, dir))
            .write.mode("append").parquet(s"$dir/assign")
        writeSizes(s, dir)
      }
      ModelMaintenance(nNew = nNew, nDocs = st._1, retrained = false)
    }
  }

  private def clusterQuery(s: SparkSession, d: String): DataFrame =
    servedAssignments(s, d)

  /** The embeddings-table twin of `text_cluster`: topic-bucket the
    * real encoder vectors, served from the maintained artifact.
    */
  private def clusterEmbedQuery(s: SparkSession, d: String): DataFrame =
    servedVectorAssignments(s, d)

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("text_cluster" -> (clusterQuery _),
        "corpus_cluster_embed" -> (clusterEmbedQuery _))
  // Lloyd iterations are not SQL-expressible: rows-only by design,
  // spec-cross-checked (TopicClusterSpec)
  override val oracleSql: Map[String, String] = Map.empty
}
