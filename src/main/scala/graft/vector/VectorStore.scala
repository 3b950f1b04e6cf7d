package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables.resolved
import graft.expressions.VectorExpressions._

/** Spark-native re-expression of the reference's vector-store surface
  * (compute_server.py /store /get /search /set_centroids,
  * storage_server.py store/get/list_ids).
  *
  * The "cluster" is a parquet layout instead of N HTTP+SQLite
  * processes: vectors live under `path/vectors/shard=<id>/`, i.e. the
  * IVF inverted lists ARE parquet partitions. Search with
  * `nprobe < numShards` prunes whole directories before any IO — the
  * same routing decision the reference router makes, executed by the
  * parquet partition-pruning rule. At 100 TB each shard is itself
  * many splits, so parallelism within a probed shard is preserved.
  */
final class VectorStore(spark: SparkSession, path: String, numShards: Int = 4,
                        private[vector] val idCol: String = "id",
                        vecCol: String = "vector") {
  private val vecDir = s"$path/vectors"
  private val centDir = s"$path/centroids"
  private val pqDir = s"$path/pq"
  private val opqDir = s"$path/opq"
  // the three measured tuning curves; `allowed_stamp` (0 = whole
  // corpus) keys filtered-slice measurements
  private val storeStampsWhy = Seq(
    "cent_stamp" -> "the store's routing centroids changed",
    "n_rows" -> "the store row count drifted > 20%")
  private val recallCurve = new graft.Curve(spark, s"$path/recall_eval", "recall",
    Seq("metric", "compressed", "shortlist", "top_k", "n_queries", "allowed_stamp"),
    storeStampsWhy)
  private val rangeCurve = new graft.Curve(spark, s"$path/range_recall_eval",
    "range-recall", Seq("min_score_x1e6", "n_queries", "allowed_stamp"), storeStampsWhy)
  private val fusionCurve = new graft.Curve(spark, s"$path/fusion_recall_eval",
    "fusion-recall", Seq("top_k", "shortlist", "rrf_k", "compressed",
      "vec_shortlist", "allowed_stamp"), storeStampsWhy :+
      ("idx_stamp" -> "the text index mutated (append/delete/reclaim/compact)"))
  private val sliceIdsDir = s"$path/recall_slice_ids"
  private val driftBaselineDir = s"$path/drift_baseline"
  private val fusionQueriesDir = s"$path/fusion_recall_queries"

  /** KMeans the corpus (reference test.py:41-48), persist centroids,
    * and write every vector to its nearest-centroid shard partition.
    *
    * With `pqSubspaces > 0` the same single write also attaches the
    * product-quantized serving shape: codebooks are trained on the
    * corpus ([[ProductQuantizer.train]]), every row carries its
    * `pq_codes` (M small ints) and exact `vnorm` alongside the raw
    * vector, and the codebooks persist with the store — the IVF+PQ
    * composition production ANN serves: shard pruning bounds which
    * partitions are read, codes bound how many raw-vector bytes are.
    *
    * By default codes quantize the RESIDUAL `v - centroid(shard)`
    * rather than the raw vector (`pqResidual = false` opts out):
    * residuals of a clustered corpus are much smaller than the
    * vectors, so the same code budget spends on fine structure and
    * the ADC error drops (IVFADC in Jegou et al. 2011). Scoring stays
    * one code scan: `<q,v> ~ <q,c_s> + <q,residual~>`, the first term
    * a per-shard literal, the second the usual lookup-table sum.
    *
    * Not crash-atomic across the codebook and vector writes (same
    * posture as [[upsert]]): a REBUILD of an existing PQ store that
    * fails between them leaves codes and codebook from different
    * generations — compressed search against that state is undefined;
    * re-running build heals it.
    */
  def build(vectors: DataFrame, iters: Int = 5, pqSubspaces: Int = 0,
            pqCodes: Int = 16, pqIters: Int = 3, pqTrainFraction: Double = 1.0,
            pqResidual: Boolean = true, opqRotate: Boolean = false,
            pqPerShard: Boolean = false): Unit = {
    val (cents, assigned) = Centroids.lloyd(vectors, idCol, vecCol, numShards, iters)
    setCentroids(cents)
    val out = if (pqSubspaces > 0) {
      val dim = vectors.select(size(col(vecCol))).head().getInt(0)
      val base = if (pqResidual) withResidual(assigned, cents) else assigned
      val trainCol = if (pqResidual) ResidualCol else vecCol
      val trainSet = if (pqTrainFraction < 1.0) base.sample(pqTrainFraction, 42L)
        else base
      if (opqRotate) {
        // OPQ composition: learn a PURE rotation (center = false — the
        // linear form is the one that commutes with the store's
        // inner-product scoring, see Opq.train), persist it beside the
        // codebooks (absent rotation file => identity, so pre-OPQ
        // stores read back unchanged), and train the codebooks on the
        // ROTATED residuals/vectors. Serving rotates the query once
        // driver-side; codes and ADC tables live in rotated space.
        // With pqPerShard the rotation stays GLOBAL (one orthonormal
        // basis for the whole index — queries rotate once, not per
        // probed shard) and each shard's book trains on its own
        // rotated residuals.
        val rot = Opq.trainRotation(trainSet, trainCol, dim, pqSubspaces,
          center = false)
        val books: ProductQuantizer.Books =
          if (pqPerShard) {
            val rotated = Pca.project(trainSet, rot, trainCol, "__opq")
            padEmptyShards(ProductQuantizer.trainPerShard(rotated, "shard", idCol,
              "__opq", dim, pqSubspaces, pqCodes, pqIters),
              assigned, cents, pqTrainFraction)
          } else {
            val frame = Pca.project(trainSet, rot, trainCol, "__opq")
              .select(col(idCol), col("__opq"))
            ProductQuantizer.GlobalBooks(ProductQuantizer.train(frame, idCol,
              "__opq", dim, pqSubspaces, pqCodes, pqIters))
          }
        saveBooks(books, pqResidual)
        saveRotation(rot.components)
        withCodes(base, books, pqResidual, Some(rot.components))
      } else if (pqPerShard) {
        // per-shard codebooks: each inverted list's residuals get their
        // own M x K book — tighter local distributions, same code
        // budget (VERDICT r6 #3; Jegou et al. 2011's locally-adaptive
        // variant). Training is still one job per Lloyd iteration,
        // keyed by (shard, m).
        val books = padEmptyShards(ProductQuantizer.trainPerShard(trainSet,
          "shard", idCol, trainCol, dim, pqSubspaces, pqCodes, pqIters),
          assigned, cents, pqTrainFraction)
        // stale-rotation delete precedes the codebook write: a crash
        // between the two must not leave an old rotation composed with
        // new UNROTATED books (rotated queries against unrotated codes
        // rank garbage silently; the reverse gap — no books yet — just
        // fails fast)
        deleteDir(opqDir)
        saveBooks(books, pqResidual)
        withCodes(base, books, pqResidual, None)
      } else {
        val model = ProductQuantizer.train(trainSet, idCol, trainCol, dim,
          pqSubspaces, pqCodes, pqIters)
        deleteDir(opqDir) // before the write — see the per-shard branch
        saveBooks(ProductQuantizer.GlobalBooks(model), pqResidual)
        withCodes(base, ProductQuantizer.GlobalBooks(model), pqResidual, None)
      }
    } else {
      // a rebuild without PQ must not leave a stale codebook behind
      deleteDir(pqDir)
      deleteDir(opqDir)
      assigned
    }
    // id-sorted within each task so every parquet row group covers a
    // disjoint id range: point lookups and shortlist re-rank filters
    // prune on row-group stats instead of scanning whole shards
    out.sortWithinPartitions(col("shard"), col(idCol))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(vecDir)
  }

  private val ResidualCol = "__residual"

  /** Per-shard books must cover every shard id the ROUTER can assign
    * (0 until numShards), not just the shards populated at build:
    * store()/upsert() may later route vectors to a shard that was
    * empty at build time, and a missing book would encode silently-
    * NULL codes (the map-literal lookup has no error path). Two cases:
    *  - populated at build but missed by the train SAMPLE — an error;
    *    raise pqTrainFraction (one cheap distinct over the shard col
    *    detects it);
    *  - genuinely EMPTY at build — borrow the nearest populated
    *    centroid's book: the first vectors routed there sit in that
    *    neighborhood by construction (they chose this centroid over
    *    the donor's), and the next build/maintenance retrains locally.
    */
  private def padEmptyShards(books: ProductQuantizer.PerShardBooks,
                             assigned: DataFrame,
                             cents: Array[(Int, Array[Double])],
                             fraction: Double): ProductQuantizer.PerShardBooks = {
    val present = assigned.select("shard").distinct().collect()
      .map(_.get(0).asInstanceOf[Number].intValue()).toSet
    val missing = present.filterNot(books.models.contains)
    require(missing.isEmpty,
      s"pqTrainFraction=$fraction sampled no rows from shards " +
        s"${missing.mkString(",")}; raise the fraction")
    val empty = (0 until numShards).filterNot(s =>
      present.contains(s) || books.models.contains(s))
    if (empty.isEmpty) books
    else {
      val byId = cents.toMap
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      val padded = empty.map { s =>
        val donor = books.models.keys.minBy(p => (d2(byId(p), byId(s)), p))
        s -> books.models(donor)
      }
      ProductQuantizer.PerShardBooks(books.models ++ padded)
    }
  }

  /** `v - centroid(shard)` as a projection: centroids ride as one
    * array-of-arrays literal indexed by the shard column.
    */
  private def withResidual(df: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame = {
    val ordered = cents.sortBy(_._1).map(_._2.toSeq).toSeq
    df.withColumn(ResidualCol,
      zip_with(col(vecCol).cast("array<double>"),
        element_at(typedlit(ordered), col("shard").cast("int") + 1),
        (v, c) => v - c))
  }

  /** Encode + norm columns for rows headed into the index (`df` must
    * carry the shard column when the store quantizes residuals). With a
    * rotation the source column is projected into OPQ space first — a
    * second pure projection fused into the same map stage; `vnorm`
    * stays the exact RAW norm either way (rotations preserve it, and
    * serving divides approximate dots by it).
    */
  private def withCodes(df: DataFrame, books: ProductQuantizer.Books,
                        residual: Boolean,
                        rotation: Option[Array[Array[Double]]]): DataFrame = {
    val src0 = if (residual) {
      if (df.columns.contains(ResidualCol)) df else withResidual(df, centroids())
    } else df
    val encCol = if (residual) ResidualCol else vecCol
    val encoded = (books, rotation) match {
      case (ProductQuantizer.GlobalBooks(m), Some(r)) =>
        val rot = Pca.Model(new Array[Double](r.length), r)
        ProductQuantizer.encode(Pca.project(src0, rot, encCol, "__opq"), m, "__opq")
          .drop("__opq", ResidualCol)
      case (ProductQuantizer.GlobalBooks(m), None) =>
        ProductQuantizer.encode(src0, m, encCol)
          .drop(ResidualCol)
      case (ps: ProductQuantizer.PerShardBooks, None) =>
        ProductQuantizer.encodePerShard(src0, ps, "shard", encCol)
          .drop(ResidualCol)
      case (ps: ProductQuantizer.PerShardBooks, Some(r)) =>
        val rot = Pca.Model(new Array[Double](r.length), r)
        ProductQuantizer.encodePerShard(
            Pca.project(src0, rot, encCol, "__opq"), ps, "shard", "__opq")
          .drop("__opq", ResidualCol)
    }
    encoded.withColumn("vnorm", sqrt(aggregate(col(vecCol).cast("array<double>"),
      lit(0.0), (acc, x) => acc + x * x)))
  }

  private def deleteDir(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Persist the codebooks: rows (m, k, centroid, residual[, shard]).
    * Global books omit the shard column; its presence is the
    * per-shard marker on read (old stores parse unchanged).
    */
  private def saveBooks(books: ProductQuantizer.Books, residual: Boolean): Unit = {
    import spark.implicits._
    books match {
      case ProductQuantizer.GlobalBooks(m) =>
        val rows = for { mm <- 0 until m.numSubspaces; k <- 0 until m.numCodes }
          yield (mm, k, m.centroids(mm)(k).toSeq, residual)
        rows.toDF("m", "k", "centroid", "residual")
          .repartition(1).write.mode(SaveMode.Overwrite).parquet(pqDir)
      case ProductQuantizer.PerShardBooks(ms) =>
        val rows = for {
          (s, m) <- ms.toSeq; mm <- 0 until m.numSubspaces; k <- 0 until m.numCodes
        } yield (s, mm, k, m.centroids(mm)(k).toSeq, residual)
        rows.toDF("shard", "m", "k", "centroid", "residual")
          .repartition(1).write.mode(SaveMode.Overwrite).parquet(pqDir)
    }
  }

  /** Persist the OPQ rotation: one row per rotated dim j holding the
    * j-th row of R (tiny: dim^2 doubles).
    */
  private def saveRotation(comps: Array[Array[Double]]): Unit = {
    import spark.implicits._
    comps.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("j", "component")
      .repartition(1).write.mode(SaveMode.Overwrite).parquet(opqDir)
  }

  /** (codebooks, isResidual, rotation) in ONE read of the codebook
    * parquet (+ one of the rotation when present) —
    * store/upsert/search need them together. Folded over `pq/` and
    * `opq/` by [[graft.Tables.fold]]: re-read only when either
    * directory's listing changed, so every handle on this path — not
    * just the one that rebuilt — serves the current books. Returned
    * as a copy: callers may not reach the cached arrays.
    */
  private[vector] final case class PqMeta(books: ProductQuantizer.Books, residual: Boolean,
                                          rotation: Option[Array[Array[Double]]])

  private[vector] def pqMeta(): Option[PqMeta] =
    graft.Tables.fold(spark, "pq-meta", pqDir, opqDir)(readPqMeta()).map { m =>
      def copy(pm: ProductQuantizer.Model) =
        pm.copy(centroids = pm.centroids.map(_.map(_.clone())))
      val books = m.books match {
        case ProductQuantizer.GlobalBooks(pm) => ProductQuantizer.GlobalBooks(copy(pm))
        case ProductQuantizer.PerShardBooks(ms) =>
          ProductQuantizer.PerShardBooks(ms.map { case (s, pm) => s -> copy(pm) })
      }
      PqMeta(books, m.residual, m.rotation.map(_.map(_.clone())))
    }

  private def readPqMeta(): Option[PqMeta] = {
    val p = new org.apache.hadoop.fs.Path(pqDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val df = resolved(spark, pqDir)
      val residual = df.columns.contains("residual")
      def toModel(rows: Array[((Int, Int), Array[Double])]): ProductQuantizer.Model = {
        val numSub = rows.map(_._1._1).max + 1
        val numCodes = rows.map(_._1._2).max + 1
        val byKey = rows.toMap
        ProductQuantizer.Model(byKey((0, 0)).length,
          Array.tabulate(numSub)(m => Array.tabulate(numCodes)(k => byKey((m, k)))))
      }
      // shard column present => per-shard books (global stores omit it)
      val books: ProductQuantizer.Books =
        if (df.columns.contains("shard")) {
          val rows = df.select("shard", "m", "k", "centroid").collect()
            .map(r => (r.getInt(0), ((r.getInt(1), r.getInt(2)), r.getSeq[Double](3).toArray)))
          ProductQuantizer.PerShardBooks(
            rows.groupBy(_._1).map { case (s, rs) => s -> toModel(rs.map(_._2)) })
        } else ProductQuantizer.GlobalBooks(toModel(
          df.select("m", "k", "centroid").collect()
            .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))))
      // absent rotation dir => identity (pre-OPQ stores read unchanged)
      val rot = if (!fs.exists(new org.apache.hadoop.fs.Path(opqDir))) None
        else Some(resolved(spark, opqDir).collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1).map(_._2))
      Some(PqMeta(books, residual && df.select("residual").head().getBoolean(0), rot))
    }
  }

  /** The persisted PQ codebooks, if this store was built with a single
    * global book (the default). A per-shard store answers through
    * [[pqBooks]] instead.
    */
  def pqModel(): Option[ProductQuantizer.Model] = pqMeta().map(_.books).collect {
    case ProductQuantizer.GlobalBooks(m) => m
  }

  /** The persisted codebook set (global or per-shard), if PQ-built. */
  def pqBooks(): Option[ProductQuantizer.Books] = pqMeta().map(_.books)

  /** Whether this store's codes quantize residuals (vs raw vectors). */
  def pqIsResidual: Boolean = pqMeta().exists(_.residual)

  /** The persisted OPQ rotation (rows of R), if built with opqRotate. */
  def opqRotation(): Option[Array[Array[Double]]] = pqMeta().flatMap(_.rotation)

  /** Override the routing centroids (reference /set_centroids). */
  def setCentroids(cents: Array[(Int, Array[Double])]): Unit = {
    import spark.implicits._
    cents.toSeq.toDF("shard", "centroid")
      .repartition(1).write.mode(SaveMode.Overwrite).parquet(centDir)
  }

  /** The routing table the reference serves at GET / . Collected
    * once per listing of `centroids/` ([[graft.Tables.fold]]), and
    * returned as a copy.
    */
  def centroids(): Array[(Int, Array[Double])] =
    graft.Tables.fold(spark, "centroids", centDir) {
      resolved(spark, centDir).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    }.map { case (s, c) => (s, c.clone()) }

  /** Deterministic stamp of the ROUTING state — the persisted recall
    * curve's provenance mark. Any mutation that changes where queries
    * probe (build, refreshCentroids, setCentroids) changes the
    * centroids and therefore the stamp, which is exactly when a
    * measured recall curve stops describing this store.
    */
  private def centStamp(cents: Array[(Int, Array[Double])]): Long =
    scala.util.hashing.MurmurHash3.orderedHash(
      cents.map { case (s, c) => (s, c.toSeq) }.toSeq).toLong

  /** Content stamp of a filtered-serving `allowed` id set — 0 for
    * whole-corpus measurements, else a nonzero combine of (count,
    * order-independent per-id hash sum): the slice's identity. Curve
    * rows persist it ([[evalRecall]]/[[evalRangeRecall]] with
    * `allowed`) and the tuners compare it against the caller's live
    * set ([[nprobeFor]]/[[nprobeForRange]]) — a drifted slice refuses
    * loudly instead of tuning on another slice's geometry.
    */
  private def sliceStamp(allowed: Option[DataFrame]): Long = allowed match {
    case None => 0L
    case Some(ids) =>
      // stamp the SET, not the frame: restrictSlice's left_semi join
      // dedups the allowed frame, so two frames with the same
      // effective slice but different duplicate multiplicity must
      // stamp identically — a tenant filter that emits duplicate ids
      // would otherwise hit a spurious slice-drift refusal against a
      // curve measured from the deduped equivalent
      val r = ids.select(col(ids.columns.head).cast(LongType).as("__id"))
        .distinct()
        .agg(count(lit(1)),
          coalesce(sum(hash(col("__id")).cast(LongType)), lit(0L))).head()
      val s = r.getLong(0) * 1000003L ^ r.getLong(1)
      if (s == 0L) 1L else s
  }

  /** The slice's corpus restriction for a TRUTH pass — the same
    * filter-then-search semantics [[searchJoin]]'s `allowed` applies
    * at serving time, over a frame keyed by `vec_id`.
    */
  private def restrictSlice(frame: DataFrame,
                            allowed: Option[DataFrame]): DataFrame =
    allowed.fold(frame)(ids => frame.join(
      ids.select(col(ids.columns.head).cast(LongType).as("vec_id")),
      Seq("vec_id"), "left_semi"))

  /** The tuner-side slice cut, shared by all three `nprobeFor*`
    * verbs: whole-corpus rows for an unfiltered caller; a slice
    * caller gets the mode's slice rows, REFUSING loudly when they
    * were measured for a different allowed set (the slice drifted, or
    * another tenant's slice holds the mode — one slice per mode).
    */
  private def sliceRowsFor(mode: DataFrame, aStamp: Long,
                           family: String): DataFrame =
    if (aStamp == 0L) mode.filter(col("allowed_stamp") === 0L)
    else {
      val rows = mode.filter(col("allowed_stamp") =!= 0L)
      val head = rows.select("allowed_stamp").limit(1).collect()
      if (head.nonEmpty && head(0).getLong(0) != aStamp)
        throw new IllegalStateException(
          s"filtered-slice $family curve was measured for a DIFFERENT " +
            "allowed set (the slice drifted, or another slice holds the " +
            s"mode) — re-run the $family eval with allowed = this slice")
      rows
    }

  /** The store's current provenance stamps: its routing and row count. */
  private def storeStamps(): Map[String, Long] =
    Map("cent_stamp" -> centStamp(centroids()),
      "n_rows" -> resolved(spark, vecDir).count())

  /** Persist one measurement of a curve family. It replaces the rows of
    * its `mode` for its slice kind (a slice measurement replaces any
    * slice rows of the mode, so one slice per mode; a whole-corpus one
    * only whole-corpus rows), and every row not measured on the same
    * `sample` (recall@k and recall@τ are different metrics per sample
    * parameters, and the tuners read a mode without filtering them).
    * The slice's ids persist alongside for [[maintainCurves]], and
    * slice-id directories no curve row references any more are
    * deleted.
    */
  private def writeCurve(curve: graft.Curve, fresh: DataFrame, mode: Column,
                         sample: Column, allowed: Option[DataFrame],
                         aStamp: Long): DataFrame = {
    val slice = if (aStamp == 0L) col("allowed_stamp") === 0L
                else col("allowed_stamp") =!= 0L
    val out = curve.write(fresh, (mode && slice) || !sample)
    allowed.foreach(ids => writeSliceIds(ids, aStamp))
    dropUnusedSliceIds()
    out
  }

  /** Persist a measured slice's id set for curve maintenance, KEYED
    * BY ITS CONTENT STAMP (`<dir>/stamp=<allowed_stamp>`): the three
    * curve families and their modes may each hold a DIFFERENT slice,
    * and maintenance must re-measure each stale slice row with the
    * ids it was measured with — a single shared id set would silently
    * re-measure (and re-key) one family's slice with another's. Writes
    * are idempotent per stamp (content-derived). Pinned
    * (localCheckpoint) before the overwrite because the maintenance
    * path re-measures FROM this very directory.
    */
  private def writeSliceIds(ids: DataFrame, aStamp: Long): Unit = {
    val pinned = ids
      .select(col(ids.columns.head).cast(LongType).as("vec_id"))
      .localCheckpoint(true)
    try pinned.write.mode(SaveMode.Overwrite)
      .parquet(s"$sliceIdsDir/stamp=$aStamp")
    finally org.apache.spark.sql.graftshim.CheckpointInterop
      .unpersistCheckpoint(pinned)
  }

  /** Delete every `stamp=` directory of the persisted slice ids that
    * no row of the three curve tables references: a slice superseded
    * in its mode, or a table replaced by a newer layout.
    */
  private def dropUnusedSliceIds(): Unit = {
    val root = new org.apache.hadoop.fs.Path(sliceIdsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      val live = Seq(recallCurve, rangeCurve, fusionCurve).flatMap(_.rows)
        .flatMap(_.select("allowed_stamp").distinct().collect().map(_.getLong(0)))
        .map(st => s"stamp=$st").toSet
      fs.listStatus(root).map(_.getPath)
        .filter(p => p.getName.startsWith("stamp=") && !live(p.getName))
        .foreach(fs.delete(_, true))
    }
  }

  /** Route new vectors to their nearest shard and append (reference
    * /store, one HTTP call per vector there — one distributed append
    * here).
    */
  def store(vectors: DataFrame): Unit = {
    val cents = centroids()
    val routed = vectors
      .select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
      .withColumn("shard", Centroids.nearestShard(col(vecCol), cents))
    // a PQ-built store keeps its compressed shape through ingest
    pqMeta().map(pm => withCodes(routed, pm.books, pm.residual, pm.rotation))
      .getOrElse(routed)
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode(SaveMode.Append).partitionBy("shard").parquet(vecDir)
  }

  /** Point lookup (reference /get/{id} scans every shard; here the id
    * predicate is pushed to parquet row-group stats in each shard).
    * Ids may be any orderable scalar — the reference keys vectors by
    * TEXT (storage_server.py:17-20), so string ids work unchanged.
    */
  def get(id: Any): DataFrame =
    resolved(spark, vecDir).filter(col(idCol) === lit(id))

  /** Batched [[get]] reshaped to the probe contract: the (query_id,
    * qv) frame for a literal list of stored ids — query-by-example's
    * vector side ([[graft.vector.Serving.mltJoin]]) reads the examples
    * from the store itself, exactly the get-then-search composition
    * the reference's clients loop by hand. The id predicate pushes to
    * parquet row-group stats like [[get]]'s; missing ids emit no row.
    */
  def vectorsOf(ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, "no ids")
    resolved(spark, vecDir)
      .filter(col(idCol).isin(ids: _*))
      .select(col(idCol).cast(org.apache.spark.sql.types.LongType).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
  }

  /** Per-shard id inventory (reference /list_ids). */
  def listIds(): DataFrame =
    resolved(spark, vecDir)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_vectors"), min(idCol).as("min_id"), max(idCol).as("max_id"))

  /** SemDeDup over the store's OWN layout (Abbas et al. 2023 composed
    * with the index): the build already routed every vector to its
    * nearest-centroid shard, so cluster-scoped near-dup detection
    * needs NO routing pass — the pair join's equi-key is the parquet
    * partition column, candidate volume is bounded per inverted list,
    * and `pairSalt` spreads a list's quadratic over tasks exactly as
    * in [[graft.dedup.Dedup.semDedup]] (pass `maxPairsPerTask` > 0 to
    * size the salt per shard instead — the hot-shard mitigation, see
    * [[graft.dedup.Dedup.clusterKeepDrop]]). Returns (id, shard,
    * keep 0/1) with the keep-lowest-id survivor rule; callers drop
    * keep=0 ids via [[delete]]. This is the dedup maintenance job an
    * embedding store runs between ingest rounds — the same shards
    * serve search and bound the dedup quadratic.
    */
  def semDedup(threshold: Double = 0.75, pairSalt: Int = 8,
               maxPairsPerTask: Long = 0L): DataFrame = {
    val a = resolved(spark, vecDir)
      .select(col(idCol).as("vec_id"), col("shard").cast(LongType).as("shard"),
        col(vecCol).cast("array<double>").as("embedding"))
    graft.dedup.Dedup.clusterKeepDrop(a, threshold, pairSalt, maxPairsPerTask)
      .withColumnRenamed("vec_id", idCol)
  }

  /** Upsert: replace-or-insert by id (reference /store is REPLACE INTO,
    * storage_server.py:38-50). Only the shard partitions that receive
    * new vectors are rewritten (dynamic partition overwrite) — at
    * 100 TB an upsert touches k directories, not the whole index.
    *
    * Consistency contract (same as [[delete]]): SINGLE WRITER, and no
    * crash atomicity across the two steps (partition overwrite, then
    * emptied-shard directory removal). A failure between them leaves a
    * stale shard directory whose ids resurrect on read; re-running the
    * same upsert/delete heals it. Concurrent readers of a store being
    * rewritten may see a partially-updated index. The reference has
    * the same posture (one SQLite writer per shard, no cross-shard
    * transaction).
    */
  def upsert(vectors: DataFrame): Array[Long] = {
    val cents = centroids()
    // localCheckpoint, NOT cache: `touched` and the overwrite are two
    // actions over the caller's frame — a non-deterministic input
    // (limit/sample without ordering) must evaluate ONCE or a shard
    // holding an old copy could be missed from `touched`, leaving a
    // stale duplicate id. cache() is only best-effort (an evicted or
    // executor-lost block silently RECOMPUTES from the source, yielding
    // different rows between the two actions); localCheckpoint severs
    // lineage, so a lost block fails the job loudly instead.
    val routed = vectors
      .select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
      .withColumn("shard", Centroids.nearestShard(col(vecCol), cents))
    val incoming = pqMeta().map(pm => withCodes(routed, pm.books, pm.residual, pm.rotation))
      .getOrElse(routed).localCheckpoint(true)
    try {
      // partition-column inference reads shard back as int: normalize
      val current = resolved(spark, vecDir)
        .withColumn("shard", col("shard").cast("long"))
      // an id's new vector may route to a different shard than its old
      // copy: rewrite both the destination shards and the shards that
      // currently hold the ids (otherwise the old copy survives)
      val touched = shardSet(incoming.select("shard")
        .union(current.join(incoming.select(col(idCol)), Seq(idCol), "left_semi").select("shard")))
      val existing = current
        .filter(col("shard").isin(touched: _*))
        .join(incoming.select(col(idCol)), Seq(idCol), "left_anti")
      overwriteTouched(existing.unionByName(incoming), touched)
      touched
    } finally org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(incoming)
  }

  /** The distinct values of the long column `shard`, in ascending
    * order: each partition keeps its own distinct set, and the driver
    * merges them — one job with no exchange.
    */
  private def shardSet(shards: DataFrame): Array[Long] = {
    import spark.implicits._
    shards.select(col("shard").cast(LongType)).as[Long]
      .mapPartitions(_.toSet.iterator).collect().distinct.sorted
  }

  /** Overwrite the touched shard partitions with `result`. Dynamic
    * partition overwrite only rewrites partitions that receive rows, so
    * a touched shard with NO surviving rows would keep its stale
    * directory — delete those explicitly. Which ones they are is read
    * off the write itself: every rewritten partition holds new files,
    * so a touched shard whose file listing the write left unchanged
    * received no rows.
    */
  private def overwriteTouched(result: DataFrame, touched: Array[Long]): Unit = {
    def shardDir(s: Long) = s"$vecDir/shard=$s"
    val before = touched.map(s => s -> graft.Tables.listing(spark, shardDir(s))).toMap
    result.sortWithinPartitions(col("shard"), col(idCol))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(vecDir)
    val fs = new org.apache.hadoop.fs.Path(vecDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filter(s => before(s).nonEmpty && graft.Tables.listing(spark, shardDir(s)) == before(s))
      .foreach(s => fs.delete(new org.apache.hadoop.fs.Path(shardDir(s)), true))
  }

  /** Delete by id (any scalar id type), rewriting only the shard
    * partitions that contain the ids. Single-writer, non-atomic across
    * steps — see [[upsert]]'s consistency contract.
    */
  def delete(ids: Seq[Any]): Array[Long] = {
    val all = resolved(spark, vecDir)
      .withColumn("shard", col("shard").cast("long"))
    val touched = shardSet(all.filter(col(idCol).isin(ids: _*)).select("shard"))
    if (touched.isEmpty) return Array.empty
    overwriteTouched(
      all.filter(col("shard").isin(touched: _*) && !col(idCol).isin(ids: _*)), touched)
    touched
  }

  /** IVF maintenance for a store under continuous ingest — the
    * streaming-era twin of the reference's /set_centroids lifecycle:
    * re-estimate centroids from a sample of the CURRENT contents
    * (Lloyd warm-started from the serving centroids, so shard
    * identities stay stable for mass that didn't move), persist them,
    * and re-route ONLY the vectors whose nearest centroid changed,
    * through [[upsert]] — so just the affected shard partitions
    * rewrite. A residual-PQ store instead re-encodes the whole index
    * in one pass (its codes reference the centroids). Run periodically
    * or when routing balance drifts; the single-writer contract on
    * [[upsert]] applies.
    *
    * Returns (shards rewritten, vectors re-routed).
    */
  def refreshCentroids(sampleFraction: Double = 0.1, iters: Int = 3): (Array[Long], Long) = {
    val all = resolved(spark, vecDir)
      .withColumn("shard", col("shard").cast("long"))
    val sample = if (sampleFraction < 1.0) all.sample(sampleFraction, 42L) else all
    val (cents, _) = Centroids.lloydFrom(sample, idCol, vecCol, centroids(), iters)
    setCentroids(cents)
    val relabeled = all.withColumn("__new",
      Centroids.nearestShard(col(vecCol).cast("array<double>"), cents))
    val meta = pqMeta()
    if (meta.exists(_.residual)) {
      // residual codes are parameterized by the serving centroids, so
      // the refresh re-encodes and rewrites the WHOLE index in one
      // pass (the codebook itself stays — residual distributions move
      // little under a warm-started refresh). Only the raw-code layout
      // (pqResidual = false) gets the cheap drifted-rows-only path.
      val moved = relabeled.filter(col("__new") =!= col("shard")).count()
      val rebuilt = relabeled
        .select(col(idCol), col(vecCol).cast("array<double>").as(vecCol),
          col("__new").as("shard"))
      val out = withCodes(withResidual(rebuilt, cents), meta.get.books,
        residual = true, meta.get.rotation)
      // write the re-encoded index BESIDE the live one, then swap
      // (same tmp-swap contract as sources.Compact): the live
      // directory is never deleted until its replacement is durable
      // on disk. A direct Overwrite from an ephemeral localCheckpoint
      // would make the checkpoint the ONLY copy mid-write — an app
      // crash there would lose the store irrecoverably.
      val vecPath = new org.apache.hadoop.fs.Path(vecDir)
      val fs = vecPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(
        vecPath.getParent, "_" + vecPath.getName + "__refresh_tmp")
      out.sortWithinPartitions(col("shard"), col(idCol))
        .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(tmp.toString)
      val touched = fs.listStatus(tmp).map(_.getPath.getName)
        .filter(_.startsWith("shard=")).map(_.stripPrefix("shard=").toLong).sorted
      if (!fs.delete(vecPath, true))
        throw new java.io.IOException(
          s"refreshCentroids: delete of $vecPath failed; live index intact, refreshed copy at $tmp")
      if (!fs.rename(tmp, vecPath))
        throw new java.io.IOException(
          s"refreshCentroids: rename $tmp -> $vecPath failed; all data is in $tmp, recover with one fs.rename")
      (touched, moved)
    } else {
      val drifted = relabeled.filter(col("__new") =!= col("shard"))
        .select(col(idCol), col(vecCol))
        .cache()
      try {
        val n = drifted.count()
        if (n == 0L) (Array.empty[Long], 0L) else (upsert(drifted), n)
      } finally drifted.unpersist()
    }
  }

  /** One maintenance pass report: shards rewritten by the centroid
    * refresh, vectors that moved shards, and the per-partition file
    * compaction (path, filesBefore, filesAfter).
    */
  final case class Maintenance(shardsRewritten: Array[Long], vectorsRerouted: Long,
                               compaction: Seq[(String, Int, Int)])

  /** The periodic maintenance job for a store under continuous ingest —
    * the scale-era composition of the reference's /set_centroids
    * lifecycle (cluster.py re-fits KMeans offline, compute_server.py
    * /set_centroids swaps the routing table; here the swap also
    * re-routes drifted rows and heals the file layout):
    *
    *  1. [[refreshCentroids]] — re-estimate centroids from the CURRENT
    *     contents (warm-started Lloyd, stable shard identities),
    *     persist, and rewrite only what moved (residual-PQ stores
    *     re-encode, see refreshCentroids).
    *  2. [[graft.sources.Compact.compactPartitions]] over the shard
    *     directories — micro-batch ingest leaves one small file per
    *     batch per shard; compaction restores ~target-size files,
    *     re-sorted by id so row-group pruning keeps working for point
    *     lookups and shortlist re-ranks.
    *
    * Run on a drift signal (shard balance from `listIds`, or recall
    * from `Serving.recallEval`) or on a schedule. Single-writer, same
    * non-atomicity contract as [[upsert]]; both steps are individually
    * crash-safe (tmp-swap) and re-runnable.
    */
  def maintain(sampleFraction: Double = 0.1, iters: Int = 3,
               targetFileBytes: Long = 128L << 20): Maintenance = {
    val (touched, moved) = refreshCentroids(sampleFraction, iters)
    val report = graft.sources.Compact.compactPartitions(
      spark, vecDir, targetFileBytes, sortCols = Seq(idCol))
    // record the RESIDUAL drift a fresh repair leaves on THIS data —
    // the store's own "as good as it gets" baseline. Weak-structure
    // corpora park well off their shard means even right after a
    // sampled retrain, so an absolute drift gate either re-trains
    // every maintenance tick or never fires; a gate calibrated off
    // this baseline (Maintenance.maintainAll reads it) separates
    // real drift from the corpus's noise floor. One extra health scan
    // inside an already-heavy offline verb.
    val residual = health()
      .agg(coalesce(max(col("drift_x1e6")), lit(0L))).head().getLong(0)
    import spark.implicits._
    // tmp-swap, not plain Overwrite: a crash inside delete-then-write
    // would lose the baseline and silently revert maintainAll's gate
    // to the uncalibrated default until the next successful maintain —
    // exactly the window swapDir exists to close, and this is the
    // config-sized table it targets
    val bp = new org.apache.hadoop.fs.Path(driftBaselineDir)
    graft.sources.BatchedTable.swapDir(
      bp.getFileSystem(spark.sparkContext.hadoopConfiguration),
      driftBaselineDir,
      Seq(residual).toDF("drift_x1e6").coalesce(1))
    Maintenance(touched, moved, report)
  }

  /** The residual drift recorded by the last [[maintain]] (None before
    * the first) — the baseline [[graft.Maintenance.maintainAll]]'s
    * drift gate self-calibrates from.
    */
  def driftBaseline(): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(driftBaselineDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish a crashed swap first: the baseline may be parked in the
    // swap's old/ staging dir with the live path momentarily absent
    graft.sources.BatchedTable.recoverDirSwap(fs, driftBaselineDir)
    if (!fs.exists(p)) None
    else scala.util.Try(
      resolved(spark, driftBaselineDir).head().getLong(0)).toOption
  }

  /** One-scan health probe: per shard, the population, the load
    * factor (n·numShards/total, x1e4 — 10000 means perfectly
    * balanced), and the CENTROID DRIFT — L2 distance between the
    * persisted routing centroid and the shard's current member mean
    * (x1e6). Appends and upserts shift the true mean away from the
    * centroid queries route by; drift rising across shards is the
    * "run [[maintain]]" signal, the ops counterpart of the
    * reference's manual /set_centroids lifecycle.
    *
    * Cost: one scan of the store, partial-aggregated to one
    * (count, sum-vector) row per shard, centroids joined as a
    * broadcast literal — safe to run on a schedule at any index size.
    */
  def health(): DataFrame = {
    val cents = centroids()
    val centLit = typedlit(cents.map { case (s, c) => (s.toLong, c.toSeq) }.toMap)
    val perShard = resolved(spark, vecDir)
      .withColumn("shard", col("shard").cast(LongType))
      .groupBy("shard")
      .agg(count(lit(1)).as("n"),
        graft.expressions.VectorSumAgg.vectorSum(
          col(vecCol).cast("array<double>")).as("__vsum"))
    val mean = transform(col("__vsum"), x => x / col("n"))
    val drift = l2Dist(mean, element_at(centLit, col("shard")))
    // the total comes from an unpartitioned window over the ALREADY
    // AGGREGATED frame — ≤ numShards rows, so the single-partition
    // window is bounded by construction and the store is scanned
    // exactly once (a separate agg subtree would re-scan it)
    val total = sum(col("n")).over(
      org.apache.spark.sql.expressions.Window.partitionBy())
    perShard
      .select(col("shard"), col("n"),
        round(col("n") * numShards * 10000.0 / total, 0)
          .cast(LongType).as("load_x1e4"),
        round(drift * 1000000.0, 0).cast(LongType).as("drift_x1e6"))
  }

  /** Offline recall-curve evaluation, persisted with the store: for
    * `nQueries` sample vectors drawn from the index itself (lowest
    * ids — deterministic), compute recall@`topK` of probing the p
    * nearest shards for EVERY p in 1..numShards, in one exact-arm
    * pass. The trick: an exact top-k member found at probe depth p is
    * found at every depth >= p, and because IVF candidates are a
    * subset of the corpus, the exact top-k members inside the probed
    * shards ARE the IVF top-k hits — so per hit we only need the
    * PROBE RANK of its shard for this query (position in the
    * centroid-distance order), and the whole curve is one small
    * aggregate over (hit, probe_rank) rows. No per-p re-search.
    *
    * Persists (nprobe, recall_x1e4, n_queries, top_k) at
    * `path/recall_eval` — the table [[nprobeFor]] and
    * [[searchAtRecall]] consult. Cost: one broadcast-join scoring
    * pass over the store (the same shape as one exact knn batch) —
    * an offline maintenance job, like [[maintain]]; re-run it after
    * drift or rebuilds (the reference leaves shards_to_search to the
    * caller entirely, compute_server.py:108-138).
    *
    * `metric` (round 13): the ground-truth geometry — cosine
    * (default) or L2, completing the metric surface for the
    * `search(metric = l2)` / `searchJoin(metric = l2)` serving paths
    * (routing is L2 either way; only the truth set changes). Curves
    * persist keyed by (metric, compressed, shortlist) and merge
    * without clobbering other modes; compressed + L2 is refused —
    * there is no compressed L2 path to measure.
    *
    * `allowed` (round 14): measure the FILTERED-SLICE curve — ground
    * truth restricted to the allowed ids exactly as
    * `searchJoin(allowed)` restricts serving, so a tenant serving a
    * 5% slice tunes nprobe on measured slice geometry instead of
    * whole-corpus curves (a selective slice concentrates differently
    * across shards). Slice rows persist keyed by the allowed set's
    * CONTENT stamp (`allowed_stamp`; 0 = whole-corpus), one slice per
    * mode, and the id set rides along for [[maintainCurves]];
    * [[nprobeFor]]`(allowed = ...)` refuses a drifted slice loudly.
    */
  def evalRecall(nQueries: Int = 64, topK: Int = 10, compressed: Boolean = false,
                 shortlist: Int = 100,
                 metric: String = graft.plans.ShardTopKJoin.Metric.Cosine,
                 allowed: Option[DataFrame] = None)
      : DataFrame = {
    require(Seq(graft.plans.ShardTopKJoin.Metric.Cosine,
        graft.plans.ShardTopKJoin.Metric.L2,
        graft.plans.ShardTopKJoin.Metric.Ip).contains(metric),
      s"evalRecall metric must be cosine, l2, or ip, got '$metric'")
    require(!compressed || metric == graft.plans.ShardTopKJoin.Metric.Cosine,
      "evalRecall(compressed = true) is cosine-only: the ADC state " +
        "approximates dot/cosine — there is no compressed L2/IP serving " +
        "path to measure (searchJoin refuses the combination too)")
    val cents = centroids()
    val raw = resolved(spark, vecDir)
    // the exact arm's bounded-heap aggregate (TopKAgg) carries Long
    // ids; a string-id store would fail deep inside codegen — fail
    // loudly here instead (recall is an id-agnostic property: eval a
    // long-keyed twin, or extend TopKAgg, before relying on this).
    // Integral ids then CAST to Long: TopKAgg's buffer reads the
    // value as a Long, so an Int column passing the type check but
    // reaching the aggregate uncast would still ClassCastException.
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType)
        .contains(raw.schema(idCol).dataType),
      s"evalRecall requires an integral id column; store '$idCol' is " +
        raw.schema(idCol).dataType.simpleString)
    val store = raw
      .select(col(idCol).cast(LongType).as("vec_id"),
        col("shard").cast(LongType).as("shard"),
        col(vecCol).cast("array<double>").as("embedding"))
    val queries = store
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .orderBy("query_id").limit(nQueries)
    val nq = queries.count()
    // the slice's identity + its truth universe: with `allowed` the
    // ground truth is the exact top-k AMONG ALLOWED ROWS (serving's
    // filter-then-search semantics), measured against the same routing
    // — the geometry a tenant's filtered queries actually see. The
    // query sample stays store-wide (probes need not be slice members).
    val aStamp = sliceStamp(allowed)
    val truthStore = restrictSlice(store, allowed)
    // ONE exact-arm pass feeds both curves: the raw-IVF curve reads
    // each hit's probe rank; the compressed curve additionally asks
    // whether the hit survives the ADC shortlist at each depth. The
    // hits frame is tiny (nQueries x topK) — checkpointed so the two
    // rollups don't re-run the corpus-scoring pass.
    val hits = Serving.exactHits(truthStore, queries, topK, metric)
      .localCheckpoint(true)
    try {
      // whole-corpus denominator nq·topK is exact (the corpus always
      // holds topK non-self rows); a slice may not — count its truths
      val denom = if (allowed.isEmpty) nq * topK else hits.count()
      val rawCurve = Serving
        .curveFromHits(hits, truthStore, queries, cents, numShards, denom)
        .withColumn("compressed", lit(false))
        .withColumn("shortlist", lit(0L))
      val curve =
        if (!compressed) rawCurve
        else {
          val meta = pqMeta().getOrElse(throw new IllegalStateException(
            "evalRecall(compressed = true) needs a PQ-built store: build(pqSubspaces > 0)"))
          rawCurve.unionByName(
            compressedCurve(hits, queries, cents, topK, shortlist, denom, meta,
                allowed)
              .withColumn("compressed", lit(true))
              .withColumn("shortlist", lit(shortlist.toLong)))
        }
      // provenance stamps: the routing state and corpus size this
      // curve was measured against. nprobeFor refuses a curve whose
      // stamp no longer matches the store (rebuild/refresh changed
      // routing, or mass upserts shifted the distribution) — a stale
      // curve would silently mis-tune nprobe. One extra count job in
      // an offline maintenance pass.
      val fresh = curve
        .withColumn("metric", lit(metric))
        .withColumn("n_queries", lit(nq))
        .withColumn("top_k", lit(topK.toLong))
        .withColumn("cent_stamp", lit(centStamp(cents)))
        .withColumn("n_rows", lit(store.count()))
        .withColumn("allowed_stamp", lit(aStamp))
        .select("nprobe", "recall_x1e4", "n_queries", "top_k", "compressed",
          "shortlist", "metric", "cent_stamp", "n_rows", "allowed_stamp")
      // MERGE with the persisted table, don't clobber it: a raw-only
      // re-measurement would otherwise erase a previously measured
      // compressed curve (and vice versa), and searchAtRecall for the
      // erased mode would silently fall back to full probing. Rows for
      // the (compressed, shortlist) keys THIS run reproduces are
      // replaced; other keys carry over ONLY if they were measured at
      // this run's (top_k, n_queries) — recall@k is a different metric
      // per k. Carried curves are as stale as their own last run:
      // re-measure every mode you serve after drift or a parameter
      // change. The slice's ids persist alongside (last slice wins).
      val newKeys: Seq[(Boolean, Long)] =
        (false, 0L) +: (if (compressed) Seq((true, shortlist.toLong)) else Nil)
      writeCurve(recallCurve, fresh,
        mode = col("metric") === metric && newKeys.map(k =>
          col("compressed") === k._1 && col("shortlist") === k._2).reduce(_ || _),
        sample = col("top_k") === topK.toLong && col("n_queries") === nq,
        allowed, aStamp)
    } finally org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(hits)
  }

  /** Recall@topK of the COMPRESSED serving path — [[search]]
    * `(compressed = true)`'s two-phase plan (ADC-approx shortlist,
    * exact re-rank) measured against the shared exact arm, for every
    * probe depth in one pass. The raw-path probe-rank trick extends:
    * a true neighbor survives compressed serving at depth p iff its
    * shard's probe rank ≤ p AND it places in the top-`shortlist` by
    * ADC-approx score among all candidates at that depth (an exact
    * re-rank can never evict a GLOBAL exact-top-k member from the
    * final top-k — fewer than k rows score higher anywhere). Because
    * depth-p candidates are the union of per-probe-rank groups 1..p,
    * a depth-p shortlist member is necessarily in its OWN group's
    * top-`shortlist` — so one bounded-heap pass per (query, probe
    * rank) group reduces the corpus to nQueries·k·shortlist rows, and
    * the per-depth shortlist membership is a window over that small
    * frame. The ADC score reproduces search()'s shortlist key exactly:
    * approx-dot (codes-reconstruction dotted with the query — same
    * value adcDot computes, per-shard books and OPQ rotation included)
    * over `vnorm · |q|`, ties to the lower id.
    *
    * Cost: one code-columns scan of the store (the raw vectors stay on
    * disk, exactly as compressed serving leaves them).
    */
  private def compressedCurve(hits: DataFrame, queries: DataFrame,
                              cents: Array[(Int, Array[Double])], topK: Int,
                              shortlist: Int, denom: Long, meta: PqMeta,
                              allowed: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = numShards
    // a slice restricts the ADC candidate universe the same way
    // compressed serving with `allowed` does: filter before scoring
    val codes = restrictSlice(resolved(spark, vecDir)
      .select(col(idCol).cast(LongType).as("vec_id"),
        col("shard").cast(LongType).as("shard"), col("pq_codes"), col("vnorm")),
      allowed)
    val (frame, recon) = withRecon(codes, meta, cents)
    val q = queries.withColumn("qn", vecNorm(col("qv")))
    val scored = frame.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("approx", when(col("vnorm") === 0.0 || col("qn") === 0.0, 0.0)
        .otherwise(dotProduct(col("qv"), recon) / (col("vnorm") * col("qn"))))
      .withColumn("prank",
        array_position(Centroids.nearestShards(col("qv"), cents, k), col("shard")))
    val perGroup = scored.groupBy("query_id", "prank")
      .agg(graft.expressions.TopKAgg.topK(col("approx"), col("vec_id"), shortlist)
        .as("tops"))
      .select(col("query_id"), col("prank"), explode(col("tops")).as("t"))
      .select(col("query_id"), col("prank"), col("t.id").as("vec_id"),
        col("t.score").as("approx"))
    // a row is a candidate at every depth >= its probe rank; the
    // windows rank <= k·shortlist rows per (query, depth) — bounded
    // by construction, corpus-size-independent
    val byDepth = perGroup.select(col("query_id"), col("vec_id"), col("approx"),
      explode(sequence(col("prank"), lit(k.toLong))).as("nprobe"))
    val w = Window.partitionBy("query_id", "nprobe")
      .orderBy(desc("approx"), asc("vec_id"))
    // CAPACITY = shortlist - 1, not shortlist: serving's ADC shortlist
    // ranks over the probed rows INCLUDING the query's own vector when
    // the query is a corpus member (it scores ~1 and occupies a slot),
    // while this eval excludes self from candidates — modeling the
    // full shortlist would overestimate boundary recall for exactly
    // the case the eval queries exercise. For foreign queries (no self
    // in the corpus) the -1 is one slot conservative — the safe
    // direction for a recall contract.
    val members = byDepth.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= math.max(1, shortlist - 1))
      .select("query_id", "vec_id", "nprobe")
    val found = members.join(hits, Seq("query_id", "vec_id"))
      .groupBy("nprobe").agg((count(lit(1)) * 10000L).as("__h"))
    // depths where NO hit survives must still emit a 0 row
    spark.range(1, k + 1).toDF("nprobe")
      .join(found, Seq("nprobe"), "left")
      .select(col("nprobe"),
        expr(s"coalesce(__h, 0L) div ${math.max(denom, 1L)}").as("recall_x1e4"))
  }

  /** (frame ready for scoring, raw-space reconstruction column) for a
    * coded store frame carrying (shard, pq_codes): global books decode
    * via plan-literal codebooks (rotation folded in for OPQ stores);
    * per-shard books join the broadcast raw-space book frame
    * ([[ProductQuantizer.rawBookFrame]]). Residual stores add the
    * shard centroid back, completing `v~ = c_shard + R^T(decode)`.
    */
  private def withRecon(codesFrame: DataFrame, meta: PqMeta,
                        cents: Array[(Int, Array[Double])]): (DataFrame, org.apache.spark.sql.Column) = {
    val (frame, decoded) = (meta.books, meta.rotation) match {
      case (ProductQuantizer.GlobalBooks(m), None) =>
        (codesFrame, ProductQuantizer.decodeCol(col("pq_codes"), m))
      case (ProductQuantizer.GlobalBooks(m), Some(r)) =>
        (codesFrame, Opq.decodeRawCol(col("pq_codes"),
          Opq.Model(Pca.Model(new Array[Double](r.length), r), m)))
      case (ps: ProductQuantizer.PerShardBooks, rot) =>
        val bookDf = ProductQuantizer.rawBookFrame(spark, ps, rot)
        (codesFrame.join(broadcast(bookDf), "shard"),
          ProductQuantizer.rawDecodeFromBook(col("pq_codes"), col("__book"),
            ps.models.head._2.numSubspaces))
    }
    val recon = if (!meta.residual) decoded else {
      val ordered = cents.sortBy(_._1).map(_._2.toSeq).toSeq
      zip_with(element_at(typedlit(ordered), col("shard").cast("int") + 1),
        decoded, (c, r) => c + r)
    }
    (frame, recon)
  }

  /** Smallest nprobe whose persisted measured recall meets `target`
    * (numShards when nothing does, or when [[evalRecall]] has not run
    * — full probe is always recall 1.0 by construction ON THE RAW
    * PATH). With `compressed = true` the pick consults the
    * COMPRESSED curve rows measured at the same `shortlist` — ADC
    * shortlist truncation adds its own recall loss, so the raw curve
    * systematically under-provisions compressed serving; if no
    * matching compressed curve has been persisted (run
    * `evalRecall(compressed = true, shortlist = ...)` first), or no
    * depth meets the target (shortlist too small for the target at
    * ANY depth), the fallback is the deepest probe. numShards-row
    * read, driver-side pick: the same decision the reference caller
    * makes by hand via /search's shards_to_search knob, made
    * self-tuning from measured data.
    *
    * STALENESS: a curve row carries the routing stamp and row count of
    * the store it was measured against ([[evalRecall]]); with
    * `checkFresh` (the default) a mismatched stamp — the centroids
    * changed under build/refreshCentroids/setCentroids — or a > 20%
    * row-count drift (mass upserts/deletes shifting the distribution)
    * REFUSES loudly instead of silently tuning nprobe from measurements
    * of a store that no longer exists; re-run evalRecall (or
    * [[maintainCurves]]) to heal. The check costs a k-row centroid
    * read plus one store count job — fine for the
    * resolve-once-and-reuse serving pattern; a per-query hot path
    * passes `checkFresh = false` against a curve it refreshes on its
    * own maintenance schedule. A table written in an older layout is
    * no curve (full probing) until the next evalRecall replaces it.
    *
    * `allowed` (round 14): tune a FILTERED serving path on its own
    * measured slice curve (`evalRecall(allowed = ...)` first). An
    * unmeasured slice falls back to full probing (exact, never wrong);
    * a slice whose content stamp no longer matches the persisted rows
    * — the allowed set drifted since measurement — REFUSES loudly,
    * the cent-stamp discipline applied to the filter.
    */
  def nprobeFor(target: Double, compressed: Boolean = false,
                shortlist: Int = 0, checkFresh: Boolean = true,
                metric: String = graft.plans.ShardTopKJoin.Metric.Cosine,
                allowed: Option[DataFrame] = None): Int =
    recallCurve.rows.fold(numShards) { t =>
      // raw rows carry shortlist 0
      val mode = sliceRowsFor(t.filter(col("metric") === metric &&
          col("compressed") === compressed &&
          col("shortlist") === (if (compressed) shortlist.toLong else 0L)),
        sliceStamp(allowed), "recall")
      if (checkFresh) recallCurve.requireFresh(mode, storeStamps(),
        "re-run evalRecall, or pass checkFresh = false to knowingly serve on it")
      graft.Curve.pick(mode, target, numShards)
    }

  /** [[search]] with nprobe chosen from the persisted recall curve:
    * the cheapest probe depth whose MEASURED recall@topK meets
    * `targetRecall` on this index's own data distribution. With
    * `compressed = true` the depth comes from the compressed curve at
    * this `shortlist` — the curve that accounts for ADC truncation
    * loss, the regime compression exists for (see [[nprobeFor]]).
    */
  def searchAtRecall(q: Array[Double], topK: Int = 5, targetRecall: Double = 0.95,
                     compressed: Boolean = false, shortlist: Int = 100,
                     checkFresh: Boolean = true,
                     metric: String =
                       graft.plans.ShardTopKJoin.Metric.Cosine): DataFrame =
    search(q, topK,
      nprobeFor(targetRecall, compressed, shortlist, checkFresh, metric),
      compressed, shortlist, metric)

  // --- radius (range-search) recall: measure, persist, tune ----------
  /** The RADIUS flavor of [[evalRecall]] (round-13 VERDICT ask 5):
    * [[rangeJoin]]'s IVF recall contract — matches in unprobed shards
    * are missed — was oracle-pinned but never MEASURED per probe
    * depth. For each depth p this persists the fraction of true
    * τ-matches (exact cosine ≥ `minScore`, self excluded, over a
    * deterministic `nQueries` query sample) whose shard ranks ≤ p in
    * the query's centroid order, so radius callers pick nprobe from a
    * measured curve exactly the way `searchAtRecall` does for top-k.
    * The denominator is data-determined (`n_matches` rides along —
    * recall@τ is a different metric per τ, so curves are keyed by
    * `min_score_x1e6`). Provenance stamps (cent_stamp, n_rows) and
    * the merge-don't-clobber discipline mirror [[evalRecall]];
    * [[nprobeForRange]] refuses a stale curve the same way.
    */
  def evalRangeRecall(minScore: Double, nQueries: Int = 64,
                      allowed: Option[DataFrame] = None): DataFrame = {
    val cents = centroids()
    val store = resolved(spark, vecDir)
      .select(col(idCol).cast(LongType).as("vec_id"),
        col("shard").cast(LongType).as("shard"),
        col(vecCol).cast("array<double>").as("embedding"))
    val queries = store
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .orderBy("query_id").limit(nQueries)
    val nq = queries.count()
    val tauKey = math.round(minScore * 1e6)
    // slice semantics mirror evalRecall's: τ-truth restricted to the
    // allowed ids (rangeJoin(allowed)'s filter-then-search), curve
    // rows keyed by the slice's content stamp, one slice per τ
    val aStamp = sliceStamp(allowed)
    val fresh = Serving.rangeCurveFrom(restrictSlice(store, allowed), queries,
        cents.toSeq, numShards, minScore)
      .withColumn("n_queries", lit(nq))
      .withColumn("min_score_x1e6", lit(tauKey))
      .withColumn("cent_stamp", lit(centStamp(cents)))
      .withColumn("n_rows", lit(store.count()))
      .withColumn("allowed_stamp", lit(aStamp))
      .select("nprobe", "recall_x1e4", "n_matches", "n_queries",
        "min_score_x1e6", "cent_stamp", "n_rows", "allowed_stamp")
    writeCurve(rangeCurve, fresh, mode = col("min_score_x1e6") === tauKey,
      sample = col("n_queries") === nq, allowed, aStamp)
  }

  /** Cheapest probe depth whose MEASURED radius recall at `minScore`
    * meets `target` — [[nprobeFor]]'s contract for the range path:
    * no curve (or no curve at this τ) falls back to full probing;
    * centroid or >20% row-count drift REFUSES loudly unless
    * `checkFresh = false`.
    */
  def nprobeForRange(minScore: Double, target: Double,
                     checkFresh: Boolean = true,
                     allowed: Option[DataFrame] = None): Int =
    rangeCurve.rows.fold(numShards) { t =>
      val curve = sliceRowsFor(
        t.filter(col("min_score_x1e6") === math.round(minScore * 1e6)),
        sliceStamp(allowed), "range-recall")
      if (checkFresh) rangeCurve.requireFresh(curve, storeStamps(),
        "re-run evalRangeRecall, or pass checkFresh = false to knowingly serve on it")
      graft.Curve.pick(curve, target, numShards)
    }

  /** [[rangeJoin]] with nprobe chosen from the persisted radius curve
    * — the cheapest depth whose measured τ-recall meets `targetRecall`
    * — and, when `allowed` is set, from the SLICE's own measured curve
    * (`evalRangeRecall(allowed)` first): the filtered serving path
    * tunes on the geometry it serves (round 14 — previously the tune
    * consulted the whole-corpus curve while serving the slice).
    */
  def rangeJoinAtRecall(queries: DataFrame, minScore: Double,
                        targetRecall: Double = 0.95,
                        allowed: Option[DataFrame] = None,
                        excludeSelf: Boolean = false,
                        maxRowsPerTask: Long = 0L,
                        compressed: Boolean = false,
                        margin: Double = 0.05,
                        checkFresh: Boolean = true): DataFrame =
    rangeJoin(queries, minScore,
      nprobe = nprobeForRange(minScore, targetRecall, checkFresh, allowed),
      allowed = allowed, excludeSelf = excludeSelf,
      maxRowsPerTask = maxRowsPerTask, compressed = compressed,
      margin = margin)

  // --- fusion-level recall: measure, persist, tune -------------------
  /** The PAGE-level recall curve for hybrid serving (round 13): per
    * probe depth p, how much of the exact-arm RRF page (keyword arm +
    * exact all-shards vector arm) the page served at nprobe = p
    * recovers. The vector curve ([[evalRecall]]) bounds but does not
    * determine this — RRF re-surfaces vector-missed docs through
    * keyword ranks and demotes vector hits — so a RAG caller tuning
    * nprobe against the VECTOR curve over- or under-probes for the
    * metric they actually serve. One map-only corpus pass measures
    * every depth ([[Serving.fusionRecallFrame]]'s packed-replica
    * trick through the broadcast exec).
    *
    * `queries` must carry (query_id, terms, qv) — fusion recall is a
    * property of BOTH indexes, so the persisted curve stamps the
    * store's routing (cent_stamp, n_rows) AND the text index's
    * content stamp; [[nprobeForFusion]] refuses if either moved.
    * Curves merge keyed by (top_k, shortlist, rrf_k, compressed,
    * vec_shortlist) without clobbering other parameterizations,
    * [[evalRecall]]'s discipline.
    *
    * `compressed = true` measures the ADC-SERVED page instead
    * (shortlist truncation at `vecShortlist` on top of IVF misses,
    * exact re-rank included) against the SAME exact-arm reference —
    * also ONE pass (codes-only, through the keyed broadcast exec's
    * Adc metric): per-(query, prank) approx shortlists merge into
    * each depth's ADC cut, distinct survivors re-rank exactly once.
    * Spec-pinned two ways: a covering `vecShortlist` reproduces the
    * raw curve exactly, and a TRUNCATING one matches a literal
    * per-depth `searchJoin(compressed = true)` mirror.
    */
  def evalFusionRecall(idx: graft.text.TermIndex, queries: DataFrame,
                       topK: Int = 10, shortlist: Int = 50,
                       rrfK: Int = 60,
                       compressed: Boolean = false,
                       vecShortlist: Int = 100,
                       allowed: Option[DataFrame] = None): DataFrame = {
    val cents = centroids()
    // slice semantics (round 14): BOTH arms restricted exactly as
    // `Serving.fusionServing(allowed)` restricts serving — the keyword
    // arm filter-then-ranks through the index, the vector arm's corpus
    // (raw and coded) semi-joins before scoring — and the exact-arm
    // reference page is the filtered full-depth page, so the measured
    // curve is the slice's own page geometry. Rows key by the allowed
    // set's content stamp, the evalRecall discipline.
    val aStamp = sliceStamp(allowed)
    val assigned = restrictSlice(resolved(spark, vecDir)
      .select(col(idCol).cast(LongType).as("vec_id"),
        col("shard").cast(LongType).as("shard"),
        col(vecCol).cast("array<double>").as("embedding")), allowed)
    val q = queries
      .select(col("query_id").cast(LongType).as("query_id"),
        col("terms"), col("qv").cast("array<double>").as("qv"))
      .localCheckpoint(true)
    try {
      val nq = q.count()
      require(nq > 0, "evalFusionRecall needs a non-empty query sample")
      val kw = Serving.kwRanks(idx, q, shortlist,
        allowed = allowed.map(ids =>
          ids.select(col(ids.columns.head).cast(LongType).as("doc_id"))))
      val curve =
        if (!compressed)
          // ONE map-only pass for every depth (packed-replica trick)
          Serving.fusionRecallFrame(kw, assigned,
            q.select("query_id", "qv"), cents.toSeq, numShards,
            topK, shortlist, rrfK, nq)
        else {
          // the ADC-SERVED page's recall: shortlist truncation on top
          // of IVF misses, against the same exact-arm reference page —
          // in ONE codes-only pass (the keyed broadcast exec's Adc
          // metric, round 13; this previously paid numShards
          // probe-bounded searchJoin runs). Per-depth arms are
          // reproduced bit-for-bit vs a literal per-depth searchJoin
          // (spec-pinned).
          val meta = pqMeta().getOrElse(throw new IllegalStateException(
            "evalFusionRecall(compressed = true) needs a PQ-built store: " +
              "build(pqSubspaces > 0)"))
          val coded = restrictSlice(resolved(spark, vecDir)
            .select(col(idCol).cast(LongType).as("vec_id"),
              col("shard").cast(LongType).as("shard"),
              col("pq_codes").as("codes"), col("vnorm")), allowed)
          val adcState = graft.plans.ShardTopKJoin.AdcState(
            books = meta.books match {
              case ProductQuantizer.GlobalBooks(m) => Map(-1 -> m.centroids)
              case ps: ProductQuantizer.PerShardBooks =>
                ps.models.map { case (s, m) => s -> m.centroids }
            },
            rotation = meta.rotation,
            residual = if (!meta.residual) None
              else Some(cents.map { case (s, c) => s -> c }.toMap))
          Serving.fusionRecallFrameCompressed(kw, assigned, coded,
            q.select("query_id", "qv"), cents.toSeq, numShards,
            topK, shortlist, rrfK, nq, adcState, vecShortlist)
        }
      val fresh = curve
        .withColumn("n_queries", lit(nq))
        .withColumn("top_k", lit(topK.toLong))
        .withColumn("shortlist", lit(shortlist.toLong))
        .withColumn("rrf_k", lit(rrfK.toLong))
        .withColumn("compressed", lit(compressed))
        .withColumn("vec_shortlist",
          lit(if (compressed) vecShortlist.toLong else 0L))
        .withColumn("cent_stamp", lit(centStamp(cents)))
        .withColumn("idx_stamp", lit(idx.contentStamp()))
        // n_rows stamps the UNFILTERED store (row-count drift is a
        // store-level signal; the slice's identity is allowed_stamp)
        .withColumn("n_rows", lit(resolved(spark, vecDir).count()))
        .withColumn("allowed_stamp", lit(aStamp))
        .select("nprobe", "recall_x1e4", "n_queries", "top_k", "shortlist",
          "rrf_k", "compressed", "vec_shortlist", "cent_stamp", "idx_stamp",
          "n_rows", "allowed_stamp")
      val out = writeCurve(fusionCurve, fresh,
        fusionMode(topK, shortlist, rrfK, compressed, vecShortlist),
        sample = col("n_queries") === nq, allowed, aStamp)
      // persist the query SAMPLE alongside the curve (sample-sized),
      // so [[maintainCurves]] can re-measure a stale fusion curve
      // without the caller re-supplying terms — last measurement's
      // sample wins (one sample per store; re-measured tables reflect
      // it)
      q.coalesce(1).write.mode(SaveMode.Overwrite).parquet(fusionQueriesDir)
      out
    } finally org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint(q)
  }

  /** Cheapest probe depth whose MEASURED fusion recall meets `target`
    * — [[nprobeFor]]'s contract at the page level. No curve (or none
    * at this parameterization) falls back to full probing, which is
    * exact; a stale curve REFUSES loudly: the store's routing moved,
    * the corpus drifted > 20%, or the TEXT index's content stamp
    * changed (the keyword arm's ranks — half the page — are as much a
    * provenance input as the shards). `allowed` (round 14) tunes a
    * filtered fusion path on its own measured slice curve
    * ([[evalFusionRecall]]`(allowed)` first), refusing a drifted
    * slice — [[nprobeFor]]'s slice contract at the page level.
    */
  def nprobeForFusion(idx: graft.text.TermIndex, target: Double,
                      topK: Int = 10, shortlist: Int = 50, rrfK: Int = 60,
                      checkFresh: Boolean = true,
                      compressed: Boolean = false,
                      vecShortlist: Int = 100,
                      allowed: Option[DataFrame] = None): Int =
    fusionCurve.rows.fold(numShards) { t =>
      val curve = sliceRowsFor(
        t.filter(fusionMode(topK, shortlist, rrfK, compressed, vecShortlist)),
        sliceStamp(allowed), "fusion-recall")
      if (checkFresh) fusionCurve.requireFresh(curve,
        storeStamps() + ("idx_stamp" -> idx.contentStamp()),
        "re-run evalFusionRecall, or pass checkFresh = false to knowingly serve on it")
      graft.Curve.pick(curve, target, numShards)
    }

  /** The fusion curve's mode key: one parameterization's rows. */
  private def fusionMode(topK: Int, shortlist: Int, rrfK: Int,
                         compressed: Boolean, vecShortlist: Int): Column =
    col("top_k") === topK.toLong && col("shortlist") === shortlist.toLong &&
      col("rrf_k") === rrfK.toLong && col("compressed") === compressed &&
      col("vec_shortlist") === (if (compressed) vecShortlist.toLong else 0L)

  /** A store-derived fusion query sample — (query_id, terms, qv) for
    * the `nQueries` lowest-id vectors ([[evalRecall]]'s deterministic
    * sampling convention), each vector paired with its own doc's most
    * characteristic terms from the paired text index
    * ([[graft.text.TermIndex.topTerms]] — tf·idf, deterministic
    * ties). Lets [[evalFusionRecall]] and
    * [[maintainCurves]]`(bootstrapFusion = true)` measure a fusion
    * curve without the caller hand-writing query terms. Ids present
    * in the store but with no live postings (never indexed, or
    * tombstoned) drop from the sample — fusion recall is a property
    * of BOTH indexes, so only doubly-covered docs qualify as probes.
    */
  def fusionSampleFrom(idx: graft.text.TermIndex, nQueries: Int = 64,
                       termsPerQuery: Int = 3,
                       stratified: Boolean = false): DataFrame = {
    val base = resolved(spark, vecDir)
      .select(col(idCol).cast(LongType).as("query_id"),
        col("shard").cast(LongType).as("__sh"),
        col(vecCol).cast("array<double>").as("qv"))
    // stratified = true spreads the sample across the store's OWN
    // clustering (ceil(n/k) lowest ids per shard): a skewed corpus's
    // curve then reflects every region's routing behavior instead of
    // wherever the lowest ids happen to cluster — same determinism
    // (lowest ids within each stratum)
    val qs =
      if (!stratified) base.orderBy("query_id").limit(nQueries)
        .select("query_id", "qv")
      else {
        // per-shard lowest ids through the bounded heap (score =
        // negated id; exact below 2^53 — any realistic id space), so
        // the sample pass ships ≤ per rows per (shard, partition) —
        // never a per-shard window sort of the corpus
        val per = (nQueries + numShards - 1) / numShards
        base.groupBy("__sh")
          .agg(graft.expressions.TopKAgg.topK(
            (-col("query_id")).cast("double"), col("query_id"), per).as("__t"))
          .select(explode(col("__t.id")).as("query_id"))
          .join(base.select("query_id", "qv"), "query_id")
      }
    idx.topTerms(qs.select(col("query_id").as("doc_id")), termsPerQuery)
      .select(col("doc_id").as("query_id"), col("terms"))
      .join(qs, "query_id")
      .select("query_id", "terms", "qv")
  }

  /** What [[maintainCurves]] did: per curve table, how many
    * parameterizations it re-measured; `fusionSkipped` counts stale
    * fusion parameterizations it could NOT re-measure (no TermIndex
    * passed, or no persisted query sample).
    */
  final case class CurveMaintenance(recallRefreshed: Int, rangeRefreshed: Int,
                                    fusionRefreshed: Int, fusionSkipped: Int) {
    def refreshed: Int = recallRefreshed + rangeRefreshed + fusionRefreshed
  }

  /** The scheduled-maintenance verb for the TUNING artifacts — the
    * curve-side counterpart of [[maintain]]: the three persisted
    * curve tables ([[evalRecall]], [[evalRangeRecall]],
    * [[evalFusionRecall]]) go stale independently (routing changed,
    * > 20% row drift, and — fusion only — the text index's content
    * stamp moved), and each `nprobeFor*` REFUSES a stale curve, so an
    * operator otherwise re-runs evals by hand after every
    * drift-repair. This reads each table's OWN provenance stamps and
    * re-measures exactly the stale parameterizations, with the
    * parameters the rows themselves carry (mode keys, sample sizes;
    * the fusion query sample persists alongside its curve for this).
    * Fresh parameterizations are untouched — a no-op call costs the
    * stamp reads. Pass the store's paired TermIndex to cover the
    * fusion table; without it, stale fusion parameterizations are
    * counted in `fusionSkipped` rather than silently dropped. A table
    * written in an older layout holds no curve and is not re-measured.
    * Ends by deleting persisted slice-id sets no curve row references.
    */
  def maintainCurves(idx: Option[graft.text.TermIndex] = None,
                     bootstrapFusion: Boolean = false): CurveMaintenance = {
    val now = storeStamps()
    val hc = spark.sparkContext.hadoopConfiguration
    def exists(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hc).exists(p)
    }

    // slice curves re-measure from the id set the evals persisted
    // alongside them, keyed by the row's OWN allowed_stamp (each
    // family/mode may hold a different slice): Some(allowed) is the
    // eval's argument, None a slice row whose ids were never persisted
    // — unrecoverable here, so left in place (its nprobeFor refuses on
    // the stale stamp loudly, never a silent mis-tune). Pinned eagerly:
    // a slice re-measure OVERWRITES the stamp directory this frame
    // reads, so an unpinned lazy read would lose its files mid-pass.
    val sliceIdsCache =
      scala.collection.mutable.Map.empty[Long, Option[DataFrame]]
    def sliceArg(m: org.apache.spark.sql.Row): Option[Option[DataFrame]] =
      m.getAs[Long]("allowed_stamp") match {
        case 0L => Some(None)
        case st => sliceIdsCache.getOrElseUpdate(st, {
          val d = s"$sliceIdsDir/stamp=$st"
          if (exists(d)) Some(resolved(spark, d).localCheckpoint(true))
          else None
        }).map(Some(_))
      }
    try {
      // a compressed re-measure also re-measures its raw twin (one
      // exact-arm pass feeds both) — do compressed modes first and
      // skip raw modes evalRecall already replaced
      val (comp, raw) = recallCurve.stale(now).partition(_.getAs[Boolean]("compressed"))
      def twin(m: org.apache.spark.sql.Row) =
        (m.getAs[String]("metric"), m.getAs[Long]("top_k"),
          m.getAs[Long]("n_queries"), m.getAs[Long]("allowed_stamp") != 0L)
      val covered = comp.map(twin).toSet
      val nRecall = (comp ++ raw.filterNot(m => covered(twin(m)))).count { m =>
        sliceArg(m).exists { a =>
          evalRecall(m.getAs[Long]("n_queries").toInt, m.getAs[Long]("top_k").toInt,
            compressed = m.getAs[Boolean]("compressed"),
            shortlist = m.getAs[Long]("shortlist").toInt,
            metric = m.getAs[String]("metric"), allowed = a)
          true
        }
      }

      val nRange = rangeCurve.stale(now).count(m => sliceArg(m).exists { a =>
        evalRangeRecall(m.getAs[Long]("min_score_x1e6") / 1e6,
          m.getAs[Long]("n_queries").toInt, allowed = a)
        true
      })

      // without the TermIndex only the store stamps are compared; a
      // stale parameterization that cannot be re-measured (no index,
      // no persisted query sample, or lost slice ids) is counted in
      // `fusionSkipped`
      val (nFusion, nFusionSkipped) =
        if (fusionCurve.rows.isEmpty && bootstrapFusion)
          // bootstrap (opt-in): a store that never measured a fusion
          // curve gets one from its own docs — default parameters, the
          // store-derived sample ([[fusionSampleFrom]])
          idx.fold((0, 1)) { i => evalFusionRecall(i, fusionSampleFrom(i)); (1, 0) }
        else {
          val stale = fusionCurve.stale(
            now ++ idx.map(i => "idx_stamp" -> i.contentStamp()))
          val sampleOk = exists(fusionQueriesDir)
          val done = stale.count(m => (idx, sliceArg(m)) match {
            case (Some(i), Some(a)) if sampleOk =>
              evalFusionRecall(i, resolved(spark, fusionQueriesDir),
                topK = m.getAs[Long]("top_k").toInt,
                shortlist = m.getAs[Long]("shortlist").toInt,
                rrfK = m.getAs[Long]("rrf_k").toInt,
                compressed = m.getAs[Boolean]("compressed"),
                vecShortlist = math.max(m.getAs[Long]("vec_shortlist").toInt, 1),
                allowed = a)
              true
            case _ => false
          })
          (done, stale.length - done)
        }
      dropUnusedSliceIds()
      CurveMaintenance(nRecall, nRange, nFusion, nFusionSkipped)
    } finally sliceIdsCache.values.flatten.foreach(
      org.apache.spark.sql.graftshim.CheckpointInterop.unpersistCheckpoint)
  }

  /** Continuous ingest: route and append each micro-batch of a vector
    * stream (the streaming twin of the reference's /store loop,
    * test.py:100-101 firing one HTTP POST per vector). Returns the
    * handle; caller stops it.
    */
  def streamStore(vectors: org.apache.spark.sql.DataFrame,
                  checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => store(batch) }
      .start()

  /** Continuous knn-JOIN serving — [[graft.text.TermIndex.serveStream]]'s
    * contract for the vector store: each micro-batch of (query_id, qv)
    * rows probes via [[searchJoin]] (every mode included — filtered,
    * salted, compressed-with-exact-re-rank, and since round 13 the L2
    * metric, whose contract checks fire at stream start) and writes
    * (query_id, rank, <idCol>, score) to `outDir` through
    * [[graft.streaming.ServeStream]]. Completes the serving pair with
    * [[graft.streaming.StreamingSearch]]: that object scores an
    * in-memory corpus frame; this serves the
    * PERSISTED store — shard partition layout, codebooks, and salt
    * discipline included.
    *
    * Per-tick hygiene: the routing centroids, PQ meta, and (when
    * `maxRowsPerTask > 0`) the population salt table resolve ONCE at
    * stream start — a micro-batch schedules only the empty-check and
    * its own probe, never store-metadata jobs. The salt table is
    * sized from the `allowed`-restricted corpus (the join's actual
    * big side) and rides a localCheckpoint for the stream's lifetime
    * (≤ numShards rows); populations are a property of the static
    * store — restart the stream after mass ingest, which also picks
    * up new routing (same rule as the recall curve's staleness
    * stamp).
    */
  def serveStream(queries: DataFrame, outDir: String, checkpoint: String,
                  topK: Int = 5, nprobe: Int = 2,
                  allowed: Option[DataFrame] = None,
                  excludeSelf: Boolean = false,
                  maxRowsPerTask: Long = 0L,
                  compressed: Boolean = false,
                  shortlist: Int = 100,
                  metric: String =
                    graft.plans.ShardTopKJoin.Metric.Cosine)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val probe = searchJoinServing(topK, nprobe, allowed, excludeSelf,
      maxRowsPerTask, compressed, shortlist, metric)
    graft.streaming.ServeStream.start(queries, checkpoint) { (batch, write) =>
      // watermark ticks deliver empty batches — skip the probe and
      // the write entirely (isEmpty is a limit-1 driver check)
      if (!batch.isEmpty) write(outDir, probe(batch))
    }
  }

  /** The resolved join-scale serving closure [[serveStream]] (and
    * `Serving.serveHybridStream`'s vector arm) probe with: routing
    * centroids, PQ meta, the pinned allowed set, and (when salting)
    * the population salt table resolve ONCE here, so each invocation
    * of the returned function costs only its own probe — never a
    * store-metadata job. A compressed closure over a non-PQ store
    * refuses NOW (stream start), not inside the first micro-batch.
    * The allowed set is pinned (localCheckpoint) so an expensive or
    * non-deterministic producing plan doesn't re-execute per call and
    * can't drift against the frozen salt table; salts are sized from
    * the `allowed`-restricted corpus (the join's actual big side) —
    * populations are a property of the static store, so restart the
    * stream after mass ingest (the recall-curve staleness rule).
    */
  private[vector] def searchJoinServing(topK: Int, nprobe: Int,
                                        allowed: Option[DataFrame],
                                        excludeSelf: Boolean,
                                        maxRowsPerTask: Long,
                                        compressed: Boolean,
                                        shortlist: Int,
                                        metric: String =
                                          graft.plans.ShardTopKJoin.Metric.Cosine)
      : DataFrame => DataFrame = {
    // the metric contract checks fire at STREAM START, not inside the
    // first micro-batch (searchJoinResolved would repeat them per tick)
    require(Seq(graft.plans.ShardTopKJoin.Metric.Cosine,
        graft.plans.ShardTopKJoin.Metric.L2,
        graft.plans.ShardTopKJoin.Metric.Ip).contains(metric),
      s"serving metric must be cosine, l2, or ip, got '$metric'")
    require(!compressed || metric == graft.plans.ShardTopKJoin.Metric.Cosine,
      "compressed serving is cosine-only: the ADC state approximates " +
        "dot/cosine — an L2/IP shortlist through it would rank on the " +
        "wrong geometry")
    val (cents, meta, allowedPinned, salts) =
      resolveServingState(allowed, maxRowsPerTask, compressed)
    batch => searchJoinResolved(batch, topK, nprobe, allowedPinned, excludeSelf,
      maxRowsPerTask, compressed, shortlist, cents, meta, salts, metric)
  }

  /** Cosine top-k over the `nprobe` nearest shards (reference /search).
    * Executes as: partition-prune to the probed shards -> map-only
    * scoring with the codegen'd CosineSim kernel -> TakeOrdered (local
    * per-partition heaps, no global sort).
    *
    * With `compressed = true` (requires a PQ-built store) the probed
    * shards are scanned COMPRESSED first: an ADC approximate-cosine
    * pass reads only (id, pq_codes, vnorm) — column pruning leaves the
    * raw vectors on disk — takes a `shortlist` of candidates, and only
    * those ids' raw vectors are re-read for the exact cosine re-rank
    * (the id filter pushes to parquet row-group stats, so decompressed
    * IO is shortlist-sized, not shard-sized). At 100 TB that turns the
    * within-shard scan from 8·dim bytes/row into ~M bytes/row.
    *
    * `metric` (round 13): cosine (default) or
    * [[graft.plans.ShardTopKJoin.Metric.L2]] — euclidean top-k with
    * `score` = the distance and rank ASCENDING it, the single-query
    * twin of `searchJoin(metric = l2)`. Routing is L2 either way
    * (compute_server.py:40-48); compressed + L2 is refused (the ADC
    * state approximates dot/cosine).
    */
  def search(q: Array[Double], topK: Int = 5, nprobe: Int = 1,
             compressed: Boolean = false, shortlist: Int = 100,
             metric: String =
               graft.plans.ShardTopKJoin.Metric.Cosine): DataFrame =
    searchWhere(q, None, topK, nprobe, compressed, shortlist, metric)

  /** Predicated ANN: [[search]] restricted to the ids in `allowed` —
    * filter-THEN-search, not search-then-filter. Post-filtering a
    * top-k loses recall whenever the predicate is selective (the true
    * filtered neighbors never make the unfiltered top-k); here the
    * allowed-id set joins the probed shards BEFORE any scoring, so the
    * top-k ranks only eligible vectors and recall against the
    * filtered ground truth is the IVF recall, unchanged. The join is
    * left-semi on the id: Catalyst broadcasts a small allowed set, and
    * at corpus scale a huge predicate frame shuffles both sides —
    * either way the compressed path's ADC scan and shortlist re-rank
    * run on eligible rows only. (An attribute predicate becomes
    * `attrs.filter(p).select(id)` on the caller's metadata table.)
    */
  def searchWhere(q: Array[Double], allowed: Option[DataFrame], topK: Int = 5,
                  nprobe: Int = 1, compressed: Boolean = false,
                  shortlist: Int = 100,
                  metric: String =
                    graft.plans.ShardTopKJoin.Metric.Cosine): DataFrame = {
    val isL2 = metric == graft.plans.ShardTopKJoin.Metric.L2
    val isIp = metric == graft.plans.ShardTopKJoin.Metric.Ip
    require(Seq(graft.plans.ShardTopKJoin.Metric.Cosine,
        graft.plans.ShardTopKJoin.Metric.L2,
        graft.plans.ShardTopKJoin.Metric.Ip).contains(metric),
      s"search metric must be cosine, l2, or ip, got '$metric'")
    require(!compressed || metric == graft.plans.ShardTopKJoin.Metric.Cosine,
      "search(compressed = true) is cosine-only: the ADC state approximates " +
        "dot/cosine — an L2/IP shortlist through it would rank on the wrong " +
        "geometry (searchJoin's contract)")
    val cents = centroids()
    val probe = Centroids.nearestShardsOf(q, cents, nprobe).map(_.toLong)
    val probedAll = resolved(spark, vecDir).filter(col("shard").isin(probe: _*))
    val probed = allowed match {
      case Some(ids) => probedAll.join(ids.select(col(idCol)), Seq(idCol), "left_semi")
      case None => probedAll
    }
    val ranked =
      if (!compressed) probed.withColumn("score",
        if (isL2) l2Dist(col(vecCol), typedlit(q.toSeq))
        else if (isIp)
          graft.expressions.VectorExpressions.dotProduct(
            col(vecCol), typedlit(q.toSeq))
        else cosineSim(col(vecCol), typedlit(q.toSeq)))
      else {
        val PqMeta(books, residual, rotation) = pqMeta().getOrElse(
          throw new IllegalStateException(
            "compressed search needs a PQ-built store: build(pqSubspaces > 0)"))
        val qn = math.sqrt(q.map(x => x * x).sum)
        // OPQ stores hold codes in rotated space; rotating the query
        // once driver-side makes the ADC lookup exact in that space
        // (<q, r~> = <R q, R r~>, R pure rotation) — centroid offsets
        // and vnorm stay in raw space, untouched
        val qAdc = rotation.map(r => r.map { row =>
          var s = 0.0; var i = 0
          while (i < q.length) { s += row(i) * q(i); i += 1 }
          s
        }).getOrElse(q)
        // residual stores: <q,v> ~ <q,c_s> (per-shard literal) + ADC
        val adc = books match {
          case ProductQuantizer.GlobalBooks(m) =>
            ProductQuantizer.adcDot(col("pq_codes"), qAdc, m)
          case ps: ProductQuantizer.PerShardBooks =>
            // only the PROBED shards' lookup tables ride as plan
            // literals — nprobe x M x K doubles, so plan size is
            // probe-bounded, not shard-count-bounded
            val probed = probe.map(_.toInt).toSet
            ProductQuantizer.adcDotPerShard(col("pq_codes"), col("shard"), qAdc,
              ProductQuantizer.PerShardBooks(ps.models.filter(kv => probed(kv._1))))
        }
        val approxDot = if (!residual) adc else {
          val offs = cents.sortBy(_._1).map { case (_, c) =>
            var s = 0.0; var i = 0
            while (i < q.length) { s += q(i) * c(i); i += 1 }
            s
          }.toSeq
          element_at(typedlit(offs), col("shard").cast("int") + 1) + adc
        }
        val shortIds = probed
          .withColumn("approx", when(col("vnorm") === 0.0 || lit(qn) === 0.0, 0.0)
            .otherwise(approxDot / (col("vnorm") * qn)))
          .orderBy(desc("approx"), col(idCol).asc)
          .limit(shortlist)
          .select(idCol).collect().map(_.get(0))
        probed.filter(col(idCol).isin(shortIds: _*))
          .withColumn("score", cosineSim(col(vecCol), typedlit(q.toSeq)))
      }
    ranked
      .orderBy(if (isL2) asc("score") else desc("score"), col(idCol).asc)
      .limit(topK)
      .select(col(idCol), col("shard").cast(LongType).as("shard"), col("score"))
  }

  /** knn JOIN against the store — top-k neighbors for EVERY row of a
    * (query_id, qv ARRAY<DOUBLE>) frame in one plan, the serving form
    * of the registered `vdb_knn_join_filtered`/`vdb_knn_join_ivf`
    * queries (the reference's clients loop /search per vector,
    * test.py:117-127). Each query probes its `nprobe` nearest shards
    * as a PROJECTION against the store's persisted routing centroids;
    * scoring is an equi-join on the shard key (neither side broadcast
    * — both may be corpus-sized); per-query top-k rides the
    * bounded-heap aggregate (≤ topK rows per (query, map partition)
    * on the shuffle, never a global score sort).
    *
    * `allowed` is filter-THEN-search at join scale ([[searchWhere]]'s
    * semantics): the id set semi-joins the corpus side BEFORE any
    * scoring, so a selective predicate costs no recall. `excludeSelf`
    * drops corpus rows whose id equals the row's query_id before
    * ranking (the corpus-queries-itself shape — dedup, related-items).
    * `maxRowsPerTask > 0` bounds hot-shard stragglers via
    * [[graft.operators.SaltedJoin.joinByPopulation]] (the defense for
    * regimes AQE's skew-split can't reach — stream-static scoring,
    * pinned partitionings); sized from the FILTERED corpus, result-
    * invariant. Returns (query_id, rank, <idCol>, score). Requires an
    * integral id column (the heap carries Long ids — same contract as
    * [[evalRecall]]).
    *
    * `metric` (round 13): cosine (default, the reference's scoring) or
    * [[graft.plans.ShardTopKJoin.Metric.L2]] — euclidean top-k, rank
    * ascending distance, `score` column = the distance. Routing is L2
    * in both cases (compute_server.py:40-48). L2 composes with
    * allowed/excludeSelf/salting but NOT compressed: the stored ADC
    * state approximates dot/cosine, so an L2 shortlist through it
    * would silently rank on the wrong geometry — refused loudly.
    */
  def searchJoin(queries: DataFrame, topK: Int = 5, nprobe: Int = 2,
                 allowed: Option[DataFrame] = None,
                 excludeSelf: Boolean = false,
                 maxRowsPerTask: Long = 0L,
                 compressed: Boolean = false,
                 shortlist: Int = 100,
                 metric: String = graft.plans.ShardTopKJoin.Metric.Cosine): DataFrame =
    searchJoinResolved(queries, topK, nprobe, allowed, excludeSelf,
      maxRowsPerTask, compressed, shortlist, centroids(),
      if (compressed) pqMeta() else None, None, metric)

  /** [[searchJoin]] against pre-resolved serving state — the
    * per-stream fast path: [[serveStream]] resolves the routing
    * centroids, PQ meta, and (when salting) the population salt table
    * ONCE at stream start, so a micro-batch costs only its own probe
    * instead of re-reading store metadata per tick.
    */
  private[vector] def searchJoinResolved(queries: DataFrame, topK: Int, nprobe: Int,
                                         allowed: Option[DataFrame],
                                         excludeSelf: Boolean,
                                         maxRowsPerTask: Long,
                                         compressed: Boolean,
                                         shortlist: Int,
                                         cents: Array[(Int, Array[Double])],
                                         metaOpt: Option[PqMeta],
                                         salts: Option[DataFrame],
                                         metric: String =
                                           graft.plans.ShardTopKJoin.Metric.Cosine)
      : DataFrame = {
    require(queries.columns.toSeq == Seq("query_id", "qv"),
      s"queries must be (query_id, qv), got ${queries.columns.mkString(", ")}")
    require(nprobe >= 1 && nprobe <= numShards, s"nprobe out of range: $nprobe")
    require(Seq(graft.plans.ShardTopKJoin.Metric.Cosine,
        graft.plans.ShardTopKJoin.Metric.L2,
        graft.plans.ShardTopKJoin.Metric.Ip).contains(metric),
      s"searchJoin metric must be cosine, l2, or ip, got '$metric'")
    require(!compressed || metric == graft.plans.ShardTopKJoin.Metric.Cosine,
      "searchJoin(compressed = true) is cosine-only: the ADC state " +
        "approximates dot/cosine — an L2/IP shortlist through it would " +
        "rank on the wrong geometry")
    val raw = resolved(spark, vecDir)
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType)
        .contains(raw.schema(idCol).dataType),
      s"searchJoin requires an integral id column; store '$idCol' is " +
        raw.schema(idCol).dataType.simpleString)
    def restrict(df: DataFrame): DataFrame = allowed match {
      case Some(ids) => df.join(
        ids.select(col(idCol).cast(LongType).as(idCol)), Seq(idCol), "left_semi")
      case None => df
    }
    val probes = queries.select(col("query_id"),
      col("qv").cast("array<double>").as("qv"),
      explode(Centroids.nearestShards(col("qv"), cents, nprobe)).as("shard"))
    def shardJoin(corpus: DataFrame): DataFrame =
      if (maxRowsPerTask > 0L)
        graft.operators.SaltedJoin.joinByPopulation(corpus, probes, "shard",
          maxRowsPerTask, saltOn = Some(col(idCol)), precomputedSalts = salts)
      else corpus.join(probes, Seq("shard"))
    def dropSelf(df: DataFrame): DataFrame =
      if (excludeSelf) df.filter(col(idCol) =!= col("query_id")) else df
    def heapTopK(scored: DataFrame, scoreCol: String, k: Int): DataFrame =
      scored.groupBy("query_id")
        .agg(graft.expressions.TopKAgg.topK(col(scoreCol), col(idCol), k).as("t"))
        .select(col("query_id"), posexplode(col("t")).as(Seq("__pos", "__e")))
        .select(col("query_id"), (col("__pos") + 1).cast(LongType).as("rank"),
          col("__e.id").as(idCol), col("__e.score").as("score"))

    if (!compressed) {
      val corpus = restrict(raw.select(col(idCol).cast(LongType).as(idCol),
        col("shard").cast(LongType).as("shard"),
        col(vecCol).cast("array<double>").as("__v")))
      // fused exec (graft.plans.ShardTopKJoinExec): the shard(+salt)
      // shuffle shape is unchanged — scoring and the bounded heap now
      // run inside the join's partition loop instead of a per-pair
      // ObjectHashAggregate walk; scores bit-identical to cosineSim
      // (ServingSpec/ShardTopKJoinSpec pin both)
      val probes3 = probes.select(col("query_id"), col("shard"), col("qv"))
      graft.plans.ShardTopKJoin.ranked(corpus, probes3, topK,
        excludeSelf = excludeSelf, idName = idCol,
        maxRowsPerTask = maxRowsPerTask, saltOn = Some(col(idCol)),
        precomputedSalts = salts, metric = metric)
    } else {
      // join-scale COMPRESSED serving: the candidate scan reads codes
      // + norm (~M bytes/row), never raw vectors — the IO regime
      // compression exists for. Since round 13 the CPU regime matches:
      // the fused exec's ADC mode builds per-query lookup tables per
      // partition (the state a declarative plan can't hold — the
      // query is a column, not a driver literal), so candidates cost
      // M lookups, not dim multiply-adds. The per-query shortlist rides
      // the bounded heap (≤ shortlist rows per (query, partition) on
      // the shuffle — never collected to the driver, unlike the
      // single-query path's id-pushdown), and only shortlisted
      // (query, id) pairs join back to raw vectors for the exact
      // cosine re-rank: two shuffles bounded by nQueries x shortlist.
      val meta = metaOpt.getOrElse(throw new IllegalStateException(
        "searchJoin(compressed = true) needs a PQ-built store: build(pqSubspaces > 0)"))
      val codes = restrict(raw.select(col(idCol).cast(LongType).as(idCol),
        col("shard").cast(LongType).as("shard"), col("pq_codes"), col("vnorm")))
      // fused exec, ADC metric (round 13, codes-NATIVE): the corpus
      // side ships (id, shard, codes, vnorm) straight off the pruned
      // scan — no reconstruction projection at all — and the exec
      // builds each probe's M·K lookup table ONCE per partition
      // replica, so a candidate costs M table lookups instead of a
      // dim-length dot (dim/M fewer flops on the pair loop — the
      // classic IVFADC fast path, inexpressible declaratively because
      // the query is a column). Same TERMS as the old reconstruction
      // dot, accumulated per-subspace (may differ in the last ulp —
      // grouping, not math); the exact re-rank below makes the final
      // results identical at a covering shortlist, spec-pinned.
      val corpusC = codes.select(col(idCol), col("shard"),
        col("pq_codes").cast("array<int>").as("__codes"),
        col("vnorm").cast("double").as("__vn"))
      val adcState = graft.plans.ShardTopKJoin.AdcState(
        books = meta.books match {
          case ProductQuantizer.GlobalBooks(m) => Map(-1 -> m.centroids)
          case ps: ProductQuantizer.PerShardBooks =>
            ps.models.map { case (s, m) => s -> m.centroids }
        },
        rotation = meta.rotation,
        residual = if (!meta.residual) None
          else Some(cents.map { case (s, c) => s -> c }.toMap))
      val probesC = probes.select(col("query_id"), col("shard"), col("qv"))
      val short = graft.plans.ShardTopKJoin.ranked(corpusC, probesC,
          shortlist, excludeSelf = excludeSelf, idName = idCol,
          maxRowsPerTask = maxRowsPerTask, saltOn = Some(col(idCol)),
          precomputedSalts = salts,
          metric = graft.plans.ShardTopKJoin.Metric.Adc, adc = Some(adcState))
        .select("query_id", idCol)
      val rer = short
        .join(raw.select(col(idCol).cast(LongType).as(idCol),
          col(vecCol).cast("array<double>").as("__v")), idCol)
        .join(queries.select(col("query_id"),
          col("qv").cast("array<double>").as("qv")), "query_id")
        .withColumn("__score", cosineSim(col("__v"), col("qv")))
      heapTopK(rer, "__score", topK)
    }
  }

  /** Diversified (MMR) knn JOIN against the store — [[searchJoin]]'s
    * per-query shortlists re-ranked by greedy maximal marginal
    * relevance (`λ·rel − (1−λ)·max sim(d, picked)`), the serving form
    * of `vdb_mmr` for a FRAME of queries: near-duplicate hits stop
    * crowding every query's result page in one call. The selection is
    * inherently sequential per query, so the distributed plan reduces
    * to ≤ nQueries×shortlist rows — shortlists through searchJoin's
    * bounded heaps (every mode passes through: filtered, self-
    * excluding, salted), candidate vectors back via ONE equi-join
    * against the store, then ONE collect for the whole batch and
    * `Serving.mmrSelect`'s greedy per query on driver rows (shortlist²
    * ·dim flops each, corpus-size-independent). Returns (query_id,
    * rank, <idCol>, relevance, mmr_score), 4-dp like `vdb_mmr`.
    */
  def mmrJoin(queries: DataFrame, topK: Int = 10, lambda: Double = 0.5,
              shortlist: Int = 50, nprobe: Int = 2,
              excludeSelf: Boolean = false,
              allowed: Option[DataFrame] = None,
              maxRowsPerTask: Long = 0L,
              compressed: Boolean = false,
              adcShortlist: Int = 100): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda out of [0,1]: $lambda")
    // compressed: the SHORTLIST selection scans codes only (ADC +
    // exact re-rank inside searchJoin, `adcShortlist` candidates per
    // query) — the diversification pass keeps the codes-only IO
    // regime; the greedy still needs raw vectors for pairwise sims,
    // but only the ≤ nQueries×shortlist picked candidates' rows, an
    // id-pruned fetch, never a shard scan
    val short = searchJoin(queries, topK = shortlist, nprobe = nprobe,
      allowed = allowed, excludeSelf = excludeSelf,
      maxRowsPerTask = maxRowsPerTask,
      compressed = compressed, shortlist = adcShortlist)
    val rows = short
      .join(resolved(spark, vecDir).select(col(idCol).cast(LongType).as(idCol),
        col(vecCol).cast("array<double>").as("__v")), idCol)
      .select(col("query_id"), col(idCol), col("__v"), col("score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray,
        r.getDouble(3)))
    Serving.mmrFromShortlists(rows, topK, lambda, spark)
      .withColumnRenamed("vec_id", idCol)
  }

  /** Radius (range) JOIN against the store — ALL corpus rows within
    * cosine `minScore` of each (query_id, qv ARRAY<DOUBLE>) row, the
    * threshold twin of [[searchJoin]]: near-duplicate sweeps,
    * compliance matching, recall-oriented candidate generation — the
    * shapes where a top-k truncates an unknown-sized answer. No heap:
    * the threshold is a MAP-SIDE filter after the shard equi-join, so
    * the only shuffle is the probe join itself and the result size is
    * data-determined (the caller owns a too-low τ on a dense corpus).
    * IVF recall contract matches searchJoin: a neighbor assigned to
    * an unprobed shard is missed; `nprobe = numShards` is exact.
    * `allowed` filter-then-scores, `excludeSelf` drops the self pair,
    * `maxRowsPerTask` salts hot shards — all [[searchJoin]] semantics.
    *
    * `compressed = true` prefilters on the ADC approximate cosine at
    * `minScore - margin` over the codes-only scan, then re-checks the
    * survivors' EXACT cosine against raw vectors: the shard scan
    * stays code-sized and only threshold-plausible (query, id) pairs
    * fetch vectors. `margin` bounds the ADC error the prefilter must
    * absorb — too small drops true matches whose approximate score
    * dips below `minScore`; the exact re-check means false POSITIVES
    * from a generous margin cost IO, never correctness.
    *
    * Returns (query_id, <idCol>, score), unranked — range results
    * are sets, not lists; callers wanting order sort the bounded
    * result.
    */
  def rangeJoin(queries: DataFrame, minScore: Double, nprobe: Int = 2,
                allowed: Option[DataFrame] = None,
                excludeSelf: Boolean = false,
                maxRowsPerTask: Long = 0L,
                compressed: Boolean = false,
                margin: Double = 0.05): DataFrame =
    rangeJoinResolved(queries, minScore, nprobe, allowed, excludeSelf,
      maxRowsPerTask, compressed, margin, centroids(),
      if (compressed) pqMeta() else None, None)

  /** [[rangeJoin]] against pre-resolved serving state — the per-stream
    * fast path, [[searchJoinResolved]]'s contract for the radius shape.
    */
  private[vector] def rangeJoinResolved(queries: DataFrame, minScore: Double,
                                        nprobe: Int,
                                        allowed: Option[DataFrame],
                                        excludeSelf: Boolean,
                                        maxRowsPerTask: Long,
                                        compressed: Boolean,
                                        margin: Double,
                                        cents: Array[(Int, Array[Double])],
                                        metaOpt: Option[PqMeta],
                                        salts: Option[DataFrame]): DataFrame = {
    require(queries.columns.toSeq == Seq("query_id", "qv"),
      s"queries must be (query_id, qv), got ${queries.columns.mkString(", ")}")
    require(nprobe >= 1 && nprobe <= numShards, s"nprobe out of range: $nprobe")
    require(margin >= 0.0, s"margin must be non-negative: $margin")
    val raw = resolved(spark, vecDir)
    def restrict(df: DataFrame): DataFrame = allowed match {
      case Some(ids) => df.join(
        ids.select(col(idCol).cast(LongType).as(idCol)), Seq(idCol), "left_semi")
      case None => df
    }
    val probes = queries.select(col("query_id"),
      col("qv").cast("array<double>").as("qv"),
      explode(Centroids.nearestShards(col("qv"), cents, nprobe)).as("shard"))
    def shardJoin(corpus: DataFrame): DataFrame =
      if (maxRowsPerTask > 0L)
        graft.operators.SaltedJoin.joinByPopulation(corpus, probes, "shard",
          maxRowsPerTask, saltOn = Some(col(idCol)), precomputedSalts = salts)
      else corpus.join(probes, Seq("shard"))
    def dropSelf(df: DataFrame): DataFrame =
      if (excludeSelf) df.filter(col(idCol) =!= col("query_id")) else df
    if (!compressed) {
      val corpus = restrict(raw.select(col(idCol).cast(LongType).as(idCol),
        col("shard").cast(LongType).as("shard"),
        col(vecCol).cast("array<double>").as("__v")))
      dropSelf(shardJoin(corpus))
        .withColumn("score", cosineSim(col("__v"), col("qv")))
        .filter(col("score") >= minScore)
        .select(col("query_id"), col(idCol), col("score"))
    } else {
      val meta = metaOpt.getOrElse(throw new IllegalStateException(
        "rangeJoin(compressed = true) needs a PQ-built store: build(pqSubspaces > 0)"))
      val codes = restrict(raw.select(col(idCol).cast(LongType).as(idCol),
        col("shard").cast(LongType).as("shard"), col("pq_codes"), col("vnorm")))
      val (frame, recon) = withRecon(codes, meta, cents)
      val cand = dropSelf(shardJoin(frame))
        .withColumn("__qn", vecNorm(col("qv")))
        .withColumn("__approx",
          when(col("vnorm") === 0.0 || col("__qn") === 0.0, 0.0)
            .otherwise(dotProduct(col("qv"), recon) / (col("vnorm") * col("__qn"))))
        .filter(col("__approx") >= minScore - margin)
        .select("query_id", idCol)
      cand
        .join(raw.select(col(idCol).cast(LongType).as(idCol),
          col(vecCol).cast("array<double>").as("__v")), idCol)
        .join(queries.select(col("query_id"),
          col("qv").cast("array<double>").as("qv")), "query_id")
        .withColumn("score", cosineSim(col("__v"), col("qv")))
        .filter(col("score") >= minScore)
        .select(col("query_id"), col(idCol), col("score"))
    }
  }

  /** The resolved radius-serving closure — [[searchJoinServing]]'s
    * once-per-stream resolution (centroids, PQ meta, pinned allowed
    * set, population salt table) applied to [[rangeJoin]]: each call
    * costs only its own probe, a compressed closure over a non-PQ
    * store refuses at stream start.
    */
  private[vector] def rangeJoinServing(minScore: Double, nprobe: Int,
                                       allowed: Option[DataFrame],
                                       excludeSelf: Boolean,
                                       maxRowsPerTask: Long,
                                       compressed: Boolean,
                                       margin: Double): DataFrame => DataFrame = {
    val (cents, meta, allowedPinned, salts) =
      resolveServingState(allowed, maxRowsPerTask, compressed)
    batch => rangeJoinResolved(batch, minScore, nprobe, allowedPinned,
      excludeSelf, maxRowsPerTask, compressed, margin, cents, meta, salts)
  }

  /** Streamed radius serving — [[serveStream]]'s contract for
    * [[rangeJoin]]: a stream of (query_id, qv) rows is matched against
    * the persisted store each micro-batch, writing every corpus row
    * within cosine `minScore` to `outDir` as (query_id, <idCol>,
    * score), unranked. The near-duplicate / compliance-sweep gate as
    * a continuous service: serving state resolves ONCE at stream
    * start (the per-tick twin of the one-shot call costs only its own
    * probe). Streamed serving now covers every retrieval shape the
    * engine has: knn, keyword, phrase, hybrid, tri-fusion, and range.
    *
    * `targetRecall` (round 13): choose the probe depth from the
    * persisted radius-recall curve at stream start — the streamed
    * form of [[rangeJoinAtRecall]]. The staleness check runs where it
    * belongs: a stale curve (centroid or >20% row drift since
    * measurement) REFUSES before the stream starts, not inside a
    * tick; `nprobe` is ignored when a target is given.
    */
  def serveRangeStream(queries: DataFrame, outDir: String, checkpoint: String,
                       minScore: Double, nprobe: Int = 2,
                       allowed: Option[DataFrame] = None,
                       excludeSelf: Boolean = false,
                       maxRowsPerTask: Long = 0L,
                       compressed: Boolean = false,
                       margin: Double = 0.05,
                       targetRecall: Option[Double] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val depth = targetRecall.fold(nprobe)(t => nprobeForRange(minScore, t))
    val probe = rangeJoinServing(minScore, depth, allowed, excludeSelf,
      maxRowsPerTask, compressed, margin)
    graft.streaming.ServeStream.start(queries, checkpoint) { (batch, write) =>
      if (!batch.isEmpty) write(outDir, probe(batch))
    }
  }

  /** Shared once-per-stream resolution for the join-scale serving
    * closures ([[searchJoinServing]], [[rangeJoinServing]]): routing
    * centroids, PQ meta (refusing NOW if `compressed` without a
    * PQ build), the pinned allowed set (localCheckpoint — an
    * expensive or non-deterministic producing plan must not re-execute
    * per tick or drift against the frozen salt table), and the
    * population salt table sized from the `allowed`-restricted corpus.
    */
  private def resolveServingState(allowed: Option[DataFrame],
                                  maxRowsPerTask: Long,
                                  compressed: Boolean)
      : (Array[(Int, Array[Double])], Option[PqMeta],
         Option[DataFrame], Option[DataFrame]) = {
    val cents = centroids()
    val meta = if (compressed) Some(pqMeta().getOrElse(
      throw new IllegalStateException(
        "compressed serving needs a PQ-built store: " +
          "build(pqSubspaces > 0)"))) else None
    val allowedPinned = graft.streaming.ServeStream.pin(allowed, idCol)
    val salts =
      if (maxRowsPerTask <= 0L) None
      else {
        val base = resolved(spark, vecDir).select(
          col(idCol).cast(LongType).as(idCol),
          col("shard").cast(LongType).as("shard"))
        val restricted = allowedPinned.fold(base)(ids =>
          base.join(ids, Seq(idCol), "left_semi"))
        Some(graft.operators.SaltedJoin
          .populationSalts(restricted, "shard", maxRowsPerTask)
          .localCheckpoint(true))
      }
    (cents, meta, allowedPinned, salts)
  }
}
