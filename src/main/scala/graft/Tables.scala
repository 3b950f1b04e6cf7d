package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaInterop
import org.apache.spark.sql.types.StructType

/** Loaders for the test corpus (TPC-H-ish star schema + events stream
  * table + documents/embeddings for the vector & LLM-pipeline ops),
  * and [[resolved]], the one parquet read path of the program.
  *
  * All reads are plain parquet scans: column pruning and predicate
  * pushdown are left to Catalyst — callers `select`/`filter` and the
  * scan narrows (verify via `PushedFilters`/`ReadSchema` in explain).
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    resolved(spark, s"$dir/$name.parquet")

  /** The parquet table at `dir`, with no Spark job.
    *
    * The schema is cached per session, keyed by the qualified path
    * and checked against a driver-side [[listing]] of every file's
    * path, size and mtime. While the listing is unchanged the frame is
    * rebuilt from the cached schema (`spark.read.schema(s)`), which
    * skips schema inference; Spark still lists the files itself, so
    * the rows are always current. Any append, upsert, delete,
    * compaction or write by another process changes the listing,
    * which re-reads the schema from one footer on the driver
    * ([[footerSchema]]) and replaces the entry. An absent directory is
    * read uncached, so it fails exactly as `spark.read.parquet` does.
    */
  def resolved(spark: SparkSession, dir: String): DataFrame =
    listing(spark, dir) match {
      case None => spark.read.parquet(dir)
      case Some(l) =>
        val key = "schema " + qualified(spark, dir)
        val m = entries(spark)
        m.get(key) match {
          case Entry(Seq(Some(`l`)), s: StructType) => spark.read.schema(s).parquet(dir)
          case _ =>
            val df = footerSchema(spark, dir, l)
              .fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
            m.put(key, Entry(Seq(Some(l)), df.schema))
            df
        }
    }

  /** The data schema of `dir`, read from one footer on the driver.
    * Without `mergeSchema`, Spark's inference reads one footer too (the
    * first `_common_metadata`, else `_metadata`, else a data file:
    * `ParquetUtils.inferSchema`), but in a Spark job. The same rule is
    * applied here to the listing, in path order. The partition columns
    * are still discovered by Spark's own listing. None, so Spark
    * infers, under `mergeSchema` or when the listing holds no data
    * file.
    */
  private def footerSchema(spark: SparkSession, dir: String, l: Listing): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else {
      val rels = l.map(_._1)
      Seq[String => Boolean](r => name(r) == "_common_metadata", r => name(r) == "_metadata",
          isDataFile)
        .flatMap(rels.find).headOption
        .flatMap(rel => FooterSchemaInterop.schemaOf(spark, statuses(spark, dir, Seq(rel)).head))
    }

  /** The largest value of the int column `column` in the parquet files
    * under `dir`, from their footers' row-group statistics, with no
    * Spark job: Some(None) when the files hold no row group, None when
    * a row group carries no statistics for the column.
    */
  private[graft] def footerMax(spark: SparkSession, dir: String,
                               column: String): Option[Option[Int]] = {
    import scala.jdk.CollectionConverters._
    val files = statuses(spark, dir, listing(spark, dir).toSeq.flatten.map(_._1).filter(isDataFile))
    val stats = files.flatMap(FooterSchemaInterop.footer(spark, _).getBlocks.asScala)
      .map(_.getColumns.asScala.find(_.getPath.toDotString == column)
        .map(_.getStatistics).filter(s => s != null && s.hasNonNullValue))
    if (stats.exists(_.isEmpty)) None
    else Some(stats.flatten.map(_.genericGetMax.asInstanceOf[Integer].intValue).maxOption)
  }

  private def name(rel: String): String = rel.substring(rel.lastIndexOf('/') + 1)

  /** A listed file Spark reads as data: not a `_`-prefixed summary or
    * marker file, not a copy in progress.
    */
  private def isDataFile(rel: String): Boolean =
    !name(rel).startsWith("_") && !rel.endsWith("._COPYING_")

  /** The status of each of `rels`, files listed under `dir` — or of
    * `dir` itself when it is a file.
    */
  private def statuses(spark: SparkSession, dir: String, rels: Seq[String]): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(root)
    if (st.isFile) Seq(st) else rels.map(r => fs.getFileStatus(new Path(root, r)))
  }

  /** A small driver-side value derived from `dirs` (centroids,
    * codebooks, an index's statistics), cached under `name` against
    * the same listings [[resolved]] checks: `compute` runs when any of
    * the directories changed (or appeared, or went) since it last ran,
    * and is reused otherwise. A mutable result must be copied by the
    * caller before it leaves the owner.
    */
  private[graft] def fold[T](spark: SparkSession, name: String, dirs: String*)
                            (compute: => T): T = {
    val ls = dirs.map(listing(spark, _))
    val key = name + " " + dirs.map(qualified(spark, _)).mkString(" ")
    val m = entries(spark)
    val hit = m.get(key)
    if (hit != null && hit.listings == ls) hit.value.asInstanceOf[T]
    else {
      val v = compute
      m.put(key, Entry(ls, v))
      v
    }
  }

  /** A 64-bit stamp of the listings of `dirs`: it moves whenever a
    * file under any of them is added, removed, rewritten or resized,
    * so equal stamps mean the directories hold the same files.
    */
  private[graft] def stamp(spark: SparkSession, dirs: String*): Long = {
    val text = dirs.map(d => listing(spark, d).fold("absent")(
      _.map { case (p, n, t) => s"$p $n $t" }.mkString("\n"))).mkString("\u0000")
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(text, 0x3c074a61).toLong << 32) | (stringHash(text, 0x5bd1e995) & 0xffffffffL)
  }

  private[graft] type Listing = Vector[(String, Long, Long)]

  /** Every file under `dir` as (path relative to it, size, mtime),
    * sorted; None when `dir` is absent. `_`- and `.`-prefixed
    * directories are skipped, as Spark's own listing skips them, and
    * so are `.`-prefixed files (checksums). The walk uses
    * `FileSystem.listStatus` only: on the local file system
    * `listFiles` and `LocatedFileStatus` load each file's permissions
    * by forking a process, which costs more than the schema inference
    * the cache saves.
    */
  private[graft] def listing(spark: SparkSession, dir: String): Option[Listing] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Vector.newBuilder[(String, Long, Long)]
    def walk(d: Path, rel: String): Unit = fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory) {
        if (!n.startsWith("_") && !n.startsWith(".")) walk(st.getPath, rel + n + "/")
      } else if (!n.startsWith("."))
        out += ((rel + n, st.getLen, st.getModificationTime))
    }
    try { walk(root, ""); Some(out.result().sortBy(_._1)) }
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def qualified(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** What one cache key resolved, against the listings of its
    * directories at the time.
    */
  private final case class Entry(listings: Seq[Option[Listing]], value: Any)

  /** Per session, the most recently used 1024 keys. */
  private val sessions =
    new java.util.WeakHashMap[SparkSession, java.util.Map[String, Entry]]()

  private def entries(spark: SparkSession): java.util.Map[String, Entry] =
    sessions.synchronized {
      sessions.computeIfAbsent(spark, _ =>
        java.util.Collections.synchronizedMap(
          new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[String, Entry]): Boolean = size() > 1024
          }))
    }

  /** Per-task COMPRESSED-input target for the fan width (overridable
    * via spark.graft.fan.targetBytes / SPARK_GRAFT_FAN_TARGET_BYTES).
    * The fan sites all sit under explode-style amplification (trigram
    * shingles, bigrams, 128-perm MinHash, decimal partial aggregation)
    * where 64 KB of parquet is ~1-10 MB of in-flight row work — enough
    * to amortize task launch (~1-2 ms), small enough to engage cores.
    * r15 pinned the width to defaultParallelism flat, and the driver's
    * 8-core scaling block showed six inversions (8 cores BEAT 32:
    * text_lm_score 0.49, text_ppl_bucket_approx 0.51, mm_frame_neardup
    * 0.61, text_ppl_bucket 0.65, corpus_diversity 0.67, dedup_span_exact
    * 0.74) — 32-task scheduling on sub-MB inputs costs more than the
    * parallelism buys. Sizing from bytes removes the flat pin; at
    * production multi-file scale the gate below is identity anyway.
    */
  private def fanTargetBytes(s: SparkSession): Long =
    s.conf.getOption("spark.graft.fan.targetBytes")
      .orElse(sys.env.get("SPARK_GRAFT_FAN_TARGET_BYTES"))
      .map(_.toLong).getOrElse(64L * 1024)

  /** What `df` reads, from its plan alone (no RDD, no job): each file
    * relation's (bytes, files) from its file index, or, for a plan
    * that reads no relation at all (an in-memory batch, a checkpoint),
    * its optimized-plan size estimate — exact for a local relation —
    * with no files. Mixed file + non-file plans are sized from the file
    * scans alone; a plan that reads only non-file relations (JDBC, a
    * stream) is unknown: None. The one size estimate of the program:
    * [[fanned]] widths a scan by it and the vector store's shard writer
    * sizes its tasks by it.
    */
  private[graft] final case class Input(bytes: BigInt, files: Seq[(Long, Long)])

  private[graft] def input(df: DataFrame): Option[Input] = {
    // from the FILE INDEX ONLY — deliberately not
    // df.rdd.getNumPartitions: materializing the RDD plans the whole
    // query AND fires a QueryExecutionListener event per call (Spark 4
    // emits "rdd" actions), which broke the pipeline accounting specs
    // and costs a full planning pass
    val rels = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some((h.location.sizeInBytes,
              math.max(h.location.inputFiles.length, 1).toLong))
          case _ => None
        }
    }
    val files = rels.flatten
    // r15 summed a Long.MaxValue sentinel for the non-file scans of a
    // mixed plan, which OVERFLOWED and forced a full-table repartition
    // at any scale
    if (rels.isEmpty) Some(Input(df.queryExecution.optimizedPlan.stats.sizeInBytes, Nil))
    else if (files.isEmpty) None
    else Some(Input(files.map(f => BigInt(f._1)).sum, files))
  }

  /** Fan a scan across cores BEFORE heavy per-row work when the source
    * layout cannot: the test parquet ships one row group per table, so
    * the scan is a single input split and every narrow operator above
    * it (explodes, per-doc scoring, decimal partial aggregation) runs
    * on ONE core while the other 31 idle (guide §2.5: "input skew: one
    * huge unsplittable file … otherwise repartition immediately after
    * the read"). GATED on the actual scan parallelism vs the
    * cluster's, so on a real multi-file corpus this is the identity —
    * an unconditional repartition here would add a full-table shuffle
    * exactly where the scan is already parallel, which is the wrong
    * 100 TB plan for aggregation-shaped queries whose partial
    * aggregates otherwise run before any exchange.
    *
    * Keyed repartition (hash on a high-cardinality column, no
    * round-robin) keeps row placement deterministic without the local
    * sort `repartition(n)` pays (SPARK-23207), and consumers keep the
    * repo's order-independence conventions (integer/decimal sums,
    * tie-broken windows), so results are partitioning-invariant.
    */
  private[graft] def fanned(df: DataFrame,
                            key: org.apache.spark.sql.Column): DataFrame = {
    val s = df.sparkSession
    val p = s.sparkContext.defaultParallelism
    val conf = s.sessionState.conf
    // unknown parallelism (a non-file relation and no file scan): don't
    // second-guess it
    val in = input(df).getOrElse(return df)
    // Byte-aware width (r16): size the fan from the input, not a flat
    // defaultParallelism — clamp(ceil(bytes / target), 1, p). A 600 KB
    // single-file table fans ~10 wide instead of 32 (the scheduling
    // overhead the 8-core inversions measured); a 10 MB one still
    // fans to p.
    val target = fanTargetBytes(s)
    val w = ((in.bytes + target - 1) / target).max(1).min(p).toInt
    // A PLAN WITH NO LogicalRelation AT ALL (an in-memory batch, a
    // checkpoint) always fans — never a 100 TB scan — at the width of
    // its own size estimate: a batch of a few dozen rows is coalesced
    // into one partition with no shuffle, and everything keyed
    // downstream of it needs no further exchange.
    if (in.files.isEmpty) return if (w == 1) df.coalesce(1) else df.repartition(w, key)
    // Scan-parallelism estimate: replicates FilePartition.maxSplitBytes'
    // sizing (min(maxPartition, max(openCost, total/minPartitionNum)))
    // per relation — ~1 split for a small single-file table (fan),
    // thousands at corpus scale (identity). Estimated splits per
    // relation: ceil((bytes + nFiles·openCost) / maxSplitBytes) —
    // openCost charged per file exactly as FilePartition packs them
    // (the r15 nFiles·32 cap UNDERcounted splits of large files: one
    // 10 GB file is 80 real splits, so the cap would fan an
    // already-parallel scan on a >32-core cluster).
    val splits = in.files.map { case (bytes, nFiles) =>
      val maxSplit = math.max(conf.filesOpenCostInBytes,
        math.min(conf.filesMaxPartitionBytes, bytes / math.max(p, 1)))
      val charged = bytes + nFiles * conf.filesOpenCostInBytes
      math.max(1L, (charged + maxSplit - 1) / maxSplit)
    }.sum
    // a scan already at least `width` parallel is left alone entirely
    if (splits < w) df.repartition(w, key) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.ts has shipped in three parquet encodings across testdata
    * generations; normalize all of them to session-tz TimestampType so
    * downstream window / unix_micros / session_window consumers see one
    * shape:
    *  - TIMESTAMP(NANOS): with spark.sql.legacy.parquet.nanosAsLong=true
    *    it reads as Long nanos → floor-divide to micros, rebuild.
    *  - timestamp[us] without tz: reads as TIMESTAMP_NTZ → cast to
    *    TimestampType. The session tz is pinned UTC (GraftSession), so
    *    the wall-clock reinterpretation is the identity on the instant
    *    and DuckDB oracle parity holds.
    *  - timestamp with tz: already TimestampType, pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** A named block of driver-checkable queries with their DuckDB oracle
  * SQL. `SparkEntry` unions all modules. Keys with no oracle entry get
  * the driver's weaker rows-only check (non-SQL-expressible ops).
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
