package graftbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Operations attempted, failed, and every check that did not pass. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  /** One operation: it fails if it throws or its check does not pass. */
  def op(name: String)(body: => Oracle.Verdict): Unit = {
    attempted += 1
    val v = try body catch { case NonFatal(e) => Some(s"threw $e") }
    v.foreach { r => failed += 1; problems += s"$name: $r" }
  }

  /** A check on state (set-up, inventories) rather than on one call. */
  def invariant(name: String)(v: => Oracle.Verdict): Unit = {
    val r = try v catch { case NonFatal(e) => Some(s"threw $e") }
    r.foreach(x => problems += s"$name: $x")
  }
}

/** Everything a workload needs from [[Main]]. */
final class Ctx(val spark: SparkSession, val meter: Meter, val tally: Tally, val seed: Long)

/** End-to-end figures of one measured round: its calls, and its items
  * (searches answered, documents gated) with the calls that did them.
  */
final case class RoundFig(calls: Seq[Meter.Call], items: Double, itemOps: Set[String]) {
  def meanCallMs: Double = Meter.mean(calls.map(_.wallMs))
  def itemsPerS: Double = items / (calls.filter(c => itemOps(c.op)).map(_.wallMs).sum / 1000)
  def meanCallCpuMs: Double = Meter.mean(calls.map(_.cpuMs))
  def itemsPerCpuS: Double = items / (calls.filter(c => itemOps(c.op)).map(_.cpuMs).sum / 1000)
}

object RoundFig {
  /** The round that `body` runs, from the calls it adds to the meter's
    * log; `items` names the calls that did the round's items.
    */
  def of(m: Meter, items: Double, itemOps: Set[String])(body: => Unit): RoundFig = {
    val from = m.log.size
    body
    RoundFig(m.log.drop(from).toSeq, items, itemOps)
  }
}

/** End-to-end figures of one run: its rounds, and the store's size on
  * disk after the last one.
  */
final case class Figures(rounds: Seq[RoundFig], storeBytes: Long, storeVectors: Long) {
  def callMs: Double = Meter.median(rounds.map(_.meanCallMs))
  def itemsPerS: Double = Meter.median(rounds.map(_.itemsPerS))
  def callCpuMs: Double = Meter.median(rounds.map(_.meanCallCpuMs))
  def itemsPerCpuS: Double = Meter.median(rounds.map(_.itemsPerCpuS))
}

object Frames {
  def vectors(spark: SparkSession, rows: Seq[(Long, Array[Double])], id: String, vec: String): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v.toSeq) }.asJava,
      StructType(Seq(StructField(id, LongType, nullable = false),
        StructField(vec, ArrayType(DoubleType, containsNull = false), nullable = false))))

  def docs(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))

  def hybridQueries(spark: SparkSession, rows: Seq[(Long, Seq[String], Array[Double])]): DataFrame =
    spark.createDataFrame(rows.map { case (i, t, v) => Row(i, t, v.toSeq) }.asJava,
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("terms", ArrayType(StringType, containsNull = false), nullable = false),
        StructField("qv", ArrayType(DoubleType, containsNull = false), nullable = false))))

  /** Persisted routing centroids, read straight from the store's files. */
  def centroids(spark: SparkSession, storeDir: String): Seq[(Int, Array[Double])] =
    spark.read.parquet(s"$storeDir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toSeq

  /** Distinct ids in a parquet directory (empty when it does not exist). */
  def ids(spark: SparkSession, dir: String, column: String): Set[Long] =
    if (!new java.io.File(dir).exists()) Set.empty
    else spark.read.parquet(dir).select(column).collect().map(_.getLong(0)).toSet

  def bytesUnder(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }
}

/** The benchmark's copy of a vector store: every live vector, its
  * squared norm, and its shard under the persisted centroids.
  */
final class VectorModel(val cents: Seq[(Int, Array[Double])]) {
  private val slot = mutable.LongMap.empty[Int]
  private val ids = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Double]]
  private val sq = mutable.ArrayBuffer.empty[Double]
  private val shards = mutable.ArrayBuffer.empty[Int]
  private val alive = mutable.BitSet.empty

  def size: Int = slot.size
  def liveIds: collection.Set[Long] = slot.keySet
  def vec(id: Long): Array[Double] = vecs(slot(id))

  def put(id: Long, v: Array[Double]): Unit = {
    val i = slot.getOrElseUpdate(id, { ids += id; vecs += v; sq += 0.0; shards += 0; ids.size - 1 })
    vecs(i) = v; sq(i) = Oracle.dot(v, v); shards(i) = Oracle.nearestShard(v, cents); alive += i
  }

  def remove(id: Long): Unit = slot.remove(id).foreach(alive -= _)

  /** Cosine of `q` with every live vector in its `nprobe` nearest
    * shards, in the kernel's own arithmetic (dot over the product of
    * the two norms).
    */
  def candidates(q: Array[Double], nprobe: Int)(f: (Long, Double) => Unit): Unit = {
    val probed = Oracle.probedShards(q, cents, nprobe)
    val qq = math.sqrt(Oracle.dot(q, q))
    alive.foreach { i =>
      if (probed(shards(i))) {
        val na = sq(i)
        f(ids(i), if (na == 0.0 || qq == 0.0) 0.0 else Oracle.dot(vecs(i), q) / (math.sqrt(na) * qq))
      }
    }
  }

  /** The benchmark's own top-`k` ranking (score desc, id asc). */
  def ranking(q: Array[Double], nprobe: Int, k: Int): Seq[(Long, Double)] = {
    val all = mutable.ArrayBuffer.empty[(Long, Double)]
    candidates(q, nprobe)((id, s) => all += ((id, s)))
    all.sortBy { case (id, s) => (-s, id) }.take(k).toSeq
  }
}

/** Checks shared by the workloads: each takes the call to make and the
  * inputs it is made with, and compares the answer with the model.
  */
object Checks {
  def topK(rows: Array[Row], idAt: Int, scoreAt: Int): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getLong(idAt), r.getDouble(scoreAt)))

  /** Rows of a (query_id, rank, ...) page grouped per query, best-first. */
  def byQuery[A](rows: Array[Row])(f: Row => A): Map[Long, Seq[A]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).toSeq.map(f) }

  def page[A](queries: Seq[A])(check: A => Oracle.Verdict): Oracle.Verdict =
    queries.par.map(check).seq.collectFirst { case Some(r) => r }

  /** The hybrid page the benchmark expects: keyword shortlist ranked by
    * rounded BM25 (ties by doc), vector shortlist by cosine, fused by RRF.
    */
  def hybridPage(corpus: Corpus, model: VectorModel, terms: Seq[String], q: Array[Double],
                 nprobe: Int, shortlist: Int, topK: Int): Seq[(Long, Int, Int)] = {
    val kw = Oracle.ranked(corpus.bm25(terms)).take(shortlist)
      .sortBy { case (d, s) => (-Oracle.round4(s), d) }
      .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
    val vec = model.ranking(q, nprobe, shortlist).zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
    Oracle.rrf(kw, vec, topK)
  }
}
