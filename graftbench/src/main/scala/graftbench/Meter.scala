package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Spark-side work counters, summed over the whole session. */
final class Counters extends SparkListener {
  val jobs, stages, tasks, shuffleBytes, inputBytes, outputBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snap(): Counters.Snap =
    Counters.Snap(jobs.get, stages.get, tasks.get, shuffleBytes.get, inputBytes.get, outputBytes.get)
}

object Counters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, shuffleBytes: Long,
                        inputBytes: Long, outputBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      shuffleBytes - o.shuffleBytes, inputBytes - o.inputBytes, outputBytes - o.outputBytes)
  }
}

/** Walks the final (post-AQE) physical plan, query stages and
  * subqueries included.
  */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Long =
    collectWithSubqueries(p) {
      case _: ShuffleExchangeLike => 1L
      case _: BroadcastExchangeLike => 1L
    }.sum

  /** Candidate pairs scored by the fused top-k join execs. */
  def pairs(p: SparkPlan): Long =
    collectWithSubqueries(p) {
      case n if n.metrics.contains("numPairs") => n.metrics("numPairs").value
    }.sum
}

/** Times every call the benchmark makes into the program. Untraced, it
  * keeps wall times only. Traced, it also drains the listener bus
  * between phases and records per-call Spark work, one record per
  * call, so the traced figures cost extra wall time and are never
  * mixed with the end-to-end ones.
  */
final class Meter(spark: SparkSession, val traced: Boolean, dataDir: String) {
  private val counters: Option[Counters] =
    if (!traced) None
    else { val c = new Counters; spark.sparkContext.addSparkListener(c); Some(c) }

  /** Wall milliseconds per call, by operation (set-up steps included). */
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Every measured call in order: a workload slices it into rounds. */
  val log = mutable.ArrayBuffer.empty[Meter.Call]
  /** Per-call trace records (traced runs only). */
  val records = mutable.ArrayBuffer.empty[(String, Seq[(String, Double)])]

  private def snap(): Counters.Snap = counters.fold(Counters.Snap(0, 0, 0, 0, 0, 0)) { c =>
    org.apache.spark.graftbench.ListenerDrain(spark.sparkContext)
    c.snap()
  }

  def totals(): Counters.Snap = snap()

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  private def keep(op: String, wall: Double): Unit =
    times.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += wall

  private def call(op: String, wall: Double, cpu0: Long): Unit = {
    keep(op, wall)
    log += Meter.Call(op, wall, (Meter.cpuNanos() - cpu0) / 1e6)
  }

  /** A call that returns a lazy frame: construction (the eager work the
    * call does before returning), Catalyst planning, and execution
    * (collect) are timed apart.
    */
  def lazyOp(op: String)(build: => DataFrame): Array[Row] = {
    val s0 = snap(); val c0 = Meter.cpuNanos(); val t0 = System.nanoTime()
    val df = build
    val t1 = System.nanoTime(); val s1 = snap(); val t1b = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime(); val s2 = snap(); val t2b = System.nanoTime()
    val rows = df.collect()
    val t3 = System.nanoTime(); val s3 = snap()
    val (b, p, e) = (ms(t0, t1), ms(t1b, t2), ms(t2b, t3))
    call(op, b + p + e, c0)
    if (traced) {
      val plan = df.queryExecution.executedPlan
      val all = s3 - s0
      records += op -> (Seq(
        "build_ms" -> b, "plan_ms" -> p, "exec_ms" -> e,
        "build_jobs" -> (s1 - s0).jobs.toDouble, "exec_jobs" -> (s3 - s1).jobs.toDouble,
        "tasks" -> all.tasks.toDouble, "exchanges" -> PlanWalk.exchanges(plan).toDouble,
        "shuffle_bytes" -> all.shuffleBytes.toDouble, "input_bytes" -> all.inputBytes.toDouble) ++
        (if (Meter.Joins(op)) Seq("pairs" -> PlanWalk.pairs(plan).toDouble) else Nil))
    }
    rows
  }

  /** A call that does its work before returning (writes, checkpoints). */
  def eagerOp[A](op: String)(body: => A): A = {
    val s0 = snap(); val wall0 = System.currentTimeMillis(); val c0 = Meter.cpuNanos()
    val t0 = System.nanoTime()
    val out = body
    val t1 = System.nanoTime()
    call(op, ms(t0, t1), c0)
    val s1 = snap()
    if (traced) {
      val d = s1 - s0
      records += op -> Seq("call_ms" -> ms(t0, t1), "jobs" -> d.jobs.toDouble,
        "tasks" -> d.tasks.toDouble, "shuffle_bytes" -> d.shuffleBytes.toDouble,
        "bytes_written" -> d.outputBytes.toDouble,
        "files_written" -> Meter.filesSince(dataDir, wall0).toDouble)
    }
    out
  }

  /** A set-up step: timed in every run, recorded under `setup.<step>_ms`. */
  def setupStep[A](step: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val out = body
    keep(s"setup.${step}_ms", ms(t0, System.nanoTime()))
    out
  }
}

object Meter {
  /** One measured call: wall time, and CPU time of the whole process
    * (every thread: driver, tasks, garbage collector, compiler).
    */
  final case class Call(op: String, wallMs: Double, cpuMs: Double)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time used so far by the whole process, in nanoseconds. */
  def cpuNanos(): Long = os.getProcessCpuTime

  val LazyOps = Seq("search", "get", "bm25", "fresh_search", "fresh_get", "fresh_bm25", "hybrid_join")
  val Joins = Set("hybrid_join")
  val EagerOps = Seq("judge", "shingle_append", "term_append", "upsert",
    "vector_delete", "term_delete", "shingle_delete")
  val SetupSteps = Seq("curate", "store_build", "term_build", "shingle_build", "warmup")
  val LazyFields = Seq("build_ms", "plan_ms", "exec_ms", "build_jobs", "exec_jobs", "tasks",
    "exchanges", "shuffle_bytes", "input_bytes")
  val EagerFields = Seq("call_ms", "jobs", "tasks", "shuffle_bytes", "bytes_written", "files_written")

  /** Every per-layer metric name, in report order. */
  val PerLayer: Seq[String] =
    LazyOps.flatMap(op => LazyFields.map(f => s"$op.$f") ++
      (if (Joins(op)) Seq(s"$op.pairs") else Nil)) ++
      EagerOps.flatMap(op => EagerFields.map(f => s"$op.$f")) ++
      SetupSteps.map(s => s"setup.${s}_ms")

  /** Data files (not checksums or markers) under `dir` modified at or
    * after `sinceMs`.
    */
  def filesSince(dir: String, sinceMs: Long): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
          java.nio.file.Files.getLastModifiedTime(p).toMillis >= sinceMs
      }.count()
      finally s.close()
    }
  }

  def unitOf(field: String): String =
    if (field.endsWith("_ms")) "ms" else if (field.endsWith("_bytes") || field == "bytes_written") "bytes"
    else "count"

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
