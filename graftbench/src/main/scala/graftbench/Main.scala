package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload point_serve|ingest_curate --seed N
  *      --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Runs the checks' self-tests first: any self-test that misbehaves
  * makes the run report `correct: false`. Prints one JSON object as its
  * last stdout line: `correct`,
  * `attempted`, `failed` and `metrics` — the end-to-end metrics when
  * untraced, the per-layer metrics when traced (preceded by one JSON
  * line per traced call and one line of run totals). All data lives
  * under `--work`, which the caller creates and removes.
  */
object Main {
  val Workloads = Seq("point_serve", "ingest_curate")

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 12.0,
                        trace: Boolean = false, work: String = "")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val selfTest = SelfTest.run()
    selfTest.foreach(r => System.err.println(s"self-test: $r"))
    require(Workloads.contains(o.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    require(o.work.nonEmpty, "--work DIR is required")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.builder("graftbench").master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val line = try run(spark, o, selfTest) finally spark.stop()
    println(line)
  }

  private def run(spark: SparkSession, o: Opts, selfTest: Seq[String]): String = {
    val data = s"${o.work}/data"
    val meter = new Meter(spark, o.trace, data)
    val tally = new Tally
    val c = new Ctx(spark, meter, tally, o.seed)

    // One set-up per run (a cold one costs 20-30 s on a 4-core host, so
    // the median over a set of runs, not repeats within a run, steadies
    // it), then the same whole rounds in every run: their number follows
    // from --seconds and a nominal round length, never from how fast
    // this run happens to go, and is never below a workload's minimum.
    def rounds(nominalSeconds: Double, min: Int) = math.max(min, math.ceil(o.seconds / nominalSeconds).toInt)
    def measure[S](setup: => S)(run: S => Figures): (Figures, Setup, Double) = {
      val c0 = Meter.cpuNanos(); val t0 = System.nanoTime()
      val s = setup
      val t1 = System.nanoTime(); val c1 = Meter.cpuNanos()
      (run(s), Setup((c1 - c0) / 1e9, (t1 - t0) / 1e9), (System.nanoTime() - t1) / 1e9)
    }
    val dir = s"$data/setup"
    val (fig, setup, measuredS) = o.workload match {
      case "point_serve" =>
        measure(Point.setup(c, dir))(Point.run(c, _, rounds(Point.NominalRoundSeconds, 3)))
      case _ =>
        measure(Ingest.setup(c, dir))(Ingest.run(c, _, rounds(Ingest.NominalRoundSeconds, 2)))
    }
    val correct = selfTest.isEmpty && tally.problems.isEmpty
    // wall-clock figures go to stderr only: see the README on why the
    // reported times are CPU times
    System.err.println(f"graftbench: ${o.workload} set-up ${setup.wallS}%.2f s wall, ${setup.cpuS}%.2f s CPU; " +
      f"measured $measuredS%.1f s wall; median wall per call: " + meter.times.map { case (k, v) =>
        f"$k ${Meter.median(v.toSeq)}%.0f ms x${v.size}" }.mkString(", "))
    def perRound(name: String, f: RoundFig => Double) = s"$name " + fig.rounds.map(r => f"${f(r)}%.2f").mkString(" ")
    System.err.println("graftbench: rounds: " + Seq(perRound("call_cpu_ms", _.meanCallCpuMs),
      perRound("items_per_cpu_s", _.itemsPerCpuS), perRound("wall call_ms", _.meanCallMs),
      perRound("wall items_per_s", _.itemsPerS)).mkString(", "))
    tally.problems.take(20).foreach(p => System.err.println(s"check failed: $p"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("call_cpu_ms", fig.callCpuMs, "ms"),
        ("items_per_cpu_s", fig.itemsPerCpuS, "1/s"),
        ("store_bytes_per_vector", fig.storeBytes.toDouble / fig.storeVectors, "bytes"),
        ("setup_s", setup.cpuS, "s"))
      else {
        meter.records.foreach { case (op, fields) =>
          println(Json.obj(("op" -> op) +: fields.map { case (k, v) => k -> v }))
        }
        val t = meter.totals()
        println(Json.obj(Seq("totals" -> Json.Raw(Json.obj(Seq(
          "workload" -> o.workload, "calls" -> meter.records.size, "jobs" -> t.jobs,
          "stages" -> t.stages, "tasks" -> t.tasks, "shuffle_bytes" -> t.shuffleBytes,
          "input_bytes" -> t.inputBytes, "bytes_written" -> t.outputBytes,
          "measured_s" -> measuredS, "setup_wall_s" -> setup.wallS, "setup_s" -> setup.cpuS,
          // the end-to-end figures under tracing: minus an untraced run's,
          // they give the tracing overhead
          "call_cpu_ms" -> fig.callCpuMs, "items_per_cpu_s" -> fig.itemsPerCpuS,
          "call_ms" -> fig.callMs, "items_per_s" -> fig.itemsPerS))))))
        val byOp = meter.records.groupBy(_._1)
        Meter.PerLayer.map { name =>
          val (op, field) = name.splitAt(name.indexOf('.'))
          val value =
            if (op == "setup") Meter.median(meter.times.getOrElse(name, Nil).toSeq)
            else Meter.median(byOp.getOrElse(op, Nil).flatMap(_._2.collect {
              case (f, v) if f == field.drop(1) => v
            }).toSeq)
          (name, value, Meter.unitOf(field.drop(1)))
        }
      }
    Json.obj(Seq("correct" -> correct, "attempted" -> tally.attempted, "failed" -> tally.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
  }
}

/** Set-up cost: CPU seconds of the whole process, and wall seconds. */
final case class Setup(cpuS: Double, wallS: Double)

/** Just enough JSON for the result lines. */
object Json {
  final case class Raw(s: String)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => require(!d.isNaN && !d.isInfinite, "non-finite metric"); d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
