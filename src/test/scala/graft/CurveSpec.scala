package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.ShingleIndex
import graft.vector.VectorStore

/** The one persisted tuning-curve protocol ([[Curve]]): a table written
  * in an older layout is no curve until the next measurement replaces
  * it wholesale; superseded slice-id sets are deleted; and no code
  * outside `Curve` reads or writes a curve directory.
  */
class CurveSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Rewrite the parquet table at `dir` without `cols`: the layout an
    * older writer left behind.
    */
  private def dropColumns(dir: String, cols: String*): Unit = {
    val tmp = dir + "_old_layout"
    spark.read.parquet(dir).drop(cols: _*).write.parquet(tmp)
    fs.delete(new Path(dir), true)
    fs.rename(new Path(tmp), new Path(dir))
  }

  /** The 4-cluster fixture split over 4 shards, so a target met at
    * depth 1 is distinguishable from full probing.
    */
  private def store(name: String): (VectorStore, String, DataFrame) = {
    val corpus = spark.range(0, 400, 1, 4).select(col("id"),
      array((0 until 16).map { d =>
        when(pmod(col("id"), lit(4)) === d / 4, 5.0).otherwise(0.0) +
          (pmod(hash(col("id"), lit(d)), lit(101)).cast("double") - 50.0) * 0.003
      }: _*).as("vector"))
    val dir = Files.createTempDirectory(name).toString
    val vs = new VectorStore(spark, dir, numShards = 4)
    vs.build(corpus, iters = 2)
    (vs, dir, corpus)
  }

  private def sliceDirs(dir: String): Set[String] = {
    val root = new Path(s"$dir/recall_slice_ids")
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).map(_.getPath.getName).toSet
  }

  test("a recall table written without allowed_stamp/metric is no curve until the next eval replaces it") {
    val (vs, dir, corpus) = store("graft-curve-legacy")
    val slice = corpus.filter(pmod(col("id"), lit(4)) === 0).select("id")
    vs.evalRecall(nQueries = 8, topK = 5)
    vs.evalRecall(nQueries = 8, topK = 5, allowed = Some(slice))
    assert(vs.nprobeFor(0.01) === 1, "the measured curve tunes to depth 1")
    assert(sliceDirs(dir).size === 1)

    dropColumns(s"$dir/recall_eval", "allowed_stamp", "metric")
    assert(vs.nprobeFor(0.01) === 4, "an older layout serves full probing")
    assert(vs.maintainCurves().recallRefreshed === 0,
      "an older layout holds no mode to re-measure")

    val t = vs.evalRecall(nQueries = 8, topK = 5)
    assert(t.count() === 4L, "the old table's rows are not carried")
    assert(t.filter(col("allowed_stamp") =!= 0L || col("metric") =!= "cosine")
      .isEmpty, "only the fresh whole-corpus cosine rows remain")
    assert(vs.nprobeFor(0.01) === 1)
    assert(sliceDirs(dir).isEmpty, "no row references the old slice's ids")
  }

  test("a banding table written without sample_docs asks for measureBanding; the next measure replaces it") {
    import spark.implicits._
    def w(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val corpus = Seq((1L, w("a", 40)), (2L, w("b", 40)),
      (3L, w("a", 40) + " delta")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-curve-band").toString
    val idx = new ShingleIndex(spark, dir)
    idx.build(corpus)
    idx.measureBanding(threshold = 0.8)
    idx.measureBanding(threshold = 0.5)
    idx.bandingFor(0.8)

    dropColumns(s"$dir/bandcurve", "sample_docs")
    val ex = intercept[IllegalArgumentException](idx.bandingFor(0.8))
    assert(ex.getMessage.contains("measureBanding"), ex.getMessage)
    assert(idx.maintainBanding() === 0, "an older layout holds nothing to re-measure")

    val fresh = idx.measureBanding(threshold = 0.8)
    assert(fresh.count() === 4L)
    val t = spark.read.parquet(s"$dir/bandcurve")
    assert(t.columns.contains("sample_docs"))
    assert(t.filter(col("threshold") =!= 0.8).isEmpty,
      "the old table's other threshold is not carried")
    assert(idx.bandingFor(0.8)._1 >= 1)
    intercept[IllegalArgumentException](idx.bandingFor(0.5))
  }

  test("a superseded slice's persisted ids are deleted, by the next eval and by maintainCurves") {
    val (vs, dir, corpus) = store("graft-curve-slicegc")
    val sliceA = corpus.filter(pmod(col("id"), lit(4)) === 0).select("id")
    val sliceB = corpus.filter(pmod(col("id"), lit(4)) === 1).select("id")
    vs.evalRecall(nQueries = 8, topK = 5, allowed = Some(sliceA))
    val dirA = sliceDirs(dir)
    assert(dirA.size === 1)
    // slice B replaces slice A in the same recall mode
    vs.evalRecall(nQueries = 8, topK = 5, allowed = Some(sliceB))
    val stampB = spark.read.parquet(s"$dir/recall_eval")
      .filter(col("allowed_stamp") =!= 0L).select("allowed_stamp").distinct()
      .collect().map(_.getLong(0))
    assert(stampB.length === 1)
    assert(sliceDirs(dir) === Set(s"stamp=${stampB.head}"),
      s"only slice B's ids may remain, got ${sliceDirs(dir)}")
    assert(!sliceDirs(dir).exists(dirA))

    // an unreferenced set left behind (e.g. by an older writer) goes at
    // the end of the next maintenance pass
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$dir/recall_slice_ids/stamp=${stampB.head}"),
      fs, new Path(s"$dir/recall_slice_ids/stamp=12345"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(sliceDirs(dir).size === 2)
    assert(vs.maintainCurves().refreshed === 0)
    assert(sliceDirs(dir) === Set(s"stamp=${stampB.head}"))
    assert(vs.nprobeFor(0.5, allowed = Some(sliceB)) >= 1)
  }

  test("no code outside Curve reads or writes a tuning-curve directory") {
    val dirVal = """\b(recallDir|rangeRecallDir|fusionRecallDir|curveDir)\b""".r
    val dirName = """/(recall_eval|range_recall_eval|fusion_recall_eval|bandcurve)\b""".r
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val all = sources(new File("src/main/scala"))
    val stray = all.filter(_.getName != "Curve.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f)("UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.collect {
        case (l, i) if dirVal.findFirstIn(l).isDefined ||
            (dirName.findFirstIn(l).isDefined && !l.trim.startsWith("*") &&
              !l.trim.startsWith("//") && !l.contains("new graft.Curve(")) =>
          s"${f.getName}:${i + 1}: ${l.trim}"
      }
    }
    assert(stray.isEmpty,
      s"curve directories touched outside graft.Curve:\n${stray.mkString("\n")}")
    assert(all.exists(_.getName == "Curve.scala"), "the scan must see Curve.scala")
  }
}
