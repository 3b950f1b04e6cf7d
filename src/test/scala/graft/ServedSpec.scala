package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The served-artifact protocol itself: a build that dies between its
  * payload write and the stamp publish is never served as fresh.
  */
class ServedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  test("an interrupted publish leaves no stamp, and the next call rebuilds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-served").toString
    val v1 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val v2 = Seq((1L, "gamma"), (2L, "beta")).toDF("doc_id", "text")
    val v1Rows = Set((1L, "alpha"), (2L, "beta"))
    var builds = 0
    def serve(live: DataFrame, crash: Boolean = false): Set[(Long, String)] = {
      Served.ensure(spark, dir, live, "doc_id", "text") { frame =>
        frame.write.mode("overwrite").parquet(s"$dir/payload")
        builds += 1
        if (crash) throw new IllegalStateException("build died before publish")
      }
      spark.read.parquet(s"$dir/payload").as[(Long, String)].collect().toSet
    }
    Served.invalidate()
    assert(serve(v1) === v1Rows && builds === 1)
    // v2's build writes its payload, then dies before the stamp
    Served.invalidate()
    intercept[IllegalStateException](serve(v2, crash = true))
    assert(builds === 2)
    assert(Served.read(spark, dir).isEmpty, "a failed build must leave no stamp")
    // the live table is back at v1, whose stamp the old artifact
    // carried, but the payload on disk is v2's: it must rebuild, and
    // the failed call must not have marked the directory fresh
    assert(serve(v1) === v1Rows && builds === 3)
    assert(Served.read(spark, dir) === Some(Served.stamp(v1, "doc_id", "text")))
    // once published, a memo-less re-check reuses the artifact
    Served.invalidate()
    assert(serve(v1) === v1Rows && builds === 3)
  }
}
