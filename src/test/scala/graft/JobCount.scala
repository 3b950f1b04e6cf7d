package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What the Spark jobs started while a block ran did: how many there
  * were, the call site of each (the query's, e.g. "count at
  * ShingleIndex.scala:244", for every job an adaptive plan runs under
  * it), and the shuffle bytes their tasks wrote.
  */
final case class JobCount(jobs: Int, callSites: Seq[String], shuffleBytes: Long)

object JobCount {
  /** Runs `f` and tallies the Spark jobs it started. The listener bus
    * delivers in order, so a marked sentinel job run before `f` drains
    * earlier events, and one run after it closes the tally: once the
    * second sentinel's end arrives, every event of `f`'s jobs has too.
    * The sentinels' own jobs and tasks are not counted.
    */
  def during[T](spark: SparkSession)(f: => T): (T, JobCount) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val bytes = new AtomicLong(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marks = Map("before" -> new CountDownLatch(1), "after" -> new CountDownLatch(1))
    val queries = new ConcurrentHashMap[Long, String]()
    val sentinelJobs = new ConcurrentHashMap[Int, String]()
    val sentinelStages = ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.sentinel"))) match {
          case Some(mark) =>
            sentinelJobs.put(e.jobId, mark)
            e.stageIds.foreach(sentinelStages.add)
          case None =>
            jobs.incrementAndGet()
            sites.add(Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
              .flatMap(id => Option(queries.get(id.toLong)))
              .getOrElse(e.stageInfos.maxBy(_.stageId).name))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && !sentinelStages.contains(e.stageId))
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries.put(q.executionId, q.description)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(sentinelJobs.get(e.jobId)).flatMap(marks.get).foreach(_.countDown())
    }
    def sentinel(mark: String): Unit = {
      sc.setLocalProperty("graft.sentinel", mark)
      try spark.range(1).collect() finally sc.setLocalProperty("graft.sentinel", null)
      assert(marks(mark).await(30, TimeUnit.SECONDS), s"sentinel '$mark' never arrived")
    }
    sc.addSparkListener(l)
    try {
      sentinel("before")
      jobs.set(0)
      bytes.set(0)
      sites.clear()
      val r = f
      sentinel("after")
      import scala.jdk.CollectionConverters._
      (r, JobCount(jobs.get(), sites.asScala.toSeq, bytes.get()))
    } finally sc.removeSparkListener(l)
  }
}
