package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** The job-budget instrument the job specs share: runs `body` and
  * counts the Spark jobs it starts, the distinct SQL executions those
  * jobs belong to and the records their file scans read (the input
  * records of stages that scan files; a read of cached or checkpointed
  * blocks counts as task input too, so other stages are left out).
  * Jobs are tagged through a local property while the body runs; a
  * sentinel job started afterwards flushes the (asynchronous, in-order)
  * listener queue before the counts are read. */
object SparkJobs {
  final case class Counts(jobs: Int, executions: Int, scannedRecords: Long)

  def count[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val tag = "graft.jobbudget"
    val jobs = new AtomicInteger()
    val executions = ConcurrentHashMap.newKeySet[String]()
    val scans = ConcurrentHashMap.newKeySet[Int]()
    val records = new AtomicLong()
    val flushed = new CountDownLatch(1)
    def tagOf(p: java.util.Properties) = Option(p).flatMap(p => Option(p.getProperty(tag)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tagOf(e.properties) match {
          case Some("run") =>
            jobs.incrementAndGet()
            Option(e.properties.getProperty("spark.sql.execution.id")).foreach(executions.add)
          case Some("sentinel") => flushed.countDown()
          case _ =>
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagOf(e.properties).contains("run") && e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scans.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (scans.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "run")
      val out = try body finally sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(tag, null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener queue never drained")
      (out, Counts(jobs.get(), executions.size, records.get()))
    } finally sc.removeSparkListener(listener)
  }
}
