package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The job-budget instrument the job specs share: runs `body` and
  * counts the Spark jobs it starts and the distinct SQL executions
  * those jobs belong to. Jobs are tagged through a local property while
  * the body runs; a sentinel job started afterwards flushes the
  * (asynchronous, in-order) listener queue before the counts are read. */
object SparkJobs {
  final case class Counts(jobs: Int, executions: Int)

  def count[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val tag = "graft.jobbudget"
    val jobs = new AtomicInteger()
    val executions = ConcurrentHashMap.newKeySet[String]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("run") =>
            jobs.incrementAndGet()
            Option(e.properties.getProperty("spark.sql.execution.id")).foreach(executions.add)
          case Some("sentinel") => flushed.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "run")
      val out = try body finally sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(tag, null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener queue never drained")
      (out, Counts(jobs.get(), executions.size))
    } finally sc.removeSparkListener(listener)
  }
}
