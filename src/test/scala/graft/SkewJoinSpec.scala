package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Evidence that the AQE skew-join path the north rule names is live:
  * with a zipfian-style hot key and broadcast disabled, the final
  * adaptive plan must mark the sort-merge join as skew-handled
  * (Spark splits the oversized partition into parallel sub-reads).
  */
class SkewJoinSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  /** Shrunk skew thresholds so the toy dataset qualifies as skewed,
    * broadcast off so the join is a sort-merge join. Runtime confs on
    * the shared session: set for this test only and restored after, so
    * later suites plan with their own settings. */
  private val skewConfs = Seq(
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("AQE splits the hot-host partition of a sort-merge join") {
    val before = skewConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // hot key owns half the fact rows (the zipfian head host)
      val fact = spark.range(0, 60000).select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(pmod(col("id"), lit(97L))).as("host_key"),
        concat(lit("x"), lpad(col("id").cast("string"), 64, "0")).as("payload"))
      val dim = spark.range(0, 97).select(col("id").as("host_key"),
        concat(lit("host-"), col("id")).as("host_name"))
      val joined = fact.join(dim, Seq("host_key"))
      // materialize THIS QueryExecution (count() would plan a separate one
      // and executedPlan would still read isFinalPlan=false)
      assert(joined.collect().length == 60000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-handled join in the final adaptive plan:\n${finalPlan.take(1500)}")
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
