package graft

import org.apache.spark.sql.SparkSession
import graft.job.Cli

/** Query timing and plan tool: time a SUBSET of SparkEntry.queries
  * (one name works too) under the session the frozen [[Bench]] measures
  * with ([[graft.job.GraftSession.local]] on SPARK_GRAFT_CPUS cores,
  * 8 MB scan splits, warmCaches staged untimed), so per-query numbers
  * here are comparable to the driver's bench rows without paying for
  * the full 109-query sweep on every iteration.
  *
  * `runMain graft.BenchExtra <q1,q2,...> [reps] [explainDir]`
  *   - each query is timed `reps` times with the same action the
  *     frozen bench uses (`.count()`); a `noop:` prefix on a name
  *     times the noop-sink write instead (guide §1.4 isolation).
  *   - when `explainDir` is given, each query's
  *     `.explain("formatted")` output is written there as
  *     `<name>.txt` (the plan evidence committed under plans/r06).
  *
  * [[Bench]], [[Verify]] and the oracle SQL stay frozen; oracle dumps
  * of a query subset are [[DumpOne]]'s job.
  */
object BenchExtra extends Cli.Main(Cli("usage: BenchExtra <q1,q2,...> [reps] [explainDir]", 1 to 3)) {
  def job(a: Cli.Args): SparkSession => Unit = {
    val names = a(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = a.int(1, "reps", 3)
    val explainDir = a.positional.lift(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark => run(spark, names, reps, explainDir, sfDir)
  }

  private def run(spark: SparkSession, names: Array[String], reps: Int,
                  explainDir: Option[String], sfDir: String): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
    graft.queries.GraftQueries.setSf(sfDir)
    graft.queries.GraftQueries.pagesPath(spark, sfDir)
    SparkEntry.queries("q18_extract_pages")(spark, "/root/testdata/sf0.01").count()
    graft.queries.GraftQueries.warmCaches(spark, sfDir)

    names.foreach { raw =>
      val noop = raw.startsWith("noop:")
      val name = if (noop) raw.stripPrefix("noop:") else raw
      val fn = SparkEntry.queries(name)
      explainDir.foreach { dir =>
        new java.io.File(dir).mkdirs()
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/$name.txt"), txt)
      }
      (1 to reps).foreach { r =>
        spark.sparkContext.setJobDescription(s"$name rep $r")
        val t0 = System.nanoTime()
        val n =
          if (noop) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save(); -1L
          } else fn(spark, sfDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"""{"query":"$raw","rep":$r,"sec":$secs%.3f,"rows":$n}""")
        spark.sparkContext.setJobDescription(null)
      }
    }
  }
}
