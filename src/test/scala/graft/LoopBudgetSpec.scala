package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job budgets for the queries that run the iterative graph operators
  * (connected components, PageRank, HITS, redirect pointer jumping) at
  * sf0.001. Each query runs once untimed, so its build-once stages are
  * resolved and its first-in-JVM planning is done, then once under
  * [[SparkJobs.count]]. */
class LoopBudgetSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  // ceilings: the count measured before the operators shared one loop
  // (27, 49, 43, 105 and 24 jobs) + ~7% headroom
  private val budgets = Seq(
    "q47_dedup_clusters" -> 29,
    "q68_pagerank" -> 52,
    "q77_semantic_dedup" -> 46,
    "q90_hits" -> 112,
    "q95_redirects" -> 26)

  budgets.foreach { case (name, ceiling) =>
    test(s"$name: job budget at sf0.001") {
      def run() = graft.queries.GraftQueries.queries(name)(spark, sfDir).collect()
      val warm = run()
      val (rows, counts) = SparkJobs.count(spark)(run())
      assert(rows.length == warm.length && rows.nonEmpty)
      info(s"$name launched ${counts.jobs} Spark jobs in ${counts.executions} SQL executions")
      assert(counts.jobs <= ceiling, s"$name launched ${counts.jobs} jobs")
    }
  }
}
