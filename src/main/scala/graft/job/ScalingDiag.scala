package graft.job

import org.apache.spark.sql.functions._

/** Diagnostic split of the scaling job: times the extraction-only scan
  * (no shuffle) and the full job (with the salted repartition) at two
  * parallelism levels, to attribute the N→4N efficiency gap between
  * the map side and the exchange.
  *
  *   runMain graft.job.ScalingDiag [rows] [n] [reps]
  */
object ScalingDiag {
  def main(args: Array[String]): Unit = {
    val a = Cli("usage: ScalingDiag [rows] [n] [reps]", 0 to 3).parse(args)
    val rows = a.int(0, "rows", 1000000)
    val n = a.int(1, "n", 8)
    val reps = a.int(2, "reps", 3)
    val pagesPath = ScalingBench.cachedPages(rows, n * 4)

    def extractOnly(spark: org.apache.spark.sql.SparkSession): Double = {
      val t0 = System.nanoTime()
      ExtractJob.extractDS(ExtractJob.readPages(spark, pagesPath))
        .agg(count(lit(1)), sum(length(col("extracted_text"))))
        .first()
      (System.nanoTime() - t0) / 1e9
    }

    val split = ScalingBench.splitBytesFor(pagesPath, n * 4)
    Seq(n, n * 4).foreach(cores => ScalingBench.withSession(cores, split) { spark =>
      var bestMap = Double.MaxValue
      var bestFull = Double.MaxValue
      (1 to reps).foreach { _ =>
        bestMap = math.min(bestMap, extractOnly(spark))
        bestFull = math.min(bestFull, ScalingBench.runOnce(spark, pagesPath, cores)._2)
      }
      println(f"""{"cores":$cores,"map_only_sec":$bestMap%.3f,"full_sec":$bestFull%.3f,"map_dps":${rows / bestMap}%.0f,"full_dps":${rows / bestFull}%.0f}""")
    })
  }
}
