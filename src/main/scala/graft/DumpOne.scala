package graft

import java.nio.file.{Files, Paths}

/** Dump a subset of SparkEntry queries + their oracle SQL for a focused
  * check_oracle.py run: `runMain graft.DumpOne <q1,q2,...> <sfDir> <outDir>`.
  * Writes `<outDir>/<query>` per named query and an `oracle_sql.json`
  * holding only those entries. Dev tool — the driver's gate runs the
  * full [[Verify]]. */
object DumpOne {
  def main(args: Array[String]): Unit = {
    val Array(list, sfDir, outDir) = args.take(3)
    val names = list.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.job.GraftSession.local()
    graft.queries.GraftQueries.setSf(sfDir)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
