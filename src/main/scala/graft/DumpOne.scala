package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.job.Cli

/** Dump a subset of SparkEntry queries + their oracle SQL for a focused
  * check_oracle.py run: `runMain graft.DumpOne <q1,q2,...> <sfDir> <outDir>`.
  * Writes `<outDir>/<query>` per named query and an `oracle_sql.json`
  * holding only those entries. Dev tool — the driver's gate runs the
  * full [[Verify]]. */
object DumpOne extends Cli.Main(Cli("usage: DumpOne <q1,q2,...> <sfDir> <outDir>", 3 to 3)) {
  def job(a: Cli.Args): SparkSession => Unit = spark => {
    val names = a(0).split(",").map(_.trim).filter(_.nonEmpty)
    val (sfDir, outDir) = (a(1), a(2))
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
  }
}
