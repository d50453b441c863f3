package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.job.{ExtractJob, GraftSession, SnapshotStore}

/** The benchmark's own self-check: its correctness gate must pass the
  * engine's real output and must fail once one committed byte changes. */
class GateSpec extends AnyFunSuite {

  test("the gate passes a committed snapshot and fails when one byte of one row is flipped") {
    val base = Paths.get("target", "gate-spec").toAbsolutePath
    Gate.deleteTree(base)
    val spark = GraftSession.local("2")
    try {
      val seed = 7L
      val rows = 40
      val pages = base.resolve("pages"); val root = base.resolve("out")
      Inputs.pagesParquet(spark, seed, rows, 2, pages)
      ExtractJob.run(spark, pages.toString, root.toString)
      val want = Gate.expected(seed, 0, rows)
      val dir = SnapshotStore.dataDirs(root.toString).head

      val clean = Gate.check(Gate.committedRows(spark, Seq(dir)), want)
      assert(clean.checked == rows)
      assert(clean.failed == 0, clean.problems)

      // flip the low bit of the first byte of one row's text (ASCII, so
      // exactly one byte of the committed UTF-8 changes), then swap the
      // rewritten data dir in where the snapshot points
      val data = spark.read.parquet(dir)
      val victim = data.filter(length(col("extracted_text")) > 0)
        .select(col("url")).orderBy(col("url")).first().getString(0)
      val flipped = expr("concat(chr(ascii(substring(extracted_text, 1, 1)) ^ 1), substring(extracted_text, 2))")
      val tmp = base.resolve("flipped").toString
      data.withColumn("extracted_text",
          when(col("url") === victim, flipped).otherwise(col("extracted_text")))
        .write.parquet(tmp)
      Gate.deleteTree(Paths.get(dir))
      Files.move(Paths.get(tmp), Paths.get(dir))

      val bad = Gate.check(Gate.committedRows(spark, SnapshotStore.dataDirs(root.toString)), want)
      assert(bad.failed == 1)
      assert(bad.problems == Seq(s"text mismatch at $victim"))
      assert(bad.digest != clean.digest)
    } finally {
      spark.stop()
      Gate.deleteTree(base)
    }
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some((90, 90.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }
}
