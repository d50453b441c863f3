package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.gen.PageGen

/** SQL-surface and events-sink checks: the injected functions must be
  * callable from SQL strings and agree with the library path. */
class ExtensionsSpec extends AnyFunSuite with TempRoots {

  lazy val spark: SparkSession = {
    // spark.sql.extensions is a STATIC conf read from the SparkContext,
    // so a context created by an earlier suite can never gain the
    // extensions — stop it and build a fresh one
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  test("extract_main_text callable from SQL and equal to the library path") {
    import spark.implicits._
    val gens = (0 until 40).map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong))
    val df = gens.map(g => (g.page.url, g.page.html)).toDF("url", "html")
    df.createOrReplaceTempView("pages_sql")
    val got = spark.sql("SELECT url, extract_main_text(html) AS t FROM pages_sql")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    gens.foreach { g =>
      val expect = graft.core.Extract(g.page).extracted_text
      assert(got(g.page.url) == expect, s"sql path diverges for ${g.page.url}")
    }
  }

  test("cosine_similarity callable from SQL, matches expression API") {
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 2.0D, 3.0D), array(3.0D, 2.0D, 1.0D)) AS c")
      .first().getDouble(0)
    val expect = (3.0 + 4.0 + 3.0) / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(r == expect)
  }

  test("snapshot commits append events rows (S9 sink)") {
    val dir = tempRoot("graftevents")
    val out = s"$dir/out"
    graft.job.ExtractJob.generatePages(spark, 80, s"$dir/pages", partitions = 2)
    graft.job.ExtractJob.run(spark, s"$dir/pages", out)
    val ev = graft.job.ExtractJob.readEvents(spark, out)
    assert(ev.filter("kind = 'snapshot_committed'").count() == 1)
    assert(ev.filter("kind = 'partition_committed'").count() > 0)
    val total = ev.filter("kind = 'partition_committed'")
      .selectExpr("sum(cast(payload['row_count'] as long))").first().getLong(0)
    assert(total == 80)

    // a second increment and a compaction: one snapshot_committed row
    // per sequence, each carrying its manifest's row count
    graft.job.ExtractJob.generatePages(spark, 120, s"$dir/pages", partitions = 2,
      start = 80, append = true)
    graft.job.ExtractJob.run(spark, s"$dir/pages", out)
    graft.job.ExtractJob.compact(spark, out)
    val chain = graft.job.SnapshotStore.chain(out)
    assert(chain.size == 3)
    val committed = graft.job.ExtractJob.readEvents(spark, out)
      .filter("kind = 'snapshot_committed'")
      .selectExpr("sequence", "cast(payload['row_count'] as long)").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    assert(committed == chain.map(s => s.sequence -> s.rowCount), committed)
  }
}
