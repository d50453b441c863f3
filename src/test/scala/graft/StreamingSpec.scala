package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.job.{ExtractJob, SnapshotStore}
import graft.streaming.StreamingExtract

/** Streaming mode: micro-batch extraction over arriving page files must
  * produce the same committed contents as one batch run, and the
  * watermarked windowed aggregation must match its batch equivalent. */
class StreamingSpec extends AnyFunSuite with TempRoots {

  lazy val spark = graft.job.GraftSession.local("4")

  private def tmp(): String = tempRoot("graftstream")

  // every query here drains and stops itself; a failed test may not
  override def afterAll(): Unit = {
    spark.streams.active.foreach(_.stop())
    super.afterAll()
  }

  test("pageSchema is the Page record's schema") {
    import org.apache.spark.sql.types._
    assert(StreamingExtract.pageSchema == StructType(Seq(
      StructField("url", StringType),
      StructField("warc_ts", TimestampType),
      StructField("html", BinaryType),
      StructField("text", StringType),
      StructField("lang", StringType))))
  }

  test("streaming extraction == batch extraction (same snapshot contents)") {
    val dir = tmp()
    val N = 200
    ExtractJob.generatePages(spark, N, s"$dir/pages", partitions = 6)

    val q = StreamingExtract.extractStream(
      spark, s"$dir/pages", s"$dir/stream_out", s"$dir/ckpt",
      maxFilesPerTrigger = 2).start()
    q.awaitTermination() // AvailableNow: drains all current files, stops

    assert(SnapshotStore.currentSequence(s"$dir/stream_out") >= 2,
      "expected multiple micro-batch snapshots")

    ExtractJob.run(spark, s"$dir/pages", s"$dir/batch_out")
    val a = ExtractJob.readExtracted(spark, s"$dir/stream_out")
      .select("url", "extracted_text", "payload_kind", "error")
    val b = ExtractJob.readExtracted(spark, s"$dir/batch_out")
      .select("url", "extracted_text", "payload_kind", "error")
    assert(a.count() == N && b.count() == N)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("streaming restart picks up only new files (checkpoint resume)") {
    val dir = tmp()
    ExtractJob.generatePages(spark, 100, s"$dir/pages", partitions = 3)
    val w1 = StreamingExtract.extractStream(
      spark, s"$dir/pages", s"$dir/out", s"$dir/ckpt").start()
    w1.awaitTermination()
    val rows1 = ExtractJob.readExtracted(spark, s"$dir/out").count()
    assert(rows1 == 100)

    // new files arrive; restart from checkpoint
    ExtractJob.generatePages(spark, 180, s"$dir/pages", partitions = 3,
      start = 100, append = true)
    val w2 = StreamingExtract.extractStream(
      spark, s"$dir/pages", s"$dir/out", s"$dir/ckpt").start()
    w2.awaitTermination()
    val all = ExtractJob.readExtracted(spark, s"$dir/out")
    assert(all.count() == 180)
    assert(all.select("url").distinct().count() == 180)
  }

  test("mapGroupsWithState: cumulative host counts converge to batch counts") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    ExtractJob.generatePages(spark, 250, s"$dir/pages", partitions = 5)
    val stream = spark.readStream.schema(StreamingExtract.pageSchema)
      .option("maxFilesPerTrigger", 1) // force several micro-batches
      .parquet(s"$dir/pages")
    val q = StreamingExtract.statefulHostCounts(stream)
      .toDF("host", "n_docs")
      .writeStream.format("memory").queryName("host_counts")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the LAST update per host must equal the batch count
    val finalCounts = spark.table("host_counts")
      .groupBy("host").agg(max("n_docs").as("n_docs"))
    val expected = spark.read.parquet(s"$dir/pages")
      .groupBy(parse_url(col("url"), lit("HOST")).as("host"))
      .agg(count(lit(1)).as("n_docs"))
    assert(finalCounts.exceptAll(expected).isEmpty &&
      expected.exceptAll(finalCounts).isEmpty)
  }

  test("watermarked windowed host throughput matches batch groupBy") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    ExtractJob.generatePages(spark, 300, s"$dir/pages", partitions = 4)
    val batch = spark.read.parquet(s"$dir/pages")
    val expected = batch
      .groupBy(window(col("warc_ts"), "1 hour"), parse_url(col("url"), lit("HOST")).as("host"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("window.start").as("window_start"), col("host"), col("n_docs"))

    // run the same aggregation through the streaming plan in complete mode
    val stream = spark.readStream.schema(StreamingExtract.pageSchema)
      .parquet(s"$dir/pages")
    val agg = StreamingExtract.hostThroughput(stream)
    val q = agg.writeStream.format("memory").queryName("host_tp")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only windows closed by the watermark; every
    // emitted row must match the batch computation exactly
    val got = spark.table("host_tp")
    val joined = got.join(expected, Seq("window_start", "host"), "left")
      .filter(got("n_docs") =!= expected("n_docs"))
    assert(joined.isEmpty, "streaming window counts diverge from batch")
  }

  test("streaming dedup == batch exact dedup (one survivor per content hash)") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    ExtractJob.generatePages(spark, 400, s"$dir/pages", partitions = 4)
    // plant re-crawls: same payload bytes under a new url, slightly
    // later event time (mirror pages in the generator vary their bytes
    // per host, so byte-level duplicates must be planted explicitly)
    spark.read.parquet(s"$dir/pages").orderBy("url").limit(30)
      .withColumn("url", concat(col("url"), lit("?recrawl=1")))
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1 MINUTE"))
      .select("url", "warc_ts", "html", "text", "lang")
      .coalesce(1).write.mode("append").parquet(s"$dir/pages")
    val stream = spark.readStream.schema(StreamingExtract.pageSchema)
      .option("maxFilesPerTrigger", 1) // duplicates split across micro-batches
      .parquet(s"$dir/pages")
    // delay far beyond the generated ts range: nothing evicts, so the
    // result must be EXACTLY one survivor per hash (deterministic)
    val q = StreamingExtract.dedupStream(stream, watermarkDelay = "365 days")
      .select(col("url"), col("content_hash"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("dedup_out")
    val batchHashes = spark.read.parquet(s"$dir/pages")
      .select(md5(col("html")).as("content_hash")).distinct()
    assert(got.count() == batchHashes.count(), "one survivor per distinct hash")
    assert(got.select("content_hash").distinct().count() == got.count(),
      "no hash emitted twice")
    assert(got.select("content_hash").exceptAll(batchHashes).isEmpty &&
      batchHashes.exceptAll(got.select("content_hash")).isEmpty,
      "survivor hash set == batch distinct hash set")
    // and the generator really planted duplicates (the test isn't vacuous)
    assert(spark.read.parquet(s"$dir/pages").count() > batchHashes.count())
  }

  test("streaming minhash near-dup pairs == the batch LSH rule (same kernels)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Dedup
    val dir = tmp()
    // planted corpus: unique docs, one exact re-crawl, two near-dup
    // mutations, all within the watermark window
    val base = (0 until 12).map(i =>
      s"document $i body " + (0 until 40).map(w => s"tok${i}_$w").mkString(" "))
    val t0 = 1700000000000L
    val rows =
      base.zipWithIndex.map { case (t, i) => (f"u$i%02d", t0 + i * 1000L, t) } ++ Seq(
        ("u90", t0 + 60000L, base(3)),                                  // exact dup of u03
        ("u91", t0 + 61000L, base(5).replace("tok5_7", "mutated")),     // near dup of u05
        ("u92", t0 + 62000L, base(5).replace("tok5_9", "other")),       // near dup of u05 (and of u91)
        ("u06", t0 + 63000L, base(6)))                                  // SAME-url re-crawl: no self-pair
    rows.map { case (u, ms, t) => (u, new java.sql.Timestamp(ms), t) }
      .toDF("url", "warc_ts", "text").coalesce(1).write.parquet(s"$dir/in/a")
    Seq(("zz", new java.sql.Timestamp(t0 + 10L * 86400000), "sentinel far future"))
      .toDF("url", "warc_ts", "text").coalesce(1).write.parquet(s"$dir/in/b")
    var mt = System.currentTimeMillis() - 60000
    for (sub <- Seq("a", "b")) {
      new java.io.File(s"$dir/in/$sub").listFiles().foreach(_.setLastModified(mt)); mt += 10000
    }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("warc_ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
      .parquet(s"$dir/in")
    val q = StreamingExtract.nearDupStream(stream)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("neardup_out")
      .select("url", "dup_of", "n_agree")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // the batch rule with the SAME kernels: pairs (later, earlier) that
    // share >= 1 band bucket and agree on >= 52/64 signature positions
    val sigs = rows.map { case (u, ms, t) =>
      (u, ms, Dedup.minhashSignature(Dedup.shingleHashes(t, 2)),
        Dedup.bandKeys(Dedup.minhashSignature(Dedup.shingleHashes(t, 2))).toSet)
    }.sortBy(r => (r._2, r._1))
    val expected = (for {
      j <- sigs.indices; i <- 0 until j
      if sigs(i)._1 != sigs(j)._1 // the batch a_id < b_id analog: never self
      if sigs(i)._4.intersect(sigs(j)._4).nonEmpty
      agree = sigs(i)._3.zip(sigs(j)._3).count { case (a, b) => a == b }
      if agree >= 52
    } yield (sigs(j)._1, sigs(i)._1, agree)).toSet
    assert(expected.nonEmpty, "planted near-dups produced no expected pairs")
    assert(expected.exists(_._3 == 64), "expected the exact re-crawl at full agreement")
    assert(got == expected, s"streaming $got\nexpected $expected")
  }

  test("flatMapGroupsWithState sessionization == batch 30-min-gap sessions, exactly once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmp()
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"),
        // the driver table stores TIMESTAMP_NTZ; the streaming/session
        // surface uses classic TIMESTAMP (UTC session, same instants)
        to_timestamp(col("ts")).as("ts"))
    // one data file + two far-future sentinel users: sentinel 1 pushes
    // the watermark past every real session's end+gap (closing them via
    // the event-time timeout on the NEXT trigger), sentinel 2 provides
    // that next trigger. File order pinned via modification times.
    val maxTsMs = events.agg(max(col("ts")).cast("long")).head().getLong(0) * 1000L
    events.coalesce(1).write.parquet(s"$dir/in/a")
    Seq((-1L, new java.sql.Timestamp(maxTsMs + 10L * 86400000)))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/in/b")
    Seq((-2L, new java.sql.Timestamp(maxTsMs + 20L * 86400000)))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/in/c")
    var t0 = System.currentTimeMillis() - 60000
    for (sub <- Seq("a", "b", "c")) {
      new java.io.File(s"$dir/in/$sub").listFiles().foreach { f =>
        f.setLastModified(t0)
      }
      t0 += 10000
    }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType))))
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(s"$dir/in")
    val q = StreamingExtract.sessionsStream(stream)
      .toDF("user_id", "session_start", "session_end", "n_events")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sessions_out").filter(col("user_id") >= 0)
      .select("user_id", "session_start", "session_end", "n_events")
    // batch reference: the q16 gap rule, aggregated to (start, end, n)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc)
    val expected = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
    assert(got.count() == expected.count(),
      s"session count ${got.count()} vs batch ${expected.count()}")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "streaming sessions != batch sessions")
    // exactly-once: no session emitted twice
    assert(got.distinct().count() == got.count())
  }
}
