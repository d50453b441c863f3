package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import graft.job.{Cli, ExtractJob}

/** Streaming mode of the engine — the direct analog of the reference's
  * arrival-driven worker (Celery consumes one message per document,
  * /root/reference/ocrworker/celery_app.py:10-19): a file source
  * watches the pages table directory, each micro-batch runs the SAME
  * extraction pipeline via foreachBatch, and commits the same
  * Iceberg-style snapshots — so batch resume and streaming checkpoints
  * compose (a batch run can take over from a streaming run and vice
  * versa, because both bookkeep over committed input files).
  *
  * Also provides the event-time path the reference lacks (it has no
  * watermarks — SURVEY.md §2.10): windowed per-host throughput metrics
  * over warc_ts with a configurable watermark.
  */
object StreamingExtract {

  /** The pages table's schema, derived from its one definition, [[graft.core.Page]]. */
  val pageSchema: StructType = Encoders.product[graft.core.Page].schema

  /** Streaming extraction: every micro-batch of newly-arrived page files
    * is extracted and committed as a snapshot. maxFilesPerTrigger bounds
    * per-batch work (the analog of queue prefetch). */
  def extractStream(spark: SparkSession, pagesDir: String, outRoot: String,
                    checkpoint: String, maxFilesPerTrigger: Int = 8): DataStreamWriter[Row] = {
    val stream = spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(pagesDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // reuse the batch pipeline's snapshot commit; the batch df is
        // already the newly-seen rows, so file bookkeeping defers to
        // the streaming checkpoint, and row-level resume stays on as
        // the safety net for overlap after a crash between the two
        // bookkeeping layers.
        import batch.sparkSession.implicits._
        val pages = batch.as[graft.core.Page]
        val extracted = ExtractJob.extractDS(pages)
        ExtractJob.appendSnapshot(extracted, outRoot)
        ()
      }
  }

  /** Arbitrary stateful streaming: cumulative per-host document counts
    * maintained across micro-batches via
    * KeyValueGroupedDataset.mapGroupsWithState — the custom-state form
    * of the reference's long-lived per-queue progress counters
    * (/root/reference/ocrworker/segmentation_tasks.py:293-332 job
    * status updates). Output mode: Update (one refreshed row per host
    * per batch). */
  def statefulHostCounts(pages: DataFrame): org.apache.spark.sql.Dataset[(String, Long)] = {
    import pages.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    pages.select(graft.ops.Hosts.hostOf(col("url")).as[String])
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (host: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (host, n)
      }
  }

  /** Event-time metrics: tumbling-window per-host doc counts with a
    * watermark on warc_ts (late data beyond the watermark dropped —
    * the streaming analog of the reference's bounded retry window,
    * /root/reference/ocrworker/tasks.py:23-28). */
  def hostThroughput(pages: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame = {
    pages
      .withWatermark("warc_ts", watermark)
      .groupBy(
        window(col("warc_ts"), window_),
        graft.ops.Hosts.hostOf(col("url")).as("host"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("window.start").as("window_start"), col("host"), col("n_docs"))
  }

  /** Streaming exact dedup: keep one arrival per content hash, dropping
    * re-crawls/mirrors across micro-batches — the streaming form of the
    * batch exact dedup (q12's md5 groupBy). State is bounded by the
    * watermark: dropDuplicatesWithinWatermark evicts a hash once the
    * event-time watermark passes it, so the state store holds only the
    * in-window tail — plain dropDuplicates state grows with every
    * distinct document ever seen and would OOM a 10^12-row stream.
    * The trade is explicit: a re-crawl arriving later than
    * `watermarkDelay` after the original is re-emitted (downstream
    * batch dedup remains the safety net, same layering as resume). */
  def dedupStream(pages: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    pages.withColumn("content_hash", md5(col("html")))
      .withWatermark("warc_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** One LSH bucket's in-window members (bounded by watermark
    * eviction). Band keys ride with the member — a pure function of
    * sig, stored to keep the hot comparison loop allocation-free. */
  final case class BucketMember(url: String, tsMs: Long,
                                sig: Array[Long], keys: Array[Long])
  final case class BucketState(members: List[BucketMember])

  /** Streaming MinHash near-duplicate detection — the q20/q63 LSH
    * family as a stream, closing the last batch-vs-streaming asymmetry
    * (exact dedup and sessionization already stream). Each page maps to
    * its 64-hash MinHash signature and `Dedup.Bands` LSH bucket keys
    * (the SAME kernels as batch — signatures are bit-identical); state
    * per (band, bucket) holds the in-window member list, and a new page
    * emits a pair against every member whose signature agrees on
    * ≥ minAgree of the 64 positions (the standard signature-level
    * jaccard estimate, E[agreement/64] = jaccard — the full shingle
    * sets never enter state). Output: (url, warc_ts, dup_of, n_agree)
    * pairs, emitted EXACTLY ONCE per pair even when the two docs share
    * several buckets: both bucket-key sets are pure functions of the
    * signatures in hand, so only the group whose key is the MINIMUM
    * shared key emits — pair dedup without a second stateful operator
    * (a chained dropDuplicates would trip the global-watermark
    * correctness check).
    *
    * Bounds: members older than the watermark are evicted on every
    * bucket visit and by event-time timeout, so state holds the
    * in-window tail only — the same contract as [[dedupStream]], with
    * the watermark as the single knob (storage is UNCONDITIONAL within
    * the window: a size cap would make bucket membership
    * history-dependent and silently break the min-shared-bucket
    * exactly-once rule — a pair whose minimum shared bucket had
    * dropped the earlier doc could never be emitted by any bucket).
    * Same-url re-crawls never pair with themselves (the batch rule's
    * a_id < b_id analog). Within a trigger a bucket's pages process in
    * (ts, url) order, so "earlier" is deterministic.
    *
    * State budget: each in-window doc stores its 64-Long signature in
    * each of its 16 buckets (~8.5 KB/doc); this is the LOW-LATENCY
    * path — size the watermark to the latency you need, and run the
    * batch incremental probe (q63: the day's batch bands probe the
    * corpus index, shuffling only |batch|×bands rows) for bulk
    * backfill, the same layering as streaming vs batch exact dedup.
    * For crawler-trap streams (near-identical pages flooding one
    * bucket within the watermark), `maxPairAgeMs` bounds the
    * per-arrival O(members) comparison: a member is comparable only
    * within `maxPairAgeMs` of the incoming row's event time — an AGE
    * rule, because age is a pure function of the two timestamps and
    * therefore identical in every shared bucket, whereas any
    * occupancy-based cap makes visibility bucket-dependent and breaks
    * the min-shared-bucket exactly-once rule. STATE stays bounded by
    * the watermark alone — shrink the watermark to shrink state. */
  def nearDupStream(pages: DataFrame, shingleN: Int = 2, minAgree: Int = 52,
                    watermark: String = "10 minutes",
                    maxPairAgeMs: Long = Long.MaxValue): DataFrame = {
    import pages.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import graft.ops.Dedup
    val banded = pages
      .select(col("url"), col("warc_ts"), col("text"))
      .as[(String, java.sql.Timestamp, String)]
      .mapPartitions { it =>
        it.flatMap { case (url, ts, text) =>
          val sig = Dedup.minhashSignature(Dedup.shingleHashes(text, shingleN))
          Dedup.bandKeys(sig).map(bk => (bk, url, ts, sig))
        }
      }
      .toDF("bkey", "url", "warc_ts", "sig")
      // the typed map erases the event-time tag, so the watermark is
      // attached HERE, on the banded frame the stateful op consumes
      .withWatermark("warc_ts", watermark)
      .as[(Long, String, java.sql.Timestamp, Array[Long])]
    val pairs = banded
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (bkey: Long, rows: Iterator[(Long, String, java.sql.Timestamp, Array[Long])],
         state: GroupState[BucketState]) => {
          val wm = state.getCurrentWatermarkMs()
          def live(ms: List[BucketMember]) = ms.filter(_.tsMs >= wm)
          if (state.hasTimedOut) {
            val ms = live(state.getOption.map(_.members).getOrElse(Nil))
            if (ms.isEmpty) state.remove()
            else {
              state.update(BucketState(ms))
              state.setTimeoutTimestamp(math.max(ms.map(_.tsMs).min + 1, wm + 1))
            }
            Iterator.empty
          } else {
            var members = live(state.getOption.map(_.members).getOrElse(Nil))
            val out = List.newBuilder[(String, java.sql.Timestamp, String, Int)]
            rows.toArray.sortBy(r => (r._3.getTime, r._2)).foreach { case (_, url, ts, sig) =>
              val keys = Dedup.bandKeys(sig).toArray
              val keySet = keys.toSet // hoisted: one alloc per incoming row
              members.foreach { m =>
                // the age rule bounds per-arrival comparison work; it is
                // a pure function of the two timestamps, so every shared
                // bucket agrees and exactly-once emission survives
                if (m.url != url && ts.getTime - m.tsMs <= maxPairAgeMs) {
                  var agree = 0
                  var i = 0
                  while (i < sig.length) { if (sig(i) == m.sig(i)) agree += 1; i += 1 }
                  if (agree >= minAgree) {
                    // emit from the MINIMUM shared bucket only: storage
                    // is unconditional, so every shared bucket sees the
                    // pair and exactly one speaks
                    var minShared = Long.MaxValue
                    var j = 0
                    while (j < m.keys.length) {
                      val k = m.keys(j)
                      if (k < minShared && keySet.contains(k)) minShared = k
                      j += 1
                    }
                    if (minShared == bkey) out += ((url, ts, m.url, agree))
                  }
                }
              }
              members = BucketMember(url, ts.getTime, sig, keys) :: members
            }
            state.update(BucketState(members))
            state.setTimeoutTimestamp(math.max(
              members.map(_.tsMs).min + 1, wm + 1))
            out.result().iterator
          }
        })
    pairs.toDF("url", "warc_ts", "dup_of", "n_agree")
  }

  /** One in-flight session per user: [start, end] in epoch MICROS plus
    * its event count. Micros (not ms) because TimestampType carries
    * microsecond precision and the emitted session bounds must round-trip
    * bit-exactly against the batch min/max(ts). */
  final case class OpenSession(startUs: Long, endUs: Long, n: Int)

  /** Streaming gap-sessionization (the q16 batch rule as a stream):
    * flatMapGroupsWithState with an EVENT-TIME timeout — a session
    * CLOSES and is emitted exactly once, either because a same-user
    * event arrives > gap after it, or because the watermark passes
    * the last instant a mergeable event could exist (the timeout
    * path). The gap rule is EXACTLY q16's: truncated-to-second epoch
    * difference strictly greater than gap seconds — so streaming and
    * batch sessionization agree row-for-row, including on
    * microsecond-precision timestamps. State per user is ONE
    * OpenSession row — bounded regardless of stream length, unlike
    * collecting events per user. Within a trigger, a user's events are
    * sorted by event time, so multi-session batches close intermediate
    * sessions immediately. Timeout timestamps are clamped above the
    * current watermark (a session that was already expired when its
    * user's first post-gap batch arrives still closes on the NEXT
    * trigger rather than throwing). Contract: event-time-ordered
    * delivery per user within the watermark; data later than the
    * watermark is the caller's loss, same as every watermarked
    * operator here. */
  def sessionsStream(events: DataFrame, gapMinutes: Int = 30,
                     watermark: String = "1 hour"):
      org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, java.sql.Timestamp, Int)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapSec = gapMinutes * 60L
    // local defs only: the state closure must not capture this object
    // (Task not serializable otherwise)
    def secOf(us: Long): Long = Math.floorDiv(us, 1000000L)
    // full-precision epoch micros (getTime alone drops the
    // sub-millisecond fraction; nanos carries it)
    def microsOf(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    def tsOf(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def emit(user: Long, s: OpenSession) = (user, tsOf(s.startUs), tsOf(s.endUs), s.n)
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[OpenSession]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(emit(user, s))
          } else {
            val times = rows.map(r => microsOf(r._2)).toArray.sorted
            var closed = List.empty[(Long, java.sql.Timestamp, java.sql.Timestamp, Int)]
            var cur = state.getOption.orNull
            var i = 0
            while (i < times.length) {
              val t = times(i)
              if (cur == null) cur = OpenSession(t, t, 1)
              else if (secOf(t) - secOf(cur.endUs) > gapSec) {
                closed = emit(user, cur) :: closed
                cur = OpenSession(t, t, 1)
              } else cur = OpenSession(math.min(cur.startUs, t),
                math.max(cur.endUs, t), cur.n + 1)
              i += 1
            }
            state.update(cur)
            // latest mergeable instant: any t with sec(t) <= sec(end)+gap,
            // i.e. strictly below (sec(end)+gap+1) seconds. Timeout at that
            // boundary (ms) — and above the current watermark, or Spark throws.
            state.setTimeoutTimestamp(math.max(
              (secOf(cur.endUs) + gapSec + 1) * 1000L,
              state.getCurrentWatermarkMs() + 1))
            closed.reverseIterator
          }
        })
  }
}

/** Streaming entry point — the spark-submit shape of the reference's
  * arrival-driven worker loop:
  *   runMain graft.streaming.StreamCli <pagesDir> <outRoot> <checkpoint> [--available-now]
  * Watches pagesDir for newly-arrived page files, extracts each
  * micro-batch, and commits the same snapshots as the batch job.
  * `--available-now` drains what exists and exits (drivable from a
  * shell); without it the query runs until killed, resuming from the
  * checkpoint on restart.
  */
object StreamCli extends Cli.Main(Cli(
    "usage: StreamCli <pagesDir> <outRoot> <checkpoint> [--available-now]", 3 to 3,
    switches = Set("--available-now"))) {
  def job(a: Cli.Args): SparkSession => Unit = spark => {
    val writer = StreamingExtract.extractStream(spark, a(0), a(1), a(2))
    // extractStream bakes AvailableNow in (the batch-drain default);
    // continuous mode must OVERRIDE the trigger or the query would
    // drain what exists and self-terminate
    val q =
      if (a.switches("--available-now")) writer.trigger(Trigger.AvailableNow()).start()
      else writer.trigger(Trigger.ProcessingTime("10 seconds")).start()
    q.awaitTermination()
    val seq = graft.job.SnapshotStore.currentSequence(a(1))
    println(s"stream drained: current snapshot seq=$seq")
  }
}
