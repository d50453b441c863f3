package graft.job

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checkpointed downstream consumption of the snapshot chain — the
  * consumer half of the reference's queue notify flow (the worker
  * posts a "document ready" event per document,
  * /root/reference/ocrworker/tasks.py; downstream services consume the
  * queue). Here the snapshot chain IS the queue: a consumer records
  * the last sequence it processed in its own checkpoint file and each
  * cycle processes exactly the delta window via
  * [[ExtractJob.readChanges]] — O(new rows) per cycle at any table
  * size.
  *
  * Delivery contract: AT-LEAST-ONCE. The checkpoint is advanced (via
  * atomic tmp+move, same discipline as the store's version-hint) only
  * AFTER `process` returns; a crash between processing and the
  * checkpoint write replays the window on restart. Consumers therefore
  * make processing idempotent — the same rule the extraction job
  * itself follows with file-granular resume. Exactly-once is the
  * composition: idempotent processing × at-least-once delivery.
  */
object ChangeConsumer {

  /** Last consumed sequence recorded at `ckptFile`; 0 if never run. A
    * corrupted checkpoint is an explicit error (silently treating it
    * as 0 would replay the whole table into the consumer). */
  def lastConsumed(ckptFile: String): Int = {
    val p = Paths.get(ckptFile)
    if (!Files.exists(p)) 0
    else {
      val raw = new String(Files.readAllBytes(p), UTF_8).trim
      try raw.toInt catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupted consumer checkpoint $ckptFile (content: '${raw.take(40)}') — " +
            "refusing to default to 0 (that would replay the whole table); " +
            "restore or delete it deliberately")
      }
    }
  }

  /** One consumption cycle: process rows added by snapshots
    * `(lastConsumed, currentSequence]`, then advance the checkpoint.
    * Returns the consumed window (from, to]; an empty window (nothing
    * new) returns (to, to) without calling `process`. `process`
    * receives the delta DataFrame plus the window bounds so consumers
    * can tag their own outputs with the provenance window. */
  def consumeOnce(spark: SparkSession, snapshotRoot: String, ckptFile: String)
                 (process: (DataFrame, Int, Int) => Unit): (Int, Int) = {
    val from = lastConsumed(ckptFile)
    val to = SnapshotStore.currentSequence(snapshotRoot)
    require(from <= to,
      s"checkpoint $ckptFile is ahead of the chain ($from > $to) — wrong root or rolled-back store")
    if (to > from) {
      process(ExtractJob.readChanges(spark, snapshotRoot, from, to), from, to)
      SnapshotStore.writeAtomic(Paths.get(ckptFile), to.toString.getBytes(UTF_8))
    }
    (from, to)
  }
}

/** spark-submit-shaped downstream consumer (one cycle per invocation —
  * schedule it like any poller):
  *   runMain graft.job.ConsumeCli <snapshotRoot> <consumerDir>
  * The demo consumer appends a per-host rollup of each delta window to
  * `<consumerDir>/host_counts` tagged with the provenance window, so a
  * replayed window (at-least-once) is identifiable and idempotently
  * collapsible downstream. */
object ConsumeCli extends Cli.Main(Cli("usage: ConsumeCli <snapshotRoot> <consumerDir>", 2 to 2)) {
  def job(a: Cli.Args): SparkSession => Unit = spark => {
    import org.apache.spark.sql.functions._
    val (from, to) = ChangeConsumer.consumeOnce(spark, a(0), s"${a(1)}/last_seq") {
      (delta, f, t) =>
        delta.filter(col("error").isNull)
          .groupBy(graft.ops.Hosts.hostOf(col("url")).as("host"))
          .agg(count(lit(1)).as("n_docs"), sum(length(col("extracted_text"))).as("n_chars"))
          .withColumn("window_from", lit(f)).withColumn("window_to", lit(t))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"${a(1)}/host_counts")
    }
    println(if (to > from) s"consumed window ($from, $to]"
            else s"nothing new (at seq=$to)")
  }
}
