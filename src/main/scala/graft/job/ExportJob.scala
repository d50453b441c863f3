package graft.job

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Train-export job — the last rung of the pipeline, the handoff
  * artifact a training loader consumes (the job form of q107, like
  * CurateJob is the job form of the curation queries): read a committed
  * extraction (or curation) snapshot store, train the in-repo BPE
  * tokenizer on its corpus, count each document's tokens under the
  * trained merges, split train/val/test by the md5 convention, pack
  * documents into fixed-token-budget sequences per (split, shard) with
  * the deterministic next-fit rule, and publish
  *
  *   <exportDir>/packed/      one parquet row per doc:
  *                            (grp, seq_id, doc_id, url, n_tokens)
  *   <exportDir>/manifest.json  per-split totals + budget + versions
  *   <exportDir>/_EXPORT_DONE   completion marker (crash-safe: a
  *                            half-written export is re-published)
  *
  * Document ids are xxhash64(url) — deterministic, engine-portable,
  * and the pack order within a shard is therefore a pseudo-random
  * permutation of the corpus (the shuffle a training pipeline wants
  * anyway); the url rides beside the id so the loader can fetch text.
  *
  * Scale shape: token counting is the q105/q107 shape (one
  * (doc, word) exchange joined against the model-sized word→length
  * table); packing is the sharded streaming pass (O(1) task state,
  * bit-identical at any parallelism). Nothing here shuffles document
  * TEXT — only ids, words and counts.
  */
object ExportJob {

  final case class ExportStats(docs: Long, seqs: Long, tokens: Long)

  /** Hex chars of the shard id: 1 char = 16 shards per split. */
  private val ShardChars = 1

  def run(spark: SparkSession, extractRoot: String, exportDir: String,
          budget: Long = 2048L): Map[String, ExportStats] = {
    require(budget > 0, "budget must be positive")
    val docs0 = ExtractJob.readExtracted(spark, extractRoot)
      .filter(col("error").isNull && col("payload_kind") === "html" &&
        length(col("extracted_text")) > 0)
      .select(col("url"), col("extracted_text").as("text"))
    // within-batch url uniqueness (the CurateJob rung): a url
    // re-crawled with changed content inside one ingestion batch would
    // otherwise export BOTH texts' tokens under one doc id
    // persisted: the BPE word count and the packed write both read the
    // docs, and unstaged each read re-runs the scan and the url
    // aggregate. The word count's checkpoint fills the cache; its plan
    // reads the docs once, so AQE cannot compute the unfilled cache twice
    val docs = graft.ops.Dedup.onePerUrl(docs0, "text").drop("h").persist()
    import java.nio.file.{Files, Paths}
    val doneMarker = Paths.get(exportDir, "_EXPORT_DONE")
    try {
      // tokenizer: train on this corpus (self-contained, like q85);
      // counts under the TRAINED merges, not the whitespace definition
      val wl = graft.ops.Bpe.encodeWordLengthsFromCounts(graft.ops.Bpe.rawWordCounts(docs, "text"))

      // the one oracle-checked token rule (Bpe.perDocTokenCounts — the
      // q107 chain), keyed by (url, doc_id); the url PASSES THROUGH the
      // pack kernel, so there is no re-attach join to fan out on an
      // xxhash64 collision and the per-doc chain evaluates once
      val perDoc = graft.ops.Bpe.perDocTokenCounts(
          docs.withColumn("doc_id", xxhash64(col("url"))),
          Seq("url", "doc_id"), "text", wl)
        .withColumn("grp", graft.ops.Packing.splitShardGrp(col("doc_id"), ShardChars))

      val packed = graft.ops.Packing
        .packCountsGrouped(perDoc, "grp", "doc_id", "n_bpe", budget)
        .select(col("grp"), col("seq_id"), col("doc_id"), col("url"), col("n_tokens"))

      Files.deleteIfExists(doneMarker) // re-publish over a crashed export
      packed.write.mode(SaveMode.Overwrite).parquet(s"$exportDir/packed")
    } finally docs.unpersist(blocking = false): Unit

    val out = spark.read.parquet(s"$exportDir/packed")
    val stats = out
      .withColumn("split", expr("split_part(grp, '-', 1)"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("grp"), col("seq_id")).as("seqs"),
        sum(col("n_tokens")).as("tokens"))
      .collect()
      .map(r => r.getString(0) ->
        ExportStats(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val splitsJson = stats.toSeq.sortBy(_._1).map { case (s, st) =>
      s""""$s":{"docs":${st.docs},"seqs":${st.seqs},"tokens":${st.tokens}}"""
    }.mkString(",")
    val json =
      s"""{"budget":$budget,"shard_chars":$ShardChars,""" +
        s""""extraction_version":"${graft.core.ExtractionVersion.current}",""" +
        s""""splits":{$splitsJson}}"""
    Files.writeString(Paths.get(exportDir, "manifest.json"), json + "\n")
    Files.writeString(doneMarker, "")
    stats
  }

  def isComplete(exportDir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(exportDir, "_EXPORT_DONE"))
}

/** spark-submit entry point:
  *   runMain graft.job.ExportCli <extractRoot> <exportDir> [budget]
  */
object ExportCli extends Cli.Main(Cli(
    "usage: ExportCli <extractRoot> <exportDir> [budget]", 2 to 3)) {
  def job(a: Cli.Args): SparkSession => Unit = {
    val budget = a.long(2, "budget", 2048L)
    spark => {
      val stats = ExportJob.run(spark, a(0), a(1), budget)
      println(s"exported splits=${stats.toSeq.sortBy(_._1)
        .map { case (s, st) => s"$s:${st.seqs}seqs/${st.tokens}tok" }.mkString(",")}")
    }
  }
}
