package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pre-training batches: place documents into
  * fixed-token-budget training sequences (no document ever spans two
  * sequences) with the classic next-fit rule — walk the docs in a
  * deterministic order, close the current sequence when the next doc
  * would overflow the budget.
  *
  * Scale design: packing is inherently sequential, so the corpus is
  * first sharded by an engine-portable hash prefix (md5 hex of the doc
  * id — the same portable-hash choice as [[Balance.splitAssign]]) and
  * packed independently per shard. One shard never spans a partition
  * (hash repartition on the shard column) and the scan inside a
  * partition is a sorted streaming pass, so the result is bit-identical
  * at ANY parallelism and the per-task state is O(1). At 10^12 docs the
  * only knob is `shardChars`: 1 hex char = 16 shards (test scale),
  * 4 chars = 65k shards — pick so one shard's doc-id stream fits a
  * task's time budget; memory never grows with shard size.
  *
  * The whitespace token count mirrors [[TextStats]]' q13 definition, so
  * a DuckDB oracle can re-derive the full assignment with a recursive
  * CTE (see GraftQueries q62).
  */
object Packing {

  /** Engine-portable shard key: first `chars` hex digits of md5(id). */
  def shardOf(id: Column, chars: Int = 1): Column =
    substring(md5(id.cast("string")), 1, chars)

  /** The q107/export pack-group convention: `<split>-<shard>` from the
    * md5 split assignment and the md5 shard prefix — one home so the
    * query and the job cannot drift. */
  def splitShardGrp(id: Column, shardChars: Int = 1): Column =
    concat(Balance.splitAssign(id), lit("-"), shardOf(id, shardChars))

  /** Whitespace token count (the q13 definition — mirrorable in SQL). */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= "")).cast("long")

  /** Next-fit packing: returns one row per doc —
    * (shard, seq_id, doc_id, n_tokens) where seq_id is the 0-based
    * sequence index within the shard, assigned in ascending doc_id
    * order. A doc larger than the budget occupies (at least) its own
    * sequence rather than being dropped or split: packing must be
    * total — length filtering is a quality-gate decision upstream. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    budget: Long, shardChars: Int = 1): DataFrame =
    packCountsGrouped(
      docs.select(
        shardOf(col(idCol), shardChars).as("shard"),
        col(idCol).cast("long").as("doc_id"),
        tokenCount(col(textCol)).as("n_tokens")),
      "shard", "doc_id", "n_tokens", budget)
      .withColumnRenamed("grp", "shard")

  /** Next-fit packing over PRE-COMPUTED token counts, independently
    * per group — the form the train-export rung uses, where counts
    * come from the TRAINED tokenizer (BPE lengths) instead of the
    * whitespace definition, and the group key composes split × shard.
    * Same contract as [[packSequences]]: ascending doc_id within
    * group, a group lands whole in one partition, one streaming pass,
    * O(1) task state, bit-identical at any parallelism.
    *
    * Columns of `counts` beyond the three named ones PASS THROUGH
    * unchanged (output: grp, seq_id, doc_id, n_tokens, extras…) and
    * join the within-partition sort key after doc_id — so a caller
    * carrying e.g. a url column keeps one row per input row with a
    * TOTAL deterministic order even when a 64-bit id collides, and
    * never needs a re-attach join against the (re-evaluated) input. */
  def packCountsGrouped(counts: DataFrame, groupCol: String, idCol: String,
                        nCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val passthrough = counts.columns
      .filterNot(c => c == groupCol || c == idCol || c == nCol).toSeq
    val base = counts.select(
      (Seq(col(groupCol).cast("string").as("grp"),
        col(idCol).cast("long").as("doc_id"),
        col(nCol).cast("long").as("n_tokens")) ++ passthrough.map(col)): _*)
      // a group lands whole in one partition; within the partition
      // groups are contiguous sorted runs, so one streaming pass packs
      // every group with O(1) state and no group materialization
      .repartition(col("grp"))
      .sortWithinPartitions(("grp" +: "doc_id" +: passthrough).map(col): _*)
    val outSchema = StructType(
      Seq(StructField("grp", StringType), StructField("seq_id", LongType),
        StructField("doc_id", LongType), StructField("n_tokens", LongType)) ++
        base.schema.fields.drop(3))
    base.mapPartitions { it =>
      // `first` (not a null sentinel) detects the group change so a
      // null group key still resets seq/fill on its first row
      var grp: String = null
      var first = true
      var fill = 0L
      var seq = 0L
      it.map { r =>
        val g = r.getString(0); val n = r.getLong(2)
        if (first || g != grp) { first = false; grp = g; seq = 0L; fill = n }
        else if (fill + n > budget) { seq += 1; fill = n }
        else fill += n
        Row.fromSeq(Seq(g, seq, r.get(1), n) ++ (3 until r.length).map(r.get))
      }
    }(Encoders.row(outSchema))
  }
}
