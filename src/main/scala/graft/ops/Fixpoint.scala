package graft.ops

import scala.annotation.tailrec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one round loop of the iterative graph operators ([[HostRank]],
  * [[Hits]], [[Dedup.connectedComponents]], [[Redirects]]) and its one
  * materialization policy.
  *
  *  - Round-invariant inputs go through [[stage]], an EAGER local
  *    checkpoint: Spark shares no lazy subplan between references, so
  *    unstaged, every round would re-run their lineage. A checkpoint
  *    keeps the planner's size estimate of that lineage; an input it
  *    overestimates badly (a join) is persisted and filled instead, so
  *    AQE plans the rounds from its real size (CC's edges).
  *  - Each round's output gets a LAZY local checkpoint. It cuts the
  *    round's plan, so analysis stays O(1)-deep, and no round pays an
  *    eager checkpoint's blocking job. With AQE on, the call runs the
  *    round's shuffle-map and broadcast jobs; its final stage runs in
  *    the first action that reads it (the convergence probe, the next
  *    round, or the caller's action).
  *
  * Convergence: when the step's output has a boolean `moved` column,
  * the loop probes the checkpointed output (`limit(1)`, no join) after
  * each round and stops after the first round in which no row moved;
  * `moved` is dropped from the state. A step without it runs exactly
  * `rounds` rounds; for one with it, `rounds` is the guard.
  *
  * Local checkpoints live in executor block managers, so a lost
  * executor loses the rounds it held. At cluster scale swap in reliable
  * `checkpoint` (`SparkContext.setCheckpointDir`) in both places here;
  * the contract is the same. */
object Fixpoint {

  /** Materializes a round-invariant input once, before the first round. */
  def stage(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Runs `step(state, round)` for round = 0, 1, … until `rounds` rounds
    * have run or, for a step that emits `moved`, a round moved nothing.
    * Returns the last round's state (`init` when `rounds` ≤ 0). */
  def apply(init: DataFrame, rounds: Int)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    @tailrec def loop(state: DataFrame, round: Int): DataFrame =
      if (round >= rounds) state
      else {
        val next = step(state, round).localCheckpoint(eager = false)
        if (!next.columns.contains("moved")) loop(next, round + 1)
        else if (next.filter(col("moved")).limit(1).isEmpty) next.drop("moved")
        else loop(next.drop("moved"), round + 1)
      }
    loop(init, 0)
  }
}
