package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Host-graph HITS (Kleinberg hubs & authorities) in fixed-point integer
  * arithmetic — the link-analysis complement to [[HostRank]]'s PageRank:
  * PageRank scores global endorsement flow; HITS separates "pages that
  * point at good content" (hubs — link farms and directories light up
  * here) from "pages good content points at" (authorities), which is the
  * pair a crawl-curation pipeline actually wants when deciding whether a
  * host is a source of links or a destination worth boosting (reference
  * role: the queue-priority/host-reputation decisions around
  * `ocrworker/queue_consumer.py`, re-expressed over the crawl graph).
  *
  * Why fixed-point (same argument as [[HostRank]]): float HITS sums
  * per-edge contributions and float addition is not associative — ranks
  * would differ in the last ulp between parallelism levels. All state is
  * BIGINT micros:
  *
  *   h⁰(v)  = 1_000_000
  *   aᵗ(v)  = norm( Σ_{(u,v)∈E} hᵗ⁻¹(u) )
  *   hᵗ(v)  = norm( Σ_{(v,u)∈E} aᵗ(u) )
  *
  * where norm(x) = x div max(Σx div 1e6, 1) — the L1 normalization HITS
  * requires, done as DIVIDE-FIRST integer floor division. Divide-first is
  * the overflow guard: the naive (x * 1e6) div Σx multiplies a raw sum
  * that on iteration 1 is up to N·1e6 (N = host count — 10⁹ at crawl
  * scale → 10¹⁵, and ×1e6 would overflow a Long). Dividing by the
  * pre-floored scalar keeps every intermediate ≤ Σx ≤ maxOutdeg·Σprev ≈
  * 256·2e6 after the first normalization (out-degree is bounded by the
  * extractor's audited MaxOutLinks cap), so the whole recurrence fits
  * Longs with ~2⁴⁰ headroom at ANY graph size. Both Spark's `div` and
  * DuckDB's `//` floor non-negative operands identically, so the oracle
  * unrolls the same recurrence bit-exactly.
  *
  * Scale shape (that of [[HostRank.ranks]], over the same staged edge
  * and node sets): each half-step, run by [[Fixpoint]], is one
  * equi-join of the edges with the scores on the join key (a fresh
  * exchange or broadcast each round, as AQE plans it) + one
  * partial+final aggregate + one 1-row scalar broadcast for the
  * normalizer. Dangling directions contribute 0 via the left join,
  * exactly like the oracle's COALESCE.
  */
object Hits {

  val Iters = 8
  val Scale = 1000000L

  /** x div max(total div Scale, 1) over column v, total via a 1-row
    * broadcast (the scalar-broadcast pattern PlanSpec gates elsewhere). */
  private def l1norm(df: DataFrame): DataFrame = {
    // the pre-norm sums are staged once per half-step: the plan reads
    // `df` twice (under the normalizer's broadcast build and under the
    // crossJoin), and Spark does not eliminate the common subexpression
    // across a broadcast boundary, so unstaged the edge join + aggregate
    // would run twice. LAZY: the broadcast build is the action that
    // fills the checkpoint (its aggregate reads every partition), and
    // the crossJoin then scans the stored blocks.
    val m = df.localCheckpoint(false)
    val tot = m.agg(greatest(expr(s"sum(v) div $Scale"), lit(1L)).as("nrm"))
    m.crossJoin(broadcast(tot))
      .select(col("host"), expr("v div nrm").as("v"))
  }

  /** The pre-normalization propagation: one equi-join + one
    * partial+final aggregate. Exposed private[graft] so PlanSpec can
    * gate this LAZY shape (the full half-step materializes it through
    * l1norm's checkpoint, after which the plan is an opaque RDD scan). */
  private[graft] def propagate(edges: DataFrame, nodes: DataFrame,
      scores: DataFrame, from: String, to: String): DataFrame =
    nodes.join(
      edges.join(scores.withColumnRenamed("host", from), from)
        .groupBy(col(to).as("host")).agg(sum("v").as("s")),
      Seq("host"), "left")
      .select(col("host"), coalesce(col("s"), lit(0L)).as("v"))

  /** One HITS half-step: [[propagate]], then L1-normalize (the 1-row
    * normalizer broadcast over the once-materialized sums). */
  private[graft] def halfStep(edges: DataFrame, nodes: DataFrame,
      scores: DataFrame, from: String, to: String): DataFrame =
    l1norm(propagate(edges, nodes, scores, from, to))

  /** Hub/authority scores after [[Iters]] full rounds over the DISTINCT
    * (src, dst) edge set. Input columns: src, dst. Output:
    * (host, auth_micros, hub_micros). */
  def scores(edgesIn: DataFrame): DataFrame = {
    val (edges, nodes) = HostRank.graph(edgesIn)
    // half-steps alternate: even rounds take authorities from hubs, odd
    // rounds hubs from authorities. 2·Iters − 1 of them end on the last
    // authorities; the last hubs are one more half-step from those.
    val auth = Fixpoint(nodes.withColumn("v", lit(Scale)), 2 * Iters - 1) { (s, t) =>
      if (t % 2 == 0) halfStep(edges, nodes, s, "src", "dst")
      else halfStep(edges, nodes, s, "dst", "src")
    }
    val hub = halfStep(edges, nodes, auth, "dst", "src")
    nodes
      .join(auth.withColumnRenamed("v", "auth_micros"), "host")
      .join(hub.withColumnRenamed("v", "hub_micros"), "host")
      .select(col("host"), col("auth_micros"), col("hub_micros"))
  }

  /** The identical recurrence as DuckDB SQL, iterations unrolled from the
    * same constants. `edgesRel` must be a relation/CTE with columns
    * (src, dst), already distinct. Appends to an open WITH list.
    *
    * Structure note: each CTE references its predecessor exactly ONCE
    * (the L1 normalizer is a `sum(v) OVER ()` window, not a second
    * scalar CTE) — DuckDB inlines non-materialized CTEs, so a chain
    * whose levels fan out 2× would recompute exponentially (observed:
    * depth 4 already hangs). Single-reference chains stay linear, like
    * [[HostRank.oracleSql]]. */
  def oracleSql(edgesRel: String): String = {
    val sb = new StringBuilder
    sb.append(s"nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM $edgesRel UNION ALL SELECT dst FROM $edgesRel)),\n")
    sb.append(s"h0 AS (SELECT host, CAST($Scale AS BIGINT) AS v FROM nodes)")
    for (t <- 1 to Iters) {
      sb.append(",\n")
      sb.append(
        s"""a$t AS (
           |  SELECT host, CAST(v // greatest(sum(v) OVER () // $Scale, 1) AS BIGINT) AS v
           |  FROM (SELECT n.host, CAST(COALESCE(sum(h.v), 0) AS BIGINT) AS v
           |        FROM nodes n LEFT JOIN $edgesRel e ON e.dst = n.host
           |        LEFT JOIN h${t - 1} h ON h.host = e.src GROUP BY n.host)),
           |h$t AS (
           |  SELECT host, CAST(v // greatest(sum(v) OVER () // $Scale, 1) AS BIGINT) AS v
           |  FROM (SELECT n.host, CAST(COALESCE(sum(a.v), 0) AS BIGINT) AS v
           |        FROM nodes n LEFT JOIN $edgesRel e ON e.src = n.host
           |        LEFT JOIN a$t a ON a.host = e.dst GROUP BY n.host))""".stripMargin)
    }
    sb.append(s"\nSELECT a.host, a.v AS auth_micros, h.v AS hub_micros FROM a$Iters a JOIN h$Iters h ON h.host = a.host")
    sb.toString
  }

  /** Driver-side reference implementation (exact Long arithmetic) for the
    * differential spec — NOT for production use. */
  def referenceScores(edges: Seq[(String, String)]): Map[String, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    def norm(m: Map[String, Long]): Map[String, Long] = {
      val nrm = math.max(m.values.sum / Scale, 1L)
      m.map { case (k, v) => (k, v / nrm) }
    }
    var hub = nodes.map(_ -> Scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to Iters) {
      auth = norm(nodes.map(n => n -> e.collect { case (u, v) if v == n => hub(u) }.sum).toMap)
      hub = norm(nodes.map(n => n -> e.collect { case (u, v) if u == n => auth(v) }.sum).toMap)
    }
    nodes.map(n => n -> (auth(n), hub(n))).toMap
  }
}
