package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Host-graph PageRank in fixed-point integer arithmetic.
  *
  * Why fixed-point: float PageRank sums per-edge contributions, and
  * float addition is not associative — the same job at different
  * parallelism (or with AQE re-planning) would produce last-ulp-different
  * ranks, breaking the engine-portable/deterministic contract every
  * other operator here keeps (same trick as the IVF quantizer's Long
  * centroid sums). All state is BIGINT micros:
  *
  *   rank⁰(v)   = 1_000_000                      (1.0)
  *   rankᵗ⁺¹(v) = 150_000 + Σ_{(u,v)∈E} (rankᵗ(u) * 85) div (100 * deg⁺(u))
  *
  * i.e. damping 0.85 with per-edge integer division (floor — all values
  * are non-negative, so Spark's `div`, DuckDB's `//`, and mathematical
  * floor agree). Dangling mass (nodes with no out-links) is discarded,
  * not redistributed — ranks are unnormalized importance scores, the
  * standard simplification for link-spam scoring where only the ORDER
  * matters. Deterministic given the edge set: bit-identical at any
  * parallelism, any engine.
  *
  * Scale shape: the distinct edges, their node set and the per-edge
  * (src, outdeg) side are staged once; each round, run by [[Fixpoint]],
  * is one equi-join of that side with the round's ranks on src (a fresh
  * exchange or broadcast each round, as AQE plans it) + one groupBy(dst)
  * partial+final aggregate + the left join back onto the nodes.
  * Overflow headroom: Σ ranks ≤
  * N·10⁶ + iters·0.85·N·10⁶; a per-node rank beyond 2⁵⁰ would need a
  * ~10⁹-host graph funneling into one node — and the multiply by 85
  * still fits a Long with 2⁶³ ceiling.
  */
object HostRank {

  val Iters = 10
  val InitMicros = 1000000L
  val BaseMicros = 150000L
  val DampNum = 85L
  val DampDen = 100L

  /** The DISTINCT (src, dst) edge set of `edgesIn` and its node set
    * (host), each staged once; [[Hits]] iterates over the same pair. */
  private[ops] def graph(edgesIn: DataFrame): (DataFrame, DataFrame) = {
    val edges = Fixpoint.stage(edgesIn.select(col("src"), col("dst")).distinct())
    val nodes = Fixpoint.stage(edges.select(col("src").as("host"))
      .union(edges.select(col("dst").as("host"))).distinct())
    (edges, nodes)
  }

  /** Ranks after [[Iters]] rounds over the DISTINCT (src, dst) edge set.
    * Input columns: src, dst (any string key). Output: (host, rank_micros). */
  def ranks(edgesIn: DataFrame): DataFrame = {
    val (edges, nodes) = graph(edgesIn)
    // the contribution per edge is a pure function of (src rank,
    // outdeg): the edges⋈outdeg side is staged once, not re-joined and
    // re-aggregated in each of the rounds
    val srcSide = Fixpoint.stage(
      edges.join(edges.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"))
    Fixpoint(nodes.withColumn("rank_micros", lit(InitMicros)), Iters) { (rank, _) =>
      val contrib = srcSide
        .join(rank.withColumnRenamed("host", "src"), "src")
        .select(col("dst").as("host"),
          expr(s"(rank_micros * $DampNum) div ($DampDen * outdeg)").as("c"))
      nodes
        .join(contrib.groupBy("host").agg(sum("c").as("in_c")), Seq("host"), "left")
        .select(col("host"),
          (lit(BaseMicros) + coalesce(col("in_c"), lit(0L))).as("rank_micros"))
    }
  }

  /** The identical computation as DuckDB SQL, iterations unrolled from
    * the same constants (recursive CTEs can't aggregate over the
    * recursive relation, and [[Iters]] is a fixed constant anyway).
    * `edgesRel` must be a relation/CTE name with columns (src, dst),
    * already distinct. */
  def oracleSql(edgesRel: String): String = {
    val sb = new StringBuilder
    sb.append(s"outdeg AS (SELECT src, count(*) AS outdeg FROM $edgesRel GROUP BY src),\n")
    sb.append(s"nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM $edgesRel UNION ALL SELECT dst FROM $edgesRel)),\n")
    sb.append(s"r0 AS (SELECT host, CAST($InitMicros AS BIGINT) AS rank_micros FROM nodes)")
    for (t <- 1 to Iters) {
      sb.append(",\n")
      sb.append(
        s"""r$t AS (
           |  SELECT n.host, CAST($BaseMicros + COALESCE(sum((r.rank_micros * $DampNum) // ($DampDen * o.outdeg)), 0) AS BIGINT) AS rank_micros
           |  FROM nodes n
           |  LEFT JOIN $edgesRel e ON e.dst = n.host
           |  LEFT JOIN outdeg o ON o.src = e.src
           |  LEFT JOIN r${t - 1} r ON r.host = e.src
           |  GROUP BY n.host)""".stripMargin)
    }
    sb.append(s"\nSELECT host, rank_micros FROM r$Iters")
    sb.toString
  }

  /** Driver-side reference implementation (exact Long arithmetic) for
    * the differential spec — NOT for production use. */
  def referenceRanks(edges: Seq[(String, String)]): Map[String, Long] = {
    val e = edges.distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var rank = nodes.map(_ -> InitMicros).toMap
    for (_ <- 1 to Iters) {
      val in = new scala.collection.mutable.HashMap[String, Long]
      for ((u, v) <- e)
        in(v) = in.getOrElse(v, 0L) + (rank(u) * DampNum) / (DampDen * outdeg(u))
      rank = nodes.map(n => n -> (BaseMicros + in.getOrElse(n, 0L))).toMap
    }
    rank
  }
}
