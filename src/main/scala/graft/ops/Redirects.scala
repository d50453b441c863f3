package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Redirect-chain resolution — the crawl front-end's 3xx handling,
  * sibling to [[graft.sources.Robots]] (q93) and
  * [[graft.sources.Sitemaps]] (q94): a fetched url that redirects must
  * be resolved to its FINAL target before dedup / canonicalization /
  * link analysis, and real crawls cap the walk (curl's --max-redirs,
  * Common Crawl records the chain) so a redirect LOOP can't hang a
  * fetcher.
  *
  * 100 TB shape: resolution is POINTER JUMPING over the redirect edge
  * table — O(log maxChain) self-join rounds, each a plain equi-join,
  * run by [[Fixpoint]]. A sequential per-url walk would be O(maxChain)
  * driver round-trips; a recursive explode would shuffle the corpus per
  * hop. After round r every pointer has advanced up to 2^r hops, so
  * `maxIters` = 6 resolves any chain the fetch policy would have
  * followed (2^6 = 64 hops >> any sane --max-redirs) and doubles as the
  * LOOP GUARD: a node still pointing at a redirect source after the last
  * round is flagged unresolved instead of looping forever. */
object Redirects {

  /** Resolve every redirect source in `edges` (srcCol -> dstCol, at
    * most one outgoing edge per src — http semantics) to its final
    * non-redirecting target.
    *
    * Returns (node, final, hops, resolved): one row per DISTINCT src;
    * `final` is the chain's terminal (or the 2^maxIters-th hop when
    * unresolved), `hops` the number of redirect fetches followed,
    * `resolved` false only for nodes whose chain is still pointing at
    * a redirect source after maxIters doubling rounds (a loop, or a
    * chain longer than the fetch policy allows). Callers left-join and
    * coalesce to self for urls that never redirect. Column types ride
    * through verbatim (caller picks string/long keys). */
  def resolve(edges: DataFrame, srcCol: String = "src",
              dstCol: String = "dst", maxIters: Int = 6): DataFrame = {
    val e = Fixpoint.stage(
      edges.select(col(srcCol).as("node"), col(dstCol).as("next")).distinct())
    val ptr = Fixpoint(e.withColumn("hops", lit(1L)), maxIters) { (p, _) =>
      p.as("a")
        .join(p.as("b"), col("a.next") === col("b.node"), "left")
        .select(col("a.node").as("node"),
          coalesce(col("b.next"), col("a.next")).as("next"),
          (col("a.hops") + coalesce(col("b.hops"), lit(0L))).as("hops"),
          // a pointer advanced this round iff its b-side matched (b.hops
          // ≥ 1 always, so hops is strictly monotone while a chain is
          // unfinished)
          col("b.node").isNotNull.as("moved"))
    }
    // a node whose final target is still a redirect SOURCE did not
    // terminate within the policy bound: loop (or over-long chain)
    val srcs = e.select(col("node").as("s_node")).distinct()
    ptr.join(srcs, ptr("next") === col("s_node"), "left")
      .select(col("node"), col("next").as("final"), col("hops"),
        col("s_node").isNull.as("resolved"))
  }
}
