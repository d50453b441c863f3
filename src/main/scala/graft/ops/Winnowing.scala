package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 -- the MOSS algorithm): the guaranteed-detection
  * overlap miner that completes the dedup family. Where MinHash (q20)
  * estimates whole-document resemblance and span dedup (q73) blocks
  * on fixed-stride digests, winnowing SELECTS a sparse fingerprint
  * set with a hard promise: any shared token run of length >=
  * W + K - 1 produces at least one shared fingerprint -- the property
  * plagiarism/copy detection needs and sampling schemes cannot give.
  *
  * Algorithm, exactly the paper's: hash every K-token k-gram; slide a
  * window of W consecutive k-gram hashes; in each window select the
  * minimum hash, breaking ties by RIGHTMOST position; the distinct
  * selected (hash, position) pairs are the document's fingerprints.
  * Documents sharing >= minShared distinct fingerprint hashes are
  * reported with their shared count.
  *
  * Cross-engine exactness: each TOKEN hashes once to the first 10 hex
  * digits of its md5 (the q83 md5-slice convention, < 2^40, mirrored
  * in DuckDB as CAST('0x'||substr(md5(..),1,10) AS BIGINT)); a k-gram
  * hash folds its k token hashes with the integer polynomial
  * h -> (h * 1048573 + t) mod 2^40 -- pure Long arithmetic both
  * engines evaluate identically, and one md5 per token instead of
  * one per k-gram (hashing the joined k-gram STRING cost k times the
  * string work in the interpreted higher-order path: 47 s at sf0.1;
  * the polynomial form runs in a fifth of that). The rightmost-tie
  * window minimum is ONE integer minimum over cmb = hash * 2^20 +
  * (2^20 - 1 - pos) -- smaller cmb means smaller hash, then larger
  * position, so decoding the min cmb yields the paper's selection
  * with no struct ordering or secondary window. Positions are capped
  * below 2^20 (a million-token document is beyond any extraction cap
  * here; longer tails are excluded map-side, never silently
  * wrapped).
  *
  * 100 TB shape:
  *   - the text never shuffles: tokens explode map-side and only
  *     (doc_id, pos, 8-byte hash) rows enter the one per-doc exchange;
  *     both window specs (k-gram assembly via lead, window minimum)
  *     share its partitioning+ordering, so Spark plans a single sort.
  *   - fingerprint buckets go through the bucket cap and the pair
  *     body the MinHash LSH paths use (`Dedup.capBuckets`,
  *     `Dedup.bucketPairs`): a hash shared by more than `bucketCap`
  *     docs is a boilerplate/stopword fingerprint (the paper's "noise"
  *     case) -- the WHOLE bucket is dropped, deterministically, and the
  *     count is auditable; pair fan-out is bounded by bucketCap^2 per
  *     bucket, never corpus-quadratic.
  */
object Winnowing {

  /** Bump when hashing/selection semantics change -- keys the staged
    * fingerprint dump. */
  val Version = "wn2"

  /** Tokens per k-gram (the paper's k). */
  val K = 4
  /** Consecutive k-gram hashes per selection window (the paper's w).
    * Guarantee threshold: shared runs of W + K - 1 = 11 tokens. */
  val W = 8
  /** Report pairs sharing at least this many distinct fingerprints. */
  val MinShared = 2
  /** Drop fingerprint hashes held by more docs than this. */
  val BucketCap = 64

  private val PosBound = 1 << 20

  /** The whole per-doc selection as ONE total expression over a token
    * array attribute. Two hazards force this exact shape (both hit in
    * development, one as a crash and one as a quadratic):
    *
    *   - TOTALITY: the explode's inferred `size(sels) > 0` pre-filter
    *     can be reordered ahead of any row filter, so the expression
    *     must be safe on EVERY row -- the CASE guard keeps the
    *     sequence bounds non-negative (an unguarded
    *     `sequence(0, nt - k)` on a short doc runs DESCENDING and
    *     feeds slice a start of 0: a runtime error, not an empty
    *     array).
    *   - LET-BINDING: intermediate arrays are bound as lambda
    *     variables via `transform(array(x), t -> body)[0]`, because
    *     the optimizer inlines column ALIASES textually into lambda
    *     bodies when it pushes predicates -- inlining the tokenizer
    *     into the per-element k-gram lambda re-tokenized the document
    *     once PER GRAM (quadratic). A lambda-bound variable cannot be
    *     substituted through and evaluates once per row.
    */
  private def selsExpr(k: Int, w: Int): String = {
    val p = PosBound
    val m = 1L << 40
    val a = 1048573L
    // k-gram hash at 0-based position i: fold th[i..i+k-1] with the
    // polynomial; Long-safe (h < 2^40, h*a < 2^60)
    val fold = (1 until k).foldLeft("th[i]") { (acc, j) =>
      s"(($acc * ${a}L + th[i + $j]) % ${m}L)"
    }
    s"transform(array(transform(toks, x -> " +
      s"cast(conv(substring(md5(x), 1, 10), 16, 10) as bigint))), th -> " +
      s"CASE WHEN size(th) >= ${k + w - 1} AND size(th) <= $p THEN " +
      s"transform(array(transform(sequence(0, size(th) - $k), i -> " +
      s"$fold * ${p}L + ${p - 1}L - i)), c -> " +
      s"array_distinct(transform(sequence(0, size(c) - $w), s -> " +
      s"array_min(slice(c, s + 1, $w)))))[0] " +
      s"ELSE array() END)[0]"
  }

  /** Distinct selected fingerprints per doc: (doc_id, fp, sel_pos).
    * `fp` is the 40-bit k-gram hash; `sel_pos` the 0-based token
    * position of the selected k-gram.
    *
    * ENTIRELY map-side: k-gram hashing, the sliding-window minima and
    * the per-doc dedup all run as array higher-order functions over
    * the token array inside its scan split -- a first cut used
    * `lead()` windows, which forced a corpus-sized exchange of the
    * TOKEN rows just to reassemble adjacency the array already had
    * (the PlanSpec gate caught it). Only the selected ~2n/(w+1)
    * 8-byte fingerprints explode; nothing corpus-sized ever
    * shuffles. The full-window rule (docs below w+k-1 tokens have no
    * fingerprints) and the 2^20 position bound (million-token docs
    * excluded whole, never wrapped) live in [[selsExpr]]'s guard. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = K, w: Int = W): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextStats.lowerToks(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(expr(selsExpr(k, w))).as("cmb"))
      .select(col("doc_id"),
        expr(s"cmb div ${PosBound}L").as("fp"),
        (lit(PosBound - 1).cast("long") -
          pmod(col("cmb"), lit(PosBound.toLong))).as("sel_pos"))
  }

  /** The sidecar of the staged fingerprint dump: how many boilerplate
    * fingerprint buckets [[pairs]] will drop from it. */
  val Audit = Dedup.CapAudit("_fp_bucket_audit.json", "oversized_fp_buckets_dropped", "bucket_cap")

  /** Document pairs sharing >= minShared distinct fingerprint hashes:
    * (doc_a, doc_b, n_shared), doc_a < doc_b. Hashes held by more than
    * `cap` docs are dropped whole (boilerplate fingerprints); `dropped`
    * counts them once an action has run the pairs. The cap and the pair
    * fan-out are Dedup's: each kept fingerprint's docs collect into one
    * sorted array and the pairs generate map-side. */
  def pairs(fps: DataFrame, minShared: Int = MinShared, cap: Int = BucketCap,
            dropped: Observation = Observation()): DataFrame =
    Dedup.bucketPairs(Dedup.capBuckets(fps, Seq("fp"), "doc_id", cap, dropped), Seq("fp"), "doc_id")
      .filter(col("n_shared") >= minShared)
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"), col("n_shared"))
}
