package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Winnowing

/** Planted-truth tests for winnowing (q109): the paper's detection
  * guarantee, the full-window rule, bucket-cap behavior, and pair
  * symmetry on identical documents. */
class WinnowingSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  private def fps(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    Winnowing.fingerprints(rows.toDF("doc_id", "text"), "doc_id", "text")
  }

  private def pairsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    Winnowing.pairs(fps(rows))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  // distinct filler so only the planted run is shared
  private def filler(tag: String, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  test("detection guarantee: a shared run of W+K-1 tokens always pairs") {
    // the SIGMOD 2003 theorem: any match of length >= w + k - 1
    // (= 11 tokens here) yields at least one shared fingerprint
    val run = (0 until Winnowing.W + Winnowing.K - 1)
      .map(i => s"shared$i").mkString(" ")
    val a = filler("alpha", 40) + " " + run + " " + filler("omega", 40)
    val b = filler("beta", 25) + " " + run + " " + filler("gamma", 55)
    val shared = fps(Seq(1L -> a, 2L -> b))
      .select("doc_id", "fp").distinct().collect()
      .groupBy(_.getLong(1)).values.count(_.map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(shared >= 1, "the guarantee run must produce a shared fingerprint")
  }

  test("full-window rule: a doc shorter than W+K-1 tokens has no fingerprints") {
    val short = (0 until Winnowing.W + Winnowing.K - 2)
      .map(i => s"t$i").mkString(" ")  // 10 tokens -> 7 k-grams < w
    assert(fps(Seq(1L -> short)).count() == 0)
    val exact = (0 until Winnowing.W + Winnowing.K - 1)
      .map(i => s"t$i").mkString(" ")  // 11 tokens -> exactly one window
    assert(fps(Seq(1L -> exact)).count() == 1,
      "exactly w k-grams = exactly one window = one fingerprint")
  }

  test("identical documents pair with symmetric counts; the cap drops boilerplate") {
    val text = filler("doc", 60)
    // three identical docs: all 3 pairs, identical n_shared
    val three = pairsOf(Seq(1L -> text, 2L -> text, 3L -> text))
    assert(three.map(p => (p._1, p._2)).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)), three.mkString(","))
    assert(three.map(_._3).distinct.size == 1, "identical docs share identically")
    // BucketCap + 6 identical docs: every fingerprint bucket oversized
    // -> dropped whole -> no pairs, and the audit counts the drops
    val many = (1L to (Winnowing.BucketCap + 6L)).map(_ -> text)
    val dropped = org.apache.spark.sql.Observation()
    assert(Winnowing.pairs(fps(many), dropped = dropped).collect().isEmpty,
      "boilerplate buckets must drop, not explode")
    assert(graft.ops.Dedup.droppedBuckets(dropped, fps(many), Seq("fp"), "doc_id", Winnowing.BucketCap) > 0,
      "the drop must be auditable, never silent")
  }

  test("seeded randomized equivalence vs a plain-Scala reference implementation") {
    // the Spark kernel is one nested higher-order expression -- pin it
    // against an independent JVM implementation of the paper on random
    // token sequences (small vocab forces repeats, ties and shared
    // runs; lowercase single-word tokens make lowerToks the identity)
    def tokHash(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString
      java.lang.Long.parseLong(hex.take(10), 16)
    }
    def reference(toks: Seq[String], k: Int, w: Int): Set[(Long, Long)] = {
      if (toks.size < k + w - 1) return Set.empty
      val th = toks.map(tokHash)
      val grams = (0 to toks.size - k).map { i =>
        (1 until k).foldLeft(th(i)) { (acc, j) =>
          (acc * 1048573L + th(i + j)) % (1L << 40)
        }
      }
      (0 to grams.size - w).map { s =>
        // window minimum, rightmost tie
        var best = -1
        var bi = s
        while (bi < s + w) {
          if (best < 0 || grams(bi) < grams(best) ||
            (grams(bi) == grams(best) && bi > best)) best = bi
          bi += 1
        }
        (grams(best), best.toLong)
      }.toSet
    }
    val rng = new scala.util.Random(109)
    val vocab = (0 until 12).map(i => s"w$i")
    val docs = (0 until 200).map { id =>
      val n = rng.nextInt(60)
      (id.toLong, (0 until n).map(_ => vocab(rng.nextInt(vocab.size))))
    }
    val got = fps(docs.map { case (id, ts) => (id, ts.mkString(" ")) })
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet).toMap
    docs.foreach { case (id, ts) =>
      val want = reference(ts, Winnowing.K, Winnowing.W)
      assert(got.getOrElse(id, Set.empty) == want,
        s"doc $id (${ts.size} toks): engine ${got.getOrElse(id, Set.empty).size} " +
          s"vs reference ${want.size} fingerprints")
    }
  }

  test("disjoint documents share nothing") {
    assert(pairsOf(Seq(1L -> filler("aa", 80), 2L -> filler("bb", 80))).isEmpty)
  }
}
