package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Bpe

/** BPE merge training: the Spark long-form window pipeline must agree
  * with an independent driver-side implementation of the same
  * chain-skip algorithm (plain Scala lists, no Spark); textbook merges
  * must come out on a corpus with an unambiguous pair ranking; the
  * left==right chain rule must take only the first position of a run;
  * training must early-stop when words are fully merged.
  */
class BpeSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  private def frame(texts: Seq[String]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("text", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        texts.map(org.apache.spark.sql.Row(_)), 2), schema)
  }

  /** Driver-side reference: same algorithm, sequential code path. */
  private def reference(texts: Seq[String], rounds: Int,
                        cap: Int): Seq[(Int, String, String, Long)] = {
    val words = texts.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .filter(_.forall(c => c >= 'a' && c <= 'z'))
    val freq = words.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, f) => (-f, w) }.take(cap)
    var lf: Seq[(Vector[String], Long)] =
      freq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((ts, f) <- lf; i <- 0 until ts.size - 1) {
        // chain-skip: skip i when pair(i-1) == pair(i)
        val skip = i > 0 && ts(i - 1) == ts(i) && ts(i) == ts(i + 1)
        if (!skip) {
          val k = (ts(i), ts(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rr), cnt) = counts.toSeq
          .sortBy { case ((l, rr), c) => (-c, l, rr) }.head
        out += ((r, l, rr, cnt))
        lf = lf.map { case (ts, f) =>
          val pm = ts.indices.map(i => i < ts.size - 1 && ts(i) == l && ts(i + 1) == rr)
          val mark = ts.indices.map(i => pm(i) && (i == 0 || !pm(i - 1)))
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < ts.size) {
            if (mark(i)) { b += (l + rr); i += 2 } else { b += ts(i); i += 1 }
          }
          (b.result(), f)
        }
      }
      r += 1
    }
    out.toList
  }

  private def run(texts: Seq[String], rounds: Int, cap: Int = 4000) =
    Bpe.trainMergesFromCounts(Bpe.rawWordCounts(frame(texts), "text"), rounds, cap).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)

  test("matches the driver-side reference on a mixed corpus") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the lower newest wider low lower lowest",
      "streaming streams stream streamed the the the",
      "data 123 mixed-case Words data data banana bananas")
    val got = run(texts, rounds = 8)
    val want = reference(texts, rounds = 8, cap = 4000)
    assert(got == want)
  }

  test("textbook merge order on an unambiguous corpus") {
    // 'ab' appears in every word of the dominant group: first merge must
    // be (a,b); second fold grows the dominant subword
    val texts = Seq(Seq.fill(10)("abde").mkString(" "),
      Seq.fill(6)("abcf").mkString(" "), "zz")
    val got = run(texts, rounds = 2)
    assert(got.head._2 == "a" && got.head._3 == "b" && got.head._4 == 16L,
      s"first merge must be (a,b) x16, got $got")
    assert(got(1) == reference(texts, 2, 4000)(1))
  }

  test("left==right chains take only the first position of a run") {
    // 'aaaa' x5: pairs (a,a) at 0,1,2 — chain-skip counts only i=0
    val texts = Seq(Seq.fill(5)("aaaa").mkString(" "))
    val got = run(texts, rounds = 2)
    assert(got.head == (1, "a", "a", 5L), s"chain must count once/word: $got")
    // after merging: [aa, a, a] — round 2 ties (aa,a) and (a,a) at 5;
    // the (cnt DESC, l, r) tie-break picks (a,a)
    assert(got(1) == (2, "a", "a", 5L), s"round-2 fold wrong: $got")
    assert(got == reference(texts, 2, 4000))
  }

  test("early-stops when every word is fully merged") {
    val texts = Seq("ab ab ab cd cd")
    val got = run(texts, rounds = 8)
    // round 1 merges (a,b), round 2 (c,d); nothing remains afterwards
    assert(got.size == 2 && got.map(_._1) == Seq(1, 2))
    assert(got == reference(texts, 8, 4000))
  }

  test("vocab cap keeps the deterministic head only") {
    val texts = Seq("aa aa aa bb bb cc")
    // cap=2 keeps {aa x3, bb x2}; 'cc' must not contribute counts
    val got = run(texts, rounds = 1, cap = 2)
    assert(got == Seq((1, "a", "a", 3L)), s"got $got")
    assert(got == reference(texts, 1, 2))
  }

  /** Driver-side reference ENCODE: train via [[reference]], apply each
    * merge (same first-of-chain rule) to every in-scope corpus word,
    * assert the tokenization rounds-trip, aggregate the top-K table. */
  private def referenceEncode(texts: Seq[String], rounds: Int, cap: Int,
                              topK: Int): Seq[(String, Long, Long)] = {
    val merges = reference(texts, rounds, cap).map(m => (m._2, m._3))
    val words = texts.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .filter(_.forall(c => c >= 'a' && c <= 'z'))
    val freq = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    var lf: Map[String, Vector[String]] =
      freq.keySet.map(w => w -> w.map(_.toString).toVector).toMap
    for ((l, r) <- merges) {
      lf = lf.map { case (wd, ts) =>
        val pm = ts.indices.map(i =>
          i < ts.size - 1 && ts(i) == l && ts(i + 1) == r)
        val mark = ts.indices.map(i => pm(i) && (i == 0 || !pm(i - 1)))
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < ts.size) {
          if (mark(i)) { b += (l + r); i += 2 } else { b += ts(i); i += 1 }
        }
        wd -> b.result()
      }
    }
    for ((wd, ts) <- lf)
      assert(ts.mkString == wd, s"encode must round-trip: $wd -> $ts")
    val occ = scala.collection.mutable.Map.empty[String, Long]
    val inWords = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Set[String]]
    for ((wd, ts) <- lf; t <- ts) {
      occ(t) = occ.getOrElse(t, 0L) + freq(wd)
      inWords.getOrElseUpdate(
        t, scala.collection.mutable.Set.empty[String]) += wd
    }
    occ.toSeq.map { case (t, o) => (t, o, inWords(t).size.toLong) }
      .sortBy { case (t, o, _) => (-o, t) }.take(topK)
  }

  private def runEncode(texts: Seq[String], rounds: Int, cap: Int,
                        topK: Int): Seq[(String, Long, Long)] =
    Bpe.encodeTokenStatsFromCounts(Bpe.rawWordCounts(frame(texts), "text"), rounds, cap, topK).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy { case (t, o, _) => (-o, t) }

  test("encode matches the driver-side reference on a mixed corpus") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the lower newest wider low lower lowest",
      "streaming streams stream streamed the the the",
      "data 123 mixed-case Words data data banana bananas")
    assert(runEncode(texts, 8, 4000, 32) ===
      referenceEncode(texts, 8, 4000, 32))
  }

  test("encode covers words outside the training head vocabulary") {
    // cap=1 trains on {abab} only; 'zq' is outside the head vocab but
    // must still be encoded (as raw chars — no merge touches z or q)
    val texts = Seq("abab abab abab zq")
    val got = runEncode(texts, rounds = 2, cap = 1, topK = 32)
    assert(got.contains(("z", 1L, 1L)) && got.contains(("q", 1L, 1L)),
      s"out-of-vocab word must surface as chars: $got")
    assert(got === referenceEncode(texts, 2, 1, 32))
  }
}
