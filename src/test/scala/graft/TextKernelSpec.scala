package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.TextStats

/** Randomized equivalence pins for the r6 map-side text kernels
  * (the WinnowingSpec discipline: seeded random docs against a
  * plain-Scala reference):
  *
  *  - [[TextStats.rlePairsExpr]] must equal groupBy(doc, term).count —
  *    it replaced that exchange inside q105/q107.
  *  - [[TextStats.topTfCandidatesExpr]] must (a) be a SUPERSET of the
  *    final (tf desc, df asc, term asc) top-5 under ANY df assignment
  *    — the q69 correctness argument — and (b) contain exactly the
  *    rows with rank() <= k under tf desc.
  */
class TextKernelSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  private val rng = new scala.util.Random(606)

  // zipf-ish random docs over a small alphabet so ties and repeats
  // are common (the interesting cases for RLE + threshold cuts)
  private def randDoc(): String = {
    val n = rng.nextInt(60) // includes 0 (empty doc: the guard case)
    (0 until n).map(_ => s"w${(math.sqrt(rng.nextInt(144)).toInt)}")
      .mkString(" ")
  }

  private def refCounts(text: String): Map[String, Long] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }

  test("rlePairsExpr == per-doc term counts on 200 seeded random docs") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, randDoc()))
    val got = docs.toDF("doc_id", "text")
      .select(col("doc_id"), TextStats.lowerToks(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(TextStats.rlePairsExpr)).as("p"))
      .select(col("doc_id"), col("p.term"), col("p.tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toMap).toMap
    docs.foreach { case (id, text) =>
      val want = refCounts(text)
      val have = got.getOrElse(id, Map.empty)
      assert(have == want, s"doc $id: $have != $want")
    }
  }

  test("topTfCandidatesExpr == the rank()<=k rows under tf desc (k=5)") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, randDoc()))
    val got = docs.toDF("doc_id", "text")
      .select(col("doc_id"), TextStats.lowerToks(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(TextStats.topTfCandidatesExpr(5))).as("p"))
      .select(col("doc_id"), col("p.term"), col("p.tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    docs.foreach { case (id, text) =>
      val counts = refCounts(text)
      // rank() <= 5 <=> fewer than 5 terms strictly greater on tf
      val want = counts.filter { case (_, tf) =>
        counts.values.count(_ > tf) < 5
      }.toSet
      val have = got.getOrElse(id, Set.empty[(String, Long)])
      assert(have == want, s"doc $id: $have != $want")
      // and therefore a superset of the final top-5 under any df order
      val finalTop5 = counts.toSeq
        .sortBy { case (t, tf) => (-tf, t.hashCode.toLong, t) }.take(5)
      assert(finalTop5.forall(p => have.contains(p)),
        s"doc $id: final top-5 $finalTop5 not all in candidates $have")
    }
  }

  test("native LowerToksWs == filter(split(lower, \\s+), nonEmpty) on adversarial + random docs") {
    import spark.implicits._
    // edge cases: every \s separator byte, runs, leading/trailing ws,
    // empty, ws-only, non-ASCII case mapping (sigma, sharp s, accents,
    // full-width, CJK), multi-byte UTF-8 adjacent to separators
    val edge = Seq(
      "", " ", " \t\n\f\r ", "a", " a ", "a b", "a  b", "\ta\nb\r",
      "HeLLo WoRLD", "ÉCOLE Straße ΣΙΣΥΦΟΣ İstanbul", "ﬁ ＡＢ ①",
      "日本語 テスト", "ab\fc", "Ａ　Ｂ" /* ideographic space U+3000 is NOT \s */,
      "café\tnaïve\ncoöp", "x" * 500, ("y " * 300).trim)
    val rnd = (1 to 400).map { _ =>
      val n = rng.nextInt(80)
      (0 until n).map { _ =>
        val r = rng.nextInt(8)
        if (r == 0) "\t" else if (r == 1) "\n" else if (r == 2) "  "
        else if (r == 3) "Straße" else if (r == 4) "ΣΟΣ"
        else s"W${rng.nextInt(30)}"
      }.mkString(rng.nextInt(3) match {
        case 0 => " "; case 1 => ""; case _ => "\r\n"
      })
    }
    val df = (edge ++ rnd).zipWithIndex.map(_.swap).toDF("id", "text")
    val got = df.select(col("id"),
        TextStats.lowerToks(col("text")).as("a"),
        TextStats.lowerToksExprForm(col("text")).as("b"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"row ${r.getInt(0)}: native ${r.getSeq[String](1)} != expr ${r.getSeq[String](2)}")
    }
  }
}
