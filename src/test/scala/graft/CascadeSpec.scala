package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html.MainContentExtractor
import graft.core.Extract
import graft.gen.PageGen
import graft.ops.Segmenter
import graft.core.Span
import java.nio.charset.StandardCharsets.UTF_8

/** Engine cascade (confidence fallback), multi-document segmentation,
  * signature-card similarity. */
class CascadeSpec extends AnyFunSuite {

  test("high-confidence page early-exits on the strict engine") {
    val para = ("word " * 60).trim
    val html = s"<html><body><p>$para</p><p>$para</p></body></html>"
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.confidence >= MainContentExtractor.ConfidenceThreshold)
    assert(r.engine == "density" && !r.fallbackUsed)
  }

  test("content invisible to the strict engine is rescued by the relaxed fallback") {
    // one lone short paragraph: strict rejects it (words <= 16, no
    // neighbors), text would be empty; relaxed rescues it
    val html = "<html><body><p>short lone note with seven words</p></body></html>"
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.fallbackUsed, "fallback must fire")
    assert(r.engine == "density_relaxed")
    assert(r.text == "short lone note with seven words")
    assert(r.nContentBlocks == 1)
  }

  test("relaxed fallback is a superset: never drops strict-accepted text") {
    // a 3-word block strict accepts only via the neighbor rule; the
    // fallback must not lose it even though 3 <= 5 words
    val para = ("word " * 60).trim
    val html = s"<html><body><p>tiny head note</p><p>$para</p><p>second note x</p></body></html>"
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.text.contains("tiny head note"))
    assert(r.text.contains(para))
  }

  test("fallback never degrades: strict result kept when relaxed is not better") {
    // a page with one strong paragraph + heavy link lists: relaxed
    // adds nothing (links over 0.5 density are still rejected)
    val para = ("word " * 60).trim
    val links = (1 to 12).map(i => s"""<li><a href="/$i">x y</a></li>""").mkString
    val html = s"<html><body><ul>$links</ul><p>$para</p></body></html>"
    val strictOnly = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(strictOnly.text.contains("word"))
    assert(!strictOnly.text.contains("x y"))
  }

  test("engine selector: route equals q49's routeEngineCol on every arm") {
    import graft.core.EngineSelector.{route, routeEngineCol}
    import org.apache.spark.sql.functions.col
    val spark = graft.job.GraftSession.local("4")
    import spark.implicits._
    val langs = Seq("ara", "chi_sim", "chi_tra", "hin", "jpn", "kor", "tha", "vie", "eng", null)
    val rows = for {
      kind <- Seq("pdf", "unknown", "html"); size <- Seq(799, 800); lang <- langs
    } yield (kind, size, lang)
    val viaSpark = rows.toDF("kind", "size", "lang")
      .select(col("kind"), col("size"), col("lang"),
        routeEngineCol(col("kind"), col("size"), col("lang")))
      .as[(String, Int, String, String)].collect()
    assert(viaSpark.length == rows.length)
    viaSpark.foreach { case (kind, size, lang, engine) =>
      assert(route(kind, size, lang) == engine, s"($kind, $size, $lang)")
    }
    // one row per arm, plus the default (selector.py:162-180)
    assert(route("pdf", 799, "chi_sim") == "pdf_layout")
    assert(route("unknown", 800, "eng") == "none")
    assert(route("html", 799, "eng") == "density_relaxed")
    assert(route("html", 800, "chi_sim") == "density_relaxed")
    assert(route("html", 800, "eng") == "density")
    assert(route("html", 800, null) == "density")
  }

  test("routed cascade: relaxed-first accepts what strict-first deferred to fallback") {
    // the lone-short-paragraph page: strict-first needs the fallback;
    // relaxed-first accepts directly (no fallback fired)
    val html = "<html><body><p>short lone note with seven words</p></body></html>"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val strictFirst = MainContentExtractor.extractBytes(html)
    assert(strictFirst.engine == "density_relaxed" && strictFirst.fallbackUsed)
    val relaxedFirst = MainContentExtractor.extractBytes(html, relaxedFirst = true)
    assert(relaxedFirst.text == "short lone note with seven words")
    // same accepted text, but as the SELECTED engine, not a fallback
    assert(relaxedFirst.engine == "density_relaxed" && !relaxedFirst.fallbackUsed)
  }

  test("relaxed-first winner after the strict fallback is pure relaxed") {
    // relaxed alone accepts block 1 only (score 10/40); strict accepts
    // block 2 only via the prev-words rule (3/40) and loses, so the
    // output is relaxed's — not strict ∪ relaxed at their mixed mean
    val words = (1 to 10).map(i => s"w$i").mkString(" ")
    val html = s"<html><body><p>$words</p><p>one two three</p></body></html>".getBytes(UTF_8)
    val r = MainContentExtractor.extractBytes(html, relaxedFirst = true)
    assert(r.engine == "density_relaxed" && !r.fallbackUsed)
    assert(r.text == words)
    assert(r.confidence == 0.25)
    // strict-first keeps the superset fallback: both blocks
    assert(MainContentExtractor.extractBytes(html).text == s"$words\none two three")
  }

  test("routed extraction end-to-end: complex-lang page starts relaxed, default path unchanged") {
    import graft.core.{Extract, Page}
    // > PoorQualityBytes so the size hint doesn't mask the lang branch
    val para = ("word " * 60).trim
    val html = s"<html><body><p>$para</p><p>$para</p><p>$para</p><p>$para</p></body></html>"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(html.length >= graft.core.EngineSelector.PoorQualityBytes)
    val zh = Page("https://a/1", new java.sql.Timestamp(0), html, "", "chi_sim")
    val en = Page("https://a/2", new java.sql.Timestamp(0), html, "", "eng")
    val rZh = Extract(zh, routed = true)
    val rEn = Extract(en, routed = true)
    // high-confidence page: each starting engine early-exits as itself
    assert(rZh.engine == "density_relaxed" && !rZh.fallback_used)
    assert(rEn.engine == "density" && !rEn.fallback_used)
    // eng routing == the unrouted default, byte for byte
    assert(rEn.extracted_text == Extract(en).extracted_text)
  }

  test("extraction carries engine/fallback columns end-to-end") {
    val g = (0L until 50L).map(PageGen.genRow(PageGen.DefaultSeed, _))
      .filter(_.kind == "html").head
    val d = Extract(g.page)
    assert(d.engine == "density" || d.engine == "density_relaxed")
    assert(d.error == null)
  }

  // ---- segmentation ----------------------------------------------------

  private def mkSpans(parts: Seq[(Int, Int, String, Double)]): Array[Span] =
    parts.map { case (s, e, k, sc) => Span(s, e, k, sc) }.toArray

  test("segmenter splits at headings, ordered, titles attached") {
    // text: H1 + body, H2 + body — equal halves
    val text = "Alpha\n" + ("a" * 100) + "\nBeta\n" + ("b" * 100)
    val h1 = (0, 5, "heading", 0.1)
    val b1 = (6, 106, "block", 0.9)
    val h2 = (107, 111, "heading", 0.1)
    val b2 = (112, 212, "block", 0.9)
    val segs = Segmenter.segment(text, mkSpans(Seq(h1, b1, h2, b2)))
    assert(segs.length == 2)
    assert(segs(0).doc_index == 0 && segs(0).title == "Alpha")
    assert(segs(1).doc_index == 1 && segs(1).title == "Beta")
    assert(segs(0).start == 0 && segs(1).start == 107)
  }

  test("segmenter rejects under-min-area and low-confidence segments") {
    val text = "Head\n" + ("x" * 1000) + "\nTiny\nyz"
    val spans = mkSpans(Seq(
      (0, 4, "heading", 0.1), (5, 1005, "block", 0.9),
      (1006, 1010, "heading", 0.1), (1011, 1013, "block", 0.9)))
    val segs = Segmenter.segment(text, spans)
    assert(segs.length == 1 && segs(0).title == "Head") // 2-char seg < 5%
    val lowConf = mkSpans(Seq(
      (0, 4, "heading", 0.1), (5, 1005, "block", 0.2)))
    assert(Segmenter.segment(text, lowConf).isEmpty) // conf 0.2 < 0.6
  }

  test("segmenter emits one whole-doc segment when no headings") {
    val text = "just a body " * 20
    val segs = Segmenter.segment(text.trim,
      mkSpans(Seq((0, text.trim.length, "block", 0.95))))
    assert(segs.length == 1)
    assert(segs(0).start == 0 && segs(0).end == text.trim.length)
    assert(segs(0).title == null)
  }

  // ---- signature compare -------------------------------------------------

  test("signature similarity: identical cards match, different do not") {
    import graft.forms.SignatureCompare._
    val a = "name:Full Name:John Smith|signature:Signature:______"
    val b = "name:Full Name:John Smith|signature:Signature:______"
    val c = "name:Full Name:John Smith|email:Email:a@b.com|amount:Total Amount:$12.99"
    assert(similarity(a, b) == 1.0)
    assert(similarity(a, c) < MatchThreshold)
    assert(similarity(a, c) > 0.0)
  }
}
