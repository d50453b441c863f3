package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.nio.charset.StandardCharsets.UTF_8
import graft.core.{Extract, Page}
import graft.html.MainContentExtractor
import graft.nlp.EntityMatcher
import graft.ops.Dedup

/** Property-based gates (SURVEY.md §5.2(3)): totality on arbitrary
  * bytes, determinism, span well-formedness, matcher invariants.
  * (Raw scalacheck generators with deterministic seeds — the
  * scalatestplus bridge isn't in the offline cache.) */
class PropertySpec extends AnyFunSuite {

  private val ts = new java.sql.Timestamp(0)

  /** Deterministic sampling harness over a scalacheck Gen. */
  private def forSamples[T](gen: Gen[T], n: Int)(f: T => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 4) {
      gen.apply(Gen.Parameters.default.withSize(1 + attempts % 100), seed) match {
        case Some(v) => f(v); produced += 1
        case None =>
      }
      seed = seed.next
      attempts += 1
    }
    assert(produced > 0, "generator produced no samples")
  }
  private def forAll[T](gen: Gen[T], minSuccessful: Int)(f: T => Unit): Unit =
    forSamples(gen, minSuccessful)(f)
  private def forAll[A, B](ga: Gen[A], gb: Gen[B], minSuccessful: Int)(f: (A, B) => Unit): Unit =
    forSamples(Gen.zip(ga, gb), minSuccessful)(t => f(t._1, t._2))
  private def minSuccessful(n: Int): Int = n

  test("extraction is total on arbitrary byte payloads (never throws)") {
    forAll(Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue)),
      minSuccessful(200)) { bytes =>
      val e = Extract(Page("u", ts, bytes, "", "eng"))
      assert(e.extracted_text != null && e.payload_kind != null)
      assert(e.spans.forall(s => s.start >= 0 && s.end <= e.extracted_text.length))
    }
  }

  test("html extraction is total on arbitrary strings incl. tag soup") {
    val tagSoup = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const("<"), Gen.const(">"), Gen.const("</"),
      Gen.const("<div"), Gen.const("&amp;"), Gen.const("&#"), Gen.const("\""),
      Gen.const("<!--"), Gen.const("<script>"), Gen.const("</script>"),
      Gen.const("<p>"), Gen.const(" "))).map(_.mkString)
    forAll(tagSoup, minSuccessful(200)) { s =>
      val r = MainContentExtractor.extractBytes(s.getBytes(UTF_8))
      assert(r.text != null && r.nBlocks >= 0)
    }
  }

  test("extraction is deterministic on arbitrary payloads") {
    forAll(Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue)),
      minSuccessful(50)) { bytes =>
      val a = Extract(Page("u", ts, bytes, "", "eng"))
      val b = Extract(Page("u", ts, bytes, "", "eng"))
      assert(java.util.Arrays.equals(
        a.extracted_text.getBytes(UTF_8), b.extracted_text.getBytes(UTF_8)))
    }
  }

  test("entity matcher: total, spans well-formed and non-overlapping") {
    forAll(Gen.asciiPrintableStr, minSuccessful(200)) { s =>
      val es = EntityMatcher.matchEntities(s)
      es.foreach { e =>
        assert(e.start >= 0 && e.end <= s.length && e.start < e.end)
        assert(s.substring(e.start, e.end) == e.text)
      }
      // pairwise non-overlap (the suppression invariant)
      val sorted = es.sortBy(_.start)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.end <= b.start, s"overlap $a $b")
        case _ =>
      }
    }
  }

  test("vlm stub: total modulo the fault schedule, ledger arithmetic invariant") {
    import graft.vlm.{StubVlm, VlmPrompts, VlmUnavailable}
    val b64 = java.util.Base64.getEncoder
    val genBytes = Gen.nonEmptyListOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    forSamples(genBytes, 300) { img =>
      val d = StubVlm.digestOf(img)
      val (_, prompt) = VlmPrompts.classifyPrompt(
        Seq("financial", "legal", "medical", "general", "x")(math.abs(img.length) % 5))
      try {
        val r = StubVlm.generate(prompt, b64.encodeToString(img), 0, 4096, 2)
        assert(!d.startsWith("ff")) // only permanent faults throw at attempt 2
        // determinism + ledger arithmetic for every sampled image
        assert(r == StubVlm.generate(prompt, b64.encodeToString(img), 0, 4096, 2))
        assert(r.promptEvalCount == VlmPrompts.tokens(prompt) + VlmPrompts.ImageTokens)
        assert(r.evalCount == VlmPrompts.tokens(r.text) && r.text.nonEmpty)
        assert(r.promptEvalDurationMicros == r.promptEvalCount * StubVlm.MicrosPerPromptToken)
        assert(r.evalDurationMicros == r.evalCount * StubVlm.MicrosPerEvalToken)
      } catch {
        case _: VlmUnavailable => assert(d.startsWith("ff"))
      }
    }
  }

  test("jaccard is symmetric, bounded, reflexive") {
    val arr = Gen.containerOf[Array, Long](Gen.choose(Long.MinValue, Long.MaxValue))
    forAll(arr, arr, minSuccessful(100)) { (a, b) =>
      val j1 = Dedup.jaccard(a, b)
      val j2 = Dedup.jaccard(b, a)
      assert(j1 == j2 && j1 >= 0.0 && j1 <= 1.0)
      assert(Dedup.jaccard(a, a) == 1.0)
    }
  }

  test("minhash signature bounds estimated jaccard error") {
    // identical inputs → identical signatures; disjoint → dissimilar sigs
    forAll(Gen.nonEmptyContainerOf[Array, Long](Gen.choose(1L, Long.MaxValue)),
      minSuccessful(50)) { a =>
      val s1 = Dedup.minhashSignature(a)
      val s2 = Dedup.minhashSignature(a)
      assert(s1.sameElements(s2))
    }
  }

  test("byte tokenizer invariants on arbitrary multibyte tag soup") {
    val soup = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const("<"), Gen.const(">"), Gen.const("</"),
      Gen.const("<div class=\"a>b\">"), Gen.const("&amp;"), Gen.const("&#233;"),
      Gen.const("&bogus;"), Gen.const("é漢字ü"), Gen.const("<!--x-->"),
      Gen.const("<script>a<b</script>"), Gen.const("<p>"), Gen.const("</p>"),
      Gen.const(" "), Gen.const("<![CDATA[x]]>"), Gen.const("&#"),
      Gen.const("<TITLE>t</TITLE>"),
      Gen.const("<a href=\"https://x.example/p\">l</a>"),
      Gen.const("<a href='https://y.example'>l</a>"),
      Gen.const("<a href=https://z.example/q>l</a>"),
      Gen.const("<a href=\"/rel\">l</a>"), Gen.const("<a HREF=\"HTTPS://UP.example\">"),
      Gen.const("<a href"), Gen.const("href=\"https://stray.example\""),
      Gen.const("<a title=\"href=https://fake\" href=\"https://real.example\">"))).map(_.mkString)
    forAll(soup, minSuccessful(300)) { s =>
      val bytes = s.getBytes(UTF_8)
      val a = MainContentExtractor.extractBytes(bytes)
      assert(a.text != null && a.nBlocks >= 0)
      assert(a.spans.forall(sp => sp.start >= 0 && sp.start <= sp.end && sp.end <= a.text.length),
        s"span outside the text on: ${s.take(200)}")
      a.outLinks.foreach { l =>
        val lower = l.toLowerCase(java.util.Locale.ROOT)
        assert(lower.startsWith("http://") || lower.startsWith("https://"), s"relative out-link $l")
        assert(s.contains(l), s"out-link $l not verbatim in: ${s.take(200)}")
      }
      // the second call reuses the per-thread scratch the first one grew
      val b = MainContentExtractor.extractBytes(bytes)
      assert(java.util.Arrays.equals(a.text.getBytes(UTF_8), b.text.getBytes(UTF_8)),
        s"text not deterministic on: ${s.take(200)}")
      assert(a.spans.toSeq == b.spans.toSeq && a.title == b.title && a.nBlocks == b.nBlocks)
      assert(a.outLinks.toSeq == b.outLinks.toSeq && a.confidence == b.confidence)
    }
  }

  test("repetition stats == an independent naive implementation on random whitespace-heavy text") {
    import graft.ops.Repetition
    // independent reimplementation via collections groupBy (vs the
    // kernel's single-pass HashMap walk) — exercises the tie-breaks,
    // empty-line filtering, and \s+ vs '\n' family differences
    def naive(text: String): (Double, Double, Double, Double) = {
      if (text == null || text.isEmpty) return (0.0, 0.0, 0.0, 0.0)
      val lines = text.split('\n').filter(_.nonEmpty).toSeq
      val lg = lines.groupBy(identity).view.mapValues(_.size).toMap
      val dlf = if (lines.isEmpty) 0.0 else lg.values.map(_ - 1).sum.toDouble / lines.size
      val totalCh = lg.map { case (l, c) => l.length.toLong * c }.sum
      val exCh = lg.map { case (l, c) => l.length.toLong * (c - 1) }.sum
      val dlcf = if (totalCh == 0) 0.0 else exCh.toDouble / totalCh
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val tokCh = toks.map(_.length.toLong).sum
      val tbf =
        if (toks.size < 2 || tokCh == 0) 0.0
        else {
          val bg = toks.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity).view.mapValues(_.size)
          // max count, ties to lexicographically smallest gram
          val (g, c) = bg.toSeq.minBy { case (gr, ct) => (-ct, gr) }
          c.toLong * (g.length - 1) / tokCh.toDouble
        }
      val dtf =
        if (toks.size < 3) 0.0
        else {
          val tg = toks.sliding(3).map(_.mkString(" ")).toSeq.groupBy(identity).view.mapValues(_.size).toMap
          tg.values.map(_ - 1).sum.toDouble / tg.values.sum
        }
      (dlf, dlcf, tbf, dtf)
    }
    // small alphabet + whitespace variety forces collisions, ties, and
    // empty-line/empty-token edges
    val gen = Gen.listOf(Gen.oneOf("ab", "ba", "a", "b", "aa", " ", "\n", "\t", "\n\n", "  ")).map(_.mkString(" "))
    forAll(gen, minSuccessful(400)) { s =>
      val k = Repetition.stats(s)
      val (dlf, dlcf, tbf, dtf) = naive(s)
      assert(k.dup_line_frac == dlf, s"dup_line_frac on ${s.take(80).replace("\n", "\\n")}")
      assert(k.dup_line_char_frac == dlcf, s"dup_line_char_frac on ${s.take(80).replace("\n", "\\n")}")
      assert(k.top_bigram_frac == tbf, s"top_bigram_frac on ${s.take(80).replace("\n", "\\n")}")
      assert(k.dup_trigram_frac == dtf, s"dup_trigram_frac on ${s.take(80).replace("\n", "\\n")}")
      Seq(k.dup_line_frac, k.dup_line_char_frac, k.dup_trigram_frac).foreach(v =>
        assert(v >= 0.0 && v <= 1.0))
      assert(k.top_bigram_frac >= 0.0)
    }
  }

  test("golden fixtures: committed byte contract unchanged") {
    val p = java.nio.file.Paths.get(GoldenGen.fixturePath)
    assert(java.nio.file.Files.exists(p),
      "golden fixture missing — run Test/runMain graft.GoldenGen")
    val committed = new String(java.nio.file.Files.readAllBytes(p), UTF_8)
      .split("\n").filter(_.nonEmpty).toSeq
    val current = GoldenGen.currentLines()
    assert(committed.size == current.size)
    committed.zip(current).foreach { case (c, g) =>
      assert(c == g, s"byte contract drift: committed '$c' vs current '$g' — " +
        "if intentional, bump GenVersion/ExtractionVersion and regenerate")
    }
  }
}
