package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Extract, Page}
import graft.gen.PageGen
import graft.html.MainContentExtractor
import graft.pdf.PdfParser
import java.nio.charset.StandardCharsets.UTF_8

/** Pure (no-Spark) tests of the extraction core: tokenizer edge cases,
  * classifier behavior, PDF subset, totality, and generator-vs-extractor
  * agreement (the classifier-quality gate; the distributed byte-identity
  * gate lives in the Spark suites).
  */
class ExtractCoreSpec extends AnyFunSuite {

  test("tokenizer: entities, comments, script/style skipped, quotes with '>'") {
    val html =
      """<html><head><title>T &amp; Co</title><style>a>b{c:1}</style>
        |<script>if (1<2) { x = "</div>"; }</script></head><body>
        |<!-- a > comment -->
        |<p data-x="a>b">Alpha &amp; beta &mdash; gamma &#65; &hellip; end of the first long paragraph which has quite many words to count here today.</p>
        |</body></html>""".stripMargin
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.title == "T & Co")
    assert(r.text == "Alpha & beta — gamma A … end of the first long paragraph which has quite many words to count here today.")
    assert(r.spans.length == 1)
    assert(r.spans(0).start == 0 && r.spans(0).end == r.text.length)
  }

  test("tokenizer: out-link capture — absolute only, quote styles, first wins") {
    val html =
      """<html><body>
        |<a href="https://a.example/p">one</a>
        |<a href='https://b.example'>two</a>
        |<a href=https://c.example/q>three</a>
        |<a href="/relative">skip</a>
        |<a HREF="HTTPS://D.EXAMPLE/X">case</a>
        |<a href="https://first.example" href="https://second.example">dup attr</a>
        |<a title="href=https://fake.example" href="https://real.example">decoy</a>
        |<script>var s = '<a href="https://in-script.example">';</script>
        |<!-- <a href="https://in-comment.example">x</a> -->
        |<a data-href="https://not-href.example" href="https://kept.example">e</a>
        |</body></html>""".stripMargin
    val expected = Seq(
      "https://a.example/p", "https://b.example", "https://c.example/q",
      "HTTPS://D.EXAMPLE/X", "https://first.example", "https://real.example",
      "https://kept.example")
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.outLinks.toSeq == expected)
    assert(r.nLinksFound == expected.size) // no truncation on a normal page
  }

  test("out-link cap is audited, never silent: a link farm truncates at MaxOutLinks with n_links_found > size") {
    val n = graft.html.BlockBuilder.MaxOutLinks + 40
    val farm = (0 until n)
      .map(i => s"""<a href="https://farm.example/$i">x$i</a>""")
      .mkString("<html><body><p>", " ", "</p></body></html>")
    val r = MainContentExtractor.extractBytes(farm.getBytes(UTF_8))
    assert(r.outLinks.length == graft.html.BlockBuilder.MaxOutLinks)
    assert(r.nLinksFound == n) // the drop is row-level auditable
    assert(r.outLinks.head == "https://farm.example/0")
    assert(r.outLinks.last == s"https://farm.example/${graft.html.BlockBuilder.MaxOutLinks - 1}")
  }

  test("generator: every html page carries its host's 3 partner links; extraction captures them") {
    val gp = PageGen.genRow(42L, 0L) // idx 0 is an html page (sf tables rely on it)
    assert(gp.kind == "html")
    val doc = Extract(gp.page)
    val host = gp.page.url.stripPrefix("https://").takeWhile(_ != '/')
    val expected = PageGen.partnerHosts(host).map(h => s"https://$h/")
    assert(doc.out_links.toSeq == expected)
    // pdf + junk rows have no out-links
    assert(doc.error == null)
  }

  test("tokenizer: unclosed tags and stray '<' never throw") {
    val html = "<body><p>one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen seventeen\n<p>a < b still text of the second paragraph with plenty of words to be considered as content here too</body>"
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.nBlocks == 2)
    assert(r.text.contains("a < b"))
  }

  test("classifier: nav/footer boilerplate and link-dense blocks dropped") {
    val nav = """<nav><ul><li><a href="/">Home</a></li><li><a href="/x">News</a></li></ul></nav>"""
    val para = "word " * 50
    val html = s"<html><body>$nav<p>$para</p><footer><p>Copyright legal words repeated many many many many many many many many many many many many many many many times</p></footer></body></html>"
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.text == para.trim)
  }

  test("classifier: heading directly above content is promoted") {
    val para = ("alpha " * 45).trim
    val html = s"<body><h2>Section Heading</h2><p>$para</p></body>"
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.text == s"Section Heading\n$para")
    assert(r.spans(0).kind == "heading")
  }

  test("pdf: multi-page ordered stitch, Tj and TJ, escapes, flate") {
    val rng = new PageGen.Rng(7)
    val (bytes, intended) = PageGen.genPdf(rng, compress = true)
    val r = PdfParser.extract(bytes)
    assert(r.isRight)
    assert(r.toOption.get.stitched == intended)
  }

  test("pdf rasterizer (G2): real BMP pages, ink pixels exactly the paint rule") {
    import graft.pdf.PageRaster
    import graft.multimodal.MediaOps
    val rng = new PageGen.Rng(7)
    val (bytes, _) = PageGen.genPdf(rng, compress = true)
    val pages = PageRaster.rasterizePages(bytes)
    assert(pages.isRight)
    val imgs = pages.toOption.get
    val texts = PdfParser.extract(bytes).toOption.get.pageTexts
    assert(imgs.length == texts.length && imgs.nonEmpty)
    imgs.zip(texts).foreach { case (img, text) =>
      // the image is a valid BMP by the repo's own decoder
      val meta = MediaOps.decodeBmp(img)
      assert(meta.ok && meta.width == PageRaster.Width && meta.height == PageRaster.Height)
      // ink pixels == painted cells × cell area, counted from raw bytes
      val pixOff = 54
      val ink = img.drop(pixOff).count(_ == PageRaster.Ink)
      assert(ink == PageRaster.inkCells(text) * PageRaster.CellW * PageRaster.CellH,
        s"ink $ink vs rule for ${text.take(40)}")
      // and only the two canvas values exist (the oracle's counting rule
      // relies on the {0x00, 0xFF} alphabet)
      assert(img.drop(pixOff).forall(b => b == PageRaster.Ink || b == PageRaster.Paper))
    }
    // blank page → zero ink; text on it → more ink than a shorter text
    assert(PageRaster.rasterize("").drop(54).count(_ == PageRaster.Ink) == 0)
    val a = PageRaster.rasterize("hi").drop(54).count(_ == PageRaster.Ink)
    val b = PageRaster.rasterize("hello there").drop(54).count(_ == PageRaster.Ink)
    assert(a == 2 * 15 && b > a)
    // clipping: an over-wide line stops at MaxCols; over-tall at MaxRows
    val wide = PageRaster.rasterize("x" * 1000)
    assert(wide.drop(54).count(_ == PageRaster.Ink) == PageRaster.MaxCols * 15)
    val tall = PageRaster.rasterize(Array.fill(500)("y").mkString("\n"))
    assert(tall.drop(54).count(_ == PageRaster.Ink) == PageRaster.MaxRows * 15)
  }

  test("deskew (segmenter.py:645-692 analog): planted skew recovered by line-angle median") {
    import graft.pdf.{Deskew, PageRaster}
    val rng = new PageGen.Rng(11)
    val (bytes, _) = PageGen.genPdf(rng, compress = true)
    val texts = PdfParser.extract(bytes).toOption.get.pageTexts.filter(_.trim.nonEmpty)
    assert(texts.nonEmpty)
    def median(a: Array[Int]): Double = {
      val s = a.sorted
      if (s.length % 2 == 1) s(s.length / 2).toDouble
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // every planted angle q79 uses (±14° window + the 22° too-steep case)
    // is recovered within the 0.5° gate the oracle asserts
    for (planted <- (-1400 to 1400 by 100) :+ 2200; t <- texts.take(3)) {
      val ls = Deskew.lines(PageRaster.rasterizeSkewed(t, planted))
      assert(ls.nonEmpty, s"no lines at planted=$planted")
      val med = median(ls.map(_.angleCenti))
      assert(math.abs(med - planted) <= 50.0,
        s"planted=$planted measured=$med (${ls.length} lines)")
    }
    // blank page → no lines; determinism: same raster, same line table
    assert(Deskew.lines(PageRaster.rasterizeSkewed("", 700)).isEmpty)
    val bmp = PageRaster.rasterizeSkewed(texts.head, -900)
    assert(Deskew.lines(bmp).toSeq == Deskew.lines(bmp).toSeq)
  }

  test("pdf: uncompressed and escaped parens") {
    val rng = new PageGen.Rng(9)
    val (bytes, intended) = PageGen.genPdf(rng, compress = false)
    assert(PdfParser.extract(bytes).toOption.get.stitched == intended)
  }

  test("pdf content stream: hex strings, quote operators, comments") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def ex(s: String) = graft.pdf.ContentStreamText.extract(s.getBytes(ISO_8859_1))
    assert(ex("BT <48 65 6C6C 6F> Tj ET") == "Hello")
    assert(ex("BT <486-> Tj ET") != null) // odd-length + junk: total, no throw
    // ' = next line then show; " = word/char spacing then next line show
    assert(ex("BT (first) Tj (second) ' ET") == "first\nsecond")
    assert(ex("BT (a) Tj 2 3 (b) \" ET") == "a\nb")
    assert(ex("BT % comment with (paren\n(x) Tj ET") == "x")
  }

  test("regression: kerning-split TJ arrays concatenate fragments") {
    val content = "BT /F1 12 Tf 72 720 Td [(Hel) 8 (lo) -12 ( world)] TJ ET"
    import java.nio.charset.StandardCharsets.ISO_8859_1
    assert(graft.pdf.ContentStreamText.extract(content.getBytes(ISO_8859_1)) == "Hello world")
  }

  test("regression: graphics-only trailing stream leaves no trailing newline") {
    val textOps = "BT (Hi) Tj ET".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val gfxOps = "q 1 0 0 1 0 0 cm Q".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(graft.pdf.ContentStreamText.extract(textOps) == "Hi")
    assert(graft.pdf.ContentStreamText.extract(gfxOps) == "")
  }

  test("regression: unclosed <title> does not swallow the document") {
    val para = ("word " * 45).trim
    val html = s"<html><head><title>Foo</head><body><p>$para</p></body></html>"
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.title == "Foo")
    assert(r.text == para)
  }

  test("regression: numeric NBSP (&#160;) separates words and collapses") {
    val para = ("word " * 40).trim
    val html = s"<body><p>alpha&#160;beta $para</p></body>"
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.text.startsWith("alpha beta "))
  }

  test("regression: money normalization ignores sentence-final punctuation") {
    import graft.nlp.EntityMatcher
    val e = EntityMatcher.matchEntities("Total due: $1,234.56.").filter(_.label == "MONEY")
    assert(e.nonEmpty && e.head.normalized == "1234.56")
    // grouping-only forms must not flip into the decimal branch
    assert(EntityMatcher.normalizeMoney("$1,234.") == "1234.00")
    assert(EntityMatcher.normalizeMoney("$1,234") == "1234.00")
    assert(EntityMatcher.normalizeMoney("1.234 EUR") == "1234.00")
    assert(EntityMatcher.normalizeMoney("1.234,56 EUR") == "1234.56")
    assert(EntityMatcher.normalizeMoney("$5") == "5.00")
    assert(EntityMatcher.normalizeMoney("$0.99") == "0.99")
  }

  test("regression: first <title> wins, later titles don't concatenate") {
    val para = ("word " * 45).trim
    val html = s"<html><head><title>Page</title></head><body><p>$para</p>" +
      "<svg><title>icon</title></svg></body></html>"
    val r = MainContentExtractor.extractBytes(html.getBytes(UTF_8))
    assert(r.title == "Page")
  }

  test("regression: audio media features use the 12-byte header") {
    import graft.multimodal.MediaOps
    val payload = Array.tabulate(64)(i => (i * 16 % 256 - 128).toByte)
    val aud = MediaOps.encodeAudio(16000, 64, payload)
    val emb = MediaOps.embed(aud)
    assert(math.abs(emb.sum - 1.0f) < 1e-5, s"histogram mass ${emb.sum}")
    // first payload byte included: payload(0) == 0 -> bucket (0x80>>4)=8? byte 0 -> (0&0xff)>>4 = 0
    assert(emb(((payload(0) & 0xff) >> 4)) > 0f)
  }

  test("extract is total: junk, empty, null-ish payloads become error rows") {
    val ts = new java.sql.Timestamp(0)
    val junk = Extract(Page("u1", ts, Array[Byte](0x7f, 1, 2, 3), "", "eng"))
    assert(junk.error == "unsupported_payload" && junk.extracted_text == "")
    val empty = Extract(Page("u2", ts, Array.emptyByteArray, "", "eng"))
    assert(empty.error != null)
    val badPdf = Extract(Page("u3", ts, "%PDF-1.4 garbage".getBytes(UTF_8), "", "eng"))
    assert(badPdf.payload_kind == "pdf" && badPdf.error != null)
  }

  test("generator ↔ extractor agreement on 500 deterministic pages") {
    var htmlN = 0; var pdfN = 0; var junkN = 0; var mismatch = 0
    (0 until 500).foreach { i =>
      val g = PageGen.genRow(PageGen.DefaultSeed, i.toLong)
      val e = Extract(g.page)
      g.kind match {
        case "html" =>
          htmlN += 1
          if (e.extracted_text != g.intended) mismatch += 1
        case "pdf" =>
          pdfN += 1
          assert(e.extracted_text == g.intended, s"pdf mismatch at row $i")
        case "junk" =>
          junkN += 1
          assert(e.error == "unsupported_payload")
      }
    }
    assert(htmlN > 350 && pdfN > 20 && junkN > 5, s"mix off: $htmlN/$pdfN/$junkN")
    // HTML classifier quality gate: the generator's well-formed pages
    // must be recovered exactly
    assert(mismatch == 0, s"$mismatch/$htmlN html pages mismatched")
  }

  test("extraction is deterministic (same row twice → same bytes)") {
    val g = PageGen.genRow(PageGen.DefaultSeed, 123L)
    val a = Extract(g.page).extracted_text.getBytes(UTF_8)
    val b = Extract(PageGen.genRow(PageGen.DefaultSeed, 123L).page).extracted_text.getBytes(UTF_8)
    assert(java.util.Arrays.equals(a, b))
  }

  test("spans index into extracted_text exactly") {
    (0 until 50).foreach { i =>
      val g = PageGen.genRow(PageGen.DefaultSeed, i.toLong)
      val e = Extract(g.page)
      e.spans.foreach { sp =>
        assert(sp.start >= 0 && sp.end <= e.extracted_text.length && sp.start <= sp.end)
      }
      // block spans reassemble the text
      if (e.payload_kind == "html" && e.spans.nonEmpty) {
        val re = e.spans.map(sp => e.extracted_text.substring(sp.start, sp.end)).mkString("\n")
        assert(re == e.extracted_text)
      }
    }
  }
}
