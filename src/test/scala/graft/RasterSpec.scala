package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.forms.SignatureSvg
import graft.gen.PageGen
import graft.multimodal.MediaOps
import graft.pdf.{Blobs, Deskew, PageRaster, PdfParser}

/** Byte pins of the page-image kernels: the rasters (`rasterize`,
  * `rasterizeForm`, `rasterizeSkewed`), the signature SVGs and what the
  * pixel readers (`Deskew.lines`, `Blobs.detect`) report on them. Each
  * pin is sha256 over the length-prefixed outputs of a fixed input set,
  * so any change to a painted pixel, to the BMP row order or to the
  * component labelling moves a digest. Pure: no Spark session. */
class RasterSpec extends AnyFunSuite {

  private def sha256(parts: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(p.length).array())
      md.update(p)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
  private def sha256s(parts: Seq[String]): String = sha256(parts.map(_.getBytes(UTF_8)))

  /** Hand-written texts for the edge rules (over-long lines, more rows
    * than any row cap, `\r`, tabs, blank lines) plus real pdf page
    * texts from the generator. */
  private val texts: Seq[String] = Seq(
    "",
    "hello world",
    "Hello world\nsecond line here\n\tTabbed\tline\r\nwindows line\r\n\nafter blank",
    "x" * 200 + " tail\n" + ("ab cd " * 40),
    (0 until 40).map(i => s"row $i has some words ${"w" * (i % 7)}").mkString("\n"),
    "  leading spaces\n\n\n   \t\r\nlast"
  ) ++ (0 until 400).iterator
    .map(i => PageGen.genRow(PageGen.DefaultSeed, i.toLong))
    .filter(_.kind == "pdf")
    .take(3)
    .flatMap(g => PdfParser.extract(g.page.html).toOption.get.pageTexts)
    .toSeq

  /** (idx, pageNo) pairs covering 0–2 boxes, 0–3 checkboxes and both
    * checked states. */
  private val formKeys = Seq((0L, 0), (1L, 1), (5L, 1), (2L, 3), (7L, 2), (11L, 0), (4L, 3))

  /** Planted angles: both signs, zero, the 22° too-steep page, and two
    * steep ones whose rotated boxes clip at the canvas edge. */
  private val angles = Seq(-1400, -900, -25, 0, 250, 700, 1400, 2200, 3000, -4500)

  /** (what, actual, expected) digests; every moved one is reported. */
  private def assertPins(pins: (String, String, String)*): Unit = {
    val moved = pins.collect { case (what, actual, expected) if actual != expected => s"$what -> $actual" }
    assert(moved.isEmpty, moved.mkString("digests moved: ", "; ", ""))
  }

  test("rasterize, rasterizeForm and rasterizeSkewed bytes are pinned") {
    assert(texts.length > 8 && texts.exists(_.split("\n", -1).length > PageRaster.MaxRows))
    assertPins(
      ("rasterize", sha256(texts.map(PageRaster.rasterize)),
        "a0bd1662a55f9134cd7e7b4869e226f1782c985c336b85b5493611b753e13474"),
      ("rasterizeForm", sha256(for (t <- texts; (i, p) <- formKeys) yield PageRaster.rasterizeForm(t, i, p)),
        "a14b3ba191dc5c3110fe1b5281102f145982f210ac638994a3bcd7d393c9905e"),
      ("rasterizeSkewed", sha256(for (t <- texts; a <- angles) yield PageRaster.rasterizeSkewed(t, a)),
        "d10cbc1ae48bca9867de75a669cd42e6ba6e0359d0fb4dbf60bee00539e0e637"))
  }

  test("signature SVG strings are pinned") {
    val inks = Seq("", "John Smith", "  a  b ", "x" * 60, "tab\tsep\r\nnext", "J. Q. Public-Signer")
    assert(SignatureSvg.trace("ab c") ==
      """<svg xmlns="http://www.w3.org/2000/svg" width="15" height="5" viewBox="0 0 15 5">""" +
      """<path d="M0 0h3v5h-3z" fill="#000"/><path d="M4 0h3v5h-3z" fill="#000"/>""" +
      """<path d="M12 0h3v5h-3z" fill="#000"/></svg>""")
    // non-rectangular components: an L, a ring and a lone pixel; each
    // path is the bounding box of one 4-connected component in scan order
    val w = 7; val h = 5
    val px = Array.fill[Byte](w * h)(PageRaster.Paper)
    def ink(x: Int, y: Int): Unit = px(y * w + x) = PageRaster.Ink
    (0 until 4).foreach(y => ink(0, y)); ink(1, 3); ink(2, 3)
    for (x <- 3 to 5; y <- 0 to 2 if !(x == 4 && y == 1)) ink(x, y)
    ink(6, 4); ink(5, 4)
    assert(SignatureSvg.tracePaths(w, h, px) ==
      Seq("M0 0h3v4h-3z", "M3 0h3v3h-3z", "M5 4h2v1h-2z"))
    assertPins(("trace", sha256s(inks.map(SignatureSvg.trace)), "0652e984e210134c62994386d8f44db389cef799204111819b8a30266fbb9047"))
  }

  test("deskew lines and blob detections on the pinned rasters are pinned") {
    def lines(bmp: Array[Byte]) = Deskew.lines(bmp).map(l => s"${l.angleCenti}:${l.pixels}").mkString(",")
    def blobs(bmp: Array[Byte]) = Blobs.detect(bmp).map(_.toString).mkString(",")
    assertPins(
      ("Deskew.lines(skewed)",
        sha256s(for (t <- texts; a <- angles) yield lines(PageRaster.rasterizeSkewed(t, a))), "a8774699c39d491958992fa39db0156bfd36b512b0854fca38d1b7e9d1d48fe5"),
      ("Deskew.lines(upright)", sha256s(texts.map(t => lines(PageRaster.rasterize(t)))), "342d72e0b1b678404e5ec6484eb0e575ac0aadb19d1a7a0fffcc41ea00b0b52d"),
      ("Blobs.detect(form)",
        sha256s(for (t <- texts; (i, p) <- formKeys) yield blobs(PageRaster.rasterizeForm(t, i, p))), "d5dd0289f1076c672ba939737e606f9c2bf04c814891c544c6fe95da83305542"),
      ("Blobs.detect(upright)", sha256s(texts.map(t => blobs(PageRaster.rasterize(t)))), "340e155abe8665de98201f8183e187dc3bfb59194c9e56f0faa78ca4fd833cf4"))
  }

  /** The same image stored top-down: header height negated, rows in
    * content order. */
  private def topDownTwin(bmp: Array[Byte]): Array[Byte] = {
    val w = PageRaster.Width; val h = PageRaster.Height
    val out = bmp.clone()
    var y = 0
    while (y < h) { System.arraycopy(bmp, 54 + (h - 1 - y) * w, out, 54 + y * w, w); y += 1 }
    java.nio.ByteBuffer.wrap(out, 22, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-h)
    out
  }

  test("a top-down twin of a page raster gives the same lines and blobs") {
    val t = texts(2)
    for (a <- Seq(-900, 700)) {
      val bu = PageRaster.rasterizeSkewed(t, a)
      val td = topDownTwin(bu)
      assert(MediaOps.decodeBmp(td).ok && !td.sameElements(bu))
      assert(Deskew.lines(td).toSeq == Deskew.lines(bu).toSeq, s"angle $a")
    }
    val form = PageRaster.rasterizeForm(t, 5L, 1)
    assert(Blobs.detect(topDownTwin(form)).toSeq == Blobs.detect(form).toSeq)
  }

  test("a payload shorter than its pixel rows is rejected by name") {
    val bmp = PageRaster.rasterize(texts(2))
    val cut = java.util.Arrays.copyOf(bmp, bmp.length - 10)
    assert(MediaOps.decodeBmp(cut).ok) // the header alone parses
    for (read <- Seq[Array[Byte] => Any](Deskew.lines, Blobs.detect)) {
      val e = intercept[IllegalArgumentException](read(cut))
      assert(e.getMessage.contains("payload"), e.getMessage)
    }
  }
}
