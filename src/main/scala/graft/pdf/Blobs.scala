package graft.pdf

/** Pixel-space blob detection — the Spark-side analog of the reference's
  * contour pipeline (/root/reference/ocrworker/form_detector.py:265-371:
  * dilate → findContours → boundingRect → classify by size/aspect, and
  * the checkbox-sized-square filter at :320-341). The repo's DOM
  * FormDetector plays that role on HTML; THIS object plays it on actual
  * pixels over the q76 raster surface, so the capability exists at both
  * levels a reference user expects.
  *
  * Stages: (1) decode the 8-bit BMP into a top-down ink bitmap
  * ([[Canvas.decode]]: either stored row order, rows checked against
  * the payload);
  * (2) dilate horizontally by 1 px — the raster's inter-glyph gap is
  * exactly 1 px (AdvX − CellW) while an inter-word gap is ≥ 5 px, so
  * dilation merges a word's glyphs and nothing else (the reference uses
  * the same dilate-then-contour trick to group characters into text
  * regions); (3) 4-connected component labeling over the dilated mask
  * ([[Canvas.components]]: iterative BFS, bounded by W·H ints per page);
  * (4) per component, the bounding box and ink count are measured over
  * the ORIGINAL ink only, so dilation never distorts geometry;
  * (5) classify: glyph-height runs are words, taller-and-narrow hollow
  * squares are checkboxes (checked iff interior fill ≥ 3/4), anything
  * taller and wide is a form box.
  *
  * Determinism: integer pixels, scan-order labeling, output sorted by
  * (y, x) — bit-stable at any parallelism. */
object Blobs {

  /** Version token for dump keying. */
  val Version = "blobs-1"

  final case class Blob(kind: String, x: Int, y: Int, w: Int, h: Int,
      inkPx: Int, checked: Boolean)

  /** Classification thresholds (on the ORIGINAL-ink bounding box): a
    * word run is exactly CellH tall; anything taller came from the
    * planted-element band. */
  val CheckboxMaxW = 12
  val CheckedFillNum = 3
  val CheckedFillDen = 4

  def detect(bmp: Array[Byte]): Array[Blob] = {
    val cv = Canvas.decode(bmp, "blob detection")
    val w = cv.w
    val ink = cv.ink
    // 1-px horizontal dilation: closes the glyph gap inside a word
    val mask = Array.tabulate(ink.length) { i =>
      val x = i % w
      ink(i) || (x > 0 && ink(i - 1)) || (x + 1 < w && ink(i + 1))
    }
    // every component contains ≥ 1 original ink pixel (dilation only
    // ever extends ink), so the box is always well-formed
    Canvas.components(w, cv.h, mask, ink).map { c =>
      val kind =
        if (c.h <= PageRaster.CellH) "word"
        else if (c.w <= CheckboxMaxW) "checkbox"
        else "box"
      val checked = kind == "checkbox" &&
        c.count.toLong * CheckedFillDen >= CheckedFillNum.toLong * c.w * c.h
      Blob(kind, c.x, c.y, c.w, c.h, c.count, checked)
    }.sortBy(b => (b.y, b.x))
  }

  /** md5 over "y:x:w:h" boxes sorted by (y, x, w, h) joined with ';' —
    * the digest both the Spark aggregate and the DuckDB oracle rebuild
    * from the dumped blob table (lowercase hex, UTF-8). */
  def digest(boxes: Seq[(Int, Int, Int, Int)]): String = {
    val s = boxes.sorted.map { case (y, x, bw, bh) => s"$y:$x:$bw:$bh" }.mkString(";")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }
}
