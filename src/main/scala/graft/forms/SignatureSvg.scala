package graft.forms

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.core.Page

/** Signature SVG vectorization — the artifact analog of the reference's
  * signature extractor (/root/reference/ocrworker/signature_extractor.py:
  * `image_svg` at :16-27 wraps the cropped signature raster in an SVG
  * document; `extract_signature` at :229-275 crops the detected
  * signature region and emits the vector artifact beside the form
  * output).
  *
  * The text-engine analog: the detected signature block's ink (the
  * signature field's value, falling back to the signer name — the
  * strokes the reference would crop) is rasterized with the repo's
  * shared glyph metrics ([[graft.pdf.PageRaster]]: 3x5 cells, 4px
  * pitch), and the raster is then genuinely VECTORIZED — connected ink
  * components traced into one closed `<path>` contour each — rather
  * than base64-embedded. Deterministic end to end: integer pixels,
  * row-major component discovery, fixed attribute order.
  *
  * Scale note: [[svgs]] is a sibling pass over the RAW payload (form
  * detection needs the html; the committed snapshot is text-only), so
  * [[graft.job.ExtractJob.run]] gates it behind `signatureArtifacts`
  * (default off — the flagship extraction scan stays single-purpose).
  * At 100 TB you either fuse it into the q31 form-detection dump (one
  * payload scan feeds detection, pairing AND artifacts) or accept the
  * second scan for the <<1% of pages that are signed forms.
  */
object SignatureSvg {

  import graft.pdf.Canvas
  import graft.pdf.PageRaster.{AdvX, CellH, CellW}

  /** Max traced characters — the analog of the reference's crop bound
    * (signature_extractor.py caps the crop to the detected region). */
  val MaxChars = 48

  /** Tight signature-crop raster of `text`: width-packed glyph boxes,
    * height CellH, whitespace = paper. Returns (width, height, pixels)
    * row-major top-down. */
  def raster(text: String): (Int, Int, Array[Byte]) = {
    val t = text.take(MaxChars)
    val w = math.max(t.length, 1) * AdvX - (AdvX - CellW) // trim the trailing inter-glyph gap
    val cv = Canvas.blank(w, CellH)
    Canvas.glyphs(Array(t), 1, t.length, 0, CellH)(cv.glyph)
    (w, CellH, cv.px)
  }

  /** Vectorize a row-major raster: each 4-connected ink component
    * becomes one closed rectangular contour path (components of the
    * glyph-box raster ARE axis-aligned rectangles, so the bounding box
    * equals the component). Row-major discovery order keeps the path
    * sequence deterministic. */
  def tracePaths(w: Int, h: Int, px: Array[Byte]): Seq[String] = {
    val ink = new Canvas(w, h, px).ink
    Canvas.components(w, h, ink, ink).toSeq.map(c => s"M${c.x} ${c.y}h${c.w}v${c.h}h-${c.w}z")
  }

  /** The full artifact: signature ink text → standalone SVG document
    * (well-formed XML, xmlns'd, viewBoxed to the tight crop). */
  def trace(text: String): String = {
    val (w, h, px) = raster(text)
    val paths = tracePaths(w, h, px)
      .map(d => s"""<path d="$d" fill="#000"/>""")
      .mkString
    s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h" viewBox="0 0 $w $h">$paths</svg>"""
  }

  /** The signature ink source of a detected form: the signature field's
    * own value when present (a signed line), else the signer name —
    * what the reference's crop would contain. */
  def inkText(fields: Array[DetectedField]): Option[String] = {
    val sig = fields.find(_.fieldType == "signature")
    if (sig.isEmpty) None
    else {
      val v = sig.get.value.trim
      if (v.nonEmpty) Some(v)
      else fields.find(f => f.fieldType == "name" && f.value.trim.nonEmpty).map(_.value.trim)
    }
  }

  /** (url, signer, svg) for every signed form in `pages` — the sidecar
    * table [[graft.job.ExtractJob]] commits beside the snapshot. */
  def svgs(pages: Dataset[Page]): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      it.flatMap { p =>
        val r = FormDetector.detectHtml(p.html)
        if (!r.isForm) Iterator.empty
        else {
          val name = r.fields.find(f => f.fieldType == "name" && f.value.nonEmpty)
          val ink = inkText(r.fields)
          if (name.isEmpty || ink.isEmpty) Iterator.empty
          else Iterator.single((p.url,
            name.get.value.toLowerCase(java.util.Locale.ROOT).trim,
            trace(ink.get)))
        }
      }
    }.toDF("url", "signer", "svg")
  }
}
