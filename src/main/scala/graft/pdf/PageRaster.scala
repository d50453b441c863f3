package graft.pdf

/** G2: pdf page → page image. The reference rasterizes every PDF page
  * to an image before OCR (/root/reference/ocrworker/engines/paddle.py:149-154,
  * pdf2image at fixed DPI). No rasterizer library exists in-sandbox, so
  * this is a REAL — if spartan — one assembled from two codecs the repo
  * already owns: the closed-grammar PDF parser supplies each page's
  * line structure (PdfParser preserves the Td/TD/T-star/Tm line
  * semantics), and a fixed-pitch glyph renderer paints one filled
  * CellW×CellH box per non-space character onto an 8-bit canvas encoded
  * with the hand-rolled BMP writer.
  *
  * Every pixel is a pure function of the page text: the canvas holds
  * exactly two byte values (Paper 0xFF / Ink 0x00), Width is divisible
  * by 4 so BMP rows have no stride padding, and [[inkCells]] restates
  * the paint rule arithmetically — so a DuckDB oracle can re-derive the
  * ink-pixel count of every emitted image from its raw blob bytes and
  * any rasterizer drift fails the value compare (the q30 codec
  * pattern applied to G2). */
object PageRaster {

  /** Version token for dump keying (same role as FormDetector.Version). */
  val Version = "raster-1"

  val Width = 120  // divisible by 4: no BMP row padding bytes
  val Height = 160
  val Margin = 4
  val CellW = 3
  val CellH = 5
  val AdvX = 4  // fixed pitch: glyph box + 1px gap
  val AdvY = 7  // line height: glyph box + 2px leading
  val Ink: Byte = 0x00
  val Paper: Byte = 0xFF.toByte

  val MaxCols: Int = (Width - 2 * Margin) / AdvX
  val MaxRows: Int = (Height - 2 * Margin) / AdvY

  /** The paint rule as arithmetic: painted cells = non-whitespace chars
    * at (row < MaxRows, col < MaxCols) — ink pixels = cells · CellW·CellH
    * (cells never overlap at the fixed pitch). Shared by tests and the
    * oracle derivation. */
  def inkCells(pageText: String): Int = {
    val lines = pageText.split("\n", -1)
    var cells = 0
    var r = 0
    while (r < lines.length && r < MaxRows) {
      val line = lines(r)
      var c = 0
      val n = math.min(line.length, MaxCols)
      while (c < n) {
        if (!line.charAt(c).isWhitespace) cells += 1
        c += 1
      }
      r += 1
    }
    cells
  }

  /** Render one page text to BMP bytes (8-bit, bottom-up rows as the
    * format specifies). */
  def rasterize(pageText: String): Array[Byte] = {
    val cv = Canvas.blank(Width, Height)
    Canvas.glyphs(pageText.split("\n", -1), MaxRows, MaxCols, Margin, AdvY)(cv.glyph)
    cv.toBmp
  }

  /** Rasterize every page of a PDF payload: Right(page images) or
    * Left(parse error) — the same totality contract as the parser. */
  def rasterizePages(pdfBytes: Array[Byte]): Either[String, Array[Array[Byte]]] =
    PdfParser.extract(pdfBytes).map(_.pageTexts.map(rasterize))

  /** Line pitch of the SKEWED surface: 4 px leading (vs [[AdvY]]'s 2) —
    * the deskew estimator bins ink by rho at a 0.25°-grid angle, and a
    * sub-grid angle error smears rho by ~0.5 px across the page width;
    * 2 px leading leaves only 1 empty bin between lines, which that
    * smear can close. A skew surface is synthetic by nature, so it gets
    * scan-like line spacing. */
  val AdvYSkew = CellH + 4
  val MaxRowsSkew: Int = (Height - 2 * Margin) / AdvYSkew

  // --- planted-form surface (q92 blob detection / SURVEY missing #1's
  // contour family: form_detector.py:265-371 finds rectangular contours
  // and checkbox-sized squares on pixels; this surface plants both) ---

  /** Version token for the form-surface dump keying. */
  val FormVersion = "form-1"

  /** Text rows on the form surface: capped so the band below stays free
    * for planted boxes/checkboxes (text ends at y=4+12·7=88; planted
    * elements start at y=96 — an 8 px moat no 1-px dilation can cross). */
  val FormTextRows = 12
  val BoxW = 34; val BoxH = 12; val BoxY = 96; val BoxX0 = 6; val BoxPitch = 38
  val CbSide = 7; val CbY = 120; val CbX0 = 8; val CbPitch = 16

  /** Planted element counts — pure functions of (page index, page no),
    * mirrored verbatim by q92's oracle SQL. */
  def plantedBoxes(idx: Long, pageNo: Int): Int = ((idx + pageNo) % 3).toInt
  def plantedCheckboxes(idx: Long, pageNo: Int): Int = ((idx + pageNo) % 4).toInt
  def plantedChecked(idx: Long, k: Int): Boolean = (idx + k) % 2 == 0

  /** Render the FORM surface: the page text (capped at [[FormTextRows]]
    * rows) plus planted hollow form boxes and checkboxes whose counts /
    * checked states are pure functions of (idx, pageNo) — so the
    * detector's output is verifiable from the url alone. */
  def rasterizeForm(pageText: String, idx: Long, pageNo: Int): Array[Byte] = {
    val cv = Canvas.blank(Width, Height)
    Canvas.glyphs(pageText.split("\n", -1), FormTextRows, MaxCols, Margin, AdvY)(cv.glyph)
    for (k <- 0 until plantedBoxes(idx, pageNo)) cv.hollowRect(BoxX0 + k * BoxPitch, BoxY, BoxW, BoxH)
    for (k <- 0 until plantedCheckboxes(idx, pageNo)) {
      val x0 = CbX0 + k * CbPitch
      if (plantedChecked(idx, k)) cv.fillRect(x0, CbY, CbSide, CbSide)
      else cv.hollowRect(x0, CbY, CbSide, CbSide)
    }
    cv.toBmp
  }

  /** The form surface's WORD ground truth as arithmetic (the [[inkCells]]
    * pattern): each maximal non-whitespace run within the painted grid
    * becomes one expected word blob (x, y, w, h, inkPx) — the pixel
    * detector must recover exactly these boxes after its 1-px dilation
    * merges a run's glyphs. */
  def expectedWordBoxes(pageText: String): Array[(Int, Int, Int, Int, Int)] = {
    val out = Array.newBuilder[(Int, Int, Int, Int, Int)]
    val lines = pageText.split("\n", -1)
    var r = 0
    while (r < lines.length && r < FormTextRows) {
      val line = lines(r)
      val n = math.min(line.length, MaxCols)
      var c = 0
      while (c < n) {
        if (!line.charAt(c).isWhitespace) {
          var c1 = c
          while (c1 + 1 < n && !line.charAt(c1 + 1).isWhitespace) c1 += 1
          val chars = c1 - c + 1
          out += ((Margin + c * AdvX, Margin + r * AdvY,
            (chars - 1) * AdvX + CellW, CellH, chars * CellW * CellH))
          c = c1 + 1
        } else c += 1
      }
      r += 1
    }
    out.result()
  }

  /** [[rasterize]] with the page rotated by `angleCentiDeg` (hundredths
    * of a degree) about the canvas center — the planted-skew surface
    * the deskew analog ([[Deskew]]) recovers from. Each glyph box keeps
    * its axis-aligned shape (rotated TEXT LINES, like a skewed scan of
    * upright glyphs); its origin rotates, so a text row's boxes fall
    * along a line of slope tan(angle): dy/dx positive for a positive
    * angle, exactly the angle [[Deskew.lines]] reports. Boxes rotated
    * out of bounds are clipped (a real scanner crops too). */
  def rasterizeSkewed(pageText: String, angleCentiDeg: Int): Array[Byte] = {
    val th = math.toRadians(angleCentiDeg / 100.0)
    val cosA = math.cos(th); val sinA = math.sin(th)
    val cx = Width / 2.0; val cy = Height / 2.0
    val cv = Canvas.blank(Width, Height)
    Canvas.glyphs(pageText.split("\n", -1), MaxRowsSkew, MaxCols, Margin, AdvYSkew) { (x0, y0) =>
      val xr = math.round(cx + (x0 - cx) * cosA - (y0 - cy) * sinA).toInt
      val yr = math.round(cy + (x0 - cx) * sinA + (y0 - cy) * cosA).toInt
      if (xr >= 0 && yr >= 0 && xr + CellW <= Width && yr + CellH <= Height) cv.glyph(xr, yr)
    }
    cv.toBmp
  }
}
