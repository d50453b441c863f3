package graft.pdf

import graft.multimodal.MediaOps
import PageRaster.{AdvX, CellH, CellW, Ink, Paper}

/** The pixel canvas of the page-image kernels: a w×h grid of
  * [[PageRaster.Paper]] / [[PageRaster.Ink]] bytes, row-major and
  * top-down. Each pixel rule that the rasterizers ([[PageRaster]],
  * [[graft.forms.SignatureSvg]]) and the readers ([[Deskew]],
  * [[Blobs]]) share has one body here: glyph painting ([[Canvas.glyphs]]),
  * rectangle fill, the BMP stored row order ([[toBmp]] writes it,
  * [[Canvas.decode]] reads it back) and 4-connected component labelling
  * ([[Canvas.components]]). */
private[graft] final class Canvas(val w: Int, val h: Int, val px: Array[Byte]) {

  def fillRect(x0: Int, y0: Int, rw: Int, rh: Int): Unit = {
    var y = y0
    while (y < y0 + rh) { java.util.Arrays.fill(px, y * w + x0, y * w + x0 + rw, Ink); y += 1 }
  }

  /** A 1-px outline: the four edges of the rectangle. */
  def hollowRect(x0: Int, y0: Int, rw: Int, rh: Int): Unit = {
    fillRect(x0, y0, rw, 1); fillRect(x0, y0 + rh - 1, rw, 1)
    fillRect(x0, y0, 1, rh); fillRect(x0 + rw - 1, y0, 1, rh)
  }

  /** One glyph box at origin (x0, y0). */
  def glyph(x0: Int, y0: Int): Unit = fillRect(x0, y0, CellW, CellH)

  def ink: Array[Boolean] = px.map(_ == Ink)

  /** 8-bit BMP bytes, rows in the format's bottom-up stored order. Rows
    * are written unpadded, so the width must be a multiple of 4. */
  def toBmp: Array[Byte] = {
    require(w % 4 == 0, s"canvas width $w would need BMP row padding")
    MediaOps.encodeBmp(w, h, 1, Canvas.copyRows(px, 0, w, w, h, flip = true))
  }
}

private[graft] object Canvas {

  def blank(w: Int, h: Int): Canvas = new Canvas(w, h, Array.fill[Byte](w * h)(Paper))

  /** The glyph paint rule: a non-whitespace char at row r < maxRows and
    * column c < maxCols of `lines` is one CellW×CellH box with origin
    * (margin + c·AdvX, margin + r·advY). `box` receives each origin. */
  def glyphs(lines: Array[String], maxRows: Int, maxCols: Int, margin: Int, advY: Int)(
      box: (Int, Int) => Unit): Unit = {
    var r = 0
    while (r < lines.length && r < maxRows) {
      val line = lines(r)
      val n = math.min(line.length, maxCols)
      var c = 0
      while (c < n) {
        if (!line.charAt(c).isWhitespace) box(margin + c * AdvX, margin + r * advY)
        c += 1
      }
      r += 1
    }
  }

  /** Read an 8-bit BMP back into a top-down canvas. The row layout is
    * [[MediaOps.bmpRows]]: a negative header height stores rows
    * top-down, and pixel rows that overrun the payload are rejected
    * before any pixel is read. `reader` names the caller in errors. */
  def decode(bmp: Array[Byte], reader: String): Canvas = {
    val m = MediaOps.decodeBmp(bmp)
    require(m.ok && m.channels == 1, s"$reader expects the 8-bit page raster")
    val rows = MediaOps.bmpRows(bmp, m)
    require(rows.isDefined,
      s"$reader: BMP pixel rows (${m.width}x${m.height}) overrun the ${bmp.length - m.payloadOff}-byte payload")
    val (stride, topDown) = rows.get
    new Canvas(m.width, m.height, copyRows(bmp, m.payloadOff, stride, m.width, m.height, flip = !topDown))
  }

  /** `h` rows of `w` bytes from `src` (the first at `off`, `stride`
    * apart) into a packed array, in reverse row order when `flip`. */
  private def copyRows(src: Array[Byte], off: Int, stride: Int, w: Int, h: Int, flip: Boolean): Array[Byte] = {
    val dst = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      System.arraycopy(src, off + (if (flip) h - 1 - y else y) * stride, dst, y * w, w)
      y += 1
    }
    dst
  }

  /** A component's bounding box and pixel count. */
  final case class Component(x: Int, y: Int, w: Int, h: Int, count: Int)

  /** 4-connected components of `member` over a w×h top-down grid, in
    * scan order of each component's first pixel (iterative BFS, no
    * recursion). The box and count cover only the component's pixels
    * that are also `measured`. */
  def components(w: Int, h: Int, member: Array[Boolean], measured: Array[Boolean]): Array[Component] = {
    val seen = new Array[Boolean](w * h)
    val queue = new Array[Int](w * h)
    val out = Array.newBuilder[Component]
    var tail = 0
    def visit(p: Int): Unit =
      if (member(p) && !seen(p)) { seen(p) = true; queue(tail) = p; tail += 1 }
    var i = 0
    while (i < w * h) {
      if (member(i) && !seen(i)) {
        var head = 0
        tail = 0
        visit(i)
        var minX = w; var maxX = -1; var minY = h; var maxY = -1; var count = 0
        while (head < tail) {
          val p = queue(head); head += 1
          val x = p % w; val y = p / w
          if (measured(p)) {
            minX = math.min(minX, x); maxX = math.max(maxX, x)
            minY = math.min(minY, y); maxY = math.max(maxY, y)
            count += 1
          }
          if (x > 0) visit(p - 1)
          if (x + 1 < w) visit(p + 1)
          if (y > 0) visit(p - w)
          if (y + 1 < h) visit(p + w)
        }
        out += Component(minX, minY, maxX - minX + 1, maxY - minY + 1, count)
      }
      i += 1
    }
    out.result()
  }
}
