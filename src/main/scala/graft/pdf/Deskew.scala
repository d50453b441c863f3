package graft.pdf

/** Deskew analog of the reference's Hough-median auto-deskew
  * (/root/reference/ocrworker/segmentation/segmenter.py:645-692): detect
  * text-line segments on the page raster, estimate each segment's
  * angle, and correct by the MEDIAN line angle — but only when the
  * correction is within MAX_AUTO_DESKEW_ANGLE (15°, segmenter.py:47).
  *
  * Division of labor (the q42/q76 pattern): THIS object is the vision
  * stage — a Hough-style (angle, rho) accumulator finds the dominant
  * text direction, pixels bucket into line clusters along it, and each
  * cluster's angle comes from a least-squares fit over its own pixels.
  * The median / 15°-gate / correction stages are relational (q79) and
  * re-derived by the DuckDB oracle from the dumped line table, with the
  * planted skew angle recomputed from the url — so a drifting kernel
  * fails the value compare.
  *
  * Determinism: integer pixels, fixed angle grid, exact vote counts,
  * LSQ in double over integer coordinates with a fixed summation order
  * (pixel scan order), ties on the angle grid to the smaller angle. */
object Deskew {

  /** Version token for dump keying. */
  val Version = "deskew-1"

  /** The reference's MAX_AUTO_DESKEW_ANGLE (15°), in centi-degrees. */
  val MaxAutoDeskewAngleCenti = 1500

  /** Hough sweep bounds/resolution: the MEASUREMENT range is wider than
    * the correction gate (the reference's HoughLinesP measures whatever
    * is there; the 15° cap gates only the applied rotation). */
  val SweepCenti = 3000   // ±30°
  val AngleStepCenti = 25 // 0.25°

  /** Minimum ink pixels for a cluster to count as a text line. */
  val MinLinePixels = 40

  final case class Line(angleCenti: Int, pixels: Int)

  /** Ink pixels of a page canvas as packed (x, y), y top-down. */
  private def inkPixels(cv: Canvas): (Array[Int], Array[Int]) = {
    val xs = Array.newBuilder[Int]
    val ys = Array.newBuilder[Int]
    var i = 0
    while (i < cv.px.length) {
      if (cv.px(i) == PageRaster.Ink) { xs += i % cv.w; ys += i / cv.w }
      i += 1
    }
    (xs.result(), ys.result())
  }

  /** Detected text-line segments of one page raster: (angle per line in
    * centi-degrees, ink pixels per line). Empty for a blank page.
    *
    * Two passes: the Hough sweep's grid angle clusters pixels into
    * lines and per-line LSQ yields sub-grid angles; re-clustering at
    * the first pass's median angle then repairs any line merge the
    * grid error caused (a sub-grid error smears rho by ~0.5 px across
    * the page width, enough to close a 1-bin inter-line gap). */
  def lines(bmp: Array[Byte]): Array[Line] = {
    val cv = Canvas.decode(bmp, "deskew")
    val (xs, ys) = inkPixels(cv)
    if (xs.isEmpty) return Array.empty
    val rhoOff = cv.w + cv.h // |rho| <= w·sin + h·cos <= w + h
    val nRho = 2 * rhoOff + 1

    // 1. Hough sweep: vote (angle, rho = y·cosθ − x·sinθ); the true
    //    text direction concentrates votes into few sharp rho bins, so
    //    pick the angle maximizing Σ votes² (profile sharpness).
    var bestAngle = 0
    var bestScore = -1L
    var a = -SweepCenti
    while (a <= SweepCenti) {
      val th = math.toRadians(a / 100.0)
      val c = math.cos(th); val s = math.sin(th)
      val votes = new Array[Int](nRho)
      var i = 0
      while (i < xs.length) {
        val rho = math.round(ys(i) * c - xs(i) * s).toInt + rhoOff
        votes(rho) += 1
        i += 1
      }
      var score = 0L
      var r = 0
      while (r < nRho) { val v = votes(r).toLong; score += v * v; r += 1 }
      if (score > bestScore) { bestScore = score; bestAngle = a } // ties → smaller angle
      a += AngleStepCenti
    }

    // 2+3 at the grid angle, then refined at the measured median angle
    val pass1 = linesAt(xs, ys, nRho, rhoOff, math.toRadians(bestAngle / 100.0))
    if (pass1.isEmpty) return pass1
    val sorted = pass1.map(_.angleCenti).sorted
    val med =
      if (sorted.length % 2 == 1) sorted(sorted.length / 2).toDouble
      else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2.0
    linesAt(xs, ys, nRho, rhoOff, math.toRadians(med / 100.0))
  }

  /** Cluster pixels into lines along direction `th` and fit each line:
    * rho bins, consecutive occupied bins merge (a text line is CellH px
    * tall → ~CellH adjacent bins), ANY empty bin splits; per-cluster
    * least-squares slope over its own pixels (the per-segment angle
    * HoughLinesP would report) — fixed scan order, integer sums,
    * deterministic. */
  private def linesAt(xs: Array[Int], ys: Array[Int], nRho: Int, rhoOff: Int,
                      th: Double): Array[Line] = {
    val c = math.cos(th); val s = math.sin(th)
    val binOf = new Array[Int](xs.length)
    val occupied = new Array[Int](nRho)
    var i = 0
    while (i < xs.length) {
      val rho = math.round(ys(i) * c - xs(i) * s).toInt + rhoOff
      binOf(i) = rho
      occupied(rho) += 1
      i += 1
    }
    val clusterOf = new Array[Int](nRho)
    java.util.Arrays.fill(clusterOf, -1)
    var cluster = -1
    var gap = 1
    var r = 0
    while (r < nRho) {
      if (occupied(r) > 0) {
        if (gap >= 1) cluster += 1
        clusterOf(r) = cluster
        gap = 0
      } else gap += 1
      r += 1
    }
    val nClusters = cluster + 1
    if (nClusters == 0) return Array.empty
    val n = new Array[Long](nClusters)
    val sx = new Array[Long](nClusters)
    val sy = new Array[Long](nClusters)
    val sxx = new Array[Long](nClusters)
    val sxy = new Array[Long](nClusters)
    i = 0
    while (i < xs.length) {
      val k = clusterOf(binOf(i))
      n(k) += 1
      sx(k) += xs(i); sy(k) += ys(i)
      sxx(k) += xs(i).toLong * xs(i); sxy(k) += xs(i).toLong * ys(i)
      i += 1
    }
    val out = Array.newBuilder[Line]
    var k = 0
    while (k < nClusters) {
      if (n(k) >= MinLinePixels) {
        val den = n(k) * sxx(k) - sx(k) * sx(k)
        if (den > 0) { // a single-column blob has no direction
          val slope = (n(k) * sxy(k) - sx(k) * sy(k)).toDouble / den.toDouble
          val angle = math.round(math.toDegrees(math.atan(slope)) * 100.0).toInt
          out += Line(angle, n(k).toInt)
        }
      }
      k += 1
    }
    out.result()
  }
}
