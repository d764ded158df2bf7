package graft.core

/**
 * Raster resampling kernels (reference ops: rf_resample /
 * rf_resample_nearest, /root/reference/core/src/main/scala/org/locationtech/rasterframes/expressions/localops/Resample.scala;
 * accepted method names match the reference's normalizer,
 * /root/reference/core/src/main/scala/org/locationtech/rasterframes/util/package.scala:241-254:
 * nearest/nearest_neighbor, bilinear, cubic_convolution, cubic_spline,
 * lanczos, and the aggregate family average/mode/median/max/min/sum).
 *
 * Two families, two sampling models:
 *
 * POINT-INTERPOLATION kernels (nearest, bilinear, cubic_convolution,
 * cubic_spline, lanczos) are center-aligned: destination cell (c,r)
 * samples the source at continuous position
 * `x = (c+0.5)·sx − 0.5, y = (r+0.5)·sy − 0.5` (nearest omits the −0.5
 * recentering and floors `(c+0.5)·sx` directly). Window taps whose
 * index falls outside the tile clamp to the edge cell while KEEPING
 * their tap weight (so kernel weights always sum to their interior
 * value and edges replicate rather than darken).
 *
 * AGGREGATE methods (average, mode, median, max, min, sum) are
 * footprint-aligned, the overview/pyramid path: every SOURCE cell
 * belongs to exactly one destination cell — the one containing its
 * center, `dr = ⌊(2·sr+1)·dstRows / (2·srcRows)⌋` (exact integer
 * math) — and each destination cell aggregates the DATA cells mapped
 * to it. A destination cell with no data contributors is NoData
 * (which also means upsampling with an aggregate method yields NoData
 * holes — these methods exist for downsampling).
 */
object Resample {

  def nearest(t: Tile, dstCols: Int, dstRows: Int): Tile = {
    val out = Tile.empty(t.cellType, dstCols, dstRows)
    val sx = t.cols.toDouble / dstCols
    val sy = t.rows.toDouble / dstRows
    var r = 0
    while (r < dstRows) {
      val sr = math.min(t.rows - 1, ((r + 0.5) * sy).toInt)
      var c = 0
      while (c < dstCols) {
        val sc = math.min(t.cols - 1, ((c + 0.5) * sx).toInt)
        out.setDouble(r * dstCols + c, t.getDouble(sr * t.cols + sc))
        c += 1
      }
      r += 1
    }
    out
  }

  /** Bilinear sample at continuous (x, y) in cell-center coordinates:
    * weighted mean over the 2×2 data neighbors, weights renormalized
    * when some are NoData; NaN if all four are NoData. Shared by
    * bilinear(), the cubic/lanczos NoData fallback, and the
    * rasterJoin merge's resampleMethod path. */
  def bilinearAt(t: Tile, x: Double, y: Double): Double = {
    val r0 = math.max(0, math.min(t.rows - 1, math.floor(y).toInt))
    val r1 = math.min(t.rows - 1, r0 + 1)
    val fy = y - r0
    val c0 = math.max(0, math.min(t.cols - 1, math.floor(x).toInt))
    val c1 = math.min(t.cols - 1, c0 + 1)
    val fx = x - c0
    var wsum = 0.0; var vsum = 0.0
    def acc(v: Double, w: Double): Unit =
      if (NoData.isData(v) && w > 0) { wsum += w; vsum += v * w }
    acc(t.getDouble(r0 * t.cols + c0), (1 - fx) * (1 - fy))
    acc(t.getDouble(r0 * t.cols + c1), fx * (1 - fy))
    acc(t.getDouble(r1 * t.cols + c0), (1 - fx) * fy)
    acc(t.getDouble(r1 * t.cols + c1), fx * fy)
    if (wsum == 0) Double.NaN else vsum / wsum
  }

  def bilinear(t: Tile, dstCols: Int, dstRows: Int): Tile = {
    val out = Tile.empty(CellType.float64, dstCols, dstRows)
    val sx = t.cols.toDouble / dstCols
    val sy = t.rows.toDouble / dstRows
    var r = 0
    while (r < dstRows) {
      val y = (r + 0.5) * sy - 0.5
      var c = 0
      while (c < dstCols) {
        out.setDouble(r * dstCols + c, bilinearAt(t, (c + 0.5) * sx - 0.5, y))
        c += 1
      }
      r += 1
    }
    out
  }

  /** Keys cubic-convolution kernel, a = −0.5 (the classic image-
    * processing choice): interpolating, negative lobes, exact-dyadic
    * weights at dyadic offsets (w(0.5) = 9/16, w(1.5) = −1/16). */
  private def keysKernel(d: Double): Double = {
    val a = -0.5
    if (d < 1.0) (a + 2.0) * d * d * d - (a + 3.0) * d * d + 1.0
    else if (d < 2.0) a * (d * d * d - 5.0 * d * d + 8.0 * d - 4.0)
    else 0.0
  }

  /** Uniform cubic B-spline kernel: approximating (smoothing) spline,
    * nonnegative weights summing to 1 — the stable "cubic_spline". */
  private def bsplineKernel(d: Double): Double =
    if (d < 1.0) (4.0 - 6.0 * d * d + 3.0 * d * d * d) / 6.0
    else if (d < 2.0) { val u = 2.0 - d; u * u * u / 6.0 }
    else 0.0

  /** Lanczos-3 windowed sinc: sinc(d)·sinc(d/3) for |d| < 3. */
  private def lanczosKernel(d: Double): Double =
    if (d < 1e-12) 1.0
    else if (d < 3.0) {
      val pd = math.Pi * d
      (math.sin(pd) / pd) * (math.sin(pd / 3.0) / (pd / 3.0))
    } else 0.0

  /**
   * Separable kernel interpolation with tap radius `radius` (2 for the
   * cubics — a 4×4 window; 3 for lanczos — 6×6). Accumulates the flat
   * Σ w_r·w_c·v over the window and divides by Σ w_r·w_c (exact 1 for
   * the cubics, ≈1 for lanczos). NoData: if ANY cell of the window is
   * NoData the point falls back to [[bilinearAt]] — a 16/36-tap kernel
   * with negative lobes cannot renormalize over holes safely, and the
   * 2×2 fallback degrades gracefully (GeoTrellis resamplers make the
   * same choice). Output is always float64.
   */
  /** One kernel sample at continuous (x, y): flat Σ w_r·w_c·v over the
    * (2·radius)² window normalized by Σ w; falls back to [[bilinearAt]]
    * if the window has any NoData cell (see [[interpolate]]). */
  private def kernelAt(t: Tile, x: Double, y: Double,
      kernel: Double => Double, radius: Int): Double = {
    val r0 = math.floor(y).toInt
    val fy = y - r0
    val c0 = math.floor(x).toInt
    val fx = x - c0
    var vsum = 0.0; var wsum = 0.0; var hole = false
    var i = -radius + 1
    while (i <= radius && !hole) {
      val wy = kernel(math.abs(fy - i))
      val sr = math.max(0, math.min(t.rows - 1, r0 + i))
      var j = -radius + 1
      while (j <= radius && !hole) {
        val wx = kernel(math.abs(fx - j))
        val sc = math.max(0, math.min(t.cols - 1, c0 + j))
        val v = t.getDouble(sr * t.cols + sc)
        if (NoData.isNoData(v)) hole = true
        else { val w = wy * wx; vsum += w * v; wsum += w }
        j += 1
      }
      i += 1
    }
    if (hole) bilinearAt(t, x, y)
    else if (wsum == 0) Double.NaN
    else vsum / wsum
  }

  /** A point sample of a tile at continuous cell-center coordinates (x, y). */
  trait PointSampler { def apply(t: Tile, x: Double, y: Double): Double }

  /** The reference normalizer: lowercase, strip underscores
    * (util/package.scala:242), so both spellings are accepted. */
  private def normalize(method: String): String = method.toLowerCase.trim.replaceAll("_", "")

  def isNearest(method: String): Boolean = normalize(method) match {
    case "nearest" | "nearestneighbor" => true
    case _ => false
  }

  /** The point sampler for any of the five point-interpolation methods,
    * resolved from its name once — the sampling primitive the rasterJoin
    * merge threads its resampleMethod through (aggregate methods have no
    * point-sample meaning and are rejected). */
  def sampler(method: String): PointSampler = normalize(method) match {
    case "nearest" | "nearestneighbor" => (t, x, y) => {
      val sc = math.max(0, math.min(t.cols - 1, math.round(x).toInt))
      val sr = math.max(0, math.min(t.rows - 1, math.round(y).toInt))
      t.getDouble(sr * t.cols + sc)
    }
    case "bilinear" => bilinearAt
    case "cubicconvolution" => kernelAt(_, _, _, keysKernel, 2)
    case "cubicspline" => kernelAt(_, _, _, bsplineKernel, 2)
    case "lanczos" | "lanzos" => kernelAt(_, _, _, lanczosKernel, 3)
    case m => throw new IllegalArgumentException(
      s"Unsupported point-sample method: $m (nearest, bilinear, " +
        "cubic_convolution, cubic_spline, lanczos)")
  }

  private def interpolate(t: Tile, dstCols: Int, dstRows: Int,
      kernel: Double => Double, radius: Int): Tile = {
    val out = Tile.empty(CellType.float64, dstCols, dstRows)
    val sx = t.cols.toDouble / dstCols
    val sy = t.rows.toDouble / dstRows
    var r = 0
    while (r < dstRows) {
      val y = (r + 0.5) * sy - 0.5
      var c = 0
      while (c < dstCols) {
        out.setDouble(r * dstCols + c,
          kernelAt(t, (c + 0.5) * sx - 0.5, y, kernel, radius))
        c += 1
      }
      r += 1
    }
    out
  }

  /**
   * Footprint aggregation (average/mode/median/max/min/sum): one pass
   * over the source, each data cell accumulated into the destination
   * cell containing its center. min/max/median/mode keep the source
   * cell type (the result is always an existing cell value — median is
   * the LOWER median, the ⌈n/2⌉-th smallest, and mode breaks count
   * ties toward the SMALLEST value, both so every engine reproduces
   * the choice exactly); average and sum emit float64 (a sum can
   * overflow a narrow integral type).
   */
  private def aggregate(t: Tile, dstCols: Int, dstRows: Int, method: String): Tile = {
    val rankBased = method == "median" || method == "mode"
    val outCt =
      if (method == "average" || method == "sum") CellType.float64 else t.cellType
    val out = Tile.empty(outCt, dstCols, dstRows)
    val n = dstCols * dstRows
    // running accumulators (avg/sum/min/max) or value buffers (median/mode)
    val acc = if (rankBased) null else new Array[Double](n)
    val cnt = new Array[Int](n)
    val buf =
      if (rankBased) Array.fill(n)(new scala.collection.mutable.ArrayBuffer[Double](4))
      else null
    if (acc != null && (method == "min" || method == "max"))
      java.util.Arrays.fill(acc, if (method == "min") Double.MaxValue else Double.MinValue)
    var sr = 0
    while (sr < t.rows) {
      // exact integer center mapping: dr = floor((2·sr+1)·dstRows / (2·srcRows))
      val dr = math.min(dstRows - 1, ((2L * sr + 1) * dstRows / (2L * t.rows)).toInt)
      var sc = 0
      while (sc < t.cols) {
        val v = t.getDouble(sr * t.cols + sc)
        if (NoData.isData(v)) {
          val dc = math.min(dstCols - 1, ((2L * sc + 1) * dstCols / (2L * t.cols)).toInt)
          val k = dr * dstCols + dc
          cnt(k) += 1
          method match {
            case "average" | "sum" => acc(k) += v
            case "min" => if (v < acc(k)) acc(k) = v
            case "max" => if (v > acc(k)) acc(k) = v
            case _ => buf(k) += v
          }
        }
        sc += 1
      }
      sr += 1
    }
    var k = 0
    while (k < n) {
      if (cnt(k) == 0) out.setDouble(k, Double.NaN)
      else method match {
        case "average" => out.setDouble(k, acc(k) / cnt(k))
        case "sum" | "min" | "max" => out.setDouble(k, acc(k))
        case "median" =>
          val s = buf(k).sortInPlace()
          out.setDouble(k, s((cnt(k) - 1) / 2)) // lower median: ⌈n/2⌉-th smallest
        case "mode" =>
          val s = buf(k).sortInPlace()
          // longest run wins; first (= smallest) value on ties
          var best = s(0); var bestLen = 0
          var i = 0
          while (i < s.length) {
            var j = i
            while (j < s.length && s(j) == s(i)) j += 1
            if (j - i > bestLen) { bestLen = j - i; best = s(i) }
            i = j
          }
          out.setDouble(k, best)
      }
      k += 1
    }
    out
  }

  def apply(t: Tile, dstCols: Int, dstRows: Int, method: String): Tile =
    normalize(method) match {
      case "nearest" | "nearestneighbor" => nearest(t, dstCols, dstRows)
      case "bilinear" => bilinear(t, dstCols, dstRows)
      case "cubicconvolution" => interpolate(t, dstCols, dstRows, keysKernel, 2)
      case "cubicspline" => interpolate(t, dstCols, dstRows, bsplineKernel, 2)
      case "lanczos" | "lanzos" => interpolate(t, dstCols, dstRows, lanczosKernel, 3)
      case m @ ("average" | "mode" | "median" | "max" | "min" | "sum") =>
        aggregate(t, dstCols, dstRows, m)
      case m => throw new IllegalArgumentException(
        s"Unsupported resample method: $m (nearest, bilinear, cubic_convolution, " +
          "cubic_spline, lanczos, average, mode, median, max, min, sum)")
    }
}
