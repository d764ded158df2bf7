package graft.core

import graft.core.crs.CRS

/**
 * The one raster-onto-grid kernel: every site that paints a source
 * raster onto a destination grid — the overview aggregate, rasterJoin's
 * reproject-and-merge, and the `geotiff` mosaic and `slippy` writers —
 * goes through [[Warp.paint]] (the reference takes this path from
 * GeoTrellis's reproject/merge, SURVEY.md:113, 223, 269).
 *
 * Sampling is in world coordinates through each grid's
 * [[RasterExtent]]; [[Resample]]'s in-tile kernels are the other model.
 */
object Warp {

  /** A float64 grid shaped like `re` with every cell NoData. */
  def grid(re: RasterExtent): MutableTile = Tile.empty(CellType.float64, re.cols, re.rows)

  /**
   * Paint `src` (laid out on `srcRE` in `srcCrs`) onto the float64 grid
   * `dst` (a [[grid]], laid out on `dstRE` in `dstCrs`), visiting only the cells of
   * the inclusive window `cells`. A cell that already holds data is left
   * alone, so across calls the first data value wins. Any other cell's
   * center is mapped into the source (through [[CRS.transform]] only when
   * the normalized CRSs differ); when it lies inside the source extent and
   * the sample there is data, the sample is written. `nearest` (or
   * `nearest_neighbor`) takes the source cell holding the point; every
   * other method interpolates through its [[Resample.sampler]], resolved
   * once, so an unknown method fails before the first cell.
   *
   * @return the number of cells written
   */
  def paint(dst: MutableTile, dstRE: RasterExtent, dstCrs: CRS, cells: GridBounds,
      src: Tile, srcRE: RasterExtent, srcCrs: CRS, method: String): Int = {
    require(dst.cellType == CellType.float64, s"Warp.paint paints onto a float64 grid, not ${dst.cellType}")
    val same = srcCrs.normalized == dstCrs.normalized
    val nearest = Resample.isNearest(method)
    val sample = Resample.sampler(method)
    var painted = 0
    var r = cells.rowMin
    while (r <= cells.rowMax) {
      var c = cells.colMin
      while (c <= cells.colMax) {
        val i = r * dst.cols + c
        if (NoData.isNoData(dst.getDouble(i))) {
          val dx = dstRE.colToX(c); val dy = dstRE.rowToY(r)
          val (sx, sy) = if (same) (dx, dy) else CRS.transform(dx, dy, dstCrs, srcCrs)
          if (srcRE.extent.contains(sx, sy)) {
            val v =
              if (nearest) {
                val sc = srcRE.xToCol(sx); val sr = srcRE.yToRow(sy)
                if (sc >= 0 && sc < src.cols && sr >= 0 && sr < src.rows)
                  src.getDouble(sr * src.cols + sc)
                else Double.NaN
              } else sample(src, srcRE.xToColFrac(sx), srcRE.yToRowFrac(sy))
            if (NoData.isData(v)) { dst.setDouble(i, v); painted += 1 }
          }
        }
        c += 1
      }
      r += 1
    }
    painted
  }
}
