package graft.core

/**
 * Planar bounding box. Mirrors the reference's Extent encoding
 * (/root/reference/core/src/main/scala/org/locationtech/rasterframes/encoders/StandardEncoders.scala:45-82)
 * as a plain case class so Spark's product encoder handles it.
 */
final case class Extent(xmin: Double, ymin: Double, xmax: Double, ymax: Double) {
  def width: Double = xmax - xmin
  def height: Double = ymax - ymin
  def area: Double = width * height
  def intersects(o: Extent): Boolean =
    xmin <= o.xmax && o.xmin <= xmax && ymin <= o.ymax && o.ymin <= ymax
  def contains(x: Double, y: Double): Boolean =
    x >= xmin && x <= xmax && y >= ymin && y <= ymax
  def combine(o: Extent): Extent =
    Extent(math.min(xmin, o.xmin), math.min(ymin, o.ymin),
      math.max(xmax, o.xmax), math.max(ymax, o.ymax))
  def intersection(o: Extent): Option[Extent] = {
    if (!intersects(o)) None
    else Some(Extent(math.max(xmin, o.xmin), math.max(ymin, o.ymin),
      math.min(xmax, o.xmax), math.min(ymax, o.ymax)))
  }
  def toJts: org.locationtech.jts.geom.Geometry = {
    val gf = Extent.geomFactory
    gf.toGeometry(new org.locationtech.jts.geom.Envelope(xmin, xmax, ymin, ymax))
  }
}

object Extent {
  private[graft] val geomFactory = new org.locationtech.jts.geom.GeometryFactory()
  def fromJts(g: org.locationtech.jts.geom.Geometry): Extent = {
    val e = g.getEnvelopeInternal
    Extent(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  }
}

/** Grid coordinates of a tile within a layer (layout) grid. */
final case class SpatialKey(col: Int, row: Int)

/** Integer cell-grid bounding box (inclusive). */
final case class GridBounds(colMin: Int, rowMin: Int, colMax: Int, rowMax: Int) {
  def width: Int = colMax - colMin + 1
  def height: Int = rowMax - rowMin + 1
}

final case class Dimensions(cols: Int, rows: Int)

/**
 * Maps between world coordinates (an Extent) and a cell grid, like the
 * reference's raster extents (GeoTrellis RasterExtent semantics).
 */
final case class RasterExtent(extent: Extent, cols: Int, rows: Int) {
  val cellWidth: Double = extent.width / cols
  val cellHeight: Double = extent.height / rows
  /** World x of cell-column center. */
  def colToX(col: Int): Double = extent.xmin + (col + 0.5) * cellWidth
  /** World y of cell-row center (row 0 = top). */
  def rowToY(row: Int): Double = extent.ymax - (row + 0.5) * cellHeight
  def xToCol(x: Double): Int = math.floor((x - extent.xmin) / cellWidth).toInt
  def yToRow(y: Double): Int = math.floor((extent.ymax - y) / cellHeight).toInt
  /** Continuous column coordinate of x — cell CENTERS sit at integers
    * (col 0's center is 0.0), the convention the interpolating
    * resample kernels sample in. */
  def xToColFrac(x: Double): Double = (x - extent.xmin) / cellWidth - 0.5
  def yToRowFrac(y: Double): Double = (extent.ymax - y) / cellHeight - 0.5
  /** World extent of the cells of `gb`. */
  def extentOf(gb: GridBounds): Extent = Extent(
    extent.xmin + gb.colMin * cellWidth,
    extent.ymax - (gb.rowMax + 1) * cellHeight,
    extent.xmin + (gb.colMax + 1) * cellWidth,
    extent.ymax - gb.rowMin * cellHeight)
  /** Grid bounds (clamped) covering a sub-extent. */
  def gridBoundsFor(sub: Extent): GridBounds = {
    val cMin = math.max(0, xToCol(sub.xmin + cellWidth / 100))
    val cMax = math.min(cols - 1, xToCol(sub.xmax - cellWidth / 100))
    val rMin = math.max(0, yToRow(sub.ymax - cellHeight / 100))
    val rMax = math.min(rows - 1, yToRow(sub.ymin + cellHeight / 100))
    GridBounds(cMin, rMin, cMax, rMax)
  }
}
