package graft.expressions

import graft.core._
import graft.core.crs.CRS
import graft.udt.TileUDT
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/**
 * rf_agg_overview_raster: mosaic every row's proj_raster onto one fixed
 * target grid (reference: TileRasterizerAggregate,
 * /root/reference/core/src/main/scala/org/locationtech/rasterframes/expressions/aggregates/TileRasterizerAggregate.scala:44-96).
 * Buffer = the destination float64 grid tile, serialized as its own
 * payload; merge is cell-wise first-wins,
 * so partial aggregation works and the shuffle carries one grid per
 * partition regardless of input size.
 */
case class OverviewRasterAggregate(
    child: Expression, // proj_raster
    destCols: Int, destRows: Int,
    destExtent: Extent, destCrsName: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MutableTile]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override def prettyName: String = "rf_agg_overview_raster"
  override def dataType: DataType = TileUDT.instance
  override def nullable: Boolean = false
  @transient private lazy val destCrs = CRS(destCrsName)
  @transient private lazy val destRE = RasterExtent(destExtent, destCols, destRows)

  override def createAggregationBuffer(): MutableTile = Warp.grid(destRE)

  override def update(buf: MutableTile, input: InternalRow): MutableTile = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      val srcExtent = ProjRaster.extentOf(row)
      val srcCrs = ProjRaster.crsOf(row)
      val t = ProjRaster.tileOf(row)
      // only the destination cells covered by this tile's footprint
      val footprint =
        if (srcCrs.normalized == destCrs.normalized) srcExtent
        else {
          val (x0, y0) = CRS.transform(srcExtent.xmin, srcExtent.ymin, srcCrs, destCrs)
          val (x1, y1) = CRS.transform(srcExtent.xmax, srcExtent.ymax, srcCrs, destCrs)
          Extent(math.min(x0, x1), math.min(y0, y1), math.max(x0, x1), math.max(y0, y1))
        }
      destExtent.intersection(footprint).foreach { inter =>
        Warp.paint(buf, destRE, destCrs, destRE.gridBoundsFor(inter),
          t, RasterExtent(srcExtent, t.cols, t.rows), srcCrs, "nearest")
      }
    }
    buf
  }
  override def merge(a: MutableTile, b: MutableTile): MutableTile = {
    var i = 0
    while (i < a.size) {
      if (NoData.isNoData(a.getDouble(i))) { val v = b.getDouble(i); if (NoData.isData(v)) a.setDouble(i, v) }
      i += 1
    }
    a
  }
  override def eval(buf: MutableTile): Any = tileResult(buf)
  override def serialize(buf: MutableTile): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): MutableTile =
    Tile.fromBytes(bytes, CellType.float64, destCols, destRows)
  override def withNewMutableAggBufferOffset(o: Int) = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int) = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
