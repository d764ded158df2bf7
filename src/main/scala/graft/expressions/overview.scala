package graft.expressions

import java.nio.{ByteBuffer, ByteOrder}

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
 * Buffer = the destination double grid; merge is cell-wise first-wins,
 * so partial aggregation works and the shuffle carries one grid per
 * partition regardless of input size.
 */
case class OverviewRasterAggregate(
    child: Expression, // proj_raster
    destCols: Int, destRows: Int,
    destExtent: Extent, destCrsName: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override def prettyName: String = "rf_agg_overview_raster"
  override def dataType: DataType = TileUDT.instance
  override def nullable: Boolean = false
  @transient private lazy val destCrs = CRS(destCrsName)
  @transient private lazy val destRE = RasterExtent(destExtent, destCols, destRows)

  private def asTile(buf: Array[Double]) = new DoubleArrayTile(buf, destCols, destRows, CellType.float64)

  override def createAggregationBuffer(): Array[Double] =
    Array.fill(destCols * destRows)(Double.NaN)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
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
        Warp.paint(asTile(buf), destRE, destCrs, destRE.gridBoundsFor(inter),
          t, RasterExtent(srcExtent, t.cols, t.rows), srcCrs, "nearest")
      }
    }
    buf
  }
  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { if (NoData.isNoData(a(i)) && NoData.isData(b(i))) a(i) = b(i); i += 1 }
    a
  }
  override def eval(buf: Array[Double]): Any = tileResult(asTile(buf))
  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(buf); bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(out)
    out
  }
  override def withNewMutableAggBufferOffset(o: Int) = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int) = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
