package graft.expressions

import graft.core._
import graft.core.geotiff.GeoTiff
import graft.udt.{RefTile, TileUDT}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Multiband raster-source generator: band path columns → one row per
 * subtile window with one tile column per band. The executor reads only
 * FILE METADATA here; cell bytes follow lazily (RefTile) or eagerly, one
 * span per tile row of keys and band file. Band files must match the
 * first band file's dimensions and cell type. This is the reference's
 * catalog-expansion pipeline (rf_raster_source_to_raster_refs + RasterRefToTile,
 * /root/reference/core/src/main/scala/org/locationtech/rasterframes/expressions/generators/RasterSourceToRasterRefs.scala:47-101)
 * as a single Catalyst Generator.
 */
case class RasterSourceToTiles(
    children: Seq[Expression],
    tileCols: Int = 256,
    tileRows: Int = 256,
    lazyTiles: Boolean = true)
    extends Expression with Generator with CodegenFallback {

  private def bandName(i: Int): String = children(i) match {
    case ne: NamedExpression => ne.name
    case _ => s"band_$i"
  }

  override def elementSchema: StructType = StructType(
    Seq(
      StructField("spatial_key", StructType(Seq(
        StructField("col", IntegerType, nullable = false),
        StructField("row", IntegerType, nullable = false))), nullable = false),
      StructField("extent", SpatialSupport.extentSchema, nullable = false),
      StructField("crs", StringType, nullable = false)) ++
      children.indices.map(i => StructField(bandName(i), TileUDT.instance, nullable = true)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val paths = children.map { c =>
      val v = c.eval(input)
      if (v == null) null else v.toString
    }
    val primary = paths.find(_ != null).getOrElse(return Iterator.empty)
    val info = RefTile.info(primary)
    // every band's windows and cell type come from the primary file
    val infos = paths.map {
      case null => null
      case p =>
        val b = RefTile.info(p)
        if (b.cols != info.cols || b.rows != info.rows || b.cellType != info.cellType)
          throw new IllegalArgumentException(
            s"band file $p is ${b.cols}x${b.rows} ${b.cellType} but the first band file " +
              s"$primary is ${info.cols}x${info.rows} ${info.cellType}; " +
              "every band must share the first band's dimensions and cell type")
        b
    }
    val re = info.rasterExtent
    val keysAcross = (info.cols + tileCols - 1) / tileCols
    val keysDown = (info.rows + tileRows - 1) / tileRows
    // eager: one channel per band file and one span per tile row of keys,
    // so each strip or TIFF tile is read once
    val readers = paths.map(p => if (p == null || lazyTiles) null else new GeoTiff.FileRangeReader(p))
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    try {
      var kr = 0
      while (kr < keysDown) {
        val rowMax = math.min(info.rows - 1, (kr + 1) * tileRows - 1)
        val spans = readers.indices.map { b =>
          if (readers(b) == null) null
          else GeoTiff.readSpan(readers(b), infos(b), GridBounds(0, kr * tileRows, info.cols - 1, rowMax))
        }
        var kc = 0
        while (kc < keysAcross) {
          val win = GridBounds(kc * tileCols, kr * tileRows,
            math.min(info.cols - 1, (kc + 1) * tileCols - 1), rowMax)
          val extent = Extent(
            info.extent.xmin + win.colMin * re.cellWidth,
            info.extent.ymax - (win.rowMax + 1) * re.cellHeight,
            info.extent.xmin + (win.colMax + 1) * re.cellWidth,
            info.extent.ymax - win.rowMin * re.cellHeight)
          val bands: Seq[Any] = paths.indices.map { b =>
            if (paths(b) == null) null
            else if (lazyTiles)
              TileUDT.encode(new RefTile(paths(b), win, info.cellType, win.width, win.height))
            else TileUDT.encode(spans(b).window(win, 0))
          }
          out += new GenericInternalRow(
            (Seq(InternalRow(kc, kr),
              InternalRow(extent.xmin, extent.ymin, extent.xmax, extent.ymax),
              UTF8String.fromString(info.crs.normalized)) ++ bands).toArray[Any])
          kc += 1
        }
        kr += 1
      }
    } finally readers.foreach(r => if (r != null) r.close())
    out
  }

  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(children = cs)
}
