package graft.expressions

import graft.core._
import graft.core.crs.CRS
import graft.udt.{GeometryUDT, TileUDT}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Georeferenced tiles: `proj_raster` struct {tile_context: {extent, crs},
 * tile} mirroring the reference's ProjectedRasterTile encoding
 * (/root/reference/core/src/main/scala/org/locationtech/rasterframes/tiles/ProjectedRasterTile.scala:37-63,
 * FIXTURES.md §2), plus the reproject-and-merge kernel behind rasterJoin
 * (reference: functions/package.scala:102-137).
 */
object ProjRaster {
  val schema: StructType = StructType(Seq(
    StructField("tile_context", StructType(Seq(
      StructField("extent", SpatialSupport.extentSchema, nullable = false),
      StructField("crs", StringType, nullable = false))), nullable = false),
    StructField("tile", TileUDT.instance, nullable = true)))

  def isProjRasterType(dt: DataType): Boolean = dt match {
    case st: StructType =>
      st.fieldNames.length == 2 && st.fieldNames.sameElements(Array("tile_context", "tile"))
    case _ => false
  }

  def extentOf(r: InternalRow): Extent = SpatialSupport.extentOf(r.getStruct(0, 2).getStruct(0, 4))
  def crsOf(r: InternalRow): CRS = CRS(r.getStruct(0, 2).getUTF8String(1).toString)
  def tileOf(r: InternalRow): Tile = TileUDT.decode(r.getStruct(1, 4))
}

/** (tile, extent, crs) → proj_raster (reference: transformers/CreateProjectedRaster.scala → rf_proj_raster). */
case class CreateProjectedRaster(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "rf_proj_raster"
  override def dataType: DataType = ProjRaster.schema
  @transient private lazy val te = tileExtractor(first.dataType)
  override def nullSafeEval(t: Any, e: Any, c: Any): Any = {
    val tileRow = tileResult(te(t))
    InternalRow(InternalRow(e.asInstanceOf[InternalRow].copy(),
      UTF8String.fromString(c.toString)), tileRow)
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}

/** Extent accessor for proj_raster / extent (reference: accessors/GetExtent.scala → rf_extent). */
case class GetExtent(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "rf_extent"
  override def dataType: DataType = SpatialSupport.extentSchema
  override def nullSafeEval(input: Any): Any = child.dataType match {
    case dt if ProjRaster.isProjRasterType(dt) =>
      val e = ProjRaster.extentOf(input.asInstanceOf[InternalRow])
      InternalRow(e.xmin, e.ymin, e.xmax, e.ymax)
    case dt if SpatialSupport.isExtentType(dt) => input
    case _ => throw new IllegalArgumentException("rf_extent expects proj_raster or extent")
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** CRS accessor (reference: accessors/GetCRS.scala → rf_crs). */
case class GetCRSExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "rf_crs"
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any = child.dataType match {
    case dt if ProjRaster.isProjRasterType(dt) =>
      UTF8String.fromString(ProjRaster.crsOf(input.asInstanceOf[InternalRow]).normalized)
    case StringType => input
    case _ => throw new IllegalArgumentException("rf_crs expects proj_raster or string")
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** CRS constructor from text (reference: docs reference.md:129-139
  * rf_mk_crs — `SELECT rf_mk_crs('EPSG:4326')`). Normalizes the
  * identifier to the string form every graft CRS column carries and
  * fails analysis-side-visible on identifiers outside the supported
  * registry, where the reference's proj4j would throw at eval. */
case class MkCRS(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "rf_mk_crs"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a CRS identifier string")
  }
  override def nullSafeEval(input: Any): Any = {
    val crs = graft.core.crs.CRS(input.toString)
    require(graft.core.crs.CRS.isSupported(crs),
      s"Unsupported CRS: ${input.toString} (supported: EPSG:4326, EPSG:3857, EPSG:326xx/327xx UTM)")
    UTF8String.fromString(crs.normalized)
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Whole tile-context (extent + crs) accessor of a proj_raster
  * (reference: accessors/GetTileContext.scala → rf_tile_context). */
case class GetTileContext(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "rf_tile_context"
  override def dataType: DataType = StructType(Seq(
    StructField("extent", SpatialSupport.extentSchema, nullable = false),
    StructField("crs", StringType, nullable = false)))
  override def nullSafeEval(input: Any): Any = {
    require(ProjRaster.isProjRasterType(child.dataType),
      "rf_tile_context expects a proj_raster")
    val row = input.asInstanceOf[InternalRow]
    val e = ProjRaster.extentOf(row)
    InternalRow(InternalRow(e.xmin, e.ymin, e.xmax, e.ymax),
      UTF8String.fromString(ProjRaster.crsOf(row).normalized))
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Footprint geometry of a proj_raster (reference: accessors/GetGeometry.scala → rf_geometry). */
case class GetGeometry(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "rf_geometry"
  override def dataType: DataType = GeometryUDT.instance
  override def nullSafeEval(input: Any): Any = {
    val e = ProjRaster.extentOf(input.asInstanceOf[InternalRow])
    GeometryUDT.write(e.toJts)
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/**
 * Mosaic a list of source tiles (+extents +CRSs) onto a destination
 * grid: per-cell resampling through the CRS transform; first data
 * value wins per destination cell. This is the merge step of
 * rasterJoin (reference: `reproject_and_merge`,
 * functions/package.scala:102-137) as a native expression over the
 * collect_list arrays. The optional 8th argument is the
 * resampleMethod the reference threads through RasterJoin
 * (extensions/RasterJoin.scala:68) — any point-interpolation kernel
 * (nearest [default], bilinear, cubic_convolution, cubic_spline,
 * lanczos); a source contributes only where its footprint contains
 * the destination cell center, and interpolation windows clamp at the
 * source tile edge.
 */
case class ReprojectAndMerge(children: Seq[Expression]) extends Expression with CodegenFallback {
  override def prettyName: String = "rf_reproject_and_merge"
  require(children.size == 7 || children.size == 8,
    "reproject_and_merge(tiles, extents, crss, destExtent, destCrs, cols, rows[, method])")
  override def dataType: DataType = TileUDT.instance
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    val method = if (vs.size == 8 && vs(7) != null) vs(7).toString else "nearest"
    if (vs(3) == null || vs(4) == null) return null
    val tiles = vs(0).asInstanceOf[ArrayData]
    val extents = vs(1).asInstanceOf[ArrayData]
    val crss = vs(2).asInstanceOf[ArrayData]
    val destCrs = CRS(vs(4).toString)
    val destRE = RasterExtent(SpatialSupport.extentOf(vs(3).asInstanceOf[InternalRow]),
      vs(5).asInstanceOf[Number].intValue(), vs(6).asInstanceOf[Number].intValue())
    val out = Warp.grid(destRE)
    if (tiles == null) return tileResult(out)
    val all = GridBounds(0, 0, destRE.cols - 1, destRE.rows - 1)
    var k = 0
    while (k < tiles.numElements()) {
      if (!tiles.isNullAt(k)) {
        val t = TileUDT.decode(tiles.getStruct(k, 4))
        val srcRE = RasterExtent(SpatialSupport.extentOf(extents.getStruct(k, 4)), t.cols, t.rows)
        Warp.paint(out, destRE, destCrs, all, t, srcRE, CRS(crss.getUTF8String(k).toString), method)
      }
      k += 1
    }
    tileResult(out)
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) = copy(cs)
}
