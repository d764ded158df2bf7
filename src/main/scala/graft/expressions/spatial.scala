package graft.expressions

import graft.core.{CellType, Extent, NoData, Tile}
import graft.core.crs.CRS
import graft.udt.{GeometryUDT, TileUDT}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory

/**
 * Vector/spatial expressions: the st_* library the reference inherits
 * from GeoMesa spark-jts plus its own additions
 * (/root/reference/core/src/main/scala/org/locationtech/rasterframes/expressions/SpatialRelation.scala:42-132,
 * transformers/ReprojectGeometry.scala, transformers/XZ2Indexer.scala,
 * Z2Indexer.scala, ExtentToGeometry.scala, GeometryToExtent.scala) —
 * re-implemented over JTS 1.20 (on classpath) and graft's CRS core.
 */
object SpatialSupport {
  val extentSchema: StructType = StructType(Seq(
    StructField("xmin", DoubleType, nullable = false),
    StructField("ymin", DoubleType, nullable = false),
    StructField("xmax", DoubleType, nullable = false),
    StructField("ymax", DoubleType, nullable = false)))

  val geomFactory = new GeometryFactory()

  /** An extent struct (xmin, ymin, xmax, ymax), as Catalyst or as an external row. */
  def extentOf(e: InternalRow): Extent =
    Extent(e.getDouble(0), e.getDouble(1), e.getDouble(2), e.getDouble(3))
  def extentOf(e: Row): Extent =
    Extent(e.getDouble(0), e.getDouble(1), e.getDouble(2), e.getDouble(3))

  def isExtentType(dt: DataType): Boolean = dt match {
    case st: StructType =>
      st.fieldNames.length == 4 && st.fieldNames.sameElements(extentSchema.fieldNames)
    case _ => false
  }

  /** Accept geometry UDT / WKB binary / extent struct as a geometry (the
    * DynamicExtractors discipline, SURVEY.md §1.3). */
  def geomExtractor(dt: DataType): Any => Geometry = dt match {
    case _: GeometryUDT => { case b: Array[Byte] => GeometryUDT.read(b) }
    case BinaryType => { case b: Array[Byte] => GeometryUDT.read(b) }
    case st: StructType if isExtentType(st) => { case r: InternalRow => extentOf(r).toJts }
    case other => throw new IllegalArgumentException(
      s"Expected geometry or extent argument, got ${other.simpleString(10)}")
  }

  def isGeomLike(dt: DataType): Boolean = dt match {
    case _: GeometryUDT | BinaryType => true
    case st: StructType => isExtentType(st)
    case _ => false
  }

  def extentRow(e: org.locationtech.jts.geom.Envelope): InternalRow =
    InternalRow(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)

  def serialize(g: Geometry): Array[Byte] = GeometryUDT.write(g)
}

import SpatialSupport._

abstract class GeomUnaryOp extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a geometry argument")
  @transient protected lazy val geom: Any => Geometry = geomExtractor(child.dataType)
}

case class GeomFromWKT(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_geomfromwkt"
  override def dataType: DataType = GeometryUDT.instance
  @transient private lazy val reader =
    new org.locationtech.jts.io.WKTReader(geomFactory)
  override def nullSafeEval(input: Any): Any =
    serialize(reader.read(input.toString))
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class GeomAsWKT(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_astext"
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(geom(input).toText)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class MakePoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_makepoint"
  override def dataType: DataType = GeometryUDT.instance
  @transient private lazy val xe = doubleExtractor(left.dataType)
  @transient private lazy val ye = doubleExtractor(right.dataType)
  override def nullSafeEval(x: Any, y: Any): Any =
    serialize(geomFactory.createPoint(new Coordinate(xe(x), ye(y))))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class GeomCentroid(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_centroid"
  override def dataType: DataType = GeometryUDT.instance
  override def nullSafeEval(input: Any): Any = serialize(geom(input).getCentroid)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class GeomArea(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_area"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any = geom(input).getArea
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class GeomLength(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_length"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any = geom(input).getLength
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class GeomX(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_x"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any = geom(input).getCoordinate.x
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
case class GeomY(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_y"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any = geom(input).getCoordinate.y
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

case class GeomBuffer(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_buffer"
  override def dataType: DataType = GeometryUDT.instance
  @transient private lazy val ge = geomExtractor(left.dataType)
  @transient private lazy val de = doubleExtractor(right.dataType)
  override def nullSafeEval(g: Any, d: Any): Any = serialize(ge(g).buffer(de(d)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Euclidean distance between two geometries in their (shared) CRS
  * units (reference surface via the GeoMesa spark-jts mixin,
  * rasterframes/package.scala:44). */
case class GeomDistance(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_distance"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && isGeomLike(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two geometry arguments")
  @transient private lazy val ga = geomExtractor(left.dataType)
  @transient private lazy val gb = geomExtractor(right.dataType)
  override def nullSafeEval(a: Any, b: Any): Any = ga(a).distance(gb(b))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** True when the geometries lie within `d` of each other — JTS
  * short-circuits on the envelope distance, so this is cheaper than
  * `st_distance(a, b) <= d` for far-apart pairs. */
case class GeomWithinDistance(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "st_within_distance"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(first.dataType) && isGeomLike(second.dataType) &&
        third.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (geometry, geometry, numeric distance)")
  @transient private lazy val ga = geomExtractor(first.dataType)
  @transient private lazy val gb = geomExtractor(second.dataType)
  @transient private lazy val de = doubleExtractor(third.dataType)
  override def nullSafeEval(a: Any, b: Any, d: Any): Any =
    ga(a).isWithinDistance(gb(b), de(d))
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression) = copy(f, s, t)
}

abstract class GeomBinarySetOp extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && isGeomLike(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two geometry arguments")
  @transient protected lazy val ga: Any => Geometry = geomExtractor(left.dataType)
  @transient protected lazy val gb: Any => Geometry = geomExtractor(right.dataType)
}

/** Geometric intersection (JTS overlay). */
case class GeomIntersection(left: Expression, right: Expression) extends GeomBinarySetOp {
  override def prettyName: String = "st_intersection"
  override def nullSafeEval(a: Any, b: Any): Any = serialize(ga(a).intersection(gb(b)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Geometric union (JTS overlay). */
case class GeomUnion(left: Expression, right: Expression) extends GeomBinarySetOp {
  override def prettyName: String = "st_union"
  override def nullSafeEval(a: Any, b: Any): Any = serialize(ga(a).union(gb(b)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Geometric difference a \ b (JTS overlay). */
case class GeomDifference(left: Expression, right: Expression) extends GeomBinarySetOp {
  override def prettyName: String = "st_difference"
  override def nullSafeEval(a: Any, b: Any): Any = serialize(ga(a).difference(gb(b)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Vertex count of the geometry (JTS getNumPoints). */
case class GeomNPoints(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_npoints"
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any = geom(input).getNumPoints
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** True for the empty geometry (e.g. an empty overlay result). */
case class GeomIsEmpty(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_isempty"
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any = geom(input).isEmpty
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** OGC validity of the geometry (JTS isValid). */
case class GeomIsValid(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_isvalid"
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any = geom(input).isValid
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Convex hull of a geometry. */
case class GeomConvexHull(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_convexhull"
  override def dataType: DataType = GeometryUDT.instance
  override def nullSafeEval(input: Any): Any = serialize(geom(input).convexHull())
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Douglas–Peucker simplification with the given tolerance (topology
  * not guaranteed preserved — the standard st_simplify contract). */
case class GeomSimplify(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_simplify"
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && right.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (geometry, numeric tolerance)")
  @transient private lazy val ge = geomExtractor(left.dataType)
  @transient private lazy val de = doubleExtractor(right.dataType)
  override def nullSafeEval(g: Any, t: Any): Any = serialize(
    org.locationtech.jts.simplify.DouglasPeuckerSimplifier.simplify(ge(g), de(t)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** JTS geometry-type name ("Point", "LineString", "Polygon", ...) —
  * the GeoMesa spark-jts st_geometryType contract the reference
  * re-exports (ref rasterframes/package.scala:44). */
case class GeomType(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_geometrytype"
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(geom(input).getGeometryType)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Member count of a geometry collection (1 for a simple geometry). */
case class GeomNumGeometries(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_numgeometries"
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any = geom(input).getNumGeometries
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** 1-based nth vertex of a LineString (negative n counts from the end,
  * the PostGIS extension of the contract); NULL when out of range or
  * not a line. */
case class GeomPointN(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_pointn"
  override def dataType: DataType = GeometryUDT.instance
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) &&
        (right.dataType == IntegerType || right.dataType == LongType ||
          right.dataType == ShortType || right.dataType == ByteType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (geometry, integral index)")
  @transient private lazy val ge = geomExtractor(left.dataType)
  override def nullSafeEval(g: Any, n: Any): Any = ge(g) match {
    case line: org.locationtech.jts.geom.LineString =>
      val raw = n.asInstanceOf[Number].intValue()
      val i = if (raw < 0) line.getNumPoints + raw else raw - 1
      if (i < 0 || i >= line.getNumPoints) null
      else serialize(line.getPointN(i))
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Exterior ring of a Polygon as a LineString; NULL for other types. */
case class GeomExteriorRing(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_exteriorring"
  override def dataType: DataType = GeometryUDT.instance
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = geom(input) match {
    case p: org.locationtech.jts.geom.Polygon => serialize(p.getExteriorRing)
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Rigid translation of every coordinate by (dx, dy). */
case class GeomTranslate(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "st_translate"
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(first.dataType) && second.dataType.isInstanceOf[NumericType] &&
        third.dataType.isInstanceOf[NumericType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (geometry, numeric dx, numeric dy)")
  @transient private lazy val ge = geomExtractor(first.dataType)
  @transient private lazy val dxe = doubleExtractor(second.dataType)
  @transient private lazy val dye = doubleExtractor(third.dataType)
  override def nullSafeEval(g: Any, dx: Any, dy: Any): Any = {
    val (tx, ty) = (dxe(dx), dye(dy))
    val out = ge(g).copy()
    out.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: Coordinate): Unit = { c.x += tx; c.y += ty }
    })
    out.geometryChanged()
    serialize(out)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** Point on geometry A nearest to geometry B (JTS DistanceOp); equals a
  * point of A's interior when B intersects A. */
case class GeomClosestPoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_closestpoint"
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && isGeomLike(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two geometry arguments")
  @transient private lazy val ae = geomExtractor(left.dataType)
  @transient private lazy val be = geomExtractor(right.dataType)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val pts = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(ae(a), be(b))
    serialize(geomFactory.createPoint(pts(0)))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** geometry/extent → extent struct (reference: transformers/GeometryToExtent.scala → st_extent). */
case class GeometryToExtent(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_extent"
  override def dataType: DataType = extentSchema
  override def nullSafeEval(input: Any): Any =
    extentRow(geom(input).getEnvelopeInternal)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** geometry → JTS envelope struct, (minx, maxx, miny, maxy) field order
  * as in the reference (accessors/GetEnvelope.scala:53-57 → rf_envelope). */
case class GeomEnvelope(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "rf_envelope"
  override def dataType: DataType = StructType(Seq(
    StructField("minx", DoubleType, nullable = false),
    StructField("maxx", DoubleType, nullable = false),
    StructField("miny", DoubleType, nullable = false),
    StructField("maxy", DoubleType, nullable = false)))
  override def nullSafeEval(input: Any): Any = {
    val env = geom(input).getEnvelopeInternal
    InternalRow(env.getMinX, env.getMaxX, env.getMinY, env.getMaxY)
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** extent struct → polygon geometry (reference: transformers/ExtentToGeometry.scala → st_geometry). */
case class ExtentToGeometry(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_geometry"
  override def dataType: DataType = GeometryUDT.instance
  override def nullSafeEval(input: Any): Any = serialize(geom(input))
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Coordinate-wise CRS transform (reference: transformers/ReprojectGeometry.scala → st_reproject). */
case class ReprojectGeometry(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "st_reproject"
  override def dataType: DataType = GeometryUDT.instance
  @transient private lazy val ge = geomExtractor(first.dataType)
  override def nullSafeEval(g: Any, src: Any, dst: Any): Any =
    serialize(CRS.transformGeometry(ge(g), CRS(src.toString), CRS(dst.toString)))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
}

/** Binary spatial predicates; both sides may be geometry or extent
  * (reference: expressions/SpatialRelation.scala:42-132). */
case class SpatialRelation(left: Expression, right: Expression, op: String)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = s"st_${op.toLowerCase}"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && isGeomLike(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects geometry/extent arguments")
  @transient private lazy val le = geomExtractor(left.dataType)
  @transient private lazy val re = geomExtractor(right.dataType)
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = le(l); val b = re(r)
    op match {
      case "Intersects" => a.intersects(b)
      case "Contains" => a.contains(b)
      case "Covers" => a.covers(b)
      case "Crosses" => a.crosses(b)
      case "Disjoint" => a.disjoint(b)
      case "Overlaps" => a.overlaps(b)
      case "Touches" => a.touches(b)
      case "Within" => a.within(b)
      case "Equals" => a.equalsTopo(b)
      case other => throw new IllegalArgumentException(s"Unknown relation $other")
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/**
 * Z2 space-filling-curve index of a geometry's centroid: lon/lat scaled
 * to `resolution` bits per dimension and bit-interleaved (public Morton
 * order algorithm; role of the reference's transformers/Z2Indexer.scala).
 */
case class Z2Index(left: Expression, right: Expression, resolution: Int = 31)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "rf_z2_index"
  override def dataType: DataType = LongType
  @transient private lazy val ge = geomExtractor(left.dataType)
  override def nullSafeEval(g: Any, crsStr: Any): Any = {
    val c = ge(g).getCentroid
    val crs = CRS(crsStr.toString)
    val (lon, lat) = CRS.toLonLat(c.getX, c.getY, crs)
    val nx = ((lon + 180.0) / 360.0 * ((1L << resolution) - 1)).toLong
    val ny = ((lat + 90.0) / 180.0 * ((1L << resolution) - 1)).toLong
    Z2Index.interleave(nx, ny, resolution)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}
object Z2Index {
  def interleave(x: Long, y: Long, bits: Int): Long = {
    var out = 0L
    var i = 0
    while (i < bits && i < 31) {
      out |= ((x >> i) & 1L) << (2 * i)
      out |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }
}

/**
 * Hilbert-curve index of a geometry's centroid — the locality-FIRST
 * companion of [[Z2Index]]: consecutive Hilbert cells are always
 * grid-adjacent (Z-order jumps at quadrant seams), so range scans over
 * a Hilbert-sorted layout touch fewer distant cells — the property
 * that matters when the index keys a 100 TB table's file layout.
 * Standard bitwise xy→d walk (Hilbert 1891; the public rot/reflect
 * formulation popularized by Warren's Hacker's Delight) over the
 * [[Z2Index]] lon/lat grid normalization; all-integer state, so the
 * DuckDB oracle replays the walk with one recursive CTE. Beyond the
 * reference's surface (it ships z2/xz2 only — Z2Indexer.scala,
 * XZ2Indexer.scala); public algorithm, own implementation.
 */
case class HilbertIndex(left: Expression, right: Expression, resolution: Int = 16)
    extends BinaryExpression with CodegenFallback {
  require(resolution >= 1 && resolution <= 31,
    s"rf_hilbert_index resolution must be in [1, 31], got $resolution")
  override def prettyName: String = "rf_hilbert_index"
  override def dataType: DataType = LongType
  @transient private lazy val ge = geomExtractor(left.dataType)
  override def nullSafeEval(g: Any, crsStr: Any): Any = {
    val c = ge(g).getCentroid
    val crs = CRS(crsStr.toString)
    val (lon, lat) = CRS.toLonLat(c.getX, c.getY, crs)
    val nx = ((lon + 180.0) / 360.0 * ((1L << resolution) - 1)).toLong
    val ny = ((lat + 90.0) / 180.0 * ((1L << resolution) - 1)).toLong
    HilbertIndex.xy2d(resolution, nx, ny)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}
/** [[HilbertIndex]]'s raw-key twin for layout control: the same
  * xy2d walk over two NON-NEGATIVE integer keys (masked to
  * `resolution` bits), no geometry/CRS — the [[graft.pipeline.Layout]]
  * interleave for `hilbertWrite`. A chained-Column formulation would
  * duplicate x/y subtrees ~3× per level (3^16 plan nodes at order 16);
  * one scalar kernel keeps the plan a single node. */
case class HilbertKeyIndex(left: Expression, right: Expression,
    resolution: Int = 16)
    extends BinaryExpression with CodegenFallback {
  require(resolution >= 1 && resolution <= 31,
    s"hilbert key resolution must be in [1, 31], got $resolution")
  override def prettyName: String = "pl_hilbert_index"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (bigint, bigint), got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  override def nullSafeEval(a: Any, b: Any): Any = {
    val mask = (1L << resolution) - 1
    HilbertIndex.xy2d(resolution,
      a.asInstanceOf[Long] & mask, b.asInstanceOf[Long] & mask)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object HilbertIndex {
  /** xy → distance along the order-`res` Hilbert curve; exact long
    * walk from the top bit down — the canonical reflect-over-the-FULL-
    * grid (n−1−x) + swap rotation per level. */
  def xy2d(res: Int, x0: Long, y0: Long): Long = {
    val n = 1L << res
    var x = x0
    var y = y0
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/**
 * XZ2 index for extended objects (extents): the XZ-ordering of Böhm,
 * Klump & Kriegel — enlarged quadtree elements so a box maps to ONE
 * cell (no duplication). Public algorithm, own implementation; role of
 * the reference's transformers/XZ2Indexer.scala.
 */
case class XZ2Index(left: Expression, right: Expression, resolution: Int = 18)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "rf_xz2_index"
  override def dataType: DataType = LongType
  @transient private lazy val ge = geomExtractor(left.dataType)
  override def nullSafeEval(g: Any, crsStr: Any): Any = {
    val env = ge(g).getEnvelopeInternal
    val crs = CRS(crsStr.toString)
    val (lonMin, latMin) = CRS.toLonLat(env.getMinX, env.getMinY, crs)
    val (lonMax, latMax) = CRS.toLonLat(env.getMaxX, env.getMaxY, crs)
    // normalize to [0,1]²
    val xmin = (lonMin + 180.0) / 360.0
    val xmax = (lonMax + 180.0) / 360.0
    val ymin = (latMin + 90.0) / 180.0
    val ymax = (latMax + 90.0) / 180.0
    XZ2Index.index(xmin, ymin, xmax, ymax, resolution)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}
object XZ2Index {
  /** Sequence code of the enlarged element covering the normalized box. */
  def index(xmin: Double, ymin: Double, xmax: Double, ymax: Double, g: Int): Long = {
    val maxDim = math.max(xmax - xmin, ymax - ymin)
    // length l of the enlarged element: largest level whose doubled cell covers the box
    val l1 =
      if (maxDim <= 0) g
      else math.floor(math.log(maxDim) / math.log(0.5)).toInt
    val length =
      if (l1 >= g) g
      else {
        val w2 = math.pow(0.5, l1 + 1)
        def fits(min: Double, max: Double): Boolean =
          math.floor(min / w2) * w2 + 2 * w2 >= max
        if (fits(xmin, xmax) && fits(ymin, ymax)) math.min(l1 + 1, g) else math.min(l1, g)
      }
    // sequence code: interleaved quadtree walk to `length`
    var cs = 0L
    var xLo = 0.0; var yLo = 0.0
    var i = 0
    while (i < length) {
      val cw = math.pow(0.5, i + 1)
      val xBit = xmin >= xLo + cw
      val yBit = ymin >= yLo + cw
      val quad = (if (xBit) 1 else 0) + (if (yBit) 2 else 0)
      // IC(i) = (4^(g-i) - 1) / 3  — size of a subtree at this level
      val subtree = (math.pow(4, g - i).toLong - 1L) / 3L
      cs += 1L + quad * subtree
      if (xBit) xLo += cw
      if (yBit) yLo += cw
      i += 1
    }
    cs
  }
}

/**
 * Burn a geometry into a tile: cells whose centers are covered by the
 * geometry get `value`, others NoData (reference: rf_rasterize UDF,
 * functions/package.scala:162-169; ours uses a JTS prepared geometry
 * and per-row center tests).
 */
case class Rasterize(children: Seq[Expression]) extends Expression with CodegenFallback {
  override def prettyName: String = "rf_rasterize"
  require(children.size == 5, "rf_rasterize(geom, boundsExtentOrGeom, value, cols, rows)")
  override def dataType: DataType = TileUDT.instance
  override def nullable: Boolean = true
  @transient private lazy val ge = geomExtractor(children(0).dataType)
  @transient private lazy val be = geomExtractor(children(1).dataType)
  @transient private lazy val ve = doubleExtractor(children(2).dataType)
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) return null
    val g = ge(vs(0))
    val bounds = Extent.fromJts(be(vs(1)))
    val value = ve(vs(2))
    val cols = vs(3).asInstanceOf[Number].intValue()
    val rows = vs(4).asInstanceOf[Number].intValue()
    val prep = PreparedGeometryFactory.prepare(g)
    val re = graft.core.RasterExtent(bounds, cols, rows)
    val t = Tile.empty(CellType.int32, cols, rows)
    var r = 0
    while (r < rows) {
      val y = re.rowToY(r)
      var c = 0
      while (c < cols) {
        val p = geomFactory.createPoint(new Coordinate(re.colToX(c), y))
        if (prep.covers(p)) t.setDouble(r * cols + c, value)
        c += 1
      }
      r += 1
    }
    tileResult(t)
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) = copy(cs)
}

// ---------------------------------------------------------------------------
// GeoMesa spark-jts long tail (the reference re-exports the whole mixin via
// rasterframes/package.scala:44): accessors, constructors, casts, output
// formats, spherical metrics and DE-9IM relate — re-implemented over JTS.
// ---------------------------------------------------------------------------

/** Topological boundary (JTS getBoundary): polygon → its rings as lines,
  * line → endpoints, point → empty. */
case class GeomBoundary(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_boundary"
  override def dataType: DataType = GeometryUDT.instance
  override def nullSafeEval(input: Any): Any = serialize(geom(input).getBoundary)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Topological dimension: 0 point, 1 line, 2 polygon (collection = max). */
case class GeomDimension(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_dimension"
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any = geom(input).getDimension
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Coordinate dimension — 2 unless a vertex carries a real Z (WKB here is
  * always 2-D, so stored columns answer 2; in-flight 3-D JTS objects from a
  * user extension answer 3). */
case class GeomCoordDim(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_coorddim"
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any = {
    val c = geom(input).getCoordinate
    if (c != null && !java.lang.Double.isNaN(c.getZ)) 3 else 2
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** True when a (multi)line starts and ends at the same point; true for
  * non-line types (the spark-jts/PostGIS convention). */
case class GeomIsClosed(child: Expression) extends GeomUnaryOp {
  import org.locationtech.jts.geom.{LineString, MultiLineString}
  override def prettyName: String = "st_isclosed"
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any = geom(input) match {
    case l: LineString => l.isClosed
    case m: MultiLineString => m.isClosed
    case _ => true
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** True when the geometry is a GeometryCollection (incl. Multi*). */
case class GeomIsCollection(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_iscollection"
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any =
    geom(input).isInstanceOf[org.locationtech.jts.geom.GeometryCollection]
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** True when the line is a ring (closed and simple); NULL for non-lines. */
case class GeomIsRing(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_isring"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = geom(input) match {
    case l: org.locationtech.jts.geom.LineString => l.isRing
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** OGC simplicity (JTS isSimple): no self-intersection/self-tangency. */
case class GeomIsSimple(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_issimple"
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any = geom(input).isSimple
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** 1-based nth member of a collection (the PostGIS convention); the
  * geometry itself for n=1 on a simple geometry; NULL out of range. */
case class GeomGeometryN(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_geometryn"
  override def dataType: DataType = GeometryUDT.instance
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) &&
        (right.dataType == IntegerType || right.dataType == LongType ||
          right.dataType == ShortType || right.dataType == ByteType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (geometry, integral index)")
  @transient private lazy val ge = geomExtractor(left.dataType)
  override def nullSafeEval(g: Any, n: Any): Any = {
    val geom = ge(g)
    val i = n.asInstanceOf[Number].intValue() - 1
    if (i < 0 || i >= geom.getNumGeometries) null
    else serialize(geom.getGeometryN(i))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** 1-based nth interior ring of a polygon as a LineString; NULL out of
  * range or for non-polygons. */
case class GeomInteriorRingN(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_interiorringn"
  override def dataType: DataType = GeometryUDT.instance
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) &&
        (right.dataType == IntegerType || right.dataType == LongType ||
          right.dataType == ShortType || right.dataType == ByteType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (geometry, integral index)")
  @transient private lazy val ge = geomExtractor(left.dataType)
  override def nullSafeEval(g: Any, n: Any): Any = ge(g) match {
    case p: org.locationtech.jts.geom.Polygon =>
      val i = n.asInstanceOf[Number].intValue() - 1
      if (i < 0 || i >= p.getNumInteriorRing) null
      else serialize(p.getInteriorRingN(i))
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Envelope as a GEOMETRY (degenerate inputs give point/line, the JTS
  * getEnvelope contract) — distinct from st_extent's struct. */
case class GeomEnvelopeGeom(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_envelope"
  override def dataType: DataType = GeometryUDT.instance
  override def nullSafeEval(input: Any): Any = serialize(geom(input).getEnvelope)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** LineString through an array of points, in array order. */
case class GeomMakeLine(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_makeline"
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(et, _) if isGeomLike(et) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<geometry>")
  }
  @transient private lazy val ge =
    geomExtractor(child.dataType.asInstanceOf[ArrayType].elementType)
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val coords = Array.tabulate(arr.numElements()) { i =>
      ge(arr.getBinary(i)).getCoordinate
    }
    serialize(geomFactory.createLineString(coords))
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Polygon from a closed LineString shell. */
case class GeomMakePolygon(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_makepolygon"
  override def dataType: DataType = GeometryUDT.instance
  override def nullSafeEval(input: Any): Any = {
    val shell = geom(input) match {
      case r: org.locationtech.jts.geom.LinearRing => r
      case l: org.locationtech.jts.geom.LineString =>
        geomFactory.createLinearRing(l.getCoordinateSequence)
      case other => throw new IllegalArgumentException(
        s"st_makepolygon expects a closed LineString, got ${other.getGeometryType}")
    }
    serialize(geomFactory.createPolygon(shell))
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Axis-aligned box polygon spanning two corner points. */
case class GeomMakeBox2D(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_makebox2d"
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && isGeomLike(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two point arguments")
  @transient private lazy val ae = geomExtractor(left.dataType)
  @transient private lazy val be = geomExtractor(right.dataType)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (p, q) = (ae(a).getCoordinate, be(b).getCoordinate)
    serialize(Extent(math.min(p.x, q.x), math.min(p.y, q.y),
      math.max(p.x, q.x), math.max(p.y, q.y)).toJts)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Downcast to an expected geometry subtype, NULL when the value is a
  * different type (the spark-jts st_castTo* contract). */
case class GeomCastTo(child: Expression, typeName: String)
    extends GeomUnaryOp {
  override def prettyName: String = s"st_castto${typeName.toLowerCase}"
  override def dataType: DataType = GeometryUDT.instance
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val g = geom(input)
    if (typeName == "Geometry" || g.getGeometryType == typeName) serialize(g) else null
  }
  override protected def withNewChildInternal(c: Expression) =
    copy(child = c)
}

/** UTF-8 bytes of a string (the spark-jts st_byteArray helper). */
case class StringToByteArray(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_bytearray"
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string argument")
  override def nullSafeEval(input: Any): Any =
    input.asInstanceOf[UTF8String].toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** GeoJSON geometry fragment (RFC 7946, no whitespace; coordinates in
  * shortest round-trip decimal — Java's Double.toString). */
case class GeomAsGeoJson(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_asgeojson"
  override def dataType: DataType = StringType
  private def coord(c: Coordinate): String = s"[${c.x},${c.y}]"
  private def ring(cs: Array[Coordinate]): String = cs.map(coord).mkString("[", ",", "]")
  private def enc(g: Geometry): String = g match {
    case p: org.locationtech.jts.geom.Point =>
      s"""{"type":"Point","coordinates":${coord(p.getCoordinate)}}"""
    case l: org.locationtech.jts.geom.LineString =>
      s"""{"type":"LineString","coordinates":${ring(l.getCoordinates)}}"""
    case p: org.locationtech.jts.geom.Polygon =>
      val rings = (Seq(p.getExteriorRing) ++
        (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
        .map(r => ring(r.getCoordinates)).mkString("[", ",", "]")
      s"""{"type":"Polygon","coordinates":$rings}"""
    case m: org.locationtech.jts.geom.MultiPoint =>
      val cs = (0 until m.getNumGeometries)
        .map(i => coord(m.getGeometryN(i).getCoordinate)).mkString("[", ",", "]")
      s"""{"type":"MultiPoint","coordinates":$cs}"""
    case gc: org.locationtech.jts.geom.GeometryCollection =>
      val gs = (0 until gc.getNumGeometries).map(i => enc(gc.getGeometryN(i)))
        .mkString("[", ",", "]")
      s"""{"type":"GeometryCollection","geometries":$gs}"""
    case other => throw new IllegalArgumentException(
      s"st_asgeojson: unsupported geometry ${other.getGeometryType}")
  }
  override def nullSafeEval(input: Any): Any = UTF8String.fromString(enc(geom(input)))
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Point as DMS text: D°M'S.SSS"H for latitude then longitude
  * (seconds to 3 decimals, no carry past 59.999…; the PostGIS
  * ST_AsLatLonText shape). */
case class GeomAsLatLonText(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_aslatlontext"
  override def dataType: DataType = StringType
  private def dms(v: Double, pos: String, neg: String): String = {
    val h = if (v < 0) neg else pos
    val a = math.abs(v)
    val d = a.toInt
    val mFull = (a - d) * 60.0
    val m = mFull.toInt
    val s = (mFull - m) * 60.0
    f"""$d%d°$m%d'$s%.3f"$h"""
  }
  override def nullSafeEval(input: Any): Any = {
    val c = geom(input).getCoordinate
    UTF8String.fromString(dms(c.y, "N", "S") + " " + dms(c.x, "E", "W"))
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

object Sphere {
  /** IUGG mean earth radius, the PostGIS ST_DistanceSphere constant. */
  val EarthRadiusM: Double = 6371008.7714
  def haversineM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val φ1 = math.toRadians(lat1); val φ2 = math.toRadians(lat2)
    val dφ = math.toRadians(lat2 - lat1); val dλ = math.toRadians(lon2 - lon1)
    val a = math.sin(dφ / 2) * math.sin(dφ / 2) +
      math.cos(φ1) * math.cos(φ2) * math.sin(dλ / 2) * math.sin(dλ / 2)
    2.0 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(a)))
  }
}

/** Great-circle distance in meters between two lon/lat points
  * (haversine on the IUGG mean radius 6 371 008.7714 m). */
case class GeomDistanceSphere(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_distancesphere"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && isGeomLike(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two geometry arguments")
  @transient private lazy val ae = geomExtractor(left.dataType)
  @transient private lazy val be = geomExtractor(right.dataType)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (p, q) = (ae(a).getCoordinate, be(b).getCoordinate)
    Sphere.haversineM(p.x, p.y, q.x, q.y)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Great-circle length in meters of a lon/lat LineString (sum of
  * per-segment haversine); 0 for non-line inputs. */
case class GeomLengthSphere(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_lengthsphere"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any = geom(input) match {
    case l: org.locationtech.jts.geom.LineString =>
      val cs = l.getCoordinates
      var sum = 0.0
      var i = 1
      while (i < cs.length) {
        sum += Sphere.haversineM(cs(i - 1).x, cs(i - 1).y, cs(i).x, cs(i).y)
        i += 1
      }
      sum
    case _ => 0.0
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Total great-circle distance in meters along a SEQUENCE of lon/lat
  * geometries — the sum of [[GeomDistanceSphere]] legs between
  * consecutive array entries (each geometry contributes its first
  * coordinate, like st_distancesphere). The spark-jts path-length
  * aggregate the reference exposes as `st_aggregateDistanceSphere`
  * (ref python/pyrasterframes/rasterfunctions.py:1425-1427); 0.0 for
  * fewer than two points; NULL entries are skipped. */
case class GeomAggregateDistanceSphere(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_aggregate_distance_sphere"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(et, _) if isGeomLike(et) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<geometry> argument")
  }
  @transient private lazy val elemExtractor: Any => Geometry =
    geomExtractor(child.dataType.asInstanceOf[ArrayType].elementType)
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var sum = 0.0
    var prev: org.locationtech.jts.geom.Coordinate = null
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val c = elemExtractor(arr.get(i,
          child.dataType.asInstanceOf[ArrayType].elementType)).getCoordinate
        if (prev != null) sum += Sphere.haversineM(prev.x, prev.y, c.x, c.y)
        prev = c
      }
      i += 1
    }
    sum
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** DE-9IM intersection matrix of two geometries as its 9-char string. */
case class GeomRelate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_relate"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && isGeomLike(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two geometry arguments")
  @transient private lazy val ae = geomExtractor(left.dataType)
  @transient private lazy val be = geomExtractor(right.dataType)
  override def nullSafeEval(a: Any, b: Any): Any =
    UTF8String.fromString(ae(a).relate(be(b)).toString)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** True when the two geometries' DE-9IM matrix matches the pattern
  * (each cell one of T, F, 0, 1, 2, or the wildcard star). */
case class GeomRelateBool(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "st_relatebool"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(first.dataType) && isGeomLike(second.dataType) &&
        third.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (geometry, geometry, string pattern)")
  @transient private lazy val ae = geomExtractor(first.dataType)
  @transient private lazy val be = geomExtractor(second.dataType)
  override def nullSafeEval(a: Any, b: Any, p: Any): Any =
    ae(a).relate(be(b), p.asInstanceOf[UTF8String].toString)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression) = copy(f, s, t)
}

/** Standard geohash bit-interleave (public algorithm): even bits refine
  * longitude, odd bits latitude, midpoints always (mn+mx)/2 — every
  * interval endpoint stays dyadic, so the walk is replayable bit-exact
  * in plain SQL (the q_st_geohash oracle does exactly that). */
object Geohash {
  val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
  private val CharIdx: Map[Char, Int] = Base32.zipWithIndex.toMap

  def encode(lon: Double, lat: Double, precision: Int): String = {
    require(precision >= 1 && precision <= 12,
      s"geohash precision must be in [1, 12], got $precision")
    var (lomn, lomx, lamn, lamx) = (-180.0, 180.0, -90.0, 90.0)
    val sb = new java.lang.StringBuilder(precision)
    var bit = 0
    var idx = 0
    while (sb.length < precision) {
      if (bit % 2 == 0) {
        val mid = (lomn + lomx) / 2
        if (lon >= mid) { idx = idx * 2 + 1; lomn = mid } else { idx = idx * 2; lomx = mid }
      } else {
        val mid = (lamn + lamx) / 2
        if (lat >= mid) { idx = idx * 2 + 1; lamn = mid } else { idx = idx * 2; lamx = mid }
      }
      bit += 1
      if (bit % 5 == 0) { sb.append(Base32.charAt(idx)); idx = 0 }
    }
    sb.toString
  }

  /** (lomn, lamn, lomx, lamx) cell bounds of a geohash. */
  def decodeBounds(hash: String): (Double, Double, Double, Double) = {
    var (lomn, lomx, lamn, lamx) = (-180.0, 180.0, -90.0, 90.0)
    var bit = 0
    hash.foreach { ch =>
      val idx = CharIdx.getOrElse(ch,
        throw new IllegalArgumentException(s"invalid geohash char '$ch' in '$hash'"))
      var b = 4
      while (b >= 0) {
        val set = ((idx >> b) & 1) == 1
        if (bit % 2 == 0) {
          val mid = (lomn + lomx) / 2
          if (set) lomn = mid else lomx = mid
        } else {
          val mid = (lamn + lamx) / 2
          if (set) lamn = mid else lamx = mid
        }
        bit += 1
        b -= 1
      }
    }
    (lomn, lamn, lomx, lamx)
  }
}

/** Geohash of a lon/lat geometry (centroid for non-points) at the given
  * character precision. */
case class GeohashEncode(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_geohash"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) &&
        (right.dataType == IntegerType || right.dataType == LongType ||
          right.dataType == ShortType || right.dataType == ByteType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (geometry, integral precision)")
  @transient private lazy val ge = geomExtractor(left.dataType)
  override def nullSafeEval(g: Any, p: Any): Any = {
    val c = ge(g).getCentroid.getCoordinate
    UTF8String.fromString(Geohash.encode(c.x, c.y, p.asInstanceOf[Number].intValue()))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Geohash cell as its bounding-box polygon. */
case class GeomFromGeohash(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_geomfromgeohash"
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string argument")
  override def nullSafeEval(input: Any): Any = {
    val (lomn, lamn, lomx, lamx) = Geohash.decodeBounds(input.toString)
    serialize(Extent(lomn, lamn, lomx, lamx).toJts)
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Geohash cell center as a point. */
case class PointFromGeohash(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "st_pointfromgeohash"
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string argument")
  override def nullSafeEval(input: Any): Any = {
    val (lomn, lamn, lomx, lamx) = Geohash.decodeBounds(input.toString)
    serialize(geomFactory.createPoint(
      new Coordinate((lomn + lomx) / 2, (lamn + lamx) / 2)))
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Axis-aligned box polygon from four coordinate bounds. */
case class GeomMakeBBox(children: Seq[Expression])
    extends Expression with CodegenFallback {
  override def prettyName: String = "st_makebbox"
  override def dataType: DataType = GeometryUDT.instance
  override def nullable: Boolean = children.exists(_.nullable)
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == 4 && children.forall(_.dataType.isInstanceOf[NumericType]))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (xmin, ymin, xmax, ymax) numeric bounds")
  @transient private lazy val es = children.map(c => doubleExtractor(c.dataType))
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) return null
    val ds = vs.zip(es).map { case (v, e) => e(v) }
    serialize(Extent(ds(0), ds(1), ds(2), ds(3)).toJts)
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) = copy(cs)
}

/** Geodesic buffer of a lon/lat point: a 64-gon whose vertices sit at
  * the given great-circle radius (meters, IUGG sphere) from the point —
  * the spherical direct problem at bearings 2πk/64. */
case class GeomBufferPoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_bufferpoint"
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && right.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (point, numeric meters)")
  @transient private lazy val ge = geomExtractor(left.dataType)
  @transient private lazy val de = doubleExtractor(right.dataType)
  private val Sides = 64
  override def nullSafeEval(g: Any, r: Any): Any = {
    val c = ge(g).getCoordinate
    val δ = de(r) / Sphere.EarthRadiusM
    val φ1 = math.toRadians(c.y)
    val λ1 = math.toRadians(c.x)
    val (sinφ1, cosφ1) = (math.sin(φ1), math.cos(φ1))
    val (sinδ, cosδ) = (math.sin(δ), math.cos(δ))
    val coords = new Array[Coordinate](Sides + 1)
    var k = 0
    while (k < Sides) {
      val θ = 2.0 * math.Pi * k / Sides
      val sinφ2 = sinφ1 * cosδ + cosφ1 * sinδ * math.cos(θ)
      val φ2 = math.asin(math.max(-1.0, math.min(1.0, sinφ2)))
      val λ2 = λ1 + math.atan2(math.sin(θ) * sinδ * cosφ1, cosδ - sinφ1 * sinφ2)
      coords(k) = new Coordinate(math.toDegrees(λ2), math.toDegrees(φ2))
      k += 1
    }
    coords(Sides) = coords(0)
    serialize(geomFactory.createPolygon(coords))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Antimeridian-safe geometry: splits a geometry crossing the ±180
  * line into a collection with parts on each side. A geometry is taken
  * to cross when its longitude span exceeds 180° (standard-range
  * coordinates) or it extends past +180 (unwrapped coordinates) — the
  * GeoMesa spark-jts contract. */
case class AntimeridianSafeGeom(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_antimeridiansafegeom"
  override def dataType: DataType = GeometryUDT.instance
  private def shiftNegative(g: Geometry): Geometry = {
    val out = g.copy()
    out.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: Coordinate): Unit = if (c.x < 0) c.x += 360.0
    })
    out.geometryChanged()
    out
  }
  private def shiftBack(g: Geometry): Geometry = {
    val out = g.copy()
    out.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: Coordinate): Unit = c.x -= 360.0
    })
    out.geometryChanged()
    out
  }
  private def split(unwrapped: Geometry): Geometry = {
    val west = unwrapped.intersection(Extent(-180, -90, 180, 90).toJts)
    val east = unwrapped.intersection(Extent(180, -90, 540, 90).toJts)
    if (east.isEmpty) west
    else if (west.isEmpty) shiftBack(east)
    else west.union(shiftBack(east))
  }
  override def nullSafeEval(input: Any): Any = {
    val g = geom(input)
    val env = g.getEnvelopeInternal
    val out =
      if (env.getMaxX > 180.0) split(g)                 // already unwrapped
      else if (env.getWidth > 180.0) split(shiftNegative(g)) // standard range, crossing
      else g
    serialize(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** WGS84 Vincenty inverse (public algorithm), run for a FIXED 20 λ
  * iterations — convergence for non-antipodal inputs happens in ≤6,
  * after which λ is a double fixed point, so the constant trip count
  * changes nothing numerically but makes the walk replayable as a
  * 20-step recursive CTE (the q_st_spheroid oracle). Final σ terms are
  * recomputed once from the converged λ, mirroring the replay's shape. */
object Spheroid {
  val SemiMajorM: Double = 6378137.0
  val Flattening: Double = 1.0 / 298.257223563
  val SemiMinorM: Double = SemiMajorM * (1.0 - Flattening)
  val Iters = 20

  def vincentyM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    if (lon1 == lon2 && lat1 == lat2) return 0.0
    val f = Flattening
    val bigL = math.toRadians(lon2 - lon1)
    val u1 = math.atan((1.0 - f) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1.0 - f) * math.tan(math.toRadians(lat2)))
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)
    var lam = bigL
    var i = 0
    while (i < Iters) {
      val sinLam = math.sin(lam); val cosLam = math.cos(lam)
      val sinSigma = math.sqrt(
        (cosU2 * sinLam) * (cosU2 * sinLam) +
          (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) * (cosU1 * sinU2 - sinU1 * cosU2 * cosLam))
      val cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
      val sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = if (sinSigma == 0.0) 0.0 else cosU1 * cosU2 * sinLam / sinSigma
      val cosSqAlpha = 1.0 - sinAlpha * sinAlpha
      val cos2Sm = if (cosSqAlpha == 0.0) 0.0 else cosSigma - 2.0 * sinU1 * sinU2 / cosSqAlpha
      val c = f / 16.0 * cosSqAlpha * (4.0 + f * (4.0 - 3.0 * cosSqAlpha))
      lam = bigL + (1.0 - c) * f * sinAlpha *
        (sigma + c * sinSigma * (cos2Sm + c * cosSigma * (-1.0 + 2.0 * cos2Sm * cos2Sm)))
      i += 1
    }
    val sinLam = math.sin(lam); val cosLam = math.cos(lam)
    val sinSigma = math.sqrt(
      (cosU2 * sinLam) * (cosU2 * sinLam) +
        (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) * (cosU1 * sinU2 - sinU1 * cosU2 * cosLam))
    val cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
    val sigma = math.atan2(sinSigma, cosSigma)
    val sinAlpha = if (sinSigma == 0.0) 0.0 else cosU1 * cosU2 * sinLam / sinSigma
    val cosSqAlpha = 1.0 - sinAlpha * sinAlpha
    val cos2Sm = if (cosSqAlpha == 0.0) 0.0 else cosSigma - 2.0 * sinU1 * sinU2 / cosSqAlpha
    val a = SemiMajorM; val b = SemiMinorM
    val uSq = cosSqAlpha * (a * a - b * b) / (b * b)
    val bigA = 1.0 + uSq / 16384.0 * (4096.0 + uSq * (-768.0 + uSq * (320.0 - 175.0 * uSq)))
    val bigB = uSq / 1024.0 * (256.0 + uSq * (-128.0 + uSq * (74.0 - 47.0 * uSq)))
    val dSigma = bigB * sinSigma * (cos2Sm + bigB / 4.0 *
      (cosSigma * (-1.0 + 2.0 * cos2Sm * cos2Sm) -
        bigB / 6.0 * cos2Sm * (-3.0 + 4.0 * sinSigma * sinSigma) *
          (-3.0 + 4.0 * cos2Sm * cos2Sm)))
    b * bigA * (sigma - dSigma)
  }
}

/** Ellipsoidal (WGS84 Vincenty) distance in meters between two lon/lat
  * points (first coordinate of each geometry). */
case class GeomDistanceSpheroid(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "st_distancespheroid"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (isGeomLike(left.dataType) && isGeomLike(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two geometry arguments")
  @transient private lazy val ae = geomExtractor(left.dataType)
  @transient private lazy val be = geomExtractor(right.dataType)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (p, q) = (ae(a).getCoordinate, be(b).getCoordinate)
    Spheroid.vincentyM(p.x, p.y, q.x, q.y)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** Ellipsoidal (WGS84 Vincenty) length in meters of a lon/lat
  * LineString (sum of per-segment distances); 0 for non-line inputs. */
case class GeomLengthSpheroid(child: Expression) extends GeomUnaryOp {
  override def prettyName: String = "st_lengthspheroid"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any = geom(input) match {
    case l: org.locationtech.jts.geom.LineString =>
      val cs = l.getCoordinates
      var sum = 0.0
      var i = 1
      while (i < cs.length) {
        sum += Spheroid.vincentyM(cs(i - 1).x, cs(i - 1).y, cs(i).x, cs(i).y)
        i += 1
      }
      sum
    case _ => 0.0
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Point with a measure (M) coordinate. WKT text output stays XY (the
  * writer's default); the measure is carried on the JTS coordinate. */
case class MakePointM(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "st_makepointm"
  override def dataType: DataType = GeometryUDT.instance
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(first, second, third).forall(_.dataType.isInstanceOf[NumericType]))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (x, y, m) numeric arguments")
  @transient private lazy val es =
    Seq(first, second, third).map(c => doubleExtractor(c.dataType))
  override def nullSafeEval(x: Any, y: Any, m: Any): Any =
    MakePointM.writeXYM(geomFactory.createPoint(
      // explicit dimension-3/measures-1 sequence: the plain Coordinate
      // array path misreports XYM as XYZ and breaks the WKB writer
      new org.locationtech.jts.geom.impl.PackedCoordinateSequence.Double(
        Array(es(0)(x), es(1)(y), es(2)(m)), 3, 1)))
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

object MakePointM {
  // The shared UDT writer is 2-D (XY geometries keep byte-stable WKB);
  // measure points need a 4-D writer so M survives the WKB round-trip.
  // JTS emits only the ordinates actually present, and the shared
  // WKBReader parses the M flag back into CoordinateXYM.
  private val xymWriter = new ThreadLocal[org.locationtech.jts.io.WKBWriter] {
    override def initialValue() = {
      val w = new org.locationtech.jts.io.WKBWriter(3)
      w.setOutputOrdinates(java.util.EnumSet.of(
        org.locationtech.jts.io.Ordinate.X,
        org.locationtech.jts.io.Ordinate.Y,
        org.locationtech.jts.io.Ordinate.M))
      w
    }
  }
  def writeXYM(g: Geometry): Array[Byte] = xymWriter.get().write(g)
}
