package graft

import graft.expressions._
import graft.udt.TileUDT
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, Expression, Literal}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DoubleType

/**
 * Column-function API (the `rf_*` surface). Names and arities mirror the
 * reference's registry
 * (/root/reference/core/src/main/scala/org/locationtech/rasterframes/expressions/package.scala:89-189);
 * implementations are the graft expressions.
 */
object functions {
  private def c(e: Expression): Column = asColumn(e)
  private def e(col: Column): Expression = asExpr(col)

  // constructors / converters
  def rf_array_to_tile(arr: Column, cols: Int, rows: Int): Column =
    c(ArrayToTile(e(arr), Literal(cols), Literal(rows)))
  def rf_make_constant_tile(value: Column, cols: Int, rows: Int, cellType: String): Column =
    c(MakeConstantTile(Seq(e(value), Literal(cols), Literal(rows), Literal(cellType))))
  def rf_make_zeros_tile(cols: Int, rows: Int, cellType: String = "float64"): Column =
    rf_make_constant_tile(lit(0.0), cols, rows, cellType)
  def rf_make_ones_tile(cols: Int, rows: Int, cellType: String = "float64"): Column =
    rf_make_constant_tile(lit(1.0), cols, rows, cellType)
  def rf_tile_to_array_double(t: Column): Column = c(TileToArrayDouble(e(t)))
  def rf_tile_to_array_int(t: Column): Column = c(TileToArrayInt(e(t)))
  def rf_convert_cell_type(t: Column, ct: String): Column = c(ConvertCellType(e(t), Literal(ct)))
  def rf_interpret_cell_type_as(t: Column, ct: String): Column = c(InterpretAs(e(t), Literal(ct)))
  def rf_with_no_data(t: Column, nd: Double): Column = c(SetNoDataValue(e(t), Literal(nd)))
  def rf_tile(t: Column): Column = c(RealizeTile(e(t)))
  def rf_crop(t: Column, colOff: Int, rowOff: Int, cols: Int, rows: Int): Column =
    c(CropTile(Seq(e(t), Literal(colOff), Literal(rowOff), Literal(cols), Literal(rows))))
  def rf_synthetic_tile(seed: Column, cols: Int, rows: Int, cellType: String): Column =
    c(SyntheticTile(e(seed), cols, rows, cellType))
  def rf_resample(t: Column, factorOrTarget: Column, method: String = "bilinear"): Column =
    c(ResampleExpr(e(t), e(factorOrTarget), Literal(method)))
  def rf_resample_nearest(t: Column, factorOrTarget: Column): Column =
    c(ResampleExpr(e(t), e(factorOrTarget), Literal("nearest")))

  // accessors
  def rf_cell_type(t: Column): Column = c(GetCellType(e(t)))
  def rf_dimensions(t: Column): Column = c(GetDimensions(e(t)))

  // local map algebra
  def rf_local_add(a: Column, b: Column): Column = c(LocalAdd(e(a), e(b)))
  def rf_local_add(a: Column, b: Double): Column = c(LocalAdd(e(a), Literal(b)))
  def rf_local_subtract(a: Column, b: Column): Column = c(LocalSubtract(e(a), e(b)))
  def rf_local_subtract(a: Column, b: Double): Column = c(LocalSubtract(e(a), Literal(b)))
  def rf_local_multiply(a: Column, b: Column): Column = c(LocalMultiply(e(a), e(b)))
  def rf_local_multiply(a: Column, b: Double): Column = c(LocalMultiply(e(a), Literal(b)))
  def rf_local_divide(a: Column, b: Column): Column = c(LocalDivide(e(a), e(b)))
  def rf_local_divide(a: Column, b: Double): Column = c(LocalDivide(e(a), Literal(b)))
  def rf_local_min(a: Column, b: Column): Column = c(LocalMin(e(a), e(b)))
  def rf_local_min(a: Column, b: Double): Column = c(LocalMin(e(a), Literal(b)))
  def rf_local_max(a: Column, b: Column): Column = c(LocalMax(e(a), e(b)))
  def rf_local_max(a: Column, b: Double): Column = c(LocalMax(e(a), Literal(b)))
  def rf_local_clamp(t: Column, lo: Column, hi: Column): Column = c(LocalClamp(e(t), e(lo), e(hi)))
  def rf_local_clamp(t: Column, lo: Double, hi: Double): Column =
    c(LocalClamp(e(t), Literal(lo), Literal(hi)))
  def rf_where(cond: Column, x: Column, y: Column): Column = c(LocalWhere(e(cond), e(x), e(y)))
  def rf_normalized_difference(a: Column, b: Column): Column =
    c(NormalizedDifference(e(a), e(b)))
  def rf_standardize(t: Column, mean: Column, stddev: Column): Column =
    c(Standardize(e(t), e(mean), e(stddev)))
  def rf_standardize(t: Column, mean: Double, stddev: Double): Column =
    c(Standardize(e(t), Literal(mean), Literal(stddev)))
  def rf_rescale(t: Column, min: Column, max: Column): Column = c(Rescale(e(t), e(min), e(max)))
  def rf_rescale(t: Column, min: Double, max: Double): Column =
    c(Rescale(e(t), Literal(min), Literal(max)))
  def rf_round(t: Column): Column = c(LocalRound(e(t)))
  def rf_abs(t: Column): Column = c(LocalAbs(e(t)))
  def rf_sqrt(t: Column): Column = c(LocalSqrt(e(t)))
  def rf_log(t: Column): Column = c(LocalLog(e(t)))
  def rf_log10(t: Column): Column = c(LocalLog10(e(t)))
  def rf_log2(t: Column): Column = c(LocalLog2(e(t)))
  def rf_log1p(t: Column): Column = c(LocalLog1p(e(t)))
  def rf_exp(t: Column): Column = c(LocalExp(e(t)))
  def rf_exp10(t: Column): Column = c(LocalExp10(e(t)))
  def rf_exp2(t: Column): Column = c(LocalExp2(e(t)))
  def rf_expm1(t: Column): Column = c(LocalExpm1(e(t)))
  def rf_identity(t: Column): Column = c(LocalIdentity(e(t)))

  // comparisons
  def rf_local_less(a: Column, b: Column): Column = c(LocalLess(e(a), e(b)))
  def rf_local_less(a: Column, b: Double): Column = c(LocalLess(e(a), Literal(b)))
  def rf_local_less_equal(a: Column, b: Column): Column = c(LocalLessEqual(e(a), e(b)))
  def rf_local_less_equal(a: Column, b: Double): Column = c(LocalLessEqual(e(a), Literal(b)))
  def rf_local_greater(a: Column, b: Column): Column = c(LocalGreater(e(a), e(b)))
  def rf_local_greater(a: Column, b: Double): Column = c(LocalGreater(e(a), Literal(b)))
  def rf_local_greater_equal(a: Column, b: Column): Column = c(LocalGreaterEqual(e(a), e(b)))
  def rf_local_greater_equal(a: Column, b: Double): Column = c(LocalGreaterEqual(e(a), Literal(b)))
  def rf_local_equal(a: Column, b: Column): Column = c(LocalEqual(e(a), e(b)))
  def rf_local_equal(a: Column, b: Double): Column = c(LocalEqual(e(a), Literal(b)))
  def rf_local_unequal(a: Column, b: Column): Column = c(LocalUnequal(e(a), e(b)))
  def rf_local_unequal(a: Column, b: Double): Column = c(LocalUnequal(e(a), Literal(b)))
  def rf_local_is_in(t: Column, values: Column): Column = c(LocalIsIn(e(t), e(values)))
  def rf_local_no_data(t: Column): Column = c(LocalUndefined(e(t)))
  def rf_local_data(t: Column): Column = c(LocalDefined(e(t)))

  // masking
  def rf_mask(target: Column, mask: Column): Column = c(MaskByDefined(e(target), e(mask)))
  def rf_inverse_mask(target: Column, mask: Column): Column =
    c(InverseMaskByDefined(e(target), e(mask)))
  def rf_mask_by_value(target: Column, mask: Column, v: Double): Column =
    c(MaskByValue(e(target), e(mask), Literal(v)))
  def rf_inverse_mask_by_value(target: Column, mask: Column, v: Double): Column =
    c(InverseMaskByValue(e(target), e(mask), Literal(v)))
  def rf_mask_by_values(target: Column, mask: Column, vs: Column): Column =
    c(MaskByValues(e(target), e(mask), e(vs)))
  def rf_local_extract_bits(t: Column, start: Int, bits: Int): Column =
    c(ExtractBits(e(t), Literal(start), Literal(bits)))
  /** Single-bit form (reference: functions/LocalFunctions.scala:218-229
    * exposes both, and expressions/package.scala:188-189 registers the
    * singular SQL alias). */
  def rf_local_extract_bit(t: Column, bitPosition: Int): Column =
    rf_local_extract_bits(t, bitPosition, 1)
  /** Names of every supported cell type, in storage-width order
    * (reference: functions/package.scala:140-157 `cellTypes`). */
  def rf_cell_types: Seq[String] = graft.core.CellType.allNames
  /** QA-band cloud masking: extract bit `bitPosition` of the mask tile
    * (from the right) and NoData the target wherever it equals
    * `valueToMask` (reference: functions/LocalFunctions.scala:174-185). */
  def rf_mask_by_bit(target: Column, mask: Column, bitPosition: Int, valueToMask: Boolean): Column =
    rf_mask_by_bits(target, mask, bitPosition, 1, Seq(if (valueToMask) 1 else 0))
  /** Extract bits [startBit, startBit+bits) of the mask tile and NoData
    * the target where the value is in `valuesToMask`
    * (reference: functions/LocalFunctions.scala:187-200 — the same
    * ExtractBits + MaskByValues composition). */
  def rf_mask_by_bits(target: Column, mask: Column, startBit: Int, bits: Int,
      valuesToMask: Seq[Int]): Column =
    rf_mask_by_values(target, rf_local_extract_bits(mask, startBit, bits),
      org.apache.spark.sql.functions.array(valuesToMask.map(v => lit(v.toDouble)): _*))

  // per-tile stats
  def rf_tile_sum(t: Column): Column = c(TileSum(e(t)))
  def rf_tile_mean(t: Column): Column = c(TileMean(e(t)))
  def rf_tile_min(t: Column): Column = c(TileMin(e(t)))
  def rf_tile_max(t: Column): Column = c(TileMax(e(t)))
  def rf_tile_stats(t: Column): Column = c(TileStatsExpr(e(t)))
  def rf_tile_histogram(t: Column): Column = c(TileHistogram(e(t)))
  def rf_data_cells(t: Column): Column = c(DataCells(e(t)))
  def rf_no_data_cells(t: Column): Column = c(NoDataCells(e(t)))
  def rf_is_no_data_tile(t: Column): Column = c(IsNoDataTile(e(t)))
  def rf_exists(t: Column): Column = c(TileExists(e(t)))
  def rf_for_all(t: Column): Column = c(TileForAll(e(t)))

  // generators
  def rf_explode_tiles(tiles: Column*): Column = c(ExplodeTiles(tiles.map(e)))
  /** Expand band path columns into one row per subtile window with a
    * (lazy) tile per band — the multiband catalog reader. */
  def rf_raster_source_to_tiles(tileDims: (Int, Int), lazyTiles: Boolean, bands: Column*): Column =
    c(RasterSourceToTiles(bands.map(e), tileDims._1, tileDims._2, lazyTiles))
  def rf_explode_tiles_sample(fraction: Double, seed: Long, tiles: Column*): Column =
    c(ExplodeTiles(tiles.map(e), fraction, seed))

  // aggregates
  private def agg(a: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Column =
    c(a.toAggregateExpression())
  def rf_agg_mean(t: Column): Column = agg(CellMeanAggregate(e(t)))
  def rf_agg_data_cells(t: Column): Column = agg(CellCountAggregate(e(t), countData = true))
  def rf_agg_no_data_cells(t: Column): Column = agg(CellCountAggregate(e(t), countData = false))
  def rf_agg_stats(t: Column): Column = agg(CellStatsAggregate(e(t)))
  def rf_agg_approx_histogram(t: Column, maxBins: Int = 80): Column =
    agg(HistogramAggregate(e(t), maxBins))
  def rf_agg_approx_quantiles(t: Column, probs: Seq[Double], relErr: Double = 0.00001): Column =
    agg(ApproxCellQuantilesAggregate(e(t), probs, relErr))
  def rf_agg_local_min(t: Column): Column = agg(LocalTileOpAggregate(e(t), isMin = true))
  def rf_agg_local_max(t: Column): Column = agg(LocalTileOpAggregate(e(t), isMin = false))
  def rf_agg_local_mean(t: Column): Column = agg(LocalMeanAggregate(e(t)))
  def rf_agg_local_data_cells(t: Column): Column = agg(LocalCountAggregate(e(t), countData = true))
  def rf_agg_local_no_data_cells(t: Column): Column = agg(LocalCountAggregate(e(t), countData = false))
  def rf_agg_local_stats(t: Column): Column = agg(LocalStatsAggregate(e(t)))
  def rf_assemble_tile(colIdx: Column, rowIdx: Column, value: Column, cols: Int, rows: Int): Column =
    agg(TileAssembler(e(colIdx), e(rowIdx), e(value), Literal(cols), Literal(rows)))
  /** Cell-type-aware assembly: the result tile stores cells in `cellType`
    * instead of always float64 (reference TileAssembler takes the same
    * argument, TileAssembler.scala:60). */
  def rf_assemble_tile(colIdx: Column, rowIdx: Column, value: Column, cols: Int, rows: Int,
      cellType: String): Column =
    agg(TileAssembler(e(colIdx), e(rowIdx), e(value), Literal(cols), Literal(rows),
      Some(cellType)))

  def rf_agg_overview_raster(projRaster: Column, cols: Int, rows: Int,
      extent: graft.core.Extent, crs: String): Column =
    agg(OverviewRasterAggregate(e(projRaster), cols, rows, extent, crs))
  /** Aggregate extent union — plain min/max composition, no custom agg
    * (reference: functions/AggregateFunctions.scala:119-132). */
  def rf_agg_extent(extent: Column): Column = {
    import org.apache.spark.sql.functions.{max, min, struct}
    struct(
      min(extent.getField("xmin")).as("xmin"), min(extent.getField("ymin")).as("ymin"),
      max(extent.getField("xmax")).as("xmax"), max(extent.getField("ymax")).as("ymax"))
  }
  /** Union of extents after reprojection into a common CRS. */
  def rf_agg_reprojected_extent(extent: Column, srcCrs: Column, dstCrs: String): Column =
    rf_agg_extent(st_extent(st_reproject(st_geometry(extent), srcCrs, lit(dstCrs))))

  // spatial / vector
  def st_geomFromWKT(wkt: Column): Column = c(GeomFromWKT(e(wkt)))
  def st_asText(g: Column): Column = c(GeomAsWKT(e(g)))
  def st_makePoint(x: Column, y: Column): Column = c(MakePoint(e(x), e(y)))
  def st_centroid(g: Column): Column = c(GeomCentroid(e(g)))
  def st_area(g: Column): Column = c(GeomArea(e(g)))
  def st_length(g: Column): Column = c(GeomLength(e(g)))
  def st_x(g: Column): Column = c(GeomX(e(g)))
  def st_y(g: Column): Column = c(GeomY(e(g)))
  def st_buffer(g: Column, d: Column): Column = c(GeomBuffer(e(g), e(d)))
  def st_distance(a: Column, b: Column): Column = c(GeomDistance(e(a), e(b)))
  def st_withinDistance(a: Column, b: Column, d: Column): Column =
    c(GeomWithinDistance(e(a), e(b), e(d)))
  def st_convexHull(g: Column): Column = c(GeomConvexHull(e(g)))
  def st_intersection(a: Column, b: Column): Column = c(GeomIntersection(e(a), e(b)))
  def st_union(a: Column, b: Column): Column = c(GeomUnion(e(a), e(b)))
  def st_difference(a: Column, b: Column): Column = c(GeomDifference(e(a), e(b)))
  def st_nPoints(g: Column): Column = c(GeomNPoints(e(g)))
  def st_isEmpty(g: Column): Column = c(GeomIsEmpty(e(g)))
  def st_isValid(g: Column): Column = c(GeomIsValid(e(g)))
  def st_simplify(g: Column, tolerance: Column): Column = c(GeomSimplify(e(g), e(tolerance)))
  def st_extent(g: Column): Column = c(GeometryToExtent(e(g)))
  def st_geometry(extent: Column): Column = c(ExtentToGeometry(e(extent)))
  def st_geometryType(g: Column): Column = c(GeomType(e(g)))
  def st_numGeometries(g: Column): Column = c(GeomNumGeometries(e(g)))
  def st_pointN(g: Column, n: Column): Column = c(GeomPointN(e(g), e(n)))
  def st_exteriorRing(g: Column): Column = c(GeomExteriorRing(e(g)))
  def st_translate(g: Column, dx: Column, dy: Column): Column =
    c(GeomTranslate(e(g), e(dx), e(dy)))
  def st_closestPoint(a: Column, b: Column): Column = c(GeomClosestPoint(e(a), e(b)))
  def st_boundary(g: Column): Column = c(GeomBoundary(e(g)))
  def st_dimension(g: Column): Column = c(GeomDimension(e(g)))
  def st_coordDim(g: Column): Column = c(GeomCoordDim(e(g)))
  def st_isClosed(g: Column): Column = c(GeomIsClosed(e(g)))
  def st_isCollection(g: Column): Column = c(GeomIsCollection(e(g)))
  def st_isRing(g: Column): Column = c(GeomIsRing(e(g)))
  def st_isSimple(g: Column): Column = c(GeomIsSimple(e(g)))
  def st_numPoints(g: Column): Column = c(GeomNPoints(e(g)))
  def st_geometryN(g: Column, n: Column): Column = c(GeomGeometryN(e(g), e(n)))
  def st_interiorRingN(g: Column, n: Column): Column = c(GeomInteriorRingN(e(g), e(n)))
  def st_envelope(g: Column): Column = c(GeomEnvelopeGeom(e(g)))
  def st_makeLine(points: Column): Column = c(GeomMakeLine(e(points)))
  def st_makePolygon(shell: Column): Column = c(GeomMakePolygon(e(shell)))
  def st_makeBox2D(low: Column, high: Column): Column = c(GeomMakeBox2D(e(low), e(high)))
  def st_point(x: Column, y: Column): Column = c(MakePoint(e(x), e(y)))
  def st_castToPoint(g: Column): Column = c(GeomCastTo(e(g), "Point"))
  def st_castToLineString(g: Column): Column = c(GeomCastTo(e(g), "LineString"))
  def st_castToPolygon(g: Column): Column = c(GeomCastTo(e(g), "Polygon"))
  def st_castToGeometry(g: Column): Column = c(GeomCastTo(e(g), "Geometry"))
  def st_byteArray(s: Column): Column = c(StringToByteArray(e(s)))
  def st_asGeoJSON(g: Column): Column = c(GeomAsGeoJson(e(g)))
  def st_asLatLonText(g: Column): Column = c(GeomAsLatLonText(e(g)))
  def st_distanceSphere(a: Column, b: Column): Column = c(GeomDistanceSphere(e(a), e(b)))
  def st_lengthSphere(g: Column): Column = c(GeomLengthSphere(e(g)))
  def st_aggregateDistanceSphere(points: Column): Column =
    c(GeomAggregateDistanceSphere(e(points)))
  def st_relate(a: Column, b: Column): Column = c(GeomRelate(e(a), e(b)))
  def st_relateBool(a: Column, b: Column, pattern: Column): Column =
    c(GeomRelateBool(e(a), e(b), e(pattern)))
  def st_geoHash(g: Column, precision: Column): Column = c(GeohashEncode(e(g), e(precision)))
  def st_geomFromGeoHash(hash: Column): Column = c(GeomFromGeohash(e(hash)))
  def st_pointFromGeoHash(hash: Column): Column = c(PointFromGeohash(e(hash)))
  def st_geomFromText(wkt: Column): Column = c(GeomFromWKT(e(wkt)))
  def st_pointFromText(wkt: Column): Column = c(GeomCastTo(GeomFromWKT(e(wkt)), "Point"))
  def st_lineFromText(wkt: Column): Column = c(GeomCastTo(GeomFromWKT(e(wkt)), "LineString"))
  def st_polygonFromText(wkt: Column): Column = c(GeomCastTo(GeomFromWKT(e(wkt)), "Polygon"))
  def st_makeBBOX(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    c(GeomMakeBBox(Seq(e(xmin), e(ymin), e(xmax), e(ymax))))
  def st_bufferPoint(point: Column, meters: Column): Column =
    c(GeomBufferPoint(e(point), e(meters)))
  def st_antimeridianSafeGeom(g: Column): Column = c(AntimeridianSafeGeom(e(g)))
  def st_idlSafeGeom(g: Column): Column = c(AntimeridianSafeGeom(e(g)))
  def st_equals(a: Column, b: Column): Column = c(SpatialRelation(e(a), e(b), "Equals"))
  def st_mPointFromText(wkt: Column): Column = c(GeomCastTo(GeomFromWKT(e(wkt)), "MultiPoint"))
  def st_mLineFromText(wkt: Column): Column =
    c(GeomCastTo(GeomFromWKT(e(wkt)), "MultiLineString"))
  def st_mPolyFromText(wkt: Column): Column = c(GeomCastTo(GeomFromWKT(e(wkt)), "MultiPolygon"))
  def st_makePointM(x: Column, y: Column, m: Column): Column =
    c(MakePointM(e(x), e(y), e(m)))
  def st_distanceSpheroid(a: Column, b: Column): Column = c(GeomDistanceSpheroid(e(a), e(b)))
  def st_lengthSpheroid(line: Column): Column = c(GeomLengthSpheroid(e(line)))
  def rf_envelope(g: Column): Column = c(GeomEnvelope(e(g)))
  def rf_tile_context(projRaster: Column): Column = c(GetTileContext(e(projRaster)))
  def st_reproject(g: Column, src: Column, dst: Column): Column =
    c(ReprojectGeometry(e(g), e(src), e(dst)))
  def st_intersects(a: Column, b: Column): Column = c(SpatialRelation(e(a), e(b), "Intersects"))
  def st_contains(a: Column, b: Column): Column = c(SpatialRelation(e(a), e(b), "Contains"))
  def st_covers(a: Column, b: Column): Column = c(SpatialRelation(e(a), e(b), "Covers"))
  def st_crosses(a: Column, b: Column): Column = c(SpatialRelation(e(a), e(b), "Crosses"))
  def st_disjoint(a: Column, b: Column): Column = c(SpatialRelation(e(a), e(b), "Disjoint"))
  def st_overlaps(a: Column, b: Column): Column = c(SpatialRelation(e(a), e(b), "Overlaps"))
  def st_touches(a: Column, b: Column): Column = c(SpatialRelation(e(a), e(b), "Touches"))
  def st_within(a: Column, b: Column): Column = c(SpatialRelation(e(a), e(b), "Within"))
  def rf_z2_index(g: Column, crs: Column): Column = c(Z2Index(e(g), e(crs)))
  def rf_xz2_index(g: Column, crs: Column): Column = c(XZ2Index(e(g), e(crs)))
  def rf_hilbert_index(g: Column, crs: Column): Column = c(HilbertIndex(e(g), e(crs)))
  def rf_rasterize(geom: Column, bounds: Column, value: Column, cols: Int, rows: Int): Column =
    c(Rasterize(Seq(e(geom), e(bounds), e(value), Literal(cols), Literal(rows))))

  // rendering
  def rf_render_ascii(t: Column): Column = c(RenderAscii(e(t)))
  def rf_render_matrix(t: Column): Column = c(RenderMatrix(e(t)))
  def rf_render_png(t: Column): Column = c(RenderPNG(e(t)))
  def rf_render_png(t: Column, rampName: String): Column =
    c(RenderRampPNG(e(t), Literal(rampName)))
  def rf_render_png(red: Column, green: Column, blue: Column): Column =
    c(RenderRGBPNG(RGBComposite(e(red), e(green), e(blue))))
  def rf_rgb_composite(r: Column, g: Column, b: Column): Column =
    c(RGBComposite(e(r), e(g), e(b)))

  // focal / terrain
  def rf_focal_mean(t: Column, n: String): Column = c(FocalMean(e(t), Literal(n)))
  def rf_focal_min(t: Column, n: String): Column = c(FocalMin(e(t), Literal(n)))
  def rf_focal_max(t: Column, n: String): Column = c(FocalMax(e(t), Literal(n)))
  def rf_focal_median(t: Column, n: String): Column = c(FocalMedian(e(t), Literal(n)))
  def rf_focal_mode(t: Column, n: String): Column = c(FocalMode(e(t), Literal(n)))
  def rf_focal_stddev(t: Column, n: String): Column = c(FocalStdDev(e(t), Literal(n)))
  def rf_focal_moransi(t: Column, n: String): Column = c(FocalMoransI(e(t), Literal(n)))
  def rf_convolve(t: Column, kernel: Column): Column = c(Convolve(e(t), e(kernel)))
  def rf_slope(t: Column, zFactor: Double): Column = c(Slope(e(t), Literal(zFactor)))
  def rf_aspect(t: Column): Column = c(Aspect(e(t)))
  def rf_hillshade(t: Column, azimuth: Double, altitude: Double, zFactor: Double): Column =
    c(Hillshade(Seq(e(t), Literal(azimuth), Literal(altitude), Literal(zFactor))))

  // proj_raster
  def rf_proj_raster(tile: Column, extent: Column, crs: Column): Column =
    c(CreateProjectedRaster(e(tile), e(extent), e(crs)))
  def rf_extent(pr: Column): Column = c(GetExtent(e(pr)))
  def rf_crs(pr: Column): Column = c(GetCRSExpr(e(pr)))
  def rf_mk_crs(crsText: Column): Column = c(MkCRS(e(crsText)))
  def rf_mk_crs(crsText: String): Column = c(MkCRS(Literal(crsText)))
  def rf_geometry(pr: Column): Column = c(GetGeometry(e(pr)))
}

/**
 * Session initialization: UDT + SQL function registration and the
 * [[MaterializeSortInput]] planner rule (the analog of
 * the reference's `spark.withRasterFrames` /
 * /root/reference/core/src/main/scala/org/locationtech/rasterframes/package.scala:60-83).
 *
 * `init` is called by every table read of [[SparkEntry]], so on a
 * session it has already initialized it only checks that the planner
 * rule is still in place. Registering again would replace every
 * function with an equal copy: Spark logs "replaced a previously
 * registered function" for each of them, because a fresh
 * `ExpressionInfo` and builder never compare equal to the old ones.
 *
 * `init` also sizes Spark's generated-class cache (see
 * [[CodegenCacheEntries]]) unless the session already has a value for
 * `spark.sql.codegen.cache.maxEntries`.
 */
object Raster {
  /** Entries in Spark's generated-class cache (Spark's default is 100).
    * Spark keys the cache by (class loader, source), and in `local[k]` a
    * whole-stage class is compiled under both the driver's and the
    * executor's loader, so one pass over perfbench's 15-query query_mix
    * needs about 215 entries: with 100, every class is evicted before it
    * is used again and recompiled on each repeat. 1000 leaves headroom
    * for larger query sets.
    *
    * Spark builds the cache once per JVM, from the active session's conf,
    * when it first generates code. So this only takes effect if `init`
    * runs before the JVM's first query, as it does in every graft entry
    * point; a cache built earlier keeps the size it was built with. A
    * value the user set (builder, SparkConf or `-D`) is copied into the
    * session's conf when the session is built and is left alone. */
  val CodegenCacheEntries = 1000
  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** The UDT registration is JVM-wide: once. */
  private lazy val udts: Unit = {
    TileUDT.register()
    graft.udt.GeometryUDT.register()
  }

  def init(spark: SparkSession): SparkSession = {
    // A static conf: RuntimeConfig.set would refuse it, SQLConf does not.
    val conf = org.apache.spark.sql.graft.shims.sqlConf(spark)
    if (!conf.contains(CodegenCacheKey))
      conf.setConfString(CodegenCacheKey, CodegenCacheEntries.toString)
    udts
    val planner = org.apache.spark.sql.graft.shims.experimental(spark)
    if (!planner.extraStrategies.contains(MaterializeSortInput))
      planner.extraStrategies = MaterializeSortInput +: planner.extraStrategies
    val registry = org.apache.spark.sql.graft.shims.functionRegistry(spark)
    // rf_hillshade is registered last: if it is there, so is every name
    if (!registry.functionExists(FunctionIdentifier("rf_hillshade"))) register(registry)
    spark
  }

  private def register(registry: FunctionRegistry): Unit = {
    // Every name registers WITH documentation (usage + optional examples)
    // so `DESCRIBE FUNCTION EXTENDED` answers for the whole surface —
    // same property the reference enforces via ExpressionDescription
    // (ref expressions/package.scala:72-190). A missing doc is a bug.
    def regN(name: String, f: Seq[Expression] => Expression): Unit = {
      val usage = FunctionDocs.usage.getOrElse(name,
        throw new IllegalStateException(s"Missing FunctionDocs.usage entry for '$name'"))
      val info = new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.functions", null, name, usage, "",
        FunctionDocs.examples.getOrElse(name, ""), "", "", "", "", "built-in")
      registry.registerFunction(FunctionIdentifier(name), info, f)
    }
    def reg1(name: String, f: Expression => Expression): Unit = regN(name, xs => f(xs.head))
    def reg2(name: String, f: (Expression, Expression) => Expression): Unit =
      regN(name, xs => f(xs(0), xs(1)))
    def reg3(name: String, f: (Expression, Expression, Expression) => Expression): Unit =
      regN(name, xs => f(xs(0), xs(1), xs(2)))

    reg3("rf_array_to_tile", ArrayToTile(_, _, _))
    regN("rf_make_constant_tile", MakeConstantTile(_))
    reg1("rf_tile_to_array_double", TileToArrayDouble(_))
    reg1("rf_tile_to_array_int", TileToArrayInt(_))
    reg2("rf_convert_cell_type", ConvertCellType(_, _))
    reg2("rf_interpret_cell_type_as", InterpretAs(_, _))
    reg2("rf_with_no_data", SetNoDataValue(_, _))
    reg1("rf_tile", RealizeTile(_))
    regN("rf_crop", CropTile(_))
    reg1("rf_cell_type", GetCellType(_))
    reg1("rf_dimensions", GetDimensions(_))
    reg2("rf_local_add", LocalAdd(_, _))
    reg2("rf_local_subtract", LocalSubtract(_, _))
    reg2("rf_local_multiply", LocalMultiply(_, _))
    reg2("rf_local_divide", LocalDivide(_, _))
    reg2("rf_local_min", LocalMin(_, _))
    reg2("rf_local_max", LocalMax(_, _))
    reg3("rf_local_clamp", LocalClamp(_, _, _))
    reg3("rf_where", LocalWhere(_, _, _))
    reg2("rf_normalized_difference", NormalizedDifference(_, _))
    reg3("rf_standardize", Standardize(_, _, _))
    reg3("rf_rescale", Rescale(_, _, _))
    reg1("rf_round", LocalRound(_))
    reg1("rf_abs", LocalAbs(_))
    reg1("rf_sqrt", LocalSqrt(_))
    reg1("rf_log", LocalLog(_))
    reg1("rf_log10", LocalLog10(_))
    reg1("rf_log2", LocalLog2(_))
    reg1("rf_log1p", LocalLog1p(_))
    reg1("rf_exp", LocalExp(_))
    reg1("rf_exp10", LocalExp10(_))
    reg1("rf_exp2", LocalExp2(_))
    reg1("rf_expm1", LocalExpm1(_))
    reg1("rf_identity", LocalIdentity(_))
    reg2("rf_local_less", LocalLess(_, _))
    reg2("rf_local_less_equal", LocalLessEqual(_, _))
    reg2("rf_local_greater", LocalGreater(_, _))
    reg2("rf_local_greater_equal", LocalGreaterEqual(_, _))
    reg2("rf_local_equal", LocalEqual(_, _))
    reg2("rf_local_unequal", LocalUnequal(_, _))
    reg2("rf_local_is_in", LocalIsIn(_, _))
    reg1("rf_local_no_data", LocalUndefined(_))
    reg1("rf_local_data", LocalDefined(_))
    reg2("rf_mask", MaskByDefined(_, _))
    reg2("rf_inverse_mask", InverseMaskByDefined(_, _))
    reg3("rf_mask_by_value", MaskByValue(_, _, _))
    reg3("rf_inverse_mask_by_value", InverseMaskByValue(_, _, _))
    reg3("rf_mask_by_values", MaskByValues(_, _, _))
    // plural + singular, both 2- or 3-arg (num_bits defaults to 1) —
    // the reference registers both names over one ExtractBits.apply
    // (ref expressions/package.scala:188-189)
    regN("rf_local_extract_bits", xs =>
      ExtractBits(xs(0), xs(1), if (xs.size >= 3) xs(2) else Literal(1)))
    regN("rf_local_extract_bit", xs =>
      ExtractBits(xs(0), xs(1), if (xs.size >= 3) xs(2) else Literal(1)))
    // constant list of supported cell type names (ref
    // functions/package.scala:175 registers the same 0-arg UDF)
    regN("rf_cell_types", _ =>
      CreateArray(graft.core.CellType.allNames.map(Literal(_))))
    // bit-plane QA masking — compositions of ExtractBits + MaskByValues
    // (reference registers both: expressions/package.scala:131-132)
    regN("rf_mask_by_bit", xs =>
      MaskByValues(xs(0), ExtractBits(xs(1), xs(2), Literal(1)),
        CreateArray(Seq(Cast(xs(3), DoubleType)))))
    regN("rf_mask_by_bits", xs =>
      MaskByValues(xs(0), ExtractBits(xs(1), xs(2), xs(3)), xs(4)))
    reg1("rf_tile_sum", TileSum(_))
    reg1("rf_tile_mean", TileMean(_))
    reg1("rf_tile_min", TileMin(_))
    reg1("rf_tile_max", TileMax(_))
    reg1("rf_tile_stats", TileStatsExpr(_))
    reg1("rf_tile_histogram", TileHistogram(_))
    reg1("rf_data_cells", DataCells(_))
    reg1("rf_no_data_cells", NoDataCells(_))
    reg1("rf_is_no_data_tile", IsNoDataTile(_))
    reg1("rf_exists", TileExists(_))
    reg1("rf_for_all", TileForAll(_))
    regN("rf_explode_tiles", ExplodeTiles(_))
    // rf_explode_tiles_sample(fraction, seed, tiles...) — fraction/seed
    // must be foldable literals, matching the reference's SQL arity
    // (expressions/package.scala:171)
    regN("rf_explode_tiles_sample", { xs =>
      val frac = doubleExtractor(xs(0).dataType)(xs(0).eval(null))
      val seed = xs(1).eval(null).asInstanceOf[Number].longValue()
      ExplodeTiles(xs.drop(2), frac, seed)
    })
    regN("rf_make_zeros_tile", xs => MakeConstantTile(Literal(0.0) +: xs))
    regN("rf_make_ones_tile", xs => MakeConstantTile(Literal(1.0) +: xs))
    reg1("rf_agg_mean", CellMeanAggregate(_).toAggregateExpression())
    reg1("rf_agg_data_cells", CellCountAggregate(_, countData = true).toAggregateExpression())
    reg1("rf_agg_no_data_cells", CellCountAggregate(_, countData = false).toAggregateExpression())
    reg1("rf_agg_stats", CellStatsAggregate(_).toAggregateExpression())
    // rf_agg_approx_quantiles(tile, array(probs...)) — probs must be foldable
    // (SQL numeric literals arrive as DECIMAL: extract generically)
    regN("rf_agg_approx_quantiles", { xs =>
      val et = xs(1).dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      val ext = doubleExtractor(et)
      val ad = xs(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val probs = (0 until ad.numElements()).map(i => ext(ad.get(i, et)))
      ApproxCellQuantilesAggregate(xs(0), probs).toAggregateExpression()
    })
    reg1("rf_agg_approx_histogram", HistogramAggregate(_).toAggregateExpression())
    reg1("rf_agg_local_min", LocalTileOpAggregate(_, isMin = true).toAggregateExpression())
    reg1("rf_agg_local_max", LocalTileOpAggregate(_, isMin = false).toAggregateExpression())
    reg1("rf_agg_local_mean", LocalMeanAggregate(_).toAggregateExpression())
    reg1("rf_agg_local_data_cells", LocalCountAggregate(_, countData = true).toAggregateExpression())
    reg1("rf_agg_local_no_data_cells", LocalCountAggregate(_, countData = false).toAggregateExpression())
    reg1("rf_agg_local_stats", LocalStatsAggregate(_).toAggregateExpression())
    // rf_agg_overview_raster(proj_raster, cols, rows, xmin, ymin, xmax, ymax, crs)
    // — dest geometry must be foldable (reference registers the same
    // aggregate: expressions/package.scala:177)
    regN("rf_agg_overview_raster", { xs =>
      def i(e: Expression) = e.eval(null).asInstanceOf[Number].intValue()
      def d(e: Expression) = doubleExtractor(e.dataType)(e.eval(null))
      OverviewRasterAggregate(xs(0), i(xs(1)), i(xs(2)),
        graft.core.Extent(d(xs(3)), d(xs(4)), d(xs(5)), d(xs(6))),
        xs(7).eval(null).toString).toAggregateExpression()
    })
    regN("rf_assemble_tile", xs =>
      (if (xs.length >= 6)
        TileAssembler(xs(0), xs(1), xs(2), xs(3), xs(4),
          Some(xs(5).eval(null).toString))
      else TileAssembler(xs(0), xs(1), xs(2), xs(3), xs(4))).toAggregateExpression())
    reg1("st_geomfromwkt", GeomFromWKT(_))
    reg1("st_geomfromgeojson", graft.datasource.GeomFromGeoJSON(_))
    reg1("st_astext", GeomAsWKT(_))
    reg2("st_makepoint", MakePoint(_, _))
    reg1("st_centroid", GeomCentroid(_))
    reg1("st_area", GeomArea(_))
    reg1("st_length", GeomLength(_))
    reg1("st_x", GeomX(_))
    reg1("st_y", GeomY(_))
    reg2("st_buffer", GeomBuffer(_, _))
    reg2("st_distance", GeomDistance(_, _))
    reg3("st_within_distance", GeomWithinDistance(_, _, _))
    reg1("st_convexhull", GeomConvexHull(_))
    reg2("st_intersection", GeomIntersection(_, _))
    reg2("st_union", GeomUnion(_, _))
    reg2("st_difference", GeomDifference(_, _))
    reg1("st_npoints", GeomNPoints(_))
    reg1("st_isempty", GeomIsEmpty(_))
    reg1("st_isvalid", GeomIsValid(_))
    reg2("st_simplify", GeomSimplify(_, _))
    reg1("st_extent", GeometryToExtent(_))
    reg1("st_geometry", ExtentToGeometry(_))
    reg1("st_geometrytype", GeomType(_))
    reg1("st_numgeometries", GeomNumGeometries(_))
    reg2("st_pointn", GeomPointN(_, _))
    reg1("st_exteriorring", GeomExteriorRing(_))
    reg3("st_translate", GeomTranslate(_, _, _))
    reg2("st_closestpoint", GeomClosestPoint(_, _))
    reg1("st_boundary", GeomBoundary(_))
    reg1("st_dimension", GeomDimension(_))
    reg1("st_coorddim", GeomCoordDim(_))
    reg1("st_isclosed", GeomIsClosed(_))
    reg1("st_iscollection", GeomIsCollection(_))
    reg1("st_isring", GeomIsRing(_))
    reg1("st_issimple", GeomIsSimple(_))
    reg1("st_numpoints", GeomNPoints(_))
    reg2("st_geometryn", GeomGeometryN(_, _))
    reg2("st_interiorringn", GeomInteriorRingN(_, _))
    reg1("st_envelope", GeomEnvelopeGeom(_))
    reg1("st_makeline", GeomMakeLine(_))
    reg1("st_makepolygon", GeomMakePolygon(_))
    reg2("st_makebox2d", GeomMakeBox2D(_, _))
    reg2("st_point", MakePoint(_, _))
    reg1("st_casttopoint", GeomCastTo(_, "Point"))
    reg1("st_casttolinestring", GeomCastTo(_, "LineString"))
    reg1("st_casttopolygon", GeomCastTo(_, "Polygon"))
    reg1("st_casttogeometry", GeomCastTo(_, "Geometry"))
    reg1("st_bytearray", StringToByteArray(_))
    reg1("st_asgeojson", GeomAsGeoJson(_))
    reg1("st_aslatlontext", GeomAsLatLonText(_))
    reg2("st_distancesphere", GeomDistanceSphere(_, _))
    reg1("st_lengthsphere", GeomLengthSphere(_))
    reg1("st_aggregate_distance_sphere", GeomAggregateDistanceSphere(_))
    reg2("st_relate", GeomRelate(_, _))
    reg3("st_relatebool", GeomRelateBool(_, _, _))
    reg2("st_geohash", GeohashEncode(_, _))
    reg1("st_geomfromgeohash", GeomFromGeohash(_))
    reg1("st_pointfromgeohash", PointFromGeohash(_))
    reg1("st_geomfromtext", GeomFromWKT(_))
    reg1("st_pointfromtext", x => GeomCastTo(GeomFromWKT(x), "Point"))
    reg1("st_linefromtext", x => GeomCastTo(GeomFromWKT(x), "LineString"))
    reg1("st_polygonfromtext", x => GeomCastTo(GeomFromWKT(x), "Polygon"))
    regN("st_makebbox", GeomMakeBBox(_))
    reg2("st_bufferpoint", GeomBufferPoint(_, _))
    reg1("st_antimeridiansafegeom", AntimeridianSafeGeom(_))
    reg1("st_idlsafegeom", AntimeridianSafeGeom(_))
    reg2("st_equals", SpatialRelation(_, _, "Equals"))
    reg1("st_mpointfromtext", x => GeomCastTo(GeomFromWKT(x), "MultiPoint"))
    reg1("st_mlinefromtext", x => GeomCastTo(GeomFromWKT(x), "MultiLineString"))
    reg1("st_mpolyfromtext", x => GeomCastTo(GeomFromWKT(x), "MultiPolygon"))
    reg3("st_makepointm", MakePointM(_, _, _))
    reg2("st_distancespheroid", GeomDistanceSpheroid(_, _))
    reg1("st_lengthspheroid", GeomLengthSpheroid(_))
    reg1("rf_envelope", GeomEnvelope(_))
    // multimodal binary-column ops (pipeline pack; decode is a real
    // javax.imageio codec — the deterministic stub stays under its own name)
    reg1("mm_decode_image", graft.pipeline.DecodeImage(_))
    reg1("mm_decode_image_stub", graft.pipeline.DecodeImageStub(_))
    reg3("mm_encode_png", graft.pipeline.EncodePng(_, _, _))
    reg3("mm_image_pixel", graft.pipeline.ImagePixel(_, _, _))
    reg3("mm_image_resize", graft.pipeline.ImageResize(_, _, _))
    reg1("mm_png_stats", graft.pipeline.PngStats(_))
    reg1("mm_image_ahash", graft.pipeline.ImageAHash(_))
    reg2("mm_wav_synth", graft.pipeline.WavSynth(_, _))
    reg1("mm_wav_stats", graft.pipeline.WavStats(_))
    reg2("mm_wav_energy", graft.pipeline.WavEnergyWindows(_, _))
    regN("mm_byte_histogram", xs => graft.pipeline.ByteHistogram(xs(0),
      if (xs.length > 1) xs(1).eval(null).asInstanceOf[Number].intValue() else 16))
    reg3("mm_frame_sample", (b, f, st) => graft.pipeline.FrameSample(b,
      f.eval(null).asInstanceOf[Number].intValue(),
      st.eval(null).asInstanceOf[Number].intValue()))
    regN("mm_frame_deltas", xs => graft.pipeline.FrameDeltas(xs(0),
      xs(1).eval(null).asInstanceOf[Number].intValue(),
      xs(2).eval(null).asInstanceOf[Number].intValue(),
      if (xs.length > 3) xs(3).eval(null).asInstanceOf[Number].intValue()
      else 16))
    // training-data pipeline scalar pack (pl_*): the text/hash/vector/PII
    // column functions as SQL names, so the curation surface is reachable
    // from spark.sql and the Python mirror like the raster surface
    locally {
      import graft.pipeline.{PII, TextFunctions => TF}
      def pcol(f: Column => Column): Seq[Expression] => Expression =
        xs => org.apache.spark.sql.graft.shims.expressionEager(f(asColumn(xs.head)))
      def intArg(xs: Seq[Expression], i: Int, dflt: Int): Int =
        if (xs.length > i) {
          require(xs(i).foldable,
            s"argument ${i + 1} must be a literal integer, not a column " +
              "(it is folded into the plan at analysis time)")
          xs(i).eval(null).asInstanceOf[Number].intValue()
        } else dflt
      def longArg(xs: Seq[Expression], i: Int, dflt: Long): Long =
        if (xs.length > i) {
          require(xs(i).foldable,
            s"argument ${i + 1} must be a literal long, not a column " +
              "(it is folded into the plan at analysis time)")
          xs(i).eval(null).asInstanceOf[Number].longValue()
        } else dflt
      regN("pl_token_count", pcol(TF.token_count))
      regN("pl_char_count", pcol(TF.char_count))
      regN("pl_punct_ratio", pcol(TF.punct_ratio))
      regN("pl_distinct_ratio", pcol(TF.distinct_ratio))
      regN("pl_quality_score", pcol(TF.quality_score))
      regN("pl_language_id", pcol(TF.language_id))
      regN("pl_fingerprint", pcol(TF.fingerprint))
      regN("pl_script_counts", xs => graft.pipeline.ScriptCounts(xs.head))
      regN("pl_simhash", pcol(TF.simhash))
      regN("pl_repetition_ratio", xs => org.apache.spark.sql.graft.shims
        .expressionEager(TF.repetition_ratio(asColumn(xs.head), intArg(xs, 1, 3))))
      regN("pl_minhash", xs => org.apache.spark.sql.graft.shims
        .expressionEager(TF.minhash(asColumn(xs.head), intArg(xs, 1, 32), intArg(xs, 2, 3))))
      regN("pl_winnow", xs => org.apache.spark.sql.graft.shims
        .expressionEager(TF.winnow(asColumn(xs.head), intArg(xs, 1, 3), intArg(xs, 2, 4))))
      regN("pl_chunks", xs => org.apache.spark.sql.graft.shims.expressionEager(
        asColumn(graft.pipeline.Chunks(
          org.apache.spark.sql.graft.shims.expression(
            org.apache.spark.sql.functions.split(asColumn(xs.head), " ")),
          intArg(xs, 1, 512), intArg(xs, 2, 0)))))
      regN("pl_distinct_ngrams", xs =>
        graft.pipeline.DistinctNGrams(xs.head, intArg(xs, 1, 3)))
      regN("pl_ngrams", xs =>
        graft.pipeline.NGrams(xs.head, intArg(xs, 1, 2)))
      regN("pl_multi_match_counts", xs =>
        graft.pipeline.MultiMatchCounts(xs(0), xs(1)))
      regN("pl_rand_proj", xs => graft.pipeline.RandomProjection(xs.head,
        intArg(xs, 1, 16), longArg(xs, 2, 0x5eedL)))
      regN("pl_feature_hash", xs => graft.pipeline.FeatureHash(xs.head,
        intArg(xs, 1, 1024), longArg(xs, 2, 0L)))
      regN("pl_bpe_apply", xs => {
        // the merge table is a plan-time literal array of 'x y' pairs
        // (Bpe.learn's `pair` column), folded once into the kernel
        require(xs(1).foldable,
          "pl_bpe_apply merges must be a literal array of 'x y' strings " +
            "(e.g. array('a b', 'ab c')); a column reference cannot be " +
            "folded into the kernel at plan time")
        val arr = xs(1).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val merges = (0 until arr.numElements()).map { i =>
          val p = arr.getUTF8String(i).toString.split(" ", 2)
          require(p.length == 2,
            s"pl_bpe_apply merge entries must be 'x y' pairs, got '${arr.getUTF8String(i)}'")
          (p(0), p(1))
        }
        graft.pipeline.BpeApplyMerges(xs(0), merges)
      })
      regN("pl_unigram_segment", xs => {
        // the vocab (pieces + integer micro-nat costs) is a plan-time
        // literal pair of arrays (Unigram.learn's piece/cost_unats
        // columns), folded once into the Viterbi kernel
        require(xs.length == 4,
          "pl_unigram_segment expects (tokens, pieces, costs, max_piece_len)")
        require(xs(1).foldable && xs(2).foldable && xs(3).foldable,
          "pl_unigram_segment pieces/costs/max_piece_len must be literals " +
            "(the vocab folds into the kernel at plan time)")
        val pArr = xs(1).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val cArr = xs(2).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        require(pArr.numElements() == cArr.numElements(),
          s"pl_unigram_segment pieces (${pArr.numElements()}) and costs " +
            s"(${cArr.numElements()}) must be aligned")
        val pieces = (0 until pArr.numElements()).map(i => pArr.getUTF8String(i).toString)
        val costs = (0 until cArr.numElements()).map(i => cArr.getLong(i))
        val maxLen = xs(3).eval(null).asInstanceOf[Number].intValue()
        graft.pipeline.UnigramViterbi(xs(0), pieces, costs, maxLen)
      })
      reg1("pl_mix64", graft.pipeline.Mix64(_))
      reg1("pl_nfc", graft.pipeline.UnicodeNorm(_, "NFC"))
      reg1("pl_nfkc", graft.pipeline.UnicodeNorm(_, "NFKC"))
      regN("pl_unicode_normalize", xs => xs(1) match {
        // the form must be a string literal (it selects the normalizer at
        // plan time); a column argument fails analysis with a clear
        // message instead of an opaque eval-time exception
        case Literal(s: org.apache.spark.unsafe.types.UTF8String,
            org.apache.spark.sql.types.StringType) =>
          graft.pipeline.UnicodeNorm(xs(0), s.toString)
        case other => throw new org.apache.spark.sql.AnalysisException(
          "_LEGACY_ERROR_TEMP_3102", // pass-through <msg> template
          Map("msg" ->
            s"pl_unicode_normalize expects a string literal form ('NFC'|'NFD'|'NFKC'|'NFKD') as its second argument, got ${other.sql}"))
      })
      reg1("pl_strip_accents", graft.pipeline.StripAccents(_))
      regN("pl_normalize_whitespace", pcol(graft.pipeline.TextNorm.normalize_whitespace))
      regN("pl_normalize_url", pcol(graft.pipeline.TextNorm.normalize_url))
      regN("pl_clean_lines", pcol(graft.pipeline.TextNorm.clean_lines(_)))
      regN("pl_kept_lines", pcol(graft.pipeline.TextNorm.kept_lines(_)))
      regN("pl_url_host", pcol(graft.pipeline.TextNorm.url_host))
      regN("pl_url_domain", pcol(graft.pipeline.TextNorm.url_domain))
      regN("pl_strip_punct", pcol(graft.pipeline.TextNorm.strip_punct))
      regN("pl_clean_text", pcol(graft.pipeline.TextNorm.clean))
      regN("pl_strip_html", pcol(graft.pipeline.TextNorm.strip_html))
      regN("pl_bloom_agg", xs => graft.pipeline.BloomBuildAgg(xs.head,
        intArg(xs, 1, 1 << 20), intArg(xs, 2, 5)).toAggregateExpression())
      regN("pl_bloom_contains", xs =>
        graft.pipeline.BloomContains(xs(0), xs(1), intArg(xs, 2, 5)))
      regN("pl_cms_agg", xs => graft.pipeline.CmsBuildAgg(xs.head,
        intArg(xs, 1, 4), intArg(xs, 2, 1024)).toAggregateExpression())
      regN("pl_cms_estimate", xs => org.apache.spark.sql.graft.shims
        .expressionEager(graft.pipeline.Cms.estimate(asColumn(xs(0)),
          asColumn(xs(1)), intArg(xs, 2, 4), intArg(xs, 3, 1024))))
      regN("pl_hll_agg", xs => graft.pipeline.HllBuildAgg(xs.head,
        intArg(xs, 1, 64)).toAggregateExpression())
      regN("pl_hll_merge", xs => graft.pipeline.HllMergeAgg(xs.head,
        intArg(xs, 1, 64)).toAggregateExpression())
      regN("pl_hll_estimate", xs => org.apache.spark.sql.graft.shims
        .expressionEager(graft.pipeline.Hll.estimate(asColumn(xs.head),
          intArg(xs, 1, 64))))
      regN("pl_char_pairs", pcol(TF.char_pairs))
      regN("pl_deletion_variants", pcol(TF.deletion_variants))
      reg2("pl_vector_dot", graft.pipeline.VectorDot(_, _))
      reg2("pl_cosine_similarity", graft.pipeline.CosineSimilarity(_, _))
      regN("pl_l2_norm", xs => org.apache.spark.sql.graft.shims
        .expressionEager(graft.pipeline.Similarity.l2_norm(asColumn(xs.head))))
      regN("pl_int8_scale", xs => org.apache.spark.sql.graft.shims
        .expressionEager(graft.pipeline.Similarity.int8Scale(asColumn(xs.head))))
      regN("pl_quantize_int8", xs => org.apache.spark.sql.graft.shims
        .expressionEager(graft.pipeline.Similarity.quantizeInt8(
          asColumn(xs(0)), asColumn(xs(1)))))
      regN("pl_dequantize_int8", xs => org.apache.spark.sql.graft.shims
        .expressionEager(graft.pipeline.Similarity.dequantizeInt8(
          asColumn(xs(0)), asColumn(xs(1)))))
      regN("pl_z_index", xs => org.apache.spark.sql.graft.shims
        .expressionEager(graft.pipeline.Layout.zIndex(
          asColumn(xs(0)), asColumn(xs(1)))))
      regN("pl_pii_emails", pcol(PII.emails))
      regN("pl_pii_ipv4s", pcol(PII.ipv4s))
      regN("pl_pii_phones", pcol(PII.phones))
      regN("pl_pii_count", pcol(PII.piiCount))
      regN("pl_redact_pii", pcol(PII.redact))
    }
    reg3("st_reproject", ReprojectGeometry(_, _, _))
    for (op <- Seq("Intersects", "Contains", "Covers", "Crosses", "Disjoint",
        "Overlaps", "Touches", "Within"))
      reg2(s"st_${op.toLowerCase}", SpatialRelation(_, _, op))
    reg2("rf_z2_index", Z2Index(_, _))
    reg2("rf_xz2_index", XZ2Index(_, _))
    reg2("rf_hilbert_index", HilbertIndex(_, _))
    regN("rf_rasterize", Rasterize(_))
    reg3("rf_proj_raster", CreateProjectedRaster(_, _, _))
    reg1("rf_extent", GetExtent(_))
    reg1("rf_tile_context", GetTileContext(_))
    reg1("rf_crs", GetCRSExpr(_))
    reg1("rf_geometry", GetGeometry(_))
    regN("rf_reproject_and_merge", ReprojectAndMerge(_))
    reg3("rf_resample", ResampleExpr(_, _, _))
    reg2("rf_resample_nearest", ResampleExpr(_, _, Literal("nearest")))
    reg1("rf_render_ascii", RenderAscii(_))
    reg1("rf_render_matrix", RenderMatrix(_))
    regN("rf_render_png", {
      case Seq(t) => RenderPNG(t)
      case Seq(t, ramp) => RenderRampPNG(t, ramp)
      case Seq(r, g, b) => RenderRGBPNG(RGBComposite(r, g, b))
      case xs => throw new IllegalArgumentException(
        s"rf_render_png takes 1-3 arguments, got ${xs.length}")
    })
    reg1("rf_mk_crs", MkCRS(_))
    reg3("rf_rgb_composite", RGBComposite(_, _, _))
    reg2("rf_focal_mean", FocalMean(_, _))
    reg2("rf_focal_min", FocalMin(_, _))
    reg2("rf_focal_max", FocalMax(_, _))
    reg2("rf_focal_median", FocalMedian(_, _))
    reg2("rf_focal_mode", FocalMode(_, _))
    reg2("rf_focal_stddev", FocalStdDev(_, _))
    reg2("rf_focal_moransi", FocalMoransI(_, _))
    reg2("rf_convolve", Convolve(_, _))
    reg2("rf_slope", Slope(_, _))
    reg1("rf_aspect", Aspect(_))
    regN("rf_hillshade", Hillshade(_)) // last: `init` checks for it
  }
}
