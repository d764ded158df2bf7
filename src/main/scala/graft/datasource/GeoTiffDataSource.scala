package graft.datasource

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import graft.core._
import graft.core.geotiff.GeoTiff
import graft.udt.TileUDT
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/**
 * DSv2 reader for GeoTIFFs: expands each file into tiled rows
 * `{spatial_key, extent, crs, tile}` with column pruning pushed into the
 * scan (unneeded cells are never decoded). Counterpart of the
 * reference's geotiff/raster readers
 * (/root/reference/datasource/src/main/scala/org/locationtech/rasterframes/datasource/geotiff/GeoTiffRelation.scala:49-136
 * — a V1 PrunedScan there; DSv2 SupportsPushDownRequiredColumns here).
 *
 * Options: `path` (file, directory or comma-list), `tile_dimensions`
 * ("cols,rows", default 256,256). Registered as both "geotiff" and
 * "raster" (the catalog variant accepts many paths).
 */
class GeoTiffDataSource extends TableProvider with GeoTiffWriteSupport with DataSourceRegister {
  override def shortName(): String = "geotiff"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoTiffTable.schemaFor(options.asScala.toMap)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GeoTiffTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = true
}

/** "raster" catalog reader — same scan, multi-path catalog semantics. */
class RasterDataSource extends GeoTiffDataSource {
  override def shortName(): String = "raster"
}

object GeoTiffTable {
  /** band_indexes option ("0,1,2") selects bands of a multiband file as
    * one tile_b<i> column each (reference: raster reader band_indexes,
    * RasterSourceRelation.scala:49-60); default is one "tile" column
    * reading band 0. */
  def bandIndexes(props: Map[String, String]): Seq[Int] =
    props.get("band_indexes").map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq.empty)

  def wantSpatialIndex(props: Map[String, String]): Boolean =
    props.get("spatial_index").exists(_.toBoolean) ||
      props.get("spatial_index_partitions").exists(_.toInt != 0)

  def schemaFor(props: Map[String, String]): StructType = {
    val tileFields = bandIndexes(props) match {
      case Seq() => Seq(StructField("tile", TileUDT.instance, nullable = true))
      case bs => bs.map(b => StructField(s"tile_b$b", TileUDT.instance, nullable = true))
    }
    // spatial_index / spatial_index_partitions adds a Z2 index column for
    // range-partitioned spatial locality (reference: RasterSourceRelation
    // spatial_index_partitions option)
    val indexField =
      if (wantSpatialIndex(props))
        Seq(StructField("spatial_index", LongType, nullable = false))
      else Seq.empty
    StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("spatial_key", StructType(Seq(
        StructField("col", IntegerType, nullable = false),
        StructField("row", IntegerType, nullable = false))), nullable = false),
      StructField("extent", graft.expressions.SpatialSupport.extentSchema, nullable = false),
      StructField("crs", StringType, nullable = false)) ++ indexField ++ tileFields)
  }

  def resolvePaths(props: Map[String, String]): Seq[String] = {
    val raw = props.getOrElse("path", props.getOrElse("paths",
      throw new IllegalArgumentException("geotiff/raster reader requires a 'path' option")))
    raw.split(",").map(_.trim).filter(_.nonEmpty).flatMap { p =>
      val path = Paths.get(p)
      if (Files.isDirectory(path)) {
        val stream = Files.list(path)
        try stream.iterator().asScala
          .filter(f => f.toString.endsWith(".tif") || f.toString.endsWith(".tiff"))
          .map(_.toString).toVector.sorted
        finally stream.close()
      } else Seq(p)
    }.toSeq
  }
}

class GeoTiffTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"geotiff(${props.getOrElse("path", "?")})"
  override def schema(): StructType = GeoTiffTable.schemaFor(props)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GeoTiffScanBuilder(props ++ options.asScala)
}

class GeoTiffScanBuilder(props: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = GeoTiffTable.schemaFor(props)
  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }
  override def build(): Scan = new GeoTiffScan(props, required)
}

/**
 * A run of FILES per partition — the 100 TB-safe plan shape. Window
 * expansion and metadata parsing happen executor-side inside the
 * PartitionReader (the reference expands windows executor-side too, via
 * a generator:
 * /root/reference/core/src/main/scala/org/locationtech/rasterframes/expressions/generators/RasterSourceToRasterRefs.scala:62-77).
 * Planning a partition per WINDOW would create millions of driver-side
 * objects and serial driver I/O on a large catalog; a partition per
 * FILE creates a task per object, which collapses on catalogs of many
 * small COGs (a million 4 KB thumbnails must not be a million tasks).
 * Files are bin-packed like Spark's own FilePartition planning:
 * name-sorted contiguous runs (preserving the catalog's spatial
 * ordering), each file costed at size + `spark.sql.files.openCostInBytes`,
 * packed up to min(`spark.sql.files.maxPartitionBytes`,
 * max(openCost, totalCost / defaultParallelism)).
 */
final case class GeoTiffFilePartition(paths: Seq[String], tileCols: Int, tileRows: Int,
    buffer: Int, lazyTiles: Boolean) extends InputPartition

class GeoTiffScan(props: Map[String, String], required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val (tc, tr) = props.get("tile_dimensions").map { s =>
      val a = s.split("[,x]"); (a(0).trim.toInt, a(1).trim.toInt)
    }.getOrElse((256, 256))
    // buffer_size expands each window by a halo for cross-tile focal ops
    // (reference: buffer_size option, RasterSourceRelation.scala:54);
    // lazy_tiles ships RasterRef-style references instead of cells.
    val buffer = props.get("buffer_size").map(_.toInt).getOrElse(0)
    val lazyTiles = props.get("lazy_tiles").exists(_.toBoolean)
    // Driver-side I/O stays at listing + size metadata (an object-store
    // LIST returns sizes with the names; the local probe mirrors that).
    val paths = GeoTiffTable.resolvePaths(props)
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val parallelism = org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism
    val costs = paths.map { p =>
      val sz = try Files.size(Paths.get(p)) catch { case _: Exception => 0L }
      sz + openCost
    }
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, costs.sum / math.max(1, parallelism)))
    val bins = Seq.newBuilder[InputPartition]
    var run = Vector.newBuilder[String]
    var runCost = 0L
    var nonEmpty = false
    paths.zip(costs).foreach { case (p, c) =>
      if (nonEmpty && runCost + c > maxSplit) {
        bins += GeoTiffFilePartition(run.result(), tc, tr, buffer, lazyTiles)
        run = Vector.newBuilder[String]; runCost = 0L; nonEmpty = false
      }
      run += p; runCost += c; nonEmpty = true
    }
    if (nonEmpty) bins += GeoTiffFilePartition(run.result(), tc, tr, buffer, lazyTiles)
    bins.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new GeoTiffReaderFactory(required)
}

object GeoTiffReaderFactory {
  /** Z2 index of a point in `crs` (lon/lat-normalized Morton order). */
  def z2Of(x: Double, y: Double, crs: graft.core.crs.CRS): Long = {
    val (lon, lat) = graft.core.crs.CRS.toLonLat(x, y, crs)
    val res = 31
    val nx = ((lon + 180.0) / 360.0 * ((1L << res) - 1)).toLong
    val ny = ((lat + 90.0) / 180.0 * ((1L << res) - 1)).toLong
    graft.expressions.Z2Index.interleave(nx, ny, res)
  }
}

class GeoTiffReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[GeoTiffFilePartition]
    new PartitionReader[InternalRow] {
      // Executor-side, per file: one open channel and one ranged metadata
      // read (cached); then, per tile row of keys, one GeoTiff.readSpan of
      // the row's rows (halo included) from which every window and band
      // of that row is cut, so each strip or TIFF tile is read once per
      // row. Memory: one row span (every band, full raster width) plus
      // the window being emitted. Files of the partition's run are
      // consumed sequentially; lazy and metadata-only scans read no cells.
      private val bands: Array[Int] = required.fields.map(_.name match {
        case "path" | "spatial_key" | "extent" | "crs" | "spatial_index" => -1
        case "tile" => 0
        case tileName => tileName.stripPrefix("tile_b").toInt
      })
      private val readsCells = !part.lazyTiles && bands.exists(_ >= 0)
      private val files = part.paths.iterator
      private var path: String = _
      private var info: GeoTiff.Info = _
      private var reader: GeoTiff.ByteReader = _
      private var span: GeoTiff.Span = _
      private var keysAcross = 0
      private var keysDown = 0
      private var idx = -1
      override def next(): Boolean = {
        idx += 1
        while (info == null || idx >= keysAcross * keysDown) {
          close()
          if (!files.hasNext) return false
          path = files.next()
          if (readsCells) {
            reader = new GeoTiff.FileRangeReader(path)
            info = graft.udt.RefTile.info(path, reader)
          } else info = graft.udt.RefTile.info(path)
          keysAcross = (info.cols + part.tileCols - 1) / part.tileCols
          keysDown = (info.rows + part.tileRows - 1) / part.tileRows
          idx = 0
        }
        true
      }
      override def get(): InternalRow = {
        val kc = idx % keysAcross
        val kr = idx / keysAcross
        val win = GridBounds(
          math.max(0, kc * part.tileCols - part.buffer),
          math.max(0, kr * part.tileRows - part.buffer),
          math.min(info.cols - 1, (kc + 1) * part.tileCols - 1 + part.buffer),
          math.min(info.rows - 1, (kr + 1) * part.tileRows - 1 + part.buffer))
        if (readsCells && (span == null || span.bounds.rowMin != win.rowMin))
          span = GeoTiff.readSpan(reader, info,
            GridBounds(0, win.rowMin, info.cols - 1, win.rowMax))
        val extent = info.rasterExtent.extentOf(win)
        // column pruning: decode cells only if the tile column is required
        val values = Array.tabulate[Any](required.fields.length) { f =>
          if (bands(f) < 0) required.fields(f).name match {
            case "path" => UTF8String.fromString(path)
            case "spatial_key" => InternalRow(kc, kr)
            case "extent" =>
              InternalRow(extent.xmin, extent.ymin, extent.xmax, extent.ymax)
            case "crs" => UTF8String.fromString(info.crs.normalized)
            case "spatial_index" =>
              // Z2 of the window centroid in the file CRS — stable, cheap,
              // and range-partitionable for spatial locality downstream
              java.lang.Long.valueOf(GeoTiffReaderFactory.z2Of(
                (extent.xmin + extent.xmax) / 2, (extent.ymin + extent.ymax) / 2,
                info.crs))
          }
          else if (part.lazyTiles)
            TileUDT.encode(new graft.udt.RefTile(path, win,
              info.cellType, win.width, win.height, bands(f)))
          else TileUDT.encode(span.window(win, bands(f)))
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
      }
      override def close(): Unit = {
        span = null
        if (reader != null) { reader.close(); reader = null }
      }
    }
  }
}
