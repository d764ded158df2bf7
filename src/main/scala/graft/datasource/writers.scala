package graft.datasource

import java.nio.file.{Files, Paths}

import graft.core._
import graft.core.crs.CRS
import graft.core.geotiff.GeoTiff
import graft.expressions.SpatialSupport
import graft.udt.TileUDT
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types.StructType

/**
 * Write-side connectors (V1 CreatableRelationProvider, like the
 * reference's writers):
 *  - "tiles": one GeoTIFF per row + a catalog.csv
 *    (/root/reference/datasource/.../tiles/TilesDataSource.scala:47-230)
 *  - "geotiff": mosaic everything into ONE GeoTIFF on the driver —
 *    explicitly not big-data friendly, mirrored from
 *    (/root/reference/datasource/.../geotiff/GeoTiffDataSource.scala:61-102)
 *
 * Input contract: columns `tile` (TileUDT), `extent` (struct), `crs`
 * (string); extra columns are carried into the catalog.
 */
class TilesDataSource extends CreatableRelationProvider with DataSourceRegister {
  override def shortName(): String = "tiles"
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("tiles writer requires a 'path'"))
    Files.createDirectories(Paths.get(dir))
    val cols = data.columns
    val tileIdx = cols.indexOf("tile")
    val extIdx = cols.indexOf("extent")
    val crsIdx = cols.indexOf("crs")
    require(tileIdx >= 0 && extIdx >= 0 && crsIdx >= 0,
      "tiles writer requires 'tile', 'extent' and 'crs' columns")
    val otherCols = cols.zipWithIndex.filter { case (c, i) =>
      i != tileIdx && i != extIdx && i != crsIdx }
    // distributed write of tile files; small metadata returns to the driver
    val entries = data.rdd.mapPartitionsWithIndex { (pid, rows) =>
      rows.zipWithIndex.map { case (row, i) =>
        val tile = row.getAs[Tile](tileIdx)
        val extent = SpatialSupport.extentOf(row.getStruct(extIdx))
        val crs = CRS(row.getString(crsIdx))
        val name = f"tile-$pid%05d-$i%05d.tif"
        GeoTiff.write(s"$dir/$name", tile, extent, crs)
        (name +: otherCols.map { case (_, idx) => String.valueOf(row.get(idx)) })
          .mkString(",")
      }
    }.collect()
    val header = ("path" +: otherCols.map(_._1)).mkString(",")
    Files.write(Paths.get(s"$dir/catalog.csv"),
      (header +: entries).mkString("\n").getBytes("UTF-8"))
    val outerCtx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = outerCtx
      override def schema: StructType = data.schema
    }
  }
}

/** Mixed into [[GeoTiffDataSource]] so format("geotiff") reads AND writes. */
trait GeoTiffWriteSupport extends CreatableRelationProvider {
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("geotiff writer requires a 'path'"))
    val rows = data.select("tile", "extent", "crs").collect()
    require(rows.nonEmpty, "geotiff writer: empty input")
    val parts = rows.map(r => (r.getAs[Tile](0), SpatialSupport.extentOf(r.getStruct(1))))
    val crss = rows.map(_.getString(2)).distinctBy(CRS(_).normalized)
    if (crss.length > 1)
      throw new IllegalArgumentException("geotiff writer: mixed CRSs " +
        crss.mkString("(", ", ", ")") + "; a mosaic needs one CRS, reproject the rows first")
    val crs = CRS(crss.head)
    val union = parts.map(_._2).reduce(_ combine _)
    val cw = parts.head._2.width / parts.head._1.cols
    val ch = parts.head._2.height / parts.head._1.rows
    val re = RasterExtent(union,
      math.max(1, math.round(union.width / cw).toInt), math.max(1, math.round(union.height / ch).toInt))
    // the last part wins a cell: paint in reverse, first data value wins
    val grid = Warp.grid(re)
    for ((t, e) <- parts.reverseIterator)
      Warp.paint(grid, re, crs, re.gridBoundsFor(e), t, RasterExtent(e, t.cols, t.rows), crs, "nearest")
    val out = Tile.fromDoubles(grid.toArrayDouble, parts.head._1.cellType.withDefaultNoData, re.cols, re.rows)
    GeoTiff.write(path, out, union, crs)
    val outerCtx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = outerCtx
      override def schema: StructType = data.schema
    }
  }
}
