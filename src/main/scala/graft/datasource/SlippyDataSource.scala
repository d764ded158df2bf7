package graft.datasource

import java.nio.file.{Files, Paths}

import graft.core._
import graft.core.crs.CRS
import graft.expressions.{Png, SpatialSupport}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types.StructType

/**
 * Slippy-map (z/x/y PNG pyramid) writer + HTML viewer (reference:
 * /root/reference/datasource/src/main/scala/org/locationtech/rasterframes/datasource/slippy/SlippyDataSource.scala:17-67).
 * Each input row's tile is resampled to the 256² slippy tile(s) its
 * footprint covers at the chosen zoom; distributed `foreachPartition`
 * write, no driver collect. Options: `path`, `zoom` (default 4).
 * Input: `tile`, `extent`, `crs` columns (extent in the row's CRS).
 */
class SlippyDataSource extends CreatableRelationProvider with DataSourceRegister {
  override def shortName(): String = "slippy"

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("slippy writer requires a 'path'"))
    val zoom = parameters.getOrElse("zoom", "4").toInt
    Files.createDirectories(Paths.get(dir))
    val n = 1 << zoom

    def lonLatToTile(lon: Double, lat: Double): (Int, Int) = {
      val x = ((lon + 180.0) / 360.0 * n).toInt.max(0).min(n - 1)
      val latR = math.toRadians(lat)
      val y = ((1.0 - math.log(math.tan(latR) + 1.0 / math.cos(latR)) / math.Pi) / 2.0 * n)
        .toInt.max(0).min(n - 1)
      (x, y)
    }
    def tileBounds(x: Int, y: Int): Extent = { // in lon/lat
      def lon(i: Int) = i.toDouble / n * 360.0 - 180.0
      def lat(i: Int) = math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2.0 * i / n))))
      Extent(lon(x), lat(y + 1), lon(x + 1), lat(y))
    }

    val rows = data.select("tile", "extent", "crs")
    rows.rdd.foreachPartition { it =>
      it.foreach { row =>
        val t = row.getAs[Tile](0)
        val extent = SpatialSupport.extentOf(row.getStruct(1))
        val crs = CRS(row.getString(2))
        val (lon0, lat0) = CRS.toLonLat(extent.xmin, extent.ymin, crs)
        val (lon1, lat1) = CRS.toLonLat(extent.xmax, extent.ymax, crs)
        val (tx0, ty1) = lonLatToTile(lon0, lat0)
        val (tx1, ty0) = lonLatToTile(lon1, lat1)
        val srcRE = RasterExtent(Extent(lon0, lat0, lon1, lat1), t.cols, t.rows)
        val grey = Png.grey(t)
        for (tx <- tx0 to tx1; ty <- ty0 to ty1) {
          val re = RasterExtent(tileBounds(tx, ty), 256, 256)
          val grid = Warp.grid(re)
          if (Warp.paint(grid, re, CRS.wgs84, GridBounds(0, 0, 255, 255),
              t, srcRE, CRS.wgs84, "nearest") > 0) {
            val p = Paths.get(dir, zoom.toString, tx.toString)
            Files.createDirectories(p)
            Files.write(p.resolve(s"$ty.png"), Png.write(grid)(grey))
          }
        }
      }
    }
    Files.write(Paths.get(dir, "index.html"),
      s"""<!doctype html><html><body><h3>graft slippy layer (zoom $zoom)</h3>
         |<p>Tiles under $zoom/{x}/{y}.png — point any slippy-map client at this directory.</p>
         |</body></html>""".stripMargin.getBytes("UTF-8"))
    val outerCtx = ctx
    new BaseRelation {
      override def sqlContext: SQLContext = outerCtx
      override def schema: StructType = data.schema
    }
  }
}
