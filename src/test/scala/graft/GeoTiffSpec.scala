package graft

import java.nio.file.Files

import graft.core._
import graft.core.crs.CRS
import graft.core.geotiff.GeoTiff
import graft.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeoTiffSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  def tmpDir: String = Files.createTempDirectory("graft-tiff").toString

  test("codec round-trip across cell types") {
    for (ctName <- Seq("uint8", "int8", "int16", "uint16", "int32", "float32", "float64")) {
      val ct = CellType.fromName(ctName)
      val t = Tile.empty(ct, 100, 80)
      var i = 0
      while (i < t.size) { t.setDouble(i, (i % 250) + 1); i += 1 }
      val extent = Extent(10, 20, 30, 40)
      val bytes = GeoTiff.writeBytes(t, extent, CRS.wgs84)
      val info = GeoTiff.parseInfo(bytes)
      assert(info.cols == 100 && info.rows == 80)
      assert(info.extent == extent)
      assert(info.crs.normalized == "epsg:4326")
      val rt = GeoTiff.readWindow(bytes, info, GridBounds(0, 0, 99, 79))
      assert(rt.cellType.base == ct.base, s"$ctName base")
      i = 0
      while (i < t.size) {
        // compare, not ==: int8's wrapped 128 is its NoData, NaN on both sides
        assert(java.lang.Double.compare(rt.getDouble(i), t.getDouble(i)) == 0, s"$ctName cell $i")
        i += 1
      }
    }
  }

  test("windowed read touches only requested window") {
    val t = Tile.empty(CellType.int32, 300, 200)
    var i = 0
    while (i < t.size) { t.setDouble(i, i.toDouble); i += 1 }
    val bytes = GeoTiff.writeBytes(t, Extent(0, 0, 300, 200), CRS.webMercator)
    val info = GeoTiff.parseInfo(bytes)
    val win = GeoTiff.readWindow(bytes, info, GridBounds(100, 50, 149, 99))
    assert(win.cols == 50 && win.rows == 50)
    assert(win.getDouble(0, 0) == (50 * 300 + 100).toDouble)
    assert(win.getDouble(49, 49) == (99 * 300 + 149).toDouble)
  }

  test("GDAL_NODATA tag round-trips user-defined NoData cell types") {
    val ct = CellType.fromName("uint16ud255")
    val t = Tile.empty(ct, 10, 10)
    var i = 0
    while (i < t.size) { t.setDouble(i, if (i % 4 == 0) Double.NaN else i); i += 1 }
    val bytes = GeoTiff.writeBytes(t, Extent(0, 0, 10, 10), CRS.wgs84)
    val info = GeoTiff.parseInfo(bytes)
    assert(info.noData.contains(255.0))
    assert(info.cellType.name == "uint16ud255")
    val rt = GeoTiff.readWindow(bytes, info, GridBounds(0, 0, 9, 9))
    i = 0
    while (i < t.size) {
      if (i % 4 == 0) assert(rt.getDouble(i).isNaN, s"cell $i should stay NoData")
      else assert(rt.getDouble(i) == t.getDouble(i), s"cell $i")
      i += 1
    }
    // float default (NaN) writes 'nan' and reads back as plain float64
    val ft = Tile.empty(CellType.float64, 4, 4)
    ft.setDouble(3, Double.NaN)
    val fBytes = GeoTiff.writeBytes(ft, Extent(0, 0, 4, 4), CRS.wgs84)
    val fInfo = GeoTiff.parseInfo(fBytes)
    assert(fInfo.noData.exists(_.isNaN))
    assert(fInfo.cellType.name == "float64")
  }

  test("multiband write + band_indexes read selects bands correctly") {
    val dir = tmpDir
    val bands = (0 until 3).map { b =>
      val t = Tile.empty(CellType.uint16, 64, 48)
      var i = 0
      while (i < t.size) { t.setDouble(i, (i % 100) + b * 1000); i += 1 }
      t
    }
    GeoTiff.writeMultiband(s"$dir/mb.tif", bands, Extent(0, 0, 64, 48), CRS.wgs84)

    // codec level: band-selected windows
    val info = GeoTiff.readInfo(s"$dir/mb.tif")
    assert(info.samplesPerPixel == 3)
    for (b <- 0 until 3) {
      val w = GeoTiff.readWindowFile(s"$dir/mb.tif", info, GridBounds(10, 10, 19, 19), b)
      assert(w.getDouble(0, 0) == ((10 * 64 + 10) % 100) + b * 1000, s"band $b")
    }

    // DSv2 level: band_indexes option → tile_b<i> columns
    val df = spark.read.format("geotiff").option("path", s"$dir/mb.tif")
      .option("tile_dimensions", "64,48").option("band_indexes", "0,2").load()
    assert(df.columns.toSeq.endsWith(Seq("tile_b0", "tile_b2")))
    val r = df.select(
      rf_tile_max(col("tile_b0")).as("m0"),
      rf_tile_max(col("tile_b2")).as("m2")).collect()(0)
    assert(r.getDouble(0) == 99.0)
    assert(r.getDouble(1) == 2099.0)
    // lazy path also band-aware
    val lz = spark.read.format("geotiff").option("path", s"$dir/mb.tif")
      .option("tile_dimensions", "32,24").option("band_indexes", "1")
      .option("lazy_tiles", "true").load()
    val s1 = lz.select(rf_tile_max(col("tile_b1")).as("m")).agg(max(col("m"))).collect()(0).getDouble(0)
    assert(s1 == 1099.0)
  }

  test("tiles writer + geotiff/raster reader round-trip through Spark") {
    val dir = tmpDir
    // write 4 tiles on a 2x2 grid
    val df = Seq(0, 1, 2, 3).toDF("id")
      .select($"id",
        rf_synthetic_tile($"id", 64, 64, "uint16").as("tile"),
        struct(($"id" % 2).cast("double").as("xmin"),
          ($"id" / 2).cast("int").cast("double").as("ymin"),
          ($"id" % 2 + 1).cast("double").as("xmax"),
          ($"id" / 2 + 1).cast("int").cast("double").as("ymax")).as("extent"),
        lit("epsg:4326").as("crs"))
    df.write.format("tiles").option("path", dir).mode("overwrite").save()
    assert(new java.io.File(s"$dir/catalog.csv").exists())
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".tif")) == 4)

    val back = spark.read.format("raster").option("path", dir)
      .option("tile_dimensions", "64,64").load()
    assert(back.count() == 4)
    val sums = back.select(rf_tile_sum($"tile").as("s")).agg(sum($"s")).collect()(0).getDouble(0)
    val expected = df.select(rf_tile_sum($"tile").as("s")).agg(sum($"s")).collect()(0).getDouble(0)
    assert(sums == expected)
    // column pruning: metadata-only query must not decode tiles (and must be fast/correct)
    val keys = back.select($"spatial_key.col", $"crs").distinct().collect()
    assert(keys.forall(_.getString(1) == "epsg:4326"))
  }

  test("single geotiff writer mosaics tiles") {
    val dir = tmpDir
    val path = s"$dir/mosaic.tif"
    val df = Seq(0, 1).toDF("id")
      .select(
        rf_make_constant_tile(lit(5.0), 32, 32, "float64").as("tile"),
        struct(($"id").cast("double").as("xmin"), lit(0.0).as("ymin"),
          ($"id" + 1).cast("double").as("xmax"), lit(1.0).as("ymax")).as("extent"),
        lit("epsg:4326").as("crs"))
    df.write.format("geotiff").option("path", path).mode("overwrite").save()
    val (t, extent, crs) = GeoTiff.read(path)
    assert(extent == Extent(0, 0, 2, 1))
    assert(t.cols == 64 && t.rows == 32)
    assert(t.getDouble(10, 10) == 5.0 && t.getDouble(50, 10) == 5.0)
  }

  /** Band `b` of a `cols`×`rows` test raster: signed and unsigned
    * values past each type's range (they wrap), fractions for floats,
    * and NoData every 11th cell. */
  private def band(ct: CellType, cols: Int, rows: Int, b: Int): Tile = {
    val t = Tile.empty(ct, cols, rows)
    var i = 0
    while (i < t.size) {
      t.setDouble(i,
        if (i % 11 == 5) Double.NaN
        else if (ct.isFloating) (i * 37 % 1000 - 500) * 0.25 + b
        else (i * 7919 % 70001 - 35000 + b * 13).toDouble)
      i += 1
    }
    t
  }

  test("format(raster) equals GeoTiff.readWindow across layouts, byte orders, cell types and bands") {
    import TiffBytes.{Strips, Tiles}
    val (cols, rows, tile) = (37, 29, 16)
    val cellTypes = Seq("uint8", "int8", "int16", "uint16", "int32", "float32", "float64",
      "float32ud-9999")
    // strip heights that do not divide the 16-row key tiles, one strip
    // taller than the raster, and TIFF tiles aligned and not aligned with them
    val layouts = Seq(Strips(7), Strips(64), Tiles(16, 16), Tiles(32, 48))
    // (bands in the file, band_indexes option)
    for ((nBands, bandOpt) <- Seq((1, scala.None), (2, Some("0,1")), (3, Some("2,0")))) {
      val dir = tmpDir
      val files = (for {
        (ctName, ci) <- cellTypes.zipWithIndex
        (layout, li) <- layouts.zipWithIndex
        le <- Seq(true, false)
      } yield {
        val ct = CellType.fromName(ctName)
        val bands = (0 until nBands).map(b => band(ct, cols, rows, b + ci))
        val bytes = TiffBytes(bands, Extent(0, 0, cols, rows), layout, le)
        val path = s"$dir/f${ci}_${li}_$le.tif"
        Files.write(java.nio.file.Paths.get(path), bytes)
        // the codec decodes every band of the whole raster bit for bit
        val info = GeoTiff.parseInfo(bytes)
        assert(info.littleEndian == le && info.samplesPerPixel == nBands)
        for (b <- 0 until nBands)
          assert(GeoTiff.readWindow(bytes, info, GridBounds(0, 0, cols - 1, rows - 1), b) == bands(b),
            s"$path band $b")
        path -> (bytes, info, bands)
      }).toMap
      val readBands = bandOpt.map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(0))
      val tileCols = bandOpt.fold(Seq("tile"))(_ => readBands.map(b => s"tile_b$b"))
      for (buffer <- Seq(0, 1)) {
        val reader = spark.read.format("raster").option("path", dir)
          .option("tile_dimensions", s"$tile,$tile").option("buffer_size", buffer.toString)
        val rowsOut = bandOpt.fold(reader)(reader.option("band_indexes", _)).load()
          .select(($"path" +: $"spatial_key.col" +: $"spatial_key.row" +: tileCols.map(col)): _*)
          .collect()
        assert(rowsOut.length == files.size * 6, s"buffer $buffer")
        for (r <- rowsOut) {
          val (bytes, info, bands) = files(r.getString(0))
          val (kc, kr) = (r.getInt(1), r.getInt(2))
          val win = GridBounds(math.max(0, kc * tile - buffer), math.max(0, kr * tile - buffer),
            math.min(cols - 1, (kc + 1) * tile - 1 + buffer), math.min(rows - 1, (kr + 1) * tile - 1 + buffer))
          for ((b, i) <- readBands.zipWithIndex) {
            val expected = GeoTiff.readWindow(bytes, info, win, b)
            assert(r.getAs[Tile](3 + i) == expected, s"${r.getString(0)} ($kc,$kr) band $b buffer $buffer")
            // and the window holds the source cells
            for (y <- 0 until win.height; x <- 0 until win.width)
              assert(java.lang.Double.compare(expected.getRawDouble(y * win.width + x),
                bands(b).getRawDouble((win.rowMin + y) * cols + win.colMin + x)) == 0)
          }
        }
      }
    }
  }

  test("a GeoTIFF cut off mid-payload fails loudly, naming the file") {
    val dir = tmpDir
    val t = band(CellType.int16, 64, 64, 0)
    val bytes = GeoTiff.writeBytes(t, Extent(0, 0, 64, 64), CRS.wgs84)
    val path = s"$dir/cut.tif"
    Files.write(java.nio.file.Paths.get(path), bytes.take(bytes.length - 1000))
    val e = intercept[Exception] {
      spark.read.format("raster").option("path", path)
        .option("tile_dimensions", "32,32").load()
        .select(rf_tile_sum($"tile")).collect()
    }
    assert(e.getMessage.contains(path) && e.getMessage.contains("wanted"), e.getMessage)
    // the in-memory reader is as strict
    val info = GeoTiff.parseInfo(bytes)
    val e2 = intercept[java.io.EOFException] {
      GeoTiff.readWindow(bytes.take(bytes.length - 1000), info, GridBounds(0, 0, 63, 63))
    }
    assert(e2.getMessage.contains("wanted"))
  }

  test("windows outside the raster are rejected") {
    val bytes = GeoTiff.writeBytes(band(CellType.int32, 30, 20, 0), Extent(0, 0, 30, 20), CRS.wgs84)
    val info = GeoTiff.parseInfo(bytes)
    for (win <- Seq(GridBounds(0, 0, 30, 19), GridBounds(0, 0, 29, 20),
        GridBounds(-1, 0, 5, 5), GridBounds(5, 5, 4, 5))) {
      val e = intercept[IllegalArgumentException](GeoTiff.readWindow(bytes, info, win))
      assert(e.getMessage.contains("outside the 30x20 raster"), e.getMessage)
    }
  }

  test("rf_raster_source_to_tiles rejects band files unlike the first, and eager equals lazy") {
    val dir = tmpDir
    def write(name: String, ct: String, cols: Int, rows: Int): String = {
      val path = s"$dir/$name.tif"
      GeoTiff.write(path, band(CellType.fromName(ct), cols, rows, name.length),
        Extent(0, 0, 1, 1), CRS.wgs84)
      path
    }
    val b1 = write("b1", "uint16", 40, 30)
    val b2 = write("b2x", "uint16", 40, 30)
    val wide = write("wide", "uint16", 41, 30)
    val float = write("float", "float32", 40, 30)
    def expand(lazyTiles: Boolean, other: String) =
      Seq((b1, other)).toDF("b1", "b2")
        .select(rf_raster_source_to_tiles((16, 16), lazyTiles, col("b1"), col("b2")))
    for (other <- Seq(wide, float); lazyTiles <- Seq(true, false)) {
      val e = intercept[Exception](expand(lazyTiles, other).collect())
      assert(e.getMessage.contains(b1) && e.getMessage.contains(other), e.getMessage)
    }
    def tiles(lazyTiles: Boolean) = expand(lazyTiles, b2)
      .select(rf_tile($"b1"), rf_tile($"b2")).collect()
      .map(r => (r.getAs[Tile](0), r.getAs[Tile](1)))
    val eager = tiles(lazyTiles = false)
    assert(eager.length == 6)
    assert(eager.toSeq == tiles(lazyTiles = true).toSeq)
  }
}
