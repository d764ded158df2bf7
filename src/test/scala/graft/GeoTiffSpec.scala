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

  test("writer bytes match goldens for every cell type with one and two bands") {
    // SHA-256 of writeBytesMultiband output: 7x130 cells (three strips),
    // every 13th cell NoData, band b offset by 11·b
    val golden = Map(
      "bool/1" -> "052bed1440de15ec076483913924982a90bfdff14dc325f6bc0587c915d00099",
      "bool/2" -> "d92f7781f81769750b179ede4ed866c81fa64638c30a6eabd8cdef14b923738b",
      "int8raw/1" -> "2293419c610bf36f036b523bcf6c7548a6ec2ffd747fe2bc1c636778a1e691fe",
      "int8raw/2" -> "4e8356ea73efd782d7649c4812765f25f049f86db5b7250a50663cdf0d91165a",
      "int8/1" -> "a362b583aace21a962b71ef1ee9665320ed277e10cdb22cd5014b3cfcb434808",
      "int8/2" -> "32f8dac8fd337a1dd2960660163b053537bc8743e5180023beb73401588695d8",
      "uint8raw/1" -> "8ef23deb78975458e40c723f7a8608712fbcdf01e9fdd8b72a9fa23f5e938921",
      "uint8raw/2" -> "bb3e82e9ae62f15cf17dc987ac23a74ef1f2d1bae870f3f1469813d640e12c20",
      "uint8/1" -> "fd17966cd088a295653e8c813effc808b43d48b614737d49f5b976ed7128f1c6",
      "uint8/2" -> "4212b3c730a6b557debd1efd9ed0271fadb34289b175524f5a02f31ac169d5c9",
      "int16raw/1" -> "7a860be6b7199d927a8d3e44349417299e6cf5f1750accbade72c78f79cb23e1",
      "int16raw/2" -> "a90b4e44469b47f76ef26365503098d6cbb0c0ad5955030b171e3437cb5aba41",
      "int16/1" -> "8a59df9fce8745d79fbc0e00aa8ec2beab9f12801838b7251c6a59effc6694c9",
      "int16/2" -> "a96f2570f4997162cd19bf084388d7881f878b56d2b74926c870207c22d813d8",
      "uint16raw/1" -> "257331ccf71ae77a702014ebdeec5a036d399eb3cedc57cf377a90b81ecae4ee",
      "uint16raw/2" -> "d8bf7a8307e4a84683f9616ea07e1e746e8786e7ab68c0de7b1ef78323377bc1",
      "uint16/1" -> "cdc44ab88b2c1d864b57ab75e82b8227d70632297bda8acbc71962ab2c1842d3",
      "uint16/2" -> "29573602d6dc878909b1c74bf2943afadef521f3d420c38f24b322251394c27a",
      "int32raw/1" -> "18720de3e152cdec489465c7b995b825414c0d2c59dccef7219e820a3981f904",
      "int32raw/2" -> "62e2621f6e78be2d339a65cd1a645f3edf8e5c465ff417837daf4e5034d67fce",
      "int32/1" -> "bc401028c6bff9cbf092fce739657a157fafa790acdbec55e6852d03fc742cc5",
      "int32/2" -> "9085d761e5c0da70d8b8f2c816adf4dc1deca2593b50e867fdc003b41bcac9f4",
      "float32raw/1" -> "c06bc7b2f0330bd3231ae74e453afa05922be90325c49d6a491c3f49aa9f9d74",
      "float32raw/2" -> "8d3b8ea02b6a32ec93c0b3bbc5f872791c06ffc6afec323a1341e852839cbbd0",
      "float32/1" -> "86262c1efeffc50edf7d50ae6f8c5c7670afe6131fb674ca9f1f94b41b740b5f",
      "float32/2" -> "2d9b3221cea84bf621563268b5d875b682ca910e6725f84674403df0018dc071",
      "float64raw/1" -> "c7848b5e13409f72566af785b984901bdabaddfda4b781916d77a3d393cbb251",
      "float64raw/2" -> "a548cbe05f06222fe2f90dfe91e406f8547d47681f90699193bfd163fbe73157",
      "float64/1" -> "4b3a98e4f1b90847e0eb2c84ad1be935bc6fc469375cc0e06fba48fdf16b5fd2",
      "float64/2" -> "992357607f30b18686db29fdd75542ec76774c2b4d7d6b5a0bb9fa42cb5faa17",
      "int16ud-5/1" -> "74fb1f0fdecfabba8cc76ecd11d9b221cc3b36ef0a7ec37c8218f8e2649a53be",
      "int16ud-5/2" -> "cf4ee2177c94d04e47f003ee5048615410b21f6692074e1e5721443816ec6718",
      "float32ud-9999/1" -> "c9c998cfc82a892429d55611c783562d9eaba1f4b15a49ccb08d7aab91c561be",
      "float32ud-9999/2" -> "3062111312b5a8ebaaa7db20dd36d5a8b05d8581d34a223fff83aa7550a137af",
      "uint8ud7/1" -> "d6fbfa27657e17082ea7b33dcfaeaf79992f31d9686b48989cf2dd48b1f5147c",
      "uint8ud7/2" -> "235147d78c5d6efc518c331b19fefa2a0aab610885975877f87614a4c30c8833")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val ext = Extent(10.0, 20.0, 11.0, 21.0)
    val names = CellType.allNames :+ "int16ud-5" :+ "float32ud-9999" :+ "uint8ud7"
    for (name <- names; nb <- Seq(1, 2)) {
      val ct = CellType.fromName(name)
      val bands = (0 until nb).map { b =>
        val t = Tile.blank(ct, 7, 130)
        for (i <- 0 until t.size) {
          val v = ((i * 37 + b * 11) % 300) - 40
          t.setDouble(i, if (i % 13 == 5) Double.NaN
            else if (ct.isFloating) v * 0.37 else v.toDouble)
        }
        t
      }
      val hash = md.digest(GeoTiff.writeBytesMultiband(bands, ext, CRS("EPSG:4326")))
        .map("%02x".format(_)).mkString
      assert(hash == golden(s"$name/$nb"), s"$name with $nb band(s)")
    }
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
