package graft

import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.core._
import graft.core.crs.CRS
import graft.core.geotiff.GeoTiff
import graft.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/**
 * The one raster-onto-grid kernel, `Warp.paint`, and the four sites
 * that paint through it: the overview aggregate, rf_reproject_and_merge,
 * the `geotiff` mosaic writer and the `slippy` writer.
 *
 * The site goldens are SHA-256 digests of output cells (or PNG bytes)
 * produced by the per-site painting loops that `Warp` replaced, so each
 * site paints exactly the cells it painted before.
 */
class WarpSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  /** Digest of a tile's cell type, shape and double view (NaN canonical). */
  private def cellsSha(t: Tile): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(s"${t.cellType.name} ${t.cols}x${t.rows}".getBytes("UTF-8"))
    val bb = ByteBuffer.allocate(8)
    for (i <- 0 until t.size) {
      bb.clear(); bb.putLong(java.lang.Double.doubleToLongBits(t.getDouble(i)))
      md.update(bb.array())
    }
    hex(md.digest())
  }

  private def assertCells(t: Tile, golden: String): Unit = {
    val data = (0 until t.size).count(i => NoData.isData(t.getDouble(i)))
    assert(cellsSha(t) == golden, s"$data of ${t.size} cells hold data")
  }

  private def ext(e: Extent): Column =
    struct(lit(e.xmin).as("xmin"), lit(e.ymin).as("ymin"),
      lit(e.xmax).as("xmax"), lit(e.ymax).as("ymax"))

  /** `cols`×`rows` cells `base + i·step`, NoData every `gap`-th cell. */
  private def cells(cols: Int, rows: Int, base: Double, step: Double, gap: Int): Array[Double] =
    Array.tabulate(cols * rows)(i => if (i % gap == gap - 1) Double.NaN else base + i * step)

  private def tileCol(a: Array[Double], cols: Int, rows: Int): Column =
    rf_array_to_tile(lit(a), cols, rows)

  /** One row per part, in order, in a single partition. */
  private def parts(ps: Seq[(Extent, Array[Double])], cols: Int, rows: Int, crs: String) =
    ps.map { case (e, a) =>
      Seq(1).toDF("id").select(tileCol(a, cols, rows).as("tile"), ext(e).as("extent"),
        lit(crs).as("crs"))
    }.reduce(_ union _).coalesce(1)

  // two overlapping UTM 33N tiles (100 m cells) and one web-mercator tile
  private val utmA = Extent(500000, 4400000, 506400, 4406400)
  private val utmB = Extent(503200, 4401600, 509600, 4408000)
  private val merc = Extent(1670000, 4840000, 1676400, 4846400)
  private val lonLatGrid = Extent(14.95, 39.70, 15.15, 39.85)

  test("golden: cross-CRS overview, epsg:32633 sources onto an epsg:4326 grid") {
    val df = parts(Seq((utmA, cells(64, 64, 0, 0.5, 7)), (utmB, cells(64, 64, 1000, 1, 5))),
      64, 64, "epsg:32633")
    val ov = df.select(rf_proj_raster($"tile", $"extent", $"crs").as("pr"))
      .agg(rf_agg_overview_raster($"pr", 48, 36, lonLatGrid, "epsg:4326"))
      .collect()(0).getAs[Tile](0)
    assertCells(ov, "b0a9696f0f6509ffbc6f2b9c0872c88c7e4f1e4457524f6910341125e85162f2")
  }

  private def mergeCase(method: Option[String]): Tile = {
    val m = method.map(x => s", '$x'").getOrElse("")
    Seq(1).toDF("id").select(
      array(tileCol(cells(64, 64, 0, 0.5, 7), 64, 64),
        tileCol(cells(64, 64, 1000, 1, 5), 64, 64),
        tileCol(cells(64, 64, -500, 0.25, 3), 64, 64)).as("tiles"),
      array(ext(utmA), ext(utmB), ext(merc)).as("extents"),
      array(lit("epsg:32633"), lit("epsg:32633"), lit("epsg:3857")).as("crss"),
      ext(lonLatGrid).as("dest"))
      .select(expr(s"rf_reproject_and_merge(tiles, extents, crss, dest, 'epsg:4326', 48, 36$m)"))
      .collect()(0).getAs[Tile](0)
  }

  test("golden: cross-CRS rf_reproject_and_merge, nearest") {
    assertCells(mergeCase(None),
      "4637fc63326f8a349112ffc5f06d1049b0a39c7c09eb3de1a10a3e3885e272d9")
  }

  test("golden: cross-CRS rf_reproject_and_merge, bilinear") {
    assertCells(mergeCase(Some("bilinear")),
      "41032f04461ed249317bdc6f7bfe99ae81647b5079187bdc826510e0d6c84038")
  }

  test("golden: geotiff mosaic of overlapping int16 parts, the last part wins") {
    val df = parts(Seq(
      (Extent(0, 0, 1, 1), cells(16, 16, 1, 1, 9)),
      (Extent(0.5, 0.25, 1.5, 1.25), cells(16, 16, 2000, 1, 4)),
      (Extent(0.25, -0.5, 1.25, 0.5), cells(16, 16, -3000, 2, 6))), 16, 16, "epsg:4326")
      .select(rf_convert_cell_type($"tile", "int16").as("tile"), $"extent", $"crs")
    val path = Files.createTempDirectory("warp-mosaic").resolve("m.tif").toString
    df.write.format("geotiff").option("path", path).mode("overwrite").save()
    val (t, e, _) = GeoTiff.read(path)
    assert(e == Extent(0, -0.5, 1.5, 1.25))
    assert(t.cellType.name == "int16" && t.cols == 24 && t.rows == 28)
    // (col 14, row 8) lies in parts 0 and 1: part 1's cell 134 wins
    assert(t.getDouble(14, 8) == 2134.0)
    assertCells(t, "b3180f26d65bcbe7a766ef0cf037aaa0da689da122a5b21c39f07d8b7e33dfa8")
  }

  test("the geotiff mosaic writer rejects rows in different CRSs, naming them") {
    val df = parts(Seq((Extent(0, 0, 1, 1), cells(4, 4, 1, 1, 9))), 4, 4, "epsg:4326")
      .union(parts(Seq((Extent(0, 0, 1, 1), cells(4, 4, 1, 1, 9))), 4, 4, "EPSG:3857"))
    val path = Files.createTempDirectory("warp-mixed").resolve("m.tif").toString
    val e = intercept[IllegalArgumentException](
      df.write.format("geotiff").option("path", path).mode("overwrite").save())
    assert(e.getMessage == "geotiff writer: mixed CRSs (epsg:4326, EPSG:3857); " +
      "a mosaic needs one CRS, reproject the rows first")
    assert(!Files.exists(Paths.get(path)))
  }

  test("golden: slippy tiles a source covers only in part") {
    val dir = Files.createTempDirectory("warp-slippy")
    Seq(1).toDF("id").select(
      tileCol(cells(40, 30, 0, 1, 13), 40, 30).as("tile"),
      ext(Extent(5.0, 5.0, 17.0, 15.0)).as("extent"), lit("epsg:4326").as("crs"))
      .write.format("slippy").option("path", dir.toString).option("zoom", "5").save()
    val pngs = Files.walk(dir).iterator.asScala
      .filter(_.toString.endsWith(".png")).toSeq.sortBy(_.toString)
    val listing = pngs.map { p =>
      s"${dir.relativize(p)} ${hex(MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)))}"
    }.mkString("\n")
    assert(hex(MessageDigest.getInstance("SHA-256").digest(listing.getBytes("UTF-8"))) ==
      "32931b66b0c5c0126c509cc556735ef7becc8481c65a8f41bb70ac6c9e9e5d2c",
      listing)
  }

  // kernel: one 2×1 grid over (0, 0)–(2, 1), painted by 2×1 sources on the same layout
  private val re2 = RasterExtent(Extent(0, 0, 2, 1), 2, 1)
  private def src2(a: Double, b: Double): Tile = Tile.fromDoubles(Array(a, b), CellType.float64, 2, 1)
  private def paint2(dst: MutableTile, src: Tile): Int =
    Warp.paint(dst, re2, CRS.wgs84, GridBounds(0, 0, 1, 0), src, re2, CRS.wgs84, "nearest")

  test("kernel: a NoData sample leaves the cell alone, so a later source can fill it") {
    val dst = Warp.grid(re2)
    assert(paint2(dst, src2(Double.NaN, 5)) == 1)
    assert(dst.getDouble(0).isNaN && dst.getDouble(1) == 5)
    assert(paint2(dst, src2(7, Double.NaN)) == 1)
    assert(dst.toArrayDouble.toSeq == Seq(7.0, 5.0))
  }

  test("kernel: the first data value wins, for nearest and interpolating methods") {
    for (method <- Seq("nearest", "bilinear")) {
      val dst = Warp.grid(re2)
      assert(Warp.paint(dst, re2, CRS.wgs84, GridBounds(0, 0, 1, 0),
        src2(1, 2), re2, CRS.wgs84, method) == 2)
      assert(Warp.paint(dst, re2, CRS.wgs84, GridBounds(0, 0, 1, 0),
        src2(8, 9), re2, CRS.wgs84, method) == 0)
      assert(dst.toArrayDouble.toSeq == Seq(1.0, 2.0), method)
    }
  }

  test("kernel: an unknown method fails before the first cell") {
    val dst = Warp.grid(re2)
    assert(paint2(dst, src2(1, 2)) == 2)
    // every cell already holds data, so no cell would ever be sampled
    val e = intercept[IllegalArgumentException](
      Warp.paint(dst, re2, CRS.wgs84, GridBounds(0, 0, 1, 0), src2(8, 9), re2, CRS.wgs84, "Cubic_Blur"))
    assert(e.getMessage == "Unsupported point-sample method: cubicblur (nearest, bilinear, " +
      "cubic_convolution, cubic_spline, lanczos)")
  }

  test("kernel: nothing outside the scan window changes") {
    val re = RasterExtent(Extent(0, 0, 4, 4), 4, 4)
    val dst = Warp.grid(re)
    dst.setDouble(0, -1)
    val src = Tile.constant(3, CellType.float64, 8, 8)
    assert(Warp.paint(dst, re, CRS.wgs84, GridBounds(1, 1, 2, 3), src, re.copy(cols = 8, rows = 8),
      CRS.wgs84, "nearest") == 6)
    for (r <- 0 until 4; c <- 0 until 4) {
      val inside = c >= 1 && c <= 2 && r >= 1
      val want = if (inside) 3.0 else if (r == 0 && c == 0) -1.0 else Double.NaN
      assert(dst.getDouble(c, r).equals(want), s"($c, $r)")
    }
  }

  test("xToCol( and yToRow( appear in src/main only in core/Extent.scala and core/Warp.scala") {
    val hits = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(Files.isRegularFile(_))
      .filter { p => val s = Files.readString(p); s.contains("xToCol(") || s.contains("yToRow(") }
      .map(_.toString).toSeq.sorted
    assert(hits == Seq("src/main/scala/graft/core/Extent.scala", "src/main/scala/graft/core/Warp.scala"))
  }
}
