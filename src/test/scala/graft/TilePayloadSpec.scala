package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.core._
import graft.core.geotiff.GeoTiff
import graft.expressions._
import graft.udt.TileUDT
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/**
 * A tile is a view over its TileUDT `cells` payload.
 *
 * The kernel goldens are SHA-256 digests (first 16 hex digits) of the
 * payloads that the local ops, focal, resample and GeoTIFF window reads
 * produced over the cell-type matrix before tiles became payload views,
 * so every kernel writes exactly the bytes it wrote before.
 */
class TilePayloadSpec extends AnyFunSuite {

  /** The 15 fixed cell types and one user-defined NoData type. */
  private val cellTypes: Seq[CellType] =
    (CellType.allNames :+ "float32ud-9999").map(CellType.fromName)

  private val cols = 37
  private val rows = 23

  /** A deterministic tile of `ct`: values spread over the type's range,
    * NoData every 7th cell, the sentinel itself every 11th. */
  private def input(ct: CellType, seed: Long): Tile = {
    val lo = math.max(ct.base.minValue, -1e6)
    val hi = math.min(ct.base.maxValue, 1e6)
    val values = Array.tabulate(cols * rows) { i =>
      val h = ((i + seed) * 2654435761L) & 0xffffffffL
      if (i % 7 == 3) Double.NaN
      else if (i % 11 == 5 && ct.hasNoData) ct.noDataValue
      else if (ct.isFloating) lo + (h % 100003) / 100003.0 * (hi - lo)
      else lo + (h % (hi - lo + 1).toLong)
    }
    Tile.fromDoubles(values, ct, cols, rows)
  }

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  /** Digest of each output's name, cell type, shape and payload. */
  private def digest(outs: Seq[(String, Tile)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    for ((name, t) <- outs) {
      md.update(s"$name ${t.cellType.name} ${t.cols}x${t.rows}".getBytes("UTF-8"))
      md.update(t.toBytes)
    }
    hex(md.digest()).take(16)
  }

  private def tileRef(i: Int): Expression = BoundReference(i, TileUDT.instance, nullable = true)
  private def eval(e: Expression, ts: Tile*): Tile =
    TileUDT.decode(e.eval(InternalRow(ts.map(TileUDT.encode): _*)).asInstanceOf[InternalRow])

  private def localOps(t: Tile, u: Tile): Seq[(String, Tile)] = {
    val (a, b) = (tileRef(0), tileRef(1))
    Seq(
      "add" -> eval(LocalAdd(a, b), t, u),
      "subtract 3.5" -> eval(LocalSubtract(a, Literal(3.5)), t),
      "2 multiply" -> eval(LocalMultiply(Literal(2), a), t),
      "divide" -> eval(LocalDivide(a, b), t, u),
      "nd" -> eval(NormalizedDifference(a, b), t, u),
      "less" -> eval(LocalLess(a, b), t, u),
      "abs" -> eval(LocalAbs(a), t),
      "sqrt" -> eval(LocalSqrt(a), t),
      "no_data" -> eval(LocalUndefined(a), t),
      "clamp" -> eval(LocalClamp(a, Literal(5), Literal(100)), t),
      "where" -> eval(LocalWhere(a, b, Literal(-1.5)), t, u)) ++
      cellTypes.map(ct => s"convert ${ct.name}" -> t.convert(ct))
  }

  private def focal(t: Tile): Seq[(String, Tile)] = {
    import Focal._
    Seq(
      "mean" -> mean(t, Square(1)),
      "sum" -> sum(t, Square(1)),
      "max" -> max(t, Circle(2)),
      "median" -> median(t, Circle(2)),
      "mode" -> mode(t, Square(1)),
      "stddev" -> stddev(t, Square(2)),
      "moransI" -> moransI(t, Square(1)),
      "slope" -> slope(t, 30, 30, 1),
      "hillshade" -> hillshade(t, 30, 30, 315, 45, 1))
  }

  private val methods = Seq("nearest", "bilinear", "cubic_convolution", "cubic_spline", "lanczos",
    "average", "mode", "median", "max", "min", "sum")

  private def resample(t: Tile): Seq[(String, Tile)] =
    for (m <- methods; (c, r) <- Seq((50, 31), (12, 9))) yield s"$m $c x $r" -> Resample(t, c, r, m)

  private def geotiffWindows(t: Tile, u: Tile): Seq[(String, Tile)] = {
    val layouts = Seq(TiffBytes.Strips(5), TiffBytes.Tiles(16, 16))
    val wins = Seq(GridBounds(0, 0, cols - 1, rows - 1), GridBounds(3, 2, 30, 20))
    for {
      bands <- Seq(Seq(t), Seq(t, u))
      layout <- layouts
      le <- Seq(true, false)
      bytes = TiffBytes(bands, Extent(0, 0, cols, rows), layout, le)
      info = GeoTiff.parseInfo(bytes)
      b <- bands.indices
      win <- wins
    } yield s"${bands.size} bands $layout le=$le band $b $win" -> GeoTiff.readWindow(bytes, info, win, b)
  }

  // golden digests per cell type: local ops, focal, resample, GeoTIFF windows
  private val goldens: Map[String, Seq[String]] = Map(
    "bool" -> Seq("8cf169efcd635fef", "508bf7eb3c5c2f17", "f1fbf4cf025691af", "-"),
    "int8raw" -> Seq("1c63425ea4847f32", "d6175cf722a3bcee", "7101e616c50b7cec", "8e1705e0e0930019"),
    "int8" -> Seq("67eff39774afd2dd", "b3e8ba876dc19d23", "94071737ea36577a", "aee59adc3699d7c8"),
    "uint8raw" -> Seq("21eeb60e63fb7e8f", "69cd133ffb6d337b", "2a53e90aa8e75719", "47936c15cc902d57"),
    "uint8" -> Seq("36e0cd6b3090ba50", "63548ee88fe7829b", "5d872305879bf782", "a50e1885c704c77f"),
    "int16raw" -> Seq("2eecfffffa9e60fa", "f55edb66cb2a7313", "148beefc0e954a83", "98b3c64445d9e3d9"),
    "int16" -> Seq("02c41366c9e7966a", "bd95903738bec48e", "3705eca907820b99", "170d760bb7a69b77"),
    "uint16raw" -> Seq("5e71e3e3994450a2", "6d644cb9735bee39", "196f6217bc6e1e81", "4680286db62a41c8"),
    "uint16" -> Seq("ca2aacf5831c5e06", "6ea6aa17879dc535", "577c9ac7fb727913", "e7466b5aa4508e43"),
    "int32raw" -> Seq("ebb5f46ed21c698a", "de10d7ce85329dc0", "a8c65f12cce3dabe", "a65e58cb739e1749"),
    "int32" -> Seq("446c0d91a8f74107", "6bba7ba0f6912425", "0fe98feaf41e6b2d", "35491781d8a2125d"),
    "float32raw" -> Seq("84e69723835b1fe6", "2c8fdb2c5f072b7b", "b7837634c898c57e", "9ba51f05e329c9e8"),
    "float32" -> Seq("0dae4c2329d31962", "93849e44b1b2e2bd", "08c130bbd56a8f7d", "866ac3f3f13838fb"),
    "float64raw" -> Seq("8f0f06478b042dc4", "83015afdaf7a72ec", "10f1e5606b0866c5", "f93335b080356ddc"),
    "float64" -> Seq("1412356be55aa23c", "b1c85afd4a257c9f", "4ddb399c54938ae8", "dd63cba023af4cad"),
    "float32ud-9999" -> Seq("bc6e3524187583e0", "93849e44b1b2e2bd", "07f8ac255a48c4e6", "aabc4cbe6a32f061"))

  private def checkFamily(k: Int, family: CellType => Seq[(String, Tile)]): Unit = {
    val got = cellTypes.filter(ct => goldens(ct.name)(k) != "-").map(ct => ct.name -> digest(family(ct)))
    val bad = got.filter { case (n, d) => goldens(n)(k) != d }
    assert(bad.isEmpty, bad.map { case (n, d) => s"$n: $d" }.mkString("\n"))
  }

  private def pair(ct: CellType): (Tile, Tile) = (input(ct, 1), input(ct, 17))

  test("golden: local ops and convert over the cell-type matrix") {
    checkFamily(0, ct => { val (t, u) = pair(ct); localOps(t, u) })
  }

  test("golden: focal kernels over the cell-type matrix") {
    checkFamily(1, ct => focal(pair(ct)._1))
  }

  test("golden: resample methods over the cell-type matrix") {
    checkFamily(2, ct => resample(pair(ct)._1))
  }

  test("golden: GeoTIFF window reads over layouts, byte orders and bands") {
    checkFamily(3, ct => { val (t, u) = pair(ct); geotiffWindows(t, u) })
  }

  private def cellsRow(row: InternalRow): Array[Byte] = row.getBinary(3)

  test("encode after decode is byte-identical, and the decoded tile views the row's array") {
    for (ct <- cellTypes) {
      val row = TileUDT.encode(input(ct, 1))
      val t = TileUDT.decode(row)
      assert(t.toBytes eq cellsRow(row), ct.name)
      val again = TileUDT.encode(t)
      assert(cellsRow(again) eq cellsRow(row), ct.name)
      assert(again.getUTF8String(0) == row.getUTF8String(0) && again.getInt(1) == cols && again.getInt(2) == rows)
    }
  }

  test("a write to a decoded tile, or to a tile after encode, never changes the encoded row") {
    for (ct <- cellTypes) {
      val row = TileUDT.encode(input(ct, 1))
      val before = cellsRow(row).clone()
      val decoded = TileUDT.decode(row).asInstanceOf[MutableTile]
      decoded.setDouble(0, 1); decoded.setDouble(cols * rows - 1, Double.NaN)
      assert(decoded.getDouble(0) == 1, ct.name)
      assert(java.util.Arrays.equals(cellsRow(row), before), s"${ct.name}: decoded write reached the row")

      val t = Tile.fromDoubles(Array.fill(cols * rows)(1.0), ct, cols, rows)
      val enc = TileUDT.encode(t)
      val encBefore = cellsRow(enc).clone()
      t.setDouble(5, 0); t.setDouble(6, Double.NaN)
      assert(java.util.Arrays.equals(cellsRow(enc), encBefore), s"${ct.name}: write after encode reached the row")
      assert(TileUDT.decode(enc).getDouble(5) == 1, ct.name)

      // a mutable copy and the tile it came from do not see each other's writes
      val copy = t.mutableCopy
      copy.setDouble(7, 0); t.setDouble(8, 0)
      assert(t.getDouble(7) == 1 && copy.getDouble(8) == 1, ct.name)
    }
  }

  test("a truncated payload fails with a named error; a longer one is trimmed into a copy") {
    for (ct <- cellTypes) {
      val full = input(ct, 1).toBytes
      val e = intercept[IllegalArgumentException](
        Tile.fromBytes(full.take(full.length - 1), ct, cols, rows))
      assert(e.getMessage == s"Truncated tile payload: a ${cols}x$rows ${ct.name} tile needs " +
        s"${full.length} bytes, got ${full.length - 1}")
      val row = InternalRow(TileUDT.encode(input(ct, 1)).toSeq(TileUDT.schema).updated(3, full.take(3)): _*)
      assert(intercept[IllegalArgumentException](TileUDT.decode(row)).getMessage
        .startsWith("Truncated tile payload"))
      val long = full ++ Array[Byte](1, 2, 3)
      val t = Tile.fromBytes(long, ct, cols, rows)
      assert(!(t.toBytes eq long) && java.util.Arrays.equals(t.toBytes, full), ct.name)
    }
  }

  test("NoData and NaN cells of float outputs carry the canonical NaN bits") {
    val canonical64 = java.lang.Double.doubleToRawLongBits(Double.NaN)
    val canonical32 = java.lang.Float.floatToRawIntBits(Float.NaN)
    // quiet NaNs with a payload, and a negative NaN
    val odd64 = Seq(0x7ff8000000000001L, 0xfff8000000000000L)
    val odd32 = Seq(0x7fc00001, 0xffc00000)
    def nanBits(t: Tile): Seq[Long] = {
      val bb = ByteBuffer.wrap(t.toBytes).order(ByteOrder.LITTLE_ENDIAN)
      (0 until t.size).flatMap { i =>
        if (t.cellType.bytes == 8) { val v = bb.getDouble(i * 8); if (v.isNaN) Some(bb.getLong(i * 8)) else None }
        else { val v = bb.getFloat(i * 4); if (v.isNaN) Some(bb.getInt(i * 4).toLong) else None }
      }
    }
    for (name <- Seq("float32raw", "float32", "float64raw", "float64")) {
      val ct = CellType.fromName(name)
      val wide = ct.bytes == 8
      val bb = ByteBuffer.allocate(cols * rows * ct.bytes).order(ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until cols * rows) {
        if (wide) bb.putLong(if (i % 5 == 0) odd64(i % 2) else java.lang.Double.doubleToRawLongBits(i - 400.0))
        else bb.putInt(if (i % 5 == 0) odd32(i % 2) else java.lang.Float.floatToRawIntBits(i - 400f))
      }
      val src = Tile.fromBytes(bb.array(), ct, cols, rows)
      val (a, b) = (tileRef(0), tileRef(1))
      val outs = Seq(
        eval(LocalAdd(a, b), src, src), eval(LocalSqrt(a), src), eval(LocalDivide(a, Literal(0)), src),
        src.convert(CellType.float32), src.convert(CellType.float64raw),
        Focal.mean(src, Focal.Square(1)), Resample(src, 50, 31, "bilinear"), Resample(src, 50, 31, "nearest"),
        GeoTiff.readWindow(TiffBytes(Seq(src), Extent(0, 0, cols, rows), TiffBytes.Strips(4), littleEndian = true),
          GeoTiff.parseInfo(TiffBytes(Seq(src), Extent(0, 0, cols, rows), TiffBytes.Strips(4), littleEndian = true)),
          GridBounds(0, 0, cols - 1, rows - 1)))
      var checked = 0
      for (t <- outs if t.cellType.isFloating) {
        val bits = nanBits(t)
        val want = if (t.cellType.bytes == 8) canonical64 else canonical32.toLong
        assert(bits.forall(_ == want), s"$name -> ${t.cellType}: ${bits.distinct.map(_.toHexString)}")
        checked += bits.size
      }
      assert(checked > 0, name)
    }
  }

  test("every tile class in src/main stores its cells in a payload: no array-backed tile is left") {
    val hits = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && Files.readString(p).contains("ArrayTile"))
      .map(_.toString).toSeq
    assert(hits.isEmpty)
  }
}
