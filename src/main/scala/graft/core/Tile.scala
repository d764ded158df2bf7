package graft.core

/**
 * A 2-D single-band grid of cells with a fixed [[CellType]].
 *
 * Independent re-implementation of the tile abstraction the reference
 * delegates to GeoTrellis (reference behavior observed at
 * /root/reference/core/src/main/scala/org/apache/spark/sql/rf/TileUDT.scala:49-124).
 * A tile is a view over its TileUDT `cells` payload: one little-endian
 * `Array[Byte]`, row-major, read and written through [[Cells]]. Decoding
 * a row wraps its payload and encoding hands the payload out, so neither
 * copies cells; a [[MutableTile]] whose payload is shared copies it on
 * its next write (copy-on-write).
 *
 * Two views of every cell:
 *  - integer view: `get` (NoData → Int.MinValue)
 *  - double view: `getDouble` (NoData → NaN)
 */
trait Tile extends Serializable {
  def cellType: CellType
  def cols: Int
  def rows: Int
  final def size: Int = cols * rows
  final def dimensions: (Int, Int) = (cols, rows)

  /** Integer view; NoData → Int.MinValue. */
  def get(i: Int): Int
  /** Double view; NoData → NaN. */
  def getDouble(i: Int): Double

  final def get(col: Int, row: Int): Int = get(row * cols + col)
  final def getDouble(col: Int, row: Int): Double = getDouble(row * cols + col)

  /** Raw storage-domain value (no NoData translation), as double. */
  def getRawDouble(i: Int): Double

  /** The cell payload, little-endian: the tile's own array, not a copy,
    * so callers must not write to it. A later write to the tile copies
    * it first, so the returned bytes never change. */
  def toBytes: Array[Byte]

  /** A writable tile with these cells; copies them on its first write. */
  def mutableCopy: MutableTile = Tile.fromBytes(toBytes, cellType, cols, rows)

  /** Numeric conversion to another cell type (values preserved, clamped to range; NoData maps to NoData). */
  def convert(ct: CellType): Tile = {
    val out = Tile.blank(ct, cols, rows)
    var i = 0
    val n = size
    if (ct.isFloating) {
      while (i < n) { out.setDouble(i, getDouble(i)); i += 1 }
    } else {
      // clamp into the target's representable range — narrowing must
      // saturate (e.g. 300.0 → uint8 255), never wrap to garbage
      val lo = ct.base.minValue
      val hi = ct.base.maxValue
      while (i < n) {
        val v = getDouble(i)
        if (NoData.isNoData(v)) out.setDouble(i, Double.NaN)
        else out.setDouble(i, math.min(hi, math.max(lo, math.rint(v))))
        i += 1
      }
    }
    out
  }

  /** Reinterpret the same stored bits under a different cell type (same base width). */
  def interpretAs(ct: CellType): Tile = Tile.fromBytes(toBytes, ct, cols, rows)

  /** Same values, different NoData sentinel. Cells equal to the new sentinel become NoData. */
  def withNoData(nd: Double): Tile = interpretAs(cellType.withNoData(nd))

  /** Map over data cells (NoData stays NoData), result keeps this cell type. */
  def mapDouble(f: Double => Double): Tile = {
    val out = Tile.blank(cellType, cols, rows)
    var i = 0
    val n = size
    while (i < n) {
      val v = getDouble(i)
      out.setDouble(i, if (NoData.isData(v)) f(v) else Double.NaN)
      i += 1
    }
    out
  }

  /** Cell-wise combine; NoData in either input → NoData out; output cell type = union. */
  def combineDouble(other: Tile)(f: (Double, Double) => Double): Tile = {
    require(cols == other.cols && rows == other.rows,
      s"Tile dimension mismatch: ${cols}x$rows vs ${other.cols}x${other.rows}")
    val out = Tile.blank(cellType.union(other.cellType), cols, rows)
    var i = 0
    val n = size
    while (i < n) {
      val a = getDouble(i)
      val b = other.getDouble(i)
      out.setDouble(i, if (NoData.isData(a) && NoData.isData(b)) f(a, b) else Double.NaN)
      i += 1
    }
    out
  }

  // ---- statistics over data cells (index order; exact for integer-valued cells) ----
  def dataCells: Long = {
    var c = 0L; var i = 0; val n = size
    while (i < n) { if (NoData.isData(getDouble(i))) c += 1; i += 1 }
    c
  }
  def noDataCells: Long = size - dataCells
  def sum: Double = {
    var s = 0.0; var i = 0; val n = size
    while (i < n) { val v = getDouble(i); if (NoData.isData(v)) s += v; i += 1 }
    s
  }
  def minCell: Double = {
    var m = Double.NaN; var i = 0; val n = size
    while (i < n) { val v = getDouble(i); if (NoData.isData(v) && (NoData.isNoData(m) || v < m)) m = v; i += 1 }
    m
  }
  def maxCell: Double = {
    var m = Double.NaN; var i = 0; val n = size
    while (i < n) { val v = getDouble(i); if (NoData.isData(v) && (NoData.isNoData(m) || v > m)) m = v; i += 1 }
    m
  }
  /** (dataCells, noDataCells, min, max, sum, sumSq) in one pass. */
  def statsAccum: (Long, Long, Double, Double, Double, Double) = {
    var c = 0L; var min = Double.NaN; var max = Double.NaN; var s = 0.0; var s2 = 0.0
    var i = 0; val n = size
    while (i < n) {
      val v = getDouble(i)
      if (NoData.isData(v)) {
        c += 1; s += v; s2 += v * v
        if (NoData.isNoData(min) || v < min) min = v
        if (NoData.isNoData(max) || v > max) max = v
      }
      i += 1
    }
    (c, n - c, min, max, s, s2)
  }
  def mean: Double = {
    val (c, _, _, _, s, _) = statsAccum
    if (c == 0) Double.NaN else s / c
  }
  def exists(p: Double => Boolean): Boolean = {
    var i = 0; val n = size
    while (i < n) { val v = getDouble(i); if (NoData.isData(v) && p(v)) return true; i += 1 }
    false
  }
  def forAll(p: Double => Boolean): Boolean = {
    var i = 0; val n = size
    while (i < n) { val v = getDouble(i); if (NoData.isNoData(v) || !p(v)) return false; i += 1 }
    true
  }
  def isNoDataTile: Boolean = {
    var i = 0; val n = size
    while (i < n) { if (NoData.isData(getDouble(i))) return false; i += 1 }
    true
  }

  def toArrayDouble: Array[Double] = {
    val n = size
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = getDouble(i); i += 1 }
    out
  }
  def toArrayInt: Array[Int] = {
    val n = size
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = get(i); i += 1 }
    out
  }

  override def equals(o: Any): Boolean = o match {
    case t: Tile =>
      t.cellType == cellType && t.cols == cols && t.rows == rows &&
        java.util.Arrays.equals(t.toBytes, toBytes)
    case _ => false
  }
  override def hashCode: Int =
    (cellType.name.hashCode * 31 + cols) * 31 + rows * 31 + java.util.Arrays.hashCode(toBytes)

  override def toString: String = s"Tile($cellType,$cols x $rows)"
}

/** A tile whose cells can be written in place. */
trait MutableTile extends Tile {
  /** Set from the double view; NaN writes the NoData sentinel (or 0 if the type has none). */
  def setDouble(i: Int, v: Double): Unit
  def set(i: Int, v: Int): Unit = setDouble(i, if (NoData.isData(v)) v.toDouble else Double.NaN)
  final def setDouble(col: Int, row: Int, v: Double): Unit = setDouble(row * cols + col, v)
}

object Tile {
  /** Length in bytes of the payload of a `cols`×`rows` tile of `ct`. */
  def payloadBytes(ct: CellType, cols: Int, rows: Int): Int = {
    val n = cols.toLong * rows
    val len = if (ct.base == CellBase.Bit) (n + 7) / 8 else n * ct.bytes
    require(cols >= 0 && rows >= 0 && len <= Int.MaxValue, s"Invalid tile shape: a ${cols}x$rows $ct tile")
    len.toInt
  }

  /** A tile over `payload`, which must be exactly [[payloadBytes]] long.
    * `shared` marks a payload that someone else also holds: the tile
    * then copies it before its first write. */
  private[core] def wrap(payload: Array[Byte], ct: CellType, cols: Int, rows: Int,
      shared: Boolean): PayloadTile = ct.base match {
    case CellBase.Bit => new BitTile(payload, shared, cols, rows, ct)
    case CellBase.Int8 | CellBase.UInt8 => new ByteTile(payload, shared, cols, rows, ct)
    case CellBase.Int16 | CellBase.UInt16 => new ShortTile(payload, shared, cols, rows, ct)
    case CellBase.Int32 => new IntTile(payload, shared, cols, rows, ct)
    case CellBase.Float32 => new FloatTile(payload, shared, cols, rows, ct)
    case CellBase.Float64 => new DoubleTile(payload, shared, cols, rows, ct)
  }

  private def alloc(ct: CellType, cols: Int, rows: Int): PayloadTile =
    wrap(new Array[Byte](payloadBytes(ct, cols, rows)), ct, cols, rows, shared = false)

  /** A tile whose payload is all zero bits, for a caller that writes every cell. */
  def blank(ct: CellType, cols: Int, rows: Int): MutableTile = alloc(ct, cols, rows)

  /** Allocate a tile of the given type filled with NoData (or zero for raw types). */
  def empty(ct: CellType, cols: Int, rows: Int): MutableTile = {
    val t = alloc(ct, cols, rows)
    if (ct.hasNoData && t.size > 0) { t.setDouble(0, Double.NaN); t.fillFromCell0() }
    t
  }

  def fromDoubles(values: Array[Double], ct: CellType, cols: Int, rows: Int): MutableTile = {
    val t = empty(ct, cols, rows)
    val n = math.min(values.length, cols * rows)
    var i = 0
    while (i < n) { t.setDouble(i, values(i)); i += 1 }
    t
  }

  def constant(value: Double, ct: CellType, cols: Int, rows: Int): Tile = {
    val t = blank(ct, cols, rows)
    var i = 0; val n = t.size
    while (i < n) { t.setDouble(i, value); i += 1 }
    t
  }

  /** View the little-endian payload `bytes` as a tile, without copying it
    * when its length is exact; a longer payload is trimmed into a copy,
    * a shorter one fails. Later writes to the tile copy first, so they
    * never reach `bytes`. */
  def fromBytes(bytes: Array[Byte], ct: CellType, cols: Int, rows: Int): MutableTile = {
    val len = payloadBytes(ct, cols, rows)
    if (bytes.length < len)
      throw new IllegalArgumentException(s"Truncated tile payload: a ${cols}x$rows $ct tile " +
        s"needs $len bytes, got ${bytes.length}")
    if (bytes.length == len) wrap(bytes, ct, cols, rows, shared = true)
    else wrap(java.util.Arrays.copyOf(bytes, len), ct, cols, rows, shared = false)
  }
}

// ---------------- concrete tiles: one per storage type, all over a payload ----------------

/** The payload and its copy-on-write state, shared by every concrete tile. */
sealed abstract class PayloadTile(private[this] var payload: Array[Byte], private[this] var shared: Boolean)
    extends MutableTile {
  /** The payload, for reading. */
  protected final def cells: Array[Byte] = payload
  /** The payload, for writing: first copied if anyone else holds it. */
  protected final def writable: Array[Byte] = {
    if (shared) { payload = payload.clone(); shared = false }
    payload
  }
  final def toBytes: Array[Byte] = { shared = true; payload }

  /** Copy cell 0's bytes over every other cell, doubling the filled prefix. */
  private[core] final def fillFromCell0(): Unit = {
    val a = writable
    var filled = cellType.bytes
    while (filled < a.length) {
      val n = math.min(filled, a.length - filled)
      System.arraycopy(a, 0, a, filled, n)
      filled += n
    }
  }
}

final class BitTile(payload: Array[Byte], shared: Boolean, val cols: Int, val rows: Int,
    val cellType: CellType) extends PayloadTile(payload, shared) {
  @inline private def bit(i: Int): Int = (cells(i >> 3) >> (i & 7)) & 1
  def get(i: Int): Int = bit(i)
  def getDouble(i: Int): Double = bit(i).toDouble
  def getRawDouble(i: Int): Double = bit(i).toDouble
  def setDouble(i: Int, v: Double): Unit = {
    val a = writable
    val idx = i >> 3; val m = 1 << (i & 7)
    a(idx) = (if (NoData.isData(v) && v != 0.0) a(idx) | m else a(idx) & ~m).toByte
  }
}

final class ByteTile(payload: Array[Byte], shared: Boolean, val cols: Int, val rows: Int,
    val cellType: CellType) extends PayloadTile(payload, shared) {
  private val unsigned = cellType.base == CellBase.UInt8
  private val hasND = cellType.hasNoData
  private val nd: Int = if (hasND) cellType.noDataValue.toInt else 0
  @inline private def raw(i: Int): Int = if (unsigned) cells(i) & 0xff else cells(i).toInt
  def get(i: Int): Int = { val v = raw(i); if (hasND && v == nd) Int.MinValue else v }
  def getDouble(i: Int): Double = { val v = raw(i); if (hasND && v == nd) Double.NaN else v.toDouble }
  def getRawDouble(i: Int): Double = raw(i).toDouble
  def setDouble(i: Int, v: Double): Unit =
    writable(i) = if (NoData.isNoData(v)) (if (hasND) nd.toByte else 0) else v.toLong.toByte
}

final class ShortTile(payload: Array[Byte], shared: Boolean, val cols: Int, val rows: Int,
    val cellType: CellType) extends PayloadTile(payload, shared) {
  private val unsigned = cellType.base == CellBase.UInt16
  private val hasND = cellType.hasNoData
  private val nd: Int = if (hasND) cellType.noDataValue.toInt else 0
  @inline private def raw(i: Int): Int = {
    val v = Cells.getShort(cells, i)
    if (unsigned) v & 0xffff else v.toInt
  }
  def get(i: Int): Int = { val v = raw(i); if (hasND && v == nd) Int.MinValue else v }
  def getDouble(i: Int): Double = { val v = raw(i); if (hasND && v == nd) Double.NaN else v.toDouble }
  def getRawDouble(i: Int): Double = raw(i).toDouble
  def setDouble(i: Int, v: Double): Unit =
    Cells.putShort(writable, i, if (NoData.isNoData(v)) (if (hasND) nd.toShort else 0) else v.toLong.toShort)
}

final class IntTile(payload: Array[Byte], shared: Boolean, val cols: Int, val rows: Int,
    val cellType: CellType) extends PayloadTile(payload, shared) {
  private val hasND = cellType.hasNoData
  private val nd: Int = if (hasND) cellType.noDataValue.toInt else 0
  def get(i: Int): Int = { val v = Cells.getInt(cells, i); if (hasND && v == nd) Int.MinValue else v }
  def getDouble(i: Int): Double = {
    val v = Cells.getInt(cells, i); if (hasND && v == nd) Double.NaN else v.toDouble
  }
  def getRawDouble(i: Int): Double = Cells.getInt(cells, i).toDouble
  def setDouble(i: Int, v: Double): Unit =
    Cells.putInt(writable, i, if (NoData.isNoData(v)) (if (hasND) nd else 0) else v.toLong.toInt)
}

final class FloatTile(payload: Array[Byte], shared: Boolean, val cols: Int, val rows: Int,
    val cellType: CellType) extends PayloadTile(payload, shared) {
  private val hasND = cellType.hasNoData
  private val ndIsNaN = hasND && cellType.noDataValue != cellType.noDataValue
  private val nd: Float = if (hasND && !ndIsNaN) cellType.noDataValue.toFloat else Float.NaN
  def get(i: Int): Int = { val d = getDouble(i); if (NoData.isData(d)) d.toInt else Int.MinValue }
  def getDouble(i: Int): Double = {
    val v = Cells.getFloat(cells, i)
    if (hasND && (if (ndIsNaN) v != v else v == nd)) Double.NaN else v.toDouble
  }
  def getRawDouble(i: Int): Double = Cells.getFloat(cells, i).toDouble
  def setDouble(i: Int, v: Double): Unit =
    Cells.putFloat(writable, i, if (NoData.isNoData(v)) (if (hasND) nd else Float.NaN) else v.toFloat)
}

final class DoubleTile(payload: Array[Byte], shared: Boolean, val cols: Int, val rows: Int,
    val cellType: CellType) extends PayloadTile(payload, shared) {
  private val hasND = cellType.hasNoData
  private val ndIsNaN = hasND && cellType.noDataValue != cellType.noDataValue
  private val nd: Double = cellType.noDataValue
  def get(i: Int): Int = { val d = getDouble(i); if (NoData.isData(d)) d.toInt else Int.MinValue }
  def getDouble(i: Int): Double = {
    val v = Cells.getDouble(cells, i)
    if (hasND && (if (ndIsNaN) v != v else v == nd)) Double.NaN else v
  }
  def getRawDouble(i: Int): Double = Cells.getDouble(cells, i)
  def setDouble(i: Int, v: Double): Unit =
    Cells.putDouble(writable, i, if (NoData.isNoData(v)) (if (hasND) nd else Double.NaN) else v)
}
