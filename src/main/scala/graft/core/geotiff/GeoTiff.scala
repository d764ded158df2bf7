package graft.core.geotiff

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.core._
import graft.core.crs.CRS

/**
 * Self-contained single-band GeoTIFF codec (no GDAL/imageio dependency —
 * SURVEY.md §7.0). Writes baseline little-endian TIFF 6.0 with strip
 * layout + GeoTIFF tags (ModelPixelScale 33550, ModelTiepoint 33922,
 * GeoKeyDirectory 34735); reads back both strip and tile layouts in
 * either byte order, uncompressed.
 *
 * Reads go through [[GeoTiff.readSpan]]: one ranged read per strip or
 * TIFF tile crossing a band of raster rows, covering only those rows
 * (the COG access pattern). A scan reads one such span per tile row of
 * its key grid and cuts every window and band of the row from it, so
 * each payload byte is read once (halo rows twice); a single window is
 * the one-window, one-band case. A span holds the row band's samples of
 * all bands at full raster width.
 *
 * Supported cell types: uint8/int8 (8-bit), uint16/int16 (16), int32 /
 * float32 (32), float64 (64) with SampleFormat disambiguation.
 */
object GeoTiff {

  final case class Info(
      cols: Int, rows: Int,
      bitsPerSample: Int, sampleFormat: Int,
      extent: Extent, crs: CRS,
      tileWidth: Int, tileLength: Int, // 0 ⇒ strip layout
      rowsPerStrip: Int,
      offsets: Array[Long], byteCounts: Array[Long],
      littleEndian: Boolean = true,
      noData: Option[Double] = scala.None,
      samplesPerPixel: Int = 1) {
    def cellType: CellType = {
      val base = (bitsPerSample, sampleFormat) match {
        case (8, 2) => CellType.int8
        case (8, _) => CellType.uint8
        case (16, 2) => CellType.int16
        case (16, _) => CellType.uint16
        case (32, 3) => CellType.float32
        case (32, _) => CellType.int32
        case (64, 3) => CellType.float64
        case (b, f) => throw new IllegalArgumentException(s"Unsupported bits=$b format=$f")
      }
      // GDAL_NODATA overrides: default sentinel keeps the plain name,
      // anything else becomes a user-defined ("...ud<v>") cell type
      noData match {
        case Some(v) if v.isNaN => base
        case Some(v) if base.hasNoData && base.noDataValue == v => base
        case Some(v) => base.withNoData(v)
        case scala.None => base
      }
    }
    def rasterExtent: RasterExtent = RasterExtent(extent, cols, rows)
  }

  // ---------------- writer ----------------

  def write(path: String, tile: Tile, extent: Extent, crs: CRS): Unit =
    Files.write(Paths.get(path), writeBytes(tile, extent, crs))

  def writeBytes(tile: Tile, extent: Extent, crs: CRS): Array[Byte] =
    writeBytesMultiband(Seq(tile), extent, crs)

  def writeMultiband(path: String, tiles: Seq[Tile], extent: Extent, crs: CRS): Unit =
    Files.write(Paths.get(path), writeBytesMultiband(tiles, extent, crs))

  /** Chunky-interleaved (PlanarConfiguration=1) multiband write; all
    * bands must share dimensions and cell type. */
  def writeBytesMultiband(tiles: Seq[Tile], extent: Extent, crs: CRS): Array[Byte] = {
    require(tiles.nonEmpty, "at least one band required")
    val tile = tiles.head
    require(tiles.forall(t => t.cellType.base == tile.cellType.base &&
      t.cols == tile.cols && t.rows == tile.rows),
      "bands must share dimensions and cell type")
    val nBands = tiles.size
    val (bits, fmt) = tile.cellType.base match {
      case CellBase.Int8 => (8, 2)
      case CellBase.Bit | CellBase.UInt8 => (8, 1)
      case CellBase.Int16 => (16, 2)
      case CellBase.UInt16 => (16, 1)
      case CellBase.Int32 => (32, 2)
      case CellBase.Float32 => (32, 3)
      case CellBase.Float64 => (64, 3)
    }
    // cell payload, one strip per row block of 64 rows, bands interleaved
    val payload = cellBytes(tiles, bits)
    val rowsPerStrip = math.min(64, tile.rows)
    val nStrips = (tile.rows + rowsPerStrip - 1) / rowsPerStrip
    val bytesPerRow = tile.cols * nBands * (bits / 8)

    val geoKeys: Array[Int] = {
      val epsg = CRS(crs.normalized).epsg.getOrElse(4326)
      if (epsg == 4326)
        Array(1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326)
      else
        Array(1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1, 3072, 0, 1, epsg)
    }
    val pixScale = Array(extent.width / tile.cols, extent.height / tile.rows, 0.0)
    val tiepoint = Array(0.0, 0.0, 0.0, extent.xmin, extent.ymax, 0.0)

    // layout: header(8) | IFD | extra data | strips
    val entries = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Either[Long, Array[Byte]])]
    // (tag, type, count, Left(inline value) or Right(extra bytes))
    def shortArr(a: Array[Int]): Array[Byte] = {
      val bb = ByteBuffer.allocate(a.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      a.foreach(v => bb.putShort(v.toShort)); bb.array()
    }
    def doubleArr(a: Array[Double]): Array[Byte] = {
      val bb = ByteBuffer.allocate(a.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      a.foreach(bb.putDouble); bb.array()
    }
    def longArr(a: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(a.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      a.foreach(v => bb.putInt(v.toInt)); bb.array()
    }

    val stripByteCounts = Array.tabulate(nStrips) { s =>
      val r0 = s * rowsPerStrip
      val nr = math.min(rowsPerStrip, tile.rows - r0)
      (nr * bytesPerRow).toLong
    }

    entries += ((256, 3, 1, Left(tile.cols.toLong)))      // ImageWidth
    entries += ((257, 3, 1, Left(tile.rows.toLong)))      // ImageLength
    entries += ((258, 3, nBands, Right(shortArr(Array.fill(nBands)(bits))))) // BitsPerSample
    entries += ((259, 3, 1, Left(1L)))                    // Compression = none
    entries += ((262, 3, 1, Left(1L)))                    // Photometric = BlackIsZero
    entries += ((273, 4, nStrips, Right(longArr(new Array[Long](nStrips))))) // StripOffsets placeholder
    entries += ((277, 3, 1, Left(nBands.toLong)))         // SamplesPerPixel
    entries += ((284, 3, 1, Left(1L)))                    // PlanarConfiguration = chunky
    entries += ((278, 3, 1, Left(rowsPerStrip.toLong)))   // RowsPerStrip
    entries += ((279, 4, nStrips, Right(longArr(stripByteCounts))))
    entries += ((339, 3, nBands, Right(shortArr(Array.fill(nBands)(fmt))))) // SampleFormat
    entries += ((33550, 12, 3, Right(doubleArr(pixScale))))
    entries += ((33922, 12, 6, Right(doubleArr(tiepoint))))
    entries += ((34735, 3, geoKeys.length, Right(shortArr(geoKeys))))
    if (tile.cellType.hasNoData) {
      // GDAL_NODATA (42113): ASCII sentinel so NoData survives the round
      // trip (GDAL convention; ADVICE item — the reference preserves it
      // through GeoTrellis)
      val v = tile.cellType.noDataValue
      val s =
        if (v.isNaN) "nan"
        else if (!tile.cellType.isFloating || v == v.toLong.toDouble) v.toLong.toString
        else v.toString
      val bytesNd = s.getBytes("US-ASCII") :+ 0.toByte // NUL-terminated ASCII
      entries += ((42113, 2, bytesNd.length, Right(bytesNd)))
    }

    val sorted = entries.sortBy(_._1)
    val ifdOffset = 8L
    val ifdSize = 2 + sorted.size * 12 + 4
    var extraOffset = ifdOffset + ifdSize
    // assign extra-data offsets
    val extraBlocks = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val entryOffsets = sorted.map {
      case (tag, t, c, Right(bytes)) if bytes.length > 4 =>
        val o = extraOffset
        extraBlocks += ((o, bytes))
        extraOffset += bytes.length
        (tag, t, c, Left(o), Some(bytes))
      case (tag, t, c, Right(bytes)) =>
        (tag, t, c, Left(ByteBuffer.wrap(java.util.Arrays.copyOf(bytes, 4))
          .order(ByteOrder.LITTLE_ENDIAN).getInt.toLong), None)
      case (tag, t, c, Left(v)) => (tag, t, c, Left(v), None)
    }
    val dataStart = extraOffset
    val stripOffsets = Array.tabulate(nStrips) { s =>
      dataStart + stripByteCounts.take(s).sum
    }

    val total = (dataStart + payload.length).toInt
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffset.toInt)
    out.putShort(entryOffsets.size.toShort)
    for ((tag, typ, count, Left(v), extra) <- entryOffsets) {
      out.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      (typ, extra) match {
        case (3, None) if count == 1 => out.putShort(v.toShort).putShort(0)
        case _ => out.putInt(v.toInt)
      }
    }
    out.putInt(0) // next IFD
    for ((o, bytes) <- extraBlocks) { out.position(o.toInt); out.put(bytes) }
    // patch StripOffsets (placeholder zeros until data offsets were known)
    val soEntryIdx = sorted.indexWhere(_._1 == 273)
    val soValue = entryOffsets(soEntryIdx)._4.left.getOrElse(0L)
    if (nStrips > 1) {
      out.position(soValue.toInt) // extra block position
      stripOffsets.foreach(v => out.putInt(v.toInt))
    } else {
      out.position((ifdOffset + 2 + soEntryIdx * 12 + 8).toInt) // inline slot
      out.putInt(stripOffsets(0).toInt)
    }
    out.position(dataStart.toInt)
    out.put(payload)
    out.array()
  }

  /** The chunky-interleaved samples: each band's little-endian payload
    * (a bit band as uint8 0/1 bytes), sample by sample; a single band's
    * payload is used as is. */
  private def cellBytes(tiles: Seq[Tile], bits: Int): Array[Byte] = {
    val payloads = tiles.map(t =>
      if (t.cellType.base == CellBase.Bit) Array.tabulate(t.size)(t.get(_).toByte)
      else t.toBytes).toArray
    if (payloads.length == 1) return payloads(0)
    val w = bits / 8
    val stride = w * payloads.length
    val out = new Array[Byte](payloads(0).length * payloads.length)
    var b = 0
    while (b < payloads.length) {
      val src = payloads(b)
      var i = 0
      var o = b * w
      while (i < src.length) {
        var k = 0
        while (k < w) { out(o + k) = src(i + k); k += 1 }
        i += w
        o += stride
      }
      b += 1
    }
    out
  }

  // ---------------- reader ----------------

  /**
   * Byte-range access to an underlying TIFF. At 100 TB the read path must
   * never pull an entire COG to decode one window; `FileRangeReader`
   * seeks and reads only the requested segments (the reference's
   * RangeReader pattern under RFRasterSource). `ArrayByteReader` adapts
   * in-memory buffers (writer round-trips, tests).
   */
  trait ByteReader extends AutoCloseable {
    def read(offset: Long, length: Int): Array[Byte]
    def size: Long
    override def close(): Unit = ()
  }

  final class ArrayByteReader(bytes: Array[Byte]) extends ByteReader {
    def read(offset: Long, length: Int): Array[Byte] = {
      checkRange("in-memory TIFF", offset, length, size)
      java.util.Arrays.copyOfRange(bytes, offset.toInt, offset.toInt + length)
    }
    def size: Long = bytes.length.toLong
  }

  /** Positional (pread-style) reads; thread-safe, no shared cursor. */
  final class FileRangeReader(path: String) extends ByteReader {
    private val ch = java.nio.channels.FileChannel.open(
      Paths.get(path), java.nio.file.StandardOpenOption.READ)
    def read(offset: Long, length: Int): Array[Byte] = {
      checkRange(path, offset, length, ch.size())
      val bb = ByteBuffer.allocate(length)
      var pos = offset
      while (bb.hasRemaining) {
        val n = ch.read(bb, pos)
        if (n < 0) throw new java.io.EOFException(s"$path @$pos")
        pos += n
      }
      GeoTiff.recordBytesRead(length)
      bb.array()
    }
    def size: Long = ch.size()
    override def close(): Unit = ch.close()
  }

  /** A TIFF whose offsets point past its end is truncated or corrupt:
    * fail naming the source instead of decoding a short buffer. */
  private def checkRange(source: String, offset: Long, length: Int, size: Long): Unit =
    if (offset < 0 || length < 0 || offset + length > size)
      throw new java.io.EOFException(
        s"$source: wanted $length bytes at offset $offset but only " +
          s"${math.max(0L, size - math.max(0L, offset))} are available (file size $size; truncated TIFF?)")

  // Telemetry for specs: prove bytes-read ∝ windows touched, not file size.
  private val globalBytesRead = new java.util.concurrent.atomic.AtomicLong
  private val threadBytesRead = ThreadLocal.withInitial[Array[Long]](() => Array(0L))
  private def recordBytesRead(n: Int): Unit = {
    globalBytesRead.addAndGet(n.toLong)
    threadBytesRead.get()(0) += n.toLong
  }
  def bytesReadTotal: Long = globalBytesRead.get()
  def bytesReadThisThread: Long = threadBytesRead.get()(0)
  def resetThreadBytesRead(): Unit = threadBytesRead.get()(0) = 0L

  /** Parse header + IFD via ranged reads — never loads cell payload. */
  def readInfo(path: String): Info = {
    val r = new FileRangeReader(path)
    try parseInfo(r) finally r.close()
  }

  def parseInfo(bytes: Array[Byte]): Info = parseInfo(new ArrayByteReader(bytes))

  def parseInfo(reader: ByteReader): Info = {
    val header = reader.read(0, 8)
    val le = header(0) == 'I'
    val order = if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val hb = ByteBuffer.wrap(header).order(order)
    require(hb.getShort(2) == 42, "Not a TIFF file")
    val ifd = hb.getInt(4)
    val nEntries = ByteBuffer.wrap(reader.read(ifd.toLong, 2)).order(order).getShort(0) & 0xffff
    // one ranged read for the whole entry table
    val entries = ByteBuffer.wrap(reader.read(ifd.toLong + 2, nEntries * 12)).order(order)
    var cols = 0; var rows = 0; var bits = 8; var fmt = 1
    var tileW = 0; var tileL = 0; var rps = Int.MaxValue
    var spp = 1
    var offsets: Array[Long] = Array.empty
    var counts: Array[Long] = Array.empty
    var pixScale: Array[Double] = Array(1, 1, 0)
    var tiepoint: Array[Double] = Array(0, 0, 0, 0, 0, 0)
    var geoKeys: Array[Int] = Array.empty
    var noData: Option[Double] = scala.None

    def readValues(typ: Int, count: Int, pos: Int): Array[Long] = {
      val size = typ match {
        case 1 | 2 => 1; case 3 => 2; case 4 => 4; case 12 => 8; case 11 => 4
        case _ => 4
      }
      val total = size * count
      val data = ByteBuffer.wrap(
        if (total <= 4) { val a = new Array[Byte](4); entries.get(pos, a); a }
        else reader.read(entries.getInt(pos).toLong, total)).order(order)
      Array.tabulate(count) { i =>
        typ match {
          case 1 | 2 => (data.get(i) & 0xff).toLong
          case 3 => (data.getShort(i * 2) & 0xffff).toLong
          case 4 => data.getInt(i * 4).toLong & 0xffffffffL
          case _ => data.getInt(i * 4).toLong
        }
      }
    }
    def readDoubles(count: Int, pos: Int): Array[Double] = {
      val data = ByteBuffer.wrap(
        reader.read(entries.getInt(pos).toLong, count * 8)).order(order)
      Array.tabulate(count)(i => data.getDouble(i * 8))
    }

    var e = 0
    while (e < nEntries) {
      val base = e * 12
      val tag = entries.getShort(base) & 0xffff
      val typ = entries.getShort(base + 2) & 0xffff
      val count = entries.getInt(base + 4)
      val vpos = base + 8
      tag match {
        case 256 => cols = readValues(typ, 1, vpos)(0).toInt
        case 257 => rows = readValues(typ, 1, vpos)(0).toInt
        case 258 => bits = readValues(typ, count, vpos)(0).toInt // per-band; bands share depth
        case 277 => spp = readValues(typ, 1, vpos)(0).toInt
        case 284 =>
          val pc = readValues(typ, 1, vpos)(0)
          require(pc == 1, s"Unsupported TIFF planar configuration: $pc (chunky only)")
        case 259 =>
          val comp = readValues(typ, 1, vpos)(0)
          require(comp == 1, s"Unsupported TIFF compression: $comp")
        case 273 | 324 => offsets = readValues(typ, count, vpos)
        case 279 | 325 => counts = readValues(typ, count, vpos)
        case 278 => rps = readValues(typ, 1, vpos)(0).toInt
        case 322 => tileW = readValues(typ, 1, vpos)(0).toInt
        case 323 => tileL = readValues(typ, 1, vpos)(0).toInt
        case 339 => fmt = readValues(typ, count, vpos)(0).toInt
        case 33550 => pixScale = readDoubles(3, vpos)
        case 33922 => tiepoint = readDoubles(count, vpos)
        case 34735 => geoKeys = readValues(typ, count, vpos).map(_.toInt)
        case 42113 => // GDAL_NODATA, NUL-terminated ASCII
          val s = readValues(typ, count, vpos)
            .map(_.toChar).mkString.takeWhile(_ != 0.toChar).trim
          noData =
            if (s.equalsIgnoreCase("nan")) Some(Double.NaN) else s.toDoubleOption
        case _ => ()
      }
      e += 1
    }
    val extent = Extent(
      tiepoint(3), tiepoint(4) - rows * pixScale(1),
      tiepoint(3) + cols * pixScale(0), tiepoint(4))
    val crs = parseGeoKeys(geoKeys)
    Info(cols, rows, bits, fmt, extent, crs, tileW, tileL,
      if (rps == Int.MaxValue) rows else rps, offsets, counts, le, noData, spp)
  }

  private def parseGeoKeys(keys: Array[Int]): CRS = {
    // GeoKeyDirectory: header of 4 shorts then (keyId, location, count, value)*
    var i = 4
    var modelType = 0; var epsg = 0
    while (i + 3 < keys.length) {
      val id = keys(i); val v = keys(i + 3)
      id match {
        case 1024 => modelType = v
        case 2048 => if (epsg == 0) epsg = v
        case 3072 => epsg = v
        case _ => ()
      }
      i += 4
    }
    if (epsg > 0) CRS(s"epsg:$epsg") else CRS.wgs84
  }

  /** Read the full raster: the whole-raster window, band 0. */
  def read(path: String): (Tile, Extent, CRS) = {
    val r = new FileRangeReader(path)
    try {
      val info = parseInfo(r)
      val t = readWindow(r, info, GridBounds(0, 0, info.cols - 1, info.rows - 1))
      (t, info.extent, info.crs)
    } finally r.close()
  }

  def readWindow(bytes: Array[Byte], info: Info, win: GridBounds): Tile =
    readWindow(new ArrayByteReader(bytes), info, win)

  def readWindow(bytes: Array[Byte], info: Info, win: GridBounds, band: Int): Tile =
    readWindow(new ArrayByteReader(bytes), info, win, band)

  /** Windowed read over a file: seeks only intersecting segments. */
  def readWindowFile(path: String, info: Info, win: GridBounds, band: Int = 0): Tile = {
    val r = new FileRangeReader(path)
    try readWindow(r, info, win, band) finally r.close()
  }

  /**
   * One window of one band: the one-window case of [[readSpan]] — fetch
   * just the rows of `win` from each strip (full raster width) or TIFF
   * tile (tile width) crossing it, then cut the window from those bytes.
   * Bytes read are ∝ the window's rows, not the file size.
   */
  def readWindow(reader: ByteReader, info: Info, win: GridBounds, band: Int = 0): Tile =
    readSpan(reader, info, win).window(win, band)

  /**
   * Raw cell bytes of the raster rows `bounds.rowMin..rowMax`, over the
   * strip or tile columns crossing `bounds.colMin..colMax`. Each strip or
   * TIFF tile crossing the bounds is read exactly once, and only its rows
   * inside the bounds: a strip contributes full-width rows, a tile
   * tile-width rows. Every window inside the bounds, of every band, is
   * then cut from these bytes with no further read ([[Span.window]]).
   * A span holds (rows in bounds) × (the bounds' width widened to whole
   * strips or tiles) × SamplesPerPixel samples; for a scan, one tile row.
   */
  def readSpan(reader: ByteReader, info: Info, bounds: GridBounds): Span = {
    requireInside(bounds, GridBounds(0, 0, info.cols - 1, info.rows - 1),
      s"the ${info.cols}x${info.rows} raster")
    new Span(reader, info, bounds)
  }

  /** The bytes [[readSpan]] fetched; see there. */
  final class Span private[GeoTiff] (reader: ByteReader, info: Info, val bounds: GridBounds) {
    // strips are one segment column of raster width, rowsPerStrip high
    private val segW = if (info.tileWidth > 0) info.tileWidth else info.cols
    private val segH = if (info.tileWidth > 0) info.tileLength else info.rowsPerStrip
    private val bytesPer = info.bitsPerSample / 8
    // chunky interleave: pixel stride spans all bands, band offset selects one
    private val pixBytes = bytesPer * info.samplesPerPixel
    private val sr0 = bounds.rowMin / segH
    private val sc0 = bounds.colMin / segW
    private val across = bounds.colMax / segW - sc0 + 1
    private val segs: Array[ByteBuffer] = {
      val order = if (info.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
      val fileAcross = (info.cols + segW - 1) / segW
      val rowBytes = segW * pixBytes
      Array.tabulate((bounds.rowMax / segH - sr0 + 1) * across) { i =>
        val sr = sr0 + i / across
        val first = math.max(bounds.rowMin, sr * segH)
        val last = math.min(bounds.rowMax, sr * segH + segH - 1)
        val off = info.offsets(sr * fileAcross + sc0 + i % across) + (first - sr * segH).toLong * rowBytes
        ByteBuffer.wrap(reader.read(off, (last - first + 1) * rowBytes)).order(order)
      }
    }

    /** Decode band `band` of `win`, which must lie inside the span. */
    def window(win: GridBounds, band: Int): Tile = {
      require(band >= 0 && band < info.samplesPerPixel,
        s"band $band out of range (SamplesPerPixel=${info.samplesPerPixel})")
      requireInside(win, bounds, s"the span $bounds")
      val dec = CellDecoder(info.cellType, win.width, win.height)
      val bandOff = band * bytesPer
      var r = win.rowMin
      while (r <= win.rowMax) {
        val sr = r / segH
        val segRow = (sr - sr0) * across - sc0
        val rowPos = (r - math.max(bounds.rowMin, sr * segH)) * segW
        val dst = (r - win.rowMin) * win.width - win.colMin
        var c = win.colMin
        while (c <= win.colMax) {
          val sc = c / segW
          val end = math.min(win.colMax, sc * segW + segW - 1)
          dec.copy(segs(segRow + sc), (rowPos + c - sc * segW) * pixBytes + bandOff,
            pixBytes, end - c + 1, dst + c)
          c = end + 1
        }
        r += 1
      }
      dec.tile
    }
  }

  private def requireInside(win: GridBounds, outer: GridBounds, what: => String): Unit =
    if (win.colMin < outer.colMin || win.rowMin < outer.rowMin ||
        win.colMax > outer.colMax || win.rowMax > outer.rowMax ||
        win.colMin > win.colMax || win.rowMin > win.rowMax)
      throw new IllegalArgumentException(s"window $win is outside $what")

  /**
   * The cell decoder: copies `n` samples, `stride` bytes apart from
   * `pos` in `src`, into cells `dst until dst + n` of a new tile's
   * payload. One subclass per storage type. Integer samples keep their
   * bits; a run of adjacent little-endian integer samples (one band) is
   * one `System.arraycopy`. A float sample that is NaN or equals the
   * NoData value is stored as the cell type's canonical NoData (NaN for
   * raw and default float types).
   */
  private sealed abstract class CellDecoder(ct: CellType, cols: Int, rows: Int) {
    protected val a = new Array[Byte](Tile.payloadBytes(ct, cols, rows))
    def copy(src: ByteBuffer, pos: Int, stride: Int, n: Int, dst: Int): Unit
    def tile: Tile = Tile.wrap(a, ct, cols, rows, shared = false)
  }

  private object CellDecoder {
    def apply(ct: CellType, cols: Int, rows: Int): CellDecoder = ct.base match {
      case CellBase.Int8 | CellBase.UInt8 | CellBase.Int16 | CellBase.UInt16 | CellBase.Int32 =>
        new Ints(ct, cols, rows)
      case CellBase.Float32 => new Floats(ct, cols, rows)
      case CellBase.Float64 => new Doubles(ct, cols, rows)
      case b => throw new IllegalArgumentException(s"No TIFF sample decoder for $b cells")
    }

    /** NoData value of a float cell type that is not NaN, else NaN. */
    private def sentinel(ct: CellType): Double =
      if (ct.hasNoData) ct.noDataValue else Double.NaN

    final class Ints(ct: CellType, cols: Int, rows: Int) extends CellDecoder(ct, cols, rows) {
      private val width = ct.bytes
      def copy(src: ByteBuffer, pos: Int, stride: Int, n: Int, dst: Int): Unit =
        if (stride == width && (width == 1 || src.order() == ByteOrder.LITTLE_ENDIAN))
          System.arraycopy(src.array(), pos, a, dst * width, n * width)
        else width match {
          case 1 =>
            var i = 0
            while (i < n) { a(dst + i) = src.get(pos + i * stride); i += 1 }
          case 2 =>
            var i = 0
            while (i < n) { Cells.putShort(a, dst + i, src.getShort(pos + i * stride)); i += 1 }
          case _ =>
            var i = 0
            while (i < n) { Cells.putInt(a, dst + i, src.getInt(pos + i * stride)); i += 1 }
        }
    }

    final class Floats(ct: CellType, cols: Int, rows: Int) extends CellDecoder(ct, cols, rows) {
      private val nd = sentinel(ct)
      private val ndOut = nd.toFloat
      def copy(src: ByteBuffer, pos: Int, stride: Int, n: Int, dst: Int): Unit = {
        var i = 0
        while (i < n) {
          val v = src.getFloat(pos + i * stride)
          Cells.putFloat(a, dst + i, if (v != v || v.toDouble == nd) ndOut else v)
          i += 1
        }
      }
    }

    final class Doubles(ct: CellType, cols: Int, rows: Int) extends CellDecoder(ct, cols, rows) {
      private val nd = sentinel(ct)
      def copy(src: ByteBuffer, pos: Int, stride: Int, n: Int, dst: Int): Unit = {
        var i = 0
        while (i < n) {
          val v = src.getDouble(pos + i * stride)
          Cells.putDouble(a, dst + i, if (v != v || v == nd) nd else v)
          i += 1
        }
      }
    }
  }
}
