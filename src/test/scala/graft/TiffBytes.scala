package graft

import java.nio.{ByteBuffer, ByteOrder}

import graft.core._

/**
 * Test-only TIFF encoder for the layouts `GeoTiff`'s writer never emits:
 * tiled (tags 322/323/324/325) and big-endian (`MM`) files, plus strips
 * of any height. Bands are chunky-interleaved like the writer's; edge
 * tiles are padded with zero bytes; NoData goes in GDAL_NODATA.
 */
object TiffBytes {
  sealed trait Layout
  final case class Strips(rowsPerStrip: Int) extends Layout
  final case class Tiles(width: Int, height: Int) extends Layout

  def apply(bands: Seq[Tile], extent: Extent, layout: Layout, littleEndian: Boolean): Array[Byte] = {
    val t0 = bands.head
    val (cols, rows, ct, nb) = (t0.cols, t0.rows, t0.cellType, bands.size)
    val order = if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val (bits, fmt) = ct.base match {
      case CellBase.Int8 => (8, 2); case CellBase.UInt8 => (8, 1)
      case CellBase.Int16 => (16, 2); case CellBase.UInt16 => (16, 1)
      case CellBase.Int32 => (32, 2); case CellBase.Float32 => (32, 3)
      case CellBase.Float64 => (64, 3); case b => sys.error(s"no TIFF encoding for $b")
    }
    val pix = nb * bits / 8

    def sample(bb: ByteBuffer, c: Int, r: Int, b: Int): Unit = {
      val raw = if (c < cols && r < rows) bands(b).getRawDouble(r * cols + c) else 0.0
      bits match {
        case 8 => bb.put(raw.toLong.toByte)
        case 16 => bb.putShort(raw.toLong.toShort)
        case 32 => if (fmt == 3) bb.putFloat(raw.toFloat) else bb.putInt(raw.toLong.toInt)
        case 64 => bb.putDouble(raw)
      }
    }
    // segments as (first col, first row, width, height); tiles pad past the edge
    val segs: Seq[(Int, Int, Int, Int)] = layout match {
      case Strips(rps) =>
        (0 until rows by rps).map(r0 => (0, r0, cols, math.min(rps, rows - r0)))
      case Tiles(tw, th) =>
        for (r0 <- 0 until rows by th; c0 <- 0 until cols by tw) yield (c0, r0, tw, th)
    }
    val payloads = segs.map { case (c0, r0, w, h) =>
      val bb = ByteBuffer.allocate(w * h * pix).order(order)
      for (r <- r0 until r0 + h; c <- c0 until c0 + w; b <- 0 until nb) sample(bb, c, r, b)
      bb.array()
    }

    // (tag, type, values); type 3 = SHORT, 4 = LONG, 12 = DOUBLE, 2 = ASCII
    val nd: Seq[(Int, Int, Seq[Double])] =
      if (!ct.hasNoData) Seq.empty
      else {
        val v = ct.noDataValue
        val s = if (v.isNaN) "nan" else if (v == v.toLong.toDouble) v.toLong.toString else v.toString
        Seq((42113, 2, (s.getBytes("US-ASCII") :+ 0.toByte).map(_.toDouble).toSeq))
      }
    val (offTag, cntTag) = layout match {
      case Strips(_) => (273, 279)
      case Tiles(_, _) => (324, 325)
    }
    val layoutTags = layout match {
      case Strips(rps) => Seq((278, 4, Seq(rps.toDouble)))
      case Tiles(tw, th) => Seq((322, 4, Seq(tw.toDouble)), (323, 4, Seq(th.toDouble)))
    }
    val placeholder = Seq.fill(segs.size)(0.0)
    val entries = (Seq(
      (256, 4, Seq(cols.toDouble)), (257, 4, Seq(rows.toDouble)),
      (258, 3, Seq.fill(nb)(bits.toDouble)), (259, 3, Seq(1.0)), (262, 3, Seq(1.0)),
      (offTag, 4, placeholder), (277, 3, Seq(nb.toDouble)), (284, 3, Seq(1.0)),
      (cntTag, 4, payloads.map(_.length.toDouble)), (339, 3, Seq.fill(nb)(fmt.toDouble)),
      (33550, 12, Seq(extent.width / cols, extent.height / rows, 0.0)),
      (33922, 12, Seq(0.0, 0.0, 0.0, extent.xmin, extent.ymax, 0.0)),
      (34735, 3, Seq(1, 1, 0, 1, 1024, 0, 1, 2).map(_.toDouble))) ++ layoutTags ++ nd)
      .sortBy(_._1)
    def width(typ: Int): Int = typ match { case 2 => 1; case 3 => 2; case 4 => 4; case 12 => 8 }

    val ifdEnd = 8 + 2 + entries.size * 12 + 4
    val extraSize = entries.map(e => width(e._2) * e._3.size).filter(_ > 4).sum
    val dataStart = ifdEnd + extraSize
    val segOffsets = payloads.scanLeft(dataStart.toLong)(_ + _.length).init
    val out = ByteBuffer.allocate(dataStart + payloads.map(_.length).sum).order(order)
    out.put((if (littleEndian) "II" else "MM").getBytes("US-ASCII")).putShort(42).putInt(8)
    out.putShort(entries.size.toShort)
    var extra = ifdEnd
    def put(bb: ByteBuffer, typ: Int, v: Double): Unit = typ match {
      case 2 => bb.put(v.toByte); case 3 => bb.putShort(v.toInt.toShort)
      case 4 => bb.putInt(v.toLong.toInt); case 12 => bb.putDouble(v)
    }
    for ((tag, typ, vs0) <- entries) {
      val vs = if (tag == offTag) segOffsets.map(_.toDouble) else vs0
      out.putShort(tag.toShort).putShort(typ.toShort).putInt(vs.size)
      val bytes = width(typ) * vs.size
      if (bytes <= 4) {
        val slot = ByteBuffer.allocate(4).order(order)
        vs.foreach(put(slot, typ, _))
        out.put(slot.array())
      } else {
        out.putInt(extra)
        val at = out.position()
        out.position(extra)
        vs.foreach(put(out, typ, _))
        extra = out.position()
        out.position(at)
      }
    }
    out.putInt(0)
    out.position(dataStart)
    payloads.foreach(out.put)
    out.array()
  }
}
