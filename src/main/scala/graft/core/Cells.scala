package graft.core

import java.nio.ByteOrder
import java.util.Objects

import org.apache.spark.unsafe.Platform

/**
 * Bounds-checked access to cell `i` of a little-endian cell payload
 * (the TileUDT `cells` layout, SURVEY.md §1.3). Every tile reads and
 * writes its cells through here. `Objects.checkIndex` is a JIT
 * intrinsic and `Platform`'s unsafe accessors and the native-order test
 * are static finals, so an access costs what a primitive array index
 * costs; on a big-endian JVM each access swaps its bytes.
 */
object Cells {
  @inline private def littleEndian: Boolean = ByteOrder.nativeOrder() eq ByteOrder.LITTLE_ENDIAN
  @inline private def offset(i: Int, n: Int, shift: Int): Long =
    Platform.BYTE_ARRAY_OFFSET + (Objects.checkIndex(i, n).toLong << shift)

  @inline def getShort(a: Array[Byte], i: Int): Short = {
    val v = Platform.getShort(a, offset(i, a.length >> 1, 1))
    if (littleEndian) v else java.lang.Short.reverseBytes(v)
  }
  @inline def putShort(a: Array[Byte], i: Int, v: Short): Unit =
    Platform.putShort(a, offset(i, a.length >> 1, 1), if (littleEndian) v else java.lang.Short.reverseBytes(v))

  @inline def getInt(a: Array[Byte], i: Int): Int = {
    val v = Platform.getInt(a, offset(i, a.length >> 2, 2))
    if (littleEndian) v else Integer.reverseBytes(v)
  }
  @inline def putInt(a: Array[Byte], i: Int, v: Int): Unit =
    Platform.putInt(a, offset(i, a.length >> 2, 2), if (littleEndian) v else Integer.reverseBytes(v))

  @inline def getFloat(a: Array[Byte], i: Int): Float =
    if (littleEndian) Platform.getFloat(a, offset(i, a.length >> 2, 2))
    else java.lang.Float.intBitsToFloat(getInt(a, i))
  @inline def putFloat(a: Array[Byte], i: Int, v: Float): Unit =
    if (littleEndian) Platform.putFloat(a, offset(i, a.length >> 2, 2), v)
    else putInt(a, i, java.lang.Float.floatToRawIntBits(v))

  @inline def getDouble(a: Array[Byte], i: Int): Double =
    if (littleEndian) Platform.getDouble(a, offset(i, a.length >> 3, 3))
    else java.lang.Double.longBitsToDouble(
      java.lang.Long.reverseBytes(Platform.getLong(a, offset(i, a.length >> 3, 3))))
  @inline def putDouble(a: Array[Byte], i: Int, v: Double): Unit =
    if (littleEndian) Platform.putDouble(a, offset(i, a.length >> 3, 3), v)
    else Platform.putLong(a, offset(i, a.length >> 3, 3),
      java.lang.Long.reverseBytes(java.lang.Double.doubleToRawLongBits(v)))
}
