package graft.udt

import graft.core._
import graft.core.geotiff.GeoTiff

/**
 * Lazy tile: only (path, window, metadata) travels through the plan;
 * cell bytes are fetched on the executor at first cell access with a
 * process-wide bounded cache of parsed file handles. Mirrors the
 * reference's RasterRef (ref/RasterRef.scala:49-64) + its Caffeine
 * source cache (ref/RFRasterSource.scala:90-101) using a plain bounded
 * LinkedHashMap LRU (Caffeine is not on this classpath).
 */
final class RefTile(
    val path: String,
    val win: GridBounds,
    val cellType: CellType,
    val cols: Int,
    val rows: Int,
    val band: Int = 0) extends Tile {

  @transient private var realized: Tile = _
  def isRealized: Boolean = realized != null

  private def tile: Tile = {
    if (realized == null)
      realized = RefTile.readWindow(path, win, band)
    realized
  }

  override def get(i: Int): Int = tile.get(i)
  override def getDouble(i: Int): Double = tile.getDouble(i)
  override def getRawDouble(i: Int): Double = tile.getRawDouble(i)
  override def toBytes: Array[Byte] = tile.toBytes
  override def mutableCopy: MutableTile = tile.mutableCopy
}

object RefTile {
  // path -> parsed Info ONLY (a few KB each — never the cell payload;
  // caching whole COGs would pin tens of GB per executor at 100 TB).
  // A lazy tile fetches its cells on realization as the one-window case
  // of GeoTiff.readSpan: the rows of its window from each strip or tile
  // crossing it, so it holds one window's rows at full raster width
  // while it decodes, then just its own cells.
  private final val MaxCached = 4096
  private val cache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, GeoTiff.Info](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, GeoTiff.Info]): Boolean =
          size() > MaxCached
      })

  /** Cached metadata for a source file (executor-side, ranged reads). */
  def info(path: String): GeoTiff.Info = cached(path, GeoTiff.readInfo(path))

  /** As [[info]], parsing through the already open `reader` of `path` on a miss. */
  def info(path: String, reader: GeoTiff.ByteReader): GeoTiff.Info =
    cached(path, GeoTiff.parseInfo(reader))

  private def cached(path: String, parse: => GeoTiff.Info): GeoTiff.Info = {
    var i = cache.get(path)
    if (i == null) {
      i = parse
      cache.put(path, i)
    }
    i
  }

  /** Byte-range read of just the segments intersecting `win`. */
  def readWindow(path: String, win: GridBounds, band: Int = 0): Tile =
    GeoTiff.readWindowFile(path, info(path), win, band)
}
