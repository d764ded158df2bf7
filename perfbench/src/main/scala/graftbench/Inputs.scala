package graftbench

import java.io.File
import java.sql.Timestamp

import graft.core.{CellType, Extent, Tile}
import graft.core.crs.CRS
import graft.core.geotiff.GeoTiff
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The harness's own pseudo-random source. It is a copy of SplitMix64's
  * finalizer, kept here so that the expected outputs never come from
  * graft code. */
object Mix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Two-band uint16 scenes whose cells are a pure function of
  * (seed, scene, band, row, col), so every check can recompute any cell
  * without keeping the arrays. */
final class Scenes(seed: Long, val count: Int, val size: Int) {
  val crs: CRS = CRS("epsg:3857")

  def value(scene: Int, band: Int, row: Int, col: Int): Int = {
    val key = ((seed * 131 + scene) * 2 + band) * (1L << 24) + row.toLong * size + col
    1 + java.lang.Math.floorMod(Mix.mix64(key), 10000L).toInt
  }

  def path(dir: File, scene: Int): String = new File(dir, f"scene-$scene%03d.tif").getPath

  def extent(scene: Int): Extent =
    Extent(scene * size.toDouble, 0.0, (scene + 1) * size.toDouble, size.toDouble)

  def bandTile(scene: Int, band: Int): Tile = {
    val t = Tile.empty(CellType.uint16, size, size)
    var r = 0
    while (r < size) {
      var c = 0
      while (c < size) { t.setDouble(r * size + c, value(scene, band, r, c).toDouble); c += 1 }
      r += 1
    }
    t
  }

  /** Writes every scene as a chunky two-band GeoTIFF through graft's writer. */
  def write(dir: File): Unit = {
    dir.mkdirs()
    (0 until count).foreach { s =>
      GeoTiff.writeMultiband(path(dir, s), Seq(bandTile(s, 0), bandTile(s, 1)), extent(s), crs)
    }
  }

  /** NDVI statistics of one scene, accumulated with Welford's method (a
    * different summation than graft's, so the check does not share its
    * rounding). Variance is the sample variance, as rf_agg_stats reports. */
  def ndviStats(scene: Int): Stats = {
    val st = new Stats
    var r = 0
    while (r < size) {
      var c = 0
      while (c < size) {
        val a = value(scene, 0, r, c).toDouble
        val b = value(scene, 1, r, c).toDouble
        st.add((a - b) / (a + b))
        c += 1
      }
      r += 1
    }
    st
  }
}

final class Stats {
  var n = 0L; var min = Double.PositiveInfinity; var max = Double.NegativeInfinity
  private var m = 0.0; private var m2 = 0.0
  def add(v: Double): Unit = {
    n += 1
    val d = v - m
    m += d / n
    m2 += d * (v - m)
    if (v < min) min = v
    if (v > max) max = v
  }
  def mean: Double = m
  def variance: Double = m2 / (n - 1)
}

/** TPC-H-like `lineitem` and a `documents` corpus with the schemas and
  * value ranges SparkEntry's queries read. */
object Tables {
  private val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  /** Orders get Poisson(4) lines (at most 13, so every order fits one
    * 8×4 tile of SparkEntry's per-order layout); `orders` sets the size. */
  def lineitem(seed: Long, orders: Int): Seq[Row] = {
    val rnd = new java.util.SplittableRandom(seed)
    val day0 = Timestamp.valueOf("1995-01-02 00:00:00").getTime
    val rows = Seq.newBuilder[Row]
    (0 until orders).foreach { o =>
      var n = 0; var p = rnd.nextDouble()
      val limit = math.exp(-4.0)
      while (p > limit && n < 13) { n += 1; p *= rnd.nextDouble() }
      (0 until n).foreach { _ =>
        rows += Row(o.toLong, rnd.nextLong(2000), rnd.nextLong(100), 1 + rnd.nextInt(7),
          (1 + rnd.nextInt(50)).toDouble, (90000 + rnd.nextLong(10410000)) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          "ANR".charAt(rnd.nextInt(3)).toString, "OF".charAt(rnd.nextInt(2)).toString,
          new Timestamp(day0 + rnd.nextLong(2500) * 86400000L))
      }
    }
    rows.result()
  }

  /** Documents of 10–99 words; one in ten is a near copy of an earlier
    * one with a few words swapped for "dup", so the dedup queries find
    * pairs. */
  def documents(seed: Long, count: Int): Seq[Row] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5deece66dL)
    val texts = new Array[String](count)
    (0 until count).map { i =>
      val text =
        if (i > 0 && rnd.nextInt(10) == 0) {
          val words = texts(rnd.nextInt(i)).split(' ')
          (0 until 3).foreach(_ => words(rnd.nextInt(words.length)) = "dup")
          words.mkString(" ")
        } else Array.fill(10 + rnd.nextInt(90))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}",
        text.length.toLong)
    }
  }

  def write(spark: SparkSession, dir: File, seed: Long, orders: Int, docs: Int): Unit = {
    // parquet TIMESTAMP(MICROS), the type the oracle's DuckDB reads natively
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      def save(name: String, rows: Seq[Row], schema: StructType): Unit =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
      save("lineitem", lineitem(seed, orders), lineitemSchema)
      save("documents", documents(seed, docs), documentsSchema)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
