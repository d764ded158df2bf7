package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.core.{GridBounds, Tile}
import graft.core.geotiff.GeoTiff
import graft.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One named benchmark workload: inputs made from the seed, one op, and a
  * check of each op's output that never relies on graft's own results. */
trait Workload {
  def name: String
  /** The timed loop stops only after a multiple of this many ops. */
  def roundSize: Int = 1
  /** Input cells one op reads (all bands / tiles); 0 when not a raster op. */
  def cellsPerOp: Long
  /** Bytes of cells one op decodes from GeoTIFF; 0 when it reads none. */
  def cellBytesDecodedPerOp: Long = 0L
  def label(i: Int): String = name
  def generate(spark: SparkSession): Unit
  /** Runs op `i`; `build` wraps a query builder call (a no-op when untraced). */
  def op(spark: SparkSession, i: Int, build: (=> DataFrame) => DataFrame): Any
  /** Checks op `i`'s result; returns the reason for a failure. */
  def check(result: Any, i: Int): Option[String]
  /** Runs after set-up and before the timed loop, outside every timed
    * region; a workload that checks its outputs once per run does it here. */
  def verify(spark: SparkSession): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("scene_ndvi", "scene_focal_write", "tile_zonal", "query_mix")

  /** Query list of query_mix: raster, text, statistics and graph entries,
    * global sorts both materialized once (sortOnce) and plain, and a
    * builder with a driver pre-job (q_triangles). The text dedup entry is
    * q_simhash_pairs: q_minhash_pairs' DuckDB oracle needs about a third
    * of a second per document, too slow to check in every run. */
  val mix: Seq[String] = Seq("q_tile_sum", "q_local_arith", "q_terrain", "q_zonal",
    "q_geotiff_read", "q_tiles_roundtrip", "q_agg_stats", "q_resample", "q_simhash_pairs",
    "q_tfidf", "q_st_predicates", "q_spearman", "q_triangles", "q_welch_t", "q_with_no_data")

  def apply(name: String, seed: Long, smoke: Boolean, work: File): Workload = name match {
    case "scene_ndvi" => new SceneNdvi(new Scenes(seed, if (smoke) 2 else 8, 1024), work)
    case "scene_focal_write" =>
      new SceneFocalWrite(new Scenes(seed, if (smoke) 2 else 4, 1024), work)
    case "tile_zonal" => new TileZonal(seed, if (smoke) 4 else 48)
    case "query_mix" =>
      new QueryMix(seed, if (smoke) mix.take(2) else mix, if (smoke) 300 else 3000, work)
    case other =>
      throw new IllegalArgumentException(s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

/** Read path: two-band windows → NDVI → per-scene statistics. */
final class SceneNdvi(scenes: Scenes, work: File) extends Workload {
  val name = "scene_ndvi"
  private val dir = new File(work, "inputs/scenes")
  private var expected: Map[String, Stats] = Map.empty
  private val cells = scenes.size.toLong * scenes.size

  def cellsPerOp: Long = 2 * scenes.count * cells
  override def cellBytesDecodedPerOp: Long = 2 * cellsPerOp

  def generate(spark: SparkSession): Unit = {
    scenes.write(dir)
    expected = (0 until scenes.count).map(s => scenes.path(dir, s) -> scenes.ndviStats(s)).toMap
  }

  def op(spark: SparkSession, i: Int, build: (=> DataFrame) => DataFrame): Any =
    spark.read.format("raster").option("path", dir.getPath).option("band_indexes", "0,1").load()
      .select(col("path"), rf_normalized_difference(col("tile_b0"), col("tile_b1")).as("ndvi"))
      .groupBy("path").agg(rf_agg_stats(col("ndvi")).as("st"))
      .select(col("path"), col("st.data_cells"), col("st.no_data_cells"), col("st.min"),
        col("st.max"), col("st.mean"), col("st.variance"))
      .collect()

  def check(result: Any, i: Int): Option[String] = {
    val rows = result.asInstanceOf[Array[Row]]
    if (rows.length != scenes.count) return Some(s"${rows.length} scenes, expected ${scenes.count}")
    rows.collectFirst(Function.unlift { r =>
      expected.get(r.getString(0)) match {
        case None => Some(s"unexpected path ${r.getString(0)}")
        case Some(e) =>
          val ok = r.getLong(1) == e.n && r.getLong(2) == 0L && r.getDouble(3) == e.min &&
            r.getDouble(4) == e.max && Workload.close(r.getDouble(5), e.mean) &&
            Workload.close(r.getDouble(6), e.variance)
          if (ok) None
          else Some(s"${r.getString(0)}: got $r, expected n=${e.n} min=${e.min} max=${e.max} " +
            s"mean=${e.mean} variance=${e.variance}")
      }
    })
  }
}

/** Read with a one-cell halo → 3×3 focal mean → bilinear resample by 0.5
  * → one GeoTIFF per tile through the `tiles` writer. */
final class SceneFocalWrite(scenes: Scenes, work: File) extends Workload {
  val name = "scene_focal_write"
  private val dir = new File(work, "inputs/scenes")
  private val tile = 256
  private val keys = (scenes.size + tile - 1) / tile

  /** The window the reader cuts for key (kc, kr) with buffer_size 1. */
  private def window(kc: Int, kr: Int): GridBounds = GridBounds(
    math.max(0, kc * tile - 1), math.max(0, kr * tile - 1),
    math.min(scenes.size - 1, (kc + 1) * tile), math.min(scenes.size - 1, (kr + 1) * tile))

  def cellsPerOp: Long = scenes.count.toLong * scenes.size * scenes.size
  override def cellBytesDecodedPerOp: Long = scenes.count * 2L * (for {
    kc <- 0 until keys; kr <- 0 until keys
  } yield { val w = window(kc, kr); w.width.toLong * w.height }).sum

  def generate(spark: SparkSession): Unit = scenes.write(dir)

  private def outDir(i: Int) = new File(work, s"out/op-$i")

  def op(spark: SparkSession, i: Int, build: (=> DataFrame) => DataFrame): Any = {
    val out = outDir(i)
    spark.read.format("raster").option("path", dir.getPath).option("buffer_size", "1").load()
      .select(col("path").as("scene"), col("spatial_key.col").as("kc"),
        col("spatial_key.row").as("kr"), col("extent"), col("crs"),
        rf_resample(rf_focal_mean(col("tile"), "square-1"), lit(0.5)).as("tile"))
      .write.format("tiles").option("path", out.getPath).save()
    out
  }

  /** Harness-side 3×3 mean (window clipped at the tile edge) followed by
    * centre-aligned bilinear sampling with edge clamping. */
  private def expected(scene: Int, w: GridBounds): (Int, Int, Array[Double]) = {
    val cols = w.width; val rows = w.height
    val src = Array.tabulate(rows * cols)(i =>
      scenes.value(scene, 0, w.rowMin + i / cols, w.colMin + i % cols).toDouble)
    val mean = Array.tabulate(rows * cols) { i =>
      val r = i / cols; val c = i % cols
      var s = 0.0; var n = 0
      for (dr <- -1 to 1; dc <- -1 to 1) {
        val rr = r + dr; val cc = c + dc
        if (rr >= 0 && rr < rows && cc >= 0 && cc < cols) { s += src(rr * cols + cc); n += 1 }
      }
      s / n
    }
    val dc = math.max(1, math.round(cols * 0.5).toInt)
    val dr = math.max(1, math.round(rows * 0.5).toInt)
    val sx = cols.toDouble / dc; val sy = rows.toDouble / dr
    val out = Array.tabulate(dr * dc) { i =>
      val x = (i % dc + 0.5) * sx - 0.5; val y = (i / dc + 0.5) * sy - 0.5
      val c0 = math.max(0, math.min(cols - 1, math.floor(x).toInt)); val c1 = math.min(cols - 1, c0 + 1)
      val r0 = math.max(0, math.min(rows - 1, math.floor(y).toInt)); val r1 = math.min(rows - 1, r0 + 1)
      val fx = x - c0; val fy = y - r0
      val taps = Seq((r0, c0, (1 - fx) * (1 - fy)), (r0, c1, fx * (1 - fy)),
        (r1, c0, (1 - fx) * fy), (r1, c1, fx * fy)).filter(_._3 > 0)
      taps.map(t => mean(t._1 * cols + t._2) * t._3).sum / taps.map(_._3).sum
    }
    (dc, dr, out)
  }

  def check(result: Any, i: Int): Option[String] = {
    val out = result.asInstanceOf[File]
    try {
      val lines = Files.readAllLines(Paths.get(out.getPath, "catalog.csv")).asScala.toVector
      val entries = lines.tail.map(_.split(","))
      val want = scenes.count * keys * keys
      if (entries.size != want) return Some(s"${entries.size} tiles written, expected $want")
      // two written tiles per op, a different pair each op
      Seq(i * 7, i * 7 + entries.size / 2 + 3).map(j => entries(j % entries.size)).collectFirst(
        Function.unlift { e =>
          val Array(file, scenePath, kc, kr) = e
          val scene = new File(scenePath).getName.stripPrefix("scene-").stripSuffix(".tif").toInt
          val (t, _, _) = GeoTiff.read(new File(out, file).getPath)
          val (cols, rows, want) = expected(scene, window(kc.toInt, kr.toInt))
          if (t.cols != cols || t.rows != rows) Some(s"$file is ${t.cols}x${t.rows}, expected ${cols}x$rows")
          else (0 until cols * rows).find(k => !Workload.close(t.getDouble(k), want(k)))
            .map(k => s"$file cell $k: ${t.getDouble(k)} != ${want(k)}")
        })
    } finally deleteTree(out)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** In memory, one row per cell: synthetic value and zone tiles →
  * rf_explode_tiles → per-zone count/sum/min/max. */
final class TileZonal(seed: Long, tiles: Int) extends Workload {
  val name = "tile_zonal"
  private val size = 256
  private val base = seed * 1000003L
  private var expected: Map[Int, (Long, Double, Double, Double)] = Map.empty

  def cellsPerOp: Long = 2L * tiles * size * size

  /** The documented rf_synthetic_tile formula, recomputed here: uniform in
    * [lo, hi], rounded for integral cell types, NoData bumped by one. */
  private def synth(s: Long, i: Int, lo: Double, hi: Double, noData: Double): Double = {
    val u = (Mix.mix64(s * 0x9e3779b97f4a7c15L + i) >>> 11).toDouble / (1L << 53).toDouble
    val v = math.rint(lo + u * (hi - lo))
    if (v == noData) v + 1 else v
  }

  def generate(spark: SparkSession): Unit = {
    val n = new Array[Long](16); val sum = new Array[Double](16)
    val mn = Array.fill(16)(Double.PositiveInfinity); val mx = Array.fill(16)(Double.NegativeInfinity)
    (0 until tiles).foreach { id =>
      var i = 0
      while (i < size * size) {
        // uint16ud255 spans [1, 10000] with NoData 255; uint8 spans [1, 255]
        val v = synth(base + 2L * id, i, 1, 10000, 255)
        val z = synth(base + 2L * id + 1, i, 1, 255, 0).toInt % 16
        n(z) += 1; sum(z) += v
        if (v < mn(z)) mn(z) = v
        if (v > mx(z)) mx(z) = v
        i += 1
      }
    }
    expected = (0 until 16).filter(n(_) > 0).map(z => z -> ((n(z), sum(z), mn(z), mx(z)))).toMap
  }

  def op(spark: SparkSession, i: Int, build: (=> DataFrame) => DataFrame): Any =
    spark.range(0, tiles, 1, spark.sparkContext.defaultParallelism * 2)
      .select(
        rf_synthetic_tile(lit(base) + col("id") * 2, size, size, "uint16ud255").as("v"),
        rf_synthetic_tile(lit(base) + col("id") * 2 + 1, size, size, "uint8").as("z"))
      .select(rf_explode_tiles(col("v"), col("z")))
      .groupBy((col("z").cast("int") % 16).as("zone"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"), min("v").as("mn"), max("v").as("mx"))
      .collect()

  def check(result: Any, i: Int): Option[String] = {
    val got = result.asInstanceOf[Array[Row]].map(r =>
      r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    if (got == expected) None else Some(s"zones differ: got $got, expected $expected")
  }
}

/** Fixed per-query cost: one op builds one SparkEntry query over the
  * generated tables and writes it to `noop`. Outputs are checked once
  * per run against each query's DuckDB oracle; the dump for that check
  * also warms every query before the timed loop. */
final class QueryMix(seed: Long, val queries: Seq[String], orders: Int, work: File)
    extends Workload {
  val name = "query_mix"
  private val dir = new File(work, "inputs/tables")
  private lazy val builders = SparkEntry.queries
  override def roundSize: Int = queries.size
  def cellsPerOp: Long = 0L
  override def label(i: Int): String = queries(i % queries.size)

  def generate(spark: SparkSession): Unit = Tables.write(spark, dir, seed, orders, orders / 40)

  def op(spark: SparkSession, i: Int, build: (=> DataFrame) => DataFrame): Any = {
    val df = build(builders(label(i))(spark, dir.getPath))
    df.write.mode("overwrite").format("noop").save()
  }

  def check(result: Any, i: Int): Option[String] = None

  /** Dumps each query's rows and its oracle SQL for the DuckDB check. */
  override def verify(spark: SparkSession): Unit = {
    val out = new File(work, "verify")
    queries.foreach { q =>
      builders(q)(spark, dir.getPath).coalesce(1).write.mode("overwrite")
        .parquet(new File(out, q).getPath)
      Main.releaseLeftovers(spark)
    }
    val oracle = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    Files.writeString(Paths.get(out.getPath, "oracle_sql.json"), Json.obj(oracle))
  }
}
