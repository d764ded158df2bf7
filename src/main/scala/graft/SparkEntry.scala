package graft

import graft.datasource.ParquetTables
import graft.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver contract: every operator exposed as a named query over the
 * testdata tables, with a DuckDB-oracle SQL twin where the semantics are
 * SQL-expressible (FIXTURES.md §3 oracle recipe).
 *
 * Tile construction: per-orderkey 8×4 tiles from lineitem. Cell index =
 * ROW_NUMBER over a fully deterministic sort — `(l_orderkey,
 * l_linenumber)` is NOT unique in the synthetic data, so the sort key
 * includes enough columns to be a total order. l_quantity is always
 * integer-valued ⇒ sums/means/variances below are exact in IEEE double
 * regardless of aggregation order, making hash-equality with DuckDB
 * well-defined.
 */
object SparkEntry {

  /** Testdata table `name` of `dir`, its schema inferred once per file
    * set ([[graft.datasource.ParquetTables]]): a warm builder starts no
    * Spark job to resolve its tables. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    Raster.init(s)
    ParquetTables.read(s, s"$dir/$name.parquet")
  }

  /**
   * The events table with `tus` = `ts` as epoch micros, resolved
   * SCHEMA-ADAPTIVELY: the driver has shipped `events.ts` both as
   * parquet TIMESTAMP(NANOS) (long nanos under the legacy reader) and
   * as TIMESTAMP(MICROS) (a typed TIMESTAMP/_NTZ column) — the silent
   * switch between the two broke all five temporal queries in round 9.
   * A long column is taken as NANOS (`div 1000` keeps it integral,
   * matching the oracle's `epoch_ns(ts) // 1000`); typed columns go
   * through [[graft.pipeline.Temporal.epochMicros]]. Every temporal
   * query reads events through this one helper, and EntrySchemaSpec
   * trips loudly if a future regeneration brings a third shape.
   */
  private def eventsMicros(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val tus = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => graft.pipeline.Temporal.epochMicros(ev, "ts")
    }
    ev.withColumn("tus", tus)
  }

  /** Per-orderkey aligned tiles: t_qty (l_quantity), t_ln (l_linenumber). */
  private def tiled(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    t(s, dir, "lineitem")
      .withColumn("i", row_number().over(w) - 1)
      .groupBy("l_orderkey")
      .agg(
        rf_assemble_tile(expr("i % 8"), expr("i div 8"), col("l_quantity"), 8, 4).as("t_qty"),
        rf_assemble_tile(expr("i % 8"), expr("i div 8"),
          col("l_linenumber").cast("double"), 8, 4).as("t_ln"))
      .withColumn("bucket", col("l_orderkey") % 10)
  }

  /** Dense (hole-free) 8×4 tiles: lineitem chunked 32 rows at a time
    * within each orderkey-mod-10 bucket (row_number over the same total
    * order as [[tiled]], prefixed by l_orderkey), partial trailing
    * chunks dropped — every cell is data, so the cubic/lanczos kernels
    * run their full window instead of the NoData fallback. */
  private def denseTiled(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(expr("l_orderkey % 10")).orderBy(
      "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    t(s, dir, "lineitem")
      .withColumn("bucket", col("l_orderkey") % 10)
      .withColumn("i", row_number().over(w) - 1)
      .select(col("bucket"), expr("i div 32").as("tid"), expr("i % 32").as("j"),
        col("l_quantity").as("q"))
      .groupBy("bucket", "tid")
      .agg(count(lit(1)).as("__n"),
        rf_assemble_tile(expr("j % 8"), expr("j div 8"), col("q"), 8, 4).as("t"))
      .where(col("__n") === 32)
      .drop("__n")
  }

  /** The denseTiled chunking replayed in SQL: (bucket, tid, c, r, q). */
  private val DIDX =
    """WITH didx AS (
      |  SELECT l_orderkey % 10 AS bucket, CAST(l_quantity AS DOUBLE) AS q,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey % 10
      |               ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |                        l_quantity, l_extendedprice) - 1 AS INTEGER) AS i
      |  FROM lineitem),
      |chunk AS (SELECT bucket, i // 32 AS tid, i % 32 AS j, q FROM didx),
      |fullt AS (SELECT bucket, tid FROM chunk GROUP BY 1, 2 HAVING COUNT(*) = 32),
      |dcell AS (SELECT c.bucket, c.tid, j % 8 AS c, j // 8 AS r, q
      |          FROM chunk c JOIN fullt USING (bucket, tid))""".stripMargin

  /** Explode a tile expression to (l_orderkey, i, cell), data cells only. */
  private def cells(s: SparkSession, dir: String, tile: Column): DataFrame =
    tiled(s, dir)
      .select(col("l_orderkey"), rf_explode_tiles(tile))
      .toDF("l_orderkey", "column_index", "row_index", "cell")
      .select(col("l_orderkey"),
        (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
        col("cell"))
      .where(col("cell").isNotNull)
      .orderBy("l_orderkey", "i")

  /**
   * The DSv2 geotiff read path driven end-to-end from parquet-derived
   * fixtures: a bounded subset of the per-orderkey tiles (l_orderkey %
   * 61 = 3) is written as one two-band 8×4 GeoTIFF per orderkey (band 0
   * = quantity, band 1 = linenumber), then read back through
   * `spark.read.format("geotiff")` with `band_indexes=0,1` and
   * `tile_dimensions=4,2` — each file expands to four windows, so the
   * windowed byte-range reader, band indexing, per-window extents and
   * (optionally) the RefTile lazy path are all on the oracle-checked
   * path. Output reconstructs the global cell index from (spatial_key,
   * column/row_index) and carries the window's xmin/ymax, which the
   * DuckDB oracle re-derives arithmetically.
   *
   * The fixture write is driver-side by design (bounded: ~1/61 of
   * orderkeys, 1 KB per file) and cached per testdata dir
   * ([[stampedFixture]]): rewritten only when lineitem's files change.
   */
  /** Write (or reuse) the per-orderkey two-band fixture GeoTIFFs for
    * `dir`; returns the fixture directory. */
  private def geotiffFixtureDir(s: SparkSession, dir: String): String =
    stampedFixture(s, dir, "lineitem", "graft_gt_fixture_", "geotiff-v1") { build =>
      val rows = tiled(s, dir).where(col("l_orderkey") % 61 === 3)
        .select(col("l_orderkey"), col("t_qty"), col("t_ln")).collect()
      rows.foreach { r =>
        val ok = r.getAs[Number](0).longValue()
        graft.core.geotiff.GeoTiff.writeMultiband(
          build.resolve(f"ok-$ok%012d.tif").toString,
          Seq(r.getAs[graft.core.Tile](1), r.getAs[graft.core.Tile](2)),
          graft.core.Extent(0, 0, 8, 4), graft.core.crs.CRS("epsg:4326"))
      }
    }.toString

  /** A driver-written fixture directory `prefix` + `dir` under
    * java.io.tmpdir, derived from the testdata table `source`. It is
    * reused while its `_fixture_stamp` marker holds that table's file-set
    * fingerprint ([[ParquetTables.fingerprint]]) and `format`, so a warm
    * build lists one directory and starts no Spark job. The stamp does
    * not see code: `format` names the fixture's layout version, and
    * whoever changes what `write` produces (or a writer it calls, such as
    * `GeoTiff.writeMultiband`) bumps it. Otherwise `write` fills a
    * unique sibling directory, which is swapped into place with an
    * atomic rename: a concurrent JVM (overlapping bench/test runs) never
    * observes a half-regenerated fixture. A table that cannot be listed
    * has no stamp, and its fixture is rebuilt on every call. */
  private def stampedFixture(s: SparkSession, dir: String, source: String, prefix: String,
      format: String)(write: java.nio.file.Path => Unit): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    Raster.init(s)
    val fxDir = Paths.get(System.getProperty("java.io.tmpdir"),
      prefix + dir.replaceAll("[^A-Za-z0-9]", "_"))
    val stamp = ParquetTables.fingerprint(s, s"$dir/$source.parquet").map(_ + ":" + format)
    val marker = fxDir.resolve("_fixture_stamp")
    val fresh = stamp.exists(st =>
      Files.exists(marker) && new String(Files.readAllBytes(marker), "UTF-8") == st)
    if (!fresh) {
      val build = Files.createTempDirectory(fxDir.getParent, fxDir.getFileName.toString + ".build")
      write(build)
      stamp.foreach(st => Files.write(build.resolve(marker.getFileName), st.getBytes("UTF-8")))
      val retired = if (Files.isDirectory(fxDir)) {
        val aside = Files.createTempDirectory(fxDir.getParent, fxDir.getFileName.toString + ".old")
        Files.delete(aside) // need a free name for the rename target
        try { Files.move(fxDir, aside); Some(aside) }
        catch { case _: java.nio.file.FileSystemException => None } // concurrent swap won
      } else None
      try Files.move(build, fxDir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // another JVM installed its (identically stamped) build first
        case _: java.nio.file.FileSystemException => deleteTree(build)
      }
      retired.foreach(deleteTree)
    }
    fxDir
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.list(p)
      try st.iterator().asScala.foreach(deleteTree) finally st.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }

  /** A GeoJSON FeatureCollection fixture over the bounded distinct
    * (qi, lni) domain, with deliberately mixed property types (long,
    * double, boolean, string) so the reader's Spark-JSON schema
    * inference is on the oracled path. Stamped and swapped in like the
    * tiff fixtures ([[stampedFixture]]); returns the .json file. */
  private def geojsonFixture(s: SparkSession, dir: String): String =
    stampedFixture(s, dir, "lineitem", "graft_geojson_", "geojson-v1") { build =>
      val rows = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct().orderBy("qi", "lni").collect()
      val features = rows.map { r =>
        val (qi, lni) = (r.getInt(0), r.getInt(1))
        s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$qi,$lni]},""" +
          s""""properties":{"qi":$qi,"lni":$lni,"label":"q$qi","ratio":${qi / 2.0},""" +
          s""""flag":${qi % 2 == 0}}}"""
      }
      val doc = features.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
      java.nio.file.Files.write(build.resolve("features.json"), doc.getBytes("UTF-8"))
    }.resolve("features.json").toString

  /** Two-file WARC fixture from the documents table: even doc_ids in a
    * plain .warc, odd in a whole-file-gzipped .warc.gz — one fixture
    * exercises both decode paths of [[graft.datasource.Warc]]. Stamped
    * and swapped in like the tiff fixtures ([[stampedFixture]]). */
  private def warcFixtureDir(s: SparkSession, dir: String): String =
    stampedFixture(s, dir, "documents", "graft_warc_", "warc-v1") { build =>
      val rows = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .orderBy("doc_id").collect()
      def record(id: Long, text: String, source: String): Array[Byte] = {
        val payload = text.getBytes("UTF-8")
        val hdr = (s"WARC/1.0\r\n" +
          s"WARC-Type: response\r\n" +
          s"WARC-Target-URI: http://graft.test/$source/$id\r\n" +
          f"WARC-Date: 2024-01-01T00:00:${id % 60}%02dZ\r\n" +
          s"WARC-Record-ID: <urn:uuid:doc-$id>\r\n" +
          s"Content-Type: text/plain\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8")
        hdr ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
      }
      val plain = rows.filter(_.getLong(0) % 2 == 0)
        .flatMap(r => record(r.getLong(0), r.getString(1), r.getString(2)))
      val odd = rows.filter(_.getLong(0) % 2 == 1)
        .flatMap(r => record(r.getLong(0), r.getString(1), r.getString(2)))
      val gzBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(odd); gz.close()
        bos.toByteArray
      }
      java.nio.file.Files.write(build.resolve("even.warc"), plain)
      java.nio.file.Files.write(build.resolve("odd.warc.gz"), gzBytes)
    }.toString

  private def geotiffRead(s: SparkSession, dir: String, lazyTiles: Boolean): DataFrame = {
    val fxDir = geotiffFixtureDir(s, dir)
    s.read.format("geotiff")
      .option("path", fxDir.toString)
      .option("tile_dimensions", "4,2")
      .option("band_indexes", "0,1")
      .option("lazy_tiles", lazyTiles.toString)
      .load()
      .select(
        regexp_extract(col("path"), "ok-(\\d+)\\.tif", 1).cast("long").as("l_orderkey"),
        col("spatial_key"), col("extent"),
        rf_explode_tiles(col("tile_b0"), col("tile_b1")))
      .select(col("l_orderkey"),
        ((col("spatial_key.row") * 2 + col("row_index")) * 8 +
          (col("spatial_key.col") * 4 + col("column_index"))).cast("int").as("i"),
        col("tile_b0").as("qty"), col("tile_b1").as("lnv"),
        col("extent.xmin").as("win_xmin"), col("extent.ymax").as("win_ymax"))
      .where(col("qty").isNotNull)
      .orderBy("l_orderkey", "i")
  }

  /** The buffered (halo) read path: buffer_size=1 expands each 4×2
    * window by one pixel, clamped at the file edge, so border cells
    * surface in up to four windows. Global indices reconstruct from
    * the CLAMPED window origin (max(0, kc*4−1), max(0, kr*2−1)); the
    * window extent's xmin/ymax pin the same arithmetic in georeferenced
    * units. */
  private def geotiffReadBuffered(s: SparkSession, dir: String): DataFrame = {
    val fxDir = geotiffFixtureDir(s, dir)
    val c0 = greatest(lit(0), col("spatial_key.col") * 4 - 1)
    val r0 = greatest(lit(0), col("spatial_key.row") * 2 - 1)
    s.read.format("geotiff")
      .option("path", fxDir)
      .option("tile_dimensions", "4,2")
      .option("band_indexes", "0")
      .option("buffer_size", "1")
      .load()
      .select(
        regexp_extract(col("path"), "ok-(\\d+)\\.tif", 1).cast("long").as("l_orderkey"),
        col("spatial_key"), col("extent"),
        rf_explode_tiles(col("tile_b0")))
      .select(col("l_orderkey"),
        col("spatial_key.col").as("kc"), col("spatial_key.row").as("kr"),
        ((r0 + col("row_index")) * 8 + c0 + col("column_index")).cast("int").as("i"),
        col("tile_b0").as("qty"),
        col("extent.xmin").as("win_xmin"), col("extent.ymax").as("win_ymax"))
      .where(col("qty").isNotNull)
      .orderBy("l_orderkey", "kc", "kr", "i")
  }

  /** Buffered read → focal → crop: the cross-tile seam recipe as a user
    * writes it. Crop offsets depend on which sides actually carry a
    * halo (edge windows are clamped), so the offset is selected per
    * window; masking by the cropped source keeps NoData positions
    * NoData, matching q_focal's convention. */
  private def geotiffFocal(s: SparkSession, dir: String): DataFrame = {
    val fxDir = geotiffFixtureDir(s, dir)
    val kc = col("spatial_key.col")
    val kr = col("spatial_key.row")
    def core(t: Column): Column =
      when(kc > 0 && kr > 0, rf_crop(t, 1, 1, 4, 2))
        .when(kc > 0, rf_crop(t, 1, 0, 4, 2))
        .when(kr > 0, rf_crop(t, 0, 1, 4, 2))
        .otherwise(rf_crop(t, 0, 0, 4, 2))
    s.read.format("geotiff")
      .option("path", fxDir)
      .option("tile_dimensions", "4,2")
      .option("band_indexes", "0")
      .option("buffer_size", "1")
      .load()
      .select(
        regexp_extract(col("path"), "ok-(\\d+)\\.tif", 1).cast("long").as("l_orderkey"),
        col("spatial_key"),
        rf_mask(core(rf_focal_mean(col("tile_b0"), "square-1")),
          core(col("tile_b0"))).as("fm"))
      .select(col("l_orderkey"), col("spatial_key"), rf_explode_tiles(col("fm")))
      .select(col("l_orderkey"),
        ((col("spatial_key.row") * 2 + col("row_index")) * 8 +
          (col("spatial_key.col") * 4 + col("column_index"))).cast("int").as("i"),
        col("fm").as("fmean"))
      .where(col("fmean").isNotNull)
      .orderBy("l_orderkey", "i")
  }

  /** Z-order write + pruned read-back (see q_zorder_prune's comment).
    * Single-row aggregate result; the layout proof (disjoint per-file z
    * ranges) is asserted by LayoutSpec. */
  private def zorderPrune(s: SparkSession, dir: String): DataFrame = {
    val path = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_zorder_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
    graft.pipeline.Layout.zorderWrite(
      t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice"),
      "l_partkey", "l_suppkey", path, files = 16)
    s.read.parquet(path)
      .where(col("l_partkey").between(100, 299) && col("l_suppkey").between(10, 39))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("revenue_cents"),
        sum(col("l_quantity").cast("bigint")).as("sum_qty"))
  }

  /** End-to-end WRITE oracle: the distributed `tiles` writer emits one
    * GeoTIFF per row plus catalog.csv; reading the files back through
    * the DSv2 geotiff reader and joining the catalog (path → orderkey —
    * the tile filenames are partition-dependent, the catalog is the
    * contract) must reproduce the source cells exactly. */
  private def tilesRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    Raster.init(s)
    val outDir = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_tiles_rt_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    if (Files.isDirectory(outDir)) {
      val st = Files.list(outDir)
      try st.iterator().asScala.foreach(Files.delete) finally st.close()
    }
    val src = tiled(s, dir).where(col("l_orderkey") % 307 === 5)
      .select(col("l_orderkey"), col("t_qty").as("tile"),
        struct(lit(0.0).as("xmin"), lit(0.0).as("ymin"),
          lit(8.0).as("xmax"), lit(4.0).as("ymax")).as("extent"),
        lit("epsg:4326").as("crs"))
    src.write.format("tiles").option("path", outDir.toString).save()
    // the writer's catalog columns, as strings: no header-inference job
    val catalog = s.read.option("header", "true")
      .schema("path STRING, l_orderkey STRING")
      .csv(s"$outDir/catalog.csv")
      .select(col("path").as("file"), col("l_orderkey").cast("long").as("l_orderkey"))
    s.read.format("geotiff")
      .option("path", outDir.toString)
      .option("tile_dimensions", "8,4")
      .load()
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        rf_explode_tiles(col("tile")))
      .join(catalog, Seq("file"))
      .select(col("l_orderkey"),
        (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
        col("tile").as("cell"))
      .where(col("cell").isNotNull)
      .orderBy("l_orderkey", "i")
  }

  /** Centi-quantized events with the bin width COMPUTED by
    * [[graft.pipeline.Stats.quantizeStep]] (never hand-picked — the
    * r17 lesson: centi alone detonated the drift guard at sf0.1):
    * (event_type, vc) where vc = round(value·100) div step. The
    * DuckDB twin is [[QEVENTS]]. */
  private def quantizedEvents(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "events").select(col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("vc"))
    val step = graft.pipeline.Stats.quantizeStep(e0, "vc", maxBins = 4096)
    e0.select(col("event_type"), expr(s"vc div ${step}L").as("vc"))
  }

  /** SQL twin of [[quantizedEvents]]: CTE chain ending in
    * e(event_type, vc); the step lattice mirrors quantizeStep's 19
    * powers of 10 and error()s if nothing fits (never NULL-silent). */
  private val QEVENTS =
    """WITH e0 AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      |qdv AS (SELECT DISTINCT vc FROM e0 WHERE vc IS NOT NULL),
      |qbins AS (SELECT s, COUNT(DISTINCT vc // s) AS nb FROM qdv
      |  CROSS JOIN (VALUES (1::BIGINT),(10),(100),(1000),(10000),
      |    (100000),(1000000),(10000000),(100000000),(1000000000),
      |    (10000000000),(100000000000),(1000000000000),
      |    (10000000000000),(100000000000000),(1000000000000000),
      |    (10000000000000000),(100000000000000000),
      |    (1000000000000000000)) qt(s) GROUP BY s),
      |qst AS (SELECT CASE WHEN MIN(s) IS NULL THEN error(
      |    'quantize oracle: no step fits 4096 bins')
      |  ELSE MIN(s) END AS step FROM qbins WHERE nb <= 4096),
      |e AS (SELECT event_type, vc // step AS vc FROM e0, qst)""".stripMargin

  private val IDX =
    """WITH idx AS (
      |  SELECT l_orderkey, l_orderkey % 10 AS bucket,
      |         CAST(l_quantity AS DOUBLE) AS q,
      |         CAST(l_linenumber AS DOUBLE) AS lnv,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |               ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) - 1
      |              AS INTEGER) AS i
      |  FROM lineitem)""".stripMargin

  /** Flagship: tiles → map algebra → aggregate stats, on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val d = tiled(spark, "/root/testdata/sf0.001")
    d.groupBy("bucket")
      .agg(
        rf_agg_mean(rf_normalized_difference(col("t_qty"), col("t_ln"))).as("mean_nd"),
        rf_agg_stats(col("t_qty")).as("stats"),
        rf_agg_data_cells(col("t_qty")).as("cells"))
      .orderBy("bucket")
  }

  /** Declared queries, by name. Each builder returns its plain DataFrame;
    * a global sort over real work reads its input once through the
    * [[MaterializeSortInput]] planner rule that `Raster.init` registers. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- per-tile statistics ----
    "q_tile_sum" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"), rf_tile_sum(col("t_qty")).as("tile_sum"))
        .orderBy("l_orderkey")),
    "q_tile_mean" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"), rf_tile_mean(col("t_qty")).as("tile_mean"))
        .orderBy("l_orderkey")),
    "q_tile_minmax" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_min(col("t_qty")).as("tile_min"),
        rf_tile_max(col("t_qty")).as("tile_max"),
        rf_data_cells(col("t_qty")).as("dc"),
        rf_no_data_cells(col("t_qty")).as("ndc"))
        .orderBy("l_orderkey")),
    "q_tile_stats" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"), rf_tile_stats(col("t_qty")).as("st"))
        .select(col("l_orderkey"),
          col("st.data_cells").as("dc"), col("st.no_data_cells").as("ndc"),
          col("st.min").as("mn"), col("st.max").as("mx"),
          col("st.mean").as("mean"), col("st.variance").as("variance"))
        .orderBy("l_orderkey")),
    // ---- local map algebra ----
    "q_local_arith" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_sum(rf_local_add(col("t_qty"), col("t_ln"))).as("sum_add"),
        rf_tile_sum(rf_local_subtract(col("t_qty"), col("t_ln"))).as("sum_sub"),
        rf_tile_sum(rf_local_multiply(col("t_qty"), col("t_ln"))).as("sum_mul"))
        .orderBy("l_orderkey")),
    "q_local_scalar" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_sum(rf_local_add(col("t_qty"), 10.0)).as("s_add"),
        rf_tile_sum(rf_local_multiply(col("t_qty"), 2.0)).as("s_mul"),
        rf_tile_sum(rf_local_divide(col("t_qty"), 2.0)).as("s_div"),
        rf_tile_sum(rf_local_min(col("t_qty"), 25.0)).as("s_min"),
        rf_tile_sum(rf_local_max(col("t_qty"), 25.0)).as("s_max"))
        .orderBy("l_orderkey")),
    // NULL-tile identity (reference localops/Add.scala:52-63): a
    // left-outer join leaves t_r NULL on 2/3 of the keys — rf_local_add
    // must pass the non-null side through, not null the row
    "q_local_add_null" -> ((s, dir) => {
      val base = tiled(s, dir)
      val right = base.where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("rk"), col("t_ln").as("t_r"))
      base.join(right, col("l_orderkey") === col("rk"), "left")
        .select(col("l_orderkey"),
          rf_tile_sum(rf_local_add(col("t_qty"), col("t_r"))).as("sum_add"),
          rf_data_cells(rf_local_add(col("t_qty"), col("t_r"))).as("dc"))
        .orderBy("l_orderkey")
    }),
    "q_local_divide" -> ((s, dir) =>
      cells(s, dir, rf_local_divide(col("t_qty"), col("t_ln")))),
    "q_normalized_difference" -> ((s, dir) =>
      cells(s, dir, rf_normalized_difference(col("t_qty"), col("t_ln")))),
    "q_comparisons" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_sum(rf_local_less(col("t_qty"), 25.0)).as("n_lt"),
        rf_tile_sum(rf_local_less_equal(col("t_qty"), 25.0)).as("n_le"),
        rf_tile_sum(rf_local_greater(col("t_qty"), 25.0)).as("n_gt"),
        rf_tile_sum(rf_local_greater_equal(col("t_qty"), 25.0)).as("n_ge"),
        rf_tile_sum(rf_local_equal(col("t_qty"), 25.0)).as("n_eq"),
        rf_tile_sum(rf_local_unequal(col("t_qty"), 25.0)).as("n_ne"))
        .orderBy("l_orderkey")),
    "q_clamp_where" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_sum(rf_local_clamp(col("t_qty"), 10.0, 40.0)).as("s_clamp"),
        rf_tile_sum(rf_where(rf_local_less(col("t_qty"), 25.0),
          col("t_qty"), rf_local_multiply(col("t_qty"), 2.0))).as("s_where"))
        .orderBy("l_orderkey")),
    "q_is_in" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_sum(rf_local_is_in(col("t_qty"),
          array(lit(1.0), lit(5.0), lit(10.0), lit(25.0), lit(50.0)))).as("n_in"))
        .orderBy("l_orderkey")),
    // ---- masking / nodata ----
    "q_masking" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_sum(rf_mask_by_value(col("t_qty"), col("t_ln"), 3.0)).as("s_mask"),
        rf_tile_sum(rf_inverse_mask_by_value(col("t_qty"), col("t_ln"), 3.0)).as("s_inv"),
        rf_data_cells(rf_mask(col("t_qty"), rf_with_no_data(col("t_ln"), 3.0))).as("dc_mask"))
        .orderBy("l_orderkey")),
    "q_masking2" -> ((s, dir) =>
      // the remaining mask family + predicate tiles + crop + exists/for_all
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_sum(rf_mask_by_values(col("t_qty"), col("t_ln"),
          array(lit(2.0), lit(4.0)))).as("s_mvals"),
        rf_tile_sum(rf_local_no_data(col("t_qty"))).as("n_nd"),
        rf_tile_sum(rf_local_data(col("t_qty"))).as("n_data"),
        rf_tile_sum(rf_crop(col("t_qty"), 0, 0, 4, 2)).as("s_crop"),
        rf_exists(rf_local_greater(col("t_qty"), 49.0)).as("any_50"),
        // for_all is NoData-strict: true iff the 4x1 crop is fully
        // populated (orders with >= 4 cells) and every value positive
        rf_for_all(rf_local_greater(rf_crop(col("t_qty"), 0, 0, 4, 1), 0.0)).as("all4_pos"))
        .orderBy("l_orderkey")),
    "q_envelope" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        rf_envelope(st_geometry(struct(
          (col("p_partkey") % 7).cast("double").as("xmin"),
          (col("p_partkey") % 5).cast("double").as("ymin"),
          (col("p_partkey") % 7 + 2).cast("double").as("xmax"),
          (col("p_partkey") % 5 + 3).cast("double").as("ymax")))).as("env"))
        .select(col("p_partkey"), col("env.minx").as("minx"), col("env.maxx").as("maxx"),
          col("env.miny").as("miny"), col("env.maxy").as("maxy"))
        .orderBy("p_partkey")),
    "q_with_no_data" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_data_cells(rf_with_no_data(col("t_qty"), 50.0)).as("dc"),
        rf_tile_sum(rf_with_no_data(col("t_qty"), 50.0)).as("s"))
        .orderBy("l_orderkey")),
    "q_convert" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_cell_type(col("t_qty")).as("ct_f64"),
        rf_cell_type(rf_convert_cell_type(col("t_qty"), "int32")).as("ct_i32"),
        rf_tile_sum(rf_convert_cell_type(col("t_qty"), "int32")).as("s_i32"),
        rf_tile_sum(rf_convert_cell_type(col("t_qty"), "uint8")).as("s_u8"))
        .orderBy("l_orderkey")),
    "q_extract_bits" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_sum(rf_local_extract_bits(rf_convert_cell_type(col("t_qty"), "int32"), 1, 3))
          .as("s_bits"),
        // singular SQL alias (ref expressions/package.scala:189) — bit 0
        rf_tile_sum(rf_local_extract_bit(rf_convert_cell_type(col("t_qty"), "int32"), 0))
          .as("s_bit0"))
        .orderBy("l_orderkey")),
    // constant registry introspection (ref functions/package.scala:175)
    "q_cell_types" -> ((s, dir) =>
      s.range(1).selectExpr("posexplode(rf_cell_types()) AS (pos, ct_name)")
        .selectExpr("CAST(pos AS BIGINT) AS pos", "ct_name")
        .orderBy("pos")),
    "q_mask_bits" -> ((s, dir) =>
      // QA bit-plane masking: NoData t_qty where bits [0,2) of the
      // linenumber tile land in {1,3} / where bit 0 is set
      tiled(s, dir).select(col("l_orderkey"),
        rf_tile_sum(rf_mask_by_bits(col("t_qty"),
          rf_convert_cell_type(col("t_ln"), "int32"), 0, 2, Seq(1, 3))).as("s_masked"),
        rf_data_cells(rf_mask_by_bit(col("t_qty"),
          rf_convert_cell_type(col("t_ln"), "int32"), 0, valueToMask = true)).as("dc_bit"))
        .orderBy("l_orderkey")),
    // ---- generators / converters ----
    "q_explode_tiles" -> ((s, dir) => cells(s, dir, col("t_qty"))),
    // ---- DSv2 geotiff read path, end-to-end: fixture tiffs on disk →
    // spark.read.format("geotiff") with band_indexes + tile_dimensions
    // windowing (4×2 windows of 8×4 files → ranged reads) → explode.
    // The eager/lazy twin pair shares one oracle, so the RefTile lazy
    // path is pinned to the identical cell stream.
    "q_geotiff_read" -> ((s, dir) => geotiffRead(s, dir, lazyTiles = false)),
    "q_geotiff_read_lazy" -> ((s, dir) => geotiffRead(s, dir, lazyTiles = true)),
    // the `raster` catalog entry point (ref RasterSourceDataSource.scala:
    // 37-49): an explicit URI catalog (comma-list, not a directory scan)
    // through format("raster") with band selection + spatial_index; the
    // oracle re-derives every cell AND the Z2 index of each window's
    // centroid bit-exactly
    // key-aligned layer join (ref RasterFrameLayerMethods.scala:137-192):
    // two co-gridded layers equi-joined on spatial_key — a plain shuffle
    // hash join, never a spatial theta — with colliding right columns
    // right_-prefixed; cell-aligned map algebra across the join oracled
    "q_layer_spatial_join" -> ((s, dir) => {
      // both layers derive from the same tiled() table; NOT materialized
      // — the r20 A/B read neutral (2.55 → 2.44 s, within noise): the
      // assemble aggregate's exchange is already stage-reused by AQE
      val base = tiled(s, dir)
      def layer(tile: Column) = base.select(
        struct((col("l_orderkey") % 4096).cast("int").as("col"),
          expr("l_orderkey div 4096").cast("int").as("row")).as("spatial_key"),
        col("l_orderkey"), tile.as("tile"), lit("epsg:4326").as("crs"))
      Layer.spatialJoin(layer(col("t_qty")), layer(col("t_ln")))
        .select(col("l_orderkey"), col("right_l_orderkey"),
          rf_tile_sum(col("tile")).as("s_qty"),
          rf_tile_sum(col("right_tile")).as("s_ln"),
          rf_tile_sum(rf_local_add(col("tile"), col("right_tile"))).as("s_add"))
        .orderBy("l_orderkey")
    }),
    // seeded cell sampling (rf_explode_tiles_sample): the keep decision
    // is java.util.Random(42).nextDouble() per cell position in row-major
    // order — a PUBLICLY SPECIFIED 48-bit LCG the oracle replays
    // independently in DuckDB (HUGEINT mod-2^48 arithmetic)
    "q_explode_sample" -> ((s, dir) =>
      tiled(s, dir)
        .select(col("l_orderkey"), rf_explode_tiles_sample(0.5, 42L, col("t_qty")))
        .toDF("l_orderkey", "column_index", "row_index", "qty")
        .select(col("l_orderkey"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("qty"))
        .where(col("qty").isNotNull)
        .orderBy("l_orderkey", "i")),
    // grayscale PNG render: min-max stretch to 0..255, NoData transparent
    // — decoded back via mm_png_stats and replayed arithmetically
    "q_render_png" -> ((s, dir) =>
      tiled(s, dir)
        .where(col("l_orderkey") % 31 === 3) // ImageIO encode is per-row costly; bound the sweep
        .select(col("l_orderkey"),
          Multimodal.png_stats(rf_render_png(col("t_qty"))).as("st"))
        .select(col("l_orderkey"),
          col("st.width").as("w"), col("st.height").as("h"),
          col("st.opaque").as("opaque"), col("st.red_sum").as("red_sum"))
        .orderBy("l_orderkey")),
    // named-color-ramp renders (ref RenderColorRampPNG + ColorRampNames):
    // Viridis exercises the stop interpolation (incl. the segment
    // switch), Greyscale8 the quantized levels — both decoded back and
    // replayed as exact IEEE stretch + truncation arithmetic
    "q_render_ramp" -> ((s, dir) =>
      tiled(s, dir)
        .where(col("l_orderkey") % 31 === 3)
        .select(col("l_orderkey"),
          Multimodal.png_stats(rf_render_png(col("t_qty"), "Viridis")).as("sv"),
          Multimodal.png_stats(rf_render_png(col("t_qty"), "Greyscale8")).as("sg"))
        .select(col("l_orderkey"),
          col("sv.width").as("w"), col("sv.height").as("h"),
          col("sv.opaque").as("opaque"),
          col("sv.red_sum").as("vir_red"),
          col("sg.red_sum").as("g8_red"))
        .orderBy("l_orderkey")),
    // slippy z/x/y PNG pyramid writer (ref SlippyDataSource.scala:17-67)
    // oracled end-to-end: each input row's footprint is EXACTLY one
    // zoom-6 slippy tile (extent computed with the writer's own
    // tile-bounds formulas, so the two RasterExtents coincide), making
    // the 256² nearest-neighbor resample map pixel (c, r) to source
    // cell (c div 32, r div 64) robustly (pixel centers sit ≥1/64 of a
    // cell away from every cell boundary — far beyond ulp noise). The
    // written tile SET, per-tile opaque-pixel count (2048·data_cells)
    // and red/gray sum (2048·Σ⌊(v−mn)/range·255⌋) replay in DuckDB.
    "q_slippy" -> ((s, dir) => {
      Raster.init(s)
      val out = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_slippy_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      deleteTree(out)
      val zoom = 6
      val n = 1 << zoom
      def lonOf(i: Int) = i.toDouble / n * 360.0 - 180.0
      def latOf(i: Int) = math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2.0 * i / n))))
      // slot k (= l_orderkey div 61, bounded to 256 so slots are unique
      // AND the 256²-pixel resample stays ~17M pixel ops per run at any
      // SF) → its own zoom-6 tile (k % 64, 16 + (k div 64) % 32)
      val lookup = {
        import s.implicits._
        (0 until 256).map { k =>
          val tx = k % n
          val ty = 16 + (k / n) % 32
          (k, lonOf(tx), latOf(ty + 1), lonOf(tx + 1), latOf(ty))
        }.toDF("k", "xmin", "ymin", "xmax", "ymax")
      }
      tiled(s, dir)
        .where(col("l_orderkey") % 61 === 3 && expr("l_orderkey div 61") < 256)
        .select(expr("l_orderkey div 61").cast("int").as("k"), col("t_qty").as("tile"))
        .join(broadcast(lookup), "k")
        .select(col("tile"),
          struct(col("xmin"), col("ymin"), col("xmax"), col("ymax")).as("extent"),
          lit("epsg:4326").as("crs"))
        .write.format("slippy")
        .option("path", out.toString).option("zoom", zoom.toString).save()
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .option("recursiveFileLookup", "true")
        .load(out.resolve(zoom.toString).toString)
        .select(
          regexp_extract(col("path"), "/(\\d+)/(\\d+)\\.png$", 1).cast("int").as("tx"),
          regexp_extract(col("path"), "/(\\d+)/(\\d+)\\.png$", 2).cast("int").as("ty"),
          Multimodal.png_stats(col("content")).as("st"))
        .select(
          (((col("ty") - 16) * n + col("tx")) * 61 + 3).cast("long").as("l_orderkey"),
          col("st.width").as("w"), col("st.height").as("h"),
          col("st.opaque").as("opaque"), col("st.red_sum").as("red_sum"))
        .orderBy("l_orderkey")
    }),
    // geojson FeatureCollection read (ref GeoJsonDataSource.scala:43-131)
    // through format("geojson"): Jackson feature split + Spark-JSON
    // property inference (long/double/boolean/string) + GeomFromGeoJSON
    // decode, oracled via WKT text + every inferred property
    "q_geojson_read" -> ((s, dir) => {
      val path = geojsonFixture(s, dir)
      s.read.format("geojson").option("path", path).load()
        .select(st_asText(col("geometry")).as("wkt"),
          col("qi"), col("lni"), col("label"), col("ratio"), col("flag"))
        .orderBy("qi", "lni")
    }),
    // WARC container read (Common Crawl shape): records re-derived from
    // the documents table they were built from — headers lifted to
    // columns, Content-Length-framed payload decoded back to the text.
    // The fixture splits even doc_ids into a plain .warc and odd into a
    // whole-file .warc.gz, so both decode paths face the oracle.
    "q_warc_read" -> ((s, dir) => {
      val path = warcFixtureDir(s, dir)
      s.read.format("warc").option("path", path).load()
        .select(
          regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long").as("doc_id"),
          col("record_type"), col("target_uri"), col("warc_date"),
          col("content_type"), col("content_length"),
          col("payload").cast("string").as("text"))
        .orderBy("doc_id")
    }),
    "q_raster_catalog" -> ((s, dir) => {
      val fxDir = geotiffFixtureDir(s, dir)
      val files = {
        import scala.jdk.CollectionConverters._
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(fxDir))
        try st.iterator().asScala.map(_.toString).filter(_.endsWith(".tif")).toVector.sorted
        finally st.close()
      }
      s.read.format("raster")
        .option("paths", files.mkString(","))
        .option("tile_dimensions", "4,2")
        .option("band_indexes", "0,1")
        .option("spatial_index", "true")
        .load()
        .select(
          regexp_extract(col("path"), "ok-(\\d+)\\.tif", 1).cast("long").as("l_orderkey"),
          col("spatial_key"), col("spatial_index"),
          rf_explode_tiles(col("tile_b0"), col("tile_b1")))
        .select(col("l_orderkey"),
          ((col("spatial_key.row") * 2 + col("row_index")) * 8 +
            (col("spatial_key.col") * 4 + col("column_index"))).cast("int").as("i"),
          col("tile_b0").as("qty"), col("tile_b1").as("lnv"),
          col("spatial_index").as("z2"))
        .where(col("qty").isNotNull)
        .orderBy("l_orderkey", "i")
    }),
    // buffer_size=1 halo windows: each 4×2 window expands by one pixel
    // clamped at the file edge, so border cells surface in up to four
    // windows — the oracle replays the expansion arithmetic per window
    "q_geotiff_read_buffered" -> ((s, dir) => geotiffReadBuffered(s, dir)),
    // the full seam story, oracled: buffered windows through the DSv2
    // reader → focal mean over each buffered tile → crop the halo →
    // global cells equal the WHOLE-raster focal (the oracle never sees
    // windows — it computes the neighborhood mean on the full grid)
    "q_geotiff_focal" -> ((s, dir) => geotiffFocal(s, dir)),
    // distributed tiles writer → catalog.csv → geotiff reader roundtrip
    "q_tiles_roundtrip" -> ((s, dir) => tilesRoundtrip(s, dir)),
    // STAC local catalog walker: a catalog generated from the nation
    // table (bounded, 25 rows), read back through the `stac` source —
    // ids, bbox, datetime and asset lists re-derived by the oracle
    "q_stac_read" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      Raster.init(s)
      val stacDir = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_stac_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      Files.createDirectories(stacDir)
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
      val links = nations.map { case (k, _, _) => s"""{"rel":"item","href":"item-$k.json"}""" }
        .mkString("[", ",", "]")
      Files.write(stacDir.resolve("catalog.json"),
        s"""{"type":"Catalog","id":"nations","links":$links}""".getBytes("UTF-8"))
      for ((k, name, rk) <- nations) {
        val item =
          s"""{"type":"Feature","id":"n$k","collection":"r$rk",
             |"bbox":[$k.0,0.0,${k + 1}.0,1.0],
             |"properties":{"datetime":"2024-01-01T00:00:0${k % 10}Z","name":"$name"},
             |"assets":{"B1":{"href":"/data/n$k-b1.tif"},"B2":{"href":"/data/n$k-b2.tif"}}}""".stripMargin
        Files.write(stacDir.resolve(s"item-$k.json"), item.getBytes("UTF-8"))
      }
      s.read.format("stac").option("path", stacDir.resolve("catalog.json").toString).load()
        .select(col("id"), col("collection"), col("datetime"),
          element_at(col("bbox"), 1).as("bx0"), element_at(col("bbox"), 2).as("by0"),
          element_at(col("bbox"), 3).as("bx1"), element_at(col("bbox"), 4).as("by1"),
          size(col("asset_keys")).as("n_assets"),
          element_at(col("asset_hrefs"), 1).as("href1"))
        .orderBy("id")
    }),
    // driver-mosaic geotiff writer: ≤25 disjoint-placed tiles mosaic
    // into ONE file, read back through the DSv2 reader and exploded —
    // the same placement arithmetic as q_overview replays the cells
    "q_geotiff_mosaic" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      Raster.init(s)
      val outDir = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_mosaic_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      Files.createDirectories(outDir)
      val out = outDir.resolve("mosaic.tif").toString
      val d = tiled(s, dir)
        .where(col("l_orderkey") % 601 === 3 && expr("l_orderkey div 601") < 25)
        .withColumn("p", expr("CAST(l_orderkey div 601 AS INT)"))
        .withColumn("px", col("p") % 5)
        .withColumn("py", expr("p div 5"))
      d.select(col("t_qty").as("tile"),
          struct((col("px") * 8).cast("double").as("xmin"),
            (lit(20) - (col("py") + 1) * 4).cast("double").as("ymin"),
            (col("px") * 8 + 8).cast("double").as("xmax"),
            (lit(20) - col("py") * 4).cast("double").as("ymax")).as("extent"),
          lit("epsg:4326").as("crs"))
        .write.format("geotiff").option("path", out).save()
      s.read.format("geotiff").option("path", out)
        .option("tile_dimensions", "40,20").load()
        .select(rf_explode_tiles(col("tile")))
        .toDF("gc", "gr", "v")
        .where(col("v").isNotNull)
        .select(col("gc").cast("int"), col("gr").cast("int"), col("v"))
        .orderBy("gc", "gr")
    }),
    // Parquet-native layer write → extent-queried read (the Parquet
    // min/max-pushable interval predicate, closed on both edges) →
    // explode; the oracle re-derives which grid placements intersect
    "q_layer_roundtrip" -> ((s, dir) => {
      import java.nio.file.Paths
      Raster.init(s)
      val path = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_layer_rt_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val d = tiled(s, dir)
        .where(col("l_orderkey") % 601 === 3 && expr("l_orderkey div 601") < 25)
        .withColumn("p", expr("CAST(l_orderkey div 601 AS INT)"))
        .withColumn("px", col("p") % 5)
        .withColumn("py", expr("p div 5"))
      val src = d.select(col("l_orderkey"), col("t_qty").as("tile"),
        struct((col("px") * 8).cast("double").as("xmin"),
          (lit(20) - (col("py") + 1) * 4).cast("double").as("ymin"),
          (col("px") * 8 + 8).cast("double").as("xmax"),
          (lit(20) - col("py") * 4).cast("double").as("ymax")).as("extent"),
        lit("epsg:4326").as("crs"))
      Layer.write(src, path)
      Layer.read(s, path, Some(graft.core.Extent(0, 0, 17, 11)))
        .select(col("l_orderkey"), rf_explode_tiles(col("tile")))
        .select(col("l_orderkey"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("tile").as("cell"))
        .where(col("cell").isNotNull)
        .orderBy("l_orderkey", "i")
    }),
    // the same layer round-trip under the HILBERT spatial ordering
    // (Layer.write(index="hilbert") — the reference's
    // withSpatialIndex(applyOrdering=true) role with a locality-first
    // curve): the file ORDER changes, the content and the pruning
    // predicate semantics must not, so the oracle is byte-identical to
    // q_layer_roundtrip's
    "q_layer_hilbert" -> ((s, dir) => {
      import java.nio.file.Paths
      Raster.init(s)
      val path = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_layer_hi_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val d = tiled(s, dir)
        .where(col("l_orderkey") % 601 === 3 && expr("l_orderkey div 601") < 25)
        .withColumn("p", expr("CAST(l_orderkey div 601 AS INT)"))
        .withColumn("px", col("p") % 5)
        .withColumn("py", expr("p div 5"))
      val src = d.select(col("l_orderkey"), col("t_qty").as("tile"),
        struct((col("px") * 8).cast("double").as("xmin"),
          (lit(20) - (col("py") + 1) * 4).cast("double").as("ymin"),
          (col("px") * 8 + 8).cast("double").as("xmax"),
          (lit(20) - col("py") * 4).cast("double").as("ymax")).as("extent"),
        lit("epsg:4326").as("crs"))
      Layer.write(src, path, index = "hilbert")
      Layer.read(s, path, Some(graft.core.Extent(0, 0, 17, 11)))
        .select(col("l_orderkey"), rf_explode_tiles(col("tile")))
        .select(col("l_orderkey"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("tile").as("cell"))
        .where(col("cell").isNotNull)
        .orderBy("l_orderkey", "i")
    }),
    // overview mosaic aggregate: ≤25 sampled per-orderkey tiles placed
    // on a disjoint 5×5 grid of 8×4 footprints (cell size 1 → dest cell
    // centers sample 1:1 source cells; first-wins merge is deterministic
    // because footprints never overlap), then exploded back to cells
    // rgb composite: each band min-max stretched to 0..255 (truncated),
    // NoData stretches to 0, packed (r<<16)|(g<<8)|b into int32raw —
    // every packed value replays as exact integer arithmetic
    "q_rgb_composite" -> ((s, dir) =>
      tiled(s, dir)
        .select(col("l_orderkey"),
          rf_rgb_composite(col("t_qty"), col("t_ln"), col("t_qty")).as("rgb"))
        .select(col("l_orderkey"), rf_explode_tiles(col("rgb")))
        .select(col("l_orderkey"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("rgb").as("v"))
        .orderBy("l_orderkey", "i")),
    // matrix render: space-separated %.2f cells, NoData as '--' — the
    // cell values are integer-valued doubles, so the formatting is
    // tie-free and replays exactly
    "q_render_matrix" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_render_matrix(col("t_qty")).as("matrix"))
        .orderBy("l_orderkey")),
    // ascii render: per-tile min-max stretch onto the 10-char ramp,
    // NoData as '∘', rows newline-terminated — fully string-replayable
    "q_render_ascii" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_render_ascii(col("t_qty")).as("ascii"))
        .orderBy("l_orderkey")),
    "q_overview" -> ((s, dir) => {
      val d = tiled(s, dir)
        .where(col("l_orderkey") % 601 === 3 && expr("l_orderkey div 601") < 25)
        .withColumn("p", expr("CAST(l_orderkey div 601 AS INT)"))
        .withColumn("px", col("p") % 5)
        .withColumn("py", expr("p div 5"))
      val ext = struct(
        (col("px") * 8).cast("double").as("xmin"),
        (lit(20) - (col("py") + 1) * 4).cast("double").as("ymin"),
        (col("px") * 8 + 8).cast("double").as("xmax"),
        (lit(20) - col("py") * 4).cast("double").as("ymax"))
      d.select(rf_proj_raster(col("t_qty"), ext, lit("epsg:4326")).as("pr"))
        .agg(rf_agg_overview_raster(col("pr"), 40, 20,
          graft.core.Extent(0, 0, 40, 20), "epsg:4326").as("ov"))
        .select(rf_explode_tiles(col("ov")))
        .toDF("gc", "gr", "v")
        .where(col("v").isNotNull)
        .select(col("gc").cast("int"), col("gr").cast("int"), col("v"))
        .orderBy("gc", "gr")
    }),
    // the Spark-ML pipeline pair (TileExploder → NoDataFilter) as a
    // user composes it in a Pipeline; the oracle is the per-cell grid
    "q_ml_exploder" -> ((s, dir) => {
      val exploded = new graft.ml.TileExploder().transform(
        tiled(s, dir).select(col("l_orderkey"), col("t_qty"), col("t_ln")))
      new graft.ml.NoDataFilter().setInputCols(Array("t_qty", "t_ln"))
        .transform(exploded)
        .select(col("l_orderkey"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("t_qty").as("q"), col("t_ln").as("lnv"))
        .orderBy("l_orderkey", "i")
    }),
    // NoDataFilter where it genuinely drops DATA positions (not just the
    // assembler's unfilled cells): cells equal to 50 are declared nodata
    // pre-explode, arrive as NULL, and the default-column filter removes
    // the whole row even though the sibling band still has a value there
    "q_ml_nodata" -> ((s, dir) => {
      val src = tiled(s, dir).select(col("l_orderkey"),
        rf_with_no_data(col("t_qty"), 50.0).as("t_qty"), col("t_ln"))
      val exploded = new graft.ml.TileExploder().transform(src)
      new graft.ml.NoDataFilter() // default: every numeric column
        .transform(exploded)
        .select(col("l_orderkey"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("t_qty").as("q"), col("t_ln").as("lnv"))
        .orderBy("l_orderkey", "i")
    }),
    // constant-tile constructors driven end-to-end: per-key constant,
    // zeros and ones tiles reduced through tile stats — the sums and
    // data-cell counts are analytically SQL-derivable
    "q_make_tiles" -> ((s, dir) => {
      t(s, dir, "lineitem").where(col("l_orderkey") % 37 === 5)
        .groupBy("l_orderkey").agg(max("l_linenumber").as("ln"))
        .select(col("l_orderkey"),
          rf_tile_sum(rf_make_constant_tile(col("ln"), 8, 4, "int32")).as("csum"),
          rf_data_cells(rf_make_constant_tile(col("ln"), 8, 4, "int32")).as("dc"),
          rf_tile_sum(rf_make_zeros_tile(8, 4, "float64")).as("zsum"),
          rf_tile_sum(rf_make_ones_tile(8, 4, "uint8")).as("osum"),
          rf_cell_type(rf_make_zeros_tile(8, 4, "float64")).as("zct"))
        .orderBy("l_orderkey")
    }),
    // the user-extension escape hatch: an arbitrary binary cell function
    // lifted over two tiles; the closure here is IEEE-exact (×2, +, /4
    // are correctly rounded) so DuckDB replays it cell-for-cell
    "q_local_algebra" -> ((s, dir) => {
      import graft.extensions._
      cells(s, dir, rf_local_algebra((a, b) => (a * 2.0 + b) / 4.0)(col("t_qty"), col("t_ln")))
    }),
    // notebook renderers as data: toMarkdown over the tiled frame (tile
    // cells summarized as "cellType cols×rows") and toHTML over a plain
    // frame — both deterministic strings DuckDB rebuilds with string_agg
    "q_show" -> ((s, dir) => {
      import graft.extensions._
      import s.implicits._
      val md = tiled(s, dir).orderBy("l_orderkey")
        .select(col("l_orderkey"), col("t_qty")).toMarkdown(5)
      val html = t(s, dir, "nation").orderBy("n_nationkey")
        .select(col("n_nationkey"), col("n_name")).toHTML(3)
      Seq((md, html)).toDF("md", "html")
    }),
    "q_assemble_roundtrip" -> ((s, dir) => {
      val c = tiled(s, dir)
        .select(col("l_orderkey"), rf_explode_tiles(col("t_qty")))
        .where(col("t_qty").isNotNull)
      c.groupBy("l_orderkey")
        .agg(rf_assemble_tile(col("column_index"), col("row_index"), col("t_qty"), 8, 4).as("t"))
        .select(col("l_orderkey"), rf_tile_sum(col("t")).as("tile_sum"))
        .orderBy("l_orderkey")
    }),
    "q_standardize" -> ((s, dir) =>
      cells(s, dir, rf_standardize(col("t_qty"), 25.0, 10.0))),
    "q_rescale" -> ((s, dir) =>
      cells(s, dir, rf_rescale(col("t_qty"), 1.0, 50.0))),
    "q_metadata" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_cell_type(col("t_qty")).as("ct"),
        col("bucket"),
        rf_dimensions(col("t_qty")).getField("cols").as("cols"),
        rf_dimensions(col("t_qty")).getField("rows").as("rows"),
        rf_is_no_data_tile(col("t_qty")).as("is_nd"),
        rf_exists(rf_local_greater(col("t_qty"), 49.0)).as("has_gt49"))
        .orderBy("l_orderkey")),
    // ---- columnar aggregates ----
    "q_agg_mean" -> ((s, dir) =>
      tiled(s, dir).groupBy("bucket").agg(rf_agg_mean(col("t_qty")).as("m"))
        .orderBy("bucket")),
    "q_agg_stats" -> ((s, dir) =>
      tiled(s, dir).groupBy("bucket").agg(rf_agg_stats(col("t_qty")).as("st"),
          rf_agg_data_cells(col("t_qty")).as("agg_dc"),
          rf_agg_no_data_cells(col("t_qty")).as("agg_ndc"))
        .select(col("bucket"),
          col("st.data_cells").as("dc"), col("st.no_data_cells").as("ndc"),
          col("st.min").as("mn"), col("st.max").as("mx"),
          col("st.mean").as("mean"), col("st.variance").as("variance"),
          col("agg_dc"), col("agg_ndc"))
        .orderBy("bucket")),
    "q_agg_histogram" -> ((s, dir) =>
      tiled(s, dir).agg(rf_agg_approx_histogram(col("t_qty")).as("h"))
        .select(explode(col("h.bins")).as("b"))
        .select(col("b.value").as("bin_value"), col("b.count").as("bin_count"))
        .orderBy("bin_value")),
    "q_tile_histogram" -> ((s, dir) =>
      tiled(s, dir)
        .select(col("l_orderkey"), rf_tile_histogram(col("t_qty")).as("h"))
        .select(col("l_orderkey"), explode(col("h.bins")).as("b"))
        .select(col("l_orderkey"), col("b.value").as("bin_value"), col("b.count").as("bin_count"))
        .orderBy("l_orderkey", "bin_value")),
    // ---- local (cell-wise) aggregates ----
    "q_agg_local" -> ((s, dir) =>
      tiled(s, dir).groupBy("bucket")
        .agg(rf_agg_local_min(col("t_qty")).as("tmin"),
          rf_agg_local_max(col("t_qty")).as("tmax"),
          rf_agg_local_mean(col("t_qty")).as("tmean"),
          rf_agg_local_data_cells(col("t_qty")).as("tcnt"))
        .select(col("bucket"),
          rf_explode_tiles(col("tmin"), col("tmax"), col("tmean"), col("tcnt")))
        .select(col("bucket"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("tmin").as("min_c"), col("tmax").as("max_c"),
          col("tmean").as("mean_c"), col("tcnt").as("cnt_c"))
        .where(col("cnt_c") > 0)
        .orderBy("bucket", "i")),
    "q_agg_local_nodata" -> ((s, dir) =>
      tiled(s, dir).groupBy("bucket")
        .agg(rf_agg_local_no_data_cells(col("t_qty")).as("tnd"))
        .select(col("bucket"), rf_explode_tiles(col("tnd")))
        .select(col("bucket"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("tnd").as("nd"))
        .orderBy("bucket", "i")),
    // ---- text analysis ----
    "q_text_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        TextFunctions.char_count(col("text")).as("chars"),
        TextFunctions.token_count(col("text")).as("tokens"),
        size(array_distinct(TextFunctions.tokens(col("text")))).as("distinct_tokens"))
        .orderBy("doc_id")),
    "q_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.punct_ratio(col("text")).as("punct_ratio"),
        TextFunctions.distinct_ratio(col("text")).as("distinct_ratio"),
        TextFunctions.quality_score(col("text")).as("quality"))
        .orderBy("doc_id")),
    "q_token_freq" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy("token")),
    // Per-source modal token: min_by on (−count, token) — max count,
    // ties to the smallest token — so the mode is a partial+final
    // aggregate (map-side combine), not a per-group window sort; the
    // oracle replays it as the row_number it replaces.
    "q_mode" -> ((s, dir) => {
      val tc = t(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      tc.groupBy("source")
        .agg(min_by(struct(col("tok"), col("n")),
          struct((-col("n")).as("nn"), col("tok"))).as("m"))
        .select(col("source"), col("m.tok").as("top_token"), col("m.n").as("n"))
        .orderBy("source")
    }),
    "q_lang_stats" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        avg("n_chars").as("avg_chars"),
        countDistinct("source").as("n_sources"))
        .orderBy("lang")),
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")),
    // CCNet-style segment ("line") dedup: segments repeated across the
    // corpus are boilerplate and dropped; docs reassemble in order.
    "q_segment_dedup" -> ((s, dir) =>
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
          segTokens = 4, maxDf = 1)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Incremental dedup against a reference corpus (docs with id%3=0)
    // via a broadcast Bloom bitset: bloom_hit may include deterministic
    // false positives; is_member is the exact ground truth.
    "q_bloom_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.where(col("doc_id") % 3 === 0)
      val bits = graft.pipeline.BloomDedup.bloomBits(ref, "text", numBits = 16384, k = 4)
      val fp = TextFunctions.fingerprint(col("text"))
      val refFps = ref.select(fp.as("rh")).distinct()
      graft.pipeline.BloomDedup.annotate(docs, "text", bits, k = 4)
        .select(col("doc_id"), fp.as("fp0"), col("bloom_hit"))
        .join(broadcast(refFps), col("fp0") === col("rh"), "left")
        .select(col("doc_id"), col("bloom_hit"), col("rh").isNotNull.as("is_member"))
        .orderBy("doc_id")
    }),
    // Unicode-normalization family over a decorated text: the prefix
    // carries decomposed sequences (e+U+0301, i+U+0308, U+212B, n+U+0303)
    // so NFC composition, accent stripping, punctuation/whitespace
    // cleanup all do real work; DuckDB's utf8proc implements the same
    // Unicode algorithms as java.text.Normalizer
    "q_normalize" -> ((s, dir) => {
      import graft.pipeline.TextNorm
      val deco = concat(
        lit("  Café naïve Å piña --- "),
        col("text"), lit("\t end  "))
      t(s, dir, "documents").select(col("doc_id"),
        TextNorm.nfc(deco).as("nfc_text"),
        length(TextNorm.nfc(deco)).as("nfc_len"),
        TextNorm.strip_accents(deco).as("plain"),
        TextNorm.clean(deco).as("clean"),
        TextNorm.normalize_whitespace(TextNorm.strip_punct(deco)).as("nopunct"))
        .orderBy("doc_id")
    }),
    // rational tf-idf (tf * N / df, no logarithm) top-3 terms per doc
    "q_tfidf" -> ((s, dir) =>
      Dedup.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rank")),
    // within-doc repetition removal: 2-token segments, first kept
    "q_dedup_within" -> ((s, dir) =>
      Dedup.dedupeWithinDoc(t(s, dir, "documents"), "doc_id", "text",
          segTokens = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // one-row dataset card: counts + exact-integer-ratio metrics only
    "q_corpus_report" -> ((s, dir) =>
      Dedup.corpusReport(t(s, dir, "documents"),
        "doc_id", "text", "lang", "source")),
    // web-corpus text extraction: tags/comments dropped, entities
    // decoded (&amp; last, so &amp;lt; yields a literal &lt;)
    "q_strip_html" -> ((s, dir) => {
      import graft.pipeline.TextNorm
      val deco = concat(
        lit("""<div class="doc"><!-- hdr --><p>"""),
        col("text"),
        lit("""</p>&nbsp;<br/>&amp;lt;end&gt; x <i>it</i>"""))
      t(s, dir, "documents").select(col("doc_id"),
        TextNorm.strip_html(deco).as("stripped"),
        TextNorm.normalize_whitespace(TextNorm.strip_html(deco)).as("clean"))
        .orderBy("doc_id")
    }),
    // Gopher rule metrics + composite pass verdict
    "q_gopher_rules" -> ((s, dir) =>
      graft.pipeline.GopherRules.metrics(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // percentile quality gate: drop the bottom quartile by token count
    // (integer-exact discrete quantile; threshold ties kept)
    "q_quantile_filter" -> ((s, dir) => {
      val score = TextFunctions.token_count(col("text"))
      graft.pipeline.QuantileFilter.keepAbove(
          t(s, dir, "documents"), score, permille = 250)
        .select(col("doc_id"), score.cast("int").as("n_tokens"),
          col("threshold"))
        .orderBy("doc_id")
    }),
    // context-window chunking: 8-token windows, 4-token overlap
    "q_chunk" -> ((s, dir) =>
      graft.pipeline.Chunking.chunk(t(s, dir, "documents"), "doc_id", "text",
          sizeTokens = 8, overlap = 4)
        .orderBy("doc_id", "chunk_idx")),
    "q_repetition" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.pipeline.TextFunctions.repetition_ratio(col("text")).as("rep3"))
        .orderBy("doc_id")),
    "q_dedup_pipeline" -> ((s, dir) => {
      // Chained fixture: every 5th doc plus its 80%- and 64%-token
      // prefixes. Consecutive links share ~0.8 trigram Jaccard, the
      // v0↔v2 skip link only ~0.64 — so a single keep_id per chain
      // REQUIRES transitive (connected-components) clustering, and the
      // exact-Jaccard edges make the whole thing DuckDB-checkable.
      val docs = t(s, dir, "documents").where(col("doc_id") % 5 === 0)
      val toks = split(col("text"), " ")
      val n1 = floor(size(toks) * 4 / 5).cast("int")
      val n2 = floor(floor(size(toks) * 4 / 5) * 4 / 5).cast("int")
      val v0 = docs.select((col("doc_id") * 3).as("id"), col("source"), col("text"))
      val v1 = docs.select((col("doc_id") * 3 + 1).as("id"), col("source"),
        concat_ws(" ", slice(toks, lit(1), n1)).as("text"))
      val v2 = docs.select((col("doc_id") * 3 + 2).as("id"), col("source"),
        concat_ws(" ", slice(toks, lit(1), n2)).as("text"))
      graft.pipeline.Dedup2.keepDecisionsExact(
        v0.union(v1).union(v2), "id", "text", "source")
        .orderBy("id")
    }),
    "q_dedup_lsh" -> ((s, dir) =>
      graft.pipeline.Dedup2.keepDecisions(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id")),
    "q_embed_dedup" -> ((s, dir) =>
      // embedding-cosine near-dup keep decisions (LSH candidates +
      // exact cosine + connected components)
      graft.pipeline.EmbeddingDedup.keepDecisions(
        t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.99)
        .orderBy("id")),
    "q_semdedup" -> ((s, dir) => {
      // SemDeDup keep decisions (k-means cells + within-cell cosine
      // pruning, low-centroid-sim priority). The raw corpus has no
      // near-dups (max natural cosine ~0.51), so the query plants them
      // deterministically: vectors are L2-normalized (the paper's prep),
      // then unioned with an exact copy per id % 7 == 0 and a
      // direction-preserving 1.25-scaled copy per id % 11 == 0 (scaled
      // BEFORE normalizing, so both engines replay the same doubles).
      val v = col("embedding").cast("array<double>")
      val unit = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("id"), v.as("__v"))
        .select(col("id"), Similarity.l2_norm(col("__v")).as("n"), col("__v"))
        .select(col("id"), transform(col("__v"), x => x / col("n")).as("vec"))
      val scaled = t(s, dir, "embeddings").where(col("vec_id") % 11 === 0)
        .select((col("vec_id").cast("long") + 20000L).as("id"),
          transform(v, x => x * lit(1.25)).as("__v"))
        .select(col("id"), Similarity.l2_norm(col("__v")).as("n"), col("__v"))
        .select(col("id"), transform(col("__v"), x => x / col("n")).as("vec"))
      val planted = unit
        .union(unit.where(col("id") % 7 === 0).select((col("id") + 10000L).as("id"), col("vec")))
        .union(scaled)
      graft.pipeline.EmbeddingDedup.semDedupKeep(
        planted, "id", "vec", nlist = 16, threshold = 0.97)
        .orderBy("id")
    }),
    // ---- hash/LSH family (oracled via HUGEINT mod-2^64 SQL) ----
    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.language_id(col("text")).as("guess"))
        .orderBy("doc_id")),
    // Unicode script composition per doc (codepoint-range counts) —
    // the routing signal for non-space-delimited scripts; pure
    // per-row expression, zero shuffles before the orderBy
    "q_script_mix" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          expr("pl_script_counts(text)").as("sc"))
        .select(col("doc_id"), col("lang"),
          col("sc.latin").as("latin"), col("sc.digit").as("digit"),
          col("sc.cjk").as("cjk"), col("sc.cyrillic").as("cyrillic"),
          col("sc.arabic").as("arabic"), col("sc.space").as("space"),
          col("sc.other").as("other"))
        .orderBy("doc_id")),
    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.simhash(col("text")).as("sh"))
        .orderBy("doc_id")),
    // DSIR importance resampling (Xie et al. 2023): λ fit over hashed
    // lowercase-alnum unigrams with target = English docs, then top-100
    // docs by integer micro-nat score — the λ table is a bounded driver
    // collect (512 longs) and scoring runs inside the scan, no joins
    "q_dsir" -> ((s, dir) =>
      graft.pipeline.Dsir.topK(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 512, k = 100)),
    // greedy longest-match subword stats (WordPiece/BPE-inference
    // shape): vocab = top-200 corpus words + single-char fallbacks
    // (bounded driver fit), per-doc piece/unk counts inside the scan
    "q_wordpiece" -> ((s, dir) =>
      graft.pipeline.Wordpiece.pieceStats(t(s, dir, "documents"),
          "doc_id", "text", vocabSize = 200)
        .orderBy("id")),
    // winnowing selections (k=3 grams, w=4 windows): positions + hashes
    "q_winnow" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        explode(TextFunctions.winnow(col("text"), 3, 4)).as("sel"))
        .select(col("doc_id"), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
        .orderBy("doc_id", "pos")),
    // shared-fingerprint near-dup pairs, hot fingerprints cut pre-join
    "q_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 3, w = 4, minShared = 2, maxDocFreq = 20)
        .orderBy("a_id", "b_id")),
    // ExactSubstr dedup (Lee et al. 2022): tokens under any corpus-
    // duplicated 8-token window removed, spans merged per doc
    "q_substring_dedup" -> ((s, dir) =>
      Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy("id")),
    // URL dedup: six messy variants per URL group (case, :80/:443,
    // #fragment, trailing slash, padding) collapse under
    // pl_normalize_url; keeper = min doc_id per canonical URL
    "q_url_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        expr("doc_id div 6").cast("string").as("gid"), (col("doc_id") % 6).as("v"))
      val url = when(col("v") === 0, concat(lit("http://EXAMPLE.com/a/"), col("gid")))
        .when(col("v") === 1, concat(lit("http://example.com:80/a/"), col("gid")))
        .when(col("v") === 2, concat(lit("http://example.com/a/"), col("gid"), lit("#frag")))
        .when(col("v") === 3, concat(lit("https://Example.COM:443/b?q="), col("gid")))
        .when(col("v") === 4, concat(lit("https://example.com/b?q="), col("gid"), lit("/")))
        .otherwise(concat(lit("  http://example.com/a/"), col("gid"), lit("  ")))
      d.withColumn("nurl", graft.pipeline.TextNorm.normalize_url(url))
        .groupBy("nurl")
        .agg(count(lit(1)).as("n_variants"), min("doc_id").as("keeper_id"))
        .orderBy("nurl")
    }),
    // per-source lexical-diversity report (dataset-card metrics): all
    // integer counts + one exact double division per ratio
    "q_diversity" -> ((s, dir) =>
      Dedup.diversityReport(t(s, dir, "documents"), "source", "text")
        .orderBy("source")),
    // crawl-to-crawl snapshot diff: the new snapshot drops every 7th
    // doc, edits every 5th, and re-adds every 11th under a shifted id —
    // one ids+fingerprints full-outer join classifies all four states
    "q_snapshot_diff" -> ((s, dir) => {
      val old = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newer = old.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" updated"))).otherwise(col("text")))
        .unionByName(old.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      Dedup.snapshotDiff(old, newer, "doc_id", "text")
        .orderBy("id")
    }),
    // top co-occurring term pairs by rational PMI lift (no log: the
    // ranking is identical and the scores stay bit-exact cross-engine)
    "q_pmi" -> ((s, dir) =>
      Dedup.pmiPairs(t(s, dir, "documents"), "doc_id", "text",
          minSupport = 5L, k = 20)
        .orderBy("rank")),
    "q_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.2)
        .orderBy("a_id", "b_id")),
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 16)
        .orderBy("a_id", "b_id")),
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text", "source", threshold = 0.05)
        .orderBy("blk", "a_id", "b_id")),
    // order-pinned mean pooling (chunk -> doc embeddings): exploded to
    // scalars; every double is a pinned-order fold, bit-exact
    "q_mean_pool" -> ((s, dir) =>
      Similarity.meanPool(
          t(s, dir, "embeddings").withColumn("doc", expr("vec_id % 50")),
          "doc", "vec_id", "embedding")
        .select(col("g").as("doc"), posexplode(col("mean_vec")).as(Seq("d", "m")))
        .select(col("doc"), col("d").cast("int").as("d"), col("m"))
        .orderBy("doc", "d")),
    // vector hygiene: L2 norm + normalized components, norm staged once
    "q_vec_norm" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.l2_norm(v).as("norm"), v.as("__v"))
        .select(col("vec_id"), col("norm"),
          element_at(transform(col("__v"), x => x / col("norm")), 1).as("u0"),
          Similarity.dot(transform(col("__v"), x => x / col("norm")),
            transform(col("__v"), x => x / col("norm"))).as("unit_dot"))
        .orderBy("vec_id")
    }),
    // symmetric int8 embedding quantization — the 4× storage shrink for
    // billion-vector corpora; scale staged ONCE per row (inlining it
    // would re-reduce the array per element), codes round-half-away
    "q_quantize" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      t(s, dir, "embeddings")
        .select(col("vec_id"), v.as("__v"),
          Similarity.int8Scale(col("embedding")).as("scale"))
        .select(col("vec_id"), col("scale"),
          Similarity.quantizeInt8(col("__v"), col("scale")).as("codes"))
        .select(col("vec_id"), col("scale"),
          array_max(col("codes")).as("code_max"),
          array_min(col("codes")).as("code_min"),
          posexplode(col("codes")).as(Seq("pos", "code")))
        .select(col("vec_id"), col("scale"), col("pos").cast("int").as("pos"),
          col("code"), col("code_max"), col("code_min"))
        .orderBy("vec_id", "pos")
    }),
    // C4-style line-level boilerplate cleanup over a deterministic
    // multi-line rendering of the documents (the ' line ' token becomes
    // a break; every 4th/5th doc gets a marker line injected so the
    // stop-marker rule engages)
    "q_clean_lines" -> ((s, dir) => {
      val lined = concat(
        regexp_replace(col("text"), " line ", "\n"),
        when(col("doc_id") % 4 === 0,
          lit("\nenable javascript to view")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\nwe use cookie banners here")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), lined.as("txt"))
        .select(col("doc_id"),
          size(split(col("txt"), "\n")).as("n_lines"),
          graft.pipeline.TextNorm.kept_lines(col("txt")).as("n_kept"),
          graft.pipeline.TextNorm.clean_lines(col("txt")).as("cleaned"))
        .orderBy("doc_id")
    }),
    "q_knn_brute" -> ((s, dir) =>
      Similarity.bruteTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 3)
        .orderBy("query_id", "rank")),
    "q_knn_lsh" -> ((s, dir) =>
      Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 3)
        .orderBy("query_id", "rank")),
    "q_knn_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 3)
        .orderBy("query_id", "rank")),
    "q_knn_pq" -> ((s, dir) =>
      // product-quantization ADC top-k (inner product): codes broadcast,
      // per-pair score = m table lookups — the compressed ANN serving path
      Similarity.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 3)
        .orderBy("query_id", "rank")),
    // nDCG@3 of the fused RRF list against the exact brute truth:
    // integer-micro discounts, rel = 4 - truth_rank — the position-
    // aware complement of q_knn_recall
    "q_knn_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val fused = Similarity.rrfFuse(Seq(
        Similarity.lshTopK(emb, "vec_id", "embedding", 3),
        Similarity.ivfTopK(emb, "vec_id", "embedding", 3)), k = 3)
      val truth = Similarity.bruteTopK(emb, "vec_id", "embedding", 3)
      Similarity.ndcgK(fused, truth, 3).orderBy("query_id")
    }),
    // reciprocal-rank fusion of the LSH and IVF top-3 lists: integer
    // micro scores (1e6 div (60+rank)) summed per (query, neighbor),
    // bounded top-k — the hybrid-retrieval merge primitive
    "q_knn_rrf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.rrfFuse(Seq(
          Similarity.lshTopK(emb, "vec_id", "embedding", 3),
          Similarity.ivfTopK(emb, "vec_id", "embedding", 3)), k = 3)
        .orderBy("query_id", "rank")
    }),
    "q_knn_ivfpq" -> ((s, dir) =>
      // IVF cell join bounds the candidates, PQ-ADC bounds the per-pair
      // cost — the billion-scale composition: no corpus broadcast, no
      // O(n²) scan
      Similarity.ivfpqTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 3)
        .orderBy("query_id", "rank")),
    // ---- corpus curation (PII / decontamination / mixture sampling) ----
    "q_pii" -> ((s, dir) => {
      // The synthetic corpus carries no PII, so inject deterministic
      // spans query-side (the oracle repeats the same construction):
      // emails on doc_id%3, IPv4 on %5, phones on %7.
      val emailSpan = concat(lit(" reach user"), col("doc_id").cast("string"), lit("@example.com"))
      val ipSpan = concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"))
      val phoneSpan = concat(lit(" call 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val injected = concat(col("text"),
        when(col("doc_id") % 3 === 0, emailSpan).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, ipSpan).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, phoneSpan).otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"), injected.as("txt"))
        .select(col("doc_id"),
          size(graft.pipeline.PII.emails(col("txt"))).as("n_emails"),
          size(graft.pipeline.PII.ipv4s(col("txt"))).as("n_ips"),
          size(graft.pipeline.PII.phones(col("txt"))).as("n_phones"),
          graft.pipeline.PII.piiCount(col("txt")).as("n_pii"),
          graft.pipeline.PII.redact(col("txt")).as("redacted"))
        .orderBy("doc_id")
    }),
    "q_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.Decontaminate.contamination(docs, "doc_id", "text",
          docs.where(col("source") === "src0"), "text", n = 4)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_overlap"),
          col("score"), col("contaminated"))
        .orderBy("doc_id")
    }),
    "q_sample_quota" -> ((s, dir) =>
      graft.pipeline.Mixture.sampleByQuota(
          t(s, dir, "documents"), "doc_id", "source", quota = 10L)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),
    // per-registered-domain document cap (the RefinedWeb curation rule):
    // a messy URL per doc (subdomain varies per doc, site per 20-doc
    // group), pl_url_domain folds subdomains to the registered domain,
    // then the same two-phase hash-order quota as q_sample_quota keyed
    // on it — the extraction stays codegen'd, the cap is one shuffle
    "q_domain_quota" -> ((s, dir) => {
      val sub = element_at(
        array(lit("www"), lit("en"), lit("blog"), lit("m")),
        (col("doc_id") % 4 + 1).cast("int"))
      val url = concat(lit("https://"), sub, lit(".site"),
        expr("doc_id div 20"), lit(".org/p/"), col("doc_id"))
      val d = t(s, dir, "documents")
        .withColumn("domain", graft.pipeline.TextNorm.url_domain(url))
      graft.pipeline.Mixture.sampleByQuota(d, "doc_id", "domain", quota = 10L)
        .select(col("doc_id"), col("domain"))
        .orderBy("doc_id")
    }),
    "q_sample_budget" -> ((s, dir) =>
      graft.pipeline.Mixture.sampleByTokenBudget(
          t(s, dir, "documents"), "doc_id", "source",
          TextFunctions.token_count(col("text")), budgetTokens = 600L)
        .select(col("doc_id"), col("source"),
          TextFunctions.token_count(col("text")).as("n_tokens"))
        .orderBy("doc_id")),
    // ---- training-set assembly (LM scoring / packing / splits) ----
    "q_lm_score" -> ((s, dir) =>
      // bigram LM familiarity: corpus gram table + per-doc rarity rollup
      graft.pipeline.NGramLM.score(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id")),
    // ---- wave 29: interpolated Kneser-Ney bigram perplexity ----
    // the real CCNet/KenLM filter arithmetic (continuation counts, not
    // rarity): per-gram round-once micro-nat log-probs, exact per-doc
    // sums, single-division average
    "q_kn_score" -> ((s, dir) =>
      graft.pipeline.NGramLM.knScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id")),
    // ---- wave 30: one-pass exact covariance matrix over embeddings ----
    // milli-quantized ints -> ONE GramMatrixAggregate (state O(d^2),
    // corpus scanned once, merge order-free), DECIMAL(38,0) products,
    // single double division per cell
    "q_covariance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
          .as("v"))
      graft.pipeline.Stats.covarianceMatrix(e, "v", 64)
        .orderBy("i", "j")
    }),
    // ---- wave 38: per-label embedding centroid drift ----
    // cosine is scale-invariant, so the mean-vector cosines are the
    // EXACT-long sum-vector cosines: decimal dot/norms, two sqrts, one
    // round-once ppm division
    "q_embed_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("label"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
          .as("v"))
      graft.pipeline.EmbeddingDrift.centroidCosine(e, "label", "v")
        .orderBy("label_a", "label_b")
    }),
    // ---- wave 31: unigram-LM (SentencePiece) tokenizer ----
    // hard-EM over integer micro-nat Viterbi costs: 2 EM rounds of
    // segment-with-UnigramViterbi -> recount -> re-smooth; the oracle
    // replays every DP decision with sliding-window recursive CTEs
    "q_unigram_learn" -> ((s, dir) =>
      graft.pipeline.Unigram.learn(t(s, dir, "documents"), "text",
          vocabSize = 64, iters = 2, maxPieceLen = 4)
        .orderBy("piece")),
    // tokenize under the learned model: one kernel pass + per-doc
    // (n_pieces, exact cost sum, space-joined piece stream)
    "q_unigram_apply" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val model = graft.pipeline.Unigram.learn(d, "text",
          vocabSize = 64, iters = 2, maxPieceLen = 4)
        .select("piece", "cost_unats").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq // bounded: vocab
      graft.pipeline.Unigram.segment(d, "doc_id", "text", model).orderBy("id")
    }),
    // ---- wave 32: isotonic (PAV) score calibration ----
    // quantile-bucketed n_chars vs a lexical label, driver PAV with
    // exact rational merges; the oracle replays the minimax identity
    // max_{j<=i} min_{k>=i} avg(j..k) with an O(buckets^2) pairs join
    "q_isotonic" -> ((s, dir) =>
      graft.pipeline.Stats.isotonicCalibrate(
          t(s, dir, "documents").select(col("n_chars"),
            col("text").contains("table").as("label")),
          "n_chars", "label", buckets = 16)
        .orderBy("bucket")),
    "q_pack" -> ((s, dir) =>
      // fixed-capacity sequence packing: shard by mix64(id), contiguous
      // fill into 2048-token bins, per-bin summary
      graft.pipeline.Packing.binStats(t(s, dir, "documents"), "doc_id",
          TextFunctions.token_count(col("text")), capacity = 2048L, numShards = 8)
        .orderBy("shard", "bin")),
    // END-TO-END curation: clean-lines → gopher gate → exact dedup →
    // pack, composed as ONE plan — pins the cross-operator contracts the
    // per-stage queries can't see. The fixture adds a boilerplate-
    // decorated copy of every 3rd doc; the copy's CLEANED text equals
    // the original's, so the dedup stage has real work that exists only
    // BECAUSE cleaning normalized it (order of stages matters — pinned).
    // Per-row codegen all the way to the dedup window: three keyed
    // shuffles total (content-hash dedup window, per-shard pack window,
    // per-bin stats aggregate).
    "q_e2e_curation" -> ((s, dir) => {
      import graft.pipeline.{TextNorm, GopherRules, Packing}
      val docs = t(s, dir, "documents")
      val lined = regexp_replace(col("text"), " line ", "\n")
      val base = docs.select(col("doc_id").as("id"), lined.as("txt"))
      val copies = docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000L).as("id"),
          concat(lined, lit("\nenable javascript to view"),
            lit("\nwe use cookie banners here")).as("txt"))
      val flatDf = base.union(copies)
        .select(col("id"),
          replace(TextNorm.clean_lines(col("txt")), lit("\n"), lit(" ")).as("flat"))
      val gated = flatDf.where(GopherRules.passGate(col("flat")))
        .select(col("id"), col("flat"), md5(col("flat")).as("__h"),
          size(split(col("flat"), " ")).cast("long").as("tok"))
      // exact dedup keep-min-id as ONE hash-partitioned window (groups
      // are duplicate-sized, so no skew): replaces the groupBy + (h,id)
      // join-back, which planned three exchanges where this plans one
      val keepW = Window.partitionBy("__h")
      val survivors = gated
        .withColumn("__keep", min("id").over(keepW))
        .where(col("id") === col("__keep"))
        .select(col("id"), col("tok"))
      Packing.binStats(survivors, "id", col("tok"), capacity = 2048L, numShards = 8)
        .orderBy("shard", "bin")
    }),
    "q_split" -> ((s, dir) =>
      // deterministic permille split assignment, rolled up per (split, lang)
      graft.pipeline.Splits.assign(t(s, dir, "documents"), "doc_id")
        .groupBy("split", "lang").agg(
          count(lit(1)).as("n_docs"),
          sum(TextFunctions.token_count(col("text")).cast("long")).as("n_tokens"))
        .orderBy("split", "lang")),
    "q_multimodal" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        length(Multimodal.to_blob(col("text"))).as("byte_len"),
        size(Multimodal.frame_sample(Multimodal.to_blob(col("text")), 64, 32)).as("n_frames"))
        .orderBy("doc_id")),
    "q_multimodal_decode" -> ((s, dir) =>
      // hist exploded to orderable scalars (doc_id, bin, bin_count) so the
      // compare harness can sort it; frac*byte_len recovers the exact
      // integer count (float32 rel-err ≪ 1/byte_len for these sizes).
      t(s, dir, "documents").select(col("doc_id"),
        Multimodal.decode_image_stub(Multimodal.to_blob(col("text"))).as("img"),
        Multimodal.byte_histogram(Multimodal.to_blob(col("text"))).as("hist"))
        .select(col("doc_id"), col("img.channels").as("channels"),
          col("img.byte_len").as("byte_len"), posexplode(col("hist")))
        .select(col("doc_id"), col("channels"), col("byte_len"),
          col("pos").cast("int").as("bin"),
          round(col("col") * col("byte_len")).cast("long").as("bin_count"))
        .orderBy("doc_id", "bin")),
    // REAL audio plumbing over a deterministic fixture: mm_wav_synth
    // writes a canonical PCM16 RIFF payload per doc (closed-form
    // samples), mm_wav_stats parses it back — chunk walk, fmt block,
    // exact integer sample fold. The oracle recomputes the stats from
    // the sample formula directly, so a header/endianness/offset bug
    // anywhere in the parser breaks the hash.
    "q_audio_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          Multimodal.wav_stats(
            Multimodal.wav_synth(col("doc_id"), lit(256))).as("st"))
        .select(col("doc_id"), col("st.sample_rate").as("sample_rate"),
          col("st.channels").as("channels"), col("st.n_samples").as("n_samples"),
          col("st.min_s").as("min_s"), col("st.max_s").as("max_s"),
          col("st.sum_s").as("sum_s"))
        .orderBy("doc_id")),
    "q_image_decode" -> ((s, dir) => {
      // Real PNG round-trip: pixels are a closed-form function of doc_id,
      // so after mm_encode_png → mm_decode_image/mm_image_pixel the dims
      // and probed pixels are recomputable by the oracle in pure integer
      // SQL. Channel c of pixel (x, y): (x*7 + y*13 + c*31 + doc_id*3) % 256.
      val d = col("doc_id")
      val w = (pmod(d, lit(13)) + 1).cast("int")
      val h = (pmod(d, lit(11)) + 1).cast("int")
      val pix = transform(sequence(lit(0L), (w * h - 1).cast("long")), { i =>
        val x = pmod(i, w.cast("long"))
        val y = (i - x) / w.cast("long")
        val base = x * 7 + y * 13 + d * 3
        (pmod(base, lit(256L)) * 65536L +
          pmod(base + 31, lit(256L)) * 256L +
          pmod(base + 62, lit(256L))).cast("int")
      })
      t(s, dir, "documents")
        .select(d, w.as("w"), h.as("h"),
          Multimodal.encode_png(pix, w, h).as("blob"))
        .select(d,
          Multimodal.decode_image(col("blob")).as("img"),
          Multimodal.image_pixel(col("blob"), lit(0), lit(0)).as("p00"),
          Multimodal.image_pixel(col("blob"), col("w") - 1, col("h") - 1).as("pll"))
        .select(d, col("img.width").as("width"), col("img.height").as("height"),
          col("img.channels").as("channels"), col("p00"), col("pll"))
        .orderBy("doc_id")
    }),
    "q_image_resize" -> ((s, dir) => {
      // Same closed-form source image as q_image_decode, resized to a
      // fixed 3x2 thumbnail; the floor resample grid sx = x*w/3,
      // sy = y*h/2 makes every probed pixel integer-predictable.
      val d = col("doc_id")
      val w = (pmod(d, lit(13)) + 1).cast("int")
      val h = (pmod(d, lit(11)) + 1).cast("int")
      val pix = transform(sequence(lit(0L), (w * h - 1).cast("long")), { i =>
        val x = pmod(i, w.cast("long"))
        val y = (i - x) / w.cast("long")
        val base = x * 7 + y * 13 + d * 3
        (pmod(base, lit(256L)) * 65536L +
          pmod(base + 31, lit(256L)) * 256L +
          pmod(base + 62, lit(256L))).cast("int")
      })
      t(s, dir, "documents")
        .select(d, Multimodal.encode_png(pix, w, h).as("blob"))
        .select(d, Multimodal.image_resize(col("blob"), lit(3), lit(2)).as("r"))
        .select(Seq(d,
          Multimodal.decode_image(col("r")).getField("width").as("rw"),
          Multimodal.decode_image(col("r")).getField("height").as("rh")) ++
          (for (y <- 0 to 1; x <- 0 to 2) yield
            Multimodal.image_pixel(col("r"), lit(x), lit(y)).as(s"p$x$y")): _*)
        .orderBy("doc_id")
    }),
    "q_math" -> ((s, dir) =>
      // sqrt is IEEE-754 correctly rounded in both engines → exact oracle;
      // abs over integer-valued cells is exact. Both tiles explode in ONE
      // generator pass (rf_explode_tiles is variadic) — no per-cell
      // self-join to realign them.
      tiled(s, dir)
        .select(col("l_orderkey"),
          rf_explode_tiles(
            rf_sqrt(col("t_qty")),
            rf_abs(rf_local_subtract(col("t_qty"), 25.0))))
        .select(col("l_orderkey"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("cell_0").as("sqrt_q"), col("cell_1").as("abs_q"))
        .where(col("cell_0").isNotNull)
        .orderBy("l_orderkey", "i")),
    "q_math_rows" -> ((s, dir) =>
      // log/exp families differ from DuckDB's libm at ulp level, so the
      // per-order sums are rounded to 6 dp on BOTH sides — at that scale
      // the engines agree exactly (ScalaTest still pins the raw values
      // against java.lang.Math)
      tiled(s, dir).select(col("l_orderkey"),
        round(rf_tile_sum(rf_log(col("t_qty"))), 6).as("s_log"),
        round(rf_tile_sum(rf_log10(col("t_qty"))), 6).as("s_log10"),
        round(rf_tile_sum(rf_log2(col("t_qty"))), 6).as("s_log2"),
        round(rf_tile_sum(rf_log1p(col("t_qty"))), 6).as("s_log1p"),
        round(rf_tile_sum(rf_exp(rf_local_divide(col("t_qty"), 50.0))), 6).as("s_exp"),
        round(rf_tile_sum(rf_exp2(rf_local_divide(col("t_qty"), 10.0))), 6).as("s_exp2"),
        round(rf_tile_sum(rf_exp10(rf_local_divide(col("t_qty"), 25.0))), 6).as("s_exp10"),
        round(rf_tile_sum(rf_expm1(rf_local_divide(col("t_qty"), 50.0))), 6).as("s_expm1"),
        rf_tile_sum(rf_round(rf_local_divide(col("t_qty"), 7.0))).as("s_round"),
        rf_tile_sum(rf_identity(col("t_qty"))).as("s_id"))
        .orderBy("l_orderkey")),
    "q_agg_quantiles" -> ((s, dir) =>
      // relativeError 1e-4 keeps eps*N < 1 at the oracle SF (exact order
      // statistics) with a 10x smaller GK sample buffer than the default
      tiled(s, dir).groupBy("bucket")
        .agg(rf_agg_approx_quantiles(col("t_qty"), Seq(0.25, 0.5, 0.75), 1e-4).as("qs"))
        .select(col("bucket"),
          col("qs").getItem(0).as("p25"), col("qs").getItem(1).as("p50"),
          col("qs").getItem(2).as("p75"))
        .orderBy("bucket")),
    "q_resample" -> ((s, dir) =>
      tiled(s, dir)
        .select(col("l_orderkey"), rf_resample_nearest(col("t_qty"), lit(0.5)).as("rt"))
        .select(col("l_orderkey"), rf_explode_tiles(col("rt")))
        .select(col("l_orderkey"),
          (col("row_index") * 4 + col("column_index")).cast("int").as("i2"),
          col("rt").as("cell"))
        .where(col("cell").isNotNull)
        .orderBy("l_orderkey", "i2")),
    // downsample-by-average (the overview/pyramid path) on the
    // NoData-rich per-orderkey tiles: each 2x2 source block averages
    // its data cells exactly; empty blocks are NoData and drop out
    "q_resample_avg" -> ((s, dir) =>
      tiled(s, dir)
        .select(col("l_orderkey"), rf_resample(col("t_qty"), lit(0.5), "average").as("rt"))
        .select(col("l_orderkey"), rf_explode_tiles(col("rt")))
        .select(col("l_orderkey"),
          (col("row_index") * 4 + col("column_index")).cast("int").as("i2"),
          col("rt").as("cell"))
        .where(col("cell").isNotNull)
        .orderBy("l_orderkey", "i2")),
    // the full aggregate-resample family over the same 2x2 blocks:
    // min/max/sum plus the deterministic order statistics (LOWER
    // median = ceil(n/2)-th smallest; mode ties break to the smallest
    // value) — all exact integers in double, hash-stable on any engine
    "q_resample_aggs" -> ((s, dir) =>
      tiled(s, dir)
        .select(col("l_orderkey"),
          rf_resample(col("t_qty"), lit(0.5), "min").as("r_min"),
          rf_resample(col("t_qty"), lit(0.5), "max").as("r_max"),
          rf_resample(col("t_qty"), lit(0.5), "sum").as("r_sum"),
          rf_resample(col("t_qty"), lit(0.5), "median").as("r_med"),
          rf_resample(col("t_qty"), lit(0.5), "mode").as("r_mode"))
        .select(col("l_orderkey"), rf_explode_tiles(
          col("r_min"), col("r_max"), col("r_sum"), col("r_med"), col("r_mode")))
        .select(col("l_orderkey"),
          (col("row_index") * 4 + col("column_index")).cast("int").as("i2"),
          col("r_min"), col("r_max"), col("r_sum"), col("r_med"), col("r_mode"))
        .where(col("r_min").isNotNull)
        .orderBy("l_orderkey", "i2")),
    // Keys cubic convolution (a = -0.5) on DENSE tiles at factor 0.5:
    // every tap weight is an exact dyadic (9/16, -1/16), so the 16-term
    // sum is exact in double in ANY accumulation order and the oracle
    // replays it bit-for-bit with literal weights and clamped taps
    "q_resample_cubic" -> ((s, dir) =>
      denseTiled(s, dir)
        .select(col("bucket"), col("tid"),
          rf_resample(col("t"), lit(0.5), "cubic_convolution").as("rt"))
        .select(col("bucket"), col("tid"), rf_explode_tiles(col("rt")))
        .select(col("bucket"), col("tid"),
          (col("row_index") * 4 + col("column_index")).cast("int").as("i2"),
          col("rt").as("cell"))
        .orderBy("bucket", "tid", "i2")),
    // cubic B-spline: at half-phase the exact cell values live on the
    // k/2304 grid, whose dyadic members hit DECIMAL rounding midpoints
    // constantly (round-half anything diverges across engines there).
    // Both sides therefore quantize to the DYADIC 2^-20 grid:
    // floor(x*2^20 + 0.5)/2^20 — k/2304 values are mathematically
    // never on a half-boundary of that grid (frac is a ninth or
    // exactly representable), and the /2^20 is exact in double
    "q_resample_spline" -> ((s, dir) =>
      denseTiled(s, dir)
        .select(col("bucket"), col("tid"),
          rf_resample(col("t"), lit(0.5), "cubic_spline").as("rt"))
        .select(col("bucket"), col("tid"), rf_explode_tiles(col("rt")))
        .select(col("bucket"), col("tid"),
          (col("row_index") * 4 + col("column_index")).cast("int").as("i2"),
          (floor(col("rt") * 1048576.0 + 0.5) / 1048576.0).as("cell"))
        .orderBy("bucket", "tid", "i2")),
    // Lanczos-3 (6x6 windowed sinc): sin() differs by ulps across
    // engines; same dyadic 2^-20 quantization as the spline
    "q_resample_lanczos" -> ((s, dir) =>
      denseTiled(s, dir)
        .select(col("bucket"), col("tid"),
          rf_resample(col("t"), lit(0.5), "lanczos").as("rt"))
        .select(col("bucket"), col("tid"), rf_explode_tiles(col("rt")))
        .select(col("bucket"), col("tid"),
          (col("row_index") * 4 + col("column_index")).cast("int").as("i2"),
          (floor(col("rt") * 1048576.0 + 0.5) / 1048576.0).as("cell"))
        .orderBy("bucket", "tid", "i2")),
    // ---- focal / terrain ----
    "q_focal" -> ((s, dir) =>
      tiled(s, dir).select(col("l_orderkey"),
        rf_mask(rf_focal_min(col("t_qty"), "square-1"), col("t_qty")).as("fmin"),
        rf_mask(rf_focal_max(col("t_qty"), "square-1"), col("t_qty")).as("fmax"),
        rf_mask(rf_focal_mean(col("t_qty"), "square-1"), col("t_qty")).as("fmean"),
        rf_mask(rf_convolve(col("t_qty"),
          array((0 until 9).map(_ => lit(1.0)): _*)), col("t_qty")).as("fsum"))
        .select(col("l_orderkey"),
          rf_explode_tiles(col("fmin"), col("fmax"), col("fmean"), col("fsum")))
        .select(col("l_orderkey"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i"),
          col("fmin"), col("fmax"), col("fmean"), col("fsum"))
        .where(col("fmin").isNotNull)
        .orderBy("l_orderkey", "i")),
    "q_terrain" -> ((s, dir) =>
      tiled(s, dir)
        .select(col("l_orderkey"), col("t_qty"),
          rf_proj_raster(col("t_qty"),
            struct(lit(0.0).as("xmin"), lit(0.0).as("ymin"),
              lit(8.0).as("xmax"), lit(4.0).as("ymax")),
            lit("epsg:3857")).as("pr"))
        .select(col("l_orderkey"),
          // sums rounded to 6 dp on both sides: atan/atan2/sin/cos and
          // sum-order differ from DuckDB at ulp level (oracle mirrors the
          // per-cell Horn/focal formulas exactly otherwise)
          round(rf_tile_sum(rf_slope(col("pr"), 1.0)), 6).as("slope_sum"),
          round(rf_tile_sum(rf_aspect(col("pr"))), 6).as("aspect_sum"),
          round(rf_tile_sum(rf_hillshade(col("pr"), 315.0, 45.0, 1.0)), 6).as("hillshade_sum"),
          round(rf_tile_sum(rf_focal_median(col("t_qty"), "square-1")), 6).as("median_sum"),
          round(rf_tile_sum(rf_focal_mode(col("t_qty"), "circle-1")), 6).as("mode_sum"),
          round(rf_tile_sum(rf_focal_stddev(col("t_qty"), "square-1")), 6).as("stddev_sum"),
          round(rf_tile_sum(rf_focal_moransi(col("t_qty"), "square-1")), 6).as("moransi_sum"))
        .orderBy("l_orderkey")),
    // ---- spatial ----
    "q_st_predicates" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").as("q"), col("l_linenumber").cast("double").as("lnv"))
        .distinct()
      val a = st_geometry(struct(col("q").as("xmin"), col("lnv").as("ymin"),
        (col("q") + lit(3.0)).as("xmax"), (col("lnv") + lit(2.0)).as("ymax")))
      val b = st_geomFromWKT(lit("POLYGON ((25 3, 35 3, 35 5, 25 5, 25 3))"))
      p.select(col("q"), col("lnv"),
        st_intersects(a, b).as("r_intersects"),
        st_contains(a, b).as("r_contains"),
        st_within(a, b).as("r_within"),
        st_disjoint(a, b).as("r_disjoint"))
        .orderBy("q", "lnv")
    }),
    // distance / hull / simplify over data-derived geometries; every
    // output is exact integer arithmetic + one correctly-rounded sqrt,
    // so DuckDB replays it bit-for-bit
    "q_st_distance" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct().where(col("qi") >= 2)
      val pt = st_makePoint(col("qi").cast("double"), col("lni").cast("double"))
      val box = st_geomFromWKT(lit("POLYGON ((25 3, 35 3, 35 5, 25 5, 25 3))"))
      val tri = st_geomFromWKT(concat(lit("MULTIPOINT ((0 0), ("),
        col("qi"), lit(" 0), (0 "), col("lni"), lit("))")))
      val poly = st_geomFromWKT(concat(
        lit("POLYGON ((0 0, 1 0, "), col("qi"), lit(" 0, "),
        col("qi"), lit(" "), col("lni"), lit(", 0 "), col("lni"), lit(", 0 0))")))
      p.select(col("qi"), col("lni"),
        st_distance(pt, box).as("d_box"),
        st_withinDistance(pt, box, lit(2.0)).as("near_box"),
        st_area(st_convexHull(tri)).as("hull_area"),
        st_asText(st_simplify(poly, lit(0.0))).as("simplified"))
        .orderBy("qi", "lni")
    }),
    // overlay set ops on data-derived axis-aligned boxes: every area is
    // exact integer shoelace arithmetic, empty/npoints from the overlap
    // classification — all replayable in SQL
    // the UTM Transverse-Mercator series replayed term-by-term in
    // DuckDB (zone 31N, lon within ±3° of the central meridian); mm
    // rounding absorbs the few-ulp transcendental drift, and the
    // (q, lnv) domain is BOUNDED (350 values at every SF) so a verified
    // match is the complete value set
    // rf_mk_crs over the bounded linenumber domain: normalization
    // (trim + lowercase) of EPSG/UTM identifiers is pure string work
    "q_mk_crs" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_linenumber").cast("int").as("ln")).distinct()
        .select(col("ln"),
          rf_mk_crs(concat(lit(" EPSG:"), (lit(32600) + col("ln")).cast("string"))).as("utm"),
          rf_mk_crs(lit("EPSG:4326")).as("wgs"),
          rf_mk_crs(lit("epsg:3857")).as("merc"))
        .orderBy("ln")),
    "q_st_utm" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("double").as("q"),
          col("l_linenumber").cast("double").as("lnv"))
        .distinct()
      val pt = st_makePoint((col("q") - lit(25.0)) / 10.0 + lit(3.0),
        col("lnv") * 8 - lit(30.0))
      val utm = st_reproject(pt, lit("epsg:4326"), lit("epsg:32631"))
      p.select(col("q"), col("lnv"),
        round(st_x(utm), 3).as("ux"), round(st_y(utm), 3).as("uy"))
        .orderBy("q", "lnv")
    }),
    // web-mercator forward + round trip through the hand-rolled CRS
    // core, pinned against DuckDB's independent trig at 6 dp (meters —
    // sub-µm grain) / 9 dp (degrees); the rounding absorbs the ≤2-ulp
    // libm differences exactly like q_math_rows
    "q_st_reproject" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("double").as("q"),
          col("l_linenumber").cast("double").as("lnv"))
        .distinct()
      val pt = st_makePoint(col("q") - lit(25.0), col("lnv") * 8 - lit(30.0))
      val merc = st_reproject(pt, lit("epsg:4326"), lit("epsg:3857"))
      val back = st_reproject(merc, lit("epsg:3857"), lit("epsg:4326"))
      p.select(col("q"), col("lnv"),
        round(st_x(merc), 6).as("mx"), round(st_y(merc), 6).as("my"),
        round(st_x(back), 9).as("blon"), round(st_y(back), 9).as("blat"))
        .orderBy("q", "lnv")
    }),
    "q_st_setops" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct()
      val a = st_geometry(struct(col("qi").cast("double").as("xmin"),
        col("lni").cast("double").as("ymin"),
        (col("qi") + lit(3.0)).as("xmax"), (col("lni") + lit(2.0)).as("ymax")))
      val b = st_geomFromWKT(lit("POLYGON ((25 3, 35 3, 35 5, 25 5, 25 3))"))
      val zig = st_geomFromWKT(concat(lit("LINESTRING ("),
        concat_ws(", ", transform(sequence(lit(0), col("lni")),
          i => concat(i.cast("string"), lit(" "), (i * i).cast("string")))),
        lit(")")))
      p.select(col("qi"), col("lni"),
        st_area(st_intersection(a, b)).as("inter_area"),
        st_area(st_union(a, b)).as("union_area"),
        st_area(st_difference(a, b)).as("diff_area"),
        st_isEmpty(st_intersection(a, b)).as("inter_empty"),
        st_nPoints(zig).as("zig_points"),
        st_isValid(a).as("a_valid"))
        .orderBy("qi", "lni")
    }),
    // st_* long-tail breadth: type name, collection size, vertex access,
    // exterior ring, rigid translate, closest point — every output
    // analytically derivable (the box is axis-aligned with integer
    // corners, so the closest point is the clamp of the query point and
    // all arithmetic is exact IEEE on integers)
    "q_st_breadth2" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct()
      val a = st_geometry(struct(col("qi").cast("double").as("xmin"),
        col("lni").cast("double").as("ymin"),
        (col("qi") + lit(3.0)).as("xmax"), (col("lni") + lit(2.0)).as("ymax")))
      val zig = st_geomFromWKT(concat(lit("LINESTRING ("),
        concat_ws(", ", transform(sequence(lit(0), col("lni")),
          i => concat(i.cast("string"), lit(" "), (i * i).cast("string")))),
        lit(")")))
      val mpoint = st_geomFromWKT(concat(lit("MULTIPOINT ((0 0), ("),
        col("qi"), lit(" 0), (0 "), col("lni"), lit("))")))
      val trans = st_translate(
        st_makePoint(col("qi").cast("double"), col("lni").cast("double")),
        lit(2.5), lit(-1.5))
      val closest = st_closestPoint(a, st_makePoint(lit(40.0), lit(0.0)))
      p.select(col("qi"), col("lni"),
        st_geometryType(a).as("gtype"),
        st_numGeometries(mpoint).as("ngeoms"),
        st_x(st_pointN(zig, lit(-1))).as("pn_x"),
        st_y(st_pointN(zig, lit(-1))).as("pn_y"),
        st_nPoints(st_exteriorRing(a)).as("ring_pts"),
        st_length(st_exteriorRing(a)).as("ring_len"),
        st_x(trans).as("tx"), st_y(trans).as("ty"),
        st_x(closest).as("cx"), st_y(closest).as("cy"))
        .orderBy("qi", "lni")
    }),
    // the spark-jts long tail, round 2: boundary/dimension/coorddim,
    // closure/ring/simplicity/collection predicates, geometryn,
    // interiorringn (donut hole with dyadic 1+qi/16 × 1+lni/8 corners so
    // every ring length is exact IEEE), envelope, makeline/makepolygon/
    // makebox2d, the st_castTo* family, bytearray, and GeoJSON output
    // (shortest-roundtrip doubles — DuckDB's VARCHAR cast is the same
    // shortest-decimal form for these integral values)
    "q_st_breadth3" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct()
      val box = st_geometry(struct(col("qi").cast("double").as("xmin"),
        col("lni").cast("double").as("ymin"),
        (col("qi") + lit(3.0)).as("xmax"), (col("lni") + lit(2.0)).as("ymax")))
      val zig = st_geomFromWKT(concat(lit("LINESTRING ("),
        concat_ws(", ", transform(sequence(lit(0), col("lni")),
          i => concat(i.cast("string"), lit(" "), (i * i).cast("string")))),
        lit(")")))
      val mpoint = st_geomFromWKT(concat(lit("MULTIPOINT ((0 0), ("),
        col("qi"), lit(" 0), (0 "), col("lni"), lit("))")))
      val ring = st_exteriorRing(box)
      val donut = st_geomFromWKT(concat(
        lit("POLYGON ((0 0, 60 0, 60 20, 0 20, 0 0), (1 1, "),
        (lit(1.0) + col("qi") / 16.0).cast("string"), lit(" 1, "),
        (lit(1.0) + col("qi") / 16.0).cast("string"), lit(" "),
        (lit(1.0) + col("lni") / 8.0).cast("string"), lit(", 1 "),
        (lit(1.0) + col("lni") / 8.0).cast("string"), lit(", 1 1))")))
      val box2 = st_makeBox2D(st_point(lit(0.0), lit(0.0)),
        st_point(col("qi").cast("double"), col("lni").cast("double")))
      val line3 = st_makeLine(array(
        st_point(lit(0.0), lit(0.0)),
        st_point(col("qi").cast("double"), lit(0.0)),
        st_point(col("qi").cast("double"), col("lni").cast("double"))))
      p.select(col("qi"), col("lni"),
        st_length(st_boundary(box2)).as("bnd_len"),
        st_area(box2).as("box2_area"),
        (st_dimension(box) * 10 + st_dimension(zig)).as("dims"),
        st_coordDim(box).as("cdim"),
        st_isClosed(zig).as("closed_zig"),
        st_isClosed(ring).as("closed_ring"),
        st_isCollection(mpoint).as("iscoll"),
        st_isRing(ring).as("isring_ring"),
        st_isRing(zig).as("isring_zig"),
        st_isSimple(zig).as("simple_zig"),
        st_numPoints(zig).as("npts"),
        st_x(st_geometryN(mpoint, lit(2))).as("g2x"),
        st_length(st_interiorRingN(donut, lit(1))).as("hole_len"),
        st_area(st_envelope(zig)).as("env_area"),
        st_area(st_makePolygon(ring)).as("mkpoly_area"),
        st_length(line3).as("mkline_len"),
        st_castToPoint(box).isNull.as("cast_pt_null"),
        st_area(st_castToPolygon(box)).as("cast_poly_area"),
        st_geometryType(st_castToGeometry(zig)).as("cast_geom_type"),
        st_castToLineString(box).isNull.as("cast_ls_null"),
        length(st_byteArray(concat(lit("doc"), col("qi")))).as("blen"),
        st_asGeoJSON(st_point(col("qi").cast("double"),
          col("lni").cast("double"))).as("gj"))
        .orderBy("qi", "lni")
    }),
    // spherical metrics (haversine on the IUGG mean radius — replayed
    // term-by-term in DuckDB with the identical op order and round(6),
    // the CRS rounding recipe), DMS text over dyadic coordinates (all
    // minute/second decimals are exact), and DE-9IM relate with the
    // textbook matrices for point-in-polygon and equal-polygons
    "q_st_sphere" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct()
      val box = st_geometry(struct(col("qi").cast("double").as("xmin"),
        col("lni").cast("double").as("ymin"),
        (col("qi") + lit(3.0)).as("xmax"), (col("lni") + lit(2.0)).as("ymax")))
      val ax = col("qi") / 8.0 - 3.0
      val ay = col("lni") / 4.0
      val pa = st_point(ax, ay)
      val pb = st_point(ax + 0.5, ay + 0.25)
      val pc = st_point(ax + 1.0, ay - 0.5)
      val lltPoint = st_point(lit(0.0) - (lit(3.0) + col("qi") / 8.0),
        col("lni") / 4.0 - 1.0)
      p.select(col("qi"), col("lni"),
        round(st_distanceSphere(pa, pb), 6).as("dsphere"),
        round(st_lengthSphere(st_makeLine(array(pa, pb, pc))), 6).as("lsphere"),
        st_asLatLonText(lltPoint).as("lltext"),
        st_relate(st_centroid(box), box).as("rel_in"),
        st_relate(box, box).as("rel_eq"),
        st_relateBool(st_centroid(box), box, lit("T*F**F***")).as("relb_in"),
        st_relateBool(st_point(lit(-50.0), lit(-50.0)), box,
          lit("T********")).as("relb_far"))
        .orderBy("qi", "lni")
    }),
    // geohash trio + the batch-2 spark-jts names: the encode walk is 35
    // dyadic interval bisections (midpoints always (mn+mx)/2 from ±180/±90
    // starts), so DuckDB replays it bit-exact with a recursive CTE; the
    // decoded cell bounds and center are that walk's final state. The
    // antimeridian split of an axis-aligned integer box is exact-area
    // arithmetic; bufferpoint's vertex count and containment are analytic
    "q_st_geohash" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct()
      val lon = col("qi") - lit(25.5)
      val lat = col("lni") * 3.0 - 10.5
      val pt = st_point(lon, lat)
      val gh = st_geoHash(pt, lit(7))
      val bbox = st_geomFromGeoHash(gh)
      val ctr = st_pointFromGeoHash(gh)
      val ext = st_extent(bbox)
      val bp = st_bufferPoint(pt, lit(50000.0))
      val amCross = st_geomFromWKT(concat(lit("POLYGON ((170 0, 190 0, 190 "),
        col("lni"), lit(", 170 "), col("lni"), lit(", 170 0))")))
      p.select(col("qi"), col("lni"),
        gh.as("gh"),
        ext.getField("xmin").as("ghxmin"), ext.getField("ymin").as("ghymin"),
        ext.getField("xmax").as("ghxmax"), ext.getField("ymax").as("ghymax"),
        st_x(ctr).as("ghcx"), st_y(ctr).as("ghcy"),
        st_area(st_makeBBOX(lit(0.0), lit(0.0),
          col("qi").cast("double"), col("lni").cast("double"))).as("bbox_area"),
        st_x(st_pointFromText(concat(lit("POINT ("), col("qi"), lit(" "),
          col("lni"), lit(")")))).as("pft_x"),
        st_lineFromText(concat(lit("POINT ("), col("qi"), lit(" 0)")))
          .isNull.as("lft_null"),
        st_nPoints(bp).as("bp_np"),
        st_contains(bp, pt).as("bp_in"),
        st_contains(bp, st_point(lon + 2.0, lat)).as("bp_far"),
        st_numGeometries(st_antimeridianSafeGeom(amCross)).as("am_n"),
        st_area(st_antimeridianSafeGeom(amCross)).as("am_area"),
        st_numGeometries(st_antimeridianSafeGeom(bbox)).as("am_n1"))
        .orderBy("qi", "lni")
    }),
    // batch-3 spark-jts names, analytic oracle: topological equality of a
    // bbox against its re-ordered polygon text, MULTI* typed parsers
    // through planar length/area, and the measure-point's XY face
    "q_st_breadth4" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct()
      val qd = col("qi").cast("double")
      val ld = col("lni").cast("double")
      val poly = st_polygonFromText(concat(lit("POLYGON (("), col("qi"), lit(" "),
        col("lni"), lit(", 0 "), col("lni"), lit(", 0 0, "), col("qi"), lit(" 0, "),
        col("qi"), lit(" "), col("lni"), lit("))")))
      val mline = st_mLineFromText(concat(lit("MULTILINESTRING ((0 0, "), col("qi"),
        lit(" 0), (0 0, 0 "), col("lni"), lit("))")))
      val mpoly = st_mPolyFromText(concat(lit("MULTIPOLYGON (((0 0, "), col("qi"),
        lit(" 0, "), col("qi"), lit(" "), col("lni"), lit(", 0 "), col("lni"),
        lit(", 0 0)))")))
      val mpoint = st_mPointFromText(concat(lit("MULTIPOINT (("), col("qi"), lit(" "),
        col("lni"), lit("), (0 0))")))
      p.select(col("qi"), col("lni"),
        st_equals(st_makeBBOX(lit(0.0), lit(0.0), qd, ld), poly).as("eq_box"),
        st_equals(st_point(qd, ld), st_point(qd, ld + 1.0)).as("eq_ne"),
        st_numGeometries(mpoint).as("mp_n"),
        st_mPointFromText(lit("POINT (1 2)")).isNull.as("mp_null"),
        st_length(mline).as("ml_len"),
        st_area(mpoly).as("mpoly_area"),
        st_x(st_makePointM(qd, ld, qd + ld)).as("pm_x"),
        st_y(st_makePointM(qd, ld, qd + ld)).as("pm_y"))
        .orderBy("qi", "lni")
    }),
    // WGS84 Vincenty, replayed in DuckDB: the fixed 20-iteration λ walk
    // is a recursive CTE, the final σ terms are recomputed once from the
    // converged λ exactly as Spheroid.vincentyM does, and only the final
    // meters are rounded (transcendental-parity recipe)
    "q_st_spheroid" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct()
      val lon1 = col("qi") * 0.7 - 20.0
      val lat1 = col("lni") * 2.5 - 8.0
      val lon2 = col("qi") * 0.3 + 5.0
      val lat2 = col("lni") * 1.5 + 10.0
      val p1 = st_point(lon1, lat1)
      val p2 = st_point(lon2, lat2)
      val line = st_makeLine(array(p1, st_point(lit(0.0), lit(0.0)), p2))
      p.select(col("qi"), col("lni"),
        round(st_distanceSpheroid(p1, p2), 4).as("dspheroid"),
        round(st_lengthSpheroid(line), 4).as("lspheroid"))
        .orderBy("qi", "lni")
    }),
    "q_st_accessors" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").as("q"), col("l_linenumber").cast("double").as("lnv"))
        .distinct()
      val a = st_geometry(struct(col("q").as("xmin"), col("lnv").as("ymin"),
        (col("q") + lit(3.0)).as("xmax"), (col("lnv") + lit(2.0)).as("ymax")))
      p.select(col("q"), col("lnv"),
        st_area(a).as("area"),
        st_x(st_centroid(a)).as("cx"), st_y(st_centroid(a)).as("cy"),
        st_x(st_makePoint(col("q"), col("lnv"))).as("px"),
        st_y(st_makePoint(col("q"), col("lnv"))).as("py"))
        .orderBy("q", "lnv")
    }),
    "q_rasterize" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").as("q"), col("l_linenumber").cast("double").as("lnv"))
        .distinct()
      val tcol = rf_rasterize(
        st_geometry(struct(col("q").as("xmin"), col("lnv").as("ymin"),
          (col("q") + lit(3.0)).as("xmax"), (col("lnv") + lit(2.0)).as("ymax"))),
        st_geometry(struct(lit(0.0).as("xmin"), lit(0.0).as("ymin"),
          lit(64.0).as("xmax"), lit(16.0).as("ymax"))),
        col("q"), 64, 16)
      p.select(col("q"), col("lnv"),
        rf_data_cells(tcol).as("dc"), rf_tile_sum(tcol).as("s"))
        .orderBy("q", "lnv")
    }),
    // zonal statistics: value raster aggregated per zone-raster class —
    // the classic raster workload as explode + hash aggregate (zone sums
    // are integer-valued doubles, so the distributed sum is exact)
    "q_zonal" -> ((s, dir) =>
      tiled(s, dir)
        .select(col("l_orderkey"), rf_explode_tiles(col("t_qty"), col("t_ln")))
        .where(col("t_qty").isNotNull && col("t_ln").isNotNull)
        .groupBy(col("t_ln").cast("int").as("zone"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("t_qty")).as("zone_sum"),
          min(col("t_qty")).as("zone_min"),
          max(col("t_qty")).as("zone_max"),
          (sum(col("t_qty")) / count(lit(1))).as("zone_mean"))
        .orderBy("zone")),
    "q_sfc_index" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select((col("l_quantity") / 2.0).as("x"), col("l_linenumber").cast("double").as("y"))
        .distinct()
      p.select(col("x"), col("y"),
        rf_z2_index(st_makePoint(col("x"), col("y")), lit("epsg:4326")).as("z2"),
        rf_xz2_index(st_buffer(st_makePoint(col("x"), col("y")), lit(0.5)), lit("epsg:4326")).as("xz2"))
        .orderBy("x", "y")
    }),
    // ---- wave 33: Hilbert SFC index (locality-first z2 companion) ----
    // canonical reflect+swap bit walk, all-integer; the oracle replays
    // it with one recursive CTE over the 16 levels
    "q_hilbert_index" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select((col("l_quantity") / 2.0).as("x"), col("l_linenumber").cast("double").as("y"))
        .distinct()
      p.select(col("x"), col("y"),
        rf_hilbert_index(st_makePoint(col("x"), col("y")), lit("epsg:4326")).as("h"))
        .orderBy("x", "y")
    }),
    "q_raster_join" -> ((s, dir) => {
      val base = tiled(s, dir).where(col("l_orderkey") % 200 === 0)
        .select(col("l_orderkey"), col("t_qty").as("tile"),
          struct((col("l_orderkey") % 1000 * 2).cast("double").as("xmin"),
            expr("(l_orderkey div 1000) * 2").cast("double").as("ymin"),
            (col("l_orderkey") % 1000 * 2 + 1).cast("double").as("xmax"),
            expr("(l_orderkey div 1000) * 2 + 1").cast("double").as("ymax")).as("extent"),
          lit("epsg:4326").as("crs"))
      RasterJoin(base,
        base.select(col("tile").as("r_tile"), col("extent").as("r_extent"), col("crs").as("r_crs")),
        col("extent"), col("crs"), col("tile"),
        col("r_extent"), col("r_crs"), col("r_tile"))
        .select(col("l_orderkey"), rf_tile_sum(col("right_tile")).as("s"))
        .orderBy("l_orderkey")
    }),
    "q_raster_join_bucketed" -> ((s, dir) => {
      val base = tiled(s, dir).where(col("l_orderkey") % 200 === 0)
        .select(col("l_orderkey"), col("t_qty").as("tile"),
          struct((col("l_orderkey") % 1000 * 2).cast("double").as("xmin"),
            expr("(l_orderkey div 1000) * 2").cast("double").as("ymin"),
            (col("l_orderkey") % 1000 * 2 + 1).cast("double").as("xmax"),
            expr("(l_orderkey div 1000) * 2 + 1").cast("double").as("ymax")).as("extent"),
          lit("epsg:4326").as("crs"))
      RasterJoin.bucketed(base,
        base.select(col("tile").as("r_tile"), col("extent").as("r_extent"), col("crs").as("r_crs")),
        col("extent"), col("crs"), col("tile"),
        col("r_extent"), col("r_crs"), col("r_tile"), cellSize = 16.0,
        leftId = Some(col("l_orderkey")))
        .select(col("l_orderkey"), rf_tile_sum(col("right_tile")).as("s"))
        .orderBy("l_orderkey")
    }),
    // resampleMethod threaded through the raster join (ref
    // RasterJoin.scala:68): the RHS carries half-resolution average
    // overviews of the same footprints, so the 8x4 merge genuinely
    // bilinear-interpolates the 4x2 source (fx/fy are exact quarters,
    // never near a floor boundary); per-cell compare on the dyadic
    // 2^-20 grid absorbs sum-order ulps in the renormalized division
    "q_raster_join_bilinear" -> ((s, dir) => {
      val base = tiled(s, dir).where(col("l_orderkey") % 200 === 0)
        .select(col("l_orderkey"), col("t_qty").as("tile"),
          struct((col("l_orderkey") % 1000 * 2).cast("double").as("xmin"),
            expr("(l_orderkey div 1000) * 2").cast("double").as("ymin"),
            (col("l_orderkey") % 1000 * 2 + 1).cast("double").as("xmax"),
            expr("(l_orderkey div 1000) * 2 + 1").cast("double").as("ymax")).as("extent"),
          lit("epsg:4326").as("crs"))
      val right = base.select(
        rf_resample(col("tile"), lit(0.5), "average").as("r_tile"),
        col("extent").as("r_extent"), col("crs").as("r_crs"))
      // the BUCKETED (equi-join) twin carries the method: proves the
      // resample kernel threads through the scale path, and keeps this
      // query out of the theta-join allowlist
      RasterJoin.bucketed(base, right,
        col("extent"), col("crs"), col("tile"),
        col("r_extent"), col("r_crs"), col("r_tile"), cellSize = 16.0,
        leftId = Some(col("l_orderkey")), method = "bilinear")
        .select(col("l_orderkey"), rf_explode_tiles(col("right_tile")))
        .select(col("l_orderkey"),
          (col("row_index") * 8 + col("column_index")).cast("int").as("i2"),
          (floor(col("right_tile") * 1048576.0 + 0.5) / 1048576.0).as("cell"))
        .where(col("cell").isNotNull)
        .orderBy("l_orderkey", "i2")
    }),
    // ---- events (temporal keys) ----
    "q_sessions" -> ((s, dir) => {
      // session_window sessionization of the event stream shape, batch
      // face (identical call works under readStream). Exact aggregates
      // only; sessionStats resolves the time axis itself (tus = epoch
      // micros, the numeric branch of its schema-adaptive event time).
      graft.streaming.StreamingPipeline.sessionStats(
          eventsMicros(s, dir), "user_id", "tus", "value", gap = "1 hour")
        .orderBy("user_id", "session_start")
    }),
    // As-of join: each click annotated with the latest at-or-before view
    // by the same user. Single-shuffle union+window algorithm
    // (Temporal.asofJoin) — no theta join, no BNLJ.
    // first/last-touch attribution: each purchase attributes to the
    // first and last click/view of the same user in the trailing 7
    // days — two range-frame windows on ONE user shuffle, never the
    // conversions×touches self-join that explodes on hot users
    "q_attribution" -> ((s, dir) =>
      graft.pipeline.Temporal.attribution(eventsMicros(s, dir),
          key = "user_id", idCol = "event_id", tsCol = "tus",
          typeCol = "event_type", conversionType = "purchase",
          touchTypes = Seq("click", "view"),
          lookbackMicros = 7L * 24 * 3600 * 1000000L)
        .orderBy("conversion_id")),
    "q_asof" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      // right side pre-aggregated to unique (user_id, tus) so the
      // tie-break never engages and any engine agrees row-for-row
      val views = ev.where(col("event_type") === "view")
        .groupBy("user_id", "tus").agg(max("value").as("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "tus")
      graft.pipeline.Temporal.asofJoin(clicks, views, "user_id", "tus", "tus",
          rightPrefix = "view_")
        .orderBy("event_id")
    }),
    // nearest direction: smaller absolute gap wins, ties backward —
    // still one shuffle (second window is a sort of the same partition)
    "q_asof_nearest" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      val views = ev.where(col("event_type") === "view")
        .groupBy("user_id", "tus").agg(max("value").as("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "tus")
      graft.pipeline.Temporal.asofJoin(clicks, views, "user_id", "tus", "tus",
          rightPrefix = "view_", direction = "nearest")
        .orderBy("event_id")
    }),
    // forward direction: each click annotated with the EARLIEST
    // at-or-after view (the same single shuffle, reversed time order)
    "q_asof_forward" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      val views = ev.where(col("event_type") === "view")
        .groupBy("user_id", "tus").agg(max("value").as("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "tus")
      graft.pipeline.Temporal.asofJoin(clicks, views, "user_id", "tus", "tus",
          rightPrefix = "view_", direction = "forward")
        .orderBy("event_id")
    }),
    // tolerance path: matches farther than 10 min in the past null out
    // (the micros-domain tolerance contract for typed inputs)
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      val views = ev.where(col("event_type") === "view")
        .groupBy("user_id", "tus").agg(max("value").as("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "tus")
      graft.pipeline.Temporal.asofJoin(clicks, views, "user_id", "tus", "tus",
          rightPrefix = "view_", tolerance = Some(lit(600000000L)))
        .orderBy("event_id")
    }),
    // hot-key-safe twin: per-key window split across one-hour time
    // buckets, same oracle row-for-row (width never changes results)
    "q_asof_bucketed" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
      val views = ev.where(col("event_type") === "view")
        .groupBy("user_id", "tus").agg(max("value").as("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "tus")
      graft.pipeline.Temporal.asofJoinBucketed(clicks, views, "user_id", "tus", "tus",
          bucketWidth = 3600L * 1000000L, rightPrefix = "view_")
        .orderBy("event_id")
    }),
    // Interval join: errors within 10 minutes after each click, counted
    // per click (left outer via re-join so zero-error clicks keep a row).
    // Bucketed equi-join on (user_id, time bucket) — the 100 TB shape.
    "q_interval_join" -> ((s, dir) => {
      val tenMinUs = 600000000L
      val ev = eventsMicros(s, dir)
      val errors = ev.where(col("event_type") === "error")
        .select("user_id", "tus", "value")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tus").as("lo"),
          (col("tus") + tenMinUs).as("hi"))
      val pairs = graft.pipeline.Temporal.intervalJoin(
        errors, clicks, "user_id", "tus", "lo", "hi", bucketWidth = tenMinUs)
      val perClick = pairs.groupBy(col("span_event_id").as("event_id"))
        .agg(count(lit(1)).as("n_errors"),
          min("value").as("min_error"), max("value").as("max_error"))
      clicks.join(perClick, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"),
          col("min_error"), col("max_error"))
        .orderBy("event_id")
    }),
    "q_events_daily" -> ((s, dir) => {
      eventsMicros(s, dir)
        .withColumn("ts", timestamp_micros(col("tus")))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min("value").as("min_value"), max("value").as("max_value"),
          countDistinct("user_id").as("n_users"))
        .orderBy("day", "event_type")
    }),
    // Time-bucket downsample (OHLC bars): per (user, hour) open/high/
    // low/close, one shuffle with map-side combine. Rows pre-aggregated
    // to unique (user, ts) so the open/close tie-break never engages;
    // values discretized to milli-units (long) so every aggregate is
    // exact integer math — hash-identical on any engine and any
    // partial-agg order.
    "q_ohlc" -> ((s, dir) => {
      val uniq = eventsMicros(s, dir)
        .groupBy("user_id", "tus").agg(max("value").as("value"))
        .withColumn("vl", expr("cast(round(value * 1000) as bigint)"))
      graft.pipeline.Temporal.resample(uniq, "user_id", "tus", "vl",
          bucketWidth = 3600L * 1000000L)
        .orderBy("user_id", "bucket_start")
    }),
    // Trailing 30-minute rolling stats per event, via the hot-key-safe
    // bucketed range window (bucket = 1 h >= window); TemporalSpec pins
    // it row-identical to the plain per-key window for random widths.
    // Long milli-units again keep the window sums exact.
    "q_rolling" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
        .withColumn("vl", expr("cast(round(value * 1000) as bigint)"))
      graft.pipeline.Temporal.rollingBucketed(ev, "user_id", "tus", "vl",
          window = 1800L * 1000000L, bucketWidth = 3600L * 1000000L)
        .select("event_id", "user_id", "tus",
          "roll_n", "roll_sum", "roll_min", "roll_max")
        .orderBy("event_id")
    }),
    // Funnel: signup → view → click → purchase, each later step within
    // 7 days of the first signup. Single shuffle: per-step first-reach
    // times are prefix minima over one (ts, step-rank) window, then a
    // plain aggregation — no per-step self-joins.
    "q_funnel" -> ((s, dir) => {
      graft.pipeline.Temporal.funnel(eventsMicros(s, dir), "user_id",
          "tus", "event_type", Seq("signup", "view", "click", "purchase"),
          within = Some(7L * 86400L * 1000000L))
        .orderBy("user_id")
    }),
    // Fixed-point PageRank over the customer→supplier purchase graph
    // (suppliers offset so key spaces don't collide). Integer millionths
    // end-to-end: rank sums are associative longs, so the power
    // iteration is bit-reproducible and the oracle replays it with //.
    // deterministic synchronous label propagation (3 rounds, ties to
    // the smallest label) over the same customer-supplier graph —
    // community detection beside pagerank/HITS/CC
    "q_lpa" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 100000L).as("dst"))
      graft.pipeline.Graph.labelPropagation(edges, "src", "dst", iterations = 3)
        .orderBy("node")
    }),
    // ---- wave 37: Newman-Girvan modularity of the q_lpa communities —
    // are they structure or noise: exact integer intra/degree moments,
    // DECIMAL numerator, one round-once double division
    "q_modularity" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 100000L).as("dst"))
      val labels = graft.pipeline.Graph.labelPropagation(edges, "src", "dst",
        iterations = 3)
      graft.pipeline.Graph.modularity(labels, edges, "src", "dst")
    }),
    "q_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 100000L).as("dst"))
      graft.pipeline.Graph.pageRank(edges, "src", "dst", iterations = 3)
        .orderBy("node")
    }),
    // Count-min sketch heavy hitters over event user_ids: the 4×256
    // ADD-mergeable aggregate reduces the scan to one 1 KB array per
    // partition; estimates probe the broadcast sketch per row and can
    // never undercount (overcount column shows collision inflation).
    // The oracle replays bucket assignment and the min-over-rows in
    // SQL with the same splitmix64 HUGEINT emulation.
    "q_heavy_hitters" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sk = ev.agg(graft.pipeline.Cms.sketch(col("user_id"), 4, 256).as("sk"))
      ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(sk))
        .select(col("user_id"), col("n_exact"),
          graft.pipeline.Cms.estimate(col("sk"), col("user_id"), 4, 256).as("n_est"))
        .withColumn("overcount", col("n_est") - col("n_exact"))
        .orderBy("user_id")
    }),
    // Skew-salted lineitem⋈supplier (row-identical to the plain join,
    // pinned by the oracle): supplier replicated ×8, lineitem salted by
    // row hash, so a hot suppkey fans out over 8 reducers. Revenue in
    // exact cents so the aggregate is order-independent integer math.
    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.pipeline.Joins.saltedJoin(li, sup, "suppkey", salts = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), sum("cents").as("revenue_cents"))
        .orderBy("s_nationkey")
    }),
    // CDC latest-wins compaction: one row per (user, event_type) — the
    // greatest (ts, event_id), via the map-side-combining max_by
    // aggregate instead of a window sort (JoinsSpec pins both the
    // row-parity with row_number and the window-free physical plan).
    "q_compact" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("tus"), expr("cast(round(value * 100) as bigint)").as("vc"))
      graft.pipeline.Joins.compactLatest(ev,
          Seq("user_id", "event_type"), Seq("tus", "event_id"))
        .orderBy("user_id", "event_type")
    }),
    // HyperLogLog distinct users, two-level: daily sketches MAX-merged
    // up to event_type (the rollup no re-scan can beat at 100 TB), then
    // the integer-exact raw estimate. merge(sketch(daily)) ≡
    // sketch(union) — HllSpec pins it — so the oracle replays registers
    // straight from distinct (event_type, user_id).
    // HLL set-algebra: audience-overlap estimate via inclusion-
    // exclusion over MAX-merged sketches — |A∩B| ≈ est(A) + est(B) −
    // est(A∪B), with the exact intersection beside it; the sketches
    // make the same question answerable at 100 TB without ever
    // materializing either distinct set
    "q_hll_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_type").isin("view", "click"))
        .select(col("event_type"), col("user_id"))
      val per = ev.groupBy("event_type")
        .agg(graft.pipeline.Hll.sketch(col("user_id"), 64).as("sk"))
        .select(col("event_type"),
          graft.pipeline.Hll.estimate(col("sk"), 64).as("est"), col("sk"))
      val flat = per.agg(
          max(when(col("event_type") === "view", col("est"))).as("est_view"),
          max(when(col("event_type") === "click", col("est"))).as("est_click"),
          graft.pipeline.Hll.merge(col("sk"), 64).as("sku"))
        .select(col("est_view"), col("est_click"),
          graft.pipeline.Hll.estimate(col("sku"), 64).as("est_union"))
        // inclusion–exclusion can dip negative for near-disjoint sets:
        // clamp at 0 (both engines) so the permille division is stable
        .withColumn("est_intersect",
          greatest(lit(0L), col("est_view") + col("est_click") - col("est_union")))
      val exacti = ev.where(col("event_type") === "view").select("user_id").distinct()
        .join(ev.where(col("event_type") === "click").select("user_id").distinct(),
          Seq("user_id"))
        .agg(count(lit(1)).as("exact_intersect"))
      flat.crossJoin(broadcast(exacti))
        .withColumn("jaccard_est_permille",
          expr("est_intersect * 1000 div est_union"))
    }),
    "q_hll" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
        .withColumn("day", date_format(timestamp_micros(col("tus")), "yyyy-MM-dd"))
      val daily = ev.groupBy("event_type", "day")
        .agg(graft.pipeline.Hll.sketch(col("user_id"), 64).as("sk"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      daily.groupBy("event_type")
        .agg(graft.pipeline.Hll.merge(col("sk"), 64).as("sk"),
          count(lit(1)).as("n_days"))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_exact"),
          graft.pipeline.Hll.estimate(col("sk"), 64).as("n_est"))
        .orderBy("event_type")
    }),
    // 2-sigma outlier gate per (user, event_type) in exact centi-unit
    // integers: the division-free z-test (n·v−s)² > k²·(n·ssq−s²) — one
    // moment groupBy + a broadcastable join back, no window. Flags ~6%
    // of events at sf0.01.
    // market-basket association pairs over per-order brand sets:
    // ordered self-equi-join on the basket id (quadratic only in the
    // bounded basket size), integer-permille confidence and lift
    "q_assoc" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val part = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val baskets = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("oid"), col("p_brand").as("brand"))
      graft.pipeline.Baskets.frequentPairs(baskets, "oid", "brand",
          minSupport = 20L)
        .orderBy("item_a", "item_b")
    }),
    // day-of-week × hour seasonality profile per event type with an
    // integer permille lift vs the type's uniform cell mean — dow/hour
    // from pure epoch arithmetic (engine-independent, 0 = Sunday)
    "q_seasonality" -> ((s, dir) => {
      val cells = eventsMicros(s, dir)
        .groupBy(col("event_type"),
          expr("(tus div 86400000000 + 4) % 7").as("dow"),
          expr("(tus % 86400000000) div 3600000000").as("hour"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type")
      cells.withColumn("type_total", sum("n").over(w))
        .withColumn("lift_permille", expr("n * 168 * 1000 div type_total"))
        .orderBy("event_type", "dow", "hour")
    }),
    // PSI drift report between the view and click value distributions:
    // reference-decile buckets (integer-exact histogram quantiles),
    // per-bucket contribution in integer micro-nats
    "q_psi" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      graft.pipeline.Stats.psiReport(
          ev.where(col("event_type") === "view").select("vc"),
          ev.where(col("event_type") === "click").select("vc"),
          "vc", buckets = 10)
        .orderBy("bucket")
    }),
    // floor-clamped running balance (inventory / token-bucket shape):
    // purchases drain, signups refill — the max(floor, .) recurrence
    // in the same closed window form as CUSUM, one shuffle per user
    "q_inventory" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
        .where(col("event_type").isin("purchase", "signup"))
        .select(col("user_id"), col("event_id"), col("tus"),
          when(col("event_type") === "signup",
            expr("cast(round(value * 100) as bigint)"))
            .otherwise(-expr("cast(round(value * 100) as bigint)")).as("delta"))
      graft.pipeline.Temporal.clampedCumSum(ev, Seq("user_id"),
          Seq("tus", "event_id"), "delta")
        .select("user_id", "event_id", "tus", "delta", "balance")
        .orderBy("user_id", "tus", "event_id")
    }),
    // seasonally-adjusted anomaly days: each (type, day) count vs the
    // type's same-day-of-week mean, flagged when the residual exceeds
    // 25% — cross-multiplied (|n·d − T|·4 > T), so no division anywhere
    "q_seasonal_anomaly" -> ((s, dir) => {
      val daily = eventsMicros(s, dir)
        .groupBy(col("event_type"), expr("tus div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", expr("(day + 4) % 7"))
      val prof = daily.groupBy("event_type", "dow")
        .agg(sum("n").as("dow_total"), count(lit(1)).as("days_dow"))
      daily.join(prof, Seq("event_type", "dow"))
        .withColumn("is_anomaly",
          abs(col("n") * col("days_dow") - col("dow_total")) * 4 > col("dow_total"))
        .select("event_type", "day", "dow", "n", "dow_total", "days_dow", "is_anomaly")
        .orderBy("event_type", "day")
    }),
    // per-type least-squares trend of the daily event counts: exact
    // integer moments in one groupBy, only the final slope division
    // touches doubles
    "q_trend" -> ((s, dir) => {
      val daily = eventsMicros(s, dir)
        .groupBy(col("event_type"), expr("tus div 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      graft.pipeline.Stats.trend(daily, Seq("event_type"), "day", "cnt")
        .orderBy("event_type")
    }),
    // ---- wave 35: Wald SPRT early-stop A/B gate: exact long LLR walk
    // (four plan-time micro-nat constants), first-crossing decision per
    // event type over the event_id order
    "q_sprt" -> ((s, dir) =>
      graft.pipeline.Stats.sprt(
          t(s, dir, "events").select(col("event_type"), col("event_id"),
            expr("cast(round(value * 100) as bigint) >= 500").as("succ")),
          Seq("event_type"), "event_id", "succ")
        .orderBy("event_type")),
    // ---- wave 34: Theil-Sen robust slope (the OLS q_trend's 29%-
    // breakdown companion): median of pairwise slopes, each one IEEE
    // division of exact longs, median picked by partitioned window
    "q_theil_sen" -> ((s, dir) => {
      val daily = eventsMicros(s, dir)
        .groupBy(col("event_type"), expr("tus div 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      graft.pipeline.Stats.theilSenSlope(daily, Seq("event_type"), "day", "cnt")
        .orderBy("event_type")
    }),
    // Benford first-digit audit over the order-value cents: observed
    // vs log10(1+1/d) permille, digit from the decimal string
    "q_benford" -> ((s, dir) =>
      graft.pipeline.Stats.benford(
          t(s, dir, "lineitem").select(
            expr("cast(round(l_extendedprice * 100) as bigint)").as("cents")),
          "cents")
        .orderBy("digit")),
    // two-sided CUSUM change-point over daily per-type event counts:
    // the max(0,·) recurrence in closed form (prefix sum − running
    // min), two window passes on one shuffle — all integer
    "q_cusum" -> ((s, dir) => {
      val daily = eventsMicros(s, dir)
        .groupBy(col("event_type"), expr("tus div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      graft.pipeline.Stats.cusum(daily, Seq("event_type"), "day", "x",
          ref = 65L, slack = 5L, threshold = 40L)
        .orderBy("event_type", "day")
    }),
    "q_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("vc"))
      graft.pipeline.Stats.anomalyFlags(ev,
          Seq("user_id", "event_type"), "vc", kNum = 2, kDen = 1)
        .where(col("is_anomaly"))
        .select("event_id", "user_id", "event_type", "vc", "grp_n", "dev2", "var_n2")
        .orderBy("event_id")
    }),
    // Edit-distance-1 spell-correction join: query-side misspellings
    // (2nd char deleted, the q_pii injection recipe) matched back
    // against the corpus vocabulary through the deletion-variant
    // EQUI-join — JoinsSpec pins parity with the brute Levenshtein
    // cross product and the product-free physical plan.
    "q_fuzzy_join" -> ((s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .where(length(col("tok")) >= 4).distinct()
      val noisy = vocab.select(concat(col("tok").substr(lit(1), lit(1)),
          col("tok").substr(lit(3), length(col("tok")))).as("q")).distinct()
      graft.pipeline.Joins.fuzzyJoin(noisy, vocab, "q", "tok")
        .orderBy("q", "tok")
    }),
    // First BPE merge iteration: corpus-wide adjacent character-pair
    // counts (codegen'd HOF, no UDF) — one shuffle with map-side
    // combine, top-40 by the total (count desc, pair) order.
    "q_bpe_pairs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .where(length(col("tok")) >= 2)
        .select(explode(TextFunctions.char_pairs(col("tok"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("pair")).limit(40)),
    // ANN quality audit: per-query recall@3 of the IVF index against
    // the exact brute ground truth — the acceptance gate every index
    // build should ship with. At 100 TB the ground-truth side runs on a
    // query SAMPLE (brute is the labeled O(n²) baseline); the audit
    // shape — left join truth to index hits, count matches — is
    // unchanged.
    "q_knn_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val truth = Similarity.bruteTopK(e, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(e, "vec_id", "embedding", 3)
        .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
      truth.join(approx,
          col("query_id") === col("aq") && col("neighbor_id") === col("an"), "left")
        .groupBy("query_id")
        .agg(count(col("an")).as("hits"), count(lit(1)).as("k"))
        .orderBy("query_id")
    }),
    // Deequ-style one-pass column profile over integral/string columns
    // (floats excluded — their min/max STRING rendering is
    // engine-specific; everything counted here is hash-exact).
    "q_profile" -> ((s, dir) =>
      graft.pipeline.Profile.profile(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_returnflag", "l_linestatus"))
        .orderBy("column")),
    // Cohort retention triangle over events: first-day cohorts ×
    // day offsets, exact distinct-user counts — two keyed aggregations
    // and one key equi-join, no time self-joins.
    "q_retention" -> ((s, dir) =>
      graft.pipeline.Temporal.cohortRetention(
          eventsMicros(s, dir), "user_id", "tus")
        .withColumn("cohort_day", date_format(col("cohort_day"), "yyyy-MM-dd"))
        .orderBy("cohort_day", "day_offset")),
    // ROLLUP hierarchy totals in ONE pass: Catalyst's Expand feeds the
    // same partial+final aggregate for all three grouping levels —
    // no per-level re-scan, no union of aggregates. Quantities are
    // integral doubles, so SUMs stay exact.
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),
    // CUBE totals in the same single pass (grand total + both marginals
    // + cells): Expand ×4 into one partial+final aggregate — no
    // per-level rescan, no union of aggregates.
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),
    // Bloom-prefiltered join: the dim predicate (s_nationkey < 5 keeps
    // ~20% of suppliers) reaches the FACT side as a 128 KB bitset probe
    // at the scan — the explicit runtime row filter (Joins.bloomJoin).
    // The oracle is the PLAIN filtered join: bloom false positives are
    // removed by the exact join, so the filter is invisible to rows.
    "q_bloom_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      val sup = t(s, dir, "supplier").where(col("s_nationkey") < 5)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.pipeline.Joins.bloomJoin(li, sup, "suppkey")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), sum("cents").as("revenue_cents"))
        .orderBy("s_nationkey")
    }),
    // Exact edit-distance near-dup pairs: prefix-16 block equi-join +
    // thresholded banded levenshtein refine (Joins.editDistancePairs);
    // hot blocks (> 64 docs) cut by a broadcast anti-join, replayed by
    // the oracle's HAVING exclusion.
    "q_edit_dedup" -> ((s, dir) =>
      graft.pipeline.Joins.editDistancePairs(
          t(s, dir, "documents"), "doc_id", "text",
          prefixLen = 16, maxDist = 10, hotCap = 64)
        .orderBy("id_a", "id_b")),
    // Per-type deciles of DAILY revenue: the window runs over the
    // pre-aggregated (type, day) rollup — bounded rows per partition
    // key (days, not raw events), the scalable place to put ntile.
    "q_ntile" -> ((s, dir) => {
      val d = eventsMicros(s, dir)
        .withColumn("day",
          date_format(timestamp_micros(col("tus")), "yyyy-MM-dd"))
        .groupBy("event_type", "day")
        .agg(sum(expr("cast(round(value * 100) as bigint)")).as("rev"))
      val w = Window.partitionBy("event_type").orderBy("rev", "day")
      d.withColumn("decile", ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(count(lit(1)).as("n_days"), min("rev").as("lo"), max("rev").as("hi"))
        .orderBy("event_type", "decile")
    }),
    // Deterministic training-order shuffle: a Knuth multiplicative hash
    // of doc_id is a bijection mod 2^32, so ORDER BY it is a seedable,
    // reproducible global permutation (range-sort at scale; first 100
    // shown). The final row_number runs AFTER the top-k, over 100 rows.
    "q_shuffle_order" -> ((s, dir) => {
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id") * 2654435761L, lit(4294967296L)).as("shuffle_key"))
        .orderBy("shuffle_key", "doc_id").limit(100)
      keyed.withColumn("position",
        row_number().over(Window.orderBy("shuffle_key", "doc_id")).cast("int"))
    }),
    // Z-order layout + pruned read-back (Layout.zorderWrite): write
    // lineitem as 16 files range-partitioned on the (partkey, suppkey)
    // Morton index, then aggregate under a conjunctive range predicate
    // — the filters reach the Parquet reader (PushedFilters) and the
    // z-clustering makes file/row-group min-max stats selective for
    // BOTH keys. Oracle = the same predicate over the original table.
    "q_zorder_prune" -> ((s, dir) => zorderPrune(s, dir)),
    // ---- wave 39: Hilbert layout writer (locality-first z-order twin)
    // same write -> filtered re-read contract; the result is layout-
    // invariant, which is exactly what pins the writer's correctness
    "q_hilbert_layout" -> ((s, dir) => {
      val path = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_hilbert_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      graft.pipeline.Layout.hilbertWrite(
        t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice"),
        "l_partkey", "l_suppkey", path, files = 16)
      s.read.parquet(path)
        .where(col("l_partkey").between(100, 299) && col("l_suppkey").between(10, 39))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("revenue_cents"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"))
    }),
    // Pivot with an EXPLICIT value list — one aggregation pass (pivot
    // values fold into the same partial aggregate); an unlisted pivot
    // would first collect distinct values to the driver, which the
    // 100 TB path avoids by always pinning the list.
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")),
    // Markov transition counts: consecutive event-type pairs per user
    // (lag over the same composite sort as q_gaps), then one global
    // count — the sequence-mining staple behind session modeling.
    "q_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      eventsMicros(s, dir)
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "next_type")
    }),
    // Skew audit: the top-10 hottest join keys with integer-permille
    // share of the table — the number that decides when saltedJoin's
    // fan-out is worth its dim-side replication. Two tiny aggregates;
    // the one-row total broadcasts.
    "q_skew_report" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val total = li.agg(count(lit(1)).as("total"))
      li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("l_partkey"), col("n"),
          expr("n * 1000 div total").as("share_permille"))
        .orderBy(desc("n"), col("l_partkey")).limit(10)
    }),
    // Inter-event gap statistics per user: lag over the (user, ts)
    // window, then integer micro-gap aggregates — arrival-cadence
    // profiling with one composite-key shuffle.
    "q_gaps" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      eventsMicros(s, dir)
        .withColumn("gap", col("tus") - lag("tus", 1).over(w))
        .where(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), min("gap").as("min_gap"),
          max("gap").as("max_gap"), sum("gap").as("sum_gap"))
        .orderBy("user_id")
    }),
    // Degree-ordered triangle enumeration (Graph.triangles) over the
    // part co-purchase graph (consecutive line items of one order):
    // wedges form only at each triangle's (deg, id)-minimal apex, so
    // the quadratic step is O(m^1.5) total no matter how hot a hub
    // part gets; the oracle closes the naive 3-way edge self-join.
    "q_triangles" -> ((s, dir) => {
      // (l_linenumber alone repeats within an order — the full tiled()
      // sort makes the lead deterministic.)
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      val edges = t(s, dir, "lineitem")
        .withColumn("nxt", lead("l_partkey", 1).over(w))
        .where(col("nxt").isNotNull && col("l_partkey") =!= col("nxt"))
        .select(col("l_partkey").as("src"), col("nxt").as("dst"))
      graft.pipeline.Graph.triangles(edges, "src", "dst")
        .orderBy("a", "b", "c")
    }),
    // Interval-overlap join (Joins.overlapJoin): per-part shipping
    // windows [shipdate, shipdate + quantity] in epoch days, odd vs
    // even line numbers. The 64-day bucket equi-join with the
    // greatest-start ownership rule replaces the per-key nested loop
    // AND the dedup pass; the oracle is the plain theta join.
    "q_overlap_join" -> ((s, dir) => {
      val li0 = t(s, dir, "lineitem")
      val li = li0.select(col("l_partkey").as("k"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("lid"),
          col("l_linenumber").as("ln"),
          (graft.pipeline.Temporal.epochMicros(li0, "l_shipdate")
            / lit(86400000000L)).cast("long").as("sd"),
          col("l_quantity").cast("bigint").as("span"))
        .withColumn("ed", col("sd") + col("span"))
      val a = li.where(col("ln") % 2 === 1)
        .select(col("k"), col("lid").as("id_a"), col("sd").as("s_a"), col("ed").as("e_a"))
      val b = li.where(col("ln") % 2 === 0)
        .select(col("k"), col("lid").as("id_b"), col("sd").as("s_b"), col("ed").as("e_b"))
      graft.pipeline.Joins.overlapJoin(a, b, "k",
          "s_a", "e_a", "s_b", "e_b", bucketWidth = 64L)
        .select(col("k"), col("id_a"), col("id_b"),
          (least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b")) + 1)
            .as("overlap_days"))
        .orderBy("k", "id_a", "id_b")
    }),
    // SCD Type-2 history from the purchase changelog (Temporal.scd2):
    // each version gains [valid_from_us, valid_to_us) from ONE lead
    // window — point-in-time dimension lookups then run as
    // intervalJoin instead of per-lookup sorts.
    "q_scd2" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("vc"), col("tus"))
      graft.pipeline.Temporal.scd2(ev, Seq("user_id"), "tus", Seq("event_id"))
        .select("user_id", "event_id", "vc", "valid_from_us", "valid_to_us")
        .orderBy("user_id", "valid_from_us", "event_id")
    }),
    // Per-user ordered event-type journey — the behavior-sequence
    // training export. ONE shuffle: collect_list + in-group sort_array
    // (state bounded by per-user activity), no global window, no
    // per-event row explosion downstream.
    "q_sequences" -> ((s, dir) =>
      eventsMicros(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("array_join(transform(sort_array(collect_list(struct(tus, " +
            "event_id, event_type))), x -> x.event_type), ',')").as("journey"))
        .orderBy("user_id")),
    // Inverted-index build: token → document frequency + the 20
    // smallest doc ids, via the bounded TopKByAggregate — map-side
    // partial top-k means shuffle O(tokens·k); postings never sort
    // corpus-wide. (-doc_id as the double order key is exact below
    // 2^53.) df ≥ 20 keeps the common-term rows.
    "q_inverted_index" -> ((s, dir) => {
      val pairs = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .where(length(col("tok")) >= 4)
        .distinct()
      pairs.groupBy("tok")
        .agg(count(lit(1)).as("df"),
          Similarity.topKBy(col("doc_id"), -col("doc_id").cast("double"), 20).as("tk"))
        .where(col("df") >= 20)
        .select(col("tok"), col("df"),
          posexplode(expr("sort_array(transform(tk, x -> x.neighbor_id))"))
            .as(Seq("pos", "doc_id")))
        .select(col("tok"), col("df"), col("pos").cast("int").as("pos"), col("doc_id"))
        .orderBy("tok", "pos")
    }),
    // HITS hubs/authorities (Graph.hits) on the customer→supplier
    // purchase graph — bipartite, so customers score as hubs and
    // suppliers as authorities. Integer max-normalization per
    // half-step keeps every score an exact long; the oracle unrolls
    // both iterations in SQL with the same floor divisions.
    "q_hits" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 100000L).as("dst"))
      graft.pipeline.Graph.hits(edges, "src", "dst", iterations = 2)
        .orderBy("node")
    }),
    // Priority dedup over CANONICAL-form clusters: case/punctuation/
    // whitespace variants hash to one cluster (lower + strip + collapse
    // — the CCNet canonicalization), and the HIGHEST-quality copy wins
    // (quality desc, doc_id asc), via the same map-side-combining
    // max_by as compactLatest — no window sort. The injected noisy
    // twins get SMALLER ids, so a min-id keeper would pick them; the
    // quality keeper must not (punct noise tanks their score).
    "q_dedup_keep_best" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val noisy = base.select((col("doc_id") - 10000L).as("doc_id"),
        concat(upper(col("text")), lit(" !!! ;;; ???")).as("text"))
      val canon = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      val d = base.unionByName(noisy)
        .select(col("doc_id"), md5(canon).as("canon_hash"),
          TextFunctions.quality_score(col("text")).as("q"))
      d.groupBy("canon_hash")
        .agg(count(lit(1)).as("cnt"),
          max_by(col("doc_id"), struct(col("q"), (-col("doc_id")).as("nid")))
            .as("keep_id"),
          max(col("q")).as("best_q"))
        .orderBy("canon_hash")
    }),
    // Crawl-frontier politeness scheduling: per-host FIFO slots
    // (quality-priority order) × a fixed per-host delay give each URL
    // its fetch instant — the window is per-host bounded, so a hot
    // host is a groupBy hot key, and the politeness contract (one
    // fetch per host per delay) holds per partition key by
    // construction.
    "q_crawl_schedule" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("source"), lit(".example.com")).as("host"),
          TextFunctions.quality_score(col("text")).as("q"))
      val w = Window.partitionBy("host").orderBy(desc("q"), col("doc_id"))
      d.withColumn("slot", row_number().over(w).cast("int"))
        .withColumn("fetch_at_us", (col("slot") - 1).cast("bigint") * 500000L)
        .select("doc_id", "host", "slot", "fetch_at_us")
        .orderBy("host", "slot")
    }),
    // Best-of-source sampling: top-3 docs per source by quality via
    // the bounded TopKByAggregate — map partitions reduce to ≤3
    // entries per source BEFORE the shuffle (O(sources·k) volume,
    // no corpus-wide row_number sort); the aggregate's (order desc,
    // id asc) tie-break is exactly the oracle window's.
    "q_best_per_source" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.quality_score(col("text")).as("q"))
      d.groupBy("source")
        .agg(Similarity.topKBy(col("doc_id"), col("q"), 3).as("tk"))
        .select(col("source"), posexplode(col("tk")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
          col("col.neighbor_id").as("doc_id"), col("col.sim").as("q"))
        .orderBy("source", "rank")
    }),
    // Exact LOWER median of daily revenue per event type: the sort is
    // WITHIN each group's collected day array (bounded by days, not
    // raw events — same scaling argument as q_ntile), so no global
    // window touches raw rows; integer cents keep it hash-exact.
    "q_median_daily" -> ((s, dir) => {
      val d = eventsMicros(s, dir)
        .withColumn("day",
          date_format(timestamp_micros(col("tus")), "yyyy-MM-dd"))
        .groupBy("event_type", "day")
        .agg(sum(expr("cast(round(value * 100) as bigint)")).as("rev"))
      d.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sort_array(collect_list(col("rev"))).as("sr"))
        .select(col("event_type"), col("n_days"),
          element_at(col("sr"),
            expr("cast((n_days + 1) div 2 as int)")).as("median_rev"))
        .orderBy("event_type")
    }),
    // Semi-structured ELT over the JSON props column: from_json with an
    // EXPLICIT schema (codegen'd JsonToStructs — no inference pass over
    // the corpus, the schema-on-read contract at 100 TB), then plain
    // typed aggregation; malformed rows would null out, not fail.
    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type"))
    ,
    // CDC MERGE (Joins.applyChangelog): even-event snapshot + odd-event
    // changelog with tombstones (vc < 1000 → 'D'); the changelog first
    // collapses map-side to one head per touched key, then ONE
    // full-outer join applies upserts and deletes — no window over the
    // snapshot. The oracle replays compaction + merge with windows.
    "q_cdc_apply" -> ((s, dir) => {
      val e = eventsMicros(s, dir).select(col("user_id"), col("event_id"),
        expr("cast(round(value * 100) as bigint)").as("vc"), col("tus"))
      val snap = graft.pipeline.Joins.compactLatest(
          e.where(col("event_id") % 2 === 0), Seq("user_id"), Seq("tus", "event_id"))
        .select("user_id", "vc")
      val changes = e.where(col("event_id") % 2 === 1)
        .withColumn("op", when(col("vc") < 1000, lit("D")).otherwise(lit("U")))
      graft.pipeline.Joins.applyChangelog(snap, changes,
          Seq("user_id"), Seq("tus", "event_id"), "op")
        .orderBy("user_id")
    }),
    // Label-separation audit over the embedding table: per label-pair
    // the EXACT integer dot of int8-quantized sum vectors (pl_quantize
    // codes → dimension-wise long sums, associative so the result is
    // partition-order-proof — the float version would drift). One
    // posexplode + (label, dim) groupBy is the whole data pass; the
    // L×L pair join is label-METADATA-sized (broadcast), never rows.
    // Diagonal = within-label mass, off-diagonal = cross-label
    // alignment — the label-quality confusion audit for an embedding
    // model.
    "q_label_separation" -> ((s, dir) => {
      val codes = t(s, dir, "embeddings")
        .select(col("label").cast("bigint").as("label"),
          Similarity.quantizeInt8(col("embedding").cast("array<double>"),
            Similarity.int8Scale(col("embedding"))).as("codes"))
      val sums = codes.select(col("label"), posexplode(col("codes")))
        .groupBy("label", "pos").agg(sum("col").as("s"))
      val sv = sums.groupBy("label")
        .agg(expr("transform(sort_array(collect_list(struct(pos, s))), x -> x.s)")
          .as("sv"))
      // lv feeds both sides of the label cross join but is NOT
      // materialized: the r20 A/B measured an eager checkpoint at +0.8 s
      // — the pipeline ends in aggregate exchanges that AQE's runtime
      // stage reuse already shares between the two sides
      val lv = sv.join(codes.groupBy("label").agg(count(lit(1)).as("n")), "label")
      val a = lv.select(col("label").as("label_a"), col("n").as("n_a"),
        col("sv").as("sv_a"))
      val b = lv.select(col("label").as("label_b"), col("n").as("n_b"),
        col("sv").as("sv_b"))
      a.crossJoin(broadcast(b)).where(col("label_a") <= col("label_b"))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          expr("aggregate(zip_with(sv_a, sv_b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
            .as("dot_ss"))
        .orderBy("label_a", "label_b")
    }),
    // Priority-keeper near-dup clustering (Dedup2.keepDecisionsBy):
    // the q_dedup_pipeline chain fixture with INVERTED variant ids —
    // the full document carries the LARGEST id in its component, so a
    // min-id keeper would retain a truncation; the priority keeper
    // (token count desc, id asc) must retain the full text. Same
    // fixpoint clustering; one extra max_by aggregation + join.
    "q_dedup_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") % 5 === 0)
      val toks = split(col("text"), " ")
      val n1 = floor(size(toks) * 4 / 5).cast("int")
      val n2 = floor(floor(size(toks) * 4 / 5) * 4 / 5).cast("int")
      val v0 = docs.select((col("doc_id") * 3 + 2).as("id"), col("source"), col("text"))
      val v1 = docs.select((col("doc_id") * 3 + 1).as("id"), col("source"),
        concat_ws(" ", slice(toks, lit(1), n1)).as("text"))
      val v2 = docs.select((col("doc_id") * 3).as("id"), col("source"),
        concat_ws(" ", slice(toks, lit(1), n2)).as("text"))
      val u = v0.union(v1).union(v2)
        .withColumn("p", size(split(col("text"), " ")).cast("bigint"))
      graft.pipeline.Dedup2.keepDecisionsBy(u, "id", "text", "p", "source")
        .orderBy("id")
    }),
    // Weighted priority sampling (Duffield-Lund-Thorup, integer form):
    // priority = uniform-int div weight, k smallest win — heavy docs
    // surface ~proportionally, the whole plan is one scalar projection
    // + bounded global top-k (TakeOrderedAndProject), and the integer
    // floor division makes the sample bit-replayable in DuckDB.
    "q_priority_sample" -> ((s, dir) =>
      graft.pipeline.Splits.prioritySample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 50)
        .orderBy("priority", "doc_id")),
    // Scalar band join (Joins.bandJoin): within-brand part pairs whose
    // retail prices sit within 50 cents — the neighbor-bucket equi-join
    // (3× left replication, right keeps its home bucket → exactly-once)
    // replacing the per-brand nested loop; oracle is the theta join.
    // robots-style URL path blocklist: segment-prefix expansion into
    // an equi-join on (prefix, depth), deepest rule wins — never the
    // LIKE theta join (wrong at segment boundaries AND a nested loop)
    "q_path_block" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("/cat"), (col("doc_id") % 7).cast("string"),
          lit("/sub"), (col("doc_id") % 13).cast("string"),
          lit("/page"), col("doc_id").cast("string")).as("path"))
      val rules = t(s, dir, "part")
        .select(col("p_partkey"),
          when(col("p_partkey") % 2 === 0,
            concat(lit("/cat"), (col("p_partkey") % 7).cast("string")))
          .otherwise(concat(lit("/cat"), (col("p_partkey") % 7).cast("string"),
            lit("/sub"), (col("p_partkey") % 13).cast("string"))).as("prefix"))
        .groupBy("prefix").agg(min("p_partkey").as("rule_id"))
      graft.pipeline.Joins.pathPrefixJoin(urls, "path", "doc_id",
          rules, "prefix")
        .orderBy("doc_id")
    }),
    // longest-prefix-match (CIDR) join: synthetic IPs from user ids
    // (Knuth multiplicative hash — integer-exact on both engines) vs a
    // /8-/16-/24 rule table from customer keys; bounded candidate
    // expansion + equi-join on (len, prefix), longest match wins
    "q_cidr_join" -> ((s, dir) => {
      val ips = t(s, dir, "events").select(col("user_id")).distinct()
        .withColumn("ip32", expr("(user_id * 2654435761L) % 4294967296L"))
      val rules = t(s, dir, "customer")
        .select(col("c_custkey"),
          expr("(c_custkey * 2654435761L) % 4294967296L").as("rip"),
          (lit(8) + (col("c_custkey") % 3) * 8).cast("int").as("plen"))
        .withColumn("prefix", expr("shiftright(rip, 32 - plen)"))
        .groupBy("plen", "prefix").agg(min("c_custkey").as("rule_id"))
      graft.pipeline.Joins.longestPrefixJoin(ips, "ip32", "user_id",
          rules, "plen", "prefix")
        .orderBy("user_id")
    }),
    "q_band_join" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_brand").as("brand"),
        col("p_partkey"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("cents"))
      val a = p.where(col("p_partkey") % 2 === 0)
        .select(col("brand"), col("p_partkey").as("id_a"), col("cents").as("c_a"))
      val b = p.where(col("p_partkey") % 2 === 1)
        .select(col("brand"), col("p_partkey").as("id_b"), col("cents").as("c_b"))
      graft.pipeline.Joins.bandJoin(a, b, "brand", "c_a", "c_b", eps = 50L)
        .select(col("brand"), col("id_a"), col("id_b"),
          (col("c_a") - col("c_b")).as("diff_cents"))
        .orderBy("brand", "id_a", "id_b")
    }),
    // Image near-dup fingerprints: mm_image_ahash over the closed-form
    // synthetic PNGs (the q_image_decode corpus) — all-integer floor
    // resample + gray + mean threshold, so the oracle recomputes every
    // hash from the pixel formula; hamming_next (bit_count of the xor
    // with the next doc's hash) is the near-dup distance the banded
    // self-join would use at corpus scale. The lead window is
    // partitioned by doc_id block so no task ever holds a global sort;
    // production pairs come from the 16-bit chunk blocking (same
    // recipe as the simhash join).
    "q_image_ahash" -> ((s, dir) => {
      val d = col("doc_id")
      val w = (pmod(d, lit(13)) + 1).cast("int")
      val h = (pmod(d, lit(11)) + 1).cast("int")
      val pix = transform(sequence(lit(0L), (w * h - 1).cast("long")), { i =>
        val x = pmod(i, w.cast("long"))
        val y = (i - x) / w.cast("long")
        val base = x * 7 + y * 13 + d * 3
        (pmod(base, lit(256L)) * 65536L +
          pmod(base + 31, lit(256L)) * 256L +
          pmod(base + 62, lit(256L))).cast("int")
      })
      val hashed = t(s, dir, "documents")
        .select(d, Multimodal.image_ahash(
          Multimodal.encode_png(pix, w, h)).as("ahash"))
      hashed
        .withColumn("bits", expr("bit_count(ahash)"))
        .withColumn("hamming_next",
          expr("bit_count(ahash ^ lead(ahash, 1) OVER " +
            "(PARTITION BY doc_id DIV 1000 ORDER BY doc_id))"))
        .orderBy("doc_id")
    }),
    // Image near-dup PAIR MINING: originals + one-pixel-noise twins,
    // ahash chunk blocking (four 16-bit chunks — hamming ≤ 3 pairs
    // must share one by pigeonhole, same recipe as simhash), exact
    // Hamming refine ≤ 6. Ids-only through the chunk equi-join; the
    // oracle recomputes hashes closed-form and replays the blocking.
    "q_image_dedup" -> ((s, dir) => {
      val d = col("doc_id")
      val v = col("v")
      val w = (pmod(d, lit(13)) + 1).cast("int")
      val h = (pmod(d, lit(11)) + 1).cast("int")
      val pix = transform(sequence(lit(0L), (w * h - 1).cast("long")), { i =>
        val x = pmod(i, w.cast("long"))
        val y = (i - x) / w.cast("long")
        val base = x * 7 + y * 13 + d * 3 +
          when(v === 1 && i === 0, lit(8L)).otherwise(lit(0L))
        (pmod(base, lit(256L)) * 65536L +
          pmod(base + 31, lit(256L)) * 256L +
          pmod(base + 62, lit(256L))).cast("int")
      })
      val hs = t(s, dir, "documents").select(col("doc_id"))
        .where(d % 5 === 0) // tiny synth images collide across docs; thin the corpus
        .withColumn("v", explode(array(lit(0L), lit(1L))))
        .select((d * 2 + v).as("id"),
          Multimodal.image_ahash(Multimodal.encode_png(pix, w, h)).as("ahash"))
        // hs feeds BOTH sides of the chunk self-join — without
        // materialization the PNG-encode + ahash kernel (the expensive
        // part of this query) runs twice; the table is (id, long) rows
        // (r19 shingle pattern, guide §1.2)
        .localCheckpoint(true)
      val chunks = hs
        .withColumn("ci", explode(sequence(lit(0), lit(3))))
        .withColumn("ck", expr("(ahash >> (ci * 16)) & 65535"))
      val a = chunks.select(col("ci"), col("ck"),
        col("id").as("id_a"), col("ahash").as("h_a"))
      val b = chunks.select(col("ci"), col("ck"),
        col("id").as("id_b"), col("ahash").as("h_b"))
      a.join(b, Seq("ci", "ck")).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("bit_count(h_a ^ h_b)").as("hamming"))
        .distinct()
        .where(col("hamming") <= 6)
        .orderBy("id_a", "id_b")
    }),
    // END-TO-END multimodal curation — the image twin of q_e2e_curation,
    // pinning the mm_* operators' cross-contracts in one plan:
    // synthesize closed-form PNGs (originals + one-pixel-noise twins) →
    // REAL decode gate (mm_decode_image parses every payload; frames
    // under 20 px drop) → mm_image_ahash fingerprints → 16-bit chunk
    // blocking + Hamming ≤ 6 pair mining → keep the smaller id of each
    // near-dup pair (larger ids LEFT ANTI out) → pack survivors into
    // fixed-capacity bins by pixel count (Packing.binStats). The decoded
    // (id, px, ahash) table is checkpointed ONCE — it feeds both the
    // blocking self-join and the survivor anti-join.
    "q_e2e_multimodal" -> ((s, dir) => {
      val d = col("doc_id")
      val v = col("v")
      val w = (pmod(d, lit(13)) + 1).cast("int")
      val h = (pmod(d, lit(11)) + 1).cast("int")
      val pix = transform(sequence(lit(0L), (w * h - 1).cast("long")), { i =>
        val x = pmod(i, w.cast("long"))
        val y = (i - x) / w.cast("long")
        val base = x * 7 + y * 13 + d * 3 +
          when(v === 1 && i === 0, lit(8L)).otherwise(lit(0L))
        (pmod(base, lit(256L)) * 65536L +
          pmod(base + 31, lit(256L)) * 256L +
          pmod(base + 62, lit(256L))).cast("int")
      })
      val imgs = t(s, dir, "documents").select(col("doc_id"))
        .where(d % 5 === 0)
        .withColumn("v", explode(array(lit(0L), lit(1L))))
        .select((d * 2 + v).as("id"), Multimodal.encode_png(pix, w, h).as("png"))
      val decoded = imgs
        .select(col("id"), col("png"), Multimodal.decode_image(col("png")).as("m"))
        .where(col("m.width") * col("m.height") >= 20)
        .select(col("id"),
          (col("m.width") * col("m.height")).cast("long").as("px"),
          Multimodal.image_ahash(col("png")).as("ahash"))
        .localCheckpoint(true)
      val chunks = decoded
        .withColumn("ci", explode(sequence(lit(0), lit(3))))
        .withColumn("ck", expr("(ahash >> (ci * 16)) & 65535"))
      val dupIds = chunks.select(col("ci"), col("ck"),
          col("id").as("id_a"), col("ahash").as("h_a"))
        .join(chunks.select(col("ci"), col("ck"),
          col("id").as("id_b"), col("ahash").as("h_b")), Seq("ci", "ck"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b").distinct()
        .where(expr("bit_count(h_a ^ h_b)") <= 6)
        .select(col("id_b").as("id")).distinct()
      val survivors = decoded.join(dupIds, Seq("id"), "left_anti")
        .select(col("id"), col("px"))
      graft.pipeline.Packing.binStats(survivors, "id", col("px"),
          capacity = 512L, numShards = 4)
        .orderBy("shard", "bin")
    }),
    // Forward-fill over the dense day spine (Temporal.gapFill): rare
    // high-value events (value > 250, a few dozen rows) leave most days empty; the
    // spine generator + left join + last-ignoreNulls window completes
    // the series with the prior observation — no per-gap self-joins.
    "q_gap_fill" -> ((s, dir) => {
      val daily = eventsMicros(s, dir)
        .select(col("event_type"),
          expr("tus div 86400000000").as("day"),
          expr("cast(round(value * 100) as bigint)").as("vc"))
        .where(col("vc") > 25000)
        .groupBy("event_type", "day")
        .agg(sum("vc").as("rev"))
      graft.pipeline.Temporal.gapFill(daily, "event_type", "day", "rev")
        .orderBy("event_type", "day")
    }),
    // Merged-interval coverage (Temporal.intervalUnionLength): per-user
    // active time as the UNION of [tus, tus + value-scaled span) —
    // one running-max window, each span contributes only its uncovered
    // tail, so overlap mass = span_sum − covered. Exact micros.
    "q_interval_union" -> ((s, dir) => {
      val spans = eventsMicros(s, dir)
        .select(col("user_id"), col("tus").as("s"),
          (col("tus") + expr("cast(round(value * 1000000) as bigint)")).as("e"))
      graft.pipeline.Temporal.intervalUnionLength(spans, "user_id", "s", "e")
        .orderBy("user_id")
    }),
    // Time-weighted average price (TWAP) over SCD2 validity intervals:
    // each purchase version weighs by its [valid_from, valid_to)
    // duration — the metric every pricing/feature pipeline computes
    // off dimension history; integer micros × cents keep it exact
    // (closed versions only; the open tail has no duration yet).
    "q_twap" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("vc"), col("tus"))
      graft.pipeline.Temporal.scd2(ev, Seq("user_id"), "tus", Seq("event_id"))
        .where(col("valid_to_us").isNotNull)
        .withColumn("dur", col("valid_to_us") - col("valid_from_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_closed"),
          sum("dur").as("dur_us"),
          expr("sum(vc * dur) div sum(dur)").as("twap_cents"))
        .orderBy("user_id")
    }),
    // CCNet-style segment LM gate (SegmentLm.segmentLmFilter): every
    // 3rd doc gets an appended gibberish run whose bigrams are
    // corpus-unique — those segments score rare_permille ≈ 1000 and
    // drop; ordinary prose segments survive. Bigram rarity is an
    // exact integer permille, so the whole gate replays in SQL.
    "q_segment_lm_filter" -> ((s, dir) => {
      val noisy = t(s, dir, "documents").select(col("doc_id"),
        expr("concat(text, CASE WHEN doc_id % 3 = 0 THEN concat(" +
          "' g', doc_id, 'x0 g', doc_id, 'x1 g', doc_id, 'x2 g', doc_id, " +
          "'x3 g', doc_id, 'x4 g', doc_id, 'x5 g', doc_id, 'x6 g', doc_id, 'x7')" +
          " ELSE '' END)").as("text"))
      graft.pipeline.SegmentLm.segmentLmFilter(noisy, "doc_id", "text",
          segTokens = 8, maxRarePermille = 500)
        .orderBy("id")
    }),
    // Tokenizer-coverage audit: OOV permille per source against the
    // top-1000 corpus vocabulary (count desc, token tie-break — a
    // deterministic global top-k, broadcastable by construction). The
    // number that decides whether a pinned tokenizer vocab fits a new
    // source before training on it.
    "q_oov_rate" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("tok")).limit(1000)
        .select(col("tok"), lit(1).as("__in"))
      toks.join(vocab, Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_permille", expr("n_oov * 1000 div n_tokens"))
        .orderBy("source")
    }),
    // Audio windowing (mm_wav_energy): per-64-sample energies over the
    // synth PCM16 corpus — the silence-split / voice-activity pass;
    // integer s² sums make every window bit-replayable from the
    // closed-form sample formula.
    "q_audio_windows" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          Multimodal.wav_energy(
            expr("mm_wav_synth(doc_id, 256)"), lit(64)).as("en"))
        .select(col("doc_id"),
          size(col("en")).as("n_windows"),
          expr("array_position(en, array_max(en))").cast("int").as("peak_win"),
          expr("array_max(en)").as("peak_energy"),
          expr("aggregate(en, 0L, (a, x) -> a + x)").as("total_energy"))
        .orderBy("doc_id")),
    // voice-activity spans: windows whose energy beats the clip mean
    // (integer cross-multiply e·n > total — no division) merge into
    // segments via gaps-and-islands; the VAD speech-segmentation shape
    "q_vad" -> ((s, dir) => {
      val en = t(s, dir, "documents").select(col("doc_id"),
          posexplode(Multimodal.wav_energy(
            expr("mm_wav_synth(doc_id, 256)"), lit(64))))
        .select(col("doc_id"), col("pos").cast("long").as("w"), col("col").as("e"))
      val tot = en.groupBy("doc_id").agg(sum("e").as("te"), count(lit(1)).as("nw"))
      val act = en.join(tot, "doc_id").where(col("e") * col("nw") > col("te"))
      val win = Window.partitionBy("doc_id").orderBy("w")
      act.withColumn("isl", col("w") - row_number().over(win))
        .groupBy("doc_id", "isl")
        .agg(min("w").as("start_w"), max("w").as("end_w"),
          count(lit(1)).as("n_active"), sum("e").as("seg_energy"))
        .drop("isl")
        .orderBy("doc_id", "start_w")
    }),
    // per-type EXACT p50/p90/p99 of the event value cents — the
    // latency-table shape: one (key, value) histogram shuffle, per-key
    // cume window over distinct values, cross-multiplied threshold
    "q_percentiles" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      graft.pipeline.Stats.percentileReport(ev, Seq("event_type"), "vc",
          Seq(500, 900, 990))
        .orderBy("event_type")
    }),
    // k-core prune of the customer-supplier purchase graph (2 fixed
    // rounds, k=4): per round one degree aggregate + two equi-joins
    // against the survivor table — the link-farm/tendril quality gate
    "q_kcore" -> ((s, dir) => {
      val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 100000L).as("dst"))
      graft.pipeline.Graph.kCore(edges, "src", "dst", k = 4, rounds = 2)
        .orderBy("node")
    }),
    // k-anonymity audit over (segment, nation, balance-band): flag
    // combos under k and report whether generalizing away the finest
    // column clears them — two aggregates + one aggregate-table join
    "q_kanonymity" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_mktsegment"),
        col("c_nationkey"),
        expr("cast(floor(c_acctbal / 1000) as bigint)").as("bal_band"))
      graft.pipeline.KAnonymity.audit(c,
          Seq("c_mktsegment", "c_nationkey", "bal_band"), k = 5L)
        .orderBy("c_mktsegment", "c_nationkey", "bal_band")
    }),
    // new + cumulative distinct users per (type, day) — exact
    // distinct-to-date from ONE fact shuffle (min-bucket per id, then
    // day-row aggregates; the cume window runs over days, not events)
    "q_growth_curve" -> ((s, dir) => {
      val ev = eventsMicros(s, dir)
        .withColumn("day", expr("tus div 86400000000"))
      graft.pipeline.Temporal.growthCurve(ev, Seq("event_type"),
          "user_id", "day")
        .orderBy("event_type", "day")
    }),
    // per-source percentile-rank calibration of n_chars: strictly-below
    // cume over the (source, score) histogram, one equi-join back —
    // makes heterogeneous per-source scores mixture-comparable
    "q_calibrate" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars"))
      graft.pipeline.QuantileFilter.calibrate(d, "source", "n_chars")
        .orderBy("doc_id")
    }),
    // per-doc Shannon token entropy in micro-nats (repetitiveness
    // gate): one (id, token) count aggregate, per-term micro-nat
    // rounding, no window — the psi/dsir integer-log discipline
    "q_token_entropy" -> ((s, dir) =>
      graft.pipeline.Stats.tokenEntropy(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id")),
    // order-header vs line-item conservation: children reduce first,
    // one left join, then a per-status mismatch summary — the
    // ingestion reconciliation report, all integer cents
    "q_reconcile" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("lcents"))
      graft.pipeline.Joins.conservationAudit(o, "o_orderkey", "cents",
          l, "l_orderkey", "lcents")
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderstatus"),
          "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("diff") =!= 0L, 1L).otherwise(0L)).as("n_mismatch"),
          sum(when(col("n_children") === 0L, 1L).otherwise(0L)).as("n_childless"),
          sum(abs(col("diff"))).as("sum_abs_diff"),
          max(abs(col("diff"))).as("max_abs_diff"))
        .orderBy("o_orderstatus")
    }),
    // per-type winsorized event values: exact p10/p990 band from the
    // histogram, one broadcastable join back, integer clamp
    "q_winsorize" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      graft.pipeline.Stats.winsorize(ev, Seq("event_type"), "vc", 10, 990)
        .orderBy("event_id")
    }),
    // median/MAD outlier gate per event type — the whale-proof twin of
    // q_anomaly's mean/sigma gate, all integer (two histogram passes)
    "q_robust_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      graft.pipeline.Stats.robustAnomalyFlags(ev, Seq("event_type"), "vc",
          kNum = 3, kDen = 1)
        .where(col("is_anomaly"))
        .select("event_id", "event_type", "vc", "med", "abs_dev", "mad")
        .orderBy("event_id")
    }),
    // M4 chart downsampling: per (type, day) exactly first/last/min/max
    // of the value series — one map-side-combinable groupBy, first/last
    // via lexicographic struct min/max (visually lossless, VLDB'14)
    "q_m4" -> ((s, dir) => {
      val ev = eventsMicros(s, dir).select(col("event_type"), col("tus"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      graft.pipeline.Temporal.m4Downsample(ev, Seq("event_type"), "tus", "vc",
          bucketWidth = 86400000000L)
        .orderBy("event_type", "bucket")
    }),
    // PPJoin-style Jaccard threshold self-join over 3-gram SHINGLE
    // sets at 90%: rare-first prefix equi-join (hottest prefix shingle
    // df = 7 on this corpus vs thousands for raw unigrams), symmetric
    // size filter, exact intersection verify — no blocking column
    // needed; output is exactly the generator's planted near-dups.
    "q_jaccard_join" -> ((s, dir) =>
      graft.pipeline.Dedup.jaccardPrefixPairs(
          t(s, dir, "documents"), "doc_id", "text", thresholdPermille = 900)
        .orderBy("a_id", "b_id")),
    // inter-event cadence regularity per user: integer gap moments off
    // one lag window, CV^2 < 1/10 division-cleared — the bot tell
    "q_gap_regularity" -> ((s, dir) =>
      graft.pipeline.Stats.gapRegularity(
          eventsMicros(s, dir).select(col("user_id"), col("tus")),
          Seq("user_id"), "tus", divisor = 1000000L, kNum = 1, kDen = 10,
          minGaps = 5)
        .orderBy("user_id")),
    // adjacent-bigram collocations (word2phrase): micro-nat PMI from two
    // map-side-combinable counts + two token-bounded equi-joins
    "q_colloc" -> ((s, dir) =>
      graft.pipeline.Stats.collocations(t(s, dir, "documents"), "text",
          minCount = 5L)
        .orderBy("a", "b")),
    // l-diversity audit: combos that are k-anonymous by count can still
    // leak a homogeneous sensitive value — two bounded groupBys
    "q_ldiversity" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_mktsegment"),
        col("c_nationkey"),
        expr("cast(floor(c_acctbal / 1000) as bigint)").as("bal_band"))
      graft.pipeline.KAnonymity.lDiversity(c,
          Seq("c_mktsegment", "c_nationkey"), "bal_band", l = 3L)
        .orderBy("c_mktsegment", "c_nationkey")
    }),
    // set-CONTAINMENT threshold join at 80%: a's rare-shingle prefix
    // probes b's full rare-ranked list (index-probe shape), one-sided
    // size filter, exact intersection verify — the asymmetric sibling
    // of q_jaccard_join (quote / subset-doc detection)
    "q_containment_join" -> ((s, dir) =>
      graft.pipeline.Dedup.containmentPrefixPairs(
          t(s, dir, "documents"), "doc_id", "text", thresholdPermille = 800)
        .orderBy("a_id", "b_id")),
    // Cohen's kappa between the gold lang column and the stopword-
    // profile LID guess: one label-pair groupBy, integer-cleared
    // (n·agree − Σ a_k·b_k)/(n² − Σ a_k·b_k) in sign-handled permille
    "q_kappa" -> ((s, dir) => {
      val lab = t(s, dir, "documents").select(col("lang").as("gold"),
        TextFunctions.language_id(col("text")).as("guess"))
      graft.pipeline.Stats.cohenKappa(lab, "gold", "guess")
    }),
    // symmetric window-3 co-occurrence counts (the GloVe stats pass):
    // per-row HOF pair generation + ONE map-side-combinable groupBy
    "q_cooccur" -> ((s, dir) =>
      graft.pipeline.Stats.windowCooccur(t(s, dir, "documents"), "text",
          window = 3, minCount = 5L)
        .orderBy("a", "b")),
    // LAG-based debounce on (user, type): drop events repeating within
    // 60 s of their predecessor — one partitioned window, ties broken
    // by event_id so exact-duplicate timestamps keep the smallest id
    "q_debounce" -> ((s, dir) =>
      graft.pipeline.Temporal.debounce(
          eventsMicros(s, dir).select(col("event_id"), col("user_id"),
            col("event_type"), col("tus")),
          Seq("user_id", "event_type"), "tus", "event_id",
          minGap = 60000000L)
        .orderBy("event_id")),
    // hash-shard balance audit: mix64(doc_id) & 63, per-shard rows +
    // byte weight + permille deviation from the even split
    "q_shard_balance" -> ((s, dir) =>
      graft.pipeline.Layout.shardBalance(t(s, dir, "documents"), "doc_id",
          length(col("text")), shards = 64)
        .orderBy("shard")),
    // ---- wave 12: agreement / eval / link-prediction / behavior ----
    // Fleiss' kappa over 7-rater panels (event_id div 7 = item,
    // event_type = vote): dense ids mean exactly one trailing
    // incomplete item, so the completeness filter visibly fires
    "q_fleiss" -> ((s, dir) =>
      graft.pipeline.Stats.fleissKappa(
        t(s, dir, "events").select(expr("event_id div 7").as("item"),
          col("event_type").as("cat")),
        "item", "cat", raters = 7)),
    // ROUGE-2 of each doc against its own 3/4-token prefix: per-row
    // clipped-bigram overlap, permille P/R/F — zero shuffles
    "q_rouge" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        col("text").as("cand"),
        concat_ws(" ",
          slice(toks, lit(1), expr("(size(split(text, ' ')) * 3) div 4")))
          .as("ref"))
      graft.pipeline.Stats.rougeN(pairs, "doc_id", "cand", "ref", n = 2)
        .orderBy("id")
    }),
    // Adamic-Adar link prediction on the lineitem adjacency-chain graph
    // (the q_triangles fixture): centers capped at deg 64 (max deg is
    // ~78 at sf0.01, so the hub guard visibly fires), micro-unit 1/ln
    // terms rounded per wedge, existing edges anti-joined away
    "q_link_predict" -> ((s, dir) => {
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      val edges = t(s, dir, "lineitem")
        .withColumn("nxt", lead("l_partkey", 1).over(w))
        .where(col("nxt").isNotNull && col("l_partkey") =!= col("nxt"))
        .select(col("l_partkey").as("src"), col("nxt").as("dst"))
      graft.pipeline.Graph.adamicAdar(edges, "src", "dst",
          maxDegree = 64, minCommon = 3L)
        .orderBy("u", "v")
    }),
    // "users who engaged X also engaged Y": distinct (user, item) with
    // item = props.k mod 20, hub users (> 19 distinct items) dropped
    // before the user-bounded pair self-join
    "q_also_viewed" -> ((s, dir) =>
      graft.pipeline.Graph.coMembership(
        t(s, dir, "events").select(col("user_id"),
          (get_json_object(col("props"), "$.k").cast("int") % 20).as("item")),
        "user_id", "item", maxItems = 19, minUsers = 2L)
        .orderBy("a", "b")),
    // exact lag-2 autocorrelation of each user's cent-scaled value
    // series: one lead window + one moment aggregate, DECIMAL-cleared
    // n²-scaled num/den, sign-handled permille
    "q_autocorr" -> ((s, dir) =>
      graft.pipeline.Temporal.autocorr(
        eventsMicros(s, dir).select(col("user_id"), col("tus"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents")),
        "user_id", "tus", "event_id", "cents", k = 2)
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id")),
    // ---- wave 13: variable-panel agreement / weighted dedup / blocklist ----
    // Krippendorff's alpha over VARIABLE panels: per 10-event block,
    // keep 2..5 ratings (block mod 4 sizes the panel); every 50th block
    // keeps one rating and must drop as unpairable
    "q_krippendorff" -> ((s, dir) =>
      graft.pipeline.Stats.krippendorffAlpha(
        t(s, dir, "events").where(expr(
          """CASE WHEN (event_id div 10) % 50 = 0 THEN event_id % 10 = 0
            |ELSE event_id % 10 < 2 + (event_id div 10) % 4 END""".stripMargin))
          .select(expr("event_id div 10").as("item"),
            col("event_type").as("cat")),
        "item", "cat")),
    // sparse tf-idf cosine join: centi-nat integer idf weights, df>400
    // terms dropped (the hub guard visibly fires on the small shared
    // vocabulary), inverted-index candidates, cos² >= 0.9² in ppm
    "q_cosine_join" -> ((s, dir) =>
      graft.pipeline.Dedup.cosineSimJoin(t(s, dir, "documents"),
          "doc_id", "text", thresholdPermille = 900, dfCap = 400L)
        .orderBy("a", "b")),
    // Aho-Corasick blocklist scan: one automaton pass per doc counting
    // ALL overlapping occurrences (the injected ' banana' proves the
    // overlap semantics: 'ana' counts twice inside one 'banana')
    "q_blocklist" -> ((s, dir) =>
      graft.pipeline.Blocklist.hits(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit(" banana")).otherwise(lit("")))
            .as("text")),
        "doc_id", "text",
        Seq("an", "ana", "na", "scan", "batch", "banana"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "pattern"))
    ,
    // ---- wave 14: t-closeness / readability / journey mining ----
    // t-closeness over the acctbal band (ordered sensitive): integer
    // EMD of each quasi combo's band distribution vs the corpus
    "q_tcloseness" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_mktsegment"),
        col("c_nationkey"),
        expr("cast(floor(c_acctbal / 1000) as bigint)").as("bal_band"))
      graft.pipeline.KAnonymity.tCloseness(c,
          Seq("c_mktsegment", "c_nationkey"), "bal_band", tPermille = 300L)
        .orderBy("c_mktsegment", "c_nationkey")
    }),
    // Flesch reading ease on the sentence-per-line clean_lines shape
    // (same ' line ' -> newline fixture as q_clean_lines); milli-points
    // rounded once from two exact integer divisions
    "q_readability" -> ((s, dir) =>
      graft.pipeline.Readability.flesch(
        t(s, dir, "documents").select(col("doc_id"),
          regexp_replace(col("text"), " line ", "\n").as("lined")),
        "doc_id", "lined")
        .orderBy("id")),
    // session journey mining: 1-day-gap sessions (the synthetic feed's
    // median per-user cadence is ~7h, so day sessions hold real paths),
    // ordered type paths, corpus-wide trigram journey counts
    "q_journeys" -> ((s, dir) =>
      graft.pipeline.Temporal.journeys(
        eventsMicros(s, dir).select(col("user_id"), col("tus"),
          col("event_id"), col("event_type")),
        "user_id", "tus", "event_id", "event_type",
        gapMicros = 86400000000L, n = 3, minCount = 5L)
        .orderBy("journey")),
    // three greedy BPE merge rounds (Sennrich et al.): pair counts,
    // deterministic argmax, delimiter-replace rewrite — the iterative
    // loop q_bpe_pairs stops short of, fully SQL-replayed by the oracle
    "q_bpe_learn" -> ((s, dir) =>
      graft.pipeline.Bpe.learn(t(s, dir, "documents"), "text", rounds = 3)
        .orderBy("round")),
    // minhash-LSH quality audit on the chained near-dup fixture
    // (q_dedup_pipeline's v0/v1/v2): precision/recall of the banded
    // est>=0.5 candidates against the exact trigram-jaccard>=0.5 truth
    // (direct shingle-intersection join — no prefix/hotCap pruning, so
    // the truth side is lossless by construction)
    "q_minhash_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") % 5 === 0)
      val toks = split(col("text"), " ")
      val n1 = floor(size(toks) * 4 / 5).cast("int")
      val n2 = floor(floor(size(toks) * 4 / 5) * 4 / 5).cast("int")
      // the fixture feeds the truth side AND the minhash side, and the
      // shingle table feeds sizes + both intersection sides: one
      // materialization each (the un-checkpointed form re-scanned the
      // parquet 96 times)
      val fx = docs.select((col("doc_id") * 3).as("id"), col("text"))
        .union(docs.select((col("doc_id") * 3 + 1).as("id"),
          concat_ws(" ", slice(toks, lit(1), n1)).as("text")))
        .union(docs.select((col("doc_id") * 3 + 2).as("id"),
          concat_ws(" ", slice(toks, lit(1), n2)).as("text")))
        .localCheckpoint(true)
      import graft.pipeline.{TextFunctions, DistinctNGrams}
      import graft.expressions.asExpr
      val sh = fx.select(col("id"),
          explode(TextFunctions.c(DistinctNGrams(asExpr(split(col("text"), " ")), 3))).as("tok"))
        .where(col("tok") =!= "")
        .localCheckpoint(true)
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
      val inter = sh.select(col("id").as("a_id"), col("tok"))
        .join(sh.select(col("id").as("b_id"), col("tok")), "tok")
        .where(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      val truth = inter
        .join(sizes.select(col("id").as("a_id"), col("sz").as("sa")), "a_id")
        .join(sizes.select(col("id").as("b_id"), col("sz").as("sb")), "b_id")
        .where(col("inter") * 1000 >= lit(500L) * (col("sa") + col("sb") - col("inter")))
        .select("a_id", "b_id")
      val cand = graft.pipeline.Dedup.minhashPairs(fx, "id", "text",
        threshold = 0.5).select("a_id", "b_id")
      val tp = cand.join(truth, Seq("a_id", "b_id"))
        .agg(count(lit(1)).as("tp"))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      val nc = cand.agg(count(lit(1)).as("n_cand"))
      broadcast(nt).crossJoin(broadcast(nc)).crossJoin(broadcast(tp))
        .select(col("n_truth"), col("n_cand"), col("tp"),
          when(col("n_cand") > 0, expr("tp * 1000 div n_cand")).as("precision_permille"),
          when(col("n_truth") > 0, expr("tp * 1000 div n_truth")).as("recall_permille"))
    }),
    // contrastive mining: per anchor, best same-label and best
    // different-label IVF-cell mate (ties to the smallest id)
    "q_hard_negatives" -> ((s, dir) =>
      // maxCellMates=8 binds at sf0.01 so the hub guard's semantics
      // (mates = 8 lowest-id cell members) are pinned by the oracle
      graft.pipeline.Similarity.hardNegatives(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        maxCellMates = 8)
        .orderBy("query_id")),
    // per-doc trigram novelty vs earlier doc ids: the memorization /
    // freshness audit — gram origin = min doc id, one groupBy + one
    // gram-keyed join back (the tfidf shape)
    "q_novelty" -> ((s, dir) =>
      graft.pipeline.Stats.ngramNovelty(
        t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("id")),
    // trending terms: weekly tumbling-window token counts through the
    // SHARED batch/streaming termCountsWindowed, top-3 per window cut
    // batch-side (a rank after a streaming agg would chain two
    // stateful aggregations)
    "q_trending" -> ((s, dir) => {
      // concat_ws (null-skipping) so a null props.k degrades to the bare
      // event_type token — identical to the oracle's UNION branches,
      // where plain concat would NULL the whole message and drop BOTH
      val msg = concat_ws(" ", col("event_type"), concat(lit("k"),
        (get_json_object(col("props"), "$.k").cast("int") % 20).cast("string")))
      val ev = eventsMicros(s, dir)
        .select(timestamp_micros(col("tus")).as("ts2"), msg.as("text"))
      val counts = graft.streaming.StreamingPipeline.termCountsWindowed(
        ev, "ts2", "text", "7 days")
      val w = Window.partitionBy("window_start")
        .orderBy(desc("cnt"), col("term"))
      counts.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(unix_micros(col("window_start")).as("w_start"),
          col("term"), col("cnt"), col("rank"))
        .orderBy("w_start", "rank")
    }),
    // ---- wave 17: JL projection / Zipf fit / burst segments ----
    // JL ±1 random projection to 8 exact-integer components; exploded so
    // the compare harness sorts scalars (power-of-two quantization makes
    // the float->int step replayable with no round-mode dependence)
    "q_rand_proj" -> ((s, dir) =>
      t(s, dir, "embeddings").select(col("vec_id"),
        posexplode(graft.pipeline.Similarity.randomProjection(
          col("embedding"), 8, 7L)))
        .select(col("vec_id"), col("pos").cast("int").as("j"),
          col("col").as("y"))
        .orderBy("vec_id", "j")),
    // Zipf rank-frequency fit over the corpus vocabulary: one token
    // count, a TakeOrdered top-500 cut, integer least squares
    "q_zipf" -> ((s, dir) =>
      graft.pipeline.Stats.zipfFit(t(s, dir, "documents"), "text",
        topR = 500)),
    // burst segments: maximal runs of consecutive days with >= 67
    // events per type (gaps-and-islands over the bucketed count table)
    "q_bursts" -> ((s, dir) => {
      val daily = eventsMicros(s, dir)
        .select(col("event_type"), expr("tus div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      graft.pipeline.Temporal.burstSegments(daily, "event_type", "day",
          "cnt", threshold = 67L, minLen = 2)
        .orderBy("event_type", "seg_start")
    }),
    // BPE learn -> APPLY composition: the merge table from 8 greedy
    // rounds (one row per round — a metadata-sized driver fetch, the
    // CIDR-rule-list class of bounded collect) tokenizes the corpus
    // through the single native BpeApplyMerges kernel — zero shuffles
    // and ONE plan node in the apply pass however many merges ride in
    "q_bpe_apply" -> ((s, dir) => {
      val merges = graft.pipeline.Bpe.learn(
          t(s, dir, "documents").select(col("text")), "text", rounds = 8)
        .orderBy("round").collect()
        .map { r => val p = r.getString(1).split(" "); (p(0), p(1)) }
      graft.pipeline.Bpe.applyMerges(
          t(s, dir, "documents"), "doc_id", "text", merges.toSeq).orderBy("id")
    }),
    // scene-change detection over framed bytes: consecutive-frame
    // byte-histogram L1 deltas (one pass, integer counts), cut where
    // the delta clears the threshold
    "q_scene_cuts" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        posexplode(Multimodal.frame_deltas(
          Multimodal.to_blob(col("text")), 64, 64, 16)))
        .select(col("doc_id"), col("pos").cast("int").as("pos"),
          col("col").as("delta"))
        .where(col("delta") >= 16L)
        .orderBy("doc_id", "pos")),
    // ---- wave 19: A/B significance / KS drift / MRR ----
    // chi-square 2x2 per event type: variant = odd user, success =
    // value > 50; the A/B significance readout
    "q_chi2" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        (col("user_id") % 2 === 1).as("grp"),
        (col("value") > 50.0).as("succ"))
      graft.pipeline.Stats.chiSquare2x2(e, Seq("event_type"), "grp", "succ")
        .orderBy("event_type")
    }),
    // two-sample KS over value cents: view vs click distributions.
    // One injected NULL row per side pins the operator's NULL-exclusion
    // contract cross-engine (the oracle injects the same rows and
    // filters them the way the operator does)
    "q_ks" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      val nulls = s.range(1).select(lit("view").as("event_type"),
          lit(null).cast("long").as("vc"))
        .unionByName(s.range(1).select(lit("click").as("event_type"),
          lit(null).cast("long").as("vc")))
      val all = e.unionByName(nulls)
      graft.pipeline.Stats.ksStatistic(
        all.where(col("event_type") === "view"),
        all.where(col("event_type") === "click"), "vc")
    }),
    // Gries' DP dispersion of the 50 most source-concentrated tokens —
    // the template/boilerplate screen TF-IDF misses
    "q_dispersion" -> ((s, dir) =>
      graft.pipeline.Stats.tokenDispersion(
        t(s, dir, "documents"), "source", "text", minCount = 5L, k = 50)),
    // ---- wave 46: the evaluation-metrics pack ----
    // ROC-AUC + Cliff's delta per source: does doc length rank en docs
    // above non-en — threshold-free, the exact integer U machinery
    "q_roc_auc" -> ((s, dir) =>
      graft.pipeline.Stats.rocAuc(
        t(s, dir, "documents").select(col("source"),
          (col("lang") === "en").as("g"), col("n_chars")),
        Seq("source"), "g", "n_chars").orderBy("source")),
    // trapezoidal PR-AUC over the same ranking — the imbalance-honest
    // companion (per-threshold nano terms, exact long area)
    "q_pr_auc" -> ((s, dir) =>
      graft.pipeline.Stats.prAuc(
        t(s, dir, "documents").select(col("source"),
          (col("lang") === "en").as("g"), col("n_chars")),
        Seq("source"), "g", "n_chars").orderBy("source")),
    // Matthews correlation of the n_chars>500 "classifier" against the
    // en label — the imbalance-safe confusion-matrix quality number
    "q_mcc" -> ((s, dir) =>
      graft.pipeline.Stats.mcc(
        t(s, dir, "documents").select(col("source"),
          (col("lang") === "en").as("y"),
          (col("n_chars") > 500L).as("p")),
        Seq("source"), "y", "p").orderBy("source")),
    // calibration report + ECE of a deterministic data-derived
    // micro-probability against the en label (10 fixed-width bins)
    "q_ece" -> ((s, dir) =>
      graft.pipeline.Stats.calibrationReport(
        t(s, dir, "documents").select(
          expr("(n_chars * 997) % 1000001").as("p"),
          (col("lang") === "en").as("y")),
        "p", "y", bins = 10).orderBy("bin")),
    // McNemar paired comparison of two length "models" on the same docs
    "q_mcnemar" -> ((s, dir) =>
      graft.pipeline.Stats.mcnemar(
        t(s, dir, "documents").select(col("source"),
          (col("n_chars") > 400L).as("a"),
          (size(split(col("text"), " ")) > 80).as("b")),
        Seq("source"), "a", "b").orderBy("source")),
    // Nelson-Aalen cumulative hazard on the q_km cohorts — the additive
    // twin whose increments are per-time event rates
    "q_nelson_aalen" -> ((s, dir) => {
      val units = eventsMicros(s, dir)
        .groupBy("user_id")
        .agg(expr("(max(tus) - min(tus)) div 86400000000").as("duration"),
          (count(when(col("event_type") === "purchase", 1)) > 0).as("ev"))
        .withColumn("cohort", pmod(col("user_id"), lit(4L)))
      graft.pipeline.Stats.nelsonAalen(units, Seq("cohort"), "duration", "ev")
        .orderBy("cohort", "t")
    }),
    // Welch's unequal-variance t per source: en vs non-en doc length
    // without the equal-spread assumption (exact moments, round-once t)
    "q_welch_t" -> ((s, dir) =>
      graft.pipeline.Stats.welchT(
        t(s, dir, "documents").select(col("source"),
          (col("lang") === "en").as("g"), col("n_chars")),
        Seq("source"), "g", "n_chars").orderBy("source")),
    // ---- wave 47: independence / dose-response / coverage ----
    // k x m chi-square + Cramer's V: is lang independent of source
    // (exact per-cell nano terms over the dense level grid)
    "q_chi_kxm" -> ((s, dir) =>
      graft.pipeline.Stats.chiSquareKxM(
        t(s, dir, "documents"), "lang", "source")),
    // mutual information + Theil's U: the chi-square's effect size in
    // information units (how many nats does source tell you about lang)
    "q_mutual_info" -> ((s, dir) =>
      graft.pipeline.Stats.mutualInformation(
        t(s, dir, "documents"), "lang", "source")),
    // per-user autocorrelation of the event-value series at lags 1..3
    // (exact mean-centered moments, one round-once division per lag)
    "q_acf" -> ((s, dir) =>
      graft.pipeline.Stats.acf(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("user_id"), "event_id", "vc", maxLag = 3)
        .orderBy("user_id", "lag")),
    // Durbin-Watson on the per-user event-value series — first-order
    // serial correlation (one key window + one groupBy)
    "q_durbin_watson" -> ((s, dir) =>
      graft.pipeline.Stats.durbinWatson(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("user_id"), "event_id", "vc")
        .orderBy("user_id")),
    // Wald-Wolfowitz runs test on the per-user above-median flag —
    // does the boolean health signal streak?
    "q_runs_test" -> ((s, dir) =>
      graft.pipeline.Stats.runsTest(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint) > 50").as("hi")),
        Seq("user_id"), "event_id", "hi")
        .orderBy("user_id")),
    // Ljung-Box whiteness check composing q_acf's quantized output by
    // contract (integer per-lag terms — order-independent)
    "q_ljung_box" -> ((s, dir) =>
      graft.pipeline.Stats.ljungBox(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("user_id"), "event_id", "vc", maxLag = 3)
        .orderBy("user_id")),
    // Jarque-Bera normality per event type — exact 4-moment power
    // sums, scale-free skew/kurtosis ratios, one groupBy
    "q_jarque_bera" -> ((s, dir) =>
      graft.pipeline.Stats.jarqueBera(
        t(s, dir, "events").select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("event_type"), "vc")
        .orderBy("event_type")),
    // Cochran's Q per cohort: paired binary "did the user engage with
    // each event type" over complete absence-as-failure blocks
    "q_cochran_q" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .where(col("value").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull)
        .select((col("user_id") % 2).as("cohort"), col("user_id"),
          col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("vc"))
      val y = e.groupBy("cohort", "user_id", "event_type")
        .agg((max(col("vc")) > 50L).as("y"))
      val users = e.select("cohort", "user_id").distinct()
      val types = e.select("event_type").distinct()
      val grid = users.join(broadcast(types))
        .join(y, Seq("cohort", "user_id", "event_type"), "left")
        .na.fill(false, Seq("y"))
      graft.pipeline.Stats.cochranQ(grid, Seq("cohort"), "user_id",
        "event_type", "y").orderBy("cohort")
    }),
    // Bartlett variance-homogeneity gate per cohort before anovaF —
    // per-group nano-rounded ln-variance terms, order-independent
    "q_bartlett" -> ((s, dir) =>
      graft.pipeline.Stats.bartlett(
        t(s, dir, "events").select((col("user_id") % 4).as("cohort"),
          col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("cohort"), "event_type", "vc")
        .orderBy("cohort")),
    // Mood's median test per cohort — pooled lower median over the
    // distinct-value histogram, then the k x 2 exact-nano chi2
    "q_moods_median" -> ((s, dir) =>
      graft.pipeline.Stats.moodsMedian(
        t(s, dir, "events").select((col("user_id") % 4).as("cohort"),
          col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("cohort"), "event_type", "vc")
        .orderBy("cohort")),
    // Theil T + Atkinson inequality of document length per source —
    // value-weighted where gini ranks key counts; positive-only
    // contract, zeros filtered DELIBERATELY here
    "q_theil" -> ((s, dir) =>
      graft.pipeline.Stats.theilInequality(
        t(s, dir, "documents")
          .where(col("n_chars").isNotNull && col("n_chars") > 0L)
          .select(col("source"), col("n_chars")),
        Seq("source"), "n_chars")
        .orderBy("source")),
    // exact 10%-trimmed mean of event value per type over the
    // distinct-value histogram — no row sort
    "q_trimmed_mean" -> ((s, dir) =>
      graft.pipeline.Stats.trimmedMean(
        t(s, dir, "events").select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("event_type"), "vc", trimPpm = 100000L)
        .orderBy("event_type")),
    // G-test of independence on the q_chi_kxm inputs — observed cells
    // only (no dense grid), 2N*MI in nano-nats with dof
    "q_g_test" -> ((s, dir) =>
      graft.pipeline.Stats.gTest(
        t(s, dir, "documents"), "lang", "source")),
    // Fisher-z comparison: did the value/noisy-value correlation
    // change between the even/odd user cohorts, per event type
    "q_corr_compare" -> ((s, dir) =>
      graft.pipeline.Stats.corrCompare(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 2 === 0L).as("seg"),
          expr("cast(round(value * 100) as bigint)").as("x"),
          expr("cast(round(value * 100) as bigint) + (event_id % 21) - 10")
            .as("y")),
        Seq("event_type"), "seg", "x", "y")
        .orderBy("event_type")),
    // Brier score per event type: proper scoring of vc-as-probability
    // against the even-event label — exact integer squared gaps
    "q_brier" -> ((s, dir) =>
      graft.pipeline.Stats.brierScore(
        t(s, dir, "events").select(col("event_type"),
          expr("greatest(least(cast(round(value * 100) as bigint)" +
            " * 10000, 1000000L), 0L)").as("p"),
          (col("event_id") % 2 === 0L).as("y")),
        Seq("event_type"), "p", "y")
        .orderBy("event_type")),
    // Cohen's h: the arcsine effect size next to q_two_prop's z
    "q_cohens_h" -> ((s, dir) =>
      graft.pipeline.Stats.cohensH(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 2 === 0L).as("grp"),
          expr("cast(round(value * 100) as bigint) > 50").as("succ")),
        Seq("event_type"), "grp", "succ")
        .orderBy("event_type")),
    // Benjamini-Yekutieli over the q_bh_fdr per-test table — FDR
    // under arbitrary dependence (harmonic-corrected threshold)
    "q_by_fdr" -> ((s, dir) =>
      graft.pipeline.Stats.byFdr(
        t(s, dir, "documents").groupBy("source", "lang")
          .agg(expr("cast(sum(n_chars) % 1000000 as bigint)")
            .as("p_micro")),
        Seq("source", "lang"), "p_micro")
        .orderBy("rank")),
    // pairwise Welch post-hoc after q_anova_f — which event-type
    // pairs differ, per cohort; k^2 pairs of moment rows only
    "q_pairwise_welch" -> ((s, dir) =>
      graft.pipeline.Stats.pairwiseWelch(
        t(s, dir, "events").select((col("user_id") % 2).as("cohort"),
          col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("cohort"), "event_type", "vc")
        .orderBy("cohort", "g_a", "g_b")),
    // streaming quantile monitor batch face: exact cumulative
    // p50/p90/p99 per cohort under the percentileReport rule.
    // Bin width COMPUTED via quantizeStepPerKey (the q_drift_monitor
    // contract, per-key because quantileStream's 4096 cap is per key):
    // the r19 baseline bench proved the hand-picked centi width
    // detonates the cap at sf0.1 (key 0: 11015 distinct cents) exactly
    // like the r17 drift-monitor blowout. Percentiles are reported as
    // the quantized bin's lower bound re-scaled to cents (vq * step),
    // so at any SF where step = 1 the output is bit-identical to the
    // unquantized monitor; the oracle replays the same step CTE.
    "q_quantile_monitor" -> ((s, dir) => {
      val e0 = t(s, dir, "events").select((col("user_id") % 4).as("k"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      val step = graft.pipeline.Stats.quantizeStepPerKey(
        e0, Seq("k"), "vc", maxBins = 4096)
      graft.streaming.StreamingPipeline.quantileStream(
          e0.select(col("k"), expr(s"vc div ${step}L").as("vq")),
          "k", "vq").toDF()
        .select(col("key"), col("n"),
          (col("p500") * step).as("p500"),
          (col("p900") * step).as("p900"),
          (col("p990") * step).as("p990"))
        .orderBy("key")
    }),
    // per-key deterministic k-sample: 10 winning event ids per type
    // by seedless mix64 priority — the reservoirStream batch face
    "q_sample_per_key" -> ((s, dir) =>
      graft.pipeline.Splits.prioritySamplePerKey(
        t(s, dir, "events").select(col("event_type"), col("event_id")),
        Seq("event_type"), "event_id", k = 10)
        .orderBy("event_type", "priority")),
    // ICC(1,1) per cohort over the per-user event-type count panel —
    // the per-rating reliability twin of q_cronbach, same grid
    "q_icc" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("event_type").isNotNull)
        .select((col("user_id") % 2).as("cohort"), col("user_id"),
          col("event_type"))
      val counts = e.groupBy("cohort", "user_id", "event_type")
        .agg(count(lit(1)).as("score"))
      val users = e.select("cohort", "user_id").distinct()
      val types = e.select("event_type").distinct()
      val grid = users.join(broadcast(types))
        .join(counts, Seq("cohort", "user_id", "event_type"), "left")
        .na.fill(0L, Seq("score"))
      graft.pipeline.Stats.icc(grid, Seq("cohort"), "user_id", "score")
        .orderBy("cohort")
    }),
    // Holm-Bonferroni step-down over the q_bh_fdr per-test table —
    // family-wise control where bh_fdr controls FDR
    "q_holm" -> ((s, dir) =>
      graft.pipeline.Stats.holmBonferroni(
        t(s, dir, "documents").groupBy("source", "lang")
          .agg(expr("cast(sum(n_chars) % 1000000 as bigint)")
            .as("p_micro")),
        Seq("source", "lang"), "p_micro")
        .orderBy("rank")),
    // difference-in-differences per event type: even/odd users as
    // treated/control, even/odd event ids as post/pre
    "q_did" -> ((s, dir) =>
      graft.pipeline.Stats.diffInDiff(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 2 === 0L).as("grp"),
          (col("event_id") % 2 === 0L).as("post"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("event_type"), "grp", "post", "vc")
        .orderBy("event_type")),
    // Poisson rate-ratio per event type: events-per-user between the
    // even/odd cohorts (unit exposure per user)
    "q_poisson_rate" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy(col("event_type"), (col("user_id") % 2 === 0L).as("grp"),
          col("user_id"))
        .agg(count(lit(1)).as("ev"))
        .withColumn("expo", lit(1L))
      graft.pipeline.Stats.poissonRateTest(u, Seq("event_type"), "grp",
        "ev", "expo").orderBy("event_type")
    }),
    // Heaps-law vocabulary growth fit over doc-boundary checkpoints
    // — is new vocabulary still arriving, and how fast
    "q_heaps" -> ((s, dir) =>
      graft.pipeline.Stats.heapsLaw(
        t(s, dir, "documents"), "doc_id", "text")),
    // Hellinger + Bhattacharyya on the q_ks slices — the metric-space
    // drift pair over quantizeStep-derived bins, shared values only
    "q_hellinger" -> ((s, dir) => {
      val e = quantizedEvents(s, dir)
      graft.pipeline.Stats.hellingerDistance(
        e.where(col("event_type") === "view"),
        e.where(col("event_type") === "click"), "vc")
    }),
    // quadratic-weighted kappa between two ordinal length raters —
    // near-diagonal disagreement penalized less than far
    "q_weighted_kappa" -> ((s, dir) =>
      graft.pipeline.Stats.weightedKappa(
        t(s, dir, "documents")
          .where(col("n_chars").isNotNull && col("text").isNotNull)
          .select(least(expr("n_chars div 200"), lit(4L)).as("ra"),
            least(expr("size(split(text, ' ')) div 40"), lit(4L))
              .as("rb")),
        "ra", "rb")),
    // Cronbach's alpha per cohort: is the per-user event-type count
    // panel internally consistent (complete absence-as-zero blocks)
    "q_cronbach" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("event_type").isNotNull)
        .select((col("user_id") % 2).as("cohort"), col("user_id"),
          col("event_type"))
      val counts = e.groupBy("cohort", "user_id", "event_type")
        .agg(count(lit(1)).as("score"))
      val users = e.select("cohort", "user_id").distinct()
      val types = e.select("event_type").distinct()
      val grid = users.join(broadcast(types))
        .join(counts, Seq("cohort", "user_id", "event_type"), "left")
        .na.fill(0L, Seq("score"))
      graft.pipeline.Stats.cronbachAlpha(grid, Seq("cohort"), "user_id",
        "event_type", "score").orderBy("cohort")
    }),
    // two-proportion z + Wilson 95% brackets per event type: did the
    // even/odd user cohorts convert (value > .5) at the same rate
    "q_two_prop" -> ((s, dir) =>
      graft.pipeline.Stats.twoProportionZ(
        t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 2 === 0L).as("grp"),
          expr("cast(round(value * 100) as bigint) > 50").as("succ")),
        Seq("event_type"), "grp", "succ")
        .orderBy("event_type")),
    // Page-Hinkley mean-shift detector per user over the event-value
    // series — running-mean deviation, final row per key
    "q_page_hinkley" -> ((s, dir) =>
      graft.pipeline.Stats.pageHinkley(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("user_id"), "event_id", "vc", deltaMicro = 0L,
        lambdaMicro = 2000000L)
        .orderBy("user_id")),
    // Good-Turing unseen mass + Chao1 vocabulary estimate — how much
    // of the corpus vocabulary the crawl has NOT seen yet
    "q_vocab_richness" -> ((s, dir) =>
      graft.pipeline.Stats.vocabularyRichness(
        t(s, dir, "documents"), "text")),
    // Cohen's d / Hedges' g per source: the effect SIZE next to
    // q_welch_t's significance (same six exact moments)
    "q_cohens_d" -> ((s, dir) =>
      graft.pipeline.Stats.cohensD(
        t(s, dir, "documents").select(col("source"),
          (col("lang") === "en").as("g"), col("n_chars")),
        Seq("source"), "g", "n_chars").orderBy("source")),
    // Cochran-Armitage: does the en rate trend with the length tier
    // (the ordered-alternative test a k x 2 chi-square wastes power on)
    "q_cochran_armitage" -> ((s, dir) =>
      graft.pipeline.Stats.cochranArmitage(
        t(s, dir, "documents").select(col("source"),
          expr("n_chars div 100").as("tier"),
          (col("lang") === "en").as("y")),
        Seq("source"), "tier", "y").orderBy("source")),
    // Kruskal-Wallis H per source: distribution-free k-group location
    // test over pooled double mid-ranks (the MWU machinery, k groups)
    "q_kruskal" -> ((s, dir) =>
      graft.pipeline.Stats.kruskalWallis(
        t(s, dir, "documents").select(col("source"), col("lang"),
          col("n_chars")),
        Seq("source"), "lang", "n_chars").orderBy("source")),
    // Grubbs' outlier statistic per source: is the most extreme doc
    // length a statistical outlier (extremes-only, one moment pass)
    "q_grubbs" -> ((s, dir) =>
      graft.pipeline.Stats.grubbs(
        t(s, dir, "documents").select(col("source"), col("n_chars")),
        Seq("source"), "n_chars").orderBy("source")),
    // one-way ANOVA F per source: does doc length differ across langs
    // (per-group nano terms over exact DECIMAL moments)
    "q_anova_f" -> ((s, dir) =>
      graft.pipeline.Stats.anovaF(
        t(s, dir, "documents").select(col("source"), col("lang"),
          col("n_chars")),
        Seq("source"), "lang", "n_chars").orderBy("source")),
    // Brown-Forsythe: do langs have the same length SPREAD per source
    // (lower medians off the distinct-value histogram, anova on |x-med|)
    "q_brown_forsythe" -> ((s, dir) =>
      graft.pipeline.Stats.brownForsythe(
        t(s, dir, "documents").select(col("source"), col("lang"),
          col("n_chars")),
        Seq("source"), "lang", "n_chars").orderBy("source")),
    // the drift monitor's batch face: per user-parity cohort, the click
    // value histogram scored against the GLOBAL view histogram with the
    // exact streaming arithmetic (flatMapGroupsWithState in batch mode)
    "q_drift_monitor" -> ((s, dir) => {
      // the bin width is COMPUTED, not hand-picked: centi-quantize,
      // then quantizeStep probes the distinct-value lattice for the
      // finest power-of-10 step fitting the monitor's maxBins cap at
      // THIS scale (the r17 lesson: hand-picked centi hit 9913 bins at
      // sf0.1 and the guard failed the job loudly — as designed; the
      // oracle replays the identical step computation in SQL)
      val e0 = t(s, dir, "events").select(col("user_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      val step = graft.pipeline.Stats.quantizeStep(e0, "vc", maxBins = 4096)
      val e = e0.select(col("user_id"), col("event_type"),
        expr(s"vc div ${step}L").as("vq"))
      val refHist = e.where(col("event_type") === "view")
        .groupBy("vq").agg(count(lit(1)).as("c")).orderBy("vq")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq // bounded: <= maxBins
      graft.streaming.StreamingPipeline.driftStream(
        e.where(col("event_type") === "click")
          .select(pmod(col("user_id"), lit(4L)).as("k"), col("vq")),
        "k", "vq", refHist)
        .toDF().orderBy("key")
    }),
    // ---- wave 50: tail-sensitive drift + live calibration ----
    // Anderson-Darling two-sample on the q_ks slices: the 1/(F(1-F))
    // tail weighting catches distribution-tail shifts KS misses
    "q_anderson_darling" -> ((s, dir) => {
      // bin width COMPUTED via quantizeStep (the q_drift_monitor
      // contract) — safe at any SF, oracle replays the same step CTE
      val e = quantizedEvents(s, dir)
      graft.pipeline.Stats.andersonDarling(
        e.where(col("event_type") === "view"),
        e.where(col("event_type") === "click"), "vc")
    }),
    // energy distance on the q_ks slices: the metric-space two-sample
    // statistic — exact prefix-identity pair sums, zero pair joins
    "q_energy_dist" -> ((s, dir) => {
      val e = quantizedEvents(s, dir)
      graft.pipeline.Stats.energyDistance(
        e.where(col("event_type") === "view"),
        e.where(col("event_type") === "click"), "vc")
    }),
    // the calibration monitor's batch face: per user-parity cohort,
    // cumulative per-bin (n, pos, conf) state re-scored with the exact
    // batch ECE arithmetic (flatMapGroupsWithState in batch mode)
    "q_calibration_monitor" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        pmod(col("user_id"), lit(4L)).as("k"),
        expr("(cast(round(value * 100) as bigint) * 997) % 1000001")
          .as("p"),
        (col("event_id") % 2L === 0L).as("y"))
      graft.streaming.StreamingPipeline.calibrationStream(
        e, "k", "p", "y", bins = 10).toDF().orderBy("key")
    }),
    // ---- wave 43: the drift-family completion ----
    // W1 (magnitude), TV (mass fraction), CvM (whole-curve squared gap)
    // over the q_ks slices — one pass, exact integers + per-term nano
    "q_dist_shift" -> ((s, dir) => {
      val e = quantizedEvents(s, dir)
      graft.pipeline.Stats.distributionDistance(
        e.where(col("event_type") === "view"),
        e.where(col("event_type") === "click"), "vc")
    }),
    // MRR@3 of the IVF list against brute-force truth — the
    // first-hit leg of the retrieval-eval family (recall / nDCG / MRR)
    "q_mrr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val results = Similarity.ivfTopK(e, "vec_id", "embedding", 3)
      val truth = Similarity.bruteTopK(e, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      Similarity.mrrK(results, truth, 3).orderBy("query_id")
    }),
    // ---- wave 20: feature hashing / conformal calibration ----
    // vocabulary-free signed hashing-trick vectorizer: 16 buckets per
    // doc (zeros included), exploded to orderable scalars
    "q_feature_hash" -> ((s, dir) => {
      import graft.expressions.{asColumn, asExpr}
      t(s, dir, "documents").select(col("doc_id"),
        posexplode(asColumn(graft.pipeline.FeatureHash(
          asExpr(filter(split(col("text"), " "), t => t =!= "")), 16, 5L))))
        .select(col("doc_id"), col("pos").cast("int").as("bucket"),
          col("col").as("w"))
        .orderBy("doc_id", "bucket")
    }),
    // split-conformal 90%-coverage threshold over value cents: k-th
    // smallest calibration score, k = ceil((n+1)*0.9)
    "q_conformal" -> ((s, dir) =>
      graft.pipeline.Stats.conformalQuantile(
        t(s, dir, "events").select(
          expr("cast(round(value * 100) as bigint)").as("score")),
        "score", alphaPermille = 100)),
    // ---- wave 21: retrieval scoring / leakage audit / bootstrap ----
    // BM25 top-10 against a 3-term query, k1=1.2 b=0.75, micro-point
    // round-once contributions
    "q_bm25" -> ((s, dir) =>
      graft.pipeline.Dedup.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "table", "hash"), 1200, 750, 10).orderBy("rank")),
    // token->lang mutual information: the label-leakage audit, top-20
    // tokens by integer micro-nat MI
    "q_token_label_mi" -> ((s, dir) =>
      graft.pipeline.Stats.tokenLabelMI(
        t(s, dir, "documents"), "doc_id", "text", "lang", 20)
        .orderBy("rank")),
    // Poisson bootstrap of mean event value cents: 16 deterministic
    // mix64 replicates, exact integer (n_eff, sum_w) per replicate
    "q_bootstrap" -> ((s, dir) =>
      graft.pipeline.Stats.poissonBootstrap(
        t(s, dir, "events").select(col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents")),
        "event_id", "cents", reps = 16).orderBy("rep")),
    // ---- wave 22: mixture-shift / overlap / confounding audits ----
    // token KL divergence, src0 slice vs the rest: top-20 tokens most
    // over-represented in src0, add-one smoothed micro-nats
    "q_token_kl" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.pipeline.Stats.tokenKL(
        d.where(col("source") === "src0"),
        d.where(col("source") =!= "src0"), "text", 20).orderBy("rank")
    }),
    // cross-source content Jaccard over 8-token-prefix fingerprints
    // (full-text fingerprints share nothing across the synthetic
    // sources; prefix keys are the near-dup-shaped variant)
    "q_source_overlap" -> ((s, dir) =>
      graft.pipeline.Dedup.sourceOverlap(
        t(s, dir, "documents").select(col("source"),
          array_join(slice(split(col("text"), " "), 1, 8), " ").as("text")),
        "source", "text")
        .orderBy("src_a", "src_b")),
    // Simpson screen: per-event-type 2x2 (even user vs high value)
    // against the pooled direction, rational sign compare
    "q_simpson" -> ((s, dir) =>
      graft.pipeline.Stats.simpsonReversals(
        t(s, dir, "events").select(col("event_type"),
          expr("user_id % 2 = 0").as("grp"),
          expr("cast(round(value * 100) as bigint) >= 500").as("succ")),
        "event_type", "grp", "succ").orderBy("stratum")),
    // ---- wave 23: concentration / pooled test / smoothing ----
    // Gini concentration of documents across sources, exact ppm
    "q_gini" -> ((s, dir) =>
      graft.pipeline.Stats.giniConcentration(
        t(s, dir, "documents"), "source")),
    // CMH pooled chi2 over the q_simpson strata — the controlled test
    "q_cmh" -> ((s, dir) =>
      graft.pipeline.Stats.cmhTest(
        t(s, dir, "events").select(col("event_type"),
          expr("user_id % 2 = 0").as("grp"),
          expr("cast(round(value * 100) as bigint) >= 500").as("succ")),
        "event_type", "grp", "succ")),
    // truncated half-decay EWMA of value cents per event type
    "q_ewma" -> ((s, dir) =>
      graft.pipeline.Temporal.ewmaSmooth(
        t(s, dir, "events").select(col("event_type"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents")),
        "event_type", "event_id", "cents", lags = 8)
        .orderBy("event_type", "event_id")),
    // ---- wave 24: ranking drift / variance-optimal sampling ----
    // RBO@3 (p=1/2, exact 2^-d weights) of the IVF ranking against the
    // brute ranking — ORDER-sensitive where recall/MRR are set-based
    "q_rbo" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.rboTopK(
        Similarity.ivfTopK(e, "vec_id", "embedding", 3),
        Similarity.bruteTopK(e, "vec_id", "embedding", 3), 3)
        .orderBy("query_id")
    }),
    // Neyman-allocated stratified sample over n_chars: per-source
    // report (took, exact sampled-id checksum) pins the row-level take
    "q_neyman" -> ((s, dir) =>
      graft.pipeline.Mixture.neymanSample(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "doc_id", "source", col("n_chars"), budget = 200L)
        .groupBy(col("source"))
        .agg(max("w_h").as("w_h"), max("alloc").as("alloc"),
          count(lit(1)).as("took"), sum(col("doc_id")).as("id_sum"))
        .orderBy("source")),
    // ---- wave 26: score calibration / weighting / association ----
    // quantile-normalize n_chars across sources onto the pooled scale
    "q_qnorm" -> ((s, dir) =>
      graft.pipeline.QuantileFilter.quantileNormalize(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("src_permille"), col("norm_score"))
        .orderBy("doc_id")),
    // effective sample size of event value cents as importance weights
    "q_ess" -> ((s, dir) =>
      graft.pipeline.Stats.effectiveSampleSize(
        t(s, dir, "events").select(
          expr("cast(round(value * 100) as bigint)").as("w")), "w")),
    // Spearman rho between doc length in chars and in tokens
    "q_spearman" -> ((s, dir) =>
      graft.pipeline.Stats.spearmanCorr(
        t(s, dir, "documents").select(col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "n_chars", "n_tokens")),
    // ---- wave 41: the experimentation-pack completion ----
    // Mann-Whitney U per source: are en docs longer than non-en? exact
    // double-rank U + tie-corrected round-once z
    "q_mwu" -> ((s, dir) =>
      graft.pipeline.Stats.mannWhitneyU(
        t(s, dir, "documents").select(col("source"),
          (col("lang") === "en").as("g"), col("n_chars")),
        Seq("source"), "g", "n_chars")
        .orderBy("source")),
    // BH step-up FDR over a per-(source, lang) test table; p provenance
    // is the CALLER's by contract — here a deterministic data-derived
    // fixture (sum(n_chars) mod 1e6), the operator under test is the
    // exact-integer threshold rule itself
    "q_bh_fdr" -> ((s, dir) =>
      graft.pipeline.Stats.bhFdr(
        t(s, dir, "documents").groupBy("source", "lang")
          .agg(pmod(sum("n_chars"), lit(1000000L)).as("p_micro")),
        Seq("source", "lang"), "p_micro", qMicro = 200000L)
        .orderBy("rank")),
    // Kendall tau-b per source over COARSELY QUANTIZED length metrics
    // (the distinct-cell contract): chars-in-hundreds vs tokens-in-tens
    "q_kendall" -> ((s, dir) =>
      graft.pipeline.Stats.kendallTau(
        t(s, dir, "documents").select(col("source"),
          expr("n_chars div 100").as("xb"),
          expr("size(split(text, ' ')) div 10").cast("long").as("yb")),
        Seq("source"), "xb", "yb")
        .orderBy("source")),
    // Kaplan-Meier retention per user-parity cohort: duration = days
    // spanned by the user's events, event = the user reached a purchase
    // (others right-censored at observation end)
    "q_km" -> ((s, dir) => {
      val units = eventsMicros(s, dir)
        .groupBy("user_id")
        .agg(expr("(max(tus) - min(tus)) div 86400000000").as("duration"),
          (count(when(col("event_type") === "purchase", 1)) > 0).as("ev"))
        .withColumn("cohort", pmod(col("user_id"), lit(4L)))
      graft.pipeline.Stats.kaplanMeier(units, Seq("cohort"), "duration", "ev")
        .orderBy("cohort", "t")
    }),
    // log-rank test: do the even/odd user cohorts share a survival
    // curve, per user_id%3 segment — the hypothesis test over q_km's
    // product-limit machinery
    "q_logrank" -> ((s, dir) => {
      val units = eventsMicros(s, dir)
        .groupBy("user_id")
        .agg(expr("(max(tus) - min(tus)) div 86400000000").as("duration"),
          (count(when(col("event_type") === "purchase", 1)) > 0).as("ev"))
        .withColumn("seg", pmod(col("user_id"), lit(3L)))
        .withColumn("grp", pmod(col("user_id"), lit(2L)) === 0L)
      graft.pipeline.Stats.logRank(units, Seq("seg"), "grp", "duration", "ev")
        .orderBy("seg")
    }),
    // restricted mean survival time: area under q_km's curve to
    // tau=30 days — the censoring-robust "average days retained"
    "q_rmst" -> ((s, dir) => {
      val units = eventsMicros(s, dir)
        .groupBy("user_id")
        .agg(expr("(max(tus) - min(tus)) div 86400000000").as("duration"),
          (count(when(col("event_type") === "purchase", 1)) > 0).as("ev"))
        .withColumn("cohort", pmod(col("user_id"), lit(4L)))
      graft.pipeline.Stats.rmst(units, Seq("cohort"), "duration", "ev",
        tau = 30L).orderBy("cohort")
    }),
    // Gehan-Breslow-Wilcoxon: the early-difference weighted log-rank
    // over the same cohorts — n-weights make the O-E terms exact
    "q_gehan" -> ((s, dir) => {
      val units = eventsMicros(s, dir)
        .groupBy("user_id")
        .agg(expr("(max(tus) - min(tus)) div 86400000000").as("duration"),
          (count(when(col("event_type") === "purchase", 1)) > 0).as("ev"))
        .withColumn("seg", pmod(col("user_id"), lit(3L)))
        .withColumn("grp", pmod(col("user_id"), lit(2L)) === 0L)
      graft.pipeline.Stats.gehanWilcoxon(units, Seq("seg"), "grp",
        "duration", "ev").orderBy("seg")
    }),
    // CUPED per event_type: even event_ids are the pre-period covariate,
    // odd the experiment metric, user parity the variant — pooled theta,
    // adjusted means and the rho^2 variance cut from exact moments
    "q_cuped" -> ((s, dir) => {
      val units = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(
          coalesce(sum(when(col("event_id") % 2 === 0,
            expr("cast(round(value * 1000) as bigint)"))), lit(0L)).as("x"),
          coalesce(sum(when(col("event_id") % 2 =!= 0,
            expr("cast(round(value * 1000) as bigint)"))), lit(0L)).as("y"))
        .withColumn("variant", pmod(col("user_id"), lit(2L)))
      graft.pipeline.Stats.cuped(units, Seq("event_type"), "variant", "x", "y")
        .orderBy("event_type", "variant")
    }),
    // Jensen-Shannon divergence of the q_token_kl slices — the
    // symmetric bounded mixture-distance to trend
    "q_jsd" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.pipeline.Stats.tokenJSD(
        d.where(col("source") === "src0"),
        d.where(col("source") =!= "src0"), "text")
    }),
    // ---- wave 28: spherical path length (the last reference st_* name) ----
    // st_aggregate_distance_sphere over the q_st_sphere point triple:
    // sum of consecutive haversine legs == hav_ab + hav_bc, replayed
    // term-by-term in DuckDB with round(6) (the CRS rounding recipe);
    // a single-point array pins the <2-points -> 0.0 contract
    "q_st_agg_sphere" -> ((s, dir) => {
      val p = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qi"),
          col("l_linenumber").cast("int").as("lni"))
        .distinct()
      val ax = col("qi") / 8.0 - 3.0
      val ay = col("lni") / 4.0
      val pa = st_point(ax, ay)
      val pb = st_point(ax + 0.5, ay + 0.25)
      val pc = st_point(ax + 1.0, ay - 0.5)
      p.select(col("qi"), col("lni"),
        round(st_aggregateDistanceSphere(array(pa, pb, pc)), 6).as("path_m"),
        st_aggregateDistanceSphere(array(pa)).as("single_m"))
        .orderBy("qi", "lni")
    })
  )

  // ---- DuckDB SQL builders for graft's 64-bit hash primitives ----
  // The oracle re-derives fingerprint/simhash/minhash EXACTLY in SQL:
  // unsigned-64 arithmetic is emulated with HUGEINT mod 2^64, splitting
  // the two 64×64-bit multiplies of the splitmix64 finalizer into 32-bit
  // halves so products stay inside HUGEINT range.
  /** Unrolled DuckDB CTE chain for `rounds` greedy BPE merge rounds
    * over the documents corpus: w0 is the delimiter-encoded init,
    * round r counts within-word unit pairs (u/g/p), takes the
    * (cnt DESC, pair) argmax (b) and rewrites via the one-replace
    * identity (w). `withDocId` carries doc_id through the chain (the
    * apply replay). Generated, so the round count scales without
    * hand-unrolling — q_bpe_apply exercises 8 rounds. */
  /**
   * Unrolled DuckDB CTE chain for the unigram-LM tokenizer oracle:
   * seed vocab (all single chars + top multis by (cnt desc, piece)),
   * integer micro-nat costs, then per EM round a RECURSIVE Viterbi DP
   * whose state is a sliding window of the last `maxPieceLen` path
   * costs and segmentations (recursive CTEs expose only the previous
   * iteration's rows, so the window IS the DP table), a usage recount,
   * and re-smoothed costs — replaying [[graft.pipeline.Unigram.learn]]
   * and [[graft.pipeline.UnigramViterbi]] decision-for-decision,
   * including the prefer-longer-last-piece tie-break (the CASE scans
   * l descending; the kernel's ascending loop keeps `<=`). With
   * `withApply`, emits one extra DP round under the final model for
   * the tokenize pass.
   */
  private def duckUnigramChain(vocabSize: Int, iters: Int,
      maxPieceLen: Int, withApply: Boolean): String = {
    val L = maxPieceLen
    val INF = "4611686018427387904"
    val sb = new StringBuilder
    sb.append(
      s"""w AS MATERIALIZED (SELECT w2 AS word, COUNT(*) AS wcnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w2 FROM documents)
         |  WHERE w2 <> '' GROUP BY 1),
         |cand AS MATERIALIZED (SELECT substring(word, CAST(u.s AS INTEGER), CAST(u2.l AS INTEGER)) AS piece,
         |    SUM(wcnt) AS cnt
         |  FROM w, unnest(range(1, len(word) + 1)) u(s), unnest(range(1, $L + 1)) u2(l)
         |  WHERE u.s + u2.l <= len(word) + 1 GROUP BY 1),
         |chars AS MATERIALIZED (SELECT piece, cnt FROM cand WHERE len(piece) = 1),
         |multis AS MATERIALIZED (SELECT piece, cnt FROM (
         |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
         |    FROM cand WHERE len(piece) > 1)
         |  WHERE rn <= $vocabSize - (SELECT COUNT(*) FROM chars)),
         |vocab0 AS MATERIALIZED (SELECT piece, cnt FROM chars UNION ALL SELECT piece, cnt FROM multis),
         |v0 AS MATERIALIZED (SELECT piece, CAST(-round(1e6 * ln(CAST(cnt AS DOUBLE) /
         |    (SELECT SUM(cnt) FROM vocab0))) AS BIGINT) AS cost FROM vocab0)""".stripMargin)
    def dpSeg(r: Int, vin: String): String = {
      val baseC = "CAST(0 AS BIGINT) AS c0" +
        (1 until L).map(i => s", CAST($INF AS BIGINT) AS c$i").mkString
      val baseS = (0 until L).map(i => s"'' AS s$i").mkString(", ")
      val joins = (1 to L).map { l =>
        s"  LEFT JOIN $vin t$l ON d.pos + 1 >= $l" +
          s" AND t$l.piece = substring(d.word, d.pos + 2 - $l, $l)"
      }.mkString("\n")
      val cands = (1 to L).map(l => s"(d.c${l - 1} + t$l.cost)")
      val bl = s"least(${cands.map(c => s"coalesce($c, $INF)").mkString(", ")})"
      def app(l: Int) =
        s"CASE WHEN d.s${l - 1} = '' THEN t$l.piece" +
          s" ELSE d.s${l - 1} || ' ' || t$l.piece END"
      val s0new = (L to 2 by -1).map(l =>
        s"WHEN ${cands(l - 1)} = $bl THEN ${app(l)}")
        .mkString("CASE ", " ", s" ELSE ${app(1)} END")
      val shiftC = (1 until L).map(i => s"d.c${i - 1} AS c$i").mkString(", ")
      val shiftS = (1 until L).map(i => s"d.s${i - 1} AS s$i").mkString(", ")
      s"""dp$r AS (
         |  SELECT word, len(word) AS len, 0 AS pos, $baseC, $baseS FROM w
         |  UNION ALL
         |  SELECT d.word, d.len, d.pos + 1, $bl AS c0, $shiftC,
         |    $s0new AS s0, $shiftS
         |  FROM dp$r d
         |$joins
         |  WHERE d.pos < d.len),
         |seg$r AS MATERIALIZED (SELECT word, s0 AS seg, c0 AS wcost FROM dp$r WHERE pos = len)""".stripMargin
    }
    for (r <- 1 to iters) {
      sb.append(",\n").append(dpSeg(r, s"v${r - 1}"))
      sb.append(",\n").append(
        s"""rc$r AS MATERIALIZED (SELECT piece, SUM(wcnt) AS cnt FROM (
           |    SELECT word, unnest(string_split(seg, ' ')) AS piece FROM seg$r) sp
           |  JOIN w USING (word) GROUP BY piece),
           |tot$r AS MATERIALIZED (SELECT SUM(coalesce(rc.cnt, 0) + 1) AS tt FROM vocab0
           |  LEFT JOIN rc$r rc USING (piece)),
           |v$r AS MATERIALIZED (SELECT vocab0.piece, CAST(-round(1e6 * ln(
           |    CAST(coalesce(rc.cnt, 0) + 1 AS DOUBLE) / tt)) AS BIGINT) AS cost
           |  FROM vocab0 LEFT JOIN rc$r rc USING (piece) CROSS JOIN tot$r)""".stripMargin)
    }
    if (withApply) sb.append(",\n").append(dpSeg(iters + 1, s"v$iters"))
    sb.toString
  }

  private def duckBpeChain(rounds: Int, withDocId: Boolean): String = {
    val idSel = if (withDocId) "doc_id, " else ""
    val sb = new StringBuilder
    sb.append(
      s"""w0 AS (SELECT ${idSel}list_transform(
         |    list_filter(string_split(text, ' '), t -> t <> ''),
         |    tok -> '¦¦' || regexp_replace(tok, '(?s)(.)', '\\1¦¦', 'g')) AS work
         |  FROM documents)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(",\n")
      sb.append(
        s"""u$r AS (SELECT list_filter(string_split_regex(w, '¦+'), x -> x <> '') AS un
           |  FROM (SELECT unnest(work) AS w FROM w${r - 1})),
           |g$r AS (SELECT un, unnest(range(1, greatest(len(un) - 1, 0) + 1)) AS i FROM u$r),
           |p$r AS (SELECT un[i] || ' ' || un[i+1] AS pair, COUNT(*) AS cnt
           |  FROM g$r GROUP BY 1),
           |b$r AS (SELECT $r AS round, pair, cnt,
           |    string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y
           |  FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
           |w$r AS (SELECT ${idSel}list_transform(work, w -> replace(w,
           |    '¦' || x || '¦¦' || y || '¦', '¦' || x || y || '¦')) AS work
           |  FROM w${r - 1}, b$r)""".stripMargin)
    }
    sb.toString
  }

  private val M64 = "18446744073709551616::HUGEINT"
  private def duckMulMod(t: String, c: String): String =
    s"((($t) % 4294967296::HUGEINT) * $c + (((($t) >> 32) * $c) % 4294967296::HUGEINT)" +
      s" * 4294967296::HUGEINT) % $M64"
  /** splitmix64 finalizer (Hashing.mix64) over a HUGEINT in [0, 2^64). */
  private def duckMix64(z: String): String = {
    val s = s"(($z) + 11400714819323198485::HUGEINT) % $M64"
    val t1 = s"xor(($s), ($s) >> 30)"
    val z1 = duckMulMod(t1, "13787848793156543929::HUGEINT")
    val t2 = s"xor(($z1), ($z1) >> 27)"
    val z2 = duckMulMod(t2, "10723151780598845931::HUGEINT")
    s"xor(($z2), ($z2) >> 31)"
  }
  private def duckToSigned(h: String): String =
    s"CAST(CASE WHEN ($h) >= 9223372036854775808::HUGEINT THEN ($h) - $M64 ELSE ($h) END AS BIGINT)"
  /** FNV-1a 64 over the chars of `scol` starting from basis `h0`
    * (Hashing.hashBytes before the mix; corpus is ASCII so char = byte). */
  private def duckFnv(scol: String, h0: String): String =
    s"list_reduce(list_prepend($h0::HUGEINT, list_transform(range(1, length($scol) + 1)," +
      s" i -> ascii(($scol)[i])::HUGEINT)), (a, b) -> (xor(a, b) * 1099511628211::HUGEINT) % $M64)"
  /** Winnowing CTEs (toks…gh/selpos): k=3 gram hashes + the selected
    * positions per doc (rightmost-window-min, w=4) — shared by q_winnow
    * and q_winnow_pairs. */
  private def duckWinnowCtes: String = {
    val gramHash = duckToSigned(duckMix64(duckFnv("g", "14695981039346656037")))
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (SELECT doc_id, CAST(i AS INT) AS pos,
       |  array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS g
       |  FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) u(i)),
       |gh AS (SELECT doc_id, pos, $gramHash AS h FROM grams),
       |keyed AS (SELECT doc_id, pos, h,
       |  (h::HUGEINT + 9223372036854775808::HUGEINT) * 4294967296::HUGEINT
       |    + (4294967295 - pos)::HUGEINT AS key FROM gh),
       |nn AS (SELECT doc_id, MAX(pos) AS n FROM gh GROUP BY doc_id),
       |wins AS (SELECT doc_id, pos AS e,
       |  MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mk FROM keyed),
       |selpos AS (SELECT DISTINCT w.doc_id,
       |  CAST(4294967295 - (w.mk % 4294967296::HUGEINT) AS INT) AS pos
       |  FROM wins w JOIN nn USING (doc_id) WHERE w.e >= least(4, n))""".stripMargin
  }

  /** MinHash signature CTEs (toks…bands/mcand): 32-long signatures per doc
    * with Long.MaxValue defaults, banded into 8 slices of 4, plus the
    * banded candidate pairs — shared by q_minhash_pairs and q_dedup_lsh. */
  private def duckMinhashCtes: String = duckMinhashCtesFrom("documents")
  /** Same minhash/band CTE chain over an arbitrary (doc_id, text)
    * relation (a CTE name works — used by the planted-pair eval). */
  private def duckMinhashCtesFrom(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |shingles AS (
       |  SELECT doc_id, array_to_string(t[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS sh
       |  FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) u(i)),
       |bases AS (SELECT doc_id, ${duckMix64(duckFnv("sh", "14695981039346656037"))} AS base FROM shingles),
       |hk AS (
       |  SELECT doc_id, CAST(k AS INTEGER) AS k,
       |    ${duckToSigned(duckMix64(s"xor(base, (k::HUGEINT * 11400714819323198485::HUGEINT) % $M64)"))} AS h
       |  FROM bases, range(0, 32) r(k)),
       |sig0 AS (SELECT doc_id, k, MIN(h) AS m FROM hk GROUP BY doc_id, k),
       |grid AS (SELECT d.doc_id, CAST(k AS INTEGER) AS k FROM $src d, range(0, 32) r(k)),
       |sig AS (
       |  SELECT g.doc_id, g.k, COALESCE(s.m, 9223372036854775807) AS m
       |  FROM grid g LEFT JOIN sig0 s ON g.doc_id = s.doc_id AND g.k = s.k),
       |bands AS (
       |  SELECT doc_id, k // 4 AS b, list(m ORDER BY k) AS band_sig
       |  FROM sig GROUP BY doc_id, k // 4),
       |mcand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)""".stripMargin

  /** Hyperplane-LSH bucket CTEs over `embeddings` (e/mats/ev/dots/buckets):
    * the HyperplaneBucket weights re-derived from mix64(seed ^ (p*1048583+d))
    * with ordered list folds so the per-plane dot products are bit-exact. */
  private def duckHyperplaneCtes: String =
    s"""e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |mats AS (
       |  SELECT CAST(t AS INTEGER) AS t, CAST(p AS INTEGER) AS p, CAST(d AS INTEGER) AS d,
       |    ${duckToSigned(duckMix64("xor((1592590336 + t)::HUGEINT, (p * 1048583 + d)::HUGEINT)"))}
       |      / 9223372036854775807 AS w
       |  FROM range(0, 8) rt(t), range(0, 8) rp(p), range(0, 64) rd(d)),
       |ev AS (
       |  SELECT vec_id, CAST(i AS INTEGER) AS i, CAST(v[CAST(i AS INTEGER)] AS DOUBLE) AS x
       |  FROM e, unnest(range(1, least(len(v), 64) + 1)) u(i)),
       |dots AS (
       |  SELECT ev.vec_id, m.t, m.p,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(ev.x * m.w ORDER BY ev.i)), (a, b) -> a + b) AS s
       |  FROM ev JOIN mats m ON m.d = ev.i - 1
       |  GROUP BY ev.vec_id, m.t, m.p),
       |buckets AS (
       |  SELECT vec_id, t, CAST(SUM(CASE WHEN s >= 0 THEN (1 << p) ELSE 0 END) AS INTEGER) AS bucket
       |  FROM dots GROUP BY vec_id, t)""".stripMargin

  /** Unrolled Lloyd k-means CTEs replaying [[graft.pipeline.QuantizerKMeans]]
    * exactly: sorted-prefix sample, first-k init, squared-L2 argmin with
    * ties to the lowest cell (list_distance is monotone in squared L2),
    * member-mean update, empty cell keeps its centroid, fixed iteration
    * count. MATERIALIZED is load-bearing — DuckDB inlines plain CTEs, and
    * each iteration references the previous one several times, so the
    * expansion (and the parquet re-opens) would grow exponentially. */
  private def duckLloydCtes(k: Int, iters: Int,
      vvSql: String = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"): String = {
    val init =
      s"""vv AS MATERIALIZED ($vvSql),
         |samp AS MATERIALIZED (SELECT vec_id, v FROM vv ORDER BY vec_id LIMIT 100000),
         |dims AS MATERIALIZED (SELECT UNNEST(range(1, 1 + (SELECT MAX(length(v)) FROM vv))) AS i),
         |c0 AS MATERIALIZED (SELECT CAST(rn - 1 AS INTEGER) AS cell, v AS centroid
         |  FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM samp) WHERE rn <= $k)""".stripMargin
    val rounds = (1 to iters).map { it =>
      s"""a$it AS MATERIALIZED (SELECT s.vec_id, s.v,
         |  (SELECT c.cell FROM c${it - 1} c ORDER BY list_distance(s.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM samp s),
         |m$it AS MATERIALIZED (SELECT a.cell, d.i, AVG(a.v[d.i]) AS mv
         |  FROM a$it a CROSS JOIN dims d GROUP BY a.cell, d.i),
         |c$it AS MATERIALIZED (SELECT c.cell,
         |  CASE WHEN EXISTS (SELECT 1 FROM a$it a WHERE a.cell = c.cell)
         |       THEN (SELECT list(m.mv ORDER BY m.i) FROM m$it m WHERE m.cell = c.cell)
         |       ELSE c.centroid END AS centroid
         |  FROM c${it - 1} c)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** Per-subspace unrolled Lloyd + code assignment + ADC tables replaying
    * [[graft.pipeline.Similarity.pqTopK]] exactly: the sorted-prefix
    * sample is sliced into `m` contiguous subspaces, each fit with the
    * same pinned Lloyd as [[duckLloydCtes]]; every vector gets one code
    * per subspace (squared-L2 argmin, ties to the lowest code) and every
    * query gets an inner-product table vs each subspace codebook
    * (list_dot_product matches the ascending-index double accumulation
    * of PQDistTable bit-for-bit, as the cosine oracles already prove). */
  private def duckPqCtes(m: Int, subDim: Int, k: Int, iters: Int,
      withInit: Boolean = true): String = {
    // withInit = false composes with duckLloydCtes in one WITH (vv/samp
    // already defined there); only the subspace-dim helper is emitted.
    val init =
      if (withInit)
        s"""vv AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |samp AS MATERIALIZED (SELECT vec_id, v FROM vv ORDER BY vec_id LIMIT 100000),
           |sdims AS MATERIALIZED (SELECT UNNEST(range(1, ${subDim + 1})) AS i)""".stripMargin
      else s"sdims AS MATERIALIZED (SELECT UNNEST(range(1, ${subDim + 1})) AS i)"
    val subs = (0 until m).map { j =>
      val (a, b) = (j * subDim + 1, (j + 1) * subDim)
      val sub =
        s"""s${j}samp AS MATERIALIZED (SELECT vec_id, v[$a:$b] AS v FROM samp),
           |s${j}c0 AS MATERIALIZED (SELECT CAST(rn - 1 AS INTEGER) AS cell, v AS centroid
           |  FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM s${j}samp) WHERE rn <= $k)""".stripMargin
      val rounds = (1 to iters).map { it =>
        s"""s${j}a$it AS MATERIALIZED (SELECT s.vec_id, s.v,
           |  (SELECT c.cell FROM s${j}c${it - 1} c ORDER BY list_distance(s.v, c.centroid), c.cell LIMIT 1) AS cell
           |  FROM s${j}samp s),
           |s${j}m$it AS MATERIALIZED (SELECT a.cell, d.i, AVG(a.v[d.i]) AS mv
           |  FROM s${j}a$it a CROSS JOIN sdims d GROUP BY a.cell, d.i),
           |s${j}c$it AS MATERIALIZED (SELECT c.cell,
           |  CASE WHEN EXISTS (SELECT 1 FROM s${j}a$it a WHERE a.cell = c.cell)
           |       THEN (SELECT list(m.mv ORDER BY m.i) FROM s${j}m$it m WHERE m.cell = c.cell)
           |       ELSE c.centroid END AS centroid
           |  FROM s${j}c${it - 1} c)""".stripMargin
      }
      val serve =
        s"""s${j}codes AS MATERIALIZED (SELECT vec_id,
           |  (SELECT c.cell FROM s${j}c$iters c ORDER BY list_distance(vv.v[$a:$b], c.centroid), c.cell LIMIT 1) AS code
           |  FROM vv),
           |s${j}dt AS MATERIALIZED (SELECT q.vec_id, c.cell,
           |  list_dot_product(q.v[$a:$b], c.centroid) AS s
           |  FROM vv q CROSS JOIN s${j}c$iters c)""".stripMargin
      (sub +: rounds :+ serve).mkString(",\n")
    }
    // join chain: s0codes c0 JOIN s1codes c1 USING (vec_id) ...
    val joinChain = (1 until m).map(j => s"JOIN s${j}codes c$j USING (vec_id)").mkString(" ")
    val allCodes =
      s"""allcodes AS MATERIALIZED (SELECT c0.vec_id, ${(0 until m).map(j => s"c$j.code AS k$j").mkString(", ")}
         |  FROM s0codes c0 $joinChain)""".stripMargin
    (init +: subs :+ allCodes).mkString(",\n")
  }

  /** simhash CTEs (toks/tokh/votes/sh): 64-bit simhash per doc as HUGEINT. */
  private def duckSimhashCtes: String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tokh AS (SELECT doc_id, ${duckMix64(duckFnv("tok", "14695981039346656034"))} AS th FROM toks),
       |votes AS (
       |  SELECT doc_id, b, SUM(CASE WHEN (th >> CAST(b AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM tokh, range(0, 64) r(b) GROUP BY doc_id, b),
       |sh AS (
       |  SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::HUGEINT << CAST(b AS INTEGER)) ELSE 0::HUGEINT END)::HUGEINT AS s
       |  FROM votes GROUP BY doc_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_tile_sum" ->
      "SELECT l_orderkey, SUM(l_quantity) AS tile_sum FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey",
    "q_tile_mean" ->
      "SELECT l_orderkey, AVG(l_quantity) AS tile_mean FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey",
    "q_tile_minmax" ->
      """SELECT l_orderkey, MIN(l_quantity) AS tile_min, MAX(l_quantity) AS tile_max,
        |CAST(COUNT(*) AS BIGINT) AS dc, CAST(32 - COUNT(*) AS BIGINT) AS ndc
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_tile_stats" -> (IDX +
      """ SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS dc, CAST(32 - COUNT(*) AS BIGINT) AS ndc,
        |MIN(q) AS mn, MAX(q) AS mx, SUM(q) / COUNT(q) AS mean,
        |CASE WHEN COUNT(q) > 1 THEN (SUM(q*q) - SUM(q) * (SUM(q) / COUNT(q))) / (COUNT(q) - 1) END AS variance
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_local_arith" -> (IDX +
      """ SELECT l_orderkey, SUM(q + lnv) AS sum_add, SUM(q - lnv) AS sum_sub, SUM(q * lnv) AS sum_mul
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_local_scalar" -> (IDX +
      """ SELECT l_orderkey, SUM(q + 10.0) AS s_add, SUM(q * 2.0) AS s_mul, SUM(q / 2.0) AS s_div,
        |SUM(LEAST(q, 25.0)) AS s_min, SUM(GREATEST(q, 25.0)) AS s_max
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_local_add_null" -> (IDX +
      """ SELECT l_orderkey,
        |SUM(CASE WHEN l_orderkey % 3 = 0 THEN q + lnv ELSE q END) AS sum_add,
        |CAST(COUNT(*) AS BIGINT) AS dc
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_local_divide" -> (IDX +
      " SELECT l_orderkey, i, q / lnv AS cell FROM idx ORDER BY l_orderkey, i"),
    "q_normalized_difference" -> (IDX +
      " SELECT l_orderkey, i, (q - lnv) / (q + lnv) AS cell FROM idx ORDER BY l_orderkey, i"),
    "q_comparisons" -> (IDX +
      """ SELECT l_orderkey,
        |CAST(SUM(CASE WHEN q < 25.0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_lt,
        |CAST(SUM(CASE WHEN q <= 25.0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_le,
        |CAST(SUM(CASE WHEN q > 25.0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_gt,
        |CAST(SUM(CASE WHEN q >= 25.0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_ge,
        |CAST(SUM(CASE WHEN q = 25.0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_eq,
        |CAST(SUM(CASE WHEN q <> 25.0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_ne
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_clamp_where" -> (IDX +
      """ SELECT l_orderkey, SUM(LEAST(GREATEST(q, 10.0), 40.0)) AS s_clamp,
        |SUM(CASE WHEN q < 25.0 THEN q ELSE q * 2.0 END) AS s_where
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_is_in" -> (IDX +
      """ SELECT l_orderkey, CAST(SUM(CASE WHEN q IN (1.0, 5.0, 10.0, 25.0, 50.0) THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_in
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_masking" -> (IDX +
      """ SELECT l_orderkey,
        |COALESCE(SUM(CASE WHEN lnv <> 3.0 THEN q END), 0.0) AS s_mask,
        |COALESCE(SUM(CASE WHEN lnv = 3.0 THEN q END), 0.0) AS s_inv,
        |CAST(SUM(CASE WHEN lnv <> 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS dc_mask
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_masking2" -> (IDX +
      """ SELECT l_orderkey,
        |COALESCE(SUM(CASE WHEN lnv IN (2.0, 4.0) THEN NULL ELSE q END), 0.0) AS s_mvals,
        |CAST(32 - COUNT(*) AS DOUBLE) AS n_nd,
        |CAST(COUNT(*) AS DOUBLE) AS n_data,
        |COALESCE(SUM(CASE WHEN i % 8 < 4 AND i // 8 < 2 THEN q END), 0.0) AS s_crop,
        |MAX(CASE WHEN q > 49.0 THEN 1 ELSE 0 END) = 1 AS any_50,
        |SUM(CASE WHEN i < 4 THEN 1 ELSE 0 END) = 4 AS all4_pos
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_envelope" ->
      """SELECT p_partkey,
        |CAST(p_partkey % 7 AS DOUBLE) AS minx,
        |CAST(p_partkey % 7 + 2 AS DOUBLE) AS maxx,
        |CAST(p_partkey % 5 AS DOUBLE) AS miny,
        |CAST(p_partkey % 5 + 3 AS DOUBLE) AS maxy
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_with_no_data" -> (IDX +
      """ SELECT l_orderkey,
        |CAST(SUM(CASE WHEN q <> 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS dc,
        |COALESCE(SUM(CASE WHEN q <> 50.0 THEN q END), 0.0) AS s
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_convert" ->
      """SELECT l_orderkey, 'float64' AS ct_f64, 'int32' AS ct_i32,
        |SUM(l_quantity) AS s_i32, SUM(l_quantity) AS s_u8
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_extract_bits" -> (IDX +
      """ SELECT l_orderkey,
        |SUM(CAST((CAST(q AS BIGINT) >> 1) & 7 AS DOUBLE)) AS s_bits,
        |SUM(CAST(CAST(q AS BIGINT) & 1 AS DOUBLE)) AS s_bit0
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_cell_types" ->
      """SELECT * FROM (VALUES (0,'bool'),(1,'int8raw'),(2,'int8'),
        |(3,'uint8raw'),(4,'uint8'),(5,'int16raw'),(6,'int16'),
        |(7,'uint16raw'),(8,'uint16'),(9,'int32raw'),(10,'int32'),
        |(11,'float32raw'),(12,'float32'),(13,'float64raw'),
        |(14,'float64')) AS t(pos, ct_name) ORDER BY pos""".stripMargin,
    "q_mask_bits" -> (IDX +
      """ SELECT l_orderkey,
        |COALESCE(SUM(CASE WHEN (CAST(lnv AS BIGINT) & 3) IN (1, 3) THEN NULL ELSE q END), 0.0) AS s_masked,
        |CAST(COUNT(CASE WHEN (CAST(lnv AS BIGINT) & 1) = 1 THEN NULL ELSE 1 END) AS BIGINT) AS dc_bit
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    "q_explode_tiles" -> (IDX +
      " SELECT l_orderkey, i, q AS cell FROM idx ORDER BY l_orderkey, i"),
    "q_ml_exploder" -> (IDX +
      " SELECT l_orderkey, i, q, lnv FROM idx ORDER BY l_orderkey, i"),
    "q_ml_nodata" -> (IDX +
      " SELECT l_orderkey, i, q, lnv FROM idx WHERE q <> 50.0 ORDER BY l_orderkey, i"),
    "q_make_tiles" ->
      """SELECT l_orderkey,
        |CAST(32 * MAX(l_linenumber) AS DOUBLE) AS csum,
        |CAST(32 AS BIGINT) AS dc, CAST(0.0 AS DOUBLE) AS zsum,
        |CAST(32.0 AS DOUBLE) AS osum,
        |'float64' AS zct
        |FROM lineitem WHERE l_orderkey % 37 = 5
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_local_algebra" -> (IDX +
      " SELECT l_orderkey, i, (q * 2.0 + lnv) / 4.0 AS cell FROM idx ORDER BY l_orderkey, i"),
    "q_show" ->
      """WITH oks AS (SELECT DISTINCT l_orderkey FROM lineitem ORDER BY l_orderkey LIMIT 5),
        |nat AS (SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 3)
        |SELECT
        |'| l_orderkey | t_qty |' || chr(10) || '| --- | --- |' || chr(10) ||
        |  (SELECT string_agg('| ' || l_orderkey || ' | float64 8×4 |' || chr(10), '' ORDER BY l_orderkey) FROM oks) AS md,
        |'<table><tr><th>n_nationkey</th><th>n_name</th></tr>' ||
        |  (SELECT string_agg('<tr><td>' || n_nationkey || '</td><td>' || n_name || '</td></tr>', '' ORDER BY n_nationkey) FROM nat) ||
        |  '</table>' AS html""".stripMargin,
    // the DSv2 reader's windowed cells re-derived arithmetically: window
    // (kc, kr) of a 8×4 file in 4×2 windows → xmin = kc*4, ymax = 4-kr*2
    "q_geotiff_read" -> (IDX +
      """ SELECT l_orderkey, i, q AS qty, lnv,
        |CAST(((i % 8) // 4) * 4 AS DOUBLE) AS win_xmin,
        |CAST(4 - ((i // 8) // 2) * 2 AS DOUBLE) AS win_ymax
        |FROM idx WHERE l_orderkey % 61 = 3 ORDER BY l_orderkey, i""".stripMargin),
    "q_geotiff_read_lazy" -> (IDX +
      """ SELECT l_orderkey, i, q AS qty, lnv,
        |CAST(((i % 8) // 4) * 4 AS DOUBLE) AS win_xmin,
        |CAST(4 - ((i // 8) // 2) * 2 AS DOUBLE) AS win_ymax
        |FROM idx WHERE l_orderkey % 61 = 3 ORDER BY l_orderkey, i""".stripMargin),
    // both layers carry the same cell-presence pattern, so the joined
    // local add sums to SUM(q) + SUM(lnv) per key
    "q_layer_spatial_join" -> (IDX +
      """ SELECT l_orderkey, l_orderkey AS right_l_orderkey,
        |  SUM(q) AS s_qty, SUM(lnv) AS s_ln, SUM(q + lnv) AS s_add
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    // java.util.Random replay: s0 = (42 XOR 0x5DEECE66D) mod 2^48, then
    // s' = (s·25214903917 + 11) mod 2^48; nextDouble consumes two draws,
    // ((s1>>22)·2^27 + (s2>>21))·2^-53 — all exact power-of-two scaling,
    // so the keep mask (one per 8×4 cell position, every tile identical)
    // is bit-reproducible
    "q_explode_sample" -> (IDX.replaceFirst("WITH idx", "WITH RECURSIVE idx") +
      """, rng(j, s) AS (
        |  SELECT 0, CAST(xor(42, 25214903917) AS HUGEINT)
        |  UNION ALL
        |  SELECT j + 1, (s * 25214903917 + 11) % 281474976710656 FROM rng WHERE j < 64),
        |vals AS (SELECT j, CAST(s AS BIGINT) AS sb FROM rng),
        |keep AS (
        |  SELECT CAST((a.j - 1) // 2 AS INTEGER) AS p
        |  FROM vals a JOIN vals b ON b.j = a.j + 1
        |  WHERE a.j % 2 = 1
        |    AND ((a.sb >> 22) * 134217728.0 + (b.sb >> 21)) / 9007199254740992.0 <= 0.5)
        |SELECT i.l_orderkey, i.i, i.q AS qty FROM idx i JOIN keep k ON i.i = k.p
        |ORDER BY i.l_orderkey, i.i""".stripMargin),
    // per-order grayscale render: opaque = data cells, red_sum = the
    // same stretch sum as q_slippy without the pixel-block fan-out
    "q_render_png" -> (IDX +
      """, g AS (SELECT l_orderkey, COUNT(*) AS dc, MIN(q) AS mn, MAX(q) AS mx FROM idx
        |  WHERE l_orderkey % 31 = 3 GROUP BY 1),
        |r AS (SELECT i.l_orderkey,
        |    SUM(CAST(floor((i.q - g.mn) / (CASE WHEN g.mx > g.mn THEN g.mx - g.mn ELSE 1.0 END) * 255) AS BIGINT)) AS gsum
        |  FROM idx i JOIN g ON i.l_orderkey = g.l_orderkey GROUP BY 1)
        |SELECT g.l_orderkey, CAST(8 AS INTEGER) AS w, CAST(4 AS INTEGER) AS h,
        |  CAST(g.dc AS BIGINT) AS opaque, CAST(r.gsum AS BIGINT) AS red_sum
        |FROM g JOIN r ON g.l_orderkey = r.l_orderkey ORDER BY g.l_orderkey""".stripMargin),
    // ramp renders: t = (v-mn)/range, then Viridis red = segment-wise
    // linear interpolation over red stops (68, 33, 253) and Greyscale8 =
    // 8 quantized levels floor(255*idx/7) — same IEEE ops, same floors
    "q_render_ramp" -> (IDX +
      """, g AS (SELECT l_orderkey, COUNT(*) AS dc, MIN(q) AS mn, MAX(q) AS mx FROM idx
        |  WHERE l_orderkey % 31 = 3 GROUP BY 1),
        |t AS (SELECT i.l_orderkey,
        |    (i.q - g.mn) / (CASE WHEN g.mx > g.mn THEN g.mx - g.mn ELSE 1.0 END) AS t
        |  FROM idx i JOIN g ON i.l_orderkey = g.l_orderkey),
        |vir AS (SELECT l_orderkey,
        |    SUM(CAST(floor(CASE WHEN LEAST(1, floor(t * 2)) = 0
        |          THEN 68 + (t * 2 - LEAST(1, floor(t * 2))) * (33 - 68)
        |          ELSE 33 + (t * 2 - LEAST(1, floor(t * 2))) * (253 - 33) END) AS BIGINT)) AS rsum
        |  FROM t GROUP BY 1),
        |g8 AS (SELECT l_orderkey,
        |    SUM(CAST(floor((255.0 * LEAST(7, floor(t * 8))) / 7) AS BIGINT)) AS rsum
        |  FROM t GROUP BY 1)
        |SELECT g.l_orderkey, CAST(8 AS INTEGER) AS w, CAST(4 AS INTEGER) AS h,
        |  CAST(g.dc AS BIGINT) AS opaque, CAST(vir.rsum AS BIGINT) AS vir_red,
        |  CAST(g8.rsum AS BIGINT) AS g8_red
        |FROM g JOIN vir ON g.l_orderkey = vir.l_orderkey
        |JOIN g8 ON g.l_orderkey = g8.l_orderkey ORDER BY g.l_orderkey""".stripMargin),
    // the tile set is the written-slot set; opaque = 2048 per data cell
    // (each source cell covers a 32×64 pixel block), gray = exact IEEE
    // replay of ((v − mn) / range · 255) truncation
    "q_slippy" -> (IDX +
      """, g AS (
        |  SELECT l_orderkey, COUNT(*) AS dc, MIN(q) AS mn, MAX(q) AS mx
        |  FROM idx WHERE l_orderkey % 61 = 3 AND l_orderkey // 61 < 256 GROUP BY 1),
        |r AS (
        |  SELECT i.l_orderkey,
        |    SUM(CAST(floor((i.q - g.mn) / (CASE WHEN g.mx > g.mn THEN g.mx - g.mn ELSE 1.0 END) * 255) AS BIGINT)) AS gsum
        |  FROM idx i JOIN g ON i.l_orderkey = g.l_orderkey GROUP BY 1)
        |SELECT g.l_orderkey, CAST(256 AS INTEGER) AS w, CAST(256 AS INTEGER) AS h,
        |  CAST(2048 * g.dc AS BIGINT) AS opaque, CAST(2048 * r.gsum AS BIGINT) AS red_sum
        |FROM g JOIN r ON g.l_orderkey = r.l_orderkey ORDER BY g.l_orderkey""".stripMargin),
    // the fixture's features are generated from the same bounded
    // (qi, lni) domain, so every property and the point WKT replay
    // directly; integer JSON numbers infer as BIGINT
    "q_geojson_read" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni FROM lineitem)
        |SELECT 'POINT (' || qi || ' ' || lni || ')' AS wkt,
        |  CAST(qi AS BIGINT) AS qi, CAST(lni AS BIGINT) AS lni,
        |  'q' || qi AS label, qi / 2.0 AS ratio, qi % 2 = 0 AS flag
        |FROM p ORDER BY qi, lni""".stripMargin,
    // WARC headers/payload replay directly from the documents rows the
    // fixture serialized (ASCII corpus: strlen = Content-Length bytes)
    "q_warc_read" ->
      """SELECT doc_id, 'response' AS record_type,
        |  'http://graft.test/' || source || '/' || doc_id AS target_uri,
        |  '2024-01-01T00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z' AS warc_date,
        |  'text/plain' AS content_type,
        |  CAST(strlen(text) AS BIGINT) AS content_length, text
        |FROM documents ORDER BY doc_id""".stripMargin,
    // catalog read: cells as q_geotiff_read; z2 = 31-bit Morton
    // interleave of the window centroid (cx, cy) = (4*kc+2, 3-2*kr) in
    // epsg:4326, replayed with the q_sfc_index normalization
    "q_raster_catalog" -> (IDX +
      """ SELECT l_orderkey, i, q AS qty, lnv,
        |CAST(list_sum(list_transform(range(0, 31), b ->
        |  (((CAST(floor((((i % 8) // 4) * 4 + 2 + 180.0) / 360.0 * 2147483647) AS BIGINT) >> b) & 1) << (2 * b)) +
        |  (((CAST(floor((3 - ((i // 8) // 2) * 2 + 90.0) / 180.0 * 2147483647) AS BIGINT) >> b) & 1) << (2 * b + 1))
        |)) AS BIGINT) AS z2
        |FROM idx WHERE l_orderkey % 61 = 3 ORDER BY l_orderkey, i""".stripMargin),
    // band stretch floor((v-mn)/range*255), absent cells pack to 0
    "q_rgb_composite" -> (IDX +
      """, ext AS (SELECT l_orderkey, MIN(q) AS mnq, MAX(q) AS mxq,
        |  MIN(lnv) AS mnl, MAX(lnv) AS mxl FROM idx GROUP BY 1),
        |grid AS (SELECT e.*, CAST(p AS INT) AS pos FROM ext e, range(0, 32) g(p)),
        |cell AS (SELECT g.l_orderkey, g.pos,
        |  CASE WHEN i.q IS NULL THEN 0
        |       ELSE CAST(floor((i.q - g.mnq)
        |         / (CASE WHEN g.mxq > g.mnq THEN g.mxq - g.mnq ELSE 1.0 END) * 255) AS INT) END AS rq,
        |  CASE WHEN i.lnv IS NULL THEN 0
        |       ELSE CAST(floor((i.lnv - g.mnl)
        |         / (CASE WHEN g.mxl > g.mnl THEN g.mxl - g.mnl ELSE 1.0 END) * 255) AS INT) END AS gl
        |  FROM grid g LEFT JOIN idx i ON i.l_orderkey = g.l_orderkey AND i.i = g.pos)
        |SELECT l_orderkey, pos AS i,
        |  CAST(rq * 65536 + gl * 256 + rq AS DOUBLE) AS v
        |FROM cell ORDER BY l_orderkey, i""".stripMargin),
    // integer-valued cells formatted %.2f, absent grid cells as '--'
    "q_render_matrix" -> (IDX +
      """, grid AS (SELECT o.l_orderkey, CAST(p AS INT) AS pos
        |  FROM (SELECT DISTINCT l_orderkey FROM idx) o, range(0, 32) g(p)),
        |ch AS (SELECT g.l_orderkey, g.pos,
        |  CASE WHEN i.q IS NULL THEN '--' ELSE printf('%.2f', i.q) END AS c
        |  FROM grid g LEFT JOIN idx i ON i.l_orderkey = g.l_orderkey AND i.i = g.pos),
        |rows_ AS (SELECT l_orderkey, pos // 8 AS r,
        |  string_agg(c, ' ' ORDER BY pos) AS rowstr
        |  FROM ch GROUP BY 1, 2)
        |SELECT l_orderkey,
        |  string_agg(rowstr || chr(10), '' ORDER BY r) AS matrix
        |FROM rows_ GROUP BY 1 ORDER BY l_orderkey""".stripMargin),
    // char = ramp[floor((v-mn)/range*9)] — identical IEEE ops then
    // floor (Scala toInt truncates; values are non-negative so floor
    // agrees); absent grid cells render the NoData glyph
    "q_render_ascii" -> (IDX +
      """, ext AS (SELECT l_orderkey, MIN(q) AS mn, MAX(q) AS mx FROM idx GROUP BY 1),
        |grid AS (SELECT e.l_orderkey, e.mn,
        |  CASE WHEN e.mx > e.mn THEN e.mx - e.mn ELSE 1.0 END AS rng,
        |  CAST(p AS INT) AS pos FROM ext e, range(0, 32) g(p)),
        |ch AS (SELECT g.l_orderkey, g.pos,
        |  CASE WHEN i.q IS NULL THEN '∘'
        |       ELSE substr(' .:-=+*#%@',
        |         CAST(floor((i.q - g.mn) / g.rng * 9) AS INT) + 1, 1) END AS c
        |  FROM grid g LEFT JOIN idx i ON i.l_orderkey = g.l_orderkey AND i.i = g.pos),
        |rows_ AS (SELECT l_orderkey, pos // 8 AS r,
        |  string_agg(c, '' ORDER BY pos) AS rowstr
        |  FROM ch GROUP BY 1, 2)
        |SELECT l_orderkey,
        |  string_agg(rowstr || chr(10), '' ORDER BY r) AS ascii
        |FROM rows_ GROUP BY 1 ORDER BY l_orderkey""".stripMargin),
    // overview mosaic replay: dest cell = the one tile whose disjoint
    // footprint covers it, at the 1:1-mapped local position
    "q_overview" -> (IDX +
      """ SELECT CAST((((l_orderkey // 601) % 5) * 8) + (i % 8) AS INT) AS gc,
        |CAST((((l_orderkey // 601) // 5) * 4) + (i // 8) AS INT) AS gr,
        |q AS v
        |FROM idx WHERE l_orderkey % 601 = 3 AND l_orderkey // 601 < 25
        |ORDER BY gc, gr""".stripMargin),
    // identical replay to q_overview: the mosaic writer and the
    // overview aggregate must agree cell-for-cell
    "q_geotiff_mosaic" -> (IDX +
      """ SELECT CAST((((l_orderkey // 601) % 5) * 8) + (i % 8) AS INT) AS gc,
        |CAST((((l_orderkey // 601) // 5) * 4) + (i // 8) AS INT) AS gr,
        |q AS v
        |FROM idx WHERE l_orderkey % 601 = 3 AND l_orderkey // 601 < 25
        |ORDER BY gc, gr""".stripMargin),
    // grid placement p=(px,py) intersects query (0,0,17,11) iff
    // px*8<=17 (px<=2) and 20-4(py+1)<=11 (py>=2): p ∈ py*5+px
    "q_layer_roundtrip" -> (IDX +
      """ SELECT l_orderkey, i, q AS cell FROM idx
        |WHERE l_orderkey % 601 = 3
        |  AND (l_orderkey // 601) % 5 <= 2
        |  AND (l_orderkey // 601) // 5 BETWEEN 2 AND 4
        |  AND l_orderkey // 601 < 25
        |ORDER BY l_orderkey, i""".stripMargin),
    // hilbert ordering changes file layout, not content: same oracle
    "q_layer_hilbert" -> (IDX +
      """ SELECT l_orderkey, i, q AS cell FROM idx
        |WHERE l_orderkey % 601 = 3
        |  AND (l_orderkey // 601) % 5 <= 2
        |  AND (l_orderkey // 601) // 5 BETWEEN 2 AND 4
        |  AND l_orderkey // 601 < 25
        |ORDER BY l_orderkey, i""".stripMargin),
    // stac items re-derived from the nation table the catalog was
    // generated from
    "q_stac_read" ->
      """SELECT 'n' || n_nationkey AS id,
        |  'r' || CAST(n_regionkey AS INT) AS collection,
        |  '2024-01-01T00:00:0' || (n_nationkey % 10) || 'Z' AS datetime,
        |  CAST(n_nationkey AS DOUBLE) AS bx0, CAST(0.0 AS DOUBLE) AS by0,
        |  CAST(n_nationkey + 1 AS DOUBLE) AS bx1, CAST(1.0 AS DOUBLE) AS by1,
        |  2 AS n_assets,
        |  '/data/n' || n_nationkey || '-b1.tif' AS href1
        |FROM nation ORDER BY id""".stripMargin,
    // the writer/catalog/reader roundtrip reproduces the source cells
    "q_tiles_roundtrip" -> (IDX +
      """ SELECT l_orderkey, i, q AS cell FROM idx
        |WHERE l_orderkey % 307 = 5 ORDER BY l_orderkey, i""".stripMargin),
    // the windowed+buffered+cropped focal equals the WHOLE-raster
    // neighborhood mean — the oracle is seam-blind by construction
    "q_geotiff_focal" -> (IDX +
      """, cells AS (SELECT l_orderkey, i, q, i % 8 AS c, i // 8 AS r
        |  FROM idx WHERE l_orderkey % 61 = 3)
        |SELECT a.l_orderkey AS l_orderkey, a.i AS i,
        |SUM(b.q) / COUNT(b.q) AS fmean
        |FROM cells a JOIN cells b
        |  ON a.l_orderkey = b.l_orderkey AND abs(a.c - b.c) <= 1 AND abs(a.r - b.r) <= 1
        |GROUP BY a.l_orderkey, a.i ORDER BY l_orderkey, i""".stripMargin),
    // halo replay: each cell joins every window whose 1-px-expanded
    // (and edge-clamped) range contains it; extents from the clamped
    // window origin
    "q_geotiff_read_buffered" -> (IDX +
      """, w(kc, kr) AS (VALUES (0, 0), (1, 0), (0, 1), (1, 1)),
        |b AS (SELECT kc, kr,
        |  greatest(0, kc * 4 - 1) AS c0, least(7, kc * 4 + 4) AS c1,
        |  greatest(0, kr * 2 - 1) AS r0, least(3, kr * 2 + 2) AS r1 FROM w)
        |SELECT i.l_orderkey, CAST(b.kc AS INT) AS kc, CAST(b.kr AS INT) AS kr,
        |  i.i, i.q AS qty,
        |  CAST(b.c0 AS DOUBLE) AS win_xmin, CAST(4 - b.r0 AS DOUBLE) AS win_ymax
        |FROM idx i, b
        |WHERE i.l_orderkey % 61 = 3
        |  AND (i.i % 8) BETWEEN b.c0 AND b.c1 AND (i.i // 8) BETWEEN b.r0 AND b.r1
        |ORDER BY i.l_orderkey, kc, kr, i.i""".stripMargin),
    "q_assemble_roundtrip" ->
      "SELECT l_orderkey, SUM(l_quantity) AS tile_sum FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey",
    "q_standardize" -> (IDX +
      " SELECT l_orderkey, i, (q - 25.0) / 10.0 AS cell FROM idx ORDER BY l_orderkey, i"),
    "q_rescale" -> (IDX +
      " SELECT l_orderkey, i, (q - 1.0) / (50.0 - 1.0) AS cell FROM idx ORDER BY l_orderkey, i"),
    "q_metadata" ->
      """SELECT l_orderkey, 'float64' AS ct, l_orderkey % 10 AS bucket,
        |8 AS cols, 4 AS rows, FALSE AS is_nd,
        |CAST(MAX(CASE WHEN l_quantity > 49.0 THEN 1 ELSE 0 END) AS BOOLEAN) AS has_gt49
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_agg_mean" ->
      "SELECT l_orderkey % 10 AS bucket, AVG(l_quantity) AS m FROM lineitem GROUP BY 1 ORDER BY 1",
    "q_agg_stats" -> (IDX +
      """ SELECT bucket, CAST(COUNT(*) AS BIGINT) AS dc,
        |CAST(32 * COUNT(DISTINCT l_orderkey) - COUNT(*) AS BIGINT) AS ndc,
        |MIN(q) AS mn, MAX(q) AS mx, SUM(q) / COUNT(q) AS mean,
        |CASE WHEN COUNT(q) > 1 THEN (SUM(q*q) - SUM(q) * (SUM(q) / COUNT(q))) / (COUNT(q) - 1) END AS variance,
        |CAST(COUNT(*) AS BIGINT) AS agg_dc,
        |CAST(32 * COUNT(DISTINCT l_orderkey) - COUNT(*) AS BIGINT) AS agg_ndc
        |FROM idx GROUP BY bucket ORDER BY bucket""".stripMargin),
    "q_agg_histogram" -> (IDX +
      """ SELECT q AS bin_value, CAST(COUNT(*) AS BIGINT) AS bin_count
        |FROM idx GROUP BY q ORDER BY bin_value""".stripMargin),
    "q_tile_histogram" -> (IDX +
      """ SELECT l_orderkey, q AS bin_value, CAST(COUNT(*) AS BIGINT) AS bin_count
        |FROM idx GROUP BY l_orderkey, q ORDER BY l_orderkey, bin_value""".stripMargin),
    "q_agg_local" -> (IDX +
      """ SELECT bucket, i, MIN(q) AS min_c, MAX(q) AS max_c,
        |SUM(q) / COUNT(q) AS mean_c, CAST(COUNT(*) AS DOUBLE) AS cnt_c
        |FROM idx GROUP BY bucket, i ORDER BY bucket, i""".stripMargin),
    "q_agg_local_nodata" -> (IDX +
      """, b AS (SELECT bucket, CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM idx GROUP BY bucket),
        |d AS (SELECT bucket, i, CAST(COUNT(*) AS DOUBLE) AS c FROM idx GROUP BY bucket, i)
        |SELECT b.bucket AS bucket, CAST(gs.g AS INTEGER) AS i, b.n - COALESCE(d.c, 0.0) AS nd
        |FROM b CROSS JOIN generate_series(0, 31) gs(g)
        |LEFT JOIN d ON d.bucket = b.bucket AND d.i = gs.g
        |ORDER BY b.bucket, i""".stripMargin),
    "q_text_stats" ->
      """SELECT doc_id, n_chars, CAST(LENGTH(text) AS INTEGER) AS chars,
        |CAST(LEN(string_split(text, ' ')) AS INTEGER) AS tokens,
        |CAST(LEN(list_distinct(string_split(text, ' '))) AS INTEGER) AS distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      """SELECT doc_id,
        |CAST(LENGTH(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / LENGTH(text) AS punct_ratio,
        |CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE) / LEN(string_split(text, ' ')) AS distinct_ratio,
        |((LEAST(CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) * 0.4)
        | + ((CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE) / LEN(string_split(text, ' '))) * 0.4))
        | + ((1.0 - CAST(LENGTH(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / LENGTH(text)) * 0.2) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_freq" ->
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY token""".stripMargin,
    // the aggregate mode replayed as the window it replaces
    "q_mode" ->
      """WITH tc AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1, 2),
        |r AS (SELECT source, token, n,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token) AS rn FROM tc)
        |SELECT source, token AS top_token, n FROM r WHERE rn = 1 ORDER BY source""".stripMargin,
    "q_lang_stats" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |AVG(n_chars) AS avg_chars, CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, CAST(COUNT(*) AS BIGINT) AS cnt, MIN(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // same decomposed decoration replayed; utf8proc's nfc_normalize /
    // strip_accents implement the same Unicode algorithms as
    // java.text.Normalizer, and the regex cleanup is dialect-neutral
    "q_normalize" ->
      """WITH d AS (SELECT doc_id,
        |  '  Café naïve Å piña --- ' || text || chr(9) || ' end  ' AS deco FROM documents)
        |SELECT doc_id,
        |  nfc_normalize(deco) AS nfc_text,
        |  CAST(length(nfc_normalize(deco)) AS INT) AS nfc_len,
        |  strip_accents(deco) AS plain,
        |  trim(regexp_replace(lower(nfc_normalize(deco)), '\s+', ' ', 'g')) AS clean,
        |  trim(regexp_replace(regexp_replace(deco, '[^\p{L}\p{N}\s]', '', 'g'),
        |       '\s+', ' ', 'g')) AS nopunct
        |FROM d ORDER BY doc_id""".stripMargin,
    // mean pooling replayed: list(v ORDER BY vec_id) pins the same fold
    // order, list_reduce sums per dimension, one division by the count
    "q_mean_pool" ->
      """WITH g AS (SELECT vec_id % 50 AS doc, vec_id,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |l AS (SELECT doc, list(v ORDER BY vec_id) AS vs FROM g GROUP BY doc),
        |m AS (SELECT doc, unnest(range(1, 1 + len(vs[1]))) AS dd, vs FROM l)
        |SELECT doc, CAST(dd - 1 AS INT) AS d,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(vs, x -> x[CAST(dd AS INT)])), (a, b) -> a + b)
        |    / len(vs) AS m
        |FROM m ORDER BY doc, d""".stripMargin,
    // norm/normalize replayed with list_dot_product (index-order, proven
    // bit-exact by the knn oracles) and IEEE sqrt/division
    "q_vec_norm" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS norm, v FROM e),
        |u AS (SELECT vec_id, norm, list_transform(v, x -> x / norm) AS u FROM n)
        |SELECT vec_id, norm, u[1] AS u0, list_dot_product(u, u) AS unit_dot
        |FROM u ORDER BY vec_id""".stripMargin,
    // int8 quantization replayed in double with the same staged scale;
    // round() is half-away-from-zero in both engines, and the cast to
    // INTEGER acts on an already-integral double
    "q_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS m0 FROM e),
        |s AS (SELECT vec_id, v, CASE WHEN m0 = 0 THEN 1.0 ELSE m0 END AS scale FROM m),
        |c AS (SELECT vec_id, scale,
        |  list_transform(v, x -> CAST(round(x / scale) AS INTEGER)) AS codes FROM s),
        |u AS (SELECT vec_id, scale, codes,
        |  unnest(range(1, 1 + len(codes))) AS dd FROM c)
        |SELECT vec_id, scale, CAST(dd - 1 AS INT) AS pos,
        |  codes[CAST(dd AS INT)] AS code,
        |  list_max(codes) AS code_max, list_min(codes) AS code_min
        |FROM u ORDER BY vec_id, pos""".stripMargin,
    // line cleanup replayed with DuckDB's list lambdas over the same
    // injected boilerplate; the word-count and marker rules are literal
    // string ops in both engines (no regex dialect in the predicate)
    "q_clean_lines" ->
      """WITH lined AS (SELECT doc_id,
        |  regexp_replace(text, ' line ', chr(10), 'g')
        |  || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'enable javascript to view' ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'we use cookie banners here' ELSE '' END AS txt
        |  FROM documents),
        |k AS (SELECT doc_id, txt,
        |  list_filter(string_split(txt, chr(10)), l ->
        |    len(list_filter(string_split(trim(l), ' '), w -> w <> '')) >= 3
        |    AND NOT contains(lower(trim(l)), 'javascript')
        |    AND NOT contains(lower(trim(l)), 'cookie')
        |    AND NOT contains(lower(trim(l)), 'all rights reserved')) AS kept
        |  FROM lined)
        |SELECT doc_id,
        |  CAST(len(string_split(txt, chr(10))) AS INTEGER) AS n_lines,
        |  CAST(len(kept) AS INTEGER) AS n_kept,
        |  array_to_string(list_transform(kept, l -> trim(l)), chr(10)) AS cleaned
        |FROM k ORDER BY doc_id""".stripMargin,
    // rational tf-idf replayed with the same pinned multiply-then-divide
    "q_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        |dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT t.doc_id, t.term, t.tf, d.df,
        |  CAST(t.tf AS DOUBLE) * n_docs / d.df AS score
        |  FROM tf t JOIN dfc d USING (term), n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, term) AS rank FROM scored)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  score, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // first-occurrence order via ROW_NUMBER (DuckDB's list_distinct does
    // NOT preserve order; Spark's array_distinct does)
    "q_dedup_within" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |e AS (SELECT doc_id, t, unnest(range(0, (len(t) + 1) // 2)) AS si FROM d),
        |segs AS (SELECT doc_id, si, array_to_string(t[(si*2+1):(si*2+2)], ' ') AS seg FROM e),
        |rn AS (SELECT doc_id, si, seg,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id, seg ORDER BY si) AS r FROM segs),
        |kept AS (SELECT doc_id, si, seg FROM rn WHERE r = 1),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |  string_agg(seg, ' ' ORDER BY si) AS clean_text FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, (len(t) + 1) // 2 AS n_segments FROM d)
        |SELECT t.doc_id, a.clean_text, CAST(t.n_segments AS INT) AS n_segments,
        |  CAST(t.n_segments - a.n_kept AS INT) AS n_dropped
        |FROM tot t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // dataset card: integer counts + one exact-int division (dup_rate);
    // the Gopher pass count reuses q_gopher_rules' pinned arithmetic
    "q_corpus_report" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
         |m AS (SELECT doc_id, LEN(t) AS n,
         |  list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) AS sumlen,
         |  LENGTH(text) - LENGTH(replace(text, '#', '')) AS hashes,
         |  (LENGTH(text) - LENGTH(replace(text, '...', ''))) // 3 AS ellipses,
         |  LEN(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
         |  LEN(list_filter(list_distinct(t),
         |      x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS stop_hits
         |  FROM d),
         |gp AS (SELECT SUM(CASE WHEN (n BETWEEN 4 AND 1000)
         |    AND (CAST(sumlen AS DOUBLE) / n BETWEEN 3.0 AND 10.0)
         |    AND (CAST(hashes + ellipses AS DOUBLE) / n <= 0.1)
         |    AND (CAST(alpha AS DOUBLE) / n >= 0.8)
         |    AND (stop_hits >= 2) THEN 1 ELSE 0 END) AS gopher_pass_docs FROM m),
         |pii AS (SELECT SUM(CASE WHEN len(regexp_extract_all(text, '$email'))
         |    + len(regexp_extract_all(text, '$ip'))
         |    + len(regexp_extract_all(text, '$phone')) > 0 THEN 1 ELSE 0 END) AS pii_docs
         |  FROM documents),
         |base AS (SELECT COUNT(*) AS n_docs,
         |  SUM(LENGTH(text)) AS total_chars,
         |  SUM(LEN(string_split(text, ' '))) AS total_tokens,
         |  COUNT(DISTINCT lang) AS n_langs,
         |  COUNT(DISTINCT source) AS n_sources,
         |  COUNT(DISTINCT md5(text)) AS distinct_texts FROM documents)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(total_chars AS BIGINT) AS total_chars,
         |  CAST(total_tokens AS BIGINT) AS total_tokens,
         |  CAST(n_langs AS BIGINT) AS n_langs,
         |  CAST(n_sources AS BIGINT) AS n_sources,
         |  CAST(distinct_texts AS BIGINT) AS distinct_texts,
         |  CAST(pii_docs AS BIGINT) AS pii_docs,
         |  CAST(n_docs - distinct_texts AS DOUBLE) / n_docs AS dup_rate,
         |  CAST(gopher_pass_docs AS BIGINT) AS gopher_pass_docs
         |FROM base, gp, pii""".stripMargin
    },
    // same decoration; comment regex first, tag regex second, entity
    // replaces in the same pinned order
    "q_strip_html" ->
      """WITH d AS (SELECT doc_id,
        |  '<div class="doc"><!-- hdr --><p>' || text ||
        |  '</p>&nbsp;<br/>&amp;lt;end&gt; x <i>it</i>' AS deco FROM documents),
        |s AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(deco, '<!--.*?-->', ' ', 'gs'),
        |                   '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&') AS stripped
        |  FROM d)
        |SELECT doc_id, stripped,
        |  trim(regexp_replace(stripped, '\s+', ' ', 'g')) AS clean
        |FROM s ORDER BY doc_id""".stripMargin,
    // each Gopher ratio is one int/int division, replayed verbatim
    "q_gopher_rules" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |m AS (SELECT doc_id, LEN(t) AS n,
        |  list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) AS sumlen,
        |  LENGTH(text) - LENGTH(replace(text, '#', '')) AS hashes,
        |  (LENGTH(text) - LENGTH(replace(text, '...', ''))) // 3 AS ellipses,
        |  LEN(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
        |  LEN(list_filter(list_distinct(t),
        |      x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS stop_hits
        |  FROM d)
        |SELECT doc_id, CAST(n AS INT) AS n_words,
        |  CAST(sumlen AS DOUBLE) / n AS mean_word_len,
        |  CAST(hashes + ellipses AS DOUBLE) / n AS symbol_ratio,
        |  CAST(alpha AS DOUBLE) / n AS alpha_ratio,
        |  CAST(stop_hits AS INT) AS stop_hits,
        |  (n BETWEEN 4 AND 1000)
        |    AND (CAST(sumlen AS DOUBLE) / n BETWEEN 3.0 AND 10.0)
        |    AND (CAST(hashes + ellipses AS DOUBLE) / n <= 0.1)
        |    AND (CAST(alpha AS DOUBLE) / n >= 0.8)
        |    AND (stop_hits >= 2) AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin,
    // discrete-quantile threshold replayed: smallest score whose
    // cumulative histogram count reaches ceil(n * 250 / 1000)
    "q_quantile_filter" ->
      """WITH s AS (SELECT doc_id, len(string_split(text, ' ')) AS score FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM s),
        |hist AS (SELECT score, COUNT(*) AS cnt FROM s GROUP BY score),
        |cum AS (SELECT score, SUM(cnt) OVER (ORDER BY score) AS cume FROM hist),
        |thr AS (SELECT MIN(score) AS t FROM cum, tot WHERE cume >= (n * 250 + 999) // 1000)
        |SELECT doc_id, CAST(score AS INT) AS n_tokens, CAST(t AS BIGINT) AS threshold
        |FROM s, thr WHERE score >= t ORDER BY doc_id""".stripMargin,
    // chunk windows replayed with 1-based inclusive list slices:
    // t[i*4+1 : i*4+8] == Spark slice(t, i*4+1, 8)
    "q_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |c AS (SELECT doc_id, t, unnest(range(0, (len(t) - 1) // 4 + 1)) AS ci FROM d)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_idx, CAST(ci * 4 AS INT) AS start_token,
        |  array_to_string(t[(ci*4+1):(ci*4+8)], ' ') AS chunk_text,
        |  CAST(LEAST(8, len(t) - ci*4) AS INT) AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // Bloom probe replayed bit-exactly: fingerprint64 → Kirsch–Mitzenmacher
    // double hashing (step = mix64(h ^ golden) | 1), 4 positions mod 2^14;
    // a doc "hits" iff all 4 of its positions were set by some ref doc
    "q_bloom_dedup" -> {
      s"""WITH raw AS (
         |  SELECT doc_id, list_reduce(
         |    list_prepend(0::HUGEINT, list_transform(range(1, length(text) + 1),
         |      i -> ascii(text[i])::HUGEINT)),
         |    (a, b) -> (a * 1000003::HUGEINT + b) % $M64) AS h
         |  FROM documents),
         |fp AS (SELECT doc_id, ${duckMix64("h")} AS hu FROM raw),
         |st0 AS (SELECT doc_id, hu,
         |  ${duckMix64("xor(hu, 11400714819323198485::HUGEINT)")} AS g FROM fp),
         |st AS (SELECT doc_id, hu, g - g % 2::HUGEINT + 1::HUGEINT AS step FROM st0),
         |pos AS (SELECT doc_id,
         |  ((hu + (i::HUGEINT * step) % $M64) % $M64) % 16384::HUGEINT AS p
         |  FROM st, range(0, 4) r(i)),
         |refpos AS (SELECT DISTINCT p FROM pos WHERE doc_id % 3 = 0),
         |refh AS (SELECT DISTINCT hu FROM fp WHERE doc_id % 3 = 0),
         |hit AS (SELECT doc_id, bool_and(p IN (SELECT p FROM refpos)) AS bloom_hit
         |        FROM pos GROUP BY doc_id)
         |SELECT f.doc_id, h.bloom_hit, (f.hu IN (SELECT hu FROM refh)) AS is_member
         |FROM fp f JOIN hit h ON f.doc_id = h.doc_id ORDER BY f.doc_id""".stripMargin
    },
    // segment dedup re-derived with list slicing (no WITH ORDINALITY in
    // this DuckDB): 4-token segments, df > 1 dropped, ordered reassembly
    "q_segment_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |e AS (SELECT doc_id, toks, unnest(range(0, CAST(ceil(len(toks)/4.0) AS BIGINT))) AS seg_id FROM d),
        |segs AS (SELECT doc_id, seg_id, array_to_string(toks[(seg_id*4+1):(seg_id*4+4)], ' ') AS seg FROM e),
        |cnt AS (SELECT seg, COUNT(*) AS df FROM segs GROUP BY 1),
        |kept AS (SELECT s.doc_id, s.seg_id, s.seg FROM segs s JOIN cnt c USING (seg) WHERE c.df <= 1),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept, string_agg(seg, ' ' ORDER BY seg_id) AS clean_text
        |  FROM kept GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(ceil(len(toks)/4.0) AS INT) AS n_segments FROM d)
        |SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text, t.n_segments,
        |  CAST(t.n_segments - COALESCE(a.n_kept, 0) AS INT) AS n_dropped
        |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // chained fixture + exact trigram-Jaccard edges + recursive-CTE
    // connected components — the transitive-closure ground truth for the
    // Spark side's iterative label propagation
    "q_dedup_pipeline" ->
      """WITH RECURSIVE docs0 AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 5 = 0),
        |vars AS (
        |  SELECT doc_id * 3 AS id, source, t FROM docs0
        |  UNION ALL
        |  SELECT doc_id * 3 + 1, source, t[1:(LEN(t) * 4) // 5] FROM docs0
        |  UNION ALL
        |  SELECT doc_id * 3 + 2, source, t[1:(((LEN(t) * 4) // 5) * 4) // 5] FROM docs0),
        |vtext AS (SELECT id, source, array_to_string(t, ' ') AS text, t FROM vars),
        |grams AS (SELECT DISTINCT source AS blk, id,
        |  unnest([array_to_string(t[i:i+2], ' ') FOR i IN range(1, GREATEST(LEN(t) - 1, 2))]) AS gram
        |  FROM vtext),
        |sizes AS (SELECT blk, id, CAST(COUNT(*) AS DOUBLE) AS sz FROM grams GROUP BY blk, id),
        |common AS (SELECT a.blk AS blk, a.id AS a_id, b.id AS b_id, CAST(COUNT(*) AS DOUBLE) AS c
        |           FROM grams a JOIN grams b ON a.blk = b.blk AND a.gram = b.gram AND a.id < b.id
        |           GROUP BY a.blk, a.id, b.id),
        |near AS (SELECT a_id, b_id FROM common
        |         JOIN sizes sa ON sa.blk = common.blk AND sa.id = common.a_id
        |         JOIN sizes sb ON sb.blk = common.blk AND sb.id = common.b_id
        |         WHERE c / (sa.sz + sb.sz - c) >= 0.7),
        |exact AS (SELECT x.id AS a_id, y.id AS b_id FROM vtext x JOIN vtext y
        |          ON x.text = y.text AND x.id < y.id),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM near
        |          UNION SELECT b_id, a_id FROM near
        |          UNION SELECT a_id, b_id FROM exact
        |          UNION SELECT b_id, a_id FROM exact),
        |reach AS (
        |  SELECT id, id AS r FROM vtext
        |  UNION
        |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id, MIN(r) AS keep_id, MIN(r) <> id AS is_duplicate
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "q_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT doc_id,
        |  [array_to_string(t[i:i+2], ' ') FOR i IN range(1, GREATEST(LEN(t) - 1, 2))] AS g
        |  FROM toks)
        |SELECT doc_id, 1.0 - CAST(LEN(list_distinct(g)) AS DOUBLE) / LEN(g) AS rep3
        |FROM grams ORDER BY doc_id""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH toks AS (SELECT source AS blk, doc_id AS id, string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT DISTINCT blk, id,
        |          unnest([array_to_string(t[i:i+2], ' ') FOR i IN range(1, GREATEST(LEN(t) - 1, 2))]) AS gram
        |          FROM toks),
        |sizes AS (SELECT blk, id, CAST(COUNT(*) AS DOUBLE) AS sz FROM grams GROUP BY blk, id),
        |common AS (SELECT a.blk AS blk, a.id AS a_id, b.id AS b_id, CAST(COUNT(*) AS DOUBLE) AS c
        |           FROM grams a JOIN grams b ON a.blk = b.blk AND a.gram = b.gram AND a.id < b.id
        |           GROUP BY a.blk, a.id, b.id)
        |SELECT common.blk AS blk, a_id, b_id, c / (sa.sz + sb.sz - c) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.blk = common.blk AND sa.id = common.a_id
        |JOIN sizes sb ON sb.blk = common.blk AND sb.id = common.b_id
        |WHERE c / (sa.sz + sb.sz - c) >= 0.05
        |ORDER BY blk, a_id, b_id""".stripMargin,
    "q_multimodal" ->
      """SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS byte_len,
        |CAST(CASE WHEN LENGTH(text) >= 64 THEN (LENGTH(text) - 64) // 32 + 1 ELSE 0 END AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // text is pure ASCII in the synthetic corpus, so UTF-8 byte value ==
    // character code and the byte histogram is char-countable in SQL.
    "q_multimodal_decode" ->
      """WITH chars AS (
        |  SELECT d.doc_id, CAST(ascii(substring(d.text, CAST(u.ci AS INT), 1)) // 16 AS INT) AS bin
        |  FROM documents d, unnest(range(1, length(d.text) + 1)) AS u(ci)),
        |counts AS (SELECT doc_id, bin, COUNT(*) AS c FROM chars GROUP BY doc_id, bin),
        |grid AS (
        |  SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS byte_len, CAST(g.bin AS INT) AS bin
        |  FROM documents d, (SELECT unnest(range(0, 16)) AS bin) g)
        |SELECT grid.doc_id AS doc_id, CAST(3 AS INTEGER) AS channels, grid.byte_len AS byte_len,
        |  grid.bin AS bin, CAST(COALESCE(counts.c, 0) AS BIGINT) AS bin_count
        |FROM grid LEFT JOIN counts ON grid.doc_id = counts.doc_id AND grid.bin = counts.bin
        |ORDER BY doc_id, bin""".stripMargin,
    // the WAV parser replayed from the sample formula (no byte plumbing):
    // samples are ((doc_id*31 + i*7) % 65536) - 32768 for i in [0, 256)
    "q_audio_stats" ->
      """SELECT doc_id, CAST(16000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(MIN(s) AS INTEGER) AS min_s, CAST(MAX(s) AS INTEGER) AS max_s,
        |  CAST(SUM(s) AS BIGINT) AS sum_s
        |FROM (SELECT d.doc_id, ((d.doc_id * 31 + u.i * 7) % 65536) - 32768 AS s
        |      FROM documents d, unnest(range(0, 256)) AS u(i))
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_math_rows" -> (IDX +
      """ SELECT l_orderkey, round(SUM(ln(q)), 6) AS s_log, round(SUM(log10(q)), 6) AS s_log10,
        |round(SUM(log2(q)), 6) AS s_log2, round(SUM(ln(1 + q)), 6) AS s_log1p,
        |round(SUM(exp(q / 50.0)), 6) AS s_exp, round(SUM(pow(2.0, q / 10.0)), 6) AS s_exp2,
        |round(SUM(pow(10.0, q / 25.0)), 6) AS s_exp10, round(SUM(exp(q / 50.0) - 1), 6) AS s_expm1,
        |SUM(round(q / 7.0)) AS s_round, SUM(q) AS s_id
        |FROM idx GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    // approx quantiles: epsilon*N << 1 at sf0.01, so the GK sketch returns
    // exact order statistics == DuckDB's quantile_disc
    "q_agg_quantiles" -> (IDX +
      """ SELECT bucket, quantile_disc(q, 0.25) AS p25, quantile_disc(q, 0.5) AS p50,
        |quantile_disc(q, 0.75) AS p75
        |FROM idx GROUP BY bucket ORDER BY bucket""".stripMargin),
    // exact brute-force cosine: DuckDB list_dot_product over DOUBLE-cast
    // vectors reproduces the left-to-right double accumulation bit-exactly
    "q_knn_brute" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e2 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |        CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS sim
        |      FROM e2 a, e2 b WHERE a.vec_id <> b.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
        |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // stopword-profile argmax re-derived from the same literal profile
    // table; ties broken by max lang code, matching greatest(struct(...))
    "q_lang_id" -> {
      val vals = TextFunctions.langProfiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }.mkString(", ")
      s"""WITH prof(lang, word) AS (VALUES $vals),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |scores AS (SELECT t.doc_id, p.lang, COUNT(*) AS score
         |           FROM toks t JOIN prof p ON t.tok = p.word GROUP BY t.doc_id, p.lang),
         |best AS (SELECT doc_id, lang, score,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
         |         FROM scores)
         |SELECT d.doc_id, d.lang,
         |  COALESCE((SELECT b.lang FROM best b
         |            WHERE b.doc_id = d.doc_id AND b.rn = 1 AND b.score > 0), 'und') AS guess
         |FROM documents d ORDER BY d.doc_id""".stripMargin
    },
    // winnowing replayed: same gram hash as the minhash shingles, the
    // rightmost-window-min encoded as MIN over a composite key
    // (signed-shifted hash * 2^32 + (2^32-1-pos)) in a 3-PRECEDING frame
    "q_winnow" ->
      s"""WITH $duckWinnowCtes
         |SELECT s.doc_id, CAST(s.pos - 1 AS INT) AS pos, g.h AS fp
         |FROM selpos s JOIN gh g ON s.doc_id = g.doc_id AND s.pos = g.pos
         |ORDER BY s.doc_id, pos""".stripMargin,
    // shared-fingerprint pairs on top of the same winnow CTEs; hot
    // fingerprints (doc frequency > 20) dropped before the self-join
    "q_winnow_pairs" ->
      s"""WITH $duckWinnowCtes,
         |selfp AS (SELECT DISTINCT s.doc_id, g.h
         |  FROM selpos s JOIN gh g ON s.doc_id = g.doc_id AND s.pos = g.pos),
         |hot AS (SELECT h FROM selfp GROUP BY h HAVING COUNT(*) > 20),
         |kept AS (SELECT * FROM selfp WHERE h NOT IN (SELECT h FROM hot)),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
         |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id, CAST(shared AS INT) AS shared
         |FROM pairs WHERE shared >= 2 ORDER BY a_id, b_id""".stripMargin,
    // ExactSubstr dedup re-derived: every 8-token window hash (same
    // FNV-1a + splitmix64 as the Spark Winnow expression), corpus-
    // duplicated hashes flag [pos, pos+8) spans, cumulative-max
    // interval merge per doc, tokens outside merged spans re-joined
    "q_substring_dedup" -> {
      val gramHash = duckToSigned(duckMix64(duckFnv("g", "14695981039346656037")))
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |grams AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |  array_to_string(t[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
         |  FROM toks, unnest(range(1, greatest(len(t) - 6, 1))) u(i)),
         |gh AS (SELECT doc_id, pos, $gramHash AS h FROM grams),
         |dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) > 1),
         |flg AS (SELECT doc_id, pos, pos + 8 AS e FROM gh WHERE h IN (SELECT h FROM dup)),
         |m1 AS (SELECT doc_id, pos, e,
         |  MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM flg),
         |m2 AS (SELECT doc_id, pos, e,
         |  CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END AS brk FROM m1),
         |m3 AS (SELECT doc_id, pos, e,
         |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM m2),
         |sp AS (SELECT doc_id, grp, MIN(pos) AS s, MAX(e) AS e FROM m3 GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         |  CAST(SUM(e - s) AS BIGINT) AS n_removed_tokens FROM sp GROUP BY doc_id),
         |tokix AS (SELECT doc_id, CAST(i - 1 AS INT) AS ti, t[CAST(i AS INT)] AS tok
         |  FROM toks, unnest(range(1, len(t) + 1)) u(i)),
         |keep AS (SELECT k.doc_id, k.ti, k.tok FROM tokix k
         |  WHERE NOT EXISTS (SELECT 1 FROM sp
         |    WHERE sp.doc_id = k.doc_id AND k.ti >= sp.s AND k.ti < sp.e)),
         |cleaned AS (SELECT doc_id, COALESCE(string_agg(tok, ' ' ORDER BY ti), '') AS ct
         |  FROM keep GROUP BY doc_id)
         |SELECT d.doc_id AS id,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
         |  COALESCE(a.n_removed_tokens, 0) AS n_removed_tokens,
         |  CASE WHEN a.doc_id IS NULL THEN d.text ELSE COALESCE(c.ct, '') END AS cleaned_text
         |FROM documents d
         |LEFT JOIN agg a ON d.doc_id = a.doc_id
         |LEFT JOIN cleaned c ON d.doc_id = c.doc_id
         |ORDER BY id""".stripMargin
    },
    // the same messy-URL construction + the normalize_url steps
    // re-derived in RE2 regexes (anchored, no lookarounds — by design)
    "q_url_dedup" ->
      s"""WITH b AS (SELECT doc_id, doc_id // 6 AS gid, doc_id % 6 AS v FROM documents),
         |u AS (SELECT doc_id, CASE v
         |  WHEN 0 THEN 'http://EXAMPLE.com/a/' || gid
         |  WHEN 1 THEN 'http://example.com:80/a/' || gid
         |  WHEN 2 THEN 'http://example.com/a/' || gid || '#frag'
         |  WHEN 3 THEN 'https://Example.COM:443/b?q=' || gid
         |  WHEN 4 THEN 'https://example.com/b?q=' || gid || '/'
         |  ELSE '  http://example.com/a/' || gid || '  ' END AS url FROM b),
         |n1 AS (SELECT doc_id, trim(regexp_replace(url, '(?s)#.*$$', '')) AS nf FROM u),
         |n2 AS (SELECT doc_id, nf,
         |  lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*)', 1)) AS sh,
         |  regexp_replace(nf, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*', '') AS rest FROM n1),
         |n3 AS (SELECT doc_id, CASE WHEN sh = '' THEN nf ELSE sh || rest END AS low FROM n2),
         |n4 AS (SELECT doc_id, regexp_replace(regexp_replace(low,
         |    '^(http://[^/:?#]*):80((/|\\?|#).*)?$$', '\\1\\2'),
         |    '^(https://[^/:?#]*):443((/|\\?|#).*)?$$', '\\1\\2') AS np FROM n3),
         |n5 AS (SELECT doc_id, regexp_replace(np, '/$$', '') AS nurl FROM n4)
         |SELECT nurl, CAST(COUNT(*) AS BIGINT) AS n_variants, MIN(doc_id) AS keeper_id
         |FROM n5 GROUP BY nurl ORDER BY nurl""".stripMargin,
    // rolling fingerprint + simhash recomputed with HUGEINT mod-2^64 math
    "q_fingerprint" -> {
      s"""WITH raw AS (
         |  SELECT doc_id, list_reduce(
         |    list_prepend(0::HUGEINT, list_transform(range(1, length(text) + 1),
         |      i -> ascii(text[i])::HUGEINT)),
         |    (a, b) -> (a * 1000003::HUGEINT + b) % $M64) AS h
         |  FROM documents),
         |fp AS (SELECT doc_id, ${duckMix64("h")} AS f FROM raw),
         |$duckSimhashCtes
         |SELECT fp.doc_id AS doc_id, ${duckToSigned("fp.f")} AS fp, ${duckToSigned("sh.s")} AS sh
         |FROM fp JOIN sh ON fp.doc_id = sh.doc_id ORDER BY doc_id""".stripMargin
    },
    // script mix re-derived from DuckDB character codepoints
    // (ascii(text[i]) — both engines count codepoints, not code units)
    "q_script_mix" ->
      """WITH chars AS (
        |  SELECT doc_id, ascii(text[CAST(i AS INT)]) AS c
        |  FROM documents, unnest(range(1, length(text) + 1)) u(i)),
        |agg AS (SELECT doc_id,
        |  CAST(SUM(CASE WHEN (c BETWEEN 97 AND 122) OR (c BETWEEN 65 AND 90) THEN 1 ELSE 0 END) AS INT) AS latin,
        |  CAST(SUM(CASE WHEN c BETWEEN 48 AND 57 THEN 1 ELSE 0 END) AS INT) AS digit,
        |  CAST(SUM(CASE WHEN (c BETWEEN 19968 AND 40959) OR (c BETWEEN 13312 AND 19903) THEN 1 ELSE 0 END) AS INT) AS cjk,
        |  CAST(SUM(CASE WHEN c BETWEEN 1024 AND 1279 THEN 1 ELSE 0 END) AS INT) AS cyrillic,
        |  CAST(SUM(CASE WHEN c BETWEEN 1536 AND 1791 THEN 1 ELSE 0 END) AS INT) AS arabic,
        |  CAST(SUM(CASE WHEN c IN (32, 9, 10, 13) THEN 1 ELSE 0 END) AS INT) AS space,
        |  CAST(SUM(CASE WHEN NOT ((c BETWEEN 97 AND 122) OR (c BETWEEN 65 AND 90)
        |    OR (c BETWEEN 48 AND 57) OR (c BETWEEN 19968 AND 40959)
        |    OR (c BETWEEN 13312 AND 19903) OR (c BETWEEN 1024 AND 1279)
        |    OR (c BETWEEN 1536 AND 1791) OR c IN (32, 9, 10, 13))
        |    THEN 1 ELSE 0 END) AS INT) AS other
        |  FROM chars GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  COALESCE(latin, 0) AS latin, COALESCE(digit, 0) AS digit,
        |  COALESCE(cjk, 0) AS cjk, COALESCE(cyrillic, 0) AS cyrillic,
        |  COALESCE(arabic, 0) AS arabic, COALESCE(space, 0) AS space,
        |  COALESCE(other, 0) AS other
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // wordpiece re-derived: same vocab fit, then the greedy walk as a
    // recursive CTE over a precomputed longest-match table per
    // (distinct word, offset); per-doc sums re-join word instances
    "q_wordpiece" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
         |  FROM documents),
         |vfit AS (SELECT tok AS p FROM (
         |  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
         |  ORDER BY c DESC, tok LIMIT 200)),
         |vocab AS (SELECT DISTINCT p FROM (
         |  SELECT p FROM vfit
         |  UNION ALL
         |  SELECT unnest([${(('a' to 'z') ++ ('0' to '9')).map(c => s"'$c'").mkString(",")}]) AS p)),
         |dwords AS (SELECT DISTINCT tok AS w FROM toks),
         |positions AS (SELECT w, unnest(range(0, length(w))) AS pos FROM dwords),
         |best AS (
         |  SELECT p.w, p.pos, MAX(length(v.p)) AS bl
         |  FROM positions p LEFT JOIN vocab v
         |    ON substr(p.w, CAST(p.pos + 1 AS INT), length(v.p)) = v.p
         |  GROUP BY p.w, p.pos),
         |st AS (
         |  SELECT w, CAST(0 AS BIGINT) AS pos, 0 AS np, 0 AS nu FROM dwords
         |  UNION ALL
         |  SELECT s.w, s.pos + COALESCE(b.bl, 1), s.np + 1,
         |    s.nu + CASE WHEN b.bl IS NULL THEN 1 ELSE 0 END
         |  FROM st s JOIN best b ON b.w = s.w AND b.pos = s.pos
         |  WHERE s.pos < length(s.w)),
         |wstats AS (SELECT w, np, nu FROM st WHERE pos >= length(w)),
         |g AS (SELECT t.doc_id, COUNT(*) AS nw, SUM(ws.np) AS np, SUM(ws.nu) AS nu
         |      FROM toks t JOIN wstats ws ON ws.w = t.tok GROUP BY t.doc_id)
         |SELECT d.doc_id AS id, CAST(COALESCE(g.nw, 0) AS INT) AS n_words,
         |  CAST(COALESCE(g.np, 0) AS INT) AS n_pieces,
         |  CAST(COALESCE(g.nu, 0) AS INT) AS n_unk
         |FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id
         |ORDER BY id""".stripMargin,
    // DSIR re-derived: polyhash+mix64 token buckets (power-of-two mod ==
    // low-bit mask, so HUGEINT unsigned-mod matches Spark's signed pmod),
    // add-one-smoothed integer micro-nat λ, Σλ per doc, top-100
    "q_dsir" -> {
      val tokHash = duckMix64(
        s"list_reduce(list_prepend(0::HUGEINT, list_transform(range(1, length(tok) + 1)," +
          s" i -> ascii(tok[i])::HUGEINT)), (a, b) -> (a * 1000003::HUGEINT + b) % $M64)")
      s"""WITH toks AS (
         |  SELECT doc_id, lang = 'en' AS tgt,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
         |  FROM documents),
         |th AS (SELECT doc_id, tgt, CAST(($tokHash) % 512::HUGEINT AS INT) AS b FROM toks),
         |bc AS (SELECT b, COUNT(*) AS r, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS t
         |       FROM th GROUP BY b),
         |tot AS (SELECT SUM(r) AS rr, SUM(t) AS tt FROM bc),
         |lam AS (SELECT b, CAST(round(1000000.0 * (ln((t + 1.0) / (tt + 512.0))
         |                 - ln((r + 1.0) / (rr + 512.0)))) AS BIGINT) AS lam
         |        FROM bc, tot),
         |sc AS (SELECT t.doc_id, SUM(l.lam) AS score FROM th t JOIN lam l USING (b)
         |       GROUP BY t.doc_id),
         |allsc AS (SELECT d.doc_id, CAST(COALESCE(sc.score, 0) AS BIGINT) AS score_unats
         |         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)
         |SELECT doc_id, score_unats,
         |  CAST(ROW_NUMBER() OVER (ORDER BY score_unats DESC, doc_id) AS INT) AS rank
         |FROM allsc ORDER BY score_unats DESC, doc_id LIMIT 100""".stripMargin
    },
    // 16-bit-chunk blocking + hamming filter, mirroring Dedup.simhashPairs
    "q_simhash_pairs" -> {
      s"""WITH $duckSimhashCtes,
         |chunked AS (
         |  SELECT doc_id, s, ci, CAST((s >> (16 * ci)) % 65536::HUGEINT AS INTEGER) AS chunk
         |  FROM sh, (SELECT unnest(range(0, 4)) AS ci)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |    bit_count(xor(${duckToSigned("a.s")}, ${duckToSigned("b.s")})) AS hamming
         |  FROM chunked a JOIN chunked b ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, CAST(hamming AS INTEGER) AS hamming
         |FROM pairs WHERE hamming <= 16 ORDER BY a_id, b_id""".stripMargin
    },
    // minhash signatures re-derived per (shingle, seed); banded join on the
    // actual 4-long band slices (band-hash equality == slice equality)
    "q_minhash_pairs" -> {
      s"""WITH $duckMinhashCtes,
         |est AS (
         |  SELECT c.a_id, c.b_id,
         |    (SELECT COUNT(*) FROM sig sa JOIN sig sb ON sa.k = sb.k AND sa.m = sb.m
         |     WHERE sa.doc_id = c.a_id AND sb.doc_id = c.b_id) / 32.0 AS est_jaccard
         |  FROM mcand c)
         |SELECT a_id, b_id, est_jaccard FROM est WHERE est_jaccard >= 0.2 ORDER BY a_id, b_id""".stripMargin
    },
    // hyperplane-LSH candidates + exact cosine refine + per-query top-k —
    // the full lshTopK path re-derived (buckets from the seeded mix64 mats)
    "q_knn_lsh" -> {
      s"""WITH $duckHyperplaneCtes,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sims AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0 THEN 0.0
         |         ELSE list_dot_product(a.v, b.v)
         |              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
         |  FROM cand c JOIN vv a ON a.vec_id = c.query_id JOIN vv b ON b.vec_id = c.neighbor_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM sims)
         |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    // IVF top-k fully re-derived: the deterministic Lloyd quantizer fit
    // replayed as unrolled CTEs (duckLloydCtes), then assignment, the
    // nprobe=4 probe ranking by negative centroid dot product, cell
    // equi-join candidates, exact cosine refine, per-query top-3
    "q_knn_ivf" -> {
      s"""WITH ${duckLloydCtes(k = 16, iters = 10)},
         |asg AS MATERIALIZED (SELECT vv.vec_id, vv.v,
         |  (SELECT c.cell FROM c10 c ORDER BY list_distance(vv.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM vv),
         |probes AS (SELECT * FROM (
         |    SELECT a.vec_id AS query_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY -list_dot_product(a.v, c.centroid), c.cell) AS prank
         |    FROM asg a CROSS JOIN c10 c) WHERE prank <= 4),
         |cand AS (SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
         |  FROM probes p JOIN asg n ON n.cell = p.cell AND n.vec_id <> p.query_id),
         |sims AS (SELECT c.query_id, c.neighbor_id,
         |  CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0 THEN 0.0
         |       ELSE list_dot_product(a.v, b.v)
         |            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
         |  FROM cand c JOIN vv a ON a.vec_id = c.query_id JOIN vv b ON b.vec_id = c.neighbor_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM sims)
         |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    // nDCG@3 re-derived: the full RRF fusion chain + the brute truth,
    // then the same integer-micro discounts (1000000/630930/500000)
    // and idcg = 4761860 inlined as constants on both engines
    "q_knn_ndcg" -> {
      s"""WITH $duckHyperplaneCtes,
         |${duckLloydCtes(k = 16, iters = 10)},
         |lcand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |lsims AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0 THEN 0.0
         |         ELSE list_dot_product(a.v, b.v)
         |              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
         |  FROM lcand c JOIN vv a ON a.vec_id = c.query_id JOIN vv b ON b.vec_id = c.neighbor_id),
         |lr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM lsims),
         |ltop AS (SELECT query_id, neighbor_id, rank FROM lr WHERE rank <= 3),
         |asg AS MATERIALIZED (SELECT vv.vec_id, vv.v,
         |  (SELECT c.cell FROM c10 c ORDER BY list_distance(vv.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM vv),
         |probes AS (SELECT * FROM (
         |    SELECT a.vec_id AS query_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY -list_dot_product(a.v, c.centroid), c.cell) AS prank
         |    FROM asg a CROSS JOIN c10 c) WHERE prank <= 4),
         |icand AS (SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
         |  FROM probes p JOIN asg n ON n.cell = p.cell AND n.vec_id <> p.query_id),
         |isims AS (SELECT c.query_id, c.neighbor_id,
         |  CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0 THEN 0.0
         |       ELSE list_dot_product(a.v, b.v)
         |            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
         |  FROM icand c JOIN vv a ON a.vec_id = c.query_id JOIN vv b ON b.vec_id = c.neighbor_id),
         |ir AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM isims),
         |itop AS (SELECT query_id, neighbor_id, rank FROM ir WHERE rank <= 3),
         |u AS (SELECT query_id, neighbor_id, 1000000 // (60 + rank) AS c FROM ltop
         |      UNION ALL
         |      SELECT query_id, neighbor_id, 1000000 // (60 + rank) AS c FROM itop),
         |sc AS (SELECT query_id, neighbor_id, SUM(c) AS rrf_unats FROM u GROUP BY 1, 2),
         |rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY rrf_unats DESC, neighbor_id) AS rank FROM sc),
         |fused AS (SELECT query_id, neighbor_id, rank FROM rr WHERE rank <= 3),
         |e2 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vv),
         |bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |        CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
         |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS sim
         |      FROM e2 a, e2 b WHERE a.vec_id <> b.vec_id),
         |br AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM bp),
         |truthr AS (SELECT query_id, neighbor_id, rank FROM br WHERE rank <= 3),
         |g AS (SELECT f.query_id,
         |        SUM(COALESCE(4 - t.rank, 0) *
         |          CASE f.rank WHEN 1 THEN 1000000 WHEN 2 THEN 630930 ELSE 500000 END) AS dcg_unats
         |      FROM fused f LEFT JOIN truthr t
         |        ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
         |      GROUP BY f.query_id)
         |SELECT query_id, CAST(dcg_unats AS BIGINT) AS dcg_unats,
         |  CAST(dcg_unats * 1000 // 4761860 AS BIGINT) AS ndcg_permille
         |FROM g ORDER BY query_id""".stripMargin
    },
    // RRF re-derived end-to-end: BOTH the hyperplane-LSH chain and the
    // unrolled-Lloyd IVF chain replay in one WITH (disjoint CTE names),
    // then integer-micro 1e6 // (60+rank) scores fuse and re-rank
    "q_knn_rrf" -> {
      s"""WITH $duckHyperplaneCtes,
         |${duckLloydCtes(k = 16, iters = 10)},
         |lcand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |lsims AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0 THEN 0.0
         |         ELSE list_dot_product(a.v, b.v)
         |              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
         |  FROM lcand c JOIN vv a ON a.vec_id = c.query_id JOIN vv b ON b.vec_id = c.neighbor_id),
         |lr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM lsims),
         |ltop AS (SELECT query_id, neighbor_id, rank FROM lr WHERE rank <= 3),
         |asg AS MATERIALIZED (SELECT vv.vec_id, vv.v,
         |  (SELECT c.cell FROM c10 c ORDER BY list_distance(vv.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM vv),
         |probes AS (SELECT * FROM (
         |    SELECT a.vec_id AS query_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY -list_dot_product(a.v, c.centroid), c.cell) AS prank
         |    FROM asg a CROSS JOIN c10 c) WHERE prank <= 4),
         |icand AS (SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
         |  FROM probes p JOIN asg n ON n.cell = p.cell AND n.vec_id <> p.query_id),
         |isims AS (SELECT c.query_id, c.neighbor_id,
         |  CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0 THEN 0.0
         |       ELSE list_dot_product(a.v, b.v)
         |            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
         |  FROM icand c JOIN vv a ON a.vec_id = c.query_id JOIN vv b ON b.vec_id = c.neighbor_id),
         |ir AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM isims),
         |itop AS (SELECT query_id, neighbor_id, rank FROM ir WHERE rank <= 3),
         |u AS (SELECT query_id, neighbor_id, 1000000 // (60 + rank) AS c FROM ltop
         |      UNION ALL
         |      SELECT query_id, neighbor_id, 1000000 // (60 + rank) AS c FROM itop),
         |sc AS (SELECT query_id, neighbor_id, SUM(c) AS rrf_unats FROM u GROUP BY 1, 2),
         |rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY rrf_unats DESC, neighbor_id) AS rank FROM sc)
         |SELECT query_id, neighbor_id, CAST(rrf_unats AS BIGINT) AS rrf_unats,
         |  CAST(rank AS INT) AS rank
         |FROM rr WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    // PQ ADC top-k fully re-derived: per-subspace Lloyd codebooks
    // (duckPqCtes), code assignment, query ADC tables, pair score =
    // left-assoc sum of the m looked-up inner products, per-query top-3
    "q_knn_pq" -> {
      s"""WITH ${duckPqCtes(m = 4, subDim = 16, k = 16, iters = 5)},
         |sims AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    d0.s + d1.s + d2.s + d3.s AS sim
         |  FROM vv q JOIN allcodes n ON n.vec_id <> q.vec_id
         |  JOIN s0dt d0 ON d0.vec_id = q.vec_id AND d0.cell = n.k0
         |  JOIN s1dt d1 ON d1.vec_id = q.vec_id AND d1.cell = n.k1
         |  JOIN s2dt d2 ON d2.vec_id = q.vec_id AND d2.cell = n.k2
         |  JOIN s3dt d3 ON d3.vec_id = q.vec_id AND d3.cell = n.k3),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM sims)
         |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    // IVF+PQ composed: coarse Lloyd cells + probes from the IVF oracle,
    // candidate pairs bounded by the probed cells, scores from the PQ
    // ADC tables (a neighbor is in exactly one cell, so no dedup needed)
    "q_knn_ivfpq" -> {
      s"""WITH ${duckLloydCtes(k = 16, iters = 10)},
         |${duckPqCtes(m = 4, subDim = 16, k = 16, iters = 5, withInit = false)},
         |asg AS MATERIALIZED (SELECT vv.vec_id, vv.v,
         |  (SELECT c.cell FROM c10 c ORDER BY list_distance(vv.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM vv),
         |probes AS (SELECT * FROM (
         |    SELECT a.vec_id AS query_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY -list_dot_product(a.v, c.centroid), c.cell) AS prank
         |    FROM asg a CROSS JOIN c10 c) WHERE prank <= 4),
         |cand AS (SELECT p.query_id, n.vec_id AS neighbor_id
         |  FROM probes p JOIN asg n ON n.cell = p.cell AND n.vec_id <> p.query_id),
         |sims AS (SELECT c.query_id, c.neighbor_id,
         |    d0.s + d1.s + d2.s + d3.s AS sim
         |  FROM cand c JOIN allcodes n ON n.vec_id = c.neighbor_id
         |  JOIN s0dt d0 ON d0.vec_id = c.query_id AND d0.cell = n.k0
         |  JOIN s1dt d1 ON d1.vec_id = c.query_id AND d1.cell = n.k1
         |  JOIN s2dt d2 ON d2.vec_id = c.query_id AND d2.cell = n.k2
         |  JOIN s3dt d3 ON d3.vec_id = c.query_id AND d3.cell = n.k3),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM sims)
         |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    // bigram LM scoring: corpus gram counts + per-doc rarity rollup;
    // all counters integer, the two ratios single IEEE divisions
    "q_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, t[CAST(i AS INTEGER)] || ' ' || t[CAST(i + 1 AS INTEGER)] AS gram
         |  FROM toks, unnest(range(1, len(t))) u(i)),
         |model AS (SELECT gram, COUNT(*) AS cnt FROM grams GROUP BY gram),
         |scored AS (
         |  SELECT g.doc_id, CAST(COUNT(*) AS INTEGER) AS n_ngrams,
         |    CAST(SUM(CASE WHEN m.cnt <= 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_rare,
         |    CAST(SUM(m.cnt) AS BIGINT) AS sum_freq
         |  FROM grams g JOIN model m USING (gram) GROUP BY g.doc_id)
         |SELECT d.doc_id AS id, COALESCE(s.n_ngrams, 0) AS n_ngrams,
         |  COALESCE(s.n_rare, 0) AS n_rare, CAST(COALESCE(s.sum_freq, 0) AS BIGINT) AS sum_freq,
         |  CASE WHEN s.n_ngrams > 0 THEN CAST(s.n_rare AS DOUBLE) / s.n_ngrams END AS rare_ratio,
         |  CASE WHEN s.n_ngrams > 0 THEN CAST(s.sum_freq AS DOUBLE) / s.n_ngrams END AS avg_freq
         |FROM documents d LEFT JOIN scored s USING (doc_id) ORDER BY id""".stripMargin,
    // interpolated Kneser-Ney bigram scoring: per-MODEL-gram round-once
    // micro-nat log-prob (double expression left-associated exactly as
    // the Spark side computes it), exact long sums per doc, one IEEE
    // division for the average
    "q_kn_score" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, t[CAST(i AS INTEGER)] || ' ' || t[CAST(i + 1 AS INTEGER)] AS gram
         |  FROM toks, unnest(range(1, len(t))) u(i)),
         |big AS (SELECT gram, string_split(gram, ' ')[1] AS w1,
         |    string_split(gram, ' ')[2] AS w2, COUNT(*) AS c12
         |  FROM grams GROUP BY 1, 2, 3),
         |ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p_fw FROM big GROUP BY w1),
         |cont AS (SELECT w2, COUNT(*) AS n1p_bw FROM big GROUP BY w2),
         |v AS (SELECT COUNT(*) AS v2 FROM big),
         |model AS (
         |  SELECT gram, CAST(round(1e6 * ln(
         |      (greatest(CAST(c12 AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE))
         |       + (CAST(0.75 AS DOUBLE) * n1p_fw) * (CAST(n1p_bw AS DOUBLE) / v2)) / c1
         |    )) AS BIGINT) AS lp
         |  FROM big JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN v),
         |scored AS (
         |  SELECT g.doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
         |    CAST(SUM(m.lp) AS BIGINT) AS ll_unats
         |  FROM grams g JOIN model m USING (gram) GROUP BY g.doc_id)
         |SELECT d.doc_id AS id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
         |  CAST(COALESCE(s.ll_unats, 0) AS BIGINT) AS ll_unats,
         |  CASE WHEN s.n_bigrams > 0
         |       THEN -(CAST(s.ll_unats AS DOUBLE) / s.n_bigrams) END AS nll_unats_per_gram
         |FROM documents d LEFT JOIN scored s USING (doc_id) ORDER BY id""".stripMargin,
    // one-pass exact covariance: milli-quantized embedding ints, exact
    // integer moment sums (order-free), HUGEINT products mirroring the
    // Spark side's DECIMAL(38,0), one double division per cell
    "q_covariance" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM embeddings),
         |e AS (SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS di, v[CAST(u.i AS INTEGER)] AS x
         |  FROM q, unnest(range(1, len(v) + 1)) u(i)),
         |p AS (SELECT a.di AS i, b.di AS j, COUNT(*) AS n,
         |    SUM(a.x) AS sx, SUM(b.x) AS sy, SUM(a.x * b.x) AS sxy
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.di <= b.di
         |  GROUP BY 1, 2)
         |SELECT i, j, CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx,
         |  CAST(sy AS BIGINT) AS sy, CAST(sxy AS BIGINT) AS sxy,
         |  CAST(CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
         |       - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
         |    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS cov
         |FROM p ORDER BY i, j""".stripMargin,
    // centroid drift: exact per-label sum vectors, HUGEINT dot/norms,
    // correctly-rounded sqrts, one ppm rounding point
    "q_embed_drift" ->
      s"""WITH q AS (SELECT label, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM embeddings),
         |ex AS (SELECT label AS lbl, CAST(u.i - 1 AS INTEGER) AS i,
         |    v[CAST(u.i AS INTEGER)] AS x
         |  FROM q, unnest(range(1, len(v) + 1)) u(i)),
         |sums AS (SELECT lbl, i, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS n
         |  FROM ex GROUP BY 1, 2),
         |norms AS (SELECT lbl, SUM(CAST(s AS HUGEINT) * s) AS n2, MAX(n) AS n
         |  FROM sums GROUP BY 1),
         |dots AS (SELECT a.lbl AS la, b.lbl AS lb,
         |    SUM(CAST(a.s AS HUGEINT) * b.s) AS dot
         |  FROM sums a JOIN sums b ON a.i = b.i AND a.lbl < b.lbl GROUP BY 1, 2)
         |SELECT d.la AS label_a, d.lb AS label_b, CAST(na.n AS BIGINT) AS n_a,
         |  CAST(nb.n AS BIGINT) AS n_b,
         |  CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN NULL
         |       ELSE CAST(round((1e6 * CAST(dot AS DOUBLE))
         |         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))) AS BIGINT)
         |  END AS cos_ppm
         |FROM dots d JOIN norms na ON na.lbl = d.la JOIN norms nb ON nb.lbl = d.lb
         |ORDER BY label_a, label_b""".stripMargin,
    // unigram-LM learn: seed chars+top-multis vocab, 2 hard-EM rounds,
    // each a recursive sliding-window Viterbi DP + recount + re-smooth
    "q_unigram_learn" ->
      s"""WITH RECURSIVE ${duckUnigramChain(64, 2, 4, withApply = false)}
         |SELECT vocab0.piece AS piece, CAST(coalesce(rc2.cnt, 0) AS BIGINT) AS cnt,
         |  v2.cost AS cost_unats
         |FROM vocab0 LEFT JOIN rc2 ON rc2.piece = vocab0.piece
         |  JOIN v2 ON v2.piece = vocab0.piece
         |ORDER BY piece""".stripMargin,
    // unigram-LM apply: a third DP round under the final model scores
    // every distinct word; docs roll up by word position
    "q_unigram_apply" ->
      s"""WITH RECURSIVE ${duckUnigramChain(64, 2, 4, withApply = true)},
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |dw AS (SELECT doc_id, CAST(u.i AS INTEGER) AS wi, t[CAST(u.i AS INTEGER)] AS word
         |  FROM toks, unnest(range(1, len(t) + 1)) u(i)
         |  WHERE t[CAST(u.i AS INTEGER)] <> ''),
         |ag AS (SELECT dw.doc_id, SUM(len(string_split(s.seg, ' '))) AS n_pieces,
         |    SUM(s.wcost) AS cost_unats,
         |    string_agg(s.seg, ' ' ORDER BY dw.wi) AS pieces_str
         |  FROM dw JOIN seg3 s ON s.word = dw.word GROUP BY 1)
         |SELECT d.doc_id AS id, CAST(coalesce(ag.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  CAST(coalesce(ag.cost_unats, 0) AS BIGINT) AS cost_unats,
         |  coalesce(ag.pieces_str, '') AS pieces_str
         |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY id""".stripMargin,
    // isotonic calibration replayed via the PAV = minimax identity:
    // same integer quantile bounds as q_psi, per-bucket (n, n_pos),
    // v(j,k) = pooled-rate doubles over prefix sums, cal_i =
    // max_{j<=i} min_{k>=i} v — one rounding point per bucket
    "q_isotonic" ->
      s"""WITH d AS (SELECT n_chars AS s, contains(text, 'table') AS y FROM documents),
         |hist AS (SELECT s, COUNT(*) AS cnt FROM d GROUP BY s),
         |cum AS (SELECT s, SUM(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cume FROM hist),
         |tot AS (SELECT COUNT(*) AS n FROM d),
         |pms AS (SELECT unnest([${(1 until 16).map(_ * 1000 / 16).mkString(",")}]) AS p),
         |bounds AS (SELECT p, MIN(s) AS b FROM cum, tot, pms
         |           WHERE cume >= (n * p + 999) // 1000 GROUP BY p),
         |bk AS (SELECT CAST((SELECT COUNT(*) FROM bounds WHERE b <= s) AS INTEGER) AS bucket, y FROM d),
         |bt AS (SELECT bucket, COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM bk GROUP BY bucket),
         |pre AS (SELECT bucket,
         |    SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cn,
         |    SUM(n_pos) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cp,
         |    COALESCE(SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pcn,
         |    COALESCE(SUM(n_pos) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pcp
         |  FROM bt),
         |pairs AS (SELECT j.bucket AS jb, k.bucket AS kb,
         |    CAST(k.cp - j.pcp AS DOUBLE) / (k.cn - j.pcn) AS v
         |  FROM pre j JOIN pre k ON k.bucket >= j.bucket),
         |mm AS (SELECT b.bucket, p.jb, MIN(p.v) AS mn
         |  FROM bt b JOIN pairs p ON p.jb <= b.bucket AND p.kb >= b.bucket
         |  GROUP BY 1, 2),
         |cal AS (SELECT bucket, MAX(mn) AS v FROM mm GROUP BY bucket)
         |SELECT b.bucket, b.n, b.n_pos,
         |  CAST(round(1e6 * c.v) AS BIGINT) AS cal_ppm
         |FROM bt b JOIN cal c USING (bucket) ORDER BY bucket""".stripMargin,
    // sequence packing: mix64 shard, per-shard running token offset,
    // contiguous-fill bin = start_offset div capacity — all integer
    "q_pack" ->
      s"""WITH h AS (SELECT doc_id, len(string_split(text, ' ')) AS tok,
         |    ${duckToSigned(duckMix64("doc_id::HUGEINT"))} AS hh FROM documents),
         |sh AS (SELECT doc_id, tok, hh, CAST(((hh % 8) + 8) % 8 AS INTEGER) AS shard FROM h),
         |pk AS (SELECT shard, doc_id, tok,
         |    COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY hh, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
         |  FROM sh)
         |SELECT shard, CAST(start_offset // 2048 AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS INTEGER) AS n_docs, CAST(SUM(tok) AS BIGINT) AS bin_tokens
         |FROM pk GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    // the composed curation pipeline replayed stage-by-stage: the
    // clean-lines CTE is q_clean_lines' pinned list arithmetic, the
    // gopher gate is q_gopher_rules' pinned single-division ratios over
    // the CLEANED text, dedup is min-id per md5, pack is q_pack's
    // mix64-shard cumulative-offset windows — one SQL statement, so any
    // cross-stage contract drift (e.g. cleaning no longer normalizing
    // the decorated copies) breaks the hash
    "q_e2e_curation" ->
      s"""WITH base AS (
         |  SELECT doc_id AS id, regexp_replace(text, ' line ', chr(10), 'g') AS txt
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, regexp_replace(text, ' line ', chr(10), 'g')
         |    || chr(10) || 'enable javascript to view'
         |    || chr(10) || 'we use cookie banners here'
         |  FROM documents WHERE doc_id % 3 = 0),
         |cl AS (SELECT id, array_to_string(list_transform(
         |    list_filter(string_split(txt, chr(10)), l ->
         |      len(list_filter(string_split(trim(l), ' '), w -> w <> '')) >= 3
         |      AND NOT contains(lower(trim(l)), 'javascript')
         |      AND NOT contains(lower(trim(l)), 'cookie')
         |      AND NOT contains(lower(trim(l)), 'all rights reserved')),
         |    l -> trim(l)), chr(10)) AS cleaned
         |  FROM base),
         |m AS (SELECT id, replace(cleaned, chr(10), ' ') AS flat FROM cl),
         |g AS (SELECT id, flat, string_split(flat, ' ') AS t FROM m),
         |met AS (SELECT id, flat, LEN(t) AS n,
         |  list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, b) -> a + b) AS sumlen,
         |  LENGTH(flat) - LENGTH(replace(flat, '#', '')) AS hashes,
         |  (LENGTH(flat) - LENGTH(replace(flat, '...', ''))) // 3 AS ellipses,
         |  LEN(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
         |  LEN(list_filter(list_distinct(t),
         |      x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS stop_hits
         |  FROM g),
         |p AS (SELECT id, flat, CAST(n AS BIGINT) AS tok FROM met
         |  WHERE n BETWEEN 4 AND 1000
         |    AND CAST(sumlen AS DOUBLE) / n BETWEEN 3.0 AND 10.0
         |    AND CAST(hashes + ellipses AS DOUBLE) / n <= 0.1
         |    AND CAST(alpha AS DOUBLE) / n >= 0.8
         |    AND stop_hits >= 2),
         |k AS (SELECT md5(flat) AS h, MIN(id) AS id FROM p GROUP BY 1),
         |sv AS (SELECT p.id, p.tok FROM p JOIN k ON md5(p.flat) = k.h AND p.id = k.id),
         |hh AS (SELECT id, tok, ${duckToSigned(duckMix64("id::HUGEINT"))} AS hh FROM sv),
         |sh AS (SELECT id, tok, hh, CAST(((hh % 8) + 8) % 8 AS INTEGER) AS shard FROM hh),
         |pk AS (SELECT shard, tok,
         |    COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY hh, id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
         |  FROM sh)
         |SELECT shard, CAST(start_offset // 2048 AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS INTEGER) AS n_docs, CAST(SUM(tok) AS BIGINT) AS bin_tokens
         |FROM pk GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    // deterministic permille splits: mix64 mod 1000 buckets, cumulative
    // thresholds 980/990, per-(split, lang) rollup
    "q_split" ->
      s"""WITH b AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS tok,
         |    CAST(((${duckToSigned(duckMix64("doc_id::HUGEINT"))} % 1000) + 1000) % 1000 AS INTEGER) AS bucket
         |  FROM documents)
         |SELECT CASE WHEN bucket < 980 THEN 'train' WHEN bucket < 990 THEN 'val' ELSE 'test' END AS split,
         |  lang, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens
         |FROM b GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    // sessionization re-derived with lag + cumulative break flags: a new
    // session starts only when the inactivity gap EXCEEDS 1 hour (an
    // event at exactly the gap still merges — session_window's interval
    // is closed at its end, verified by spec); bounds in epoch micros
    "q_sessions" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, value FROM events),
         |l AS (SELECT user_id, tus, value,
         |    LAG(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev FROM e),
         |s AS (SELECT user_id, tus, value,
         |    CASE WHEN prev IS NULL OR tus - prev > 3600000000 THEN 1 ELSE 0 END AS brk FROM l),
         |g AS (SELECT user_id, tus, value,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid FROM s)
         |SELECT user_id, MIN(tus) AS session_start, MAX(tus) + 3600000000 AS session_end,
         |  CAST(COUNT(*) AS BIGINT) AS n_events, MIN(value) AS min_value, MAX(value) AS max_value
         |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    // attribution re-derived with the same range-frame window: struct
    // min/max is lexicographic (t, id, tp) on both engines
    "q_attribution" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS t FROM events),
         |w AS (SELECT *,
         |  min(CASE WHEN event_type IN ('click','view')
         |      THEN struct_pack(t := t, id := event_id, tp := event_type) END)
         |    OVER win AS ft,
         |  max(CASE WHEN event_type IN ('click','view')
         |      THEN struct_pack(t := t, id := event_id, tp := event_type) END)
         |    OVER win AS lt
         |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t
         |    RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING))
         |SELECT event_id AS conversion_id, user_id, t AS conv_ts,
         |  ft.id AS first_touch_id, ft.tp AS first_touch_type, ft.t AS first_touch_ts,
         |  lt.id AS last_touch_id, lt.tp AS last_touch_type, lt.t AS last_touch_ts
         |FROM w WHERE event_type = 'purchase' ORDER BY conversion_id""".stripMargin,
    // as-of join re-derived portably: union views (side 0) and clicks
    // (side 1), cumulative LAST_VALUE IGNORE NULLS over (ts, side) —
    // side 0 first so an exact-ts view matches its click
    "q_asof" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type, value FROM events),
         |v AS (SELECT user_id, tus, MAX(value) AS value FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         |c AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'click'),
         |u AS (
         |  SELECT user_id, tus, 0 AS side, NULL::BIGINT AS event_id, value FROM v
         |  UNION ALL
         |  SELECT user_id, tus, 1, event_id, NULL FROM c),
         |w AS (SELECT *,
         |    LAST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
         |      OVER win AS view_tus,
         |    LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS)
         |      OVER win AS view_value
         |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY tus, side ROWS UNBOUNDED PRECEDING))
         |SELECT event_id, user_id, tus, view_tus, view_value
         |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,
    // nearest as-of re-derived: BOTH running windows (asc + desc) over
    // the same tagged union, smaller gap wins, ties backward
    "q_asof_nearest" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type, value FROM events),
         |v AS (SELECT user_id, tus, MAX(value) AS value FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         |c AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'click'),
         |u AS (
         |  SELECT user_id, tus, 0 AS side, NULL::BIGINT AS event_id, value FROM v
         |  UNION ALL
         |  SELECT user_id, tus, 1, event_id, NULL FROM c),
         |w AS (SELECT *,
         |    LAST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS) OVER wb AS b_tus,
         |    LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER wb AS b_val,
         |    LAST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS) OVER wf AS f_tus,
         |    LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER wf AS f_val
         |  FROM u WINDOW
         |    wb AS (PARTITION BY user_id ORDER BY tus, side ROWS UNBOUNDED PRECEDING),
         |    wf AS (PARTITION BY user_id ORDER BY tus DESC, side ROWS UNBOUNDED PRECEDING))
         |SELECT event_id, user_id, tus,
         |  CASE WHEN b_tus IS NULL THEN f_tus WHEN f_tus IS NULL THEN b_tus
         |       WHEN tus - b_tus <= f_tus - tus THEN b_tus ELSE f_tus END AS view_tus,
         |  CASE WHEN b_tus IS NULL THEN f_val WHEN f_tus IS NULL THEN b_val
         |       WHEN tus - b_tus <= f_tus - tus THEN b_val ELSE f_val END AS view_value
         |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,
    // forward as-of re-derived: the same tagged-union window read over
    // DESCENDING ts (side 0 still first at equal ts for exact matches)
    "q_asof_forward" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type, value FROM events),
         |v AS (SELECT user_id, tus, MAX(value) AS value FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         |c AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'click'),
         |u AS (
         |  SELECT user_id, tus, 0 AS side, NULL::BIGINT AS event_id, value FROM v
         |  UNION ALL
         |  SELECT user_id, tus, 1, event_id, NULL FROM c),
         |w AS (SELECT *,
         |    LAST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
         |      OVER win AS view_tus,
         |    LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS)
         |      OVER win AS view_value
         |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY tus DESC, side ROWS UNBOUNDED PRECEDING))
         |SELECT event_id, user_id, tus, view_tus, view_value
         |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,
    // q_asof plus the tolerance null-out: matches farther than 10 min
    // in the past keep the row but lose the matched view columns
    "q_asof_tolerance" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type, value FROM events),
         |v AS (SELECT user_id, tus, MAX(value) AS value FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         |c AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'click'),
         |u AS (
         |  SELECT user_id, tus, 0 AS side, NULL::BIGINT AS event_id, value FROM v
         |  UNION ALL
         |  SELECT user_id, tus, 1, event_id, NULL FROM c),
         |w AS (SELECT *,
         |    LAST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
         |      OVER win AS view_tus,
         |    LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS)
         |      OVER win AS view_value
         |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY tus, side ROWS UNBOUNDED PRECEDING))
         |SELECT event_id, user_id, tus,
         |  CASE WHEN tus - view_tus <= 600000000 THEN view_tus END AS view_tus,
         |  CASE WHEN tus - view_tus <= 600000000 THEN view_value END AS view_value
         |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,
    // identical to q_asof — the bucketed variant must match row-for-row
    "q_asof_bucketed" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type, value FROM events),
         |v AS (SELECT user_id, tus, MAX(value) AS value FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         |c AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'click'),
         |u AS (
         |  SELECT user_id, tus, 0 AS side, NULL::BIGINT AS event_id, value FROM v
         |  UNION ALL
         |  SELECT user_id, tus, 1, event_id, NULL FROM c),
         |w AS (SELECT *,
         |    LAST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
         |      OVER win AS view_tus,
         |    LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS)
         |      OVER win AS view_value
         |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY tus, side ROWS UNBOUNDED PRECEDING))
         |SELECT event_id, user_id, tus, view_tus, view_value
         |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,
    // interval join as the plain (quadratic) range LEFT JOIN the bucketed
    // Spark plan must agree with row-for-row
    "q_interval_join" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type, value FROM events),
         |c AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'click'),
         |x AS (SELECT user_id, tus, value FROM e WHERE event_type = 'error')
         |SELECT c.event_id, c.user_id,
         |  CAST(COUNT(x.tus) AS BIGINT) AS n_errors,
         |  MIN(x.value) AS min_error, MAX(x.value) AS max_error
         |FROM c LEFT JOIN x ON x.user_id = c.user_id
         |  AND x.tus >= c.tus AND x.tus < c.tus + 600000000
         |GROUP BY c.event_id, c.user_id ORDER BY c.event_id""".stripMargin,
    // fixed-point PageRank replayed with three unrolled iterations of
    // integer // division — associative long sums, no float drift
    // LPA unrolled: per round, neighbor-label votes + the same
    // (count desc, label) argmax via ROW_NUMBER, isolated keep-own
    "q_lpa" -> {
      val rounds = (1 to 3).map { i =>
        s"""w$i AS (SELECT node, lbl AS community FROM (
           |   SELECT e.a AS node, l.community AS lbl, COUNT(*) AS c,
           |     ROW_NUMBER() OVER (PARTITION BY e.a
           |       ORDER BY COUNT(*) DESC, l.community) AS rn
           |   FROM e JOIN l${i - 1} l ON l.node = e.b
           |   GROUP BY e.a, l.community) t WHERE rn = 1),
           |l$i AS (SELECT n.node, COALESCE(w$i.community, n.node) AS community
           |        FROM n LEFT JOIN w$i ON w$i.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH dir AS (SELECT o_custkey AS a, l_suppkey + 100000 AS b
         |             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT DISTINCT a, b FROM (
         |  SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir) u WHERE a <> b),
         |n AS (SELECT DISTINCT a AS node FROM e),
         |l0 AS (SELECT node, node AS community FROM n),
         |$rounds
         |SELECT node, community FROM l3 ORDER BY node""".stripMargin
    },
    // modularity over the replayed LPA labels: same symmetrized edge
    // set, HUGEINT numerator mirroring the DECIMAL(38,0) Spark side
    "q_modularity" -> {
      val rounds = (1 to 3).map { i =>
        s"""w$i AS (SELECT node, lbl AS community FROM (
           |   SELECT e.a AS node, l.community AS lbl, COUNT(*) AS c,
           |     ROW_NUMBER() OVER (PARTITION BY e.a
           |       ORDER BY COUNT(*) DESC, l.community) AS rn
           |   FROM e JOIN l${i - 1} l ON l.node = e.b
           |   GROUP BY e.a, l.community) t WHERE rn = 1),
           |l$i AS (SELECT n.node, COALESCE(w$i.community, n.node) AS community
           |        FROM n LEFT JOIN w$i ON w$i.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH dir AS (SELECT o_custkey AS a, l_suppkey + 100000 AS b
         |             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT DISTINCT a, b FROM (
         |  SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir) u WHERE a <> b),
         |n AS (SELECT DISTINCT a AS node FROM e),
         |l0 AS (SELECT node, node AS community FROM n),
         |$rounds,
         |el AS (SELECT la.community AS ca, lb.community AS cb
         |  FROM e JOIN l3 la ON la.node = e.a JOIN l3 lb ON lb.node = e.b),
         |m2 AS (SELECT COUNT(*) AS m2v FROM el),
         |pc AS (SELECT ca, SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS intra2,
         |    COUNT(*) AS deg FROM el GROUP BY ca),
         |ag AS (SELECT COUNT(*) AS n_communities, MAX(m2.m2v) AS m2x,
         |    SUM(CAST(m2.m2v AS HUGEINT) * intra2
         |        - CAST(deg AS HUGEINT) * deg) AS num
         |  FROM pc, m2)
         |SELECT CAST(n_communities AS BIGINT) AS n_communities,
         |  CAST(m2x // 2 AS BIGINT) AS m_edges,
         |  CAST(round(1e6 * CAST(num AS DOUBLE)
         |    / CAST(CAST(m2x AS HUGEINT) * m2x AS DOUBLE)) AS BIGINT) AS q_ppm
         |FROM ag""".stripMargin
    },
    "q_pagerank" -> {
      def iter(prev: String, out: String) =
        s"""i$out AS (SELECT e.dst AS node, SUM($prev.rank // od.outdeg) AS m
           |  FROM e JOIN $prev ON e.src = $prev.node JOIN od ON e.src = od.src GROUP BY 1),
           |$out AS (SELECT n.node, (150000000 + 850 * COALESCE(i$out.m, 0)) // 1000 AS rank
           |  FROM nodes n LEFT JOIN i$out ON n.node = i$out.node)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 100000 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT node, 1000000::HUGEINT AS rank FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY node""".stripMargin
    },
    // count-min sketch replayed relationally: one row per (event, sketch
    // row) -> per-(row, bucket) counts -> estimate = min over the key's
    // four buckets; same splitmix64, same power-of-two mask (% width)
    "q_heavy_hitters" -> {
      val bucket = (key: String) => duckMix64(
        s"xor(($key)::HUGEINT, ((r::HUGEINT * 11400714819323198485::HUGEINT) % $M64))")
      s"""WITH b AS (SELECT user_id, CAST(rr.r AS INT) AS r,
         |    ${bucket("user_id")} % 256::HUGEINT AS bucket
         |  FROM events, range(0, 4) rr(r)),
         |counts AS (SELECT r, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
         |keys AS (SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY 1),
         |kb AS (SELECT user_id, n_exact, CAST(rr.r AS INT) AS r,
         |    ${bucket("user_id")} % 256::HUGEINT AS bucket
         |  FROM keys, range(0, 4) rr(r)),
         |est AS (SELECT kb.user_id, kb.n_exact, MIN(c.cnt) AS n_est
         |  FROM kb JOIN counts c ON c.r = kb.r AND c.bucket = kb.bucket
         |  GROUP BY 1, 2)
         |SELECT user_id, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_est AS BIGINT) AS n_est,
         |  CAST(n_est - n_exact AS BIGINT) AS overcount
         |FROM est ORDER BY user_id""".stripMargin
    },
    // OHLC downsample replayed with arg_min/arg_max over the unique
    // (user, ts) rows — ties impossible, so the tie-break is moot
    "q_ohlc" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, value FROM events),
         |u AS (SELECT user_id, tus, MAX(value) AS value FROM e GROUP BY 1, 2),
         |v AS (SELECT user_id, tus, CAST(round(value * 1000) AS BIGINT) AS vl FROM u)
         |SELECT user_id, (tus // 3600000000) * 3600000000 AS bucket_start,
         |  arg_min(vl, tus) AS open, MAX(vl) AS high, MIN(vl) AS low,
         |  arg_max(vl, tus) AS close, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(vl) AS BIGINT) AS total
         |FROM v GROUP BY 1, 2 ORDER BY user_id, bucket_start""".stripMargin,
    // the bucketed rolling window must agree row-for-row with the plain
    // RANGE frame over the bare key
    "q_rolling" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus,
         |    CAST(round(value * 1000) AS BIGINT) AS vl FROM events)
         |SELECT event_id, user_id, tus,
         |  CAST(COUNT(vl) OVER w AS BIGINT) AS roll_n,
         |  CAST(SUM(vl) OVER w AS BIGINT) AS roll_sum,
         |  MIN(vl) OVER w AS roll_min, MAX(vl) OVER w AS roll_max
         |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus
         |  RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,
    // funnel re-derived as chained MIN subqueries: t_i = earliest step-i
    // event at-or-after t_{i-1}, all within 7 days of the first signup
    "q_funnel" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_type FROM events),
         |k AS (SELECT DISTINCT user_id FROM e),
         |s1 AS (SELECT user_id, MIN(tus) AS t_1 FROM e WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, MIN(e.tus) AS t_2 FROM e JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'view' AND e.tus >= s1.t_1
         |    AND e.tus <= s1.t_1 + 604800000000 GROUP BY 1),
         |s3 AS (SELECT e.user_id, MIN(e.tus) AS t_3 FROM e JOIN s2 ON e.user_id = s2.user_id
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'click' AND e.tus >= s2.t_2
         |    AND e.tus <= s1.t_1 + 604800000000 GROUP BY 1),
         |s4 AS (SELECT e.user_id, MIN(e.tus) AS t_4 FROM e JOIN s3 ON e.user_id = s3.user_id
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'purchase' AND e.tus >= s3.t_3
         |    AND e.tus <= s1.t_1 + 604800000000 GROUP BY 1)
         |SELECT k.user_id, t_1, t_2, t_3, t_4,
         |  CAST((t_1 IS NOT NULL)::INT + (t_2 IS NOT NULL)::INT
         |    + (t_3 IS NOT NULL)::INT + (t_4 IS NOT NULL)::INT AS INTEGER) AS steps_completed
         |FROM k LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         |  LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
         |ORDER BY k.user_id""".stripMargin,
    // PII detection/redaction over the same query-side injected spans;
    // the regexes are the RE2-compatible subset so both engines agree
    "q_pii" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
      s"""WITH inj AS (SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id || '@example.com' ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' call 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
         |    AS txt FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt, '$email')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(txt, '$ip')) AS INTEGER) AS n_ips,
         |  CAST(len(regexp_extract_all(txt, '$phone')) AS INTEGER) AS n_phones,
         |  CAST(len(regexp_extract_all(txt, '$email')) + len(regexp_extract_all(txt, '$ip'))
         |       + len(regexp_extract_all(txt, '$phone')) AS INTEGER) AS n_pii,
         |  regexp_replace(regexp_replace(regexp_replace(txt,
         |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS redacted
         |FROM inj ORDER BY doc_id""".stripMargin
    },
    // benchmark decontamination: distinct 4-grams per doc vs the src0
    // gram universe — overlap counts, score, flag
    "q_contamination" ->
      s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         |dg AS (SELECT DISTINCT doc_id, source,
         |    array_to_string(t[CAST(i AS INTEGER):CAST(i + 3 AS INTEGER)], ' ') AS gram
         |  FROM toks, unnest(range(1, greatest(len(t) - 3, 1) + 1)) u(i)),
         |bg AS (SELECT DISTINCT gram FROM dg WHERE source = 'src0'),
         |ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM dg GROUP BY doc_id),
         |ov AS (SELECT dg.doc_id, COUNT(*) AS n_overlap FROM dg JOIN bg USING (gram) GROUP BY dg.doc_id)
         |SELECT ng.doc_id, CAST(ng.n_grams AS INTEGER) AS n_grams,
         |  CAST(COALESCE(ov.n_overlap, 0) AS INTEGER) AS n_overlap,
         |  COALESCE(ov.n_overlap, 0) / CAST(ng.n_grams AS DOUBLE) AS score,
         |  COALESCE(ov.n_overlap, 0) > 0 AS contaminated
         |FROM ng LEFT JOIN ov ON ng.doc_id = ov.doc_id ORDER BY ng.doc_id""".stripMargin,
    // diversity report: unigram/bigram distinct shares re-derived with
    // the same space-joined gram construction
    "q_diversity" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS g FROM documents),
        |uni AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_tokens FROM toks GROUP BY 1),
        |bt AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |bgrams AS (SELECT source,
        |    array_to_string(t[CAST(i AS INT):CAST(i + 1 AS INT)], ' ') AS g
        |  FROM bt, unnest(range(1, greatest(len(t), 1))) u(i)),
        |bi AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_bigrams FROM bgrams GROUP BY 1),
        |docs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
        |SELECT d.source, d.n_docs, u.n_tokens, u.distinct_tokens,
        |  CAST(u.distinct_tokens AS DOUBLE) / u.n_tokens AS ttr,
        |  b.n_bigrams, b.distinct_bigrams,
        |  CAST(b.distinct_bigrams AS DOUBLE) / b.n_bigrams AS bigram_ttr
        |FROM docs d JOIN uni u ON d.source = u.source JOIN bi b ON d.source = b.source
        |ORDER BY d.source""".stripMargin,
    // snapshot diff replayed with the polynomial-rolling fingerprint and
    // a FULL OUTER join; the same drop/edit/add construction in SQL
    "q_snapshot_diff" -> {
      def fp(src: String) =
        s"""SELECT doc_id, ${duckToSigned(duckMix64(
             """list_reduce(
               |    list_prepend(0::HUGEINT, list_transform(range(1, length(text) + 1),
               |      i -> ascii(text[i])::HUGEINT)),
               |    (a, b) -> (a * 1000003::HUGEINT + b) % """.stripMargin + M64 + ")"))} AS f
           |  FROM $src""".stripMargin
      s"""WITH olds AS (SELECT doc_id, text FROM documents),
         |news AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END AS text
         |  FROM olds WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM olds WHERE doc_id % 11 = 0),
         |ofp AS (${fp("olds")}),
         |nfp AS (${fp("news")})
         |SELECT COALESCE(ofp.doc_id, nfp.doc_id) AS id,
         |  CASE WHEN ofp.f IS NULL THEN 'added'
         |       WHEN nfp.f IS NULL THEN 'removed'
         |       WHEN ofp.f = nfp.f THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  ofp.f AS old_fp, nfp.f AS new_fp
         |FROM ofp FULL OUTER JOIN nfp ON ofp.doc_id = nfp.doc_id
         |ORDER BY id""".stripMargin
    },
    // PMI pairs: the same rational lift; DISTINCT (doc, term) in a
    // subquery (unnest expands before DISTINCT applies), naive global
    // window vs the Spark side's TakeOrderedAndProject top-k
    "q_pmi" ->
      """WITH toks AS (SELECT DISTINCT doc_id, term FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
        |dfc AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY 1 HAVING COUNT(*) >= 5),
        |kt AS (SELECT t.doc_id, t.term, k.df FROM toks t JOIN dfc k ON t.term = k.term),
        |pairs AS (SELECT l.term AS a, r.term AS b, l.df AS n_a, r.df AS n_b,
        |    COUNT(*) AS n_ab
        |  FROM kt l JOIN kt r ON l.doc_id = r.doc_id AND l.term < r.term
        |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 5),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT a, b, n_ab, n_a, n_b,
        |    CAST(n_ab AS DOUBLE) * n_docs / (n_a * n_b) AS lift FROM pairs, n),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, a, b) AS rank FROM s)
        |SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, lift, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // mixture sampling: the NAIVE window spec — the Spark side runs the
    // two-phase bucket cutoff, and this oracle proves them row-identical
    "q_sample_quota" ->
      s"""WITH h AS (SELECT doc_id, source,
         |    ${duckToSigned(duckMix64("doc_id::HUGEINT"))} AS hh FROM documents),
         |r AS (SELECT doc_id, source,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h)
         |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    // domain cap: the same naive window oracle, keyed on the re-derived
    // registered domain (host regexp + last-two-labels, with the
    // single-label fallback pl_url_domain documents)
    "q_domain_quota" ->
      s"""WITH u AS (SELECT doc_id,
         |    'https://' || ['www','en','blog','m'][(doc_id % 4 + 1)::INT]
         |      || '.site' || (doc_id // 20) || '.org/p/' || doc_id AS url FROM documents),
         |host AS (SELECT doc_id,
         |    lower(regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/:?#]*)', 1)) AS h FROM u),
         |d AS (SELECT doc_id,
         |    CASE WHEN regexp_extract(h, '([^.]+\\.[^.]+)$$', 1) = '' THEN h
         |         ELSE regexp_extract(h, '([^.]+\\.[^.]+)$$', 1) END AS domain FROM host),
         |hh AS (SELECT doc_id, domain,
         |    ${duckToSigned(duckMix64("doc_id::HUGEINT"))} AS hh FROM d),
         |r AS (SELECT doc_id, domain,
         |    ROW_NUMBER() OVER (PARTITION BY domain ORDER BY hh, doc_id) AS rn FROM hh)
         |SELECT doc_id, domain FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "q_sample_budget" ->
      s"""WITH h AS (SELECT doc_id, source, len(string_split(text, ' ')) AS tc,
         |    ${duckToSigned(duckMix64("doc_id::HUGEINT"))} AS hh FROM documents),
         |r AS (SELECT doc_id, source, tc,
         |    SUM(tc) OVER (PARTITION BY source ORDER BY hh, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM h)
         |SELECT doc_id, source, CAST(tc AS INTEGER) AS n_tokens
         |FROM r WHERE cum <= 600 ORDER BY doc_id""".stripMargin,
    // embedding near-dup keep decisions: hyperplane candidates + cosine
    // >= 0.99 edges + connected components (recursive reachability + MIN)
    "q_embed_dedup" -> {
      s"""WITH RECURSIVE $duckHyperplaneCtes,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pairs AS (
         |  SELECT c.a_id, c.b_id
         |  FROM cand c JOIN vv a ON a.vec_id = c.a_id JOIN vv b ON b.vec_id = c.b_id
         |  WHERE (CASE WHEN sqrt(list_dot_product(a.v, a.v)) = 0 OR sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
         |         ELSE list_dot_product(a.v, b.v)
         |              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END) >= 0.99),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION SELECT b_id, a_id FROM pairs),
         |reach AS (
         |  SELECT vec_id AS id, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id, MIN(r) AS keep_id, MIN(r) <> id AS is_duplicate
         |FROM reach GROUP BY id ORDER BY id""".stripMargin
    },
    // SemDeDup: the normalized + planted union re-derived, the same
    // unrolled Lloyd fit over it, cosine-to-own-centroid priority, and
    // the keep rule as one NOT EXISTS over higher-priority cell-mates
    // at cosine >= 0.97 (priority = csim asc, id asc — the paper's
    // keep-the-edge-example rule, ties to the lower id)
    "q_semdedup" -> {
      def dcos(a: String, b: String) =
        s"""CASE WHEN list_dot_product($a, $a) = 0 OR list_dot_product($b, $b) = 0 THEN 0.0
           |       ELSE list_dot_product($a, $b)
           |            / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END""".stripMargin
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id AS id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
         |scaled AS MATERIALIZED (
         |  SELECT vec_id + 20000 AS id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
         |  FROM (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.25) AS v
         |        FROM embeddings WHERE vec_id % 11 = 0)),
         |allv AS MATERIALIZED (
         |  SELECT id, u FROM base
         |  UNION ALL SELECT id + 10000, u FROM base WHERE id % 7 = 0
         |  UNION ALL SELECT id, u FROM scaled),
         |${duckLloydCtes(k = 16, iters = 10, vvSql = "SELECT id AS vec_id, u AS v FROM allv")},
         |asg AS MATERIALIZED (SELECT vv.vec_id, vv.v,
         |  (SELECT c.cell FROM c10 c ORDER BY list_distance(vv.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM vv),
         |sc AS MATERIALIZED (SELECT a.vec_id, a.v, a.cell,
         |  ${dcos("a.v", "c.centroid")} AS csim
         |  FROM asg a JOIN c10 c ON c.cell = a.cell)
         |SELECT s.vec_id AS id, s.cell, s.csim,
         |  NOT EXISTS (SELECT 1 FROM sc o WHERE o.cell = s.cell
         |    AND (o.csim < s.csim OR (o.csim = s.csim AND o.vec_id < s.vec_id))
         |    AND (${dcos("o.v", "s.v")}) >= 0.97) AS keep
         |FROM sc s ORDER BY id""".stripMargin
    },
    // two-stage LSH dedup decisions: md5 star edges + minhash est >= 0.8
    // edges, clustered by the same recursive connected components
    "q_dedup_lsh" -> {
      s"""WITH RECURSIVE $duckMinhashCtes,
         |near AS (
         |  SELECT c.a_id, c.b_id FROM mcand c
         |  WHERE (SELECT COUNT(*) FROM sig sa JOIN sig sb ON sa.k = sb.k AND sa.m = sb.m
         |         WHERE sa.doc_id = c.a_id AND sb.doc_id = c.b_id) / 32.0 >= 0.8),
         |hashes AS (SELECT doc_id AS id, md5(text) AS h FROM documents),
         |exact_keep AS (SELECT h, MIN(id) AS keep FROM hashes GROUP BY h),
         |exact_edges AS (
         |  SELECT hashes.id AS src, ek.keep AS dst FROM hashes JOIN exact_keep ek ON hashes.h = ek.h
         |  WHERE hashes.id <> ek.keep),
         |edges AS (
         |  SELECT src, dst FROM exact_edges UNION SELECT dst, src FROM exact_edges
         |  UNION SELECT a_id, b_id FROM near UNION SELECT b_id, a_id FROM near),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id, MIN(r) AS keep_id, MIN(r) <> id AS is_duplicate
         |FROM reach GROUP BY id ORDER BY id""".stripMargin
    },
    // Z2: bit interleave of the floored lon/lat grid; XZ2: Böhm et al.
    // enlarged-quadtree walk as a recursive CTE (seeds cast to DOUBLE —
    // DuckDB would otherwise type them DECIMAL and round the walk state)
    "q_sfc_index" ->
      """WITH RECURSIVE pts AS (
        |  SELECT DISTINCT CAST(l_quantity AS DOUBLE) / 2.0 AS x, CAST(l_linenumber AS DOUBLE) AS y FROM lineitem),
        |norm AS (
        |  SELECT x, y,
        |    CAST(floor((x + 180.0) / 360.0 * 2147483647) AS BIGINT) AS nx,
        |    CAST(floor((y + 90.0) / 180.0 * 2147483647) AS BIGINT) AS ny,
        |    (x - 0.5 + 180.0) / 360.0 AS bxmin, (x + 0.5 + 180.0) / 360.0 AS bxmax,
        |    (y - 0.5 + 90.0) / 180.0 AS bymin, (y + 0.5 + 90.0) / 180.0 AS bymax
        |  FROM pts),
        |lens AS (
        |  SELECT *, CAST(floor(ln(greatest(bxmax - bxmin, bymax - bymin)) / ln(0.5)) AS INTEGER) AS l1 FROM norm),
        |lens2 AS (
        |  SELECT *, CASE
        |      WHEN l1 >= 18 THEN 18
        |      WHEN (floor(bxmin / pow(0.5, l1 + 1)) * pow(0.5, l1 + 1) + 2 * pow(0.5, l1 + 1) >= bxmax)
        |       AND (floor(bymin / pow(0.5, l1 + 1)) * pow(0.5, l1 + 1) + 2 * pow(0.5, l1 + 1) >= bymax)
        |      THEN least(l1 + 1, 18) ELSE least(l1, 18) END AS len
        |  FROM lens),
        |walk(x, y, i, cs, xlo, ylo, len, bxmin, bymin) AS (
        |  SELECT x, y, 0, CAST(0 AS BIGINT), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), len, bxmin, bymin FROM lens2
        |  UNION ALL
        |  SELECT x, y, i + 1,
        |    cs + 1 + (CASE WHEN bxmin >= xlo + pow(0.5, i + 1) THEN 1 ELSE 0 END
        |            + CASE WHEN bymin >= ylo + pow(0.5, i + 1) THEN 2 ELSE 0 END)
        |           * CAST((pow(4, 18 - i) - 1) / 3 AS BIGINT),
        |    xlo + CASE WHEN bxmin >= xlo + pow(0.5, i + 1) THEN pow(0.5, i + 1) ELSE CAST(0 AS DOUBLE) END,
        |    ylo + CASE WHEN bymin >= ylo + pow(0.5, i + 1) THEN pow(0.5, i + 1) ELSE CAST(0 AS DOUBLE) END,
        |    len, bxmin, bymin
        |  FROM walk WHERE i < len),
        |xz AS (SELECT x, y, cs AS xz2 FROM walk WHERE i = len),
        |z2t AS (
        |  SELECT x, y, CAST(list_sum(list_transform(range(0, 31),
        |      i -> (((nx >> i) & 1) << (2 * i)) + (((ny >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z2
        |  FROM norm)
        |SELECT z2t.x AS x, z2t.y AS y, z2t.z2 AS z2, xz.xz2 AS xz2
        |FROM z2t JOIN xz ON z2t.x = xz.x AND z2t.y = xz.y
        |ORDER BY x, y""".stripMargin,
    // Hilbert xy2d replayed as a 16-level recursive walk: per level the
    // quadrant digit (3*rx XOR ry) scales by s^2, then the canonical
    // full-grid reflect (rx=1, ry=0) + swap rotation
    "q_hilbert_index" ->
      """WITH RECURSIVE pts AS (
        |  SELECT DISTINCT CAST(l_quantity AS DOUBLE) / 2.0 AS x, CAST(l_linenumber AS DOUBLE) AS y FROM lineitem),
        |norm AS (SELECT x, y,
        |    CAST(floor((x + 180.0) / 360.0 * 65535) AS BIGINT) AS nx,
        |    CAST(floor((y + 90.0) / 180.0 * 65535) AS BIGINT) AS ny
        |  FROM pts),
        |walk(x, y, cx, cy, s, d) AS (
        |  SELECT x, y, nx, ny, CAST(32768 AS BIGINT), CAST(0 AS BIGINT) FROM norm
        |  UNION ALL
        |  SELECT x, y,
        |    CASE WHEN (cy & s) = 0
        |         THEN (CASE WHEN (cx & s) > 0 THEN 65535 - cy ELSE cy END)
        |         ELSE cx END,
        |    CASE WHEN (cy & s) = 0
        |         THEN (CASE WHEN (cx & s) > 0 THEN 65535 - cx ELSE cx END)
        |         ELSE cy END,
        |    s // 2,
        |    d + s * s * xor(3 * (CASE WHEN (cx & s) > 0 THEN 1 ELSE 0 END),
        |                    CASE WHEN (cy & s) > 0 THEN 1 ELSE 0 END)
        |  FROM walk WHERE s > 0)
        |SELECT x, y, d AS h FROM walk WHERE s = 0 ORDER BY x, y""".stripMargin,
    // per-cell Horn gradients / focal windows over the exploded grid;
    // Moran's I uses ordered list folds to reproduce the tile's
    // left-to-right double accumulation bit-exactly
    "q_terrain" -> (IDX +
      """ , cells AS (SELECT l_orderkey, i, q, i % 8 AS c, i // 8 AS r FROM idx),
        |orders AS (SELECT DISTINCT l_orderkey FROM idx),
        |grid AS (
        |  SELECT o.l_orderkey, CAST(p AS INTEGER) AS p, CAST(p % 8 AS INTEGER) AS gc, CAST(p // 8 AS INTEGER) AS gr
        |  FROM orders o, range(0, 32) r(p)),
        |sq AS (
        |  SELECT g.l_orderkey, g.p, COUNT(n.q) AS k, median(n.q) AS med,
        |         SUM(n.q) AS s, SUM(n.q * n.q) AS s2
        |  FROM grid g LEFT JOIN cells n
        |    ON n.l_orderkey = g.l_orderkey AND abs(n.c - g.gc) <= 1 AND abs(n.r - g.gr) <= 1
        |  GROUP BY g.l_orderkey, g.p),
        |med_sum AS (
        |  SELECT l_orderkey, SUM(med) AS median_sum FROM sq WHERE k > 0 GROUP BY l_orderkey),
        |sd_sum AS (
        |  SELECT l_orderkey,
        |    SUM(CASE WHEN k < 2 THEN 0.0 ELSE sqrt((s2 - s * (s / k)) / (k - 1)) END) AS stddev_sum
        |  FROM sq WHERE k > 0 GROUP BY l_orderkey),
        |ci AS (
        |  SELECT g.l_orderkey, g.p, n.q, COUNT(*) AS cnt
        |  FROM grid g JOIN cells n
        |    ON n.l_orderkey = g.l_orderkey
        |   AND (n.c - g.gc) * (n.c - g.gc) + (n.r - g.gr) * (n.r - g.gr) <= 1
        |  GROUP BY g.l_orderkey, g.p, n.q),
        |mo AS (
        |  SELECT l_orderkey, p, q,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey, p ORDER BY cnt DESC, q ASC) AS rn
        |  FROM ci),
        |mode_sum AS (
        |  SELECT l_orderkey, SUM(q) AS mode_sum FROM mo WHERE rn = 1 GROUP BY l_orderkey),
        |hornn AS (
        |  SELECT c0.l_orderkey, c0.i, c0.q AS ctr,
        |    COALESCE(MAX(CASE WHEN n.c = c0.c - 1 AND n.r = c0.r - 1 THEN n.q END), c0.q) AS na,
        |    COALESCE(MAX(CASE WHEN n.c = c0.c     AND n.r = c0.r - 1 THEN n.q END), c0.q) AS nb,
        |    COALESCE(MAX(CASE WHEN n.c = c0.c + 1 AND n.r = c0.r - 1 THEN n.q END), c0.q) AS nc2,
        |    COALESCE(MAX(CASE WHEN n.c = c0.c - 1 AND n.r = c0.r     THEN n.q END), c0.q) AS nd,
        |    COALESCE(MAX(CASE WHEN n.c = c0.c + 1 AND n.r = c0.r     THEN n.q END), c0.q) AS nf,
        |    COALESCE(MAX(CASE WHEN n.c = c0.c - 1 AND n.r = c0.r + 1 THEN n.q END), c0.q) AS ng,
        |    COALESCE(MAX(CASE WHEN n.c = c0.c     AND n.r = c0.r + 1 THEN n.q END), c0.q) AS nh,
        |    COALESCE(MAX(CASE WHEN n.c = c0.c + 1 AND n.r = c0.r + 1 THEN n.q END), c0.q) AS ni
        |  FROM cells c0 LEFT JOIN cells n
        |    ON n.l_orderkey = c0.l_orderkey AND abs(n.c - c0.c) <= 1 AND abs(n.r - c0.r) <= 1
        |   AND NOT (n.c = c0.c AND n.r = c0.r)
        |  GROUP BY c0.l_orderkey, c0.i, c0.q, c0.c, c0.r),
        |grad AS (
        |  SELECT l_orderkey, i,
        |    ((nc2 + 2 * nf + ni) - (na + 2 * nd + ng)) / 8.0 AS dx,
        |    ((ng + 2 * nh + ni) - (na + 2 * nb + nc2)) / 8.0 AS dy
        |  FROM hornn),
        |terrain AS (
        |  SELECT l_orderkey,
        |    SUM(degrees(atan(sqrt(dx * dx + dy * dy)))) AS slope_sum,
        |    SUM(CASE WHEN dx = 0 AND dy = 0 THEN 0.0
        |        ELSE CASE WHEN 90.0 - degrees(atan2(dy, -dx)) < 0 THEN 90.0 - degrees(atan2(dy, -dx)) + 360.0
        |                  WHEN 90.0 - degrees(atan2(dy, -dx)) >= 360.0 THEN 90.0 - degrees(atan2(dy, -dx)) - 360.0
        |                  ELSE 90.0 - degrees(atan2(dy, -dx)) END END) AS aspect_sum,
        |    SUM(greatest(0.0, round(255.0 * (sin(radians(45.0)) * cos(atan(sqrt(dx * dx + dy * dy)))
        |        + cos(radians(45.0)) * sin(atan(sqrt(dx * dx + dy * dy)))
        |          * cos(radians(360.0 - 315.0 + 90.0) - atan2(-dy, dx)))))) AS hillshade_sum
        |  FROM grad GROUP BY l_orderkey),
        |stats AS (
        |  SELECT l_orderkey, COUNT(q) AS c, SUM(q) AS s, SUM(q * q) AS s2 FROM cells GROUP BY l_orderkey),
        |zc AS (
        |  SELECT cells.l_orderkey, cells.i, cells.c AS cc, cells.r AS rr,
        |    (q - (s / st.c)) / sqrt((s2 - s * (s / st.c)) / (st.c - 1)) AS z
        |  FROM cells JOIN stats st ON cells.l_orderkey = st.l_orderkey
        |  WHERE st.c >= 2 AND (s2 - s * (s / st.c)) > 0),
        |mi AS (
        |  SELECT z0.l_orderkey, z0.i,
        |    z0.z * (list_reduce(list_prepend(CAST(0 AS DOUBLE), list(zn.z ORDER BY zn.rr, zn.cc)),
        |                        (a, b) -> a + b) / COUNT(zn.z)) AS v
        |  FROM zc z0 JOIN zc zn
        |    ON zn.l_orderkey = z0.l_orderkey AND abs(zn.cc - z0.cc) <= 1 AND abs(zn.rr - z0.rr) <= 1
        |   AND NOT (zn.cc = z0.cc AND zn.rr = z0.rr)
        |  GROUP BY z0.l_orderkey, z0.i, z0.z),
        |mi_sum AS (
        |  SELECT l_orderkey,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(v ORDER BY i)), (a, b) -> a + b) AS moransi_sum
        |  FROM mi GROUP BY l_orderkey)
        |SELECT o.l_orderkey,
        |  round(COALESCE(t.slope_sum, 0.0), 6) AS slope_sum,
        |  round(COALESCE(t.aspect_sum, 0.0), 6) AS aspect_sum,
        |  round(COALESCE(t.hillshade_sum, 0.0), 6) AS hillshade_sum,
        |  round(COALESCE(m.median_sum, 0.0), 6) AS median_sum,
        |  round(COALESCE(mm.mode_sum, 0.0), 6) AS mode_sum,
        |  round(COALESCE(sd.stddev_sum, 0.0), 6) AS stddev_sum,
        |  round(COALESCE(ms.moransi_sum, 0.0), 6) AS moransi_sum
        |FROM orders o
        |LEFT JOIN terrain t ON o.l_orderkey = t.l_orderkey
        |LEFT JOIN med_sum m ON o.l_orderkey = m.l_orderkey
        |LEFT JOIN mode_sum mm ON o.l_orderkey = mm.l_orderkey
        |LEFT JOIN sd_sum sd ON o.l_orderkey = sd.l_orderkey
        |LEFT JOIN mi_sum ms ON o.l_orderkey = ms.l_orderkey
        |ORDER BY o.l_orderkey""".stripMargin),
    // PNG is lossless, so the decoded dims/pixels equal the closed-form
    // integer math the Spark side used to build the image.
    "q_image_decode" ->
      """SELECT doc_id,
        |CAST(doc_id % 13 + 1 AS INTEGER) AS width,
        |CAST(doc_id % 11 + 1 AS INTEGER) AS height,
        |CAST(3 AS INTEGER) AS channels,
        |CAST(((doc_id * 3) % 256) * 65536 + ((doc_id * 3 + 31) % 256) * 256
        |     + ((doc_id * 3 + 62) % 256) AS INTEGER) AS p00,
        |CAST((((doc_id % 13) * 7 + (doc_id % 11) * 13 + doc_id * 3) % 256) * 65536
        |     + (((doc_id % 13) * 7 + (doc_id % 11) * 13 + doc_id * 3 + 31) % 256) * 256
        |     + (((doc_id % 13) * 7 + (doc_id % 11) * 13 + doc_id * 3 + 62) % 256) AS INTEGER) AS pll
        |FROM documents ORDER BY doc_id""".stripMargin,
    // resized-thumbnail probes: the floor resample grid replayed in
    // integer SQL over the same closed-form source image
    "q_image_resize" -> {
      def pix(x: Int, y: Int): String = {
        val sx = s"(($x * (doc_id % 13 + 1)) // 3)"
        val sy = s"(($y * (doc_id % 11 + 1)) // 2)"
        val base = s"($sx * 7 + $sy * 13 + doc_id * 3)"
        s"CAST((($base) % 256) * 65536 + (($base + 31) % 256) * 256" +
          s" + (($base + 62) % 256) AS INTEGER) AS p$x$y"
      }
      s"""SELECT doc_id, CAST(3 AS INTEGER) AS rw, CAST(2 AS INTEGER) AS rh,
         |${pix(0, 0)}, ${pix(1, 0)}, ${pix(2, 0)},
         |${pix(0, 1)}, ${pix(1, 1)}, ${pix(2, 1)}
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_math" -> (IDX +
      """ SELECT l_orderkey, i, sqrt(q) AS sqrt_q, abs(q - 25.0) AS abs_q
        |FROM idx ORDER BY l_orderkey, i""".stripMargin),
    "q_resample" -> (IDX +
      """ SELECT l_orderkey,
        |CAST(((i // 8 - 1) // 2) * 4 + ((i % 8 - 1) // 2) AS INTEGER) AS i2, q AS cell
        |FROM idx WHERE (i % 8) % 2 = 1 AND (i // 8) % 2 = 1
        |ORDER BY l_orderkey, i2""".stripMargin),
    // footprint average replayed per 2x2 block: SUM/COUNT of exact
    // integer doubles — one division, identical on both engines; empty
    // blocks simply have no rows
    "q_resample_avg" -> (IDX +
      """ SELECT l_orderkey,
        |CAST((i // 8 // 2) * 4 + (i % 8 // 2) AS INTEGER) AS i2,
        |SUM(q) / COUNT(q) AS cell
        |FROM idx GROUP BY 1, 2 ORDER BY l_orderkey, i2""".stripMargin),
    // min/max/sum are plain block aggregates; LOWER median = the
    // ceil(n/2)-th smallest via row_number; mode = (count DESC, value
    // ASC) rank 1 — the same deterministic tie-breaks as the kernel
    "q_resample_aggs" -> (IDX +
      """, blk AS (SELECT l_orderkey,
        |    CAST((i // 8 // 2) * 4 + (i % 8 // 2) AS INTEGER) AS i2, q FROM idx),
        |agg AS (SELECT l_orderkey, i2, MIN(q) AS r_min, MAX(q) AS r_max,
        |    SUM(q) AS r_sum FROM blk GROUP BY 1, 2),
        |md AS (SELECT l_orderkey, i2, q,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey, i2 ORDER BY q) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_orderkey, i2) AS n FROM blk),
        |med AS (SELECT l_orderkey, i2, q AS r_med FROM md WHERE rn = (n + 1) // 2),
        |vc AS (SELECT l_orderkey, i2, q, COUNT(*) AS cc FROM blk GROUP BY 1, 2, 3),
        |mo AS (SELECT l_orderkey, i2, q AS r_mode,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey, i2 ORDER BY cc DESC, q) AS mr
        |  FROM vc)
        |SELECT l_orderkey, i2, r_min, r_max, r_sum, r_med, r_mode
        |FROM agg JOIN med USING (l_orderkey, i2) JOIN mo USING (l_orderkey, i2)
        |WHERE mr = 1 ORDER BY l_orderkey, i2""".stripMargin),
    // Keys a=-0.5 at fx=fy=0.5: literal dyadic tap weights (9/16,
    // -1/16), taps clamp to the tile edge keeping their weight, the
    // 16-term sum is exact in double in any order (all terms are
    // multiples of 1/256), and the weight sum is exactly 1 so no
    // normalization division appears on either side
    "q_resample_cubic" -> (DIDX +
      """, taps(m, w) AS (VALUES (-1, -0.0625), (0, 0.5625), (1, 0.5625), (2, -0.0625)),
        |dst AS (SELECT bucket, tid, a.dc, b.dr
        |  FROM fullt, range(0, 4) a(dc), range(0, 2) b(dr)),
        |terms AS (SELECT d.bucket, d.tid, d.dc, d.dr, ty.w * tx.w * s.q AS term
        |  FROM dst d CROSS JOIN taps tx CROSS JOIN taps ty
        |  JOIN dcell s ON s.bucket = d.bucket AND s.tid = d.tid
        |   AND s.c = LEAST(7, GREATEST(0, 2 * d.dc + tx.m))
        |   AND s.r = LEAST(3, GREATEST(0, 2 * d.dr + ty.m)))
        |SELECT bucket, CAST(tid AS BIGINT) AS tid,
        |  CAST(dr * 4 + dc AS INTEGER) AS i2, SUM(term) AS cell
        |FROM terms GROUP BY 1, 2, 3 ORDER BY bucket, tid, i2""".stripMargin),
    // B-spline weights are sixths (one inexact division each, same
    // literal expression both engines); dyadic 2^-20 quantization on
    // both sides absorbs accumulation-order ulps without the decimal
    // midpoint trap (see the query comment)
    "q_resample_spline" -> (DIDX +
      """, taps(m, w) AS (VALUES (-1, 0.125/6), (0, 2.875/6), (1, 2.875/6), (2, 0.125/6)),
        |dst AS (SELECT bucket, tid, a.dc, b.dr
        |  FROM fullt, range(0, 4) a(dc), range(0, 2) b(dr)),
        |terms AS (SELECT d.bucket, d.tid, d.dc, d.dr,
        |    ty.w * tx.w * s.q AS term, ty.w * tx.w AS w2
        |  FROM dst d CROSS JOIN taps tx CROSS JOIN taps ty
        |  JOIN dcell s ON s.bucket = d.bucket AND s.tid = d.tid
        |   AND s.c = LEAST(7, GREATEST(0, 2 * d.dc + tx.m))
        |   AND s.r = LEAST(3, GREATEST(0, 2 * d.dr + ty.m)))
        |SELECT bucket, CAST(tid AS BIGINT) AS tid,
        |  CAST(dr * 4 + dc AS INTEGER) AS i2,
        |  FLOOR(SUM(term) / SUM(w2) * 1048576 + 0.5) / 1048576 AS cell
        |FROM terms GROUP BY 1, 2, 3 ORDER BY bucket, tid, i2""".stripMargin),
    // Lanczos-3: 6 taps per axis at distances {0.5,1.5,2.5}, weights
    // sinc(d)*sinc(d/3) written as the same float expression; sin()
    // ulp differences across engines are absorbed by the dyadic
    // 2^-20 quantization
    "q_resample_lanczos" -> (DIDX +
      """, taps AS (SELECT m,
        |    (sin(pi() * d) / (pi() * d)) * (sin(pi() * d / 3) / (pi() * d / 3)) AS w
        |  FROM (SELECT m, ABS(0.5 - m) AS d
        |        FROM (VALUES (-2), (-1), (0), (1), (2), (3)) t(m))),
        |dst AS (SELECT bucket, tid, a.dc, b.dr
        |  FROM fullt, range(0, 4) a(dc), range(0, 2) b(dr)),
        |terms AS (SELECT d.bucket, d.tid, d.dc, d.dr,
        |    ty.w * tx.w * s.q AS term, ty.w * tx.w AS w2
        |  FROM dst d CROSS JOIN taps tx CROSS JOIN taps ty
        |  JOIN dcell s ON s.bucket = d.bucket AND s.tid = d.tid
        |   AND s.c = LEAST(7, GREATEST(0, 2 * d.dc + tx.m))
        |   AND s.r = LEAST(3, GREATEST(0, 2 * d.dr + ty.m)))
        |SELECT bucket, CAST(tid AS BIGINT) AS tid,
        |  CAST(dr * 4 + dc AS INTEGER) AS i2,
        |  FLOOR(SUM(term) / SUM(w2) * 1048576 + 0.5) / 1048576 AS cell
        |FROM terms GROUP BY 1, 2, 3 ORDER BY bucket, tid, i2""".stripMargin),
    "q_focal" -> (IDX +
      """, cells AS (SELECT l_orderkey, i, q, i % 8 AS c, i // 8 AS r FROM idx)
        |SELECT a.l_orderkey AS l_orderkey, a.i AS i,
        |MIN(b.q) AS fmin, MAX(b.q) AS fmax,
        |SUM(b.q) / COUNT(b.q) AS fmean, SUM(b.q) AS fsum
        |FROM cells a JOIN cells b
        |  ON a.l_orderkey = b.l_orderkey AND abs(a.c - b.c) <= 1 AND abs(a.r - b.r) <= 1
        |GROUP BY a.l_orderkey, a.i ORDER BY l_orderkey, i""".stripMargin),
    "q_st_predicates" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS DOUBLE) AS q, CAST(l_linenumber AS DOUBLE) AS lnv FROM lineitem)
        |SELECT q, lnv,
        |(q <= 35.0 AND q + 3.0 >= 25.0 AND lnv <= 5.0 AND lnv + 2.0 >= 3.0) AS r_intersects,
        |(q <= 25.0 AND q + 3.0 >= 35.0 AND lnv <= 3.0 AND lnv + 2.0 >= 5.0) AS r_contains,
        |(q >= 25.0 AND q + 3.0 <= 35.0 AND lnv >= 3.0 AND lnv + 2.0 <= 5.0) AS r_within,
        |NOT (q <= 35.0 AND q + 3.0 >= 25.0 AND lnv <= 5.0 AND lnv + 2.0 >= 3.0) AS r_disjoint
        |FROM p ORDER BY q, lnv""".stripMargin,
    // every column replayed analytically: the box is axis-aligned with
    // integer corners (type 'Polygon', ring of 5 points / perimeter 10),
    // pointn(-1) is the zig line's last vertex (lni, lni²), translate is
    // exact addition, and the closest point to (40, 0) is the clamp of
    // the query point into the box (y: 0 < lni always ⇒ cy = lni)
    "q_st_breadth2" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni FROM lineitem)
        |SELECT qi, lni,
        |  'Polygon' AS gtype,
        |  CAST(3 AS INTEGER) AS ngeoms,
        |  CAST(lni AS DOUBLE) AS pn_x,
        |  CAST(lni AS DOUBLE) * lni AS pn_y,
        |  CAST(5 AS INTEGER) AS ring_pts,
        |  CAST(10.0 AS DOUBLE) AS ring_len,
        |  CAST(qi + 2.5 AS DOUBLE) AS tx, CAST(lni - 1.5 AS DOUBLE) AS ty,
        |  CAST(greatest(qi, least(40, qi + 3)) AS DOUBLE) AS cx,
        |  CAST(lni AS DOUBLE) AS cy
        |FROM p ORDER BY qi, lni""".stripMargin,
    // every column is analytic: box2 is an axis-aligned integer box
    // (perimeter/area exact), the donut hole corners are dyadic
    // (1+qi/16, 1+lni/8 — ring length qi/8 + lni/4 exact), the zig
    // envelope is lni × lni² and DuckDB's VARCHAR cast of a double is
    // the same shortest-decimal form Java's Double.toString emits for
    // these integral coordinates
    "q_st_breadth3" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni FROM lineitem)
        |SELECT qi, lni,
        |  CAST(2 * (qi + lni) AS DOUBLE) AS bnd_len,
        |  CAST(qi AS DOUBLE) * lni AS box2_area,
        |  CAST(21 AS INTEGER) AS dims,
        |  CAST(2 AS INTEGER) AS cdim,
        |  false AS closed_zig,
        |  true AS closed_ring,
        |  true AS iscoll,
        |  true AS isring_ring,
        |  false AS isring_zig,
        |  true AS simple_zig,
        |  CAST(lni + 1 AS INTEGER) AS npts,
        |  CAST(qi AS DOUBLE) AS g2x,
        |  qi / 8.0 + lni / 4.0 AS hole_len,
        |  CAST(lni AS DOUBLE) * lni * lni AS env_area,
        |  CAST(6.0 AS DOUBLE) AS mkpoly_area,
        |  CAST(qi + lni AS DOUBLE) AS mkline_len,
        |  true AS cast_pt_null,
        |  CAST(6.0 AS DOUBLE) AS cast_poly_area,
        |  'LineString' AS cast_geom_type,
        |  true AS cast_ls_null,
        |  CAST(3 + length(CAST(qi AS VARCHAR)) AS INTEGER) AS blen,
        |  '{"type":"Point","coordinates":[' || CAST(CAST(qi AS DOUBLE) AS VARCHAR)
        |    || ',' || CAST(CAST(lni AS DOUBLE) AS VARCHAR) || ']}' AS gj
        |FROM p ORDER BY qi, lni""".stripMargin,
    // haversine replayed with the identical op order (toRadians is
    // x/180*pi, the Java order) and round(6) on both sides — the CRS
    // rounding recipe; DMS text over dyadic eighths/quarters of a
    // degree (minutes and seconds are exact decimals, printf('%.3f')
    // matches Java's %.3f); relate matrices are the textbook
    // point-within-polygon and equal-polygons DE-9IM strings
    "q_st_sphere" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni FROM lineitem),
        |c AS (SELECT qi, lni,
        |        qi / 8.0 - 3.0 AS ax, lni / 4.0 AS ay,
        |        -(3.0 + qi / 8.0) AS llx, lni / 4.0 - 1.0 AS lly
        |      FROM p),
        |h AS (SELECT qi, lni, llx, lly,
        |        2.0 * 6371008.7714 * asin(least(1.0, sqrt(
        |          sin((((ay + 0.25) - ay) / 180.0 * pi()) / 2) * sin((((ay + 0.25) - ay) / 180.0 * pi()) / 2)
        |          + cos(ay / 180.0 * pi()) * cos((ay + 0.25) / 180.0 * pi())
        |            * sin((((ax + 0.5) - ax) / 180.0 * pi()) / 2) * sin((((ax + 0.5) - ax) / 180.0 * pi()) / 2)))) AS hav_ab,
        |        2.0 * 6371008.7714 * asin(least(1.0, sqrt(
        |          sin((((ay - 0.5) - (ay + 0.25)) / 180.0 * pi()) / 2) * sin((((ay - 0.5) - (ay + 0.25)) / 180.0 * pi()) / 2)
        |          + cos((ay + 0.25) / 180.0 * pi()) * cos((ay - 0.5) / 180.0 * pi())
        |            * sin((((ax + 1.0) - (ax + 0.5)) / 180.0 * pi()) / 2) * sin((((ax + 1.0) - (ax + 0.5)) / 180.0 * pi()) / 2)))) AS hav_bc
        |      FROM c),
        |d AS (SELECT qi, lni, hav_ab, hav_bc,
        |        abs(lly) AS la, abs(llx) AS lo,
        |        CASE WHEN lly < 0 THEN 'S' ELSE 'N' END AS lah,
        |        CASE WHEN llx < 0 THEN 'W' ELSE 'E' END AS loh
        |      FROM h)
        |SELECT qi, lni,
        |  round(hav_ab, 6) AS dsphere,
        |  round(hav_ab + hav_bc, 6) AS lsphere,
        |  CAST(CAST(floor(la) AS INT) AS VARCHAR) || '°'
        |    || CAST(CAST(floor((la - floor(la)) * 60.0) AS INT) AS VARCHAR) || ''''
        |    || printf('%.3f', ((la - floor(la)) * 60.0 - floor((la - floor(la)) * 60.0)) * 60.0) || '"' || lah
        |    || ' '
        |    || CAST(CAST(floor(lo) AS INT) AS VARCHAR) || '°'
        |    || CAST(CAST(floor((lo - floor(lo)) * 60.0) AS INT) AS VARCHAR) || ''''
        |    || printf('%.3f', ((lo - floor(lo)) * 60.0 - floor((lo - floor(lo)) * 60.0)) * 60.0) || '"' || loh
        |    AS lltext,
        |  '0FFFFF212' AS rel_in,
        |  '2FFF1FFF2' AS rel_eq,
        |  true AS relb_in,
        |  false AS relb_far
        |FROM d ORDER BY qi, lni""".stripMargin,
    // the recursive CTE is the geohash walk itself: 35 bisections of
    // ([-180,180], [-90,90]) with even bits refining longitude — all
    // interval endpoints dyadic, so Spark and DuckDB agree bit-for-bit;
    // chars are 5-bit groups of the accumulated code, MSB first
    "q_st_geohash" ->
      """WITH RECURSIVE p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni FROM lineitem),
        |s AS (
        |  SELECT qi, lni,
        |         CAST(qi AS DOUBLE) - CAST(25.5 AS DOUBLE) AS lon,
        |         CAST(lni AS DOUBLE) * CAST(3.0 AS DOUBLE) - CAST(10.5 AS DOUBLE) AS lat,
        |         0 AS i, CAST(-180 AS DOUBLE) AS lomn, CAST(180 AS DOUBLE) AS lomx,
        |         CAST(-90 AS DOUBLE) AS lamn, CAST(90 AS DOUBLE) AS lamx,
        |         CAST(0 AS BIGINT) AS code
        |  FROM p
        |  UNION ALL
        |  SELECT qi, lni, lon, lat, i + 1,
        |    CASE WHEN i % 2 = 0 AND lon >= (lomn + lomx) / 2 THEN (lomn + lomx) / 2 ELSE lomn END,
        |    CASE WHEN i % 2 = 0 AND lon < (lomn + lomx) / 2 THEN (lomn + lomx) / 2 ELSE lomx END,
        |    CASE WHEN i % 2 = 1 AND lat >= (lamn + lamx) / 2 THEN (lamn + lamx) / 2 ELSE lamn END,
        |    CASE WHEN i % 2 = 1 AND lat < (lamn + lamx) / 2 THEN (lamn + lamx) / 2 ELSE lamx END,
        |    code * 2 + CASE WHEN i % 2 = 0
        |                    THEN CASE WHEN lon >= (lomn + lomx) / 2 THEN 1 ELSE 0 END
        |                    ELSE CASE WHEN lat >= (lamn + lamx) / 2 THEN 1 ELSE 0 END END
        |  FROM s WHERE i < 35
        |),
        |f AS (SELECT * FROM s WHERE i = 35),
        |g AS (SELECT qi, lni, lomn, lomx, lamn, lamx,
        |        substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(code // 1073741824 % 32 AS INT) + 1, 1)
        |        || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(code // 33554432 % 32 AS INT) + 1, 1)
        |        || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(code // 1048576 % 32 AS INT) + 1, 1)
        |        || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(code // 32768 % 32 AS INT) + 1, 1)
        |        || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(code // 1024 % 32 AS INT) + 1, 1)
        |        || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(code // 32 % 32 AS INT) + 1, 1)
        |        || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(code % 32 AS INT) + 1, 1) AS gh
        |      FROM f)
        |SELECT qi, lni, gh,
        |  lomn AS ghxmin, lamn AS ghymin, lomx AS ghxmax, lamx AS ghymax,
        |  (lomn + lomx) / 2 AS ghcx, (lamn + lamx) / 2 AS ghcy,
        |  CAST(qi AS DOUBLE) * lni AS bbox_area,
        |  CAST(qi AS DOUBLE) AS pft_x,
        |  true AS lft_null,
        |  CAST(65 AS INTEGER) AS bp_np,
        |  true AS bp_in,
        |  false AS bp_far,
        |  CAST(2 AS INTEGER) AS am_n,
        |  CAST(20 AS DOUBLE) * lni AS am_area,
        |  CAST(1 AS INTEGER) AS am_n1
        |FROM g ORDER BY qi, lni""".stripMargin,
    "q_st_breadth4" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni FROM lineitem)
        |SELECT qi, lni,
        |  true AS eq_box, false AS eq_ne,
        |  CAST(2 AS INTEGER) AS mp_n, true AS mp_null,
        |  CAST(qi + lni AS DOUBLE) AS ml_len,
        |  CAST(qi AS DOUBLE) * lni AS mpoly_area,
        |  CAST(qi AS DOUBLE) AS pm_x, CAST(lni AS DOUBLE) AS pm_y
        |FROM p ORDER BY qi, lni""".stripMargin,
    // the recursive CTE replays Spheroid.vincentyM: pair 1 is the
    // distance endpoints, pairs 2/3 the two line segments; 20 λ
    // iterations, then the σ terms recomputed once from the final λ.
    // toRadians is mirrored as x / 180.0 * pi()
    "q_st_spheroid" ->
      """WITH RECURSIVE p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni FROM lineitem),
        |pts AS (SELECT qi, lni,
        |          qi * 0.7 - 20.0 AS lon1, lni * 2.5 - 8.0 AS lat1,
        |          qi * 0.3 + 5.0 AS lon2, lni * 1.5 + 10.0 AS lat2 FROM p),
        |pr AS (
        |  SELECT qi, lni, 1 AS pair, lon1 AS a_lon, lat1 AS a_lat, lon2 AS b_lon, lat2 AS b_lat FROM pts
        |  UNION ALL SELECT qi, lni, 2, lon1, lat1, 0.0, 0.0 FROM pts
        |  UNION ALL SELECT qi, lni, 3, 0.0, 0.0, lon2, lat2 FROM pts),
        |tr AS (SELECT qi, lni, pair,
        |         (b_lon - a_lon) / 180.0 * pi() AS bigl,
        |         sin(atan((1.0 - 1.0/298.257223563) * tan(a_lat / 180.0 * pi()))) AS sinu1,
        |         cos(atan((1.0 - 1.0/298.257223563) * tan(a_lat / 180.0 * pi()))) AS cosu1,
        |         sin(atan((1.0 - 1.0/298.257223563) * tan(b_lat / 180.0 * pi()))) AS sinu2,
        |         cos(atan((1.0 - 1.0/298.257223563) * tan(b_lat / 180.0 * pi()))) AS cosu2
        |       FROM pr),
        |v AS (
        |  SELECT qi, lni, pair, bigl, sinu1, cosu1, sinu2, cosu2, 0 AS i, bigl AS lam FROM tr
        |  UNION ALL
        |  SELECT qi, lni, pair, bigl, sinu1, cosu1, sinu2, cosu2, i + 1,
        |         bigl + (1.0 - cc) * (1.0/298.257223563) * sina *
        |           (sg + cc * sins * (c2m + cc * coss * (-1.0 + 2.0 * c2m * c2m))) AS lam
        |  FROM (
        |    SELECT *, (1.0/298.257223563) / 16.0 * cos2a * (4.0 + (1.0/298.257223563) * (4.0 - 3.0 * cos2a)) AS cc
        |    FROM (
        |      SELECT *, CASE WHEN cos2a = 0 THEN 0.0 ELSE coss - 2.0 * sinu1 * sinu2 / cos2a END AS c2m
        |      FROM (
        |        SELECT *, 1.0 - sina * sina AS cos2a
        |        FROM (
        |          SELECT *, atan2(sins, coss) AS sg,
        |                 CASE WHEN sins = 0 THEN 0.0 ELSE cosu1 * cosu2 * sin(lam) / sins END AS sina
        |          FROM (
        |            SELECT *,
        |              sqrt((cosu2 * sin(lam)) * (cosu2 * sin(lam))
        |                 + (cosu1 * sinu2 - sinu1 * cosu2 * cos(lam)) * (cosu1 * sinu2 - sinu1 * cosu2 * cos(lam))) AS sins,
        |              sinu1 * sinu2 + cosu1 * cosu2 * cos(lam) AS coss
        |            FROM v WHERE i < 20)))))),
        |fin AS (SELECT * FROM v WHERE i = 20),
        |r1 AS (SELECT qi, lni, pair, sinu1, cosu1, sinu2, cosu2, lam,
        |         sqrt((cosu2 * sin(lam)) * (cosu2 * sin(lam))
        |            + (cosu1 * sinu2 - sinu1 * cosu2 * cos(lam)) * (cosu1 * sinu2 - sinu1 * cosu2 * cos(lam))) AS sins,
        |         sinu1 * sinu2 + cosu1 * cosu2 * cos(lam) AS coss
        |       FROM fin),
        |r2 AS (SELECT *, atan2(sins, coss) AS sg,
        |         CASE WHEN sins = 0 THEN 0.0 ELSE cosu1 * cosu2 * sin(lam) / sins END AS sina FROM r1),
        |r3 AS (SELECT *, 1.0 - sina * sina AS cos2a FROM r2),
        |r4 AS (SELECT *, CASE WHEN cos2a = 0 THEN 0.0 ELSE coss - 2.0 * sinu1 * sinu2 / cos2a END AS c2m,
        |         cos2a * (6378137.0 * 6378137.0 - (6378137.0 * (1.0 - 1.0/298.257223563)) * (6378137.0 * (1.0 - 1.0/298.257223563)))
        |           / ((6378137.0 * (1.0 - 1.0/298.257223563)) * (6378137.0 * (1.0 - 1.0/298.257223563))) AS usq FROM r3),
        |r5 AS (SELECT *, 1.0 + usq / 16384.0 * (4096.0 + usq * (-768.0 + usq * (320.0 - 175.0 * usq))) AS biga,
        |         usq / 1024.0 * (256.0 + usq * (-128.0 + usq * (74.0 - 47.0 * usq))) AS bigb FROM r4),
        |r6 AS (SELECT *, bigb * sins * (c2m + bigb / 4.0 * (coss * (-1.0 + 2.0 * c2m * c2m)
        |         - bigb / 6.0 * c2m * (-3.0 + 4.0 * sins * sins) * (-3.0 + 4.0 * c2m * c2m))) AS dsg FROM r5),
        |d AS (SELECT qi, lni, pair,
        |        (6378137.0 * (1.0 - 1.0/298.257223563)) * biga * (sg - dsg) AS s FROM r6)
        |SELECT qi, lni,
        |  round(MAX(CASE WHEN pair = 1 THEN s END), 4) AS dspheroid,
        |  round(MAX(CASE WHEN pair = 2 THEN s END) + MAX(CASE WHEN pair = 3 THEN s END), 4) AS lspheroid
        |FROM d GROUP BY qi, lni ORDER BY qi, lni""".stripMargin,
    "q_st_accessors" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS DOUBLE) AS q, CAST(l_linenumber AS DOUBLE) AS lnv FROM lineitem)
        |SELECT q, lnv, CAST(6.0 AS DOUBLE) AS area, q + 1.5 AS cx,
        |  lnv + 1.0 AS cy, q AS px, lnv AS py
        |FROM p ORDER BY q, lnv""".stripMargin,
    // rf_mk_crs = trim + lowercase of supported identifiers
    "q_mk_crs" ->
      """SELECT ln, 'epsg:' || CAST(32600 + ln AS VARCHAR) AS utm,
        |  'epsg:4326' AS wgs, 'epsg:3857' AS merc
        |FROM (SELECT DISTINCT CAST(l_linenumber AS INT) AS ln FROM lineitem)
        |ORDER BY ln""".stripMargin,
    // the Krüger/Snyder forward series, term-by-term: n/t/c/a, the
    // meridian arc, and the two polynomial expansions replayed verbatim
    "q_st_utm" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS DOUBLE) AS q, CAST(l_linenumber AS DOUBLE) AS lnv FROM lineitem),
        |k AS (SELECT 6378137.0 AS rr, (1.0/298.257223563)*(2.0 - 1.0/298.257223563) AS e2, 0.9996 AS k0),
        |g AS (SELECT q, lnv, radians(lnv*8 - 30.0) AS lat,
        |  radians(((q - 25.0)/10.0 + 3.0) - 3.0) AS dlon FROM p),
        |w AS (SELECT q, lnv, lat, dlon, rr, e2, k0,
        |  sin(lat) AS sl, cos(lat) AS cl, tan(lat) AS tl FROM g, k),
        |v AS (SELECT *,
        |  rr / sqrt(1 - e2 * sl * sl) AS n,
        |  tl * tl AS t2,
        |  e2 / (1 - e2) * cl * cl AS cc,
        |  cl * dlon AS a,
        |  rr * ((1 - e2/4 - 3*e2*e2/64 - 5*e2*e2*e2/256) * lat -
        |    (3*e2/8 + 3*e2*e2/32 + 45*e2*e2*e2/1024) * sin(2*lat) +
        |    (15*e2*e2/256 + 45*e2*e2*e2/1024) * sin(4*lat) -
        |    (35*e2*e2*e2/3072) * sin(6*lat)) AS m
        |  FROM w)
        |SELECT q, lnv,
        |  round(k0 * n * (a + (1 - t2 + cc) * a*a*a / 6 +
        |    (5 - 18*t2 + t2*t2 + 72*cc - 58*e2/(1 - e2)) * pow(a, 5) / 120) + 500000.0, 3) AS ux,
        |  round(k0 * (m + n * tl * (a*a / 2 +
        |    (5 - t2 + 9*cc + 4*cc*cc) * pow(a, 4) / 24 +
        |    (61 - 58*t2 + t2*t2 + 600*cc - 330*e2/(1 - e2)) * pow(a, 6) / 720)), 3) AS uy
        |FROM v ORDER BY q, lnv""".stripMargin,
    // spherical-mercator forward replayed with DuckDB's own trig; the
    // round trip re-derives lon/lat via atan∘exp
    "q_st_reproject" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS DOUBLE) AS q, CAST(l_linenumber AS DOUBLE) AS lnv FROM lineitem),
        |m AS (SELECT q, lnv,
        |  6378137.0 * radians(q - 25.0) AS x,
        |  6378137.0 * ln(tan(pi() / 4 + radians(lnv * 8 - 30.0) / 2)) AS y
        |  FROM p)
        |SELECT q, lnv,
        |  round(x, 6) AS mx, round(y, 6) AS my,
        |  round(degrees(x / 6378137.0), 9) AS blon,
        |  round(degrees(2 * atan(exp(y / 6378137.0)) - pi() / 2), 9) AS blat
        |FROM m ORDER BY q, lnv""".stripMargin,
    // overlay areas by inclusion-exclusion on exact integer boxes; the
    // intersection is EMPTY only under strict separation (touching
    // boxes intersect in a line/point: area 0, not empty)
    "q_st_setops" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni FROM lineitem),
        |g AS (SELECT qi, lni,
        |  greatest(0, least(qi + 3, 35) - greatest(qi, 25)) AS iw,
        |  greatest(0, least(lni + 2, 5) - greatest(lni, 3)) AS ih,
        |  (least(qi + 3, 35) < greatest(qi, 25)
        |    OR least(lni + 2, 5) < greatest(lni, 3)) AS sep
        |  FROM p)
        |SELECT qi, lni,
        |  CAST(iw * ih AS DOUBLE) AS inter_area,
        |  CAST(26 - iw * ih AS DOUBLE) AS union_area,
        |  CAST(6 - iw * ih AS DOUBLE) AS diff_area,
        |  sep AS inter_empty,
        |  CAST(lni + 1 AS INTEGER) AS zig_points,
        |  TRUE AS a_valid
        |FROM g ORDER BY qi, lni""".stripMargin,
    // box distance via the axis-gap formula (identical IEEE ops to the
    // JTS segment path on exact integer inputs); hull area = shoelace
    // of the triangle; simplify(0) drops the planted collinear vertex
    "q_st_distance" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni
        |  FROM lineitem WHERE l_quantity >= 2),
        |g AS (SELECT qi, lni,
        |  greatest(25.0 - qi, qi - 35.0, 0.0) AS dx,
        |  greatest(3.0 - lni, lni - 5.0, 0.0) AS dy FROM p)
        |SELECT qi, lni,
        |  sqrt(dx * dx + dy * dy) AS d_box,
        |  sqrt(dx * dx + dy * dy) <= 2.0 AS near_box,
        |  CAST(qi AS DOUBLE) * lni / 2.0 AS hull_area,
        |  'POLYGON ((0 0, ' || qi || ' 0, ' || qi || ' ' || lni || ', 0 ' || lni || ', 0 0))' AS simplified
        |FROM g ORDER BY qi, lni""".stripMargin,
    "q_rasterize" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS DOUBLE) AS q, CAST(l_linenumber AS DOUBLE) AS lnv FROM lineitem)
        |SELECT q, lnv, CAST(6 AS BIGINT) AS dc, 6.0 * q AS s
        |FROM p ORDER BY q, lnv""".stripMargin,
    "q_zonal" -> (IDX +
      """ SELECT CAST(lnv AS INT) AS zone, CAST(COUNT(*) AS BIGINT) AS n_cells,
        | SUM(q) AS zone_sum, MIN(q) AS zone_min, MAX(q) AS zone_max,
        | SUM(q) / COUNT(*) AS zone_mean
        | FROM idx GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_raster_join" ->
      """SELECT l_orderkey, SUM(l_quantity) AS s FROM lineitem
        |WHERE l_orderkey % 200 = 0 GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_raster_join_bucketed" ->
      """SELECT l_orderkey, SUM(l_quantity) AS s FROM lineitem
        |WHERE l_orderkey % 200 = 0 GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    // the bilinear merge replayed per cell: exact average 4x2 overview,
    // fractional source coords (c+0.5)/2 - 0.5 (exact quarters), taps
    // clamp at the tile edge keeping weights, positive-weight data taps
    // renormalize SUM(w*v)/SUM(w) exactly as Resample.bilinearAt, and
    // both sides quantize to the dyadic 2^-20 grid
    "q_raster_join_bilinear" -> (IDX +
      """, av AS (SELECT l_orderkey, (i % 8) // 2 AS sc, (i // 8) // 2 AS sr,
        |    SUM(q) / COUNT(q) AS v
        |  FROM idx WHERE l_orderkey % 200 = 0 GROUP BY 1, 2, 3),
        |ords AS (SELECT DISTINCT l_orderkey FROM av),
        |g2 AS (SELECT l_orderkey, a.c, b.r,
        |    CAST(GREATEST(0, LEAST(3, FLOOR((a.c + 0.5) / 2 - 0.5))) AS INTEGER) AS c0,
        |    CAST(GREATEST(0, LEAST(1, FLOOR((b.r + 0.5) / 2 - 0.5))) AS INTEGER) AS r0
        |  FROM ords, range(0, 8) a(c), range(0, 4) b(r)),
        |g3 AS (SELECT l_orderkey, c, r, c0, LEAST(3, c0 + 1) AS c1,
        |    (c + 0.5) / 2 - 0.5 - c0 AS fx,
        |    r0, LEAST(1, r0 + 1) AS r1,
        |    (r + 0.5) / 2 - 0.5 - r0 AS fy FROM g2),
        |taps AS (
        |  SELECT l_orderkey, c, r, c0 AS tc, r0 AS tr, (1 - fx) * (1 - fy) AS w FROM g3
        |  UNION ALL SELECT l_orderkey, c, r, c1, r0, fx * (1 - fy) FROM g3
        |  UNION ALL SELECT l_orderkey, c, r, c0, r1, (1 - fx) * fy FROM g3
        |  UNION ALL SELECT l_orderkey, c, r, c1, r1, fx * fy FROM g3),
        |smp AS (SELECT t.l_orderkey, t.c, t.r, SUM(t.w * av.v) / SUM(t.w) AS cell
        |  FROM taps t JOIN av ON av.l_orderkey = t.l_orderkey
        |    AND av.sc = t.tc AND av.sr = t.tr
        |  WHERE t.w > 0 GROUP BY 1, 2, 3)
        |SELECT l_orderkey, CAST(r * 8 + c AS INTEGER) AS i2,
        |  FLOOR(cell * 1048576 + 0.5) / 1048576 AS cell
        |FROM smp ORDER BY l_orderkey, i2""".stripMargin),
    "q_events_daily" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |MIN(value) AS min_value, MAX(value) AS max_value,
        |CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // salting must be invisible to the result: the oracle is the PLAIN join
    "q_salted_join" ->
      """SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // latest-wins compaction replayed as the window it replaces
    "q_compact" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_ns(ts) // 1000 AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY tus DESC, event_id DESC) AS rn FROM e)
        |SELECT user_id, event_type, event_id, CAST(tus AS BIGINT) AS tus, vc
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // HLL registers replayed from distinct (event_type, user) keys:
    // reg = top 6 bits of splitmix64, rank = 32 - floor(log2(low32))
    // (w < 2^32 is exact in a double), empty registers contribute 2^33,
    // then the same alpha-scaled integral division as Hll.estimate
    // overlap replayed: per-side registers on the full grid, union =
    // register-wise MAX, the same fixed-point alpha-m estimate
    "q_hll_overlap" -> {
      val mix = duckMix64("(user_id)::HUGEINT")
      val estOf = (ssum: String) =>
        s"CAST((7090::HUGEINT * 4096 * 8589934592) // (($ssum)::HUGEINT * 10000) AS BIGINT)"
      s"""WITH k AS (SELECT DISTINCT event_type, user_id FROM events
         |           WHERE event_type IN ('view', 'click')),
         |h AS (SELECT event_type, $mix AS hh FROM k),
         |b AS (SELECT event_type, CAST(hh // 288230376151711744::HUGEINT AS INT) AS reg,
         |    CAST(hh % 4294967296::HUGEINT AS BIGINT) AS w FROM h),
         |r AS (SELECT event_type, reg,
         |    MAX(CASE WHEN w = 0 THEN 33 ELSE 32 - CAST(floor(log2(w)) AS INT) END) AS rho
         |  FROM b GROUP BY 1, 2),
         |grid AS (SELECT et AS event_type, CAST(g AS INT) AS reg
         |  FROM (VALUES ('view'), ('click')) s(et), range(0, 64) t(g)),
         |regs AS (SELECT grid.event_type, grid.reg, COALESCE(r.rho, 0) AS rho
         |  FROM grid LEFT JOIN r ON grid.event_type = r.event_type AND grid.reg = r.reg),
         |s AS (SELECT event_type, SUM(1::BIGINT << (33 - rho)) AS ssum FROM regs GROUP BY 1),
         |ur AS (SELECT reg, MAX(rho) AS rho FROM regs GROUP BY reg),
         |us AS (SELECT SUM(1::BIGINT << (33 - rho)) AS ssum FROM ur),
         |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersect FROM (
         |  SELECT user_id FROM k WHERE event_type = 'view'
         |  INTERSECT
         |  SELECT user_id FROM k WHERE event_type = 'click') q)
         |SELECT
         |  (SELECT ${estOf("ssum")} FROM s WHERE event_type = 'view') AS est_view,
         |  (SELECT ${estOf("ssum")} FROM s WHERE event_type = 'click') AS est_click,
         |  (SELECT ${estOf("ssum")} FROM us) AS est_union,
         |  GREATEST(0, (SELECT ${estOf("ssum")} FROM s WHERE event_type = 'view')
         |    + (SELECT ${estOf("ssum")} FROM s WHERE event_type = 'click')
         |    - (SELECT ${estOf("ssum")} FROM us)) AS est_intersect,
         |  ex.exact_intersect,
         |  GREATEST(0, (SELECT ${estOf("ssum")} FROM s WHERE event_type = 'view')
         |    + (SELECT ${estOf("ssum")} FROM s WHERE event_type = 'click')
         |    - (SELECT ${estOf("ssum")} FROM us)) * 1000
         |    // (SELECT ${estOf("ssum")} FROM us) AS jaccard_est_permille
         |FROM ex""".stripMargin
    },
    "q_hll" -> {
      val mix = duckMix64("(user_id)::HUGEINT")
      s"""WITH k AS (SELECT DISTINCT event_type, user_id FROM events),
         |h AS (SELECT event_type, $mix AS hh FROM k),
         |b AS (SELECT event_type, CAST(hh // 288230376151711744::HUGEINT AS INT) AS reg,
         |    CAST(hh % 4294967296::HUGEINT AS BIGINT) AS w FROM h),
         |r AS (SELECT event_type, reg,
         |    MAX(CASE WHEN w = 0 THEN 33 ELSE 32 - CAST(floor(log2(w)) AS INT) END) AS rho
         |  FROM b GROUP BY 1, 2),
         |grid AS (SELECT DISTINCT event_type, CAST(g AS INT) AS reg
         |  FROM events, range(0, 64) t(g)),
         |regs AS (SELECT grid.event_type, grid.reg, COALESCE(r.rho, 0) AS rho
         |  FROM grid LEFT JOIN r ON grid.event_type = r.event_type AND grid.reg = r.reg),
         |s AS (SELECT event_type, SUM(1::BIGINT << (33 - rho)) AS ssum FROM regs GROUP BY 1),
         |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
         |    COUNT(DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS n_days
         |  FROM events GROUP BY 1)
         |SELECT ex.event_type, CAST(n_days AS BIGINT) AS n_days,
         |  CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST((7090::HUGEINT * 4096 * 8589934592) // (ssum::HUGEINT * 10000) AS BIGINT) AS n_est
         |FROM ex JOIN s ON ex.event_type = s.event_type
         |ORDER BY ex.event_type""".stripMargin
    },
    // association pairs re-derived with the same ordered self-join
    "q_assoc" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
        |               FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT COUNT(DISTINCT b) AS nb FROM items),
        |ic AS (SELECT i, COUNT(*) AS c FROM items GROUP BY i),
        |p AS (SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS support
        |      FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 20)
        |SELECT item_a, item_b, support,
        |  support * 1000 // ca.c AS conf_ab_permille,
        |  support * nb * 1000 // (ca.c * cb.c) AS lift_permille
        |FROM p JOIN ic ca ON ca.i = p.item_a JOIN ic cb ON cb.i = p.item_b, n
        |ORDER BY item_a, item_b""".stripMargin,
    // seasonality replayed from the same epoch arithmetic
    "q_seasonality" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |cells AS (SELECT event_type, (tus // 86400000000 + 4) % 7 AS dow,
        |    (tus % 86400000000) // 3600000000 AS hour, COUNT(*) AS n
        |  FROM e GROUP BY 1, 2, 3),
        |t AS (SELECT *, SUM(n) OVER (PARTITION BY event_type) AS type_total FROM cells)
        |SELECT event_type, dow, hour, CAST(n AS BIGINT) AS n,
        |  CAST(type_total AS BIGINT) AS type_total,
        |  CAST(n * 168 * 1000 // type_total AS BIGINT) AS lift_permille
        |FROM t ORDER BY event_type, dow, hour""".stripMargin,
    // PSI re-derived: the same histogram-cume decile boundaries, the
    // same sum-of-ge bucketing (correlated count over the 9-row bounds
    // multiset), micro-nat contributions rounded identically
    "q_psi" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |r AS (SELECT vc FROM e WHERE event_type = 'view'),
        |c AS (SELECT vc FROM e WHERE event_type = 'click'),
        |hist AS (SELECT vc AS s, COUNT(*) AS cnt FROM r GROUP BY vc),
        |cum AS (SELECT s, SUM(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cume FROM hist),
        |tot AS (SELECT COUNT(*) AS n FROM r),
        |pms AS (SELECT unnest([100,200,300,400,500,600,700,800,900]) AS p),
        |bounds AS (SELECT p, MIN(s) AS b FROM cum, tot, pms
        |           WHERE cume >= (n * p + 999) // 1000 GROUP BY p),
        |rb AS (SELECT (SELECT COUNT(*) FROM bounds WHERE b <= vc) AS bucket FROM r),
        |cb AS (SELECT (SELECT COUNT(*) FROM bounds WHERE b <= vc) AS bucket FROM c),
        |rc AS (SELECT bucket, COUNT(*) AS ref_n FROM rb GROUP BY bucket),
        |cc AS (SELECT bucket, COUNT(*) AS cur_n FROM cb GROUP BY bucket),
        |j AS (SELECT COALESCE(rc.bucket, cc.bucket) AS bucket,
        |        COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n
        |      FROM rc FULL JOIN cc ON rc.bucket = cc.bucket),
        |t2 AS (SELECT SUM(ref_n) AS rr, SUM(cur_n) AS c2 FROM j)
        |SELECT CAST(bucket AS INT) AS bucket, ref_n, cur_n,
        |  CAST(round(1000000.0 *
        |    ((ref_n + 1.0) / (rr + 10.0) - (cur_n + 1.0) / (c2 + 10.0)) *
        |    (ln((ref_n + 1.0) / (rr + 10.0)) - ln((cur_n + 1.0) / (c2 + 10.0))))
        |    AS BIGINT) AS psi_unats
        |FROM j, t2 ORDER BY bucket""".stripMargin,
    // clamped balance replayed with the same closed form
    "q_inventory" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus,
        |    CASE WHEN event_type = 'signup' THEN CAST(round(value * 100) AS BIGINT)
        |         ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
        |  FROM events WHERE event_type IN ('purchase', 'signup')),
        |p AS (SELECT *, SUM(delta) OVER w AS ps FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING)),
        |b AS (SELECT *, ps - LEAST(0, MIN(ps) OVER w2) AS balance FROM p
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, event_id, tus, delta, CAST(balance AS BIGINT) AS balance
        |FROM b ORDER BY user_id, tus, event_id""".stripMargin,
    // seasonal anomaly replayed: same dow profile, same cross-multiply
    "q_seasonal_anomaly" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |d AS (SELECT event_type, tus // 86400000000 AS day, COUNT(*) AS n
        |      FROM e GROUP BY 1, 2),
        |dd AS (SELECT event_type, day, n, (day + 4) % 7 AS dow FROM d),
        |p AS (SELECT event_type, dow, SUM(n) AS dow_total,
        |        CAST(COUNT(*) AS BIGINT) AS days_dow
        |      FROM dd GROUP BY 1, 2)
        |SELECT dd.event_type, dd.day, dd.dow, CAST(dd.n AS BIGINT) AS n,
        |  CAST(p.dow_total AS BIGINT) AS dow_total, p.days_dow,
        |  abs(dd.n * p.days_dow - p.dow_total) * 4 > p.dow_total AS is_anomaly
        |FROM dd JOIN p ON dd.event_type = p.event_type AND dd.dow = p.dow
        |ORDER BY dd.event_type, dd.day""".stripMargin,
    // trend replayed: identical integer moments, one double division
    "q_trend" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |d AS (SELECT event_type, tus // 86400000000 AS day, COUNT(*) AS cnt
        |      FROM e GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(day) AS sx, SUM(cnt) AS sy,
        |        SUM(day * cnt) AS sxy, SUM(day * day) AS sxx
        |      FROM d GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |       ELSE CAST(round(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
        |            / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT) END AS slope_micro
        |FROM m ORDER BY event_type""".stripMargin,
    // SPRT replayed: the same four plan-time micro-nat constants
    // inlined, exact cumulative-long window walk, first-crossing pick
    "q_sprt" -> {
      val Seq(lpS, lpF, aUp, bLo) =
        graft.pipeline.Stats.sprtConstantsMicro(500, 600, 50, 50)
      s"""WITH e AS (SELECT event_type, event_id,
         |    CASE WHEN CAST(round(value * 100) AS BIGINT) >= 500
         |         THEN CAST($lpS AS BIGINT) ELSE CAST($lpF AS BIGINT) END AS step
         |  FROM events),
         |c AS (SELECT event_type, step,
         |    SUM(step) OVER (PARTITION BY event_type ORDER BY event_id
         |      ROWS UNBOUNDED PRECEDING) AS llr,
         |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
         |  FROM e),
         |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |    MIN(CASE WHEN llr >= $aUp THEN rn END) AS hit1,
         |    MIN(CASE WHEN llr <= $bLo THEN rn END) AS hit0,
         |    CAST(SUM(step) AS BIGINT) AS llr_final_micro
         |  FROM c GROUP BY event_type)
         |SELECT event_type, n,
         |  CASE WHEN hit1 IS NOT NULL AND (hit0 IS NULL OR hit1 < hit0) THEN 'accept_h1'
         |       WHEN hit0 IS NOT NULL THEN 'accept_h0' ELSE 'continue' END AS decision,
         |  CAST(least(hit1, hit0) AS BIGINT) AS decided_at,
         |  llr_final_micro
         |FROM g ORDER BY event_type""".stripMargin
    },
    // Theil-Sen replayed: pairwise slope doubles (one division each),
    // median via the same two-middle-rows window pick
    "q_theil_sen" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |d AS (SELECT event_type, tus // 86400000000 AS day, COUNT(*) AS cnt
        |      FROM e GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |        CAST(b.cnt - a.cnt AS DOUBLE) / (b.day - a.day) AS s
        |      FROM d a JOIN d b ON a.event_type = b.event_type AND b.day > a.day),
        |r AS (SELECT event_type, s,
        |        row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
        |        COUNT(*) OVER (PARTITION BY event_type) AS m
        |      FROM p)
        |SELECT event_type, CAST(MAX(m) AS BIGINT) AS n_pairs,
        |  CAST(round(1e6 * AVG(s)) AS BIGINT) AS ts_slope_micro
        |FROM r WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Benford audit replayed: same string-rendered first digit, same
    // inlined log10(1+1/d) permille constants
    "q_benford" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |           FROM lineitem),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
        |        COUNT(*) AS n
        |      FROM v WHERE cents > 0 GROUP BY 1),
        |t AS (SELECT SUM(n) AS tt FROM d)
        |SELECT digit, n, CAST(n * 1000 // tt AS BIGINT) AS observed_permille,
        |  CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
        |    WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58
        |    WHEN 8 THEN 51 ELSE 46 END AS BIGINT) AS expected_permille,
        |  CAST(n * 1000 // tt - (CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176
        |    WHEN 3 THEN 125 WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67
        |    WHEN 7 THEN 58 WHEN 8 THEN 51 ELSE 46 END) AS BIGINT) AS deviation_permille
        |FROM d, t ORDER BY digit""".stripMargin,
    // CUSUM replayed with the same closed form: prefix sums of the
    // drift-adjusted deltas minus their running min, two windows
    "q_cusum" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |d AS (SELECT event_type, tus // 86400000000 AS day, COUNT(*) AS x
        |      FROM e GROUP BY 1, 2),
        |p AS (SELECT event_type, day, x,
        |    SUM(x - 70) OVER w AS ph, SUM(60 - x) OVER w AS pl
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING))
        |SELECT event_type, day, CAST(x AS BIGINT) AS x,
        |  CAST(ph - LEAST(0, MIN(ph) OVER w) AS BIGINT) AS cusum_hi,
        |  CAST(pl - LEAST(0, MIN(pl) OVER w) AS BIGINT) AS cusum_lo,
        |  (ph - LEAST(0, MIN(ph) OVER w)) > 40 OR
        |    (pl - LEAST(0, MIN(pl) OVER w)) > 40 AS is_change
        |FROM p WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)
        |ORDER BY event_type, day""".stripMargin,
    // the division-free z-gate replayed verbatim in BIGINT
    "q_anomaly" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |g AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS grp_n,
        |    SUM(vc) AS s, SUM(vc * vc) AS ssq FROM e GROUP BY 1, 2)
        |SELECT event_id, e.user_id, e.event_type, vc, grp_n,
        |  CAST((grp_n * vc - s) * (grp_n * vc - s) AS BIGINT) AS dev2,
        |  CAST(grp_n * ssq - s * s AS BIGINT) AS var_n2
        |FROM e JOIN g USING (user_id, event_type)
        |WHERE (grp_n * vc - s) * (grp_n * vc - s) > 4 * (grp_n * ssq - s * s)
        |ORDER BY event_id""".stripMargin,
    // the blocked ED-1 join replayed as a plain Levenshtein theta-join
    // (fine at oracle scale; the Spark side must never plan this shape)
    "q_fuzzy_join" ->
      """WITH vocab AS (SELECT DISTINCT tok
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) >= 4),
        |noisy AS (SELECT DISTINCT substr(tok, 1, 1) || substr(tok, 3) AS q FROM vocab)
        |SELECT q, tok FROM noisy JOIN vocab ON levenshtein(q, tok) <= 1
        |ORDER BY q, tok""".stripMargin,
    "q_bpe_pairs" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |pairs AS (SELECT substr(tok, CAST(i AS INT), 2) AS pair
        |  FROM toks, unnest(range(1, length(tok))) u(i) WHERE length(tok) >= 2)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 40""".stripMargin,
    // recall@3 audit: the IVF oracle's top-3 left-joined to the brute
    // top-3 ground truth, matches counted per query
    "q_knn_recall" -> {
      s"""WITH ${duckLloydCtes(k = 16, iters = 10)},
         |asg AS MATERIALIZED (SELECT vv.vec_id, vv.v,
         |  (SELECT c.cell FROM c10 c ORDER BY list_distance(vv.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM vv),
         |probes AS (SELECT * FROM (
         |    SELECT a.vec_id AS query_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY -list_dot_product(a.v, c.centroid), c.cell) AS prank
         |    FROM asg a CROSS JOIN c10 c) WHERE prank <= 4),
         |cand AS (SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
         |  FROM probes p JOIN asg n ON n.cell = p.cell AND n.vec_id <> p.query_id),
         |isims AS (SELECT c.query_id, c.neighbor_id,
         |  CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0 THEN 0.0
         |       ELSE list_dot_product(a.v, b.v)
         |            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
         |  FROM cand c JOIN vv a ON a.vec_id = c.query_id JOIN vv b ON b.vec_id = c.neighbor_id),
         |ir AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM isims),
         |ivf AS (SELECT query_id, neighbor_id FROM ir WHERE rank <= 3),
         |e2 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vv),
         |bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |        CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
         |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS sim
         |      FROM e2 a, e2 b WHERE a.vec_id <> b.vec_id),
         |br AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM bp),
         |truth AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 3)
         |SELECT t.query_id, CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits,
         |  CAST(COUNT(*) AS BIGINT) AS k
         |FROM truth t LEFT JOIN ivf i
         |  ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
    },
    // per-column profile as a UNION ALL of single-column aggregates
    "q_profile" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_returnflag", "l_linestatus")
      cols.map { c =>
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT($c) AS BIGINT) AS n_non_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_value,
           |  CAST(MAX($c) AS VARCHAR) AS max_value FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "q_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cd FROM act GROUP BY 1)
        |SELECT strftime(cd, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', cd, day) AS INTEGER) AS day_offset,
        |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
        |FROM act a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // bloom prefiltering must be invisible: the oracle is the PLAIN
    // filtered join (false positives die in the exact join)
    "q_bloom_join" ->
      """SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey < 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // blocked exact-Levenshtein pairs; the hot-block cut is replayed
    "q_edit_dedup" ->
      """WITH d AS (SELECT doc_id, text, substr(text, 1, 16) AS blk FROM documents),
        |hot AS (SELECT blk FROM d GROUP BY blk HAVING COUNT(*) > 64),
        |c AS (SELECT * FROM d WHERE blk NOT IN (SELECT blk FROM hot))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
        |FROM c a JOIN c b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 10
        |ORDER BY id_a, id_b""".stripMargin,
    "q_ntile" ->
      """WITH d AS (SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT event_type, rev,
        |    ntile(10) OVER (PARTITION BY event_type ORDER BY rev, day) AS decile
        |  FROM d)
        |SELECT event_type, CAST(decile AS INTEGER) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_days, MIN(rev) AS lo, MAX(rev) AS hi
        |FROM n GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_shuffle_order" ->
      """WITH s AS (SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS shuffle_key
        |  FROM documents ORDER BY shuffle_key, doc_id LIMIT 100)
        |SELECT doc_id, CAST(shuffle_key AS BIGINT) AS shuffle_key,
        |  CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS INTEGER) AS position
        |FROM s ORDER BY position""".stripMargin,
    // the z-order layout must be invisible to rows: the oracle is the
    // same predicate over the ORIGINAL table
    "q_zorder_prune" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 299 AND l_suppkey BETWEEN 10 AND 39""".stripMargin,
    // hilbert layout: the re-read aggregate is layout-invariant, so the
    // oracle is the same direct filtered aggregate
    "q_hilbert_layout" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 299 AND l_suppkey BETWEEN 10 AND 39""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |p AS (SELECT event_type AS next_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev_type
        |  FROM e)
        |SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_skew_report" ->
      """WITH g AS (SELECT l_partkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
        |t AS (SELECT COUNT(*) AS total FROM lineitem)
        |SELECT l_partkey, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000 // total AS BIGINT) AS share_permille
        |FROM g, t ORDER BY n DESC, l_partkey LIMIT 10""".stripMargin,
    "q_gaps" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus FROM events),
        |g AS (SELECT user_id,
        |  tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS gap
        |  FROM e)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(MIN(gap) AS BIGINT) AS min_gap, CAST(MAX(gap) AS BIGINT) AS max_gap,
        |  CAST(SUM(gap) AS BIGINT) AS sum_gap
        |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_triangles" ->
      """WITH s AS (SELECT l_orderkey, l_partkey AS pk,
        |    lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY
        |      l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS nxt
        |  FROM lineitem),
        |e AS (SELECT DISTINCT least(pk, nxt) AS lo, greatest(pk, nxt) AS hi
        |  FROM s WHERE nxt IS NOT NULL AND pk <> nxt)
        |SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |FROM e e1 JOIN e e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
        |  JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_overlap_join" ->
      """WITH li AS (SELECT l_partkey AS k,
        |    l_orderkey * 10 + l_linenumber AS lid, l_linenumber AS ln,
        |    epoch_ns(l_shipdate) // 1000 // 86400000000 AS sd,
        |    epoch_ns(l_shipdate) // 1000 // 86400000000
        |      + CAST(l_quantity AS BIGINT) AS ed
        |  FROM lineitem),
        |a AS (SELECT k, lid AS id_a, sd AS s_a, ed AS e_a FROM li WHERE ln % 2 = 1),
        |b AS (SELECT k, lid AS id_b, sd AS s_b, ed AS e_b FROM li WHERE ln % 2 = 0)
        |SELECT a.k, id_a, id_b,
        |  CAST(least(e_a, e_b) - greatest(s_a, s_b) + 1 AS BIGINT) AS overlap_days
        |FROM a JOIN b ON a.k = b.k AND s_a <= e_b AND s_b <= e_a
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS vc, epoch_ns(ts) // 1000 AS tus
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, event_id, vc, tus AS valid_from_us,
        |  lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS valid_to_us
        |FROM e ORDER BY user_id, valid_from_us, event_id""".stripMargin,
    "q_sequences" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS tus FROM events)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  string_agg(event_type, ',' ORDER BY tus, event_id) AS journey
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_inverted_index" ->
      """WITH p AS (SELECT DISTINCT doc_id, tok FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) >= 4),
        |g AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM p
        |  GROUP BY 1 HAVING count(*) >= 20),
        |r AS (SELECT tok, doc_id,
        |  row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn FROM p)
        |SELECT g.tok, g.df, CAST(r.rn - 1 AS INT) AS pos, r.doc_id
        |FROM g JOIN r ON g.tok = r.tok AND r.rn <= 20
        |ORDER BY g.tok, pos""".stripMargin,
    "q_hits" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 100000 AS dst
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |n AS (SELECT DISTINCT node FROM
        |    (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |ind AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS indeg FROM e GROUP BY 1),
        |a1r AS (SELECT n.node, coalesce(indeg, 0) * 1000000 AS raw
        |  FROM n LEFT JOIN ind USING (node)),
        |a1 AS (SELECT node, CAST(raw * 1000000
        |    // greatest((SELECT max(raw) FROM a1r), 1) AS BIGINT) AS auth FROM a1r),
        |h1j AS (SELECT e.src AS node, sum(a1.auth) AS raw
        |  FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
        |h1r AS (SELECT n.node, coalesce(h1j.raw, 0) AS raw FROM n LEFT JOIN h1j USING (node)),
        |h1 AS (SELECT node, CAST(raw * 1000000
        |    // greatest((SELECT max(raw) FROM h1r), 1) AS BIGINT) AS hub FROM h1r),
        |a2j AS (SELECT e.dst AS node, sum(h1.hub) AS raw
        |  FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
        |a2r AS (SELECT n.node, coalesce(a2j.raw, 0) AS raw FROM n LEFT JOIN a2j USING (node)),
        |a2 AS (SELECT node, CAST(raw * 1000000
        |    // greatest((SELECT max(raw) FROM a2r), 1) AS BIGINT) AS auth FROM a2r),
        |h2j AS (SELECT e.src AS node, sum(a2.auth) AS raw
        |  FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
        |h2r AS (SELECT n.node, coalesce(h2j.raw, 0) AS raw FROM n LEFT JOIN h2j USING (node)),
        |h2 AS (SELECT node, CAST(raw * 1000000
        |    // greatest((SELECT max(raw) FROM h2r), 1) AS BIGINT) AS hub FROM h2r)
        |SELECT h2.node, h2.hub, a2.auth FROM h2 JOIN a2 USING (node)
        |ORDER BY node""".stripMargin,
    "q_dedup_keep_best" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id - 10000, upper(text) || ' !!! ;;; ???'
        |  FROM documents),
        |d AS (SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g'))) AS canon_hash,
        |  ((LEAST(CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) * 0.4)
        |   + ((CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / LEN(string_split(text, ' '))) * 0.4))
        |   + ((1.0 - CAST(LENGTH(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
        |       / LENGTH(text)) * 0.2) AS q
        |  FROM u),
        |r AS (SELECT canon_hash, doc_id,
        |  row_number() OVER (PARTITION BY canon_hash ORDER BY q DESC, doc_id) AS rn
        |  FROM d),
        |g AS (SELECT canon_hash, CAST(count(*) AS BIGINT) AS cnt, max(q) AS best_q
        |  FROM d GROUP BY 1)
        |SELECT g.canon_hash, g.cnt, r.doc_id AS keep_id, g.best_q
        |FROM g JOIN r ON g.canon_hash = r.canon_hash AND r.rn = 1
        |ORDER BY 1""".stripMargin,
    "q_crawl_schedule" ->
      """WITH d AS (SELECT doc_id, source || '.example.com' AS host,
        |  ((LEAST(CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) * 0.4)
        |   + ((CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / LEN(string_split(text, ' '))) * 0.4))
        |   + ((1.0 - CAST(LENGTH(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
        |       / LENGTH(text)) * 0.2) AS q
        |  FROM documents)
        |SELECT doc_id, host,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY q DESC, doc_id) AS INT) AS slot,
        |  CAST((row_number() OVER (PARTITION BY host ORDER BY q DESC, doc_id) - 1)
        |    * 500000 AS BIGINT) AS fetch_at_us
        |FROM d ORDER BY host, slot""".stripMargin,
    "q_best_per_source" ->
      """WITH d AS (SELECT doc_id, source,
        |  ((LEAST(CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) * 0.4)
        |   + ((CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / LEN(string_split(text, ' '))) * 0.4))
        |   + ((1.0 - CAST(LENGTH(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
        |       / LENGTH(text)) * 0.2) AS q
        |  FROM documents)
        |SELECT source, CAST(rn AS INT) AS rank, doc_id, q FROM
        |  (SELECT source, doc_id, q,
        |    row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn
        |   FROM d)
        |WHERE rn <= 3 ORDER BY source, rank""".stripMargin,
    "q_median_daily" ->
      """WITH drev AS (SELECT event_type,
        |    strftime(ts, '%Y-%m-%d') AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS rev
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, rev,
        |  row_number() OVER (PARTITION BY event_type ORDER BY rev) AS rn FROM drev),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM drev GROUP BY 1)
        |SELECT n.event_type, n.n_days, CAST(r.rev AS BIGINT) AS median_rev
        |FROM n JOIN r ON r.event_type = n.event_type AND r.rn = (n.n_days + 1) // 2
        |ORDER BY 1""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, CAST(count(k) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k, CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cdc_apply" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS vc, epoch_ns(ts) // 1000 AS tus
        |  FROM events),
        |snap AS (SELECT user_id, vc FROM
        |  (SELECT user_id, vc, row_number() OVER
        |     (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |   FROM e WHERE event_id % 2 = 0) WHERE rn = 1),
        |latest AS (SELECT user_id, vc, op FROM
        |  (SELECT user_id, vc, CASE WHEN vc < 1000 THEN 'D' ELSE 'U' END AS op,
        |     row_number() OVER
        |       (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |   FROM e WHERE event_id % 2 = 1) WHERE rn = 1)
        |SELECT coalesce(l.user_id, s.user_id) AS user_id,
        |  CASE WHEN l.op IS NOT NULL THEN l.vc ELSE s.vc END AS vc
        |FROM snap s FULL OUTER JOIN latest l ON s.user_id = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY 1""".stripMargin,
    "q_label_separation" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, label, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS m0 FROM e),
        |c AS (SELECT vec_id, label, list_transform(v, x ->
        |  CAST(round(x / (CASE WHEN m0 = 0 THEN 1.0 ELSE m0 END)) AS BIGINT)) AS codes
        |  FROM m),
        |d0 AS (SELECT label, unnest(range(1, 1 + len(codes))) AS dd, codes FROM c),
        |d AS (SELECT label, dd, CAST(sum(codes[CAST(dd AS INT)]) AS BIGINT) AS s
        |  FROM d0 GROUP BY 1, 2),
        |sv AS (SELECT label, list(s ORDER BY dd) AS sv FROM d GROUP BY 1),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
        |lv AS (SELECT sv.label, n.n, sv.sv FROM sv JOIN n USING (label))
        |SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 1 + len(a.sv)),
        |      dd -> a.sv[CAST(dd AS INT)] * b.sv[CAST(dd AS INT)])),
        |    (x, y) -> x + y) AS BIGINT) AS dot_ss
        |FROM lv a JOIN lv b ON a.label <= b.label
        |ORDER BY 1, 2""".stripMargin,
    "q_dedup_best" ->
      """WITH RECURSIVE docs0 AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 5 = 0),
        |vars AS (
        |  SELECT doc_id * 3 + 2 AS id, source, t FROM docs0
        |  UNION ALL
        |  SELECT doc_id * 3 + 1, source, t[1:(LEN(t) * 4) // 5] FROM docs0
        |  UNION ALL
        |  SELECT doc_id * 3, source, t[1:(((LEN(t) * 4) // 5) * 4) // 5] FROM docs0),
        |vtext AS (SELECT id, source, array_to_string(t, ' ') AS text, t FROM vars),
        |grams AS (SELECT DISTINCT source AS blk, id,
        |  unnest([array_to_string(t[i:i+2], ' ') FOR i IN range(1, GREATEST(LEN(t) - 1, 2))]) AS gram
        |  FROM vtext),
        |sizes AS (SELECT blk, id, CAST(COUNT(*) AS DOUBLE) AS sz FROM grams GROUP BY blk, id),
        |common AS (SELECT a.blk AS blk, a.id AS a_id, b.id AS b_id, CAST(COUNT(*) AS DOUBLE) AS c
        |           FROM grams a JOIN grams b ON a.blk = b.blk AND a.gram = b.gram AND a.id < b.id
        |           GROUP BY a.blk, a.id, b.id),
        |near AS (SELECT a_id, b_id FROM common
        |         JOIN sizes sa ON sa.blk = common.blk AND sa.id = common.a_id
        |         JOIN sizes sb ON sb.blk = common.blk AND sb.id = common.b_id
        |         WHERE c / (sa.sz + sb.sz - c) >= 0.7),
        |exact AS (SELECT x.id AS a_id, y.id AS b_id FROM vtext x JOIN vtext y
        |          ON x.text = y.text AND x.id < y.id),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM near
        |          UNION SELECT b_id, a_id FROM near
        |          UNION SELECT a_id, b_id FROM exact
        |          UNION SELECT b_id, a_id FROM exact),
        |reach AS (
        |  SELECT id, id AS r FROM vtext
        |  UNION
        |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
        |pr AS (SELECT v.id, comp.comp, CAST(LEN(v.t) AS BIGINT) AS p
        |  FROM vars v JOIN comp ON comp.id = v.id),
        |k AS (SELECT comp, id AS keep_id FROM
        |  (SELECT comp, id, row_number() OVER
        |     (PARTITION BY comp ORDER BY p DESC, id) AS rn FROM pr)
        |  WHERE rn = 1)
        |SELECT pr.id, k.keep_id, k.keep_id <> pr.id AS is_duplicate
        |FROM pr JOIN k USING (comp) ORDER BY pr.id""".stripMargin,
    "q_priority_sample" ->
      s"""WITH p AS (SELECT doc_id, n_chars,
         |  CAST((${duckMix64("doc_id::HUGEINT")} % 9223372036854775808::HUGEINT)
         |    // greatest(n_chars, 1) AS BIGINT) AS priority
         |  FROM documents)
         |SELECT doc_id, n_chars, priority FROM p
         |ORDER BY priority, doc_id LIMIT 50""".stripMargin,
    // path blocklist re-derived: the theta join over segment-sliced
    // prefixes (oracle-scale), deepest rule via struct max
    "q_path_block" ->
      """WITH urls AS (SELECT doc_id,
        |    '/cat' || CAST(doc_id % 7 AS VARCHAR) || '/sub' ||
        |    CAST(doc_id % 13 AS VARCHAR) || '/page' || CAST(doc_id AS VARCHAR) AS path
        |  FROM documents),
        |rules AS (SELECT prefix, MIN(p_partkey) AS rule_id FROM (
        |  SELECT p_partkey, CASE WHEN p_partkey % 2 = 0
        |    THEN '/cat' || CAST(p_partkey % 7 AS VARCHAR)
        |    ELSE '/cat' || CAST(p_partkey % 7 AS VARCHAR) || '/sub' ||
        |         CAST(p_partkey % 13 AS VARCHAR) END AS prefix
        |  FROM part) p0 GROUP BY prefix),
        |cand AS (SELECT u.doc_id,
        |    CAST(len(string_split(r.prefix, '/')) - 1 AS INT) AS d, r.rule_id
        |  FROM urls u JOIN rules r
        |    ON r.prefix = array_to_string(list_slice(string_split(u.path, '/'),
        |         1, len(string_split(r.prefix, '/'))), '/')),
        |win AS (SELECT doc_id, max(struct_pack(d := d, rule_id := rule_id)) AS w
        |  FROM cand GROUP BY doc_id)
        |SELECT u.doc_id, u.path, w.w.d AS matched_depth, w.w.rule_id AS rule_id
        |FROM urls u LEFT JOIN win w ON u.doc_id = w.doc_id
        |ORDER BY u.doc_id""".stripMargin,
    // CIDR longest-prefix re-derived with a theta join (fine at oracle
    // scale) + struct-max winner; all-integer Knuth hash on both sides
    "q_cidr_join" ->
      """WITH ips AS (SELECT DISTINCT user_id,
        |    (user_id * 2654435761) % 4294967296 AS ip32 FROM events),
        |rules0 AS (SELECT c_custkey,
        |    (c_custkey * 2654435761) % 4294967296 AS rip,
        |    CAST(8 + (c_custkey % 3) * 8 AS INT) AS plen FROM customer),
        |rules AS (SELECT plen, rip >> (32 - plen) AS prefix,
        |    MIN(c_custkey) AS rule_id FROM rules0 GROUP BY 1, 2),
        |cand AS (SELECT i.user_id, i.ip32, r.plen, r.rule_id
        |  FROM ips i JOIN rules r ON r.prefix = i.ip32 >> (32 - r.plen)),
        |win AS (SELECT user_id, max(struct_pack(len := plen, rule_id := rule_id)) AS w
        |  FROM cand GROUP BY user_id)
        |SELECT i.user_id, i.ip32, w.w.len AS matched_len, w.w.rule_id AS rule_id
        |FROM ips i LEFT JOIN win w ON i.user_id = w.user_id
        |ORDER BY i.user_id""".stripMargin,
    "q_band_join" ->
      """WITH p AS (SELECT p_brand AS brand, p_partkey,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS cents FROM part),
        |a AS (SELECT brand, p_partkey AS id_a, cents AS c_a FROM p WHERE p_partkey % 2 = 0),
        |b AS (SELECT brand, p_partkey AS id_b, cents AS c_b FROM p WHERE p_partkey % 2 = 1)
        |SELECT a.brand, id_a, id_b, c_a - c_b AS diff_cents
        |FROM a JOIN b ON a.brand = b.brand AND abs(c_a - c_b) <= 50
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_image_ahash" ->
      """WITH g AS (SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 11 + 1 AS h
        |  FROM documents),
        |cells AS (SELECT doc_id, w, h, unnest(range(0, 64)) AS k FROM g),
        |c2 AS (SELECT doc_id, k,
        |  ((k % 8) * w) // 8 AS sx, ((k // 8) * h) // 8 AS sy FROM cells),
        |gr AS (SELECT doc_id, k,
        |  ((sx * 7 + sy * 13 + doc_id * 3) % 256
        |   + (sx * 7 + sy * 13 + doc_id * 3 + 31) % 256
        |   + (sx * 7 + sy * 13 + doc_id * 3 + 62) % 256) // 3 AS gray
        |  FROM c2),
        |mh AS (SELECT doc_id, CAST(sum(gray) AS BIGINT) // 64 AS mean
        |  FROM gr GROUP BY 1),
        |hb AS (SELECT gr.doc_id,
        |  sum(CASE WHEN gray > mean
        |    THEN (1::HUGEINT << CAST(k AS INT)) ELSE 0::HUGEINT END) AS uh
        |  FROM gr JOIN mh ON gr.doc_id = mh.doc_id GROUP BY 1),
        |sh AS (SELECT doc_id,
        |  CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT
        |    THEN uh - 18446744073709551616::HUGEINT ELSE uh END AS BIGINT) AS ahash
        |  FROM hb)
        |SELECT doc_id, ahash, CAST(bit_count(ahash) AS INT) AS bits,
        |  CAST(bit_count(xor(ahash, lead(ahash) OVER
        |    (PARTITION BY doc_id // 1000 ORDER BY doc_id))) AS INT)
        |    AS hamming_next
        |FROM sh ORDER BY doc_id""".stripMargin,
    "q_image_dedup" ->
      """WITH g AS (SELECT doc_id, vv AS v, doc_id % 13 + 1 AS w, doc_id % 11 + 1 AS h
        |  FROM documents, unnest([0, 1]) AS t(vv) WHERE doc_id % 5 = 0),
        |cells AS (SELECT doc_id, v, w, h, unnest(range(0, 64)) AS k FROM g),
        |c2 AS (SELECT doc_id, v, k,
        |  ((k % 8) * w) // 8 AS sx, ((k // 8) * h) // 8 AS sy FROM cells),
        |gr AS (SELECT doc_id, v, k,
        |  ((sx * 7 + sy * 13 + doc_id * 3 + nz) % 256
        |   + (sx * 7 + sy * 13 + doc_id * 3 + nz + 31) % 256
        |   + (sx * 7 + sy * 13 + doc_id * 3 + nz + 62) % 256) // 3 AS gray
        |  FROM (SELECT *, CASE WHEN v = 1 AND sx = 0 AND sy = 0 THEN 8 ELSE 0 END AS nz
        |        FROM c2)),
        |mh AS (SELECT doc_id, v, CAST(sum(gray) AS BIGINT) // 64 AS mean
        |  FROM gr GROUP BY 1, 2),
        |hb AS (SELECT gr.doc_id, gr.v,
        |  sum(CASE WHEN gray > mean
        |    THEN (1::HUGEINT << CAST(k AS INT)) ELSE 0::HUGEINT END) AS uh
        |  FROM gr JOIN mh ON gr.doc_id = mh.doc_id AND gr.v = mh.v GROUP BY 1, 2),
        |sh AS (SELECT doc_id * 2 + v AS id,
        |  CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT
        |    THEN uh - 18446744073709551616::HUGEINT ELSE uh END AS BIGINT) AS ahash
        |  FROM hb),
        |chunks AS (SELECT id, ahash, ci, (ahash >> (ci * 16)) & 65535 AS ck
        |  FROM sh, unnest([0, 1, 2, 3]) AS t(ci)),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
        |  FROM chunks a JOIN chunks b
        |    ON a.ci = b.ci AND a.ck = b.ck AND a.id < b.id)
        |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 6
        |ORDER BY 1, 2""".stripMargin,
    // e2e multimodal replayed: the q_image_dedup hash CTEs with the
    // >= 20 px decode gate folded into the corpus, near-dup larger ids
    // anti-joined away, then the q_e2e_curation mix64 packing CTEs over
    // pixel counts (capacity 512, 4 shards)
    "q_e2e_multimodal" ->
      s"""WITH g AS (SELECT doc_id, vv AS v, doc_id % 13 + 1 AS w, doc_id % 11 + 1 AS h
         |  FROM documents, unnest([0, 1]) AS t(vv)
         |  WHERE doc_id % 5 = 0 AND (doc_id % 13 + 1) * (doc_id % 11 + 1) >= 20),
         |cells AS (SELECT doc_id, v, w, h, unnest(range(0, 64)) AS k FROM g),
         |c2 AS (SELECT doc_id, v, k,
         |  ((k % 8) * w) // 8 AS sx, ((k // 8) * h) // 8 AS sy FROM cells),
         |gr AS (SELECT doc_id, v, k,
         |  ((sx * 7 + sy * 13 + doc_id * 3 + nz) % 256
         |   + (sx * 7 + sy * 13 + doc_id * 3 + nz + 31) % 256
         |   + (sx * 7 + sy * 13 + doc_id * 3 + nz + 62) % 256) // 3 AS gray
         |  FROM (SELECT *, CASE WHEN v = 1 AND sx = 0 AND sy = 0 THEN 8 ELSE 0 END AS nz
         |        FROM c2)),
         |mh AS (SELECT doc_id, v, CAST(sum(gray) AS BIGINT) // 64 AS mean
         |  FROM gr GROUP BY 1, 2),
         |hb AS (SELECT gr.doc_id, gr.v,
         |  sum(CASE WHEN gray > mean
         |    THEN (1::HUGEINT << CAST(k AS INT)) ELSE 0::HUGEINT END) AS uh
         |  FROM gr JOIN mh ON gr.doc_id = mh.doc_id AND gr.v = mh.v GROUP BY 1, 2),
         |sh AS (SELECT hb.doc_id * 2 + hb.v AS id,
         |  CAST(g.w * g.h AS BIGINT) AS px,
         |  CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT
         |    THEN uh - 18446744073709551616::HUGEINT ELSE uh END AS BIGINT) AS ahash
         |  FROM hb JOIN g ON hb.doc_id = g.doc_id AND hb.v = g.v),
         |chunks AS (SELECT id, ahash, ci, (ahash >> (ci * 16)) & 65535 AS ck
         |  FROM sh, unnest([0, 1, 2, 3]) AS t(ci)),
         |dup AS (SELECT DISTINCT id_b AS id
         |  FROM (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |      a.ahash AS h_a, b.ahash AS h_b
         |    FROM chunks a JOIN chunks b
         |      ON a.ci = b.ci AND a.ck = b.ck AND a.id < b.id) p
         |  WHERE bit_count(xor(h_a, h_b)) <= 6),
         |sv AS (SELECT id, px FROM sh WHERE id NOT IN (SELECT id FROM dup)),
         |hh AS (SELECT id, px, ${duckToSigned(duckMix64("id::HUGEINT"))} AS hh FROM sv),
         |shd AS (SELECT id, px, hh, CAST(((hh % 4) + 4) % 4 AS INTEGER) AS shard FROM hh),
         |pk AS (SELECT shard, px,
         |    COALESCE(SUM(px) OVER (PARTITION BY shard ORDER BY hh, id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
         |  FROM shd)
         |SELECT shard, CAST(start_offset // 512 AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS INTEGER) AS n_docs, CAST(SUM(px) AS BIGINT) AS bin_tokens
         |FROM pk GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    "q_gap_fill" ->
      """WITH drev AS (SELECT event_type,
        |    epoch_ns(ts) // 1000 // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS rev
        |  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 25000
        |  GROUP BY 1, 2),
        |b AS (SELECT event_type, min(day) AS lo, max(day) AS hi FROM drev GROUP BY 1),
        |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day FROM b),
        |j AS (SELECT s.event_type, s.day, d.rev
        |  FROM spine s LEFT JOIN drev d ON s.event_type = d.event_type AND s.day = d.day)
        |SELECT event_type, day, CAST(rev AS BIGINT) AS rev,
        |  CAST(last_value(rev IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rev_filled
        |FROM j ORDER BY 1, 2""".stripMargin,
    "q_interval_union" ->
      """WITH sp AS (SELECT user_id, epoch_ns(ts) // 1000 AS s,
        |    epoch_ns(ts) // 1000 + CAST(round(value * 1000000) AS BIGINT) AS e
        |  FROM events),
        |wm AS (SELECT user_id, s, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM sp)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(e - s) AS BIGINT) AS span_sum,
        |  CAST(sum(greatest(0, e - greatest(s, coalesce(pm, s)))) AS BIGINT) AS covered
        |FROM wm GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_twap" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS vc, epoch_ns(ts) // 1000 AS tus
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, vc, tus AS f,
        |  lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS t FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_closed,
        |  CAST(sum(t - f) AS BIGINT) AS dur_us,
        |  CAST(sum(vc * (t - f)) // sum(t - f) AS BIGINT) AS twap_cents
        |FROM v WHERE t IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_segment_lm_filter" ->
      """WITH nd AS (SELECT doc_id, text || CASE WHEN doc_id % 3 = 0 THEN
        |    ' g' || doc_id || 'x0 g' || doc_id || 'x1 g' || doc_id || 'x2 g' ||
        |    doc_id || 'x3 g' || doc_id || 'x4 g' || doc_id || 'x5 g' ||
        |    doc_id || 'x6 g' || doc_id || 'x7' ELSE '' END AS text FROM documents),
        |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM nd),
        |grams AS (SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)] AS gram
        |  FROM d, unnest(range(1, len(toks))) u(i)),
        |model AS (SELECT gram, count(*) AS cnt FROM grams GROUP BY 1),
        |e AS (SELECT doc_id, toks,
        |  unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS seg_id FROM d),
        |segs AS (SELECT doc_id, seg_id,
        |  toks[(seg_id * 8 + 1):(seg_id * 8 + 8)] AS st FROM e),
        |sg AS (SELECT doc_id, seg_id, st[CAST(i AS INT)] || ' ' || st[CAST(i + 1 AS INT)] AS gram
        |  FROM segs, unnest(range(1, len(st))) u(i)),
        |j AS (SELECT s.doc_id, s.seg_id, count(*) AS n,
        |    sum(CASE WHEN m.cnt <= 1 THEN 1 ELSE 0 END) AS r
        |  FROM sg s JOIN model m USING (gram) GROUP BY 1, 2),
        |kept AS (SELECT segs.doc_id, segs.seg_id, array_to_string(st, ' ') AS seg
        |  FROM segs LEFT JOIN j ON segs.doc_id = j.doc_id AND segs.seg_id = j.seg_id
        |  WHERE coalesce(r * 1000 // n, 0) <= 500),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_id) AS clean_text
        |  FROM kept GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(ceil(len(toks) / 8.0) AS INT) AS n_segments FROM d)
        |SELECT t.doc_id AS id, COALESCE(a.clean_text, '') AS clean_text,
        |  t.n_segments, CAST(t.n_segments - COALESCE(a.n_kept, 0) AS INT) AS n_dropped
        |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "q_oov_rate" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM toks
        |  GROUP BY 1 ORDER BY c DESC, tok LIMIT 1000)),
        |j AS (SELECT t.source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM toks t LEFT JOIN v ON t.tok = v.tok)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  CAST(sum(oov) * 1000 // count(*) AS BIGINT) AS oov_permille
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_audio_windows" ->
      """WITH sm AS (SELECT d.doc_id, u.i // 64 AS w,
        |    ((d.doc_id * 31 + u.i * 7) % 65536) - 32768 AS s
        |  FROM documents d, unnest(range(0, 256)) AS u(i)),
        |en AS (SELECT doc_id, w, CAST(sum(s * s) AS BIGINT) AS e
        |  FROM sm GROUP BY 1, 2),
        |pk AS (SELECT doc_id, CAST(count(*) AS INT) AS n_windows,
        |    CAST(sum(e) AS BIGINT) AS total_energy,
        |    CAST(max(e) AS BIGINT) AS peak_energy FROM en GROUP BY 1),
        |pos AS (SELECT en.doc_id, CAST(min(w) + 1 AS INT) AS peak_win
        |  FROM en JOIN pk ON en.doc_id = pk.doc_id AND en.e = pk.peak_energy
        |  GROUP BY 1)
        |SELECT pk.doc_id, n_windows, peak_win, peak_energy, total_energy
        |FROM pk JOIN pos ON pk.doc_id = pos.doc_id ORDER BY 1""".stripMargin,
    // VAD spans replayed: same PCM synth + energy, same integer
    // above-mean gate, same gaps-and-islands merge
    "q_vad" ->
      """WITH sm AS (SELECT d.doc_id, u.i // 64 AS w,
        |    ((d.doc_id * 31 + u.i * 7) % 65536) - 32768 AS s
        |  FROM documents d, unnest(range(0, 256)) AS u(i)),
        |en AS (SELECT doc_id, w, CAST(sum(s * s) AS BIGINT) AS e
        |  FROM sm GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(e) AS te, COUNT(*) AS nw FROM en GROUP BY 1),
        |act AS (SELECT en.doc_id, w, e FROM en JOIN tot USING (doc_id)
        |        WHERE e * nw > te),
        |isl AS (SELECT doc_id, w, e,
        |    w - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w) AS g
        |  FROM act)
        |SELECT doc_id, CAST(MIN(w) AS BIGINT) AS start_w,
        |  CAST(MAX(w) AS BIGINT) AS end_w,
        |  CAST(COUNT(*) AS BIGINT) AS n_active,
        |  CAST(SUM(e) AS BIGINT) AS seg_energy
        |FROM isl GROUP BY doc_id, g ORDER BY doc_id, start_w""".stripMargin,
    // exact discrete quantiles replayed: same histogram, same per-key
    // cume window, same cross-multiplied ceil threshold
    "q_percentiles" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |h AS (SELECT event_type, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cw AS (SELECT event_type, v, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cume,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM h)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cume * 1000 >= n * 500 THEN v END) AS BIGINT) AS p500,
        |  CAST(MIN(CASE WHEN cume * 1000 >= n * 900 THEN v END) AS BIGINT) AS p900,
        |  CAST(MIN(CASE WHEN cume * 1000 >= n * 990 THEN v END) AS BIGINT) AS p990
        |FROM cw GROUP BY 1 ORDER BY 1""".stripMargin,
    // both fixed prune rounds unrolled; the bipartite graph makes
    // least/greatest the identity (custkey < 100000 <= suppkey+100000)
    "q_kcore" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey AS lo, l_suppkey + 100000 AS hi
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |n1 AS (SELECT node, COUNT(*) AS deg FROM
        |    (SELECT lo AS node FROM e0 UNION ALL SELECT hi FROM e0) GROUP BY 1),
        |k1 AS (SELECT node FROM n1 WHERE deg >= 4),
        |e1 AS (SELECT lo, hi FROM e0
        |    WHERE lo IN (SELECT node FROM k1) AND hi IN (SELECT node FROM k1)),
        |n2 AS (SELECT node, COUNT(*) AS deg FROM
        |    (SELECT lo AS node FROM e1 UNION ALL SELECT hi FROM e1) GROUP BY 1),
        |k2 AS (SELECT node FROM n2 WHERE deg >= 4),
        |e2 AS (SELECT lo, hi FROM e1
        |    WHERE lo IN (SELECT node FROM k2) AND hi IN (SELECT node FROM k2))
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
        |    (SELECT lo AS node FROM e2 UNION ALL SELECT hi FROM e2)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_kanonymity" ->
      """WITH q AS (SELECT c_mktsegment, c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer),
        |f AS (SELECT c_mktsegment, c_nationkey, bal_band,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1, 2, 3),
        |co AS (SELECT c_mktsegment, c_nationkey,
        |    CAST(COUNT(*) AS BIGINT) AS n_coarse FROM q GROUP BY 1, 2)
        |SELECT f.c_mktsegment, f.c_nationkey, f.bal_band, f.n, co.n_coarse,
        |  f.n < 5 AS is_risky, co.n_coarse >= 5 AS coarse_ok
        |FROM f JOIN co USING (c_mktsegment, c_nationkey)
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_growth_curve" ->
      """WITH e AS (SELECT event_type, user_id,
        |    epoch_ns(ts) // 1000 // 86400000000 AS day FROM events),
        |f AS (SELECT event_type, user_id, MIN(day) AS fb FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type, fb AS day, CAST(COUNT(*) AS BIGINT) AS new_ids
        |  FROM f GROUP BY 1, 2)
        |SELECT event_type, day, new_ids,
        |  CAST(SUM(new_ids) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ids
        |FROM c ORDER BY 1, 2""".stripMargin,
    "q_calibrate" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |h AS (SELECT source, n_chars, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |m AS (SELECT source, n_chars,
        |    SUM(c) OVER (PARTITION BY source ORDER BY n_chars
        |      ROWS UNBOUNDED PRECEDING) - c AS below,
        |    SUM(c) OVER (PARTITION BY source) AS n FROM h)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  CAST(below * 1000 // n AS BIGINT) AS calib_permille
        |FROM d JOIN m ON d.source = m.source AND d.n_chars = m.n_chars
        |ORDER BY doc_id""".stripMargin,
    // entropy replayed with the same left-assoc double chain and the
    // same per-term micro-nat round-then-sum
    "q_token_entropy" ->
      """WITH t AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT id, tok, COUNT(*) AS c FROM t WHERE tok <> '' GROUP BY 1, 2),
        |n AS (SELECT id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_unique FROM c GROUP BY 1)
        |SELECT c.id, n.n_tokens, n.n_unique,
        |  CAST(SUM(CAST(round(1000000.0 * c / n_tokens
        |    * ln(CAST(n_tokens AS DOUBLE) / c)) AS BIGINT)) AS BIGINT)
        |    AS entropy_unats
        |FROM c JOIN n USING (id) GROUP BY 1, 2, 3 ORDER BY id""".stripMargin,
    "q_reconcile" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |ls AS (SELECT l_orderkey,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS child_sum,
        |    CAST(COUNT(*) AS BIGINT) AS n_children
        |  FROM lineitem GROUP BY 1),
        |a AS (SELECT o.o_orderstatus, o.cents,
        |    COALESCE(ls.child_sum, 0) AS child_sum,
        |    COALESCE(ls.n_children, 0) AS n_children,
        |    o.cents - COALESCE(ls.child_sum, 0) AS diff
        |  FROM o LEFT JOIN ls ON o.o_orderkey = ls.l_orderkey)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN diff <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |  CAST(SUM(CASE WHEN n_children = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_childless,
        |  CAST(SUM(abs(diff)) AS BIGINT) AS sum_abs_diff,
        |  CAST(MAX(abs(diff)) AS BIGINT) AS max_abs_diff
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same histogram-cume discrete percentiles, clamped
    "q_winsorize" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |h AS (SELECT event_type, vc AS v, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cw AS (SELECT event_type, v, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cume,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM h),
        |b AS (SELECT event_type,
        |    CAST(MIN(CASE WHEN cume * 1000 >= n * 10 THEN v END) AS BIGINT) AS lo,
        |    CAST(MIN(CASE WHEN cume * 1000 >= n * 990 THEN v END) AS BIGINT) AS hi
        |  FROM cw GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.vc,
        |  greatest(least(e.vc, b.hi), b.lo) AS vc_w
        |FROM e JOIN b USING (event_type) ORDER BY event_id""".stripMargin,
    // median + MAD replayed with two of the same histogram passes
    "q_robust_anomaly" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |h1 AS (SELECT event_type, vc AS v, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |c1 AS (SELECT event_type, v, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cume,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM h1),
        |md AS (SELECT event_type,
        |    CAST(MIN(CASE WHEN cume * 1000 >= n * 500 THEN v END) AS BIGINT) AS med
        |  FROM c1 GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, e.vc, md.med,
        |    abs(e.vc - md.med) AS abs_dev FROM e JOIN md USING (event_type)),
        |h2 AS (SELECT event_type, abs_dev AS v, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |c2 AS (SELECT event_type, v, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cume,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM h2),
        |mad AS (SELECT event_type,
        |    CAST(MIN(CASE WHEN cume * 1000 >= n * 500 THEN v END) AS BIGINT) AS mad
        |  FROM c2 GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.vc, d.med,
        |  CAST(d.abs_dev AS BIGINT) AS abs_dev, mad.mad
        |FROM d JOIN mad USING (event_type)
        |WHERE d.abs_dev * 1 > mad.mad * 3 ORDER BY event_id""".stripMargin,
    // first/last replayed deterministically via (ts, v) row_number —
    // the same lexicographic tie-break as the struct min/max
    "q_m4" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |b AS (SELECT event_type, tus // 86400000000 AS bucket, tus, vc FROM e),
        |r AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
        |      ORDER BY tus, vc) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
        |      ORDER BY tus DESC, vc DESC) AS rl
        |  FROM b)
        |SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(vc) AS BIGINT) AS v_min, CAST(MAX(vc) AS BIGINT) AS v_max,
        |  CAST(MIN(CASE WHEN rf = 1 THEN tus END) AS BIGINT) AS ts_first,
        |  CAST(MIN(CASE WHEN rf = 1 THEN vc END) AS BIGINT) AS v_first,
        |  CAST(MIN(CASE WHEN rl = 1 THEN tus END) AS BIGINT) AS ts_last,
        |  CAST(MIN(CASE WHEN rl = 1 THEN vc END) AS BIGINT) AS v_last
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the whole prefix-filter chain replayed: same freq order, same
    // prefix length, same size filter, same integer verify
    "q_jaccard_join" ->
      """WITH tt AS (SELECT doc_id AS id, string_split(text, ' ') AS ws
        |  FROM documents),
        |toks AS (SELECT DISTINCT id,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tok
        |  FROM tt, unnest(range(1, len(ws) - 1)) u(i)),
        |freq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
        |sz AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY 1),
        |r AS (SELECT t.id, t.tok,
        |    ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY f.df, t.tok) AS rn
        |  FROM toks t JOIN freq f USING (tok)),
        |pref AS (SELECT r.id, s.sz, r.tok FROM r JOIN sz s USING (id)
        |  WHERE r.rn <= s.sz - (s.sz * 900 + 999) // 1000 + 1),
        |cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id,
        |    a.sz AS a_sz, b.sz AS b_sz
        |  FROM pref a JOIN pref b ON a.tok = b.tok AND a.id < b.id
        |  WHERE b.sz * 1000 >= a.sz * 900 AND a.sz * 1000 >= b.sz * 900),
        |inter AS (SELECT c.a_id, c.b_id, c.a_sz, c.b_sz, COUNT(*) AS i
        |  FROM cand c JOIN toks ta ON ta.id = c.a_id
        |  JOIN toks tb ON tb.id = c.b_id AND tb.tok = ta.tok
        |  GROUP BY 1, 2, 3, 4)
        |SELECT a_id, b_id, CAST(a_sz AS BIGINT) AS a_sz,
        |  CAST(b_sz AS BIGINT) AS b_sz, CAST(i AS BIGINT) AS inter,
        |  CAST(i * 1000 // (a_sz + b_sz - i) AS BIGINT) AS jaccard_permille
        |FROM inter WHERE i * 1000 >= 900 * (a_sz + b_sz - i)
        |ORDER BY a_id, b_id""".stripMargin,
    // gap moments replayed: same lag-over-sorted-ts, same floor-div to
    // seconds (gaps are nonnegative so // == div), same cleared CV^2
    "q_gap_regularity" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events),
        |g AS (SELECT user_id,
        |    (tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus))
        |      // 1000000 AS gap
        |  FROM e),
        |a AS (SELECT user_id, COUNT(*) AS n_gaps, SUM(gap) AS gap_sum,
        |    SUM(gap * gap) AS gap_ssq
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
        |  CAST(gap_sum AS BIGINT) AS gap_sum,
        |  CAST(gap_ssq AS BIGINT) AS gap_ssq,
        |  CAST(n_gaps * gap_ssq - gap_sum * gap_sum AS BIGINT) AS var_n2,
        |  (n_gaps >= 5 AND (gap_sum = 0 OR
        |    (n_gaps * gap_ssq - gap_sum * gap_sum) * 10
        |      < gap_sum * gap_sum * 1)) AS is_robotic
        |FROM a ORDER BY user_id""".stripMargin,
    // micro-nat PMI replayed: same strict adjacent bigrams, same
    // unpruned normalizer, same left-assoc ln sum rounded once
    "q_colloc" ->
      """WITH tt AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT u.tok, COUNT(*) AS c FROM tt, unnest(ws) u(tok)
        |  WHERE u.tok <> '' GROUP BY 1),
        |bi0 AS (SELECT ws[i] AS a, ws[i+1] AS b
        |  FROM tt, unnest(range(1, len(ws))) u(i)),
        |bic AS (SELECT a, b, COUNT(*) AS c_ab FROM bi0 GROUP BY 1, 2),
        |tot AS (SELECT (SELECT SUM(c) FROM uni) AS n_uni,
        |  (SELECT COUNT(*) FROM bi0) AS n_bi)
        |SELECT bic.a, bic.b, CAST(c_ab AS BIGINT) AS c_ab,
        |  CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b,
        |  CAST(round(1e6 * (ln(c_ab) + 2.0 * ln(n_uni) - ln(n_bi)
        |    - ln(ua.c) - ln(ub.c))) AS BIGINT) AS pmi_unats
        |FROM bic JOIN uni ua ON bic.a = ua.tok
        |JOIN uni ub ON bic.b = ub.tok
        |CROSS JOIN tot
        |WHERE c_ab >= 5 ORDER BY a, b""".stripMargin,
    // two bounded groupBys replayed; DISTINCT count via the pair table
    "q_ldiversity" ->
      """WITH c AS (SELECT c_mktsegment, c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
        |  FROM customer),
        |p AS (SELECT c_mktsegment, c_nationkey, bal_band, COUNT(*) AS cc
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT c_mktsegment, c_nationkey, CAST(SUM(cc) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS l_distinct,
        |  COUNT(*) < 3 AS is_risky
        |FROM p GROUP BY 1, 2
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    // containment chain replayed: same rare-first prefix on the probe
    // side, FULL shingle list on the index side, one-sided size
    // filter, same integer verify. The POSITION filter is lossless
    // candidate pruning (skipped here); the HOT filter is NOT — a
    // shingle with df > hotCap is dropped from probe AND index, which
    // can drop true pairs — so the oracle replays the df > 1024
    // anti-join on the shared join token (probe and index drop the
    // same hot tokens, so one predicate on the matched token covers
    // both sides)
    "q_containment_join" ->
      """WITH tt AS (SELECT doc_id AS id, string_split(text, ' ') AS ws
        |  FROM documents),
        |toks AS (SELECT DISTINCT id,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tok
        |  FROM tt, unnest(range(1, len(ws) - 1)) u(i)),
        |freq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
        |sz AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY 1),
        |r AS (SELECT t.id, t.tok,
        |    ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY f.df, t.tok) AS rn
        |  FROM toks t JOIN freq f USING (tok)),
        |pref AS (SELECT r.id, s.sz, r.tok FROM r JOIN sz s USING (id)
        |  WHERE r.rn <= s.sz - (s.sz * 800 + 999) // 1000 + 1),
        |cool AS (SELECT p.* FROM pref p JOIN freq f USING (tok)
        |  WHERE f.df <= 1024),
        |cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id,
        |    a.sz AS a_sz, sb.sz AS b_sz
        |  FROM cool a JOIN toks b ON a.tok = b.tok AND a.id <> b.id
        |  JOIN sz sb ON sb.id = b.id
        |  WHERE sb.sz * 1000 >= a.sz * 800),
        |inter AS (SELECT c.a_id, c.b_id, c.a_sz, c.b_sz, COUNT(*) AS i
        |  FROM cand c JOIN toks ta ON ta.id = c.a_id
        |  JOIN toks tb ON tb.id = c.b_id AND tb.tok = ta.tok
        |  GROUP BY 1, 2, 3, 4)
        |SELECT a_id, b_id, CAST(a_sz AS BIGINT) AS a_sz,
        |  CAST(b_sz AS BIGINT) AS b_sz, CAST(i AS BIGINT) AS inter,
        |  CAST(i * 1000 // a_sz AS BIGINT) AS containment_permille
        |FROM inter WHERE i * 1000 >= 800 * a_sz
        |ORDER BY a_id, b_id""".stripMargin,
    // kappa replayed off the q_lang_id guess CTEs: one pair-count
    // table, marginal products, the same sign-handled truncating
    // permille (// floors, so |num| is divided and the sign reapplied)
    "q_kappa" -> {
      val vals = TextFunctions.langProfiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }.mkString(", ")
      s"""WITH prof(lang, word) AS (VALUES $vals),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |scores AS (SELECT t.doc_id, p.lang, COUNT(*) AS score
         |           FROM toks t JOIN prof p ON t.tok = p.word GROUP BY t.doc_id, p.lang),
         |best AS (SELECT doc_id, lang, score,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
         |         FROM scores),
         |lab AS (SELECT d.lang AS gold,
         |  COALESCE((SELECT b.lang FROM best b
         |            WHERE b.doc_id = d.doc_id AND b.rn = 1 AND b.score > 0), 'und') AS guess
         |  FROM documents d),
         |pairs AS (SELECT gold, guess, COUNT(*) AS c FROM lab GROUP BY 1, 2),
         |am AS (SELECT gold AS k, SUM(c) AS ca FROM pairs GROUP BY 1),
         |bm AS (SELECT guess AS k, SUM(c) AS cb FROM pairs GROUP BY 1),
         |tot AS (SELECT SUM(c) AS n,
         |  COALESCE(SUM(CASE WHEN gold = guess THEN c END), 0) AS agree FROM pairs),
         |pe AS (SELECT COALESCE(SUM(ca * cb), 0) AS pe_num
         |  FROM am JOIN bm USING (k))
         |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
         |  CAST(pe_num AS BIGINT) AS pe_num,
         |  CAST(n * agree - pe_num AS BIGINT) AS kappa_num,
         |  CAST(n * n - pe_num AS BIGINT) AS kappa_den,
         |  CAST(CASE WHEN n * n - pe_num = 0 THEN NULL
         |       WHEN n * agree - pe_num >= 0
         |         THEN ((n * agree - pe_num) * 1000) // (n * n - pe_num)
         |       ELSE -(((pe_num - n * agree) * 1000) // (n * n - pe_num))
         |       END AS BIGINT) AS kappa_permille
         |FROM tot CROSS JOIN pe""".stripMargin
    },
    // window-3 pair generation replayed positionally; least/greatest
    // canonical order, integer counts, same strict windows
    "q_cooccur" ->
      """WITH tt AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |p AS (SELECT least(ws[i], ws[i+d]) AS a, greatest(ws[i], ws[i+d]) AS b
        |  FROM tt, unnest(range(1, len(ws))) u(i), unnest(range(1, 4)) v(d)
        |  WHERE i + d <= len(ws) AND ws[i] <> '' AND ws[i+d] <> '')
        |SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY 1, 2
        |HAVING COUNT(*) >= 5 ORDER BY a, b""".stripMargin,
    // same LAG over (tus, event_id) within (user, type); first event
    // NULL gap is kept, 60 s threshold replayed verbatim
    "q_debounce" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS tus FROM events),
        |g AS (SELECT *, tus - LAG(tus) OVER (PARTITION BY user_id, event_type
        |    ORDER BY tus, event_id) AS prev_gap FROM e)
        |SELECT event_id, user_id, event_type, CAST(tus AS BIGINT) AS tus,
        |  CAST(prev_gap AS BIGINT) AS prev_gap,
        |  (prev_gap IS NULL OR prev_gap >= 60000000) AS is_kept
        |FROM g ORDER BY event_id""".stripMargin,
    // splitmix64 of doc_id mod 64 (power of two, so the unsigned
    // HUGEINT modulus equals the Scala signed mask), byte weights,
    // permille deviation — nonnegative weights so // == div
    "q_shard_balance" ->
      s"""WITH s AS (SELECT CAST(${duckMix64("(doc_id)::HUGEINT")} % 64 AS BIGINT) AS shard,
         |    len(text) AS w FROM documents),
         |per AS (SELECT shard, COUNT(*) AS n_rows, SUM(w) AS w_sum
         |  FROM s GROUP BY 1),
         |tot AS (SELECT SUM(w_sum) AS tw FROM per)
         |SELECT shard, CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(w_sum AS BIGINT) AS w_sum,
         |  CAST(w_sum * 64 * 1000 // tw - 1000 AS BIGINT) AS dev_permille
         |FROM per CROSS JOIN tot ORDER BY shard""".stripMargin,
    // Fleiss' kappa replayed with the same integer clearing (common
    // factor N·r cancelled); HAVING SUM(c) = 7 is the completeness
    // filter (dense event ids leave exactly one incomplete tail item)
    "q_fleiss" ->
      """WITH r AS (SELECT event_id // 7 AS item, event_type AS cat FROM events),
        |nij AS (SELECT item, cat, COUNT(*) AS c FROM r GROUP BY 1, 2),
        |comp AS (SELECT item FROM nij GROUP BY item HAVING SUM(c) = 7),
        |kept AS (SELECT nij.* FROM nij JOIN comp USING (item)),
        |nn AS (SELECT COUNT(*) AS n_items FROM comp),
        |ss AS (SELECT COALESCE(SUM(c * c), 0) AS s_sq FROM kept),
        |cc AS (SELECT COALESCE(SUM(cj * cj), 0) AS c_sq FROM
        |  (SELECT SUM(c) AS cj FROM kept GROUP BY cat)),
        |x AS (SELECT n_items, s_sq, c_sq,
        |  (s_sq - n_items * 7) * (n_items * 7) - c_sq * 6 AS kappa_num,
        |  ((n_items * 7) * (n_items * 7) - c_sq) * 6 AS kappa_den
        |  FROM nn, ss, cc)
        |SELECT CAST(n_items AS BIGINT) AS n_items, CAST(7 AS INT) AS n_raters,
        |  CAST(s_sq AS BIGINT) AS s_sq, CAST(c_sq AS BIGINT) AS c_sq,
        |  CAST(kappa_num AS BIGINT) AS kappa_num,
        |  CAST(kappa_den AS BIGINT) AS kappa_den,
        |  CAST(CASE WHEN kappa_den = 0 THEN NULL
        |       WHEN kappa_num >= 0 THEN kappa_num * 1000 // kappa_den
        |       ELSE -((-kappa_num) * 1000 // kappa_den) END AS BIGINT)
        |    AS kappa_permille
        |FROM x""".stripMargin,
    // ROUGE-2 replayed with strict gram windows (range(1, max(len-1,0)+1)
    // is empty for sub-2-token sides) and the same clipped-overlap fold
    // over the reference's distinct grams
    "q_rouge" ->
      """WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS ct FROM documents),
        |p AS (SELECT id, ct, ct[1:(len(ct) * 3) // 4] AS rt FROM d),
        |gr AS (SELECT id,
        |  list_transform(range(1, greatest(len(ct) - 1, 0) + 1),
        |    i -> ct[i] || ' ' || ct[i + 1]) AS cg,
        |  list_transform(range(1, greatest(len(rt) - 1, 0) + 1),
        |    i -> rt[i] || ' ' || rt[i + 1]) AS rg
        |  FROM p),
        |m AS (SELECT id, CAST(len(cg) AS BIGINT) AS cand_n,
        |  CAST(len(rg) AS BIGINT) AS ref_n,
        |  CAST(list_reduce(list_prepend(0, list_transform(list_distinct(rg),
        |    g -> least(len(list_filter(rg, x -> x = g)),
        |               len(list_filter(cg, x -> x = g))))),
        |    (a, b) -> a + b) AS BIGINT) AS match_n
        |  FROM gr)
        |SELECT id, cand_n, ref_n, match_n,
        |  CAST(CASE WHEN cand_n > 0 THEN match_n * 1000 // cand_n END AS BIGINT) AS rouge_p,
        |  CAST(CASE WHEN ref_n > 0 THEN match_n * 1000 // ref_n END AS BIGINT) AS rouge_r,
        |  CAST(CASE WHEN cand_n + ref_n > 0
        |    THEN match_n * 2000 // (cand_n + ref_n) END AS BIGINT) AS rouge_f
        |FROM m ORDER BY id""".stripMargin,
    // Adamic-Adar replayed: same chain-adjacency edges as q_triangles,
    // centers capped at deg 64, per-wedge round(1e6/ln(deg)) terms,
    // existing edges removed with an ANTI JOIN
    "q_link_predict" ->
      """WITH s AS (SELECT l_orderkey, l_partkey AS pk,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |      l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn
        |  FROM lineitem),
        |e0 AS (SELECT a.pk AS x, b.pk AS y FROM s a JOIN s b
        |  ON a.l_orderkey = b.l_orderkey AND b.rn = a.rn + 1 AND a.pk <> b.pk),
        |e AS (SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi FROM e0),
        |adj AS (SELECT lo AS w, hi AS nb FROM e UNION ALL SELECT hi, lo FROM e),
        |deg AS (SELECT w, COUNT(*) AS deg FROM adj GROUP BY w),
        |cen AS (SELECT adj.w, adj.nb, deg.deg FROM adj JOIN deg USING (w)
        |  WHERE deg <= 64),
        |p AS (SELECT a.nb AS u, b.nb AS v, COUNT(*) AS common,
        |    SUM(CAST(round(1000000 / ln(a.deg)) AS BIGINT)) AS aa_unats
        |  FROM cen a JOIN cen b ON a.w = b.w AND a.nb < b.nb
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT u, v, CAST(common AS BIGINT) AS common,
        |  CAST(aa_unats AS BIGINT) AS aa_unats
        |FROM p ANTI JOIN e ON p.u = e.lo AND p.v = e.hi
        |ORDER BY u, v""".stripMargin,
    // co-membership replayed: distinct (user, item), HAVING <= 19 is
    // the hub-user cap, pair self-join on the user, count per pair
    "q_also_viewed" ->
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |    CAST(json_extract(props, '$.k') AS INT) % 20 AS i FROM events),
        |keep AS (SELECT u FROM ui GROUP BY u HAVING COUNT(*) <= 19),
        |k AS (SELECT ui.u, ui.i FROM ui JOIN keep USING (u))
        |SELECT a.i AS a, b.i AS b, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM k a JOIN k b ON a.u = b.u AND a.i < b.i
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2""".stripMargin,
    // lag-2 ACF replayed with the same n²-cleared integer moments; all
    // products stay under BIGINT range at this corpus (cents <= ~5e4,
    // n <= ~100 per user)
    "q_autocorr" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |l AS (SELECT user_id, x, LEAD(x, 2) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id) AS y FROM e),
        |m AS (SELECT user_id, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS ssq,
        |    SUM(CASE WHEN y IS NOT NULL THEN x * y END) AS sxy,
        |    SUM(CASE WHEN y IS NOT NULL THEN x END) AS hd,
        |    SUM(CASE WHEN y IS NOT NULL THEN y END) AS tl
        |  FROM l GROUP BY user_id),
        |f AS (SELECT user_id, n,
        |    n * n * sxy - n * s * (hd + tl) + (n - 2) * s * s AS num,
        |    n * n * ssq - n * s * s AS den FROM m)
        |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(num AS BIGINT) AS acf_num,
        |  CAST(den AS BIGINT) AS acf_den,
        |  CAST(CASE WHEN den = 0 OR num IS NULL THEN NULL
        |    WHEN num >= 0 THEN num * 1000 // den
        |    ELSE -((-num) * 1000 // den) END AS BIGINT) AS acf_permille
        |FROM f ORDER BY user_id""".stripMargin,
    // Krippendorff replayed: same variable-panel filter, per-item
    // micro-unit disagreement terms (one division + one round), integer
    // expected side; HAVING SUM(c) >= 2 is the pairable filter
    "q_krippendorff" ->
      """WITH r AS (SELECT event_id // 10 AS item, event_type AS cat FROM events
        |  WHERE CASE WHEN (event_id // 10) % 50 = 0 THEN event_id % 10 = 0
        |    ELSE event_id % 10 < 2 + (event_id // 10) % 4 END),
        |nij AS (SELECT item, cat, COUNT(*) AS c FROM r GROUP BY 1, 2),
        |per AS (SELECT item, SUM(c) AS ri, SUM(c * c) AS si FROM nij
        |  GROUP BY item HAVING SUM(c) >= 2),
        |it AS (SELECT COUNT(*) AS n_items,
        |  COALESCE(SUM(CAST(round(1e6 * (ri * ri - si) / (ri - 1)) AS BIGINT)), 0)
        |    AS d_o_micro FROM per),
        |pair AS (SELECT nij.* FROM nij JOIN per USING (item)),
        |cats AS (SELECT COALESCE(SUM(nc), 0) AS n_ratings,
        |  COALESCE(SUM(nc * nc), 0) AS c_sq FROM
        |  (SELECT SUM(c) AS nc FROM pair GROUP BY cat)),
        |f AS (SELECT n_ratings, n_items, d_o_micro, c_sq,
        |  (n_ratings * n_ratings - c_sq) * 1000000 AS de,
        |  (n_ratings * n_ratings - c_sq) * 1000000
        |    - (n_ratings - 1) * d_o_micro AS num
        |  FROM cats, it)
        |SELECT CAST(n_ratings AS BIGINT) AS n_ratings,
        |  CAST(n_items AS BIGINT) AS n_items,
        |  CAST(d_o_micro AS BIGINT) AS d_o_micro, CAST(c_sq AS BIGINT) AS c_sq,
        |  CAST(num AS BIGINT) AS alpha_num, CAST(de AS BIGINT) AS alpha_den,
        |  CAST(CASE WHEN de = 0 THEN NULL
        |    WHEN num >= 0 THEN num * 1000 // de
        |    ELSE -((-num) * 1000 // de) END AS BIGINT) AS alpha_permille
        |FROM f""".stripMargin,
    // cosine join replayed: centi-nat idf weights (one ln + one round),
    // integer dots/norms, cos^2 in ppm; df > 400 postings dropped
    "q_cosine_join" ->
      """WITH tf AS (SELECT doc_id AS id, t.term, COUNT(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
        |  WHERE t.term <> '' GROUP BY 1, 2),
        |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS nn FROM documents),
        |w AS (SELECT id, term,
        |    tf * CAST(round(100.0 * ln(CAST(nn AS DOUBLE) / df)) AS BIGINT) AS w
        |  FROM tf JOIN dfc USING (term), n WHERE df <= 400),
        |wp AS (SELECT * FROM w WHERE w > 0),
        |nrm AS (SELECT id, SUM(w * w) AS norm2 FROM wp GROUP BY id),
        |d AS (SELECT a.id AS a, b.id AS b, COUNT(*) AS common_terms,
        |    SUM(a.w * b.w) AS dot
        |  FROM wp a JOIN wp b ON a.term = b.term AND a.id < b.id
        |  GROUP BY 1, 2),
        |sel AS (SELECT d.a, d.b, common_terms,
        |    (dot * dot * 1000 // (na.norm2 * nb.norm2)) * 1000
        |    + ((dot * dot * 1000) % (na.norm2 * nb.norm2)) * 1000
        |      // (na.norm2 * nb.norm2) AS cos2_ppm
        |  FROM d JOIN nrm na ON d.a = na.id JOIN nrm nb ON d.b = nb.id)
        |SELECT a, b, CAST(common_terms AS BIGINT) AS common_terms,
        |  CAST(cos2_ppm AS BIGINT) AS cos2_ppm
        |FROM sel WHERE cos2_ppm >= 810000
        |ORDER BY a, b""".stripMargin,
    // blocklist replayed positionally: per (doc, pattern), the count of
    // positions whose substring equals the pattern — the overlapping
    // semantics of the Aho-Corasick pass, O(len·k) here vs O(len) there
    "q_blocklist" ->
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' banana' ELSE '' END AS t
        |  FROM documents),
        |p AS (SELECT unnest(['an','ana','na','scan','batch','banana']) AS pattern),
        |c AS (SELECT doc_id, pattern,
        |    len(list_filter(range(1, length(t) - length(pattern) + 2),
        |      i -> substring(t, i, length(pattern)) = pattern)) AS n_hits
        |  FROM d, p)
        |SELECT doc_id, pattern, CAST(n_hits AS BIGINT) AS n_hits
        |FROM c WHERE n_hits > 0 ORDER BY doc_id, pattern""".stripMargin,
    // t-closeness replayed: dense combo x value grid, cumulative gaps
    // |CumP*n_total - CumQ*n_combo| summed, one integer division
    "q_tcloseness" ->
      """WITH c AS (SELECT c_mktsegment, c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS v FROM customer),
        |cell AS (SELECT c_mktsegment, c_nationkey, v, COUNT(*) AS p
        |  FROM c GROUP BY 1, 2, 3),
        |gl AS (SELECT v, COUNT(*) AS q FROM c GROUP BY v),
        |combos AS (SELECT c_mktsegment, c_nationkey, SUM(p) AS n
        |  FROM cell GROUP BY 1, 2),
        |grid AS (SELECT co.c_mktsegment, co.c_nationkey, co.n, g.v, g.q,
        |    COALESCE(cl.p, 0) AS p
        |  FROM combos co CROSS JOIN gl g LEFT JOIN cell cl
        |    ON cl.c_mktsegment = co.c_mktsegment
        |   AND cl.c_nationkey = co.c_nationkey AND cl.v = g.v),
        |cum AS (SELECT *,
        |    SUM(p) OVER (PARTITION BY c_mktsegment, c_nationkey ORDER BY v) AS cp,
        |    SUM(q) OVER (PARTITION BY c_mktsegment, c_nationkey ORDER BY v) AS cq
        |  FROM grid),
        |tot AS (SELECT SUM(q) AS nn, COUNT(*) AS k FROM gl),
        |d AS (SELECT c_mktsegment, c_nationkey, n, nn, k,
        |    SUM(ABS(cp * nn - cq * n)) AS dd
        |  FROM cum, tot WHERE k >= 2 GROUP BY 1, 2, 3, 4, 5)
        |SELECT c_mktsegment, c_nationkey, CAST(n AS BIGINT) AS n,
        |  CAST(dd * 1000 // (n * nn * (k - 1)) AS BIGINT) AS emd_permille,
        |  dd * 1000 // (n * nn * (k - 1)) > 300 AS is_risky
        |FROM d ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    // Flesch replayed: vowel-group syllables (regexp_extract_all),
    // blank lines don't count as sentences, one final round
    "q_readability" ->
      """WITH d AS (SELECT doc_id AS id,
        |    regexp_replace(text, ' line ', chr(10), 'g') AS txt FROM documents),
        |m AS (SELECT id,
        |  greatest(len(list_filter(string_split(txt, chr(10)),
        |    l -> trim(l) <> '')), 1) AS n_sentences,
        |  list_filter(string_split(replace(txt, chr(10), ' '), ' '),
        |    w -> w <> '') AS ws FROM d),
        |s AS (SELECT id, n_sentences, len(ws) AS n_words,
        |  list_reduce(list_prepend(0, list_transform(ws,
        |    w -> greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+'))))),
        |    (a, b) -> a + b) AS n_syllables FROM m)
        |SELECT id, CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_syllables AS BIGINT) AS n_syllables,
        |  CAST(CASE WHEN n_words > 0 THEN
        |    round(206835.0 - 1015.0 * n_words / n_sentences
        |          - 84600.0 * n_syllables / n_words) END AS BIGINT)
        |    AS flesch_milli
        |FROM s ORDER BY id""".stripMargin,
    // journeys replayed: the q_sessions break-flag sessionization, an
    // ordered list per session, 1-based inclusive trigram slices
    "q_journeys" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id,
        |    event_type FROM events),
        |l AS (SELECT *, LAG(tus) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id) AS prev FROM e),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev > 86400000000
        |    THEN 1 ELSE 0 END AS brk FROM l),
        |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s),
        |p AS (SELECT user_id, sid,
        |    list(event_type ORDER BY tus, event_id) AS path
        |  FROM g GROUP BY 1, 2),
        |j AS (SELECT array_to_string(path[i:i+2], ' ') AS journey
        |  FROM (SELECT path, unnest(range(1, greatest(len(path) - 2, 0) + 1)) AS i
        |        FROM p))
        |SELECT journey, CAST(COUNT(*) AS BIGINT) AS cnt FROM j
        |GROUP BY 1 HAVING COUNT(*) >= 5 ORDER BY journey""".stripMargin,
    // BPE learning unrolled: per round, pair counts over the delimited
    // unit strings, (cnt DESC, pair) argmax, and the same ONE-replace
    // rewrite ('¦x¦¦y¦' -> '¦xy¦' — each match keeps a delimiter on
    // both flanks, so replace's left-to-right non-overlap IS the BPE
    // greedy scan)
    "q_bpe_learn" -> {
      val unions = (1 to 3).map(r => s"SELECT * FROM b$r").mkString(" UNION ALL ")
      s"""WITH ${duckBpeChain(3, withDocId = false)}
         |SELECT CAST(round AS INT) AS round, pair, x || y AS merged,
         |  CAST(cnt AS BIGINT) AS cnt
         |FROM ($unions) ORDER BY round""".stripMargin
    },
    // minhash eval replayed: the chained v0/v1/v2 fixture, exact
    // distinct-trigram jaccard truth (no pruning), the full minhash CTE
    // chain over the fixture for candidates, and the three counts
    "q_minhash_eval" -> {
      s"""WITH docs0 AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE doc_id % 5 = 0),
         |vars AS (SELECT doc_id * 3 AS doc_id, t FROM docs0
         |  UNION ALL SELECT doc_id * 3 + 1, t[1:(LEN(t) * 4) // 5] FROM docs0
         |  UNION ALL SELECT doc_id * 3 + 2, t[1:(((LEN(t) * 4) // 5) * 4) // 5] FROM docs0),
         |vtext AS (SELECT doc_id, array_to_string(t, ' ') AS text, t FROM vars),
         |g AS (SELECT DISTINCT doc_id AS id,
         |  unnest([array_to_string(t[i:i+2], ' ')
         |          FOR i IN range(1, GREATEST(LEN(t) - 3, 0) + 2)]) AS gram
         |  FROM vtext),
         |gs AS (SELECT id, COUNT(*) AS sz FROM g GROUP BY id),
         |co AS (SELECT a.id AS a_id, b.id AS b_id, COUNT(*) AS c
         |  FROM g a JOIN g b ON a.gram = b.gram AND a.id < b.id GROUP BY 1, 2),
         |truth AS (SELECT a_id, b_id FROM co
         |  JOIN gs sa ON sa.id = co.a_id JOIN gs sb ON sb.id = co.b_id
         |  WHERE c * 1000 >= 500 * (sa.sz + sb.sz - c)),
         |${duckMinhashCtesFrom("vtext")},
         |est AS (SELECT c.a_id, c.b_id,
         |  (SELECT COUNT(*) FROM sig sa JOIN sig sb ON sa.k = sb.k AND sa.m = sb.m
         |   WHERE sa.doc_id = c.a_id AND sb.doc_id = c.b_id) / 32.0 AS ej
         |  FROM mcand c),
         |cand AS (SELECT a_id, b_id FROM est WHERE ej >= 0.5),
         |nt AS (SELECT COUNT(*) AS n_truth FROM truth),
         |nc AS (SELECT COUNT(*) AS n_cand FROM cand),
         |tpx AS (SELECT COUNT(*) AS tp FROM cand JOIN truth USING (a_id, b_id))
         |SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(tp AS BIGINT) AS tp,
         |  CAST(CASE WHEN n_cand > 0 THEN tp * 1000 // n_cand END AS BIGINT)
         |    AS precision_permille,
         |  CAST(CASE WHEN n_truth > 0 THEN tp * 1000 // n_truth END AS BIGINT)
         |    AS recall_permille
         |FROM nt, nc, tpx""".stripMargin
    },
    // hard negatives replayed: the Lloyd quantizer fit + assignment CTEs
    // (as q_knn_ivf), cell-mate pairs with labels, per-anchor rank-1
    // same-label and different-label rows via LEFT joins
    "q_hard_negatives" -> {
      s"""WITH ${duckLloydCtes(k = 16, iters = 10)},
         |asg AS MATERIALIZED (SELECT vv.vec_id, vv.v,
         |  (SELECT c.cell FROM c10 c ORDER BY list_distance(vv.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM vv),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |bm AS (SELECT vec_id, v, cell,
         |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS crn FROM asg),
         |p AS (SELECT a.vec_id AS qid, la.label AS label, b.vec_id AS nid,
         |    lb.label AS nlbl,
         |    CASE WHEN list_dot_product(va.v, va.v) = 0 OR list_dot_product(vb.v, vb.v) = 0 THEN 0.0
         |         ELSE list_dot_product(va.v, vb.v)
         |              / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))) END AS sim
         |  FROM asg a JOIN bm b ON a.cell = b.cell AND a.vec_id <> b.vec_id AND b.crn <= 8
         |  JOIN vv va ON va.vec_id = a.vec_id JOIN vv vb ON vb.vec_id = b.vec_id
         |  JOIN lab la ON la.vec_id = a.vec_id JOIN lab lb ON lb.vec_id = b.vec_id),
         |rp AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, nid) AS rn FROM p WHERE label = nlbl),
         |rng AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, nid) AS rn FROM p WHERE label <> nlbl),
         |base AS (SELECT DISTINCT qid, label FROM p)
         |SELECT b.qid AS query_id, b.label,
         |  rp.nid AS pos_id, rp.sim AS pos_sim,
         |  rng.nid AS neg_id, rng.nlbl AS neg_label, rng.sim AS neg_sim
         |FROM base b
         |LEFT JOIN rp ON rp.qid = b.qid AND rp.rn = 1
         |LEFT JOIN rng ON rng.qid = b.qid AND rng.rn = 1
         |ORDER BY query_id""".stripMargin
    },
    // novelty replayed: distinct trigrams, origin = min id per gram,
    // per-doc novel fraction in truncating permille
    "q_novelty" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT DISTINCT doc_id AS id,
        |  unnest([array_to_string(t[i:i+2], ' ')
        |          FOR i IN range(1, GREATEST(LEN(t) - 3, 0) + 2)]) AS gram
        |  FROM d),
        |o AS (SELECT gram, MIN(id) AS f FROM g GROUP BY gram)
        |SELECT id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN id = f THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN id = f THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
        |    AS novelty_permille
        |FROM g JOIN o USING (gram) GROUP BY id ORDER BY id""".stripMargin,
    // trending replayed: the two tokens per event re-derived, epoch-
    // aligned 7-day buckets (Spark tumbling windows are epoch-origin),
    // counts, rank per window by (cnt DESC, term)
    "q_trending" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type,
        |    CAST(json_extract(props, '$.k') AS INT) % 20 AS k FROM events),
        |tok AS (
        |  SELECT (tus // 604800000000) * 604800000000 AS w_start,
        |    event_type AS term FROM e
        |  UNION ALL
        |  SELECT (tus // 604800000000) * 604800000000, 'k' || k FROM e
        |  WHERE k IS NOT NULL),
        |c AS (SELECT w_start, term, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY w_start
        |    ORDER BY cnt DESC, term) AS rank FROM c)
        |SELECT CAST(w_start AS BIGINT) AS w_start, term,
        |  CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY w_start, rank""".stripMargin,
    // JL projection replayed: floor(v*1024) quantization (float*1024 is
    // exact in double - power of two), sign = parity of mix64(7 + i*8+j)
    "q_rand_proj" ->
      s"""WITH x AS (SELECT vec_id, i - 1 AS i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS q
         |  FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
         |p AS (SELECT vec_id, i, q, unnest(range(0, 8)) AS j FROM x),
         |sgn AS (SELECT vec_id, j, q,
         |    CASE WHEN ${duckMix64("(7 + i * 8 + j)::HUGEINT")} % 2 = 0
         |      THEN 1 ELSE -1 END AS s
         |  FROM p)
         |SELECT vec_id, CAST(j AS INT) AS j, CAST(SUM(q * s) AS BIGINT) AS y
         |FROM sgn GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin,
    // Zipf fit replayed: same top-500 cut (count DESC, term ASC), same
    // once-rounded micro-nat (x, y), same truncating integer divisions
    "q_zipf" ->
      """WITH c AS (SELECT t.term, COUNT(*) AS cnt FROM
        |    (SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
        |  WHERE t.term <> '' GROUP BY 1 ORDER BY cnt DESC, term LIMIT 500),
        |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rk
        |  FROM c),
        |xy AS (SELECT CAST(round(1e6 * ln(rk)) AS BIGINT) AS x,
        |    CAST(round(1e6 * ln(cnt)) AS BIGINT) AS y FROM r),
        |m AS (SELECT COUNT(*)::HUGEINT AS n, SUM(x::HUGEINT) AS sx,
        |    SUM(y::HUGEINT) AS sy, SUM(x::HUGEINT * y) AS sxy,
        |    SUM(x::HUGEINT * x) AS sxx FROM xy),
        |s AS (SELECT n, sx, sy,
        |    (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS sl
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n_terms, CAST(sl AS BIGINT) AS slope_micro,
        |  CAST((sy * 1000000 - sl * sx) // (n * 1000000) AS BIGINT)
        |    AS intercept_micro
        |FROM s""".stripMargin,
    // burst segments replayed: the same gaps-and-islands key
    // (day - row_number) over the hot daily counts
    "q_bursts" ->
      """WITH e AS (SELECT event_type,
        |    epoch_ns(ts) // 1000 // 86400000000 AS day FROM events),
        |c AS (SELECT event_type, day, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
        |h AS (SELECT event_type, day, cnt,
        |    day - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS grp
        |  FROM c WHERE cnt >= 67),
        |seg AS (SELECT event_type, MIN(day) AS seg_start,
        |    COUNT(*) AS n_buckets, SUM(cnt) AS total_cnt
        |  FROM h GROUP BY event_type, grp)
        |SELECT event_type, CAST(seg_start AS BIGINT) AS seg_start,
        |  CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(total_cnt AS BIGINT) AS total_cnt
        |FROM seg WHERE n_buckets >= 2
        |ORDER BY event_type, seg_start""".stripMargin,
    // BPE apply replayed: the generated 8-round merge chain with doc_id
    // carried through, then per-doc residual units flattened — 8 rounds
    // (vs learn's 3) so the oracle exercises merge-count growth against
    // the native kernel
    "q_bpe_apply" ->
      s"""WITH ${duckBpeChain(8, withDocId = true)},
         |units AS (SELECT doc_id, flatten(list_transform(work,
         |    w -> list_filter(string_split_regex(w, '¦+'), x -> x <> ''))) AS un
         |  FROM w8)
         |SELECT doc_id AS id, CAST(len(un) AS BIGINT) AS n_units,
         |  array_to_string(un, ' ') AS units_str
         |FROM units ORDER BY id""".stripMargin,
    // scene cuts replayed: per-frame dense 16-bin histograms from the
    // character stream (ASCII corpus: char = byte), adjacent L1 deltas
    "q_scene_cuts" ->
      """WITH f AS (SELECT doc_id, text,
        |    unnest(range(0, length(text) // 64)) AS fi
        |  FROM documents WHERE length(text) >= 64),
        |c AS (SELECT doc_id, fi, text, unnest(range(1, 65)) AS k FROM f),
        |bn AS (SELECT doc_id, fi,
        |    ascii(substring(text, CAST(fi * 64 + k AS INT), 1)) // 16 AS bin
        |  FROM c),
        |h AS (SELECT doc_id, fi, bin, COUNT(*) AS cnt FROM bn GROUP BY 1, 2, 3),
        |grid AS (SELECT g.doc_id, g.fi, b.bin, COALESCE(h.cnt, 0) AS cnt
        |  FROM (SELECT DISTINCT doc_id, fi FROM f) g
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) b
        |  LEFT JOIN h ON h.doc_id = g.doc_id AND h.fi = g.fi AND h.bin = b.bin),
        |d AS (SELECT a.doc_id, a.fi AS pos, SUM(abs(a.cnt - b.cnt)) AS delta
        |  FROM grid a JOIN grid b
        |    ON a.doc_id = b.doc_id AND a.bin = b.bin AND b.fi = a.fi + 1
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(pos AS INT) AS pos, CAST(delta AS BIGINT) AS delta
        |FROM d WHERE delta >= 16 ORDER BY doc_id, pos""".stripMargin,
    // chi-square replayed: four conditional counts, the identical
    // left-associated double expression, one round
    "q_chi2" ->
      """WITH cc AS (SELECT event_type,
        |    COUNT(CASE WHEN user_id % 2 = 0 AND value > 50.0 THEN 1 END) AS a,
        |    COUNT(CASE WHEN user_id % 2 = 0 AND NOT value > 50.0 THEN 1 END) AS b,
        |    COUNT(CASE WHEN user_id % 2 = 1 AND value > 50.0 THEN 1 END) AS c,
        |    COUNT(CASE WHEN user_id % 2 = 1 AND NOT value > 50.0 THEN 1 END) AS d
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
        |  CAST(CASE WHEN (a + b) = 0 OR (c + d) = 0 OR (a + c) = 0 OR (b + d) = 0
        |    THEN NULL
        |    ELSE round(1e6 * CAST(a + b + c + d AS DOUBLE)
        |      * CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)
        |      / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
        |         * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)))
        |    END AS BIGINT) AS chi2_micro,
        |  CASE WHEN (a + b) = 0 OR (c + d) = 0 OR (a + c) = 0 OR (b + d) = 0
        |    THEN NULL
        |    ELSE round(1e6 * CAST(a + b + c + d AS DOUBLE)
        |      * CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)
        |      / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
        |         * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))) > 3841459
        |    END AS significant_95
        |FROM cc ORDER BY event_type""".stripMargin,
    // KS replayed: per-side distinct-value counts, cumulative sums,
    // integer gap max with smallest-value tie-break
    "q_ks" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  UNION ALL SELECT 'view', NULL
        |  UNION ALL SELECT 'click', NULL),
        |a AS (SELECT vc AS v, COUNT(*) AS ca FROM e
        |  WHERE event_type = 'view' AND vc IS NOT NULL GROUP BY 1),
        |b AS (SELECT vc AS v, COUNT(*) AS cb FROM e
        |  WHERE event_type = 'click' AND vc IS NOT NULL GROUP BY 1),
        |j AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
        |    COALESCE(cb, 0) AS cb FROM a FULL OUTER JOIN b ON a.v = b.v),
        |cum AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS cuma,
        |    SUM(cb) OVER (ORDER BY v) AS cumb FROM j),
        |t AS (SELECT SUM(ca)::HUGEINT AS na, SUM(cb)::HUGEINT AS nb FROM j),
        |g AS (SELECT v, abs(cuma::HUGEINT * nb - cumb::HUGEINT * na) AS gap
        |  FROM cum, t),
        |m AS (SELECT gap, v FROM g ORDER BY gap DESC, v LIMIT 1)
        |SELECT CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
        |  CAST(gap * 1000000 // (na * nb) AS BIGINT) AS d_ppm,
        |  CAST(v AS BIGINT) AS at_value
        |FROM m, t""".stripMargin,
    // MRR replayed over the q_knn_recall IVF/brute CTE machinery:
    // first relevant rank per query, truncating reciprocal ppm
    "q_mrr" -> {
      s"""WITH ${duckLloydCtes(k = 16, iters = 10)},
         |asg AS MATERIALIZED (SELECT vv.vec_id, vv.v,
         |  (SELECT c.cell FROM c10 c ORDER BY list_distance(vv.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM vv),
         |probes AS (SELECT * FROM (
         |    SELECT a.vec_id AS query_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY -list_dot_product(a.v, c.centroid), c.cell) AS prank
         |    FROM asg a CROSS JOIN c10 c) WHERE prank <= 4),
         |cand AS (SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
         |  FROM probes p JOIN asg n ON n.cell = p.cell AND n.vec_id <> p.query_id),
         |isims AS (SELECT c.query_id, c.neighbor_id,
         |  CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0 THEN 0.0
         |       ELSE list_dot_product(a.v, b.v)
         |            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
         |  FROM cand c JOIN vv a ON a.vec_id = c.query_id JOIN vv b ON b.vec_id = c.neighbor_id),
         |ir AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM isims),
         |ivfr AS (SELECT query_id, neighbor_id, rank FROM ir WHERE rank <= 3),
         |e2 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vv),
         |bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |        CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
         |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS sim
         |      FROM e2 a, e2 b WHERE a.vec_id <> b.vec_id),
         |br AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM bp),
         |truth AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 3),
         |hit AS (SELECT r.query_id,
         |    MIN(CASE WHEN t.neighbor_id IS NOT NULL THEN r.rank END) AS frr
         |  FROM ivfr r LEFT JOIN truth t
         |    ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
         |  GROUP BY 1)
         |SELECT query_id, CAST(frr AS BIGINT) AS first_rel_rank,
         |  CAST(COALESCE(1000000 // frr, 0) AS BIGINT) AS rr_ppm
         |FROM hit ORDER BY query_id""".stripMargin
    },
    // feature hashing replayed: the fingerprint fnv+mix machinery per
    // token, signed bucket from the SIGNED hash (truncating %), sign
    // from bit 62, dense 16-bucket grid with zero fill
    "q_feature_hash" -> {
      val h = duckMix64(
        s"(${duckMix64(duckFnv("tk", "14695981039346656037"))} + 5) % $M64")
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
         |  FROM documents),
         |hh AS (SELECT doc_id, $h AS h FROM tok),
         |sb AS (SELECT doc_id,
         |    ((${duckToSigned("h")} % 16) + 16) % 16 AS bucket,
         |    CASE WHEN (h >> 62) % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM hh),
         |agg AS (SELECT doc_id, bucket, SUM(sgn) AS w FROM sb GROUP BY 1, 2),
         |grid AS (SELECT d.doc_id, b.bucket, COALESCE(a.w, 0) AS w
         |  FROM (SELECT DISTINCT doc_id FROM documents) d
         |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) b
         |  LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.bucket = b.bucket)
         |SELECT doc_id, CAST(bucket AS INT) AS bucket, CAST(w AS BIGINT) AS w
         |FROM grid ORDER BY doc_id, bucket""".stripMargin
    },
    // conformal quantile replayed: distinct-score cumulative counts,
    // k = ceil((n+1)*900/1000) via (a + 999) // 1000, min qualifying score
    "q_conformal" ->
      """WITH s AS (SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |c AS (SELECT v, COUNT(*) AS cnt FROM s GROUP BY 1),
        |cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cm FROM c),
        |t AS (SELECT SUM(cnt) AS n FROM c),
        |k AS (SELECT n, ((n + 1) * 900 + 999) // 1000 AS k FROM t)
        |SELECT CAST(MAX(k.n) AS BIGINT) AS n, CAST(MAX(k.k) AS BIGINT) AS k,
        |  CAST(MIN(cum.v) AS BIGINT) AS qhat
        |FROM cum, k WHERE cum.cm >= k.k""".stripMargin,
    // BM25 replayed: same left-associated double expression (ln
    // round-once parity), k1/b materialized as the identical division
    "q_bm25" ->
      """WITH base AS (SELECT doc_id AS id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl,
        |    unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |fil AS (SELECT * FROM base WHERE t IN ('spark', 'table', 'hash')),
        |tf AS (SELECT id, t, COUNT(*) AS tf, MAX(dl) AS dl
        |  FROM fil GROUP BY 1, 2),
        |dfc AS (SELECT t, COUNT(DISTINCT id) AS df FROM fil GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n,
        |    SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS sumlen
        |  FROM documents),
        |contrib AS (SELECT id, CAST(round(1e6 *
        |    ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |    (CAST(tf AS DOUBLE) * (CAST(1200 AS DOUBLE) / 1000.0 + 1.0)) /
        |    (CAST(tf AS DOUBLE) + CAST(1200 AS DOUBLE) / 1000.0 *
        |      (1.0 - CAST(750 AS DOUBLE) / 1000.0 + CAST(750 AS DOUBLE) / 1000.0 *
        |        (CAST(dl AS DOUBLE) / (CAST(sumlen AS DOUBLE) / CAST(n AS DOUBLE)))))
        |  ) AS BIGINT) AS c
        |  FROM tf JOIN dfc USING (t), tot),
        |scored AS (SELECT id, COUNT(*) AS n_hit, SUM(c) AS score_micro
        |  FROM contrib GROUP BY 1
        |  ORDER BY score_micro DESC, id LIMIT 10)
        |SELECT id, CAST(n_hit AS BIGINT) AS n_hit,
        |  CAST(score_micro AS BIGINT) AS score_micro,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, id) AS INT) AS rank
        |FROM scored ORDER BY rank""".stripMargin,
    // token-label MI replayed: dense term x label grid (absent labels
    // carry mass in the absent cell), per-cell round-once micro-nats
    "q_token_label_mi" ->
      """WITH pres AS (SELECT DISTINCT doc_id, lang, t FROM
        |    (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |     FROM documents) WHERE t <> ''),
        |cells AS (SELECT t, lang, COUNT(*) AS c1 FROM pres GROUP BY 1, 2),
        |tm AS (SELECT t, SUM(c1) AS nt FROM cells GROUP BY 1),
        |lm AS (SELECT lang, COUNT(*) AS nl FROM documents GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM documents),
        |grid AS (SELECT tm.t, tm.nt, lm.lang, lm.nl,
        |    COALESCE(c.c1, 0) AS c1, tot.n
        |  FROM tm CROSS JOIN lm
        |  LEFT JOIN cells c ON c.t = tm.t AND c.lang = lm.lang, tot),
        |mi AS (SELECT t, nt, SUM(
        |    CASE WHEN c1 = 0 THEN 0 ELSE CAST(round(1e6 *
        |      (CAST(c1 AS DOUBLE) / n) *
        |      ln(CAST(c1 AS DOUBLE) * n / (CAST(nt AS DOUBLE) * nl))) AS BIGINT) END
        |  + CASE WHEN nl - c1 = 0 THEN 0 ELSE CAST(round(1e6 *
        |      (CAST(nl - c1 AS DOUBLE) / n) *
        |      ln(CAST(nl - c1 AS DOUBLE) * n / (CAST(n - nt AS DOUBLE) * nl))) AS BIGINT) END
        |  ) AS mi_unats FROM grid GROUP BY 1, 2),
        |top AS (SELECT * FROM mi ORDER BY mi_unats DESC, t LIMIT 20)
        |SELECT t AS term, CAST(nt AS BIGINT) AS n_docs_with,
        |  CAST(mi_unats AS BIGINT) AS mi_unats,
        |  CAST(ROW_NUMBER() OVER (ORDER BY mi_unats DESC, t) AS INT) AS rank
        |FROM top ORDER BY rank""".stripMargin,
    // Poisson bootstrap replayed: the same mix64 stream (rep-keyed
    // golden multiples), 63-bit uniform vs the shared threshold longs
    "q_bootstrap" -> {
      val h = duckMix64(
        s"xor(event_id::HUGEINT, ((rep + 1)::HUGEINT * 11400714819323198485::HUGEINT) % $M64)")
      val u = s"(($h) % 9223372036854775808::HUGEINT)"
      val w = graft.pipeline.Stats.PoissonThresholds
        .map(tk => s"CASE WHEN $u >= ${tk}::HUGEINT THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH base AS (SELECT event_id,
         |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
         |reps AS (SELECT unnest(range(0, 16)) AS rep),
         |weighted AS (SELECT rep, v, $w AS w FROM base CROSS JOIN reps)
         |SELECT CAST(rep AS INT) AS rep, CAST(SUM(w) AS BIGINT) AS n_eff,
         |  CAST(SUM(w * v) AS BIGINT) AS sum_w,
         |  CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS BIGINT) AS mean
         |FROM weighted GROUP BY 1 ORDER BY rep""".stripMargin
    },
    // token KL replayed: add-one smoothing over the union vocabulary,
    // per-term round-once micro-nats, identical left association
    "q_token_kl" ->
      """WITH cp AS (SELECT t AS term, COUNT(*) AS p_cnt FROM
        |    (SELECT unnest(string_split(text, ' ')) AS t FROM documents
        |     WHERE source = 'src0') WHERE t <> '' GROUP BY 1),
        |cq AS (SELECT t AS term, COUNT(*) AS q_cnt FROM
        |    (SELECT unnest(string_split(text, ' ')) AS t FROM documents
        |     WHERE source <> 'src0') WHERE t <> '' GROUP BY 1),
        |j AS (SELECT COALESCE(cp.term, cq.term) AS term,
        |    COALESCE(p_cnt, 0) AS p_cnt, COALESCE(q_cnt, 0) AS q_cnt
        |  FROM cp FULL OUTER JOIN cq ON cp.term = cq.term),
        |tot AS (SELECT SUM(p_cnt) AS np, SUM(q_cnt) AS nq,
        |    COUNT(*) AS v FROM j),
        |sc AS (SELECT term, p_cnt, q_cnt, CAST(round(1e6 *
        |    ((CAST(p_cnt AS DOUBLE) + 1.0) / (np + v)) *
        |    ln(((CAST(p_cnt AS DOUBLE) + 1.0) / (np + v)) /
        |       ((CAST(q_cnt AS DOUBLE) + 1.0) / (nq + v)))) AS BIGINT)
        |    AS kl_unats
        |  FROM j, tot),
        |top AS (SELECT * FROM sc ORDER BY kl_unats DESC, term LIMIT 20)
        |SELECT term, CAST(p_cnt AS BIGINT) AS p_cnt,
        |  CAST(q_cnt AS BIGINT) AS q_cnt, kl_unats,
        |  CAST(ROW_NUMBER() OVER (ORDER BY kl_unats DESC, term) AS INT) AS rank
        |FROM top ORDER BY rank""".stripMargin,
    // source overlap replayed: the fingerprint polyroll+mix64, distinct
    // (source, fp), fp-keyed ordered self-join, truncating ppm div
    "q_source_overlap" -> {
      val poly = "list_reduce(list_prepend(0::HUGEINT, " +
        "list_transform(range(1, length(pre) + 1), " +
        s"i -> ascii(pre[i])::HUGEINT)), (a, b) -> (a * 1000003::HUGEINT + b) % $M64)"
      s"""WITH pref AS (SELECT source,
         |    array_to_string(string_split(text, ' ')[1:8], ' ') AS pre
         |  FROM documents),
         |raw AS (SELECT source, $poly AS h FROM pref),
         |fp AS (SELECT DISTINCT source, ${duckMix64("h")} AS f FROM raw),
         |sizes AS (SELECT source, COUNT(*) AS n FROM fp GROUP BY 1),
         |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
         |    COUNT(*) AS inter
         |  FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, CAST(sa.n AS BIGINT) AS n_a,
         |  CAST(sb.n AS BIGINT) AS n_b, CAST(inter AS BIGINT) AS inter,
         |  CAST(inter * 1000000 // (sa.n + sb.n - inter) AS BIGINT)
         |    AS jaccard_ppm
         |FROM pairs
         |JOIN sizes sa ON sa.source = pairs.src_a
         |JOIN sizes sb ON sb.source = pairs.src_b
         |ORDER BY src_a, src_b""".stripMargin
    },
    // Simpson screen replayed: four conditional counts per stratum,
    // rational risk-difference signs, pooled row from the stratum table
    "q_simpson" ->
      """WITH f AS (SELECT event_type AS stratum, (user_id % 2 = 0) AS g,
        |    (CAST(round(value * 100) AS BIGINT) >= 500) AS s FROM events),
        |st AS (SELECT stratum,
        |    COUNT(CASE WHEN g AND s THEN 1 END) AS a,
        |    COUNT(CASE WHEN g AND NOT s THEN 1 END) AS b,
        |    COUNT(CASE WHEN NOT g AND s THEN 1 END) AS c,
        |    COUNT(CASE WHEN NOT g AND NOT s THEN 1 END) AS d
        |  FROM f GROUP BY 1),
        |p AS (SELECT SUM(a) AS pa, SUM(b) AS pb, SUM(c) AS pc,
        |    SUM(d) AS pd FROM st)
        |SELECT stratum, a, b, c, d,
        |  CAST(sign(a * (c + d) - c * (a + b)) AS INT) AS stratum_sign,
        |  CAST(sign(pa * (pc + pd) - pc * (pa + pb)) AS INT) AS pooled_sign,
        |  (CAST(sign(a * (c + d) - c * (a + b)) AS INT) *
        |   CAST(sign(pa * (pc + pd) - pc * (pa + pb)) AS INT) = -1)
        |    AS reverses
        |FROM st, p ORDER BY stratum""".stripMargin,
    // Gini replayed: per-key counts, (count, key)-ordered ranks, the
    // exact integer Lorenz formula with truncating div
    "q_gini" ->
      """WITH c AS (SELECT source AS k, COUNT(*) AS c FROM documents
        |  GROUP BY 1),
        |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c, k) AS i FROM c)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(c) AS BIGINT) AS total,
        |  CAST((2 * SUM(i * c) - (COUNT(*) + 1) * SUM(c)) * 1000000
        |    // (COUNT(*) * SUM(c)) AS BIGINT) AS gini_ppm
        |FROM r""".stripMargin,
    // CMH replayed: per-stratum E/V contributions rounded once to
    // micro-points (margin products through doubles), exact long sums
    "q_cmh" ->
      """WITH f AS (SELECT event_type AS stratum, (user_id % 2 = 0) AS g,
        |    (CAST(round(value * 100) AS BIGINT) >= 500) AS s FROM events),
        |st AS (SELECT stratum,
        |    COUNT(CASE WHEN g AND s THEN 1 END) AS a,
        |    COUNT(CASE WHEN g AND NOT s THEN 1 END) AS b,
        |    COUNT(CASE WHEN NOT g AND s THEN 1 END) AS c,
        |    COUNT(CASE WHEN NOT g AND NOT s THEN 1 END) AS d
        |  FROM f GROUP BY 1),
        |n AS (SELECT *, a + b + c + d AS n FROM st),
        |k AS (SELECT
        |    CASE WHEN n < 2 THEN 0 ELSE CAST(round(1e6 *
        |      (a - CAST(a + b AS DOUBLE) * (a + c) / n)) AS BIGINT) END
        |      AS num_i,
        |    CASE WHEN n < 2 THEN 0 ELSE CAST(round(1e6 *
        |      (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)) /
        |      (CAST(n AS DOUBLE) * n * (n - 1))) AS BIGINT) END AS den_i
        |  FROM n),
        |t AS (SELECT COUNT(*) AS n_strata, SUM(num_i) AS ns,
        |    SUM(den_i) AS ds FROM k)
        |SELECT CAST(n_strata AS BIGINT) AS n_strata,
        |  CAST(ns AS BIGINT) AS num_micro, CAST(ds AS BIGINT) AS den_micro,
        |  CASE WHEN ds = 0 THEN NULL
        |    ELSE CAST(round(CAST(ns AS DOUBLE) * ns / ds) AS BIGINT) END
        |    AS chi2_micro,
        |  CASE WHEN ds = 0 THEN NULL
        |    ELSE CAST(round(CAST(ns AS DOUBLE) * ns / ds) AS BIGINT)
        |      > 3841459 END AS significant_95
        |FROM t""".stripMargin,
    // EWMA replayed: the same L lag reads over one per-key window,
    // weights 2^(L-1-k), absent lags excluded from both sums
    "q_ewma" -> {
      val terms = (0 until 8).map { k =>
        val wt = 1L << (7 - k)
        val l = if (k == 0) "cents" else s"LAG(cents, $k) OVER w"
        (s"CASE WHEN $l IS NOT NULL THEN $l * $wt ELSE 0 END",
          s"CASE WHEN $l IS NOT NULL THEN $wt ELSE 0 END")
      }
      s"""WITH b AS (SELECT event_type, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
         |SELECT event_type, event_id, cents,
         |  CAST((1000 * (${terms.map(_._1).mkString(" + ")}))
         |    // (${terms.map(_._2).mkString(" + ")}) AS BIGINT)
         |    AS ewma_milli
         |FROM b
         |WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
         |ORDER BY event_type, event_id""".stripMargin
    },
    // RBO replayed over the q_mrr IVF/brute CTE machinery: overlap at
    // each depth via max(rank_A, rank_B) <= d, exact 2^-d contributions
    "q_rbo" -> {
      s"""WITH ${duckLloydCtes(k = 16, iters = 10)},
         |asg AS MATERIALIZED (SELECT vv.vec_id, vv.v,
         |  (SELECT c.cell FROM c10 c ORDER BY list_distance(vv.v, c.centroid), c.cell LIMIT 1) AS cell
         |  FROM vv),
         |probes AS (SELECT * FROM (
         |    SELECT a.vec_id AS query_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY -list_dot_product(a.v, c.centroid), c.cell) AS prank
         |    FROM asg a CROSS JOIN c10 c) WHERE prank <= 4),
         |cand AS (SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
         |  FROM probes p JOIN asg n ON n.cell = p.cell AND n.vec_id <> p.query_id),
         |isims AS (SELECT c.query_id, c.neighbor_id,
         |  CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0 THEN 0.0
         |       ELSE list_dot_product(a.v, b.v)
         |            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS sim
         |  FROM cand c JOIN vv a ON a.vec_id = c.query_id JOIN vv b ON b.vec_id = c.neighbor_id),
         |ir AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM isims),
         |ivfr AS (SELECT query_id, neighbor_id, rank FROM ir WHERE rank <= 3),
         |e2 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM vv),
         |bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |        CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
         |             ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END AS sim
         |      FROM e2 a, e2 b WHERE a.vec_id <> b.vec_id),
         |br AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM bp),
         |brt AS (SELECT query_id, neighbor_id, rank FROM br WHERE rank <= 3),
         |com AS (SELECT i.query_id,
         |    GREATEST(i.rank, t.rank)::BIGINT AS m
         |  FROM ivfr i JOIN brt t ON t.query_id = i.query_id
         |    AND t.neighbor_id = i.neighbor_id),
         |dep AS (SELECT unnest(range(1, 4))::BIGINT AS d),
         |pd AS (SELECT query_id, d, COUNT(*) AS x FROM com
         |  JOIN dep ON m <= d GROUP BY 1, 2),
         |pq AS (SELECT query_id,
         |    SUM(x * 1000000 // (d * (1::BIGINT << d))) AS rbo_ppm
         |  FROM pd GROUP BY 1),
         |nc AS (SELECT query_id, COUNT(*) AS n_common FROM com GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM ivfr)
         |SELECT qs.query_id,
         |  CAST(COALESCE(nc.n_common, 0) AS BIGINT) AS n_common,
         |  CAST(COALESCE(pq.rbo_ppm, 0) AS BIGINT) AS rbo_ppm
         |FROM qs LEFT JOIN nc ON nc.query_id = qs.query_id
         |LEFT JOIN pq ON pq.query_id = qs.query_id
         |ORDER BY qs.query_id""".stripMargin
    },
    // Neyman replayed: exact integer moments, IEEE-sqrt weights rounded
    // once, least(n, budget*w div tw), mix64-ordered per-stratum take
    "q_neyman" ->
      s"""WITH m AS (SELECT source, COUNT(*) AS n, SUM(n_chars) AS s,
         |    SUM(n_chars * n_chars) AS ssq FROM documents GROUP BY 1),
         |w AS (SELECT source, n,
         |    CAST(round(sqrt(CAST(n * ssq - s * s AS DOUBLE))) AS BIGINT)
         |      AS w_h FROM m),
         |tw AS (SELECT SUM(w_h) AS tw FROM w),
         |al AS (SELECT source, n, w_h,
         |    LEAST(n, CASE WHEN tw = 0 THEN 0
         |      ELSE 200 * w_h // tw END) AS alloc FROM w, tw),
         |h AS (SELECT doc_id, source,
         |    ${duckToSigned(duckMix64("doc_id::HUGEINT"))} AS hh FROM documents),
         |r AS (SELECT doc_id, source,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id)
         |      AS rn FROM h),
         |takes AS (SELECT r.doc_id, r.source FROM r JOIN al
         |  ON al.source = r.source WHERE r.rn <= al.alloc)
         |SELECT al.source, CAST(al.w_h AS BIGINT) AS w_h,
         |  CAST(al.alloc AS BIGINT) AS alloc,
         |  CAST(COUNT(t.doc_id) AS BIGINT) AS took,
         |  CAST(SUM(t.doc_id) AS BIGINT) AS id_sum
         |FROM al JOIN takes t ON t.source = al.source
         |GROUP BY 1, 2, 3 ORDER BY al.source""".stripMargin,
    // quantile normalization replayed: within-source CEILING-division
    // inclusive-cum permille (range [1,1000] — a floor would map rare
    // low values in >1000-row groups to 0 and drop them at the grid
    // join), pooled discrete quantile at each permille 1..1000
    "q_qnorm" ->
      """WITH h AS (SELECT source AS g, n_chars AS v, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |pm AS (SELECT g, v,
        |    ((SUM(c) OVER (PARTITION BY g ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000
        |      + (SUM(c) OVER (PARTITION BY g)) - 1)
        |      // (SUM(c) OVER (PARTITION BY g)) AS src_permille
        |  FROM h),
        |ph AS (SELECT n_chars AS pv, COUNT(*) AS pc FROM documents
        |  GROUP BY 1),
        |pc AS (SELECT pv, SUM(pc) OVER (ORDER BY pv
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pcum
        |  FROM ph),
        |pt AS (SELECT COUNT(*) AS pn FROM documents),
        |grid AS (SELECT unnest(range(1, 1001)) AS pmv),
        |inv AS (SELECT pmv, MIN(pv) AS norm_score
        |  FROM pc, pt, grid WHERE pcum >= (pn * pmv + 999) // 1000
        |  GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  CAST(pm.src_permille AS BIGINT) AS src_permille,
        |  CAST(inv.norm_score AS BIGINT) AS norm_score
        |FROM documents d
        |JOIN pm ON pm.g = d.source AND pm.v = d.n_chars
        |JOIN inv ON inv.pmv = pm.src_permille
        |ORDER BY d.doc_id""".stripMargin,
    // ESS replayed: exact long moments, one round-once double ratio
    "q_ess" ->
      """WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS w
        |  FROM events),
        |m AS (SELECT COUNT(*) AS n, SUM(w) AS sw, SUM(w * w) AS sw2
        |  FROM b)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sw AS BIGINT) AS sum_w,
        |  CAST(sw2 AS BIGINT) AS sum_w2,
        |  CASE WHEN sw2 = 0 THEN NULL ELSE CAST(round(1000.0 *
        |    (CAST(sw AS DOUBLE) * sw / sw2)) AS BIGINT) END AS ess_milli
        |FROM m""".stripMargin,
    // Spearman replayed: integer double-ranks (2*cum_before + cnt + 1)
    // per distinct value, six exact long moments, one round-once rho
    "q_spearman" ->
      """WITH b AS (SELECT n_chars AS x,
        |    len(string_split(text, ' ')) AS y FROM documents),
        |hx AS (SELECT x AS v, COUNT(*) AS c FROM b GROUP BY 1),
        |rx AS (SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS dr FROM hx),
        |hy AS (SELECT y AS v, COUNT(*) AS c FROM b GROUP BY 1),
        |ry AS (SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS dr FROM hy),
        |j AS (SELECT rx.dr AS drx, ry.dr AS dry FROM b
        |  JOIN rx ON rx.v = b.x JOIN ry ON ry.v = b.y),
        |m AS (SELECT COUNT(*) AS n, SUM(drx::HUGEINT) AS sx,
        |    SUM(dry::HUGEINT) AS sy,
        |    SUM(drx::HUGEINT * dry) AS sxy, SUM(drx::HUGEINT * drx) AS sxx,
        |    SUM(dry::HUGEINT * dry) AS syy FROM j)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |    THEN NULL
        |    ELSE CAST(round(1e6 *
        |      (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) /
        |      sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT) END
        |    AS rho_micro
        |FROM m""".stripMargin,
    "q_mwu" ->
      """WITH b AS (SELECT source, (lang = 'en') AS g, n_chars AS v
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |h AS (SELECT source, v, COUNT(*) AS c,
        |    COUNT(*) FILTER (WHERE g) AS ca FROM b GROUP BY 1, 2),
        |r AS (SELECT *, 2 * COALESCE(SUM(c) OVER (PARTITION BY source
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS dr FROM h),
        |m AS (SELECT source, SUM(c)::HUGEINT AS n, SUM(ca)::HUGEINT AS na,
        |    SUM(ca::HUGEINT * dr) AS r2a,
        |    SUM(c::HUGEINT * c * c - c) AS t FROM r GROUP BY 1)
        |SELECT source, CAST(na AS BIGINT) AS n_a,
        |  CAST(n - na AS BIGINT) AS n_b,
        |  CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
        |  CASE WHEN na = 0 OR n = na
        |      OR n * n * n - n - t = 0 THEN NULL
        |    ELSE CAST(round(1e6 *
        |      CAST(r2a - na * (na + 1) - na * (n - na) AS DOUBLE) *
        |      sqrt(CAST(3 * n * (n - 1) AS DOUBLE)) /
        |      sqrt(CAST(na * (n - na) AS DOUBLE)) /
        |      sqrt(CAST(n * n * n - n - t AS DOUBLE)))
        |      AS BIGINT) END AS z_micro
        |FROM m ORDER BY source""".stripMargin,
    "q_kendall" ->
      """WITH b AS (SELECT source, n_chars // 100 AS x,
        |    len(string_split(text, ' ')) // 10 AS y FROM documents),
        |cells AS (SELECT source, x, y, COUNT(*)::HUGEINT AS c
        |  FROM b GROUP BY 1, 2, 3),
        |cd AS (SELECT a.source AS source,
        |    SUM(CASE WHEN bb.y > a.y THEN a.c * bb.c ELSE 0 END) AS nc,
        |    SUM(CASE WHEN bb.y < a.y THEN a.c * bb.c ELSE 0 END) AS nd
        |  FROM cells a JOIN cells bb ON a.source = bb.source
        |    AND bb.x > a.x AND bb.y <> a.y GROUP BY 1),
        |tot AS (SELECT source, SUM(c) AS n FROM cells GROUP BY 1),
        |m1 AS (SELECT source, SUM(tx * (tx - 1)) AS n1x2 FROM
        |  (SELECT source, x, SUM(c) AS tx FROM cells GROUP BY 1, 2)
        |  GROUP BY 1),
        |m2 AS (SELECT source, SUM(ty * (ty - 1)) AS n2x2 FROM
        |  (SELECT source, y, SUM(c) AS ty FROM cells GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT tot.source AS source, CAST(n AS BIGINT) AS n,
        |  CAST(COALESCE(nc, 0) AS BIGINT) AS nc,
        |  CAST(COALESCE(nd, 0) AS BIGINT) AS nd,
        |  CASE WHEN n * (n - 1) - n1x2 = 0 OR n * (n - 1) - n2x2 = 0
        |    THEN NULL
        |    ELSE CAST(round(2e6 *
        |      CAST(COALESCE(nc, 0) - COALESCE(nd, 0) AS DOUBLE) /
        |      sqrt(CAST(n * (n - 1) - n1x2 AS DOUBLE)) /
        |      sqrt(CAST(n * (n - 1) - n2x2 AS DOUBLE))) AS BIGINT) END
        |    AS tau_b_micro
        |FROM tot JOIN m1 USING (source) JOIN m2 USING (source)
        |LEFT JOIN cd USING (source) ORDER BY source""".stripMargin,
    "q_km" ->
      """WITH u AS (SELECT user_id,
        |    (MAX(epoch_ns(ts) // 1000) - MIN(epoch_ns(ts) // 1000))
        |      // 86400000000 AS duration,
        |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS ev
        |  FROM events GROUP BY 1),
        |c AS (SELECT user_id % 4 AS cohort, duration AS t, ev FROM u),
        |pt AS (SELECT cohort, t, COUNT(*) AS nn,
        |    CAST(COUNT(CASE WHEN ev THEN 1 END) AS BIGINT) AS d_events
        |  FROM c GROUP BY 1, 2),
        |r AS (SELECT *, SUM(nn) OVER (PARTITION BY cohort ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        |  FROM pt),
        |tm AS (SELECT *, CASE WHEN d_events = n_risk THEN 0
        |    ELSE CAST(round(1e6 * ln(CAST(n_risk - d_events AS DOUBLE) /
        |      CAST(n_risk AS DOUBLE))) AS BIGINT) END AS term FROM r)
        |SELECT cohort, t, CAST(n_risk AS BIGINT) AS n_risk, d_events,
        |  CAST(nn - d_events AS BIGINT) AS c_censored,
        |  CASE WHEN d_events = n_risk THEN NULL
        |    ELSE CAST(SUM(term) OVER (PARTITION BY cohort ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    END AS km_log_unats
        |FROM tm ORDER BY cohort, t""".stripMargin,
    "q_chi_kxm" ->
      """WITH b AS (SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS bb FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cells AS (SELECT a, bb, COUNT(*) AS o FROM b GROUP BY 1, 2),
        |ra AS (SELECT a, COUNT(*) AS ra FROM b GROUP BY 1),
        |cb AS (SELECT bb, COUNT(*) AS cb FROM b GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS nn FROM b),
        |grid AS (SELECT ra.a, cb.bb, ra.ra, cb.cb,
        |    COALESCE(cells.o, 0) AS o, nn
        |  FROM ra CROSS JOIN cb
        |  LEFT JOIN cells ON cells.a = ra.a AND cells.bb = cb.bb, tot),
        |tm AS (SELECT *, CAST(round(1e9 *
        |    CAST((o::HUGEINT * nn - ra::HUGEINT * cb) *
        |         (o::HUGEINT * nn - ra::HUGEINT * cb) AS DOUBLE) /
        |    CAST(nn::HUGEINT * ra * cb AS DOUBLE)) AS BIGINT) AS t
        |  FROM grid)
        |SELECT CAST(MAX(nn) AS BIGINT) AS n,
        |  COUNT(DISTINCT a) AS k_levels, COUNT(DISTINCT bb) AS m_levels,
        |  (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT bb) - 1) AS dof,
        |  CAST(SUM(t) AS BIGINT) AS chi2_nano,
        |  CASE WHEN MAX(nn) = 0 OR COUNT(DISTINCT a) < 2
        |      OR COUNT(DISTINCT bb) < 2 THEN NULL
        |    ELSE CAST(round(1e6 * sqrt(CAST(SUM(t) AS DOUBLE) / 1e9 /
        |      (CAST(MAX(nn) AS DOUBLE) *
        |       LEAST(COUNT(DISTINCT a) - 1, COUNT(DISTINCT bb) - 1))))
        |      AS BIGINT) END AS v_micro
        |FROM tm""".stripMargin,
    "q_mutual_info" ->
      """WITH b AS (SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS bb FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cells AS (SELECT a, bb, COUNT(*) AS o FROM b GROUP BY 1, 2),
        |ra AS (SELECT a, COUNT(*) AS ra FROM b GROUP BY 1),
        |cb AS (SELECT bb, COUNT(*) AS cb FROM b GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS nn FROM b),
        |g AS (SELECT cells.*, ra.ra, cb.cb, nn FROM cells
        |  JOIN ra USING (a) JOIN cb USING (bb), tot),
        |mi AS (SELECT MAX(nn) AS nn, COUNT(DISTINCT a) AS k,
        |    COUNT(DISTINCT bb) AS m,
        |    SUM(CAST(round(1e9 * CAST(o AS DOUBLE) / CAST(nn AS DOUBLE) *
        |      ln(CAST(o::HUGEINT * nn AS DOUBLE) /
        |         CAST(ra::HUGEINT * cb AS DOUBLE))) AS BIGINT)) AS minano
        |  FROM g),
        |ha AS (SELECT SUM(CAST(round(-1e9 *
        |    CAST(ra AS DOUBLE) / CAST(nn AS DOUBLE) *
        |    ln(CAST(ra AS DOUBLE) / CAST(nn AS DOUBLE))) AS BIGINT))
        |    AS hnano FROM ra, tot)
        |SELECT CAST(nn AS BIGINT) AS n, k AS k_levels, m AS m_levels,
        |  CAST(minano AS BIGINT) AS mi_nano_nats,
        |  CAST(hnano AS BIGINT) AS h_a_nano_nats,
        |  CASE WHEN hnano <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * CAST(minano AS DOUBLE) /
        |      CAST(hnano AS DOUBLE)) AS BIGINT) END AS u_micro
        |FROM mi, ha""".stripMargin,
    "q_acf" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |l AS (SELECT user_id, x,
        |    LAG(x, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS l1,
        |    LAG(x, 2) OVER (PARTITION BY user_id ORDER BY event_id) AS l2,
        |    LAG(x, 3) OVER (PARTITION BY user_id ORDER BY event_id) AS l3
        |  FROM e),
        |m AS (SELECT user_id, COUNT(*)::HUGEINT AS n, SUM(x)::HUGEINT AS s,
        |    SUM(x::HUGEINT * x) AS q,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN x::HUGEINT * l1 ELSE 0 END) AS xx1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN l1 ELSE 0 END)::HUGEINT AS sh1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN x ELSE 0 END)::HUGEINT AS st1,
        |    COUNT(CASE WHEN l1 IS NOT NULL THEN 1 END)::HUGEINT AS np1,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN x::HUGEINT * l2 ELSE 0 END) AS xx2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN l2 ELSE 0 END)::HUGEINT AS sh2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN x ELSE 0 END)::HUGEINT AS st2,
        |    COUNT(CASE WHEN l2 IS NOT NULL THEN 1 END)::HUGEINT AS np2,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN x::HUGEINT * l3 ELSE 0 END) AS xx3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN l3 ELSE 0 END)::HUGEINT AS sh3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN x ELSE 0 END)::HUGEINT AS st3,
        |    COUNT(CASE WHEN l3 IS NOT NULL THEN 1 END)::HUGEINT AS np3
        |  FROM l GROUP BY 1),
        |u AS (SELECT user_id, 1 AS lag, np1 AS np, xx1 AS xx, sh1 AS sh,
        |    st1 AS st, n, s, q FROM m
        |  UNION ALL SELECT user_id, 2, np2, xx2, sh2, st2, n, s, q FROM m
        |  UNION ALL SELECT user_id, 3, np3, xx3, sh3, st3, n, s, q FROM m)
        |SELECT user_id, lag, CAST(np AS BIGINT) AS n_pairs,
        |  CASE WHEN n * n * q - n * s * s = 0 OR np = 0 THEN NULL
        |    ELSE CAST(round(1e6 *
        |      CAST(n * n * xx - n * s * (sh + st) + (n - lag) * s * s
        |        AS DOUBLE) /
        |      CAST(n * n * q - n * s * s AS DOUBLE)) AS BIGINT)
        |    END AS r_micro
        |FROM u ORDER BY user_id, lag""".stripMargin,
    "q_durbin_watson" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |l AS (SELECT user_id, x,
        |    LAG(x, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS lx
        |  FROM e),
        |m AS (SELECT user_id, COUNT(*) AS n, SUM(x::HUGEINT * x) AS den,
        |    COALESCE(SUM(CASE WHEN lx IS NOT NULL
        |      THEN (x - lx)::HUGEINT * (x - lx) ELSE 0 END), 0) AS num
        |  FROM l GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n < 2 OR den = 0 THEN NULL
        |    ELSE CAST(round(1e6 * CAST(num AS DOUBLE) /
        |      CAST(den AS DOUBLE)) AS BIGINT) END AS dw_micro
        |FROM m ORDER BY user_id""".stripMargin,
    "q_runs_test" ->
      """WITH e AS (SELECT user_id, event_id,
        |    (CAST(round(value * 100) AS BIGINT) > 50) AS x FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |l AS (SELECT user_id, x,
        |    LAG(x, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS lx
        |  FROM e),
        |m AS (SELECT user_id,
        |    COUNT(CASE WHEN x THEN 1 END) AS n_pos,
        |    COUNT(CASE WHEN NOT x THEN 1 END) AS n_neg,
        |    SUM(CASE WHEN lx IS NULL OR lx <> x THEN 1 ELSE 0 END) AS runs
        |  FROM l GROUP BY 1),
        |z AS (SELECT user_id, n_pos, n_neg, runs,
        |    2::HUGEINT * n_pos * n_neg *
        |      (2::HUGEINT * n_pos * n_neg - (n_pos + n_neg)) AS var_num,
        |    2::HUGEINT * n_pos * n_neg + (n_pos + n_neg) AS mu_num,
        |    (n_pos + n_neg)::HUGEINT AS n FROM m)
        |SELECT user_id, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_neg AS BIGINT) AS n_neg, CAST(runs AS BIGINT) AS runs,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 OR n < 2 OR var_num <= 0
        |    THEN NULL
        |    ELSE CAST(round(1e6 * (CAST(runs AS DOUBLE) -
        |        CAST(mu_num AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      sqrt(CAST(var_num AS DOUBLE) /
        |        CAST(n * n * (n - 1) AS DOUBLE))) AS BIGINT)
        |    END AS z_micro
        |FROM z ORDER BY user_id""".stripMargin,
    "q_ljung_box" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |l AS (SELECT user_id, x,
        |    LAG(x, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS l1,
        |    LAG(x, 2) OVER (PARTITION BY user_id ORDER BY event_id) AS l2,
        |    LAG(x, 3) OVER (PARTITION BY user_id ORDER BY event_id) AS l3
        |  FROM e),
        |m AS (SELECT user_id, COUNT(*)::HUGEINT AS n, SUM(x)::HUGEINT AS s,
        |    SUM(x::HUGEINT * x) AS q,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN x::HUGEINT * l1 ELSE 0 END) AS xx1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN l1 ELSE 0 END)::HUGEINT AS sh1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN x ELSE 0 END)::HUGEINT AS st1,
        |    COUNT(CASE WHEN l1 IS NOT NULL THEN 1 END)::HUGEINT AS np1,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN x::HUGEINT * l2 ELSE 0 END) AS xx2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN l2 ELSE 0 END)::HUGEINT AS sh2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN x ELSE 0 END)::HUGEINT AS st2,
        |    COUNT(CASE WHEN l2 IS NOT NULL THEN 1 END)::HUGEINT AS np2,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN x::HUGEINT * l3 ELSE 0 END) AS xx3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN l3 ELSE 0 END)::HUGEINT AS sh3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN x ELSE 0 END)::HUGEINT AS st3,
        |    COUNT(CASE WHEN l3 IS NOT NULL THEN 1 END)::HUGEINT AS np3
        |  FROM l GROUP BY 1),
        |u AS (SELECT user_id, 1 AS lag, np1 AS np, xx1 AS xx, sh1 AS sh,
        |    st1 AS st, n, s, q FROM m
        |  UNION ALL SELECT user_id, 2, np2, xx2, sh2, st2, n, s, q FROM m
        |  UNION ALL SELECT user_id, 3, np3, xx3, sh3, st3, n, s, q FROM m),
        |r AS (SELECT user_id, lag, np,
        |    CASE WHEN n * n * q - n * s * s = 0 OR np = 0 THEN NULL
        |      ELSE CAST(round(1e6 *
        |        CAST(n * n * xx - n * s * (sh + st) + (n - lag) * s * s
        |          AS DOUBLE) /
        |        CAST(n * n * q - n * s * s AS DOUBLE)) AS BIGINT)
        |      END AS r_micro FROM u),
        |t AS (SELECT user_id,
        |    COALESCE(SUM(CASE WHEN r_micro IS NULL THEN 0
        |      ELSE (r_micro::HUGEINT * r_micro * 1000000) // np END), 0) AS s,
        |    COUNT(*) AS h,
        |    MAX(CASE WHEN lag = 1 THEN np END) + 1 AS n
        |  FROM r GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(h AS BIGINT) AS h,
        |  CASE WHEN n <= h THEN NULL
        |    ELSE CAST(round(CAST(n::HUGEINT * (n + 2) AS DOUBLE) *
        |      CAST(s AS DOUBLE) / 1e12) AS BIGINT) END AS q_micro
        |FROM t ORDER BY user_id""".stripMargin,
    "q_jarque_bera" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL),
        |m AS (SELECT event_type, COUNT(*)::HUGEINT AS n,
        |    SUM(v)::HUGEINT AS s1, SUM(v::HUGEINT * v) AS s2,
        |    SUM(v::HUGEINT * v * v) AS s3,
        |    SUM(v::HUGEINT * v * v * v) AS s4
        |  FROM e GROUP BY 1),
        |c AS (SELECT event_type, n,
        |    n * s2 - s1 * s1 AS m2,
        |    n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3,
        |    n * n * n * s4 - 4 * n * n * s1 * s3
        |      + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS m4
        |  FROM m),
        |d AS (SELECT event_type, n, m2,
        |    CAST(m3 AS DOUBLE) /
        |      (CAST(m2 AS DOUBLE) * sqrt(CAST(m2 AS DOUBLE))) AS sk,
        |    CAST(m4 AS DOUBLE) /
        |      (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) - 3.0 AS ku
        |  FROM c)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n < 2 OR m2 <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * sk) AS BIGINT) END AS skew_micro,
        |  CASE WHEN n < 2 OR m2 <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * ku) AS BIGINT) END AS kurt_micro,
        |  CASE WHEN n < 2 OR m2 <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * CAST(n AS DOUBLE) / 6.0 *
        |      (sk * sk + ku * ku / 4.0)) AS BIGINT) END AS jb_micro
        |FROM d ORDER BY event_type""".stripMargin,
    "q_cochran_q" ->
      """WITH e AS (SELECT user_id % 2 AS cohort, user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |y AS (SELECT cohort, user_id, event_type, (MAX(v) > 50) AS y
        |  FROM e GROUP BY 1, 2, 3),
        |u AS (SELECT DISTINCT cohort, user_id FROM e),
        |tt AS (SELECT DISTINCT event_type FROM e),
        |g AS (SELECT u.cohort, u.user_id, tt.event_type,
        |    COALESCE(y.y, false) AS y
        |  FROM u CROSS JOIN tt LEFT JOIN y ON y.cohort = u.cohort
        |    AND y.user_id = u.user_id AND y.event_type = tt.event_type),
        |it AS (SELECT cohort, user_id,
        |    COUNT(CASE WHEN y THEN 1 END) AS li FROM g GROUP BY 1, 2),
        |i AS (SELECT cohort, COUNT(*) AS n_items, SUM(li)::HUGEINT AS sl,
        |    SUM(li::HUGEINT * li) AS sl2 FROM it GROUP BY 1),
        |tr AS (SELECT cohort, event_type,
        |    COUNT(CASE WHEN y THEN 1 END) AS gj FROM g GROUP BY 1, 2),
        |ts AS (SELECT cohort, SUM(gj)::HUGEINT AS sg,
        |    SUM(gj::HUGEINT * gj) AS sg2 FROM tr GROUP BY 1),
        |kk AS (SELECT cohort, COUNT(DISTINCT event_type) AS k
        |  FROM g GROUP BY 1)
        |SELECT i.cohort, CAST(n_items AS BIGINT) AS n_items,
        |  CAST(k AS BIGINT) AS k,
        |  CASE WHEN k < 2 OR k::HUGEINT * sl - sl2 <= 0 THEN NULL
        |    ELSE CAST(round(1e6 *
        |      CAST((k - 1)::HUGEINT * (k * sg2 - sg * sg) AS DOUBLE) /
        |      CAST(k::HUGEINT * sl - sl2 AS DOUBLE)) AS BIGINT)
        |    END AS q_micro
        |FROM i JOIN ts ON i.cohort = ts.cohort
        |  JOIN kk ON i.cohort = kk.cohort
        |ORDER BY i.cohort""".stripMargin,
    "q_bartlett" ->
      """WITH e AS (SELECT user_id % 4 AS cohort, event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |gm AS (SELECT cohort, g, COUNT(*)::HUGEINT AS ng,
        |    SUM(v)::HUGEINT AS sg, SUM(v::HUGEINT * v) AS qg
        |  FROM e GROUP BY 1, 2),
        |t0 AS (SELECT cohort, ng, ng * qg - sg * sg AS ssn FROM gm),
        |tt AS (SELECT cohort, ng, ssn,
        |    CASE WHEN ng < 2 OR ssn <= 0 THEN NULL
        |      ELSE CAST(round(1e9 * CAST(ng - 1 AS DOUBLE) *
        |        ln(CAST(ssn AS DOUBLE) / CAST(ng * (ng - 1) AS DOUBLE)))
        |        AS HUGEINT) END AS lnterm,
        |    CAST(round(1e9 * CAST(ssn AS DOUBLE) / CAST(ng AS DOUBLE))
        |      AS HUGEINT) AS tnano,
        |    CASE WHEN ng < 2 THEN NULL
        |      ELSE CAST(round(1e9 / CAST(ng - 1 AS DOUBLE)) AS BIGINT)
        |      END AS inv
        |  FROM t0),
        |m AS (SELECT cohort, COUNT(*) AS k, SUM(ng) AS n, MIN(ng) AS minn,
        |    MIN(ssn) AS minssn, SUM(lnterm) AS lt, SUM(tnano) AS ssw,
        |    SUM(inv) AS invs
        |  FROM tt GROUP BY 1)
        |SELECT cohort, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  CASE WHEN k < 2 OR minn < 2 OR minssn <= 0 OR ssw <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * (CAST(n - k AS DOUBLE) *
        |        (ln(CAST(ssw AS DOUBLE)) - ln(1e9 * CAST(n - k AS DOUBLE)))
        |        - CAST(lt AS DOUBLE) / 1e9) /
        |      (1.0 + (CAST(invs AS DOUBLE) / 1e9 -
        |        1.0 / CAST(n - k AS DOUBLE)) /
        |        (3.0 * CAST(k - 1 AS DOUBLE)))) AS BIGINT)
        |    END AS chi2_micro
        |FROM m ORDER BY cohort""".stripMargin,
    "q_moods_median" ->
      """WITH e AS (SELECT user_id % 4 AS cohort, event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |dv AS (SELECT cohort, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (SELECT cohort, v,
        |    SUM(c) OVER (PARTITION BY cohort ORDER BY v) AS cm,
        |    SUM(c) OVER (PARTITION BY cohort) AS nn FROM dv),
        |md AS (SELECT cohort, MIN(v) AS med FROM cum
        |  WHERE 2 * cm >= nn GROUP BY 1),
        |f AS (SELECT e.cohort, g, (v > med) AS ab
        |  FROM e JOIN md ON e.cohort = md.cohort),
        |cl AS (SELECT cohort, g, ab, COUNT(*) AS o FROM f GROUP BY 1, 2, 3),
        |rr AS (SELECT cohort, g, COUNT(*) AS r FROM f GROUP BY 1, 2),
        |cm2 AS (SELECT cohort, ab, COUNT(*) AS ccc FROM f GROUP BY 1, 2),
        |nn AS (SELECT cohort, COUNT(*) AS n FROM f GROUP BY 1),
        |gr AS (SELECT rr.cohort, rr.g, cm2.ab, rr.r, cm2.ccc,
        |    COALESCE(cl.o, 0) AS o, nn.n
        |  FROM rr JOIN cm2 ON rr.cohort = cm2.cohort
        |    JOIN nn ON rr.cohort = nn.cohort
        |    LEFT JOIN cl ON cl.cohort = rr.cohort AND cl.g = rr.g
        |      AND cl.ab = cm2.ab),
        |sm AS (SELECT cohort, MAX(n) AS n, COUNT(DISTINCT g) AS kg,
        |    COUNT(DISTINCT ab) AS ml,
        |    SUM(CAST(round(1e9 *
        |      CAST((o::HUGEINT * n - r::HUGEINT * ccc) *
        |        (o::HUGEINT * n - r::HUGEINT * ccc) AS DOUBLE) /
        |      CAST(n::HUGEINT * r * ccc AS DOUBLE)) AS HUGEINT)) AS chi2n
        |  FROM gr GROUP BY 1)
        |SELECT sm.cohort, CAST(n AS BIGINT) AS n, med,
        |  CAST(kg AS BIGINT) AS k_groups, CAST(kg - 1 AS BIGINT) AS dof,
        |  CASE WHEN kg < 2 OR ml < 2 THEN NULL
        |    ELSE CAST(round(CAST(chi2n AS DOUBLE) / 1e3) AS BIGINT)
        |    END AS chi2_micro
        |FROM sm JOIN md ON sm.cohort = md.cohort
        |ORDER BY sm.cohort""".stripMargin,
    "q_theil" ->
      """WITH e AS (SELECT source, n_chars AS v FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0),
        |h AS (SELECT source, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |t AS (SELECT source, c, v,
        |    CAST(round(1e9 * CAST(c::HUGEINT * v AS DOUBLE) *
        |      ln(CAST(v AS DOUBLE))) AS HUGEINT) AS tn,
        |    CAST(round(1e9 * CAST(c AS DOUBLE) *
        |      ln(CAST(v AS DOUBLE))) AS HUGEINT) AS gn
        |  FROM h),
        |m AS (SELECT source, SUM(c)::HUGEINT AS n, SUM(c::HUGEINT * v) AS s,
        |    SUM(tn) AS lsum, SUM(gn) AS gsum FROM t GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  CAST(round(1e6 * (CAST(lsum AS DOUBLE) / 1e9 /
        |    CAST(s AS DOUBLE) -
        |    ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))) AS BIGINT)
        |    AS theil_micro,
        |  CAST(round(1e6 * (1.0 - exp(CAST(gsum AS DOUBLE) / 1e9 /
        |    CAST(n AS DOUBLE) -
        |    ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))) AS BIGINT)
        |    AS atkinson_micro
        |FROM m ORDER BY source""".stripMargin,
    "q_trimmed_mean" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL),
        |h AS (SELECT event_type, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cw AS (SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM h),
        |g AS (SELECT *, (n * 100000) // 1000000 AS gg FROM cw),
        |k AS (SELECT event_type, n, gg, v,
        |    GREATEST(LEAST(cum, n - gg) - GREATEST(cum - c, gg), 0) AS kept
        |  FROM g),
        |m AS (SELECT event_type, MAX(n) AS n, MAX(gg) AS gm,
        |    SUM(kept::HUGEINT * v) AS ks FROM k GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(n - 2 * gm AS BIGINT) AS trimmed_n,
        |  CASE WHEN n - 2 * gm <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * CAST(ks AS DOUBLE) /
        |      CAST(n - 2 * gm AS DOUBLE)) AS BIGINT)
        |    END AS trimmed_mean_micro
        |FROM m ORDER BY event_type""".stripMargin,
    "q_page_hinkley" ->
      """WITH e AS (SELECT user_id AS k, event_id AS t,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |w AS (SELECT k, t, x,
        |    SUM(x) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |    COUNT(*) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
        |  FROM e),
        |tm AS (SELECT k, t, cn,
        |    CAST(round(1e6 * (CAST(x AS DOUBLE) -
        |      CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE))) AS BIGINT) AS term
        |  FROM w),
        |mm AS (SELECT k, t, cn,
        |    SUM(term) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM tm),
        |mn AS (SELECT k, t, cn, m,
        |    MIN(m) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minm
        |  FROM mm)
        |SELECT k AS user_id, CAST(cn AS BIGINT) AS n,
        |  CAST(m AS BIGINT) AS m_micro,
        |  CAST(m - minm AS BIGINT) AS ph_micro,
        |  (m - minm > 2000000) AS alarm
        |FROM mn QUALIFY row_number() OVER (PARTITION BY k
        |  ORDER BY t DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "q_cronbach" ->
      """WITH e AS (SELECT user_id % 2 AS cohort, user_id, event_type
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |cnt AS (SELECT cohort, user_id, event_type, COUNT(*) AS score
        |  FROM e GROUP BY 1, 2, 3),
        |u AS (SELECT DISTINCT cohort, user_id FROM e),
        |tt AS (SELECT DISTINCT event_type FROM e),
        |g AS (SELECT u.cohort, u.user_id, tt.event_type,
        |    COALESCE(cnt.score, 0) AS x
        |  FROM u CROSS JOIN tt LEFT JOIN cnt ON cnt.cohort = u.cohort
        |    AND cnt.user_id = u.user_id AND cnt.event_type = tt.event_type),
        |im AS (SELECT cohort, event_type, COUNT(*)::HUGEINT AS n,
        |    SUM(x)::HUGEINT AS si, SUM(x::HUGEINT * x) AS qi
        |  FROM g GROUP BY 1, 2),
        |ii AS (SELECT cohort, SUM(n * qi - si * si) AS ssi
        |  FROM im GROUP BY 1),
        |sj AS (SELECT cohort, user_id, SUM(x) AS tot
        |  FROM g GROUP BY 1, 2),
        |tm AS (SELECT cohort, COUNT(*)::HUGEINT AS ns,
        |    SUM(tot)::HUGEINT AS st, SUM(tot::HUGEINT * tot) AS qt
        |  FROM sj GROUP BY 1),
        |tv AS (SELECT cohort, ns, ns * qt - st * st AS sst FROM tm),
        |kk AS (SELECT cohort, COUNT(DISTINCT event_type) AS k
        |  FROM g GROUP BY 1)
        |SELECT ii.cohort, CAST(ns AS BIGINT) AS n_subjects,
        |  CAST(k AS BIGINT) AS k_items,
        |  CASE WHEN k < 2 OR sst <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * CAST(k AS DOUBLE) /
        |      (CAST(k AS DOUBLE) - 1.0) *
        |      (1.0 - CAST(ssi AS DOUBLE) / CAST(sst AS DOUBLE)))
        |      AS BIGINT) END AS alpha_micro
        |FROM ii JOIN tv ON ii.cohort = tv.cohort
        |  JOIN kk ON ii.cohort = kk.cohort
        |ORDER BY ii.cohort""".stripMargin,
    "q_g_test" ->
      """WITH b AS (SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS bb FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cells AS (SELECT a, bb, COUNT(*) AS o FROM b GROUP BY 1, 2),
        |ra AS (SELECT a, COUNT(*) AS rra FROM b GROUP BY 1),
        |cb AS (SELECT bb, COUNT(*) AS ccb FROM b GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS nn FROM b),
        |t AS (SELECT CAST(round(2e9 * CAST(o AS DOUBLE) *
        |      ln(CAST(o::HUGEINT * nn AS DOUBLE) /
        |        CAST(rra::HUGEINT * ccb AS DOUBLE))) AS BIGINT) AS tm,
        |    a, bb, nn
        |  FROM cells JOIN ra USING (a) JOIN cb USING (bb), tot)
        |SELECT CAST(MAX(nn) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT a) AS BIGINT) AS k_levels,
        |  CAST(COUNT(DISTINCT bb) AS BIGINT) AS m_levels,
        |  CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT bb) - 1)
        |    AS BIGINT) AS dof,
        |  CAST(SUM(tm) AS BIGINT) AS g_nano,
        |  CASE WHEN (COUNT(DISTINCT a) - 1) *
        |      (COUNT(DISTINCT bb) - 1) <> 1 THEN NULL
        |    ELSE SUM(tm) > 3841458821 END AS significant_95
        |FROM t""".stripMargin,
    "q_corr_compare" ->
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS g,
        |    CAST(round(value * 100) AS BIGINT) AS x,
        |    CAST(round(value * 100) AS BIGINT) + (event_id % 21) - 10
        |      AS y FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL),
        |m AS (SELECT event_type,
        |    COUNT(CASE WHEN g THEN 1 END)::HUGEINT AS na,
        |    COALESCE(SUM(CASE WHEN g THEN x END), 0)::HUGEINT AS sxa,
        |    COALESCE(SUM(CASE WHEN g THEN y END), 0)::HUGEINT AS sya,
        |    COALESCE(SUM(CASE WHEN g THEN x::HUGEINT * y END), 0) AS sxya,
        |    COALESCE(SUM(CASE WHEN g THEN x::HUGEINT * x END), 0) AS sxxa,
        |    COALESCE(SUM(CASE WHEN g THEN y::HUGEINT * y END), 0) AS syya,
        |    COUNT(CASE WHEN NOT g THEN 1 END)::HUGEINT AS nb,
        |    COALESCE(SUM(CASE WHEN NOT g THEN x END), 0)::HUGEINT AS sxb,
        |    COALESCE(SUM(CASE WHEN NOT g THEN y END), 0)::HUGEINT AS syb,
        |    COALESCE(SUM(CASE WHEN NOT g THEN x::HUGEINT * y END), 0)
        |      AS sxyb,
        |    COALESCE(SUM(CASE WHEN NOT g THEN x::HUGEINT * x END), 0)
        |      AS sxxb,
        |    COALESCE(SUM(CASE WHEN NOT g THEN y::HUGEINT * y END), 0)
        |      AS syyb
        |  FROM e GROUP BY 1),
        |d AS (SELECT *,
        |    CAST(na * sxya - sxa * sya AS DOUBLE) /
        |      (sqrt(CAST(na * sxxa - sxa * sxa AS DOUBLE)) *
        |       sqrt(CAST(na * syya - sya * sya AS DOUBLE))) AS ra,
        |    CAST(nb * sxyb - sxb * syb AS DOUBLE) /
        |      (sqrt(CAST(nb * sxxb - sxb * sxb AS DOUBLE)) *
        |       sqrt(CAST(nb * syyb - syb * syb AS DOUBLE))) AS rb,
        |    (na <= 3 OR nb <= 3 OR na * sxxa - sxa * sxa <= 0
        |      OR na * syya - sya * sya <= 0
        |      OR nb * sxxb - sxb * sxb <= 0
        |      OR nb * syyb - syb * syb <= 0) AS bad
        |  FROM m)
        |SELECT event_type, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN bad THEN NULL
        |    ELSE CAST(round(1e6 * ra) AS BIGINT) END AS r_a_micro,
        |  CASE WHEN bad THEN NULL
        |    ELSE CAST(round(1e6 * rb) AS BIGINT) END AS r_b_micro,
        |  CASE WHEN bad OR abs(ra) >= 0.9999995 OR abs(rb) >= 0.9999995
        |    THEN NULL
        |    ELSE CAST(round(1e6 *
        |      (0.5 * ln((1.0 + ra) / (1.0 - ra)) -
        |       0.5 * ln((1.0 + rb) / (1.0 - rb))) /
        |      sqrt(1.0 / (CAST(na AS DOUBLE) - 3.0) +
        |        1.0 / (CAST(nb AS DOUBLE) - 3.0))) AS BIGINT)
        |    END AS z_micro
        |FROM d ORDER BY event_type""".stripMargin,
    "q_brier" ->
      """WITH e AS (SELECT event_type,
        |    GREATEST(LEAST(CAST(round(value * 100) AS BIGINT)
        |      * 10000, 1000000), 0) AS p,
        |    event_id % 2 = 0 AS y FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |m AS (SELECT event_type, COUNT(*) AS n,
        |    COUNT(CASE WHEN y THEN 1 END) AS pos,
        |    SUM((p - CASE WHEN y THEN 1000000 ELSE 0 END)::HUGEINT *
        |      (p - CASE WHEN y THEN 1000000 ELSE 0 END)) AS ss
        |  FROM e GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(round(1e6 * CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS BIGINT) AS base_rate_ppm,
        |  CAST(round(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
        |    AS BIGINT) AS brier_micro,
        |  CAST(round(1e6 * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)
        |    AS brier_ref_micro
        |FROM m ORDER BY event_type""".stripMargin,
    "q_cohens_h" ->
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS g,
        |    CAST(round(value * 100) AS BIGINT) > 50 AS s FROM events),
        |m AS (SELECT event_type,
        |    COUNT(CASE WHEN g THEN 1 END) AS n_a,
        |    COUNT(CASE WHEN g AND s THEN 1 END) AS s_a,
        |    COUNT(CASE WHEN NOT g THEN 1 END) AS n_b,
        |    COUNT(CASE WHEN NOT g AND s THEN 1 END) AS s_b
        |  FROM e GROUP BY 1)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(s_a AS BIGINT) AS s_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(s_b AS BIGINT) AS s_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |    ELSE CAST(round(1e6 * (
        |      2.0 * asin(sqrt(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
        |      - 2.0 * asin(sqrt(CAST(s_b AS DOUBLE) /
        |        CAST(n_b AS DOUBLE))))) AS BIGINT)
        |    END AS h_micro
        |FROM m ORDER BY event_type""".stripMargin,
    "q_by_fdr" ->
      """WITH p AS (SELECT source, lang,
        |    CAST(SUM(n_chars) % 1000000 AS BIGINT) AS p_micro
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER
        |    (ORDER BY p_micro, source, lang) AS BIGINT) AS rank,
        |    COUNT(*) OVER () AS m FROM p),
        |h AS (SELECT SUM(CAST(round(1e9 / CAST(rank AS DOUBLE))
        |    AS BIGINT)) AS hh FROM r),
        |k AS (SELECT MAX(CASE WHEN p_micro::HUGEINT * m * hh <=
        |      rank::HUGEINT * 50000 * 1000000000 THEN rank END) AS k_star,
        |    MAX(m) AS m0 FROM r, h)
        |SELECT source, lang, p_micro, rank,
        |  CAST(m0 AS BIGINT) AS m_tests, CAST(k_star AS BIGINT) AS k_star,
        |  (k_star IS NOT NULL AND rank <= k_star) AS reject
        |FROM r, k ORDER BY rank""".stripMargin,
    "q_pairwise_welch" ->
      """WITH e AS (SELECT user_id % 2 AS cohort, event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT cohort, g, COUNT(*)::HUGEINT AS n,
        |    SUM(v)::HUGEINT AS s, SUM(v::HUGEINT * v) AS q
        |  FROM e GROUP BY 1, 2),
        |pr AS (SELECT a.cohort, a.g AS g_a, b.g AS g_b,
        |    a.n AS na, a.s AS sa, a.q AS qa,
        |    b.n AS nb, b.s AS sb, b.q AS qb
        |  FROM m a JOIN m b ON a.cohort = b.cohort AND a.g < b.g),
        |d AS (SELECT cohort, g_a, g_b, na, nb,
        |    CAST(na * qa - sa * sa AS DOUBLE) /
        |      CAST(na * na * (na - 1) AS DOUBLE) AS va,
        |    CAST(nb * qb - sb * sb AS DOUBLE) /
        |      CAST(nb * nb * (nb - 1) AS DOUBLE) AS vb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb
        |  FROM pr)
        |SELECT cohort, g_a, g_b, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN na < 2 OR nb < 2 OR va + vb = 0 THEN NULL
        |    ELSE CAST(round(1e6 * (ma - mb) / sqrt(va + vb)) AS BIGINT)
        |    END AS t_micro,
        |  CASE WHEN na < 2 OR nb < 2 OR
        |      va * va / (CAST(na AS DOUBLE) - 1.0) +
        |      vb * vb / (CAST(nb AS DOUBLE) - 1.0) = 0 THEN NULL
        |    ELSE CAST(round(1e3 * (va + vb) * (va + vb) /
        |      (va * va / (CAST(na AS DOUBLE) - 1.0) +
        |       vb * vb / (CAST(nb AS DOUBLE) - 1.0))) AS BIGINT)
        |    END AS df_milli
        |FROM d ORDER BY cohort, g_a, g_b""".stripMargin,
    // NON-NEGATIVE VALUE ASSUMPTION (r19 advice): DuckDB `//` is floor
    // division while Spark-side `div` truncates toward zero — identical
    // on vc >= 0 (events.value >= 0.01 across the fixtures, same
    // convention as q_drift_monitor) but divergent on negative values
    // with step > 1. If the fixture ever carries negative cents, make
    // both sides explicit floor division.
    "q_quantile_monitor" ->
      """WITH e0 AS (SELECT user_id % 4 AS k,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |dv AS (SELECT DISTINCT k, vc FROM e0),
        |pk AS (SELECT k, s, COUNT(DISTINCT vc // s) AS nb FROM dv
        |  CROSS JOIN (VALUES (1::BIGINT),(10),(100),(1000),(10000),
        |    (100000),(1000000),(10000000),(100000000),(1000000000),
        |    (10000000000),(100000000000),(1000000000000),
        |    (10000000000000),(100000000000000),(1000000000000000),
        |    (10000000000000000),(100000000000000000),
        |    (1000000000000000000)) t(s) GROUP BY 1, 2),
        |bins AS (SELECT s, MAX(nb) AS mb FROM pk GROUP BY 1),
        |st AS (SELECT CASE WHEN MIN(s) IS NULL THEN error(
        |    'q_quantile_monitor oracle: no quantize step fits 4096 bins')
        |  ELSE MIN(s) END AS step FROM bins WHERE mb <= 4096),
        |e AS (SELECT k, vc // step AS v FROM e0, st),
        |h AS (SELECT k, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cw AS (SELECT *, SUM(c) OVER (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume,
        |    SUM(c) OVER (PARTITION BY k) AS n FROM h)
        |SELECT k AS key, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cume * 1000 >= n * 500 THEN v END)
        |    * MAX(step) AS BIGINT) AS p500,
        |  CAST(MIN(CASE WHEN cume * 1000 >= n * 900 THEN v END)
        |    * MAX(step) AS BIGINT) AS p900,
        |  CAST(MIN(CASE WHEN cume * 1000 >= n * 990 THEN v END)
        |    * MAX(step) AS BIGINT) AS p990
        |FROM cw, st GROUP BY 1 ORDER BY key""".stripMargin,
    "q_sample_per_key" ->
      s"""WITH p AS (SELECT event_type, event_id,
         |    ${duckToSigned(duckMix64("event_id::HUGEINT") + " % 9223372036854775808::HUGEINT")} AS priority
         |  FROM events),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY priority, event_id) AS rn FROM p)
         |SELECT event_type, event_id, priority FROM r WHERE rn <= 10
         |ORDER BY event_type, priority""".stripMargin,
    "q_icc" ->
      """WITH e AS (SELECT user_id % 2 AS cohort, user_id, event_type
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |cnt AS (SELECT cohort, user_id, event_type, COUNT(*) AS score
        |  FROM e GROUP BY 1, 2, 3),
        |u AS (SELECT DISTINCT cohort, user_id FROM e),
        |tt AS (SELECT DISTINCT event_type FROM e),
        |g AS (SELECT u.cohort, u.user_id,
        |    COALESCE(cnt.score, 0) AS x, tt.event_type
        |  FROM u CROSS JOIN tt LEFT JOIN cnt ON cnt.cohort = u.cohort
        |    AND cnt.user_id = u.user_id AND cnt.event_type = tt.event_type),
        |sj AS (SELECT cohort, user_id, COUNT(*) AS ks,
        |    SUM(x)::HUGEINT AS ss, SUM(x::HUGEINT * x) AS qs
        |  FROM g GROUP BY 1, 2),
        |st AS (SELECT cohort, user_id, ks, ss, qs,
        |    CAST(round(1e9 * CAST(ss * ss AS DOUBLE) /
        |      CAST(ks AS DOUBLE)) AS HUGEINT) AS t FROM sj),
        |m AS (SELECT cohort, COUNT(*)::HUGEINT AS n, MAX(ks) AS k,
        |    SUM(ss) AS ssum, SUM(qs) AS qsum, SUM(t) AS tsum
        |  FROM st GROUP BY 1),
        |d AS (SELECT cohort, n, k,
        |    (CAST(tsum - CAST(round(1e9 * CAST(ssum * ssum AS DOUBLE) /
        |        CAST(n * k AS DOUBLE)) AS HUGEINT) AS DOUBLE) / 1e9 /
        |      (CAST(n AS DOUBLE) - 1.0)) AS msb,
        |    (CAST(1000000000::HUGEINT * qsum - tsum AS DOUBLE) / 1e9 /
        |      (CAST(n * k AS DOUBLE) - CAST(n AS DOUBLE))) AS msw
        |  FROM m)
        |SELECT cohort, CAST(n AS BIGINT) AS n_subjects,
        |  CAST(k AS BIGINT) AS k_ratings,
        |  CASE WHEN n < 2 OR k < 2
        |      OR msb + (CAST(k AS DOUBLE) - 1.0) * msw <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * (msb - msw) /
        |      (msb + (CAST(k AS DOUBLE) - 1.0) * msw)) AS BIGINT)
        |    END AS icc_micro
        |FROM d ORDER BY cohort""".stripMargin,
    "q_holm" ->
      """WITH p AS (SELECT source, lang,
        |    CAST(SUM(n_chars) % 1000000 AS BIGINT) AS p_micro
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER
        |    (ORDER BY p_micro, source, lang) AS BIGINT) AS rank,
        |    COUNT(*) OVER () AS m FROM p),
        |f AS (SELECT MIN(CASE WHEN p_micro * (m - rank + 1) > 50000
        |    THEN rank END) AS ff, MAX(m) AS m0 FROM r)
        |SELECT source, lang, p_micro, rank,
        |  CAST(m0 AS BIGINT) AS m_tests,
        |  (ff IS NULL OR rank < ff) AS reject
        |FROM r, f ORDER BY rank""".stripMargin,
    "q_did" ->
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS g,
        |    event_id % 2 = 0 AS post,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL),
        |m AS (SELECT event_type,
        |    COUNT(CASE WHEN g AND post THEN 1 END)::HUGEINT AS ntp,
        |    COALESCE(SUM(CASE WHEN g AND post THEN v END), 0)::HUGEINT
        |      AS stp,
        |    COALESCE(SUM(CASE WHEN g AND post THEN v::HUGEINT * v END), 0)
        |      AS qtp,
        |    COUNT(CASE WHEN g AND NOT post THEN 1 END)::HUGEINT AS ntr,
        |    COALESCE(SUM(CASE WHEN g AND NOT post THEN v END), 0)::HUGEINT
        |      AS str,
        |    COALESCE(SUM(CASE WHEN g AND NOT post
        |      THEN v::HUGEINT * v END), 0) AS qtr,
        |    COUNT(CASE WHEN NOT g AND post THEN 1 END)::HUGEINT AS ncp,
        |    COALESCE(SUM(CASE WHEN NOT g AND post THEN v END), 0)::HUGEINT
        |      AS scp,
        |    COALESCE(SUM(CASE WHEN NOT g AND post
        |      THEN v::HUGEINT * v END), 0) AS qcp,
        |    COUNT(CASE WHEN NOT g AND NOT post THEN 1 END)::HUGEINT AS ncr,
        |    COALESCE(SUM(CASE WHEN NOT g AND NOT post THEN v END),
        |      0)::HUGEINT AS scr,
        |    COALESCE(SUM(CASE WHEN NOT g AND NOT post
        |      THEN v::HUGEINT * v END), 0) AS qcr
        |  FROM e GROUP BY 1),
        |d AS (SELECT *,
        |    (CAST(stp AS DOUBLE) / CAST(ntp AS DOUBLE) -
        |     CAST(str AS DOUBLE) / CAST(ntr AS DOUBLE)) -
        |    (CAST(scp AS DOUBLE) / CAST(ncp AS DOUBLE) -
        |     CAST(scr AS DOUBLE) / CAST(ncr AS DOUBLE)) AS did,
        |    sqrt(CAST(ntp * qtp - stp * stp AS DOUBLE) /
        |        CAST(ntp * ntp * (ntp - 1) AS DOUBLE) +
        |      CAST(ntr * qtr - str * str AS DOUBLE) /
        |        CAST(ntr * ntr * (ntr - 1) AS DOUBLE) +
        |      CAST(ncp * qcp - scp * scp AS DOUBLE) /
        |        CAST(ncp * ncp * (ncp - 1) AS DOUBLE) +
        |      CAST(ncr * qcr - scr * scr AS DOUBLE) /
        |        CAST(ncr * ncr * (ncr - 1) AS DOUBLE)) AS se
        |  FROM m)
        |SELECT event_type, CAST(ntr AS BIGINT) AS n_tpre,
        |  CAST(ntp AS BIGINT) AS n_tpost, CAST(ncr AS BIGINT) AS n_cpre,
        |  CAST(ncp AS BIGINT) AS n_cpost,
        |  CASE WHEN ntp < 2 OR ntr < 2 OR ncp < 2 OR ncr < 2 THEN NULL
        |    ELSE CAST(round(1e6 * did) AS BIGINT) END AS did_micro,
        |  CASE WHEN ntp < 2 OR ntr < 2 OR ncp < 2 OR ncr < 2 THEN NULL
        |    ELSE CAST(round(1e6 * se) AS BIGINT) END AS se_micro,
        |  CASE WHEN ntp < 2 OR ntr < 2 OR ncp < 2 OR ncr < 2 OR se = 0
        |    THEN NULL
        |    ELSE CAST(round(1e6 * did / se) AS BIGINT) END AS t_micro
        |FROM d ORDER BY event_type""".stripMargin,
    "q_poisson_rate" ->
      """WITH u AS (SELECT event_type, user_id % 2 = 0 AS g, user_id,
        |    COUNT(*) AS ev FROM events GROUP BY 1, 2, 3),
        |m AS (SELECT event_type,
        |    COALESCE(SUM(CASE WHEN g THEN ev END), 0)::HUGEINT AS a,
        |    COUNT(CASE WHEN g THEN 1 END)::HUGEINT AS ta,
        |    COALESCE(SUM(CASE WHEN NOT g THEN ev END), 0)::HUGEINT AS b,
        |    COUNT(CASE WHEN NOT g THEN 1 END)::HUGEINT AS tb
        |  FROM u GROUP BY 1),
        |d AS (SELECT *,
        |    (CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)) /
        |      (CAST(b AS DOUBLE) / CAST(tb AS DOUBLE)) AS rr
        |  FROM m)
        |SELECT event_type, CAST(a AS BIGINT) AS events_a,
        |  CAST(ta AS BIGINT) AS exposure_a, CAST(b AS BIGINT) AS events_b,
        |  CAST(tb AS BIGINT) AS exposure_b,
        |  CASE WHEN a <= 0 OR b <= 0 OR ta <= 0 OR tb <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * rr) AS BIGINT) END AS rate_ratio_ppm,
        |  CASE WHEN a <= 0 OR b <= 0 OR ta <= 0 OR tb <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * ln(rr) /
        |      sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)))
        |      AS BIGINT) END AS z_micro
        |FROM d ORDER BY event_type""".stripMargin,
    "q_heaps" ->
      """WITH tk AS (SELECT doc_id AS d,
        |    unnest(string_split(text, ' ')) AS t FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |tok AS (SELECT d, t FROM tk WHERE t <> ''),
        |pd AS (SELECT d, COUNT(*) AS nt FROM tok GROUP BY 1),
        |fd AS (SELECT MIN(d) AS d FROM tok GROUP BY t),
        |fv AS (SELECT d, COUNT(*) AS nv FROM fd GROUP BY 1),
        |dd AS (SELECT pd.d, nt, COALESCE(nv, 0) AS nv
        |  FROM pd LEFT JOIN fv ON pd.d = fv.d),
        |cum AS (SELECT d,
        |    SUM(nt) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
        |    SUM(nv) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv
        |  FROM dd),
        |pts AS (SELECT CAST(round(1e6 * ln(CAST(nn AS DOUBLE)))
        |      AS BIGINT) AS x,
        |    CAST(round(1e6 * ln(CAST(vv AS DOUBLE))) AS BIGINT) AS y,
        |    nn, vv
        |  FROM cum WHERE nn > 0 AND vv > 0),
        |m AS (SELECT COUNT(*)::HUGEINT AS n, MAX(nn) AS ntok,
        |    MAX(vv) AS voc, SUM(x::HUGEINT) AS sx, SUM(y::HUGEINT) AS sy,
        |    SUM(x::HUGEINT * y) AS sxy, SUM(x::HUGEINT * x) AS sxx
        |  FROM pts),
        |s AS (SELECT n, ntok, voc, sx, sy,
        |    (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS sl
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(ntok AS BIGINT)
        |    AS n_tokens, CAST(voc AS BIGINT) AS vocab,
        |  CAST(sl AS BIGINT) AS beta_micro,
        |  CAST((sy * 1000000 - sl * sx) // (n * 1000000) AS BIGINT)
        |    AS ln_k_micro
        |FROM s""".stripMargin,
    "q_hellinger" ->
      (QEVENTS + """,
        |ta AS (SELECT vc AS v, COUNT(*) AS ca FROM e
        |  WHERE event_type = 'view' AND vc IS NOT NULL GROUP BY 1),
        |tb AS (SELECT vc AS v, COUNT(*) AS cb FROM e
        |  WHERE event_type = 'click' AND vc IS NOT NULL GROUP BY 1),
        |sh AS (SELECT COALESCE(SUM(CAST(round(1e9 *
        |    sqrt(CAST(ca::HUGEINT * cb AS DOUBLE))) AS HUGEINT)), 0) AS tt
        |  FROM ta JOIN tb USING (v)),
        |na AS (SELECT SUM(ca) AS nra FROM ta),
        |nb AS (SELECT SUM(cb) AS nrb FROM tb),
        |c AS (SELECT tt, nra, nrb,
        |    CAST(tt AS DOUBLE) / 1e9 /
        |      sqrt(CAST(nra AS DOUBLE) * CAST(nrb AS DOUBLE)) AS bc
        |  FROM sh, na, nb)
        |SELECT CAST(nra AS BIGINT) AS n_ref, CAST(nrb AS BIGINT) AS n_cur,
        |  CAST(round(1e6 * bc) AS BIGINT) AS bc_ppm,
        |  CAST(round(1e6 * sqrt(GREATEST(0.0, 1.0 - bc))) AS BIGINT)
        |    AS hellinger_micro,
        |  CASE WHEN bc <= 0.0 THEN NULL
        |    ELSE CAST(round(-1e6 * ln(bc)) AS BIGINT)
        |    END AS bhattacharyya_micro
        |FROM c""".stripMargin),
    "q_weighted_kappa" ->
      """WITH b AS (SELECT LEAST(n_chars // 200, 4) AS a,
        |    LEAST(length(string_split(text, ' ')) // 40, 4) AS bb
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |cells AS (SELECT a, bb, COUNT(*) AS o FROM b GROUP BY 1, 2),
        |nm AS (SELECT COALESCE(SUM((a - bb)::HUGEINT * (a - bb) * o), 0)
        |    AS num, SUM(o)::HUGEINT AS n,
        |    COUNT(DISTINCT a) AS k_a, COUNT(DISTINCT bb) AS k_b
        |  FROM cells),
        |ra AS (SELECT a, COUNT(*) AS ca FROM b GROUP BY 1),
        |cb AS (SELECT bb, COUNT(*) AS cc FROM b GROUP BY 1),
        |dn AS (SELECT COALESCE(SUM((a - bb)::HUGEINT * (a - bb) *
        |    ca::HUGEINT * cc), 0) AS den FROM ra CROSS JOIN cb)
        |SELECT CAST(n AS BIGINT) AS n, CAST(k_a AS BIGINT) AS k_a,
        |  CAST(k_b AS BIGINT) AS k_b,
        |  CASE WHEN den <= 0 THEN NULL
        |    ELSE CAST(round(1e6 * (1.0 -
        |      CAST(n * num AS DOUBLE) / CAST(den AS DOUBLE))) AS BIGINT)
        |    END AS kappa_w_micro
        |FROM nm, dn""".stripMargin,
    "q_two_prop" ->
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS g,
        |    CAST(round(value * 100) AS BIGINT) > 50 AS s FROM events),
        |m AS (SELECT event_type,
        |    COUNT(CASE WHEN g THEN 1 END) AS n_a,
        |    COUNT(CASE WHEN g AND s THEN 1 END) AS s_a,
        |    COUNT(CASE WHEN NOT g THEN 1 END) AS n_b,
        |    COUNT(CASE WHEN NOT g AND s THEN 1 END) AS s_b
        |  FROM e GROUP BY 1),
        |d AS (SELECT *, CAST(n_a AS DOUBLE) AS nad,
        |    CAST(s_a AS DOUBLE) AS sad, CAST(n_b AS DOUBLE) AS nbd,
        |    CAST(s_b AS DOUBLE) AS sbd,
        |    (CAST(s_a AS DOUBLE) + s_b) / (CAST(n_a AS DOUBLE) + n_b)
        |      AS pp
        |  FROM m)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(s_a AS BIGINT) AS s_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(s_b AS BIGINT) AS s_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR s_a + s_b = 0
        |      OR s_a + s_b = n_a + n_b THEN NULL
        |    ELSE CAST(round(1e6 * (sad / nad - sbd / nbd) /
        |      sqrt(pp * (1.0 - pp) * (1.0 / nad + 1.0 / nbd)))
        |      AS BIGINT) END AS z_micro,
        |  CASE WHEN n_a = 0 THEN NULL ELSE CAST(round(1e6 *
        |    (sad / nad + 1.96 * 1.96 / (2.0 * nad) -
        |     1.96 * sqrt(sad / nad * (1.0 - sad / nad) / nad +
        |       1.96 * 1.96 / (4.0 * nad * nad))) /
        |    (1.0 + 1.96 * 1.96 / nad)) AS BIGINT) END AS a_lo_ppm,
        |  CASE WHEN n_a = 0 THEN NULL ELSE CAST(round(1e6 *
        |    (sad / nad + 1.96 * 1.96 / (2.0 * nad) +
        |     1.96 * sqrt(sad / nad * (1.0 - sad / nad) / nad +
        |       1.96 * 1.96 / (4.0 * nad * nad))) /
        |    (1.0 + 1.96 * 1.96 / nad)) AS BIGINT) END AS a_hi_ppm,
        |  CASE WHEN n_b = 0 THEN NULL ELSE CAST(round(1e6 *
        |    (sbd / nbd + 1.96 * 1.96 / (2.0 * nbd) -
        |     1.96 * sqrt(sbd / nbd * (1.0 - sbd / nbd) / nbd +
        |       1.96 * 1.96 / (4.0 * nbd * nbd))) /
        |    (1.0 + 1.96 * 1.96 / nbd)) AS BIGINT) END AS b_lo_ppm,
        |  CASE WHEN n_b = 0 THEN NULL ELSE CAST(round(1e6 *
        |    (sbd / nbd + 1.96 * 1.96 / (2.0 * nbd) +
        |     1.96 * sqrt(sbd / nbd * (1.0 - sbd / nbd) / nbd +
        |       1.96 * 1.96 / (4.0 * nbd * nbd))) /
        |    (1.0 + 1.96 * 1.96 / nbd)) AS BIGINT) END AS b_hi_ppm
        |FROM d ORDER BY event_type""".stripMargin,
    "q_vocab_richness" ->
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cc AS (SELECT tok, COUNT(*) AS c FROM tk WHERE tok <> ''
        |  GROUP BY 1),
        |f AS (SELECT c, COUNT(*) AS nc FROM cc GROUP BY 1)
        |SELECT CAST(SUM(c * nc) AS BIGINT) AS n_tokens,
        |  CAST(SUM(nc) AS BIGINT) AS vocab,
        |  CAST(COALESCE(SUM(CASE WHEN c = 1 THEN nc END), 0) AS BIGINT)
        |    AS n1,
        |  CAST(COALESCE(SUM(CASE WHEN c = 2 THEN nc END), 0) AS BIGINT)
        |    AS n2,
        |  CAST((COALESCE(SUM(CASE WHEN c = 1 THEN nc END), 0) * 1000000)
        |    // SUM(c * nc) AS BIGINT) AS p0_ppm,
        |  CAST(SUM(nc) * 1000 +
        |    (COALESCE(SUM(CASE WHEN c = 1 THEN nc END), 0)::HUGEINT *
        |     (COALESCE(SUM(CASE WHEN c = 1 THEN nc END), 0) - 1) * 1000)
        |    // (2 * (COALESCE(SUM(CASE WHEN c = 2 THEN nc END), 0) + 1))
        |    AS BIGINT) AS chao1_milli
        |FROM f""".stripMargin,
    "q_cohens_d" ->
      """WITH b AS (SELECT source, (lang = 'en') AS g, n_chars AS v
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |m AS (SELECT source,
        |    COUNT(CASE WHEN g THEN 1 END)::HUGEINT AS na,
        |    COALESCE(SUM(CASE WHEN g THEN v ELSE 0 END), 0)::HUGEINT AS sa,
        |    COALESCE(SUM(CASE WHEN g THEN v::HUGEINT * v ELSE 0 END), 0)
        |      AS qa,
        |    COUNT(CASE WHEN NOT g THEN 1 END)::HUGEINT AS nb,
        |    COALESCE(SUM(CASE WHEN NOT g THEN v ELSE 0 END), 0)::HUGEINT
        |      AS sb,
        |    COALESCE(SUM(CASE WHEN NOT g THEN v::HUGEINT * v ELSE 0 END), 0)
        |      AS qb
        |  FROM b GROUP BY 1),
        |vv AS (SELECT source, na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    CASE WHEN na < 1 THEN NULL
        |      ELSE CAST(na * qa - sa * sa AS DOUBLE) / CAST(na AS DOUBLE)
        |      END AS ssa,
        |    CASE WHEN nb < 1 THEN NULL
        |      ELSE CAST(nb * qb - sb * sb AS DOUBLE) / CAST(nb AS DOUBLE)
        |      END AS ssb
        |  FROM m)
        |SELECT source, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN na < 2 OR nb < 2 OR ssa + ssb = 0 THEN NULL
        |    ELSE CAST(round(1e6 * (ma - mb) / sqrt((ssa + ssb) /
        |      (CAST(na + nb AS DOUBLE) - 2.0))) AS BIGINT) END AS d_micro,
        |  CASE WHEN na < 2 OR nb < 2 OR ssa + ssb = 0 THEN NULL
        |    ELSE CAST(round(1e6 * (ma - mb) / sqrt((ssa + ssb) /
        |      (CAST(na + nb AS DOUBLE) - 2.0)) *
        |      (1.0 - 3.0 / (4.0 * CAST(na + nb AS DOUBLE) - 9.0)))
        |      AS BIGINT) END AS g_micro
        |FROM vv ORDER BY source""".stripMargin,
    "q_cochran_armitage" ->
      """WITH b AS (SELECT source, n_chars // 100 AS s, (lang = 'en') AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |pl AS (SELECT source, s, COUNT(*) AS ni,
        |    COUNT(CASE WHEN y THEN 1 END) AS ri FROM b GROUP BY 1, 2),
        |m AS (SELECT source, SUM(ni)::HUGEINT AS nn, SUM(ri)::HUGEINT AS r,
        |    COUNT(*) AS n_levels,
        |    SUM(s::HUGEINT * ni) AS ns, SUM(s::HUGEINT * s * ni) AS nss,
        |    SUM(s::HUGEINT * ri) AS sr
        |  FROM pl GROUP BY 1)
        |SELECT source, CAST(nn AS BIGINT) AS n, CAST(r AS BIGINT) AS r_pos,
        |  n_levels,
        |  CASE WHEN r = 0 OR r = nn OR nn * nss - ns * ns = 0 THEN NULL
        |    ELSE CAST(round(1e6 * CAST(sr * nn - ns * r AS DOUBLE) *
        |      sqrt(CAST(nn AS DOUBLE)) /
        |      sqrt(CAST(r * (nn - r) AS DOUBLE)) /
        |      sqrt(CAST(nn * nss - ns * ns AS DOUBLE))) AS BIGINT)
        |    END AS z_micro
        |FROM m ORDER BY source""".stripMargin,
    "q_kruskal" ->
      """WITH b AS (SELECT source, lang AS g, n_chars AS v FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |cells AS (SELECT source, g, v, COUNT(*) AS cgv FROM b
        |  GROUP BY 1, 2, 3),
        |pooled AS (SELECT source, v, SUM(cgv) AS cv FROM cells
        |  GROUP BY 1, 2),
        |r AS (SELECT *, 2 * COALESCE(SUM(cv) OVER (PARTITION BY source
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) + cv + 1 AS dr FROM pooled),
        |pg AS (SELECT cells.source AS source, cells.g,
        |    SUM(cgv)::HUGEINT AS ng, SUM(cgv::HUGEINT * dr) AS r2g
        |  FROM cells JOIN r ON r.source = cells.source AND r.v = cells.v
        |  GROUP BY 1, 2),
        |tg AS (SELECT *, CAST(round(1e9 * CAST(r2g * r2g AS DOUBLE) /
        |    CAST(4 * ng AS DOUBLE)) AS HUGEINT) AS t FROM pg),
        |ties AS (SELECT source, SUM(cv::HUGEINT * cv * cv - cv) AS tie
        |  FROM pooled GROUP BY 1),
        |m AS (SELECT tg.source AS source, SUM(ng) AS n, COUNT(*) AS k,
        |    SUM(t) AS a FROM tg GROUP BY 1)
        |SELECT m.source AS source, CAST(n AS BIGINT) AS n, k AS k_groups,
        |  CASE WHEN k < 2 OR n * n * n - n = 0 OR tie = n * n * n - n
        |    THEN NULL
        |    ELSE CAST(round(1e6 *
        |      (12.0 * CAST(a AS DOUBLE) / 1e9 /
        |        CAST(n * (n + 1) AS DOUBLE) -
        |       3.0 * CAST(n + 1 AS DOUBLE)) /
        |      (1.0 - CAST(tie AS DOUBLE) / CAST(n * n * n - n AS DOUBLE)))
        |      AS BIGINT) END AS h_micro
        |FROM m JOIN ties ON ties.source = m.source
        |ORDER BY source""".stripMargin,
    "q_grubbs" ->
      """WITH b AS (SELECT source, n_chars AS v FROM documents
        |  WHERE n_chars IS NOT NULL),
        |m AS (SELECT source, COUNT(*)::HUGEINT AS n, SUM(v)::HUGEINT AS s,
        |    SUM(v::HUGEINT * v) AS q, MIN(v) AS mn, MAX(v) AS mx
        |  FROM b GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * mx - s >= s - n * mn THEN mx ELSE mn END
        |    AS at_value,
        |  CASE WHEN n < 3 OR n * q - s * s = 0 THEN NULL
        |    ELSE CAST(round(1e6 *
        |      CAST(GREATEST(n * mx - s, s - n * mn) AS DOUBLE) *
        |      sqrt(CAST(n - 1 AS DOUBLE)) / sqrt(CAST(n AS DOUBLE)) /
        |      sqrt(CAST(n * q - s * s AS DOUBLE))) AS BIGINT)
        |    END AS g_micro
        |FROM m ORDER BY source""".stripMargin,
    "q_anova_f" ->
      """WITH b AS (SELECT source, lang AS g, n_chars AS v FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |pg AS (SELECT source, g, COUNT(*)::HUGEINT AS ng,
        |    SUM(v)::HUGEINT AS sg, SUM(v::HUGEINT * v) AS qg
        |  FROM b GROUP BY 1, 2),
        |tg AS (SELECT *, CAST(round(1e9 * CAST(sg * sg AS DOUBLE) /
        |    CAST(ng AS DOUBLE)) AS HUGEINT) AS t FROM pg),
        |m AS (SELECT source, SUM(ng) AS n, COUNT(*) AS k, SUM(sg) AS s,
        |    SUM(qg) AS q, SUM(t) AS a FROM tg GROUP BY 1),
        |w AS (SELECT *, CAST(round(1e9 * CAST(s * s AS DOUBLE) /
        |    CAST(n AS DOUBLE)) AS HUGEINT) AS bb FROM m),
        |w2 AS (SELECT source, n, k, GREATEST(a - bb, 0) AS ssb,
        |    q * 1000000000 - bb AS sstd, q * 1000000000 - a AS ssw
        |  FROM w)
        |SELECT source, CAST(n AS BIGINT) AS n, k AS k_groups,
        |  CAST(ssb // 1000000000 AS BIGINT) AS ss_between,
        |  CAST(ssw // 1000000000 AS BIGINT) AS ss_within,
        |  CASE WHEN k < 2 OR n <= k OR ssw <= 0 THEN NULL
        |    ELSE CAST(round(1e6 *
        |      (CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)) /
        |      (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))) AS BIGINT)
        |    END AS f_micro,
        |  CASE WHEN k < 2 OR sstd <= 0 THEN NULL
        |    ELSE CAST((ssb * 1000000) // sstd AS BIGINT) END AS eta2_ppm
        |FROM w2 ORDER BY source""".stripMargin,
    "q_brown_forsythe" ->
      """WITH b0 AS (SELECT source, lang AS g, n_chars AS v FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |h AS (SELECT source, g, v, COUNT(*) AS c FROM b0 GROUP BY 1, 2, 3),
        |cum AS (SELECT *,
        |    SUM(c) OVER (PARTITION BY source, g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    SUM(c) OVER (PARTITION BY source, g) AS tot FROM h),
        |med AS (SELECT source, g, MIN(v) AS med FROM cum
        |  WHERE 2 * cm >= tot GROUP BY 1, 2),
        |b AS (SELECT b0.source, b0.g, ABS(b0.v - med.med) AS v
        |  FROM b0 JOIN med USING (source, g)),
        |pg AS (SELECT source, g, COUNT(*)::HUGEINT AS ng,
        |    SUM(v)::HUGEINT AS sg, SUM(v::HUGEINT * v) AS qg
        |  FROM b GROUP BY 1, 2),
        |tg AS (SELECT *, CAST(round(1e9 * CAST(sg * sg AS DOUBLE) /
        |    CAST(ng AS DOUBLE)) AS HUGEINT) AS t FROM pg),
        |m AS (SELECT source, SUM(ng) AS n, COUNT(*) AS k, SUM(sg) AS s,
        |    SUM(qg) AS q, SUM(t) AS a FROM tg GROUP BY 1),
        |w AS (SELECT *, CAST(round(1e9 * CAST(s * s AS DOUBLE) /
        |    CAST(n AS DOUBLE)) AS HUGEINT) AS bb FROM m),
        |w2 AS (SELECT source, n, k, GREATEST(a - bb, 0) AS ssb,
        |    q * 1000000000 - bb AS sstd, q * 1000000000 - a AS ssw
        |  FROM w)
        |SELECT source, CAST(n AS BIGINT) AS n, k AS k_groups,
        |  CAST(ssb // 1000000000 AS BIGINT) AS ss_between,
        |  CAST(ssw // 1000000000 AS BIGINT) AS ss_within,
        |  CASE WHEN k < 2 OR n <= k OR ssw <= 0 THEN NULL
        |    ELSE CAST(round(1e6 *
        |      (CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)) /
        |      (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))) AS BIGINT)
        |    END AS f_micro,
        |  CASE WHEN k < 2 OR sstd <= 0 THEN NULL
        |    ELSE CAST((ssb * 1000000) // sstd AS BIGINT) END AS eta2_ppm
        |FROM w2 ORDER BY source""".stripMargin,
    "q_roc_auc" ->
      """WITH b AS (SELECT source, (lang = 'en') AS g, n_chars AS v
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |h AS (SELECT source, v, COUNT(*) AS c,
        |    COUNT(*) FILTER (WHERE g) AS ca FROM b GROUP BY 1, 2),
        |r AS (SELECT *, 2 * COALESCE(SUM(c) OVER (PARTITION BY source
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS dr FROM h),
        |m AS (SELECT source, SUM(c)::HUGEINT AS n, SUM(ca)::HUGEINT AS na,
        |    SUM(ca::HUGEINT * dr) AS r2a FROM r GROUP BY 1)
        |SELECT source, CAST(na AS BIGINT) AS n_pos,
        |  CAST(n - na AS BIGINT) AS n_neg,
        |  CAST(r2a - na * (na + 1) AS BIGINT) AS u2,
        |  CASE WHEN na = 0 OR n = na THEN NULL
        |    ELSE CAST(((r2a - na * (na + 1)) * 500000) // (na * (n - na))
        |      AS BIGINT) END AS auc_ppm,
        |  CASE WHEN na = 0 OR n = na THEN NULL
        |    ELSE CAST(((r2a - na * (na + 1) - na * (n - na)) * 1000000)
        |      // (na * (n - na)) AS BIGINT) END AS delta_ppm
        |FROM m ORDER BY source""".stripMargin,
    "q_pr_auc" ->
      """WITH b AS (SELECT source, (lang = 'en') AS g, n_chars AS v
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |h AS (SELECT source, v, COUNT(*) AS c,
        |    COUNT(*) FILTER (WHERE g) AS p FROM b GROUP BY 1, 2),
        |w AS (SELECT *,
        |    SUM(p) OVER (PARTITION BY source ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    SUM(c) OVER (PARTITION BY source ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sc,
        |    SUM(p) OVER (PARTITION BY source) AS na,
        |    SUM(c) OVER (PARTITION BY source) AS nt FROM h),
        |w2 AS (SELECT *,
        |    COALESCE(LAG(tp) OVER (PARTITION BY source ORDER BY v DESC), 0)
        |      AS tpp,
        |    LAG(sc) OVER (PARTITION BY source ORDER BY v DESC) AS scp
        |  FROM w),
        |tm AS (SELECT source, na, nt,
        |    CASE WHEN na = 0 THEN 0 ELSE CAST(round(1e9 *
        |      CAST(tp - tpp AS DOUBLE) *
        |      (CAST(tp AS DOUBLE) / CAST(sc AS DOUBLE) +
        |       CASE WHEN scp IS NULL THEN 1.0
        |         ELSE CAST(tpp AS DOUBLE) / CAST(scp AS DOUBLE) END) /
        |      (2.0 * CAST(na AS DOUBLE))) AS BIGINT) END AS nano FROM w2)
        |SELECT source, CAST(MAX(na) AS BIGINT) AS n_pos,
        |  CAST(MAX(nt) - MAX(na) AS BIGINT) AS n_neg,
        |  COUNT(*) AS n_thresholds,
        |  CASE WHEN MAX(na) = 0 THEN NULL
        |    ELSE CAST(SUM(nano) // 1000 AS BIGINT) END AS pr_auc_micro
        |FROM tm GROUP BY 1 ORDER BY source""".stripMargin,
    "q_mcc" ->
      """WITH b AS (SELECT source, (lang = 'en') AS y, (n_chars > 500) AS p
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |m AS (SELECT source,
        |    COUNT(CASE WHEN y AND p THEN 1 END) AS tp,
        |    COUNT(CASE WHEN NOT y AND p THEN 1 END) AS fp,
        |    COUNT(CASE WHEN y AND NOT p THEN 1 END) AS fn,
        |    COUNT(CASE WHEN NOT y AND NOT p THEN 1 END) AS tn
        |  FROM b GROUP BY 1)
        |SELECT source, tp, fp, fn, tn,
        |  CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tn + fp = 0
        |      OR tn + fn = 0 THEN NULL
        |    ELSE CAST(round(1e6 *
        |      CAST(tp::HUGEINT * tn - fp::HUGEINT * fn AS DOUBLE) /
        |      sqrt(CAST(tp + fp AS DOUBLE)) / sqrt(CAST(tp + fn AS DOUBLE)) /
        |      sqrt(CAST(tn + fp AS DOUBLE)) / sqrt(CAST(tn + fn AS DOUBLE)))
        |      AS BIGINT) END AS mcc_micro
        |FROM m ORDER BY source""".stripMargin,
    "q_ece" ->
      """WITH b AS (SELECT
        |    LEAST((CAST((n_chars * 997) % 1000001 AS BIGINT) * 10)
        |      // 1000000, 9) AS bin,
        |    (lang = 'en') AS y,
        |    CAST((n_chars * 997) % 1000001 AS BIGINT) AS p
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |g AS (SELECT bin, COUNT(*) AS n,
        |    COUNT(CASE WHEN y THEN 1 END) AS n_pos,
        |    SUM(p) AS conf_sum FROM b GROUP BY 1),
        |g2 AS (SELECT *, ABS(n_pos * 1000000 - conf_sum) AS gap_abs FROM g),
        |t AS (SELECT SUM(n) AS n_total,
        |    CAST(SUM(gap_abs) // SUM(n) AS BIGINT) AS ece_micro FROM g2)
        |SELECT bin, n, n_pos, CAST(conf_sum AS BIGINT) AS conf_sum,
        |  CAST(gap_abs AS BIGINT) AS gap_abs,
        |  CAST(n_total AS BIGINT) AS n_total, ece_micro
        |FROM g2, t ORDER BY bin""".stripMargin,
    "q_mcnemar" ->
      """WITH d AS (SELECT source, (n_chars > 400) AS a,
        |    (len(string_split(text, ' ')) > 80) AS b FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |m AS (SELECT source, COUNT(*) AS n,
        |    COUNT(CASE WHEN a AND b THEN 1 END) AS n11,
        |    COUNT(CASE WHEN NOT a AND NOT b THEN 1 END) AS n00,
        |    COUNT(CASE WHEN a AND NOT b THEN 1 END) AS n10,
        |    COUNT(CASE WHEN NOT a AND b THEN 1 END) AS n01
        |  FROM d GROUP BY 1)
        |SELECT source, n, n11, n00, n10, n01,
        |  CASE WHEN n10 + n01 = 0 THEN NULL
        |    ELSE CAST((CAST(n10 - n01 AS HUGEINT) * (n10 - n01) * 1000000)
        |      // (n10 + n01) AS BIGINT) END AS chi2_micro
        |FROM m ORDER BY source""".stripMargin,
    "q_nelson_aalen" ->
      """WITH u AS (SELECT user_id,
        |    (MAX(epoch_ns(ts) // 1000) - MIN(epoch_ns(ts) // 1000))
        |      // 86400000000 AS duration,
        |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS ev
        |  FROM events GROUP BY 1),
        |c AS (SELECT user_id % 4 AS cohort, duration AS t, ev FROM u),
        |pt AS (SELECT cohort, t, COUNT(*) AS nn,
        |    CAST(COUNT(CASE WHEN ev THEN 1 END) AS BIGINT) AS d_events
        |  FROM c GROUP BY 1, 2),
        |r AS (SELECT *, SUM(nn) OVER (PARTITION BY cohort ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        |  FROM pt),
        |tm AS (SELECT *, CAST(round(1e6 * CAST(d_events AS DOUBLE) /
        |    CAST(n_risk AS DOUBLE)) AS BIGINT) AS term FROM r)
        |SELECT cohort, t, CAST(n_risk AS BIGINT) AS n_risk, d_events,
        |  CAST(nn - d_events AS BIGINT) AS c_censored,
        |  CAST(SUM(term) OVER (PARTITION BY cohort ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS na_cum_micro
        |FROM tm ORDER BY cohort, t""".stripMargin,
    "q_welch_t" ->
      """WITH b AS (SELECT source, (lang = 'en') AS g, n_chars AS v
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |m AS (SELECT source,
        |    COUNT(CASE WHEN g THEN 1 END)::HUGEINT AS na,
        |    COALESCE(SUM(CASE WHEN g THEN v ELSE 0 END), 0)::HUGEINT AS sa,
        |    COALESCE(SUM(CASE WHEN g THEN v::HUGEINT * v ELSE 0 END), 0)
        |      AS qa,
        |    COUNT(CASE WHEN NOT g THEN 1 END)::HUGEINT AS nb,
        |    COALESCE(SUM(CASE WHEN NOT g THEN v ELSE 0 END), 0)::HUGEINT
        |      AS sb,
        |    COALESCE(SUM(CASE WHEN NOT g THEN v::HUGEINT * v ELSE 0 END), 0)
        |      AS qb
        |  FROM b GROUP BY 1),
        |vv AS (SELECT source, na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |    CASE WHEN na < 2 THEN NULL
        |      ELSE CAST(na * qa - sa * sa AS DOUBLE) /
        |        CAST(na * na * (na - 1) AS DOUBLE) END AS va,
        |    CASE WHEN nb < 2 THEN NULL
        |      ELSE CAST(nb * qb - sb * sb AS DOUBLE) /
        |        CAST(nb * nb * (nb - 1) AS DOUBLE) END AS vb
        |  FROM m)
        |SELECT source, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN na < 2 OR nb < 2 OR va + vb = 0 THEN NULL
        |    ELSE CAST(round(1e6 * (ma - mb) / sqrt(va + vb)) AS BIGINT)
        |    END AS t_micro,
        |  CASE WHEN na < 2 OR nb < 2
        |      OR va * va / (CAST(na AS DOUBLE) - 1.0)
        |       + vb * vb / (CAST(nb AS DOUBLE) - 1.0) = 0 THEN NULL
        |    ELSE CAST(round(1e3 * (va + vb) * (va + vb) /
        |      (va * va / (CAST(na AS DOUBLE) - 1.0) +
        |       vb * vb / (CAST(nb AS DOUBLE) - 1.0))) AS BIGINT)
        |    END AS df_milli
        |FROM vv ORDER BY source""".stripMargin,
    "q_dispersion" ->
      """WITH tk AS (SELECT source AS part,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |tk2 AS (SELECT part, token FROM tk WHERE token <> ''),
        |ctp AS (SELECT token, part, COUNT(*)::HUGEINT AS c
        |  FROM tk2 GROUP BY 1, 2),
        |ft AS (SELECT token, SUM(c) AS f FROM ctp GROUP BY 1
        |  HAVING SUM(c) >= 5),
        |np AS (SELECT part, COUNT(*)::HUGEINT AS n_p FROM tk2 GROUP BY 1),
        |tot AS (SELECT SUM(n_p) AS nn FROM np),
        |grid AS (SELECT ft.token, ft.f, np.part, np.n_p,
        |    COALESCE(ctp.c, 0) AS c
        |  FROM ft CROSS JOIN np LEFT JOIN ctp
        |    ON ctp.token = ft.token AND ctp.part = np.part),
        |agg AS (SELECT token, MAX(f) AS f,
        |    SUM(ABS(c * nn - n_p * f)) AS num, MAX(nn) AS nx
        |  FROM grid, tot GROUP BY 1)
        |SELECT token, CAST(f AS BIGINT) AS f,
        |  CAST(num * 500000 // (f * nx) AS BIGINT) AS dp_ppm
        |FROM agg ORDER BY dp_ppm DESC, token LIMIT 50""".stripMargin,
    "q_drift_monitor" ->
      """WITH e0 AS (SELECT user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |dv AS (SELECT DISTINCT vc FROM e0 WHERE vc IS NOT NULL),
        |bins AS (SELECT s, COUNT(DISTINCT vc // s) AS nb FROM dv
        |  CROSS JOIN (VALUES (1::BIGINT),(10),(100),(1000),(10000),
        |    (100000),(1000000),(10000000),(100000000),(1000000000),
        |    (10000000000),(100000000000),(1000000000000),
        |    (10000000000000),(100000000000000),(1000000000000000),
        |    (10000000000000000),(100000000000000000),
        |    (1000000000000000000)) t(s) GROUP BY s),
        |st AS (SELECT CASE WHEN MIN(s) IS NULL THEN error(
        |    'q_drift_monitor oracle: no quantize step fits 4096 bins')
        |  ELSE MIN(s) END AS step FROM bins WHERE nb <= 4096),
        |e AS (SELECT user_id % 4 AS k, event_type,
        |    vc // step AS vc FROM e0, st),
        |a AS (SELECT vc AS v, COUNT(*)::HUGEINT AS ca FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT k, vc AS v, COUNT(*)::HUGEINT AS cb FROM e
        |  WHERE event_type = 'click' GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT k FROM b),
        |axis AS (SELECT keys.k AS k, a.v AS v FROM keys CROSS JOIN a
        |  UNION SELECT k, v FROM b),
        |j AS (SELECT axis.k, axis.v, COALESCE(a.ca, 0) AS ca,
        |    COALESCE(b.cb, 0) AS cb FROM axis
        |  LEFT JOIN a ON a.v = axis.v
        |  LEFT JOIN b ON b.k = axis.k AND b.v = axis.v),
        |c AS (SELECT *,
        |    SUM(ca) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    COALESCE(LEAD(v) OVER (PARTITION BY k ORDER BY v) - v, 0)
        |      AS width FROM j),
        |t AS (SELECT k, SUM(ca) AS na, SUM(cb) AS nb FROM j GROUP BY 1),
        |g AS (SELECT c.*, t.na, t.nb, ABS(cuma * nb - cumb * na) AS gap,
        |    ABS(ca * nb - cb * na) AS pgap FROM c JOIN t USING (k))
        |SELECT k AS key, CAST(MAX(nb) AS BIGINT) AS "nCur",
        |  CAST(SUM(gap * width) * 1000000 // (MAX(na) * MAX(nb))
        |    AS BIGINT) AS "w1Micro",
        |  CAST(SUM(pgap) * 500000 // (MAX(na) * MAX(nb))
        |    AS BIGINT) AS "tvPpm",
        |  CAST(SUM(CAST(round(1e9 *
        |      (CAST(gap AS DOUBLE) / CAST(na * nb AS DOUBLE)) *
        |      (CAST(gap AS DOUBLE) / CAST(na * nb AS DOUBLE)) *
        |      CAST(ca + cb AS DOUBLE)) AS BIGINT)) //
        |    (1000 * (MAX(na) + MAX(nb))) AS BIGINT) AS "cvmMicro"
        |FROM g GROUP BY 1 ORDER BY key""".stripMargin,
    "q_anderson_darling" ->
      (QEVENTS + """,
        |a AS (SELECT vc AS v, COUNT(*) AS ca FROM e
        |  WHERE event_type = 'view' AND vc IS NOT NULL GROUP BY 1),
        |b AS (SELECT vc AS v, COUNT(*) AS cb FROM e
        |  WHERE event_type = 'click' AND vc IS NOT NULL GROUP BY 1),
        |j AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
        |    COALESCE(cb, 0) AS cb FROM a FULL OUTER JOIN b ON a.v = b.v),
        |c AS (SELECT *,
        |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb FROM j),
        |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS nv FROM j),
        |g AS (SELECT c.*, na, nb, nv, ca + cb AS l, na + nb AS nn,
        |    2 * (cuma + cumb) - (ca + cb) AS b2 FROM c, t),
        |g2 AS (SELECT *, CAST(b2 AS HUGEINT) * (2 * nn - b2) -
        |    CAST(nn AS HUGEINT) * l AS den2 FROM g),
        |tm AS (SELECT *,
        |    CASE WHEN den2 = 0 OR na = 0 THEN 0
        |      ELSE CAST(round(1e9 * CAST(l AS DOUBLE) *
        |        CAST(CAST(nn AS HUGEINT) * (2 * cuma - ca) -
        |          CAST(na AS HUGEINT) * b2 AS DOUBLE) *
        |        CAST(CAST(nn AS HUGEINT) * (2 * cuma - ca) -
        |          CAST(na AS HUGEINT) * b2 AS DOUBLE) /
        |        (CAST(nn AS DOUBLE) * CAST(na AS DOUBLE) *
        |         CAST(den2 AS DOUBLE))) AS BIGINT) END AS ta,
        |    CASE WHEN den2 = 0 OR nb = 0 THEN 0
        |      ELSE CAST(round(1e9 * CAST(l AS DOUBLE) *
        |        CAST(CAST(nn AS HUGEINT) * (2 * cumb - cb) -
        |          CAST(nb AS HUGEINT) * b2 AS DOUBLE) *
        |        CAST(CAST(nn AS HUGEINT) * (2 * cumb - cb) -
        |          CAST(nb AS HUGEINT) * b2 AS DOUBLE) /
        |        (CAST(nn AS DOUBLE) * CAST(nb AS DOUBLE) *
        |         CAST(den2 AS DOUBLE))) AS BIGINT) END AS tb
        |  FROM g2)
        |SELECT CAST(MAX(na) AS BIGINT) AS n_ref,
        |  CAST(MAX(nb) AS BIGINT) AS n_cur,
        |  CASE WHEN MAX(na) = 0 OR MAX(nb) = 0 OR MAX(nv) < 2 THEN NULL
        |    ELSE CAST(round(CAST((MAX(nn) - 1)::HUGEINT * SUM(ta + tb)
        |      AS DOUBLE) / CAST(MAX(nn) AS DOUBLE) / 1000.0) AS BIGINT)
        |    END AS a2_micro
        |FROM tm""".stripMargin),
    "q_energy_dist" ->
      (QEVENTS + """,
        |a AS (SELECT vc AS v, COUNT(*) AS ca FROM e
        |  WHERE event_type = 'view' AND vc IS NOT NULL GROUP BY 1),
        |b AS (SELECT vc AS v, COUNT(*) AS cb FROM e
        |  WHERE event_type = 'click' AND vc IS NOT NULL GROUP BY 1),
        |j AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
        |    COALESCE(cb, 0) AS cb FROM a FULL OUTER JOIN b ON a.v = b.v),
        |c AS (SELECT *,
        |    COALESCE(SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::HUGEINT AS cab,
        |    COALESCE(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::HUGEINT AS cbb,
        |    COALESCE(SUM(v::HUGEINT * ca) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sab,
        |    COALESCE(SUM(v::HUGEINT * cb) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sbb FROM j),
        |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM j),
        |s AS (SELECT
        |    SUM(ca::HUGEINT * (v::HUGEINT * cbb - sbb) +
        |        cb::HUGEINT * (v::HUGEINT * cab - sab)) AS ab,
        |    SUM(2 * ca::HUGEINT * (v::HUGEINT * cab - sab)) AS aa,
        |    SUM(2 * cb::HUGEINT * (v::HUGEINT * cbb - sbb)) AS bb FROM c)
        |SELECT CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
        |  CASE WHEN na = 0 OR nb = 0 THEN NULL
        |    ELSE CAST(round(1e6 * (
        |      2.0 * CAST(ab AS DOUBLE) / CAST(na::HUGEINT * nb AS DOUBLE)
        |      - CAST(aa AS DOUBLE) / CAST(na::HUGEINT * na AS DOUBLE)
        |      - CAST(bb AS DOUBLE) / CAST(nb::HUGEINT * nb AS DOUBLE)))
        |      AS BIGINT) END AS e_micro
        |FROM s, t""".stripMargin),
    "q_calibration_monitor" ->
      """WITH e AS (SELECT user_id % 4 AS k,
        |    (CAST(round(value * 100) AS BIGINT) * 997) % 1000001 AS p,
        |    (event_id % 2 = 0) AS y FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL),
        |b AS (SELECT k, LEAST(p * 10 // 1000000, 9) AS bin, COUNT(*) AS n,
        |    COUNT(CASE WHEN y THEN 1 END) AS pos, SUM(p) AS conf
        |  FROM e GROUP BY 1, 2),
        |g AS (SELECT k, bin, n, ABS(pos * 1000000 - conf) AS gap,
        |    ABS(pos * 1000000 - conf) // n AS perrow FROM b),
        |m AS (SELECT k, SUM(n) AS nt, SUM(gap) AS gs FROM g GROUP BY 1),
        |w AS (SELECT k, bin, perrow, ROW_NUMBER() OVER (PARTITION BY k
        |    ORDER BY perrow DESC, bin ASC) AS rn FROM g)
        |SELECT m.k AS key, CAST(nt AS BIGINT) AS "nTotal",
        |  CAST(gs // nt AS BIGINT) AS "eceMicro",
        |  CAST(w.bin AS INT) AS "worstBin",
        |  CAST(GREATEST(w.perrow, 0) AS BIGINT) AS "worstGapMicro"
        |FROM m JOIN w ON w.k = m.k AND w.rn = 1 ORDER BY key""".stripMargin,
    "q_dist_shift" ->
      (QEVENTS + """,
        |a AS (SELECT vc AS v, COUNT(*)::HUGEINT AS ca FROM e
        |  WHERE event_type = 'view' AND vc IS NOT NULL GROUP BY 1),
        |b AS (SELECT vc AS v, COUNT(*)::HUGEINT AS cb FROM e
        |  WHERE event_type = 'click' AND vc IS NOT NULL GROUP BY 1),
        |j AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
        |    COALESCE(cb, 0) AS cb FROM a FULL OUTER JOIN b ON a.v = b.v),
        |c AS (SELECT *,
        |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb,
        |    COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0) AS width FROM j),
        |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM j),
        |g AS (SELECT c.*, na, nb, ABS(cuma * nb - cumb * na) AS gap,
        |    ABS(ca * nb - cb * na) AS pgap FROM c, t)
        |SELECT CAST(MAX(na) AS BIGINT) AS n_ref,
        |  CAST(MAX(nb) AS BIGINT) AS n_cur,
        |  CAST(SUM(gap * width) * 1000000 // (MAX(na) * MAX(nb))
        |    AS BIGINT) AS w1_micro,
        |  CAST(SUM(pgap) * 500000 // (MAX(na) * MAX(nb))
        |    AS BIGINT) AS tv_ppm,
        |  CAST(SUM(CAST(round(1e9 *
        |      (CAST(gap AS DOUBLE) / CAST(na * nb AS DOUBLE)) *
        |      (CAST(gap AS DOUBLE) / CAST(na * nb AS DOUBLE)) *
        |      CAST(ca + cb AS DOUBLE)) AS BIGINT)) //
        |    (1000 * (MAX(na) + MAX(nb))) AS BIGINT) AS cvm_micro
        |FROM g""".stripMargin),
    "q_logrank" ->
      """WITH u AS (SELECT user_id,
        |    (MAX(epoch_ns(ts) // 1000) - MIN(epoch_ns(ts) // 1000))
        |      // 86400000000 AS t,
        |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS ev
        |  FROM events GROUP BY 1),
        |c AS (SELECT user_id % 3 AS seg, user_id % 2 = 0 AS g, t, ev FROM u),
        |pt AS (SELECT seg, t, COUNT(*) AS m,
        |    COUNT(CASE WHEN g THEN 1 END) AS ma,
        |    COUNT(CASE WHEN ev THEN 1 END) AS d,
        |    COUNT(CASE WHEN ev AND g THEN 1 END) AS da
        |  FROM c GROUP BY 1, 2),
        |r AS (SELECT *, SUM(m) OVER (PARTITION BY seg ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
        |    SUM(ma) OVER (PARTITION BY seg ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS na
        |  FROM pt),
        |k AS (SELECT * FROM r WHERE d > 0),
        |tm AS (SELECT seg,
        |    CAST(round(1e6 * CAST(da::HUGEINT * n - d::HUGEINT * na
        |      AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS oe,
        |    CASE WHEN n = 1 THEN 0
        |      ELSE CAST(round(1e6 *
        |        CAST(d::HUGEINT * na * (n - na) * (n - d) AS DOUBLE) /
        |        CAST(n::HUGEINT * n * (n - 1) AS DOUBLE)) AS BIGINT) END AS v
        |  FROM k)
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_times,
        |  CAST(SUM(oe) AS BIGINT) AS oe_sum_micro,
        |  CAST(SUM(v) AS BIGINT) AS var_sum_micro,
        |  CASE WHEN SUM(v) <= 0 THEN NULL
        |    ELSE CAST(round(1e3 * CAST(SUM(oe) AS DOUBLE) /
        |      sqrt(CAST(SUM(v) AS DOUBLE))) AS BIGINT) END AS z_micro
        |FROM tm GROUP BY 1 ORDER BY seg""".stripMargin,
    "q_rmst" ->
      """WITH u AS (SELECT user_id,
        |    (MAX(epoch_ns(ts) // 1000) - MIN(epoch_ns(ts) // 1000))
        |      // 86400000000 AS t,
        |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS ev
        |  FROM events GROUP BY 1),
        |c AS (SELECT user_id % 4 AS cohort, t, ev FROM u),
        |pt AS (SELECT cohort, t, COUNT(*) AS nn,
        |    COUNT(CASE WHEN ev THEN 1 END) AS d FROM c GROUP BY 1, 2),
        |r AS (SELECT *, SUM(nn) OVER (PARTITION BY cohort ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        |  FROM pt),
        |tm AS (SELECT *, CASE WHEN d = n_risk THEN 0
        |    ELSE CAST(round(1e6 * ln(CAST(n_risk - d AS DOUBLE) /
        |      CAST(n_risk AS DOUBLE))) AS BIGINT) END AS term FROM r),
        |km AS (SELECT cohort, t,
        |    CASE WHEN d = n_risk THEN NULL
        |      ELSE CAST(SUM(term) OVER (PARTITION BY cohort ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS BIGINT) END AS lg
        |  FROM tm),
        |f AS (SELECT * FROM km WHERE t <= 30 AND t >= 0),
        |st AS (SELECT cohort, t, lg,
        |    COALESCE(LAG(t) OVER (PARTITION BY cohort ORDER BY t), 0) AS pt,
        |    COALESCE(LAG(lg) OVER (PARTITION BY cohort ORDER BY t), 0)
        |      AS pl,
        |    MAX(t) OVER (PARTITION BY cohort) AS mt FROM f),
        |co AS (SELECT cohort,
        |    CAST(round(1e6 * exp(CAST(pl AS DOUBLE) / 1e6) *
        |      CAST(t - pt AS DOUBLE)) AS BIGINT) AS contrib,
        |    CASE WHEN t = mt AND t < 30 THEN CAST(round(1e6 *
        |      (CASE WHEN lg IS NULL THEN 0.0
        |        ELSE exp(CAST(lg AS DOUBLE) / 1e6) END) *
        |      CAST(30 - t AS DOUBLE)) AS BIGINT) ELSE 0 END AS tail
        |  FROM st)
        |SELECT cohort, CAST(30 AS BIGINT) AS tau,
        |  CAST(COUNT(*) AS BIGINT) AS n_times,
        |  CAST(SUM(contrib) + SUM(tail) AS BIGINT) AS rmst_micro
        |FROM co GROUP BY 1 ORDER BY cohort""".stripMargin,
    "q_gehan" ->
      """WITH u AS (SELECT user_id,
        |    (MAX(epoch_ns(ts) // 1000) - MIN(epoch_ns(ts) // 1000))
        |      // 86400000000 AS t,
        |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS ev
        |  FROM events GROUP BY 1),
        |c AS (SELECT user_id % 3 AS seg, user_id % 2 = 0 AS g, t, ev FROM u),
        |pt AS (SELECT seg, t, COUNT(*) AS m,
        |    COUNT(CASE WHEN g THEN 1 END) AS ma,
        |    COUNT(CASE WHEN ev THEN 1 END) AS d,
        |    COUNT(CASE WHEN ev AND g THEN 1 END) AS da
        |  FROM c GROUP BY 1, 2),
        |r AS (SELECT *, SUM(m) OVER (PARTITION BY seg ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
        |    SUM(ma) OVER (PARTITION BY seg ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS na
        |  FROM pt),
        |k AS (SELECT * FROM r WHERE d > 0),
        |tm AS (SELECT seg,
        |    (da::HUGEINT * n - d::HUGEINT * na) * 1000000 AS oe,
        |    CASE WHEN n = 1 THEN 0
        |      ELSE CAST(round(1e6 *
        |        CAST(d::HUGEINT * na * (n - na) * (n - d) AS DOUBLE) /
        |        CAST(n - 1 AS DOUBLE)) AS HUGEINT) END AS v
        |  FROM k)
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_times,
        |  CAST(SUM(oe) AS BIGINT) AS oe_w_sum_micro,
        |  CAST(SUM(v) AS BIGINT) AS var_w_sum_micro,
        |  CASE WHEN SUM(v) <= 0 THEN NULL
        |    ELSE CAST(round(1e3 * CAST(SUM(oe) AS DOUBLE) /
        |      sqrt(CAST(SUM(v) AS DOUBLE))) AS BIGINT) END AS z_micro
        |FROM tm GROUP BY 1 ORDER BY seg""".stripMargin,
    "q_bh_fdr" ->
      """WITH p AS (SELECT source, lang,
        |    CAST(SUM(n_chars) % 1000000 AS BIGINT) AS p_micro
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER
        |    (ORDER BY p_micro, source, lang) AS BIGINT) AS rank,
        |    COUNT(*) OVER () AS m FROM p),
        |k AS (SELECT MAX(CASE WHEN p_micro * m <= rank * 200000
        |    THEN rank END) AS k_star, MAX(m) AS m0 FROM r)
        |SELECT source, lang, p_micro, rank,
        |  CAST(m0 AS BIGINT) AS m_tests, CAST(k_star AS BIGINT) AS k_star,
        |  (k_star IS NOT NULL AND rank <= k_star) AS reject
        |FROM r, k ORDER BY rank""".stripMargin,
    "q_cuped" ->
      """WITH u AS (SELECT event_type, user_id,
        |    COALESCE(SUM(CASE WHEN event_id % 2 = 0
        |      THEN CAST(round(value * 1000) AS BIGINT) END), 0) AS x,
        |    COALESCE(SUM(CASE WHEN event_id % 2 <> 0
        |      THEN CAST(round(value * 1000) AS BIGINT) END), 0) AS y
        |  FROM events GROUP BY 1, 2),
        |pv AS (SELECT event_type, user_id % 2 AS variant,
        |    COUNT(*)::HUGEINT AS nv, SUM(x::HUGEINT) AS sxv,
        |    SUM(y::HUGEINT) AS syv, SUM(x::HUGEINT * x) AS sxxv,
        |    SUM(x::HUGEINT * y) AS sxyv, SUM(y::HUGEINT * y) AS syyv
        |  FROM u GROUP BY 1, 2),
        |pl AS (SELECT event_type, SUM(nv) AS n, SUM(sxv) AS sx,
        |    SUM(syv) AS sy, SUM(sxxv) AS sxx, SUM(sxyv) AS sxy,
        |    SUM(syyv) AS syy FROM pv GROUP BY 1),
        |j AS (SELECT pv.*, pl.n, pl.sx, pl.sy,
        |    pl.n * pl.sxy - pl.sx * pl.sy AS covn,
        |    pl.n * pl.sxx - pl.sx * pl.sx AS varxn,
        |    pl.n * pl.syy - pl.sy * pl.sy AS varyn
        |  FROM pv JOIN pl USING (event_type))
        |SELECT event_type, variant, CAST(nv AS BIGINT) AS n,
        |  CAST(round(1e6 * (CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)))
        |    AS BIGINT) AS mean_y_micro,
        |  CASE WHEN varxn = 0
        |    THEN CAST(round(1e6 * (CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)))
        |      AS BIGINT)
        |    ELSE CAST(round(1e6 *
        |      (CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE) -
        |        CAST(covn AS DOUBLE) / CAST(varxn AS DOUBLE) *
        |        (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE) -
        |          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))) AS BIGINT) END
        |    AS mean_adj_micro,
        |  CASE WHEN varxn = 0 THEN NULL
        |    ELSE CAST(round(1e6 *
        |      (CAST(covn AS DOUBLE) / CAST(varxn AS DOUBLE))) AS BIGINT) END
        |    AS theta_micro,
        |  CASE WHEN varxn = 0 OR varyn = 0 THEN NULL
        |    ELSE CAST(round(1e6 * CAST(covn AS DOUBLE) * CAST(covn AS DOUBLE)
        |      / CAST(varxn AS DOUBLE) / CAST(varyn AS DOUBLE)) AS BIGINT) END
        |    AS var_reduction_ppm
        |FROM j ORDER BY event_type, variant""".stripMargin,
    // JSD replayed: same joined-count machinery as q_token_kl, one
    // rounded micro-nat per term with m = (p+q)/2 inlined identically
    "q_jsd" -> {
      val pp = "((CAST(p_cnt AS DOUBLE) + 1.0) / (np + v))"
      val qq = "((CAST(q_cnt AS DOUBLE) + 1.0) / (nq + v))"
      val mm = s"(($pp + $qq) / 2.0)"
      s"""WITH cp AS (SELECT t AS term, COUNT(*) AS p_cnt FROM
         |    (SELECT unnest(string_split(text, ' ')) AS t FROM documents
         |     WHERE source = 'src0') WHERE t <> '' GROUP BY 1),
         |cq AS (SELECT t AS term, COUNT(*) AS q_cnt FROM
         |    (SELECT unnest(string_split(text, ' ')) AS t FROM documents
         |     WHERE source <> 'src0') WHERE t <> '' GROUP BY 1),
         |j AS (SELECT COALESCE(cp.term, cq.term) AS term,
         |    COALESCE(p_cnt, 0) AS p_cnt, COALESCE(q_cnt, 0) AS q_cnt
         |  FROM cp FULL OUTER JOIN cq ON cp.term = cq.term),
         |tot AS (SELECT SUM(p_cnt) AS np, SUM(q_cnt) AS nq,
         |    COUNT(*) AS v FROM j),
         |sc AS (SELECT CAST(round(1e6 *
         |    (0.5 * $pp * ln($pp / $mm) + 0.5 * $qq * ln($qq / $mm)))
         |    AS BIGINT) AS c
         |  FROM j, tot)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         |  CAST(SUM(c) AS BIGINT) AS jsd_unats FROM sc""".stripMargin
    },
    // spherical path length replayed: the q_st_sphere haversine CTE
    // verbatim, summed legs rounded once; a one-point path is 0.0
    "q_st_agg_sphere" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS INT) AS qi, CAST(l_linenumber AS INT) AS lni FROM lineitem),
        |c AS (SELECT qi, lni,
        |        qi / 8.0 - 3.0 AS ax, lni / 4.0 AS ay
        |      FROM p),
        |h AS (SELECT qi, lni,
        |        2.0 * 6371008.7714 * asin(least(1.0, sqrt(
        |          sin((((ay + 0.25) - ay) / 180.0 * pi()) / 2) * sin((((ay + 0.25) - ay) / 180.0 * pi()) / 2)
        |          + cos(ay / 180.0 * pi()) * cos((ay + 0.25) / 180.0 * pi())
        |            * sin((((ax + 0.5) - ax) / 180.0 * pi()) / 2) * sin((((ax + 0.5) - ax) / 180.0 * pi()) / 2)))) AS hav_ab,
        |        2.0 * 6371008.7714 * asin(least(1.0, sqrt(
        |          sin((((ay - 0.5) - (ay + 0.25)) / 180.0 * pi()) / 2) * sin((((ay - 0.5) - (ay + 0.25)) / 180.0 * pi()) / 2)
        |          + cos((ay + 0.25) / 180.0 * pi()) * cos((ay - 0.5) / 180.0 * pi())
        |            * sin((((ax + 1.0) - (ax + 0.5)) / 180.0 * pi()) / 2) * sin((((ax + 1.0) - (ax + 0.5)) / 180.0 * pi()) / 2)))) AS hav_bc
        |      FROM c)
        |SELECT qi, lni,
        |  round(hav_ab + hav_bc, 6) AS path_m,
        |  CAST(0.0 AS DOUBLE) AS single_m
        |FROM h ORDER BY qi, lni""".stripMargin
  )
}
