package graft

import graft.functions._
import graft.tools.Session
import org.apache.spark.sql.functions._

/**
 * Benchmark main. Two families:
 *  1. headline queries from SparkEntry over SPARK_GRAFT_SF_DIR;
 *  2. micro shapes that reproduce the reference's JMH benchmarks
 *     (BASELINE.md): stats aggregate over 400×240² uint16ud255 tiles,
 *     tile explode 100×256², assemble 100×256² — same data shapes,
 *     generated synthetically exactly like the reference's
 *     randomTile-based benches.
 * Prints ONE JSON line: {"metric","value","unit","queries",...,"sf"}.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    /** best-of-n after one warmup, like JMH avg after warmup iterations */
    def bestOf(n: Int)(body: => Unit): Double = {
      body // warmup
      (1 to n).map(_ => time(body)).min
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // ---- spike forensics ----
    // The r16 stability file showed single-RUN spikes hitting several
    // heavy-join queries in the SAME run (q_cosine_join 23.7s and
    // q_kn_score 18.5s in run 3, both ~1s in every other run) that the
    // code-cache fix did not cure. Evidence collection, not guesswork:
    //  * per-rep GC-time delta from the GarbageCollectorMXBeans —
    //    distinguishes "the JVM was collecting" from "the JVM was wedged
    //    elsewhere";
    //  * a watchdog thread per timed rep that fires a FULL thread dump
    //    to SPARK_GRAFT_DUMP_DIR while the slow rep is still running
    //    (budget: 5x the recorded median from SPARK_GRAFT_BENCH_REF, a
    //    previous BENCH_SELF json; fallback 5x this run's warmup).
    // Watchdog threads are daemons and cost one 50ms-poll loop — nothing
    // measurable against multi-second queries.
    val refMedians: Map[String, Double] =
      sys.env.get("SPARK_GRAFT_BENCH_REF")
        .filter(p => new java.io.File(p).exists).map { p =>
          val src = scala.io.Source.fromFile(p)
          val txt = try src.mkString finally src.close()
          """"(q_[a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }.getOrElse(Map.empty)
    val dumpDir = sys.env.getOrElse("SPARK_GRAFT_DUMP_DIR", "/tmp/graft_bench_dumps")
    // Janino compilations (generated-class cache misses) in the timed
    // reps, per entry: a warm query that still compiles has lost its
    // classes from the cache. File record only.
    val compiles = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def codegenCompiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def gcTimeMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    final class Watchdog(name: String, budgetSec: Double) {
      @volatile private var done = false
      private val t0 = System.nanoTime()
      private val th = new Thread(() => {
        val deadline = t0 + (budgetSec * 1e9).toLong
        while (!done && System.nanoTime() < deadline) Thread.sleep(50)
        if (!done) {
          val sb = new StringBuilder
          sb.append(s"=== graft bench watchdog: $name still running after ")
            .append(f"$budgetSec%.1f s (5x its reference median) ===\n")
          val mem = java.lang.management.ManagementFactory.getMemoryMXBean
          sb.append(s"heap: ${mem.getHeapMemoryUsage}\n")
          import scala.jdk.CollectionConverters._
          java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
            .asScala.foreach(b => sb.append(
              s"gc ${b.getName}: count=${b.getCollectionCount} timeMs=${b.getCollectionTime}\n"))
          sb.append("--- full thread dump ---\n")
          Thread.getAllStackTraces.asScala.toSeq
            .sortBy(_._1.getName).foreach { case (t, frames) =>
              sb.append(s"\n\"${t.getName}\" state=${t.getState}\n")
              frames.foreach(f => sb.append(s"    at $f\n"))
            }
          val dir = new java.io.File(dumpDir)
          dir.mkdirs()
          val f = new java.io.File(dir, s"$name-${System.currentTimeMillis()}.txt")
          val w = new java.io.PrintWriter(f)
          try w.print(sb.toString) finally w.close()
          System.err.println(s"[watchdog] $name exceeded ${f"$budgetSec%.1f"}s — thread dump at $f")
        }
      })
      th.setDaemon(true); th.start()
      def cancel(): Unit = done = true
    }

    /** warmup run + median of 3 timed runs — stable against JIT/GC noise;
      * leftover blocks are released after every rep so rep N doesn't pay
      * for rep N-1's leaked state. Each timed rep runs under a watchdog
      * (thread dump if it blows 5x its reference median) and records its
      * GC-time delta; a 5x-over-best rep above 2s absolute prints its
      * per-rep times + GC seconds so spikes carry evidence, not vibes. */
    def medianOf3(name: String)(body: => Unit): Double = {
      val tw = time(body) // warmup (also the budget fallback)
      Session.releaseLeftovers(spark)
      val budget = refMedians.get(name).map(m => math.max(5 * m, 2.0))
        .getOrElse(math.max(5 * tw, 10.0))
      val compiles0 = codegenCompiles
      val reps = Array.fill(3) {
        val gc0 = gcTimeMs
        val wd = new Watchdog(name, budget)
        val t = try time(body) finally wd.cancel()
        Session.releaseLeftovers(spark)
        (t, (gcTimeMs - gc0) / 1000.0)
      }
      compiles(name) = codegenCompiles - compiles0
      val ts = reps.map(_._1).sorted
      if (ts(2) > 5 * ts(0) && ts(2) > 2.0)
        System.err.println(
          f"[spike] $name reps_s=${reps.map(r => f"${r._1}%.2f").mkString(",")} " +
            f"gc_s=${reps.map(r => f"${r._2}%.2f").mkString(",")} warmup_s=$tw%.2f")
      ts(1)
    }

    // JVM/codegen warmup so the first timed query isn't charged for it
    try SparkEntry.queries("q_tile_sum")(spark, sfDir).write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    // ---- headline SparkEntry queries at the target SF ----
    // Failures are NOT swallowed into fake-fast timings: a crashing query
    // is recorded under "errors", excluded from the total, and flagged.
    // Sorted-name order: the Map's hash order reshuffles globally when a
    // query is added, silently changing every query's predecessor (and so
    // its inherited JVM state) between rounds; alphabetical order only
    // perturbs the insertion's neighbors.
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      // progress to stderr (stdout carries only the final JSON line) so
      // a wedged query is identifiable from the log, not just a autopsy
      System.err.println(s"[bench] $name")
      try {
        results(name) = medianOf3(name) {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        }
      } catch {
        case e: Throwable =>
          errors(name) = e.toString.replaceAll("[\"\\\\\r\n]", " ").take(200)
          System.err.println(s"BENCH FAILURE in $name: $e")
      }
      // NO explicit System.gc() here: measured (round 8), a full GC per
      // query made the whole suite ~1.3× slower — G1 returns committed
      // heap to the OS and every successor pays re-commit page faults.
      // The deterministic Session.releaseLeftovers above is the real fix.
    }

    // ---- baseline micro shapes (match BASELINE.md configs) ----
    // 400 tiles of 240x240 uint16ud255, 10 partitions — rf_agg_stats: 2061 ms baseline
    val statsTiles = spark.range(400).repartition(10)
      .select(rf_synthetic_tile(col("id"), 240, 240, "uint16ud255").as("t"))
      .persist()
    statsTiles.count()
    results("micro_agg_stats_400x240_uint16ud255") =
      bestOf(3)(statsTiles.agg(rf_agg_stats(col("t"))).collect())
    results("micro_agg_mean_400x240_uint16ud255") =
      bestOf(3)(statsTiles.agg(rf_agg_mean(col("t"))).collect())
    statsTiles.unpersist()

    // 100 tiles of 256x256, 10 partitions — explode: 217 (uint8) / 412 (f64) ms baseline
    for (ctName <- Seq("uint8", "float64")) {
      val tiles = spark.range(100).repartition(10)
        .select(rf_synthetic_tile(col("id"), 256, 256, ctName).as("t"))
        .persist()
      tiles.count()
      results(s"micro_explode_100x256_$ctName") = bestOf(3) {
        tiles.select(rf_explode_tiles(col("t")))
          .write.mode("overwrite").format("noop").save()
      }
      tiles.unpersist()
    }

    // assemble from exploded cells (ordered) — 99.7 ms (256²) baseline.
    // Mirrors the reference's TileAssembleBench exactly (ref
    // bench/.../TileAssembleBench.scala:48-77): int8 cells, cell-typed
    // assembler, repartition(4, id), count() finisher.
    locally {
      val cellsDf = spark.range(100)
        .select(col("id"), rf_synthetic_tile(col("id"), 256, 256, "int8").as("t"))
        .select(col("id"), rf_explode_tiles(col("t")))
        .repartition(4, col("id"))
        .persist()
      cellsDf.count()
      results("micro_assemble_100x256") = bestOf(3) {
        cellsDf.groupBy("id")
          .agg(rf_assemble_tile(col("column_index"), col("row_index"), col("t"),
            256, 256, "int8"))
          .count()
      }
      cellsDf.unpersist()
    }

    // tile encode round-trip shape: 100k small binary ops (local_add 64² uint16ud255 ×100) — 60.2 ms baseline
    val opTiles = spark.range(100).repartition(10)
      .select(rf_synthetic_tile(col("id"), 64, 64, "uint16ud255").as("a"),
        rf_synthetic_tile(col("id") + 1, 64, 64, "uint16ud255").as("b"))
      .persist()
    opTiles.count()
    results("micro_binary_op_100x64_uint16ud255") = bestOf(3) {
      opTiles.select(rf_local_add(col("a"), col("b")))
        .write.mode("overwrite").format("noop").save()
    }
    opTiles.unpersist()

    // ---- remaining BASELINE.md headline rows (per-op, driver-side) ----
    /** best-of-3 of an n-iteration loop, divided by n — the JMH
      * AverageTime analog for sub-millisecond per-op shapes. */
    def perOp(n: Int)(body: => Unit): Double = {
      var i = 0; while (i < n) { body; i += 1 } // warmup
      bestOf(3) { var j = 0; while (j < n) { body; j += 1 } } / n
    }
    // Multiband RGB render to PNG — 397.7 ms/op baseline
    // (MultibandRenderBench.scala renders a Landsat8 natural-color COG;
    // that fixture isn't shipped, so the same work shape: three uint16
    // 512x512 bands -> rf_render_png composite, per-op driver-side eval
    // of the exact expression the SQL path runs).
    locally {
      val mk = (seed: Long) => {
        val rnd = new scala.util.Random(seed)
        val t = graft.core.Tile.empty(graft.core.CellType.fromName("uint16"), 512, 512)
        var i = 0; while (i < 512 * 512) { t.setDouble(i, rnd.nextInt(65535).toDouble); i += 1 }
        t: graft.core.Tile
      }
      val (r, g, b) = (mk(1), mk(2), mk(3))
      val rr = graft.udt.TileUDT.encode(r)
      val gr = graft.udt.TileUDT.encode(g)
      val br = graft.udt.TileUDT.encode(b)
      val renderExpr = graft.expressions.RenderRGBPNG(graft.expressions.RGBComposite(
        org.apache.spark.sql.catalyst.expressions.BoundReference(0, graft.udt.TileUDT.instance.sqlType, nullable = false),
        org.apache.spark.sql.catalyst.expressions.BoundReference(1, graft.udt.TileUDT.instance.sqlType, nullable = false),
        org.apache.spark.sql.catalyst.expressions.BoundReference(2, graft.udt.TileUDT.instance.sqlType, nullable = false)))
      val row = org.apache.spark.sql.catalyst.InternalRow(rr, gr, br)
      var sink: Any = null
      results("micro_render_png") = perOp(5) { sink = renderExpr.eval(row) }
      if (sink == null) System.err.println("unexpected null render")
    }
    // Tile UDT encode / encode+decode round-trip, 512² float64 —
    // 1 080.8 / 3 401.0 µs/op baselines (TileEncodeBench.scala).
    locally {
      val rnd = new scala.util.Random(7)
      val t = graft.core.Tile.empty(graft.core.CellType.fromName("float64"), 512, 512)
      var i = 0; while (i < 512 * 512) { t.setDouble(i, rnd.nextDouble() * 1e4); i += 1 }
      val tile: graft.core.Tile = t
      var sink: Any = null
      results("micro_tile_encode_512") = perOp(500) {
        sink = graft.udt.TileUDT.encode(tile)
      }
      results("micro_tile_roundtrip_512") = perOp(500) {
        sink = graft.udt.TileUDT.decode(graft.udt.TileUDT.encode(tile))
      }
      if (sink == null) System.err.println("unexpected null roundtrip")
    }
    // CRS parse (resolveCRS cold: 13.08 µs/op) and warm logical equals
    // (0.037 µs/op) — CRSBench.scala. Our CRS is a string-normalized
    // registry (no proj4 database walk), so "parse" = normalize +
    // EPSG resolve + registry validation, the full cost a fresh CRS
    // string pays before any transform.
    locally {
      val codes = Array("epsg:4326", "EPSG:3857", "epsg:32633", "epsg:32718")
      var acc = 0
      results("micro_crs_parse") = perOp(1000000) {
        val c = graft.core.crs.CRS(codes(acc & 3))
        if (graft.core.crs.CRS.isSupported(c)) acc += c.epsg.get & 7 else acc += 1
      }
      val a = graft.core.crs.CRS("epsg:4326"); val b2 = graft.core.crs.CRS("EPSG:4326")
      results("micro_crs_equals_warm") = perOp(1000000) {
        if (a.normalized == b2.normalized) acc += 1
      }
      if (acc == -1) System.err.println("unreachable")
    }

    val qs = results.map { case (k, v) =>
      // per-op micros run far below 0.1 ms — fixed 4 decimals would
      // print them as 0.0000, so tiny values switch to e-notation
      "\"" + k + "\":" + (if (v >= 0.001) f"$v%.4f" else f"$v%.4e")
    }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.values.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // The driver captures only a ~2000-char TAIL of stdout, and the full
    // line above is ~14 KB at 361 entries — BENCH_r14..r19 all have
    // parsed:{} for exactly this reason (the r19 verdict's "Next round"
    // item 2 asks for this fix). Emit a second, guaranteed-short summary
    // line LAST so at minimum the totals parse from the tail; the full
    // per-query record stays one line above and in
    // $SPARK_GRAFT_BENCH_JSON. Nothing is removed or renamed — this is
    // purely additive to the stdout contract.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"sf":"$sfDir"}""")
    // Full per-query record to a file when asked: the driver's
    // BENCH_r*.json tail-truncates the stdout line, hiding half the
    // suite — SPARK_GRAFT_BENCH_JSON preserves every number (committed
    // per round as BENCH_SELF_r*.json).
    sys.env.get("SPARK_GRAFT_BENCH_JSON").foreach { p =>
      val w = new java.io.PrintWriter(p)
      // generated_at makes a byte-identical refresh distinguishable from
      // a stale record (r19 verdict gate-freshness item); file-only — the
      // stdout lines stay timestamp-free so reruns of the same tree diff
      // clean.
      val stamped = line.dropRight(1) +
        compiles.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString(",\"codegen_compiles\":{", ",", "}") +
        s""","generated_at":"${java.time.Instant.now()}"}"""
      try w.println(stamped) finally w.close()
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
