package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import graft.core.GridBounds
import graft.core.geotiff.GeoTiff
import graft.udt.{RefTile, TileUDT}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference

/** Benchmark harness: one JVM, `local[k]`, one closed-loop client issuing
  * one op at a time. It sets the workload up three times, runs ops for
  * the given seconds and writes the raw record (op times, failures, set-up
  * times and, when traced, per-layer counters) as JSON to `--out`.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --work DIR --out FILE [--smoke 1]
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, out: File, smoke: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")),
      kv.get("smoke").contains("1"))
  }

  def session(k: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Raster.init(spark)
    spark
  }

  /** Drops cached plans and persisted or checkpointed blocks an op left
    * behind, so op N never pays for op N-1's state. */
  def releaseLeftovers(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private val MinOps = 20
  private val WarmSeconds = 10.0
  private val untracedBuild: (=> DataFrame) => DataFrame = df => df

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final class Phase {
    val times = ArrayBuffer.empty[Double]
    /** CPU seconds of the whole JVM (all threads) during each op. */
    val cpu = ArrayBuffer.empty[Double]
    val labels = ArrayBuffer.empty[String]
    val errors = ArrayBuffer.empty[String]
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val k = math.min(4, Runtime.getRuntime.availableProcessors)
    a.work.mkdirs()
    val w = Workload(a.workload, a.seed, a.smoke, a.work)

    def failure(r: Try[Any], i: Int): Option[String] = r match {
      case Success(v) => w.check(v, i)
      case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

    // Set-up: session start, input generation and one warm-up op, three
    // times over so the median is not the JVM's cold start alone.
    val setups = ArrayBuffer.empty[Double]
    val warmupErrors = ArrayBuffer.empty[String]
    var spark: SparkSession = null
    (0 until (if (a.smoke) 1 else 3)).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(k, a.work)
      w.generate(spark)
      val warm = Try(w.op(spark, 0, untracedBuild))
      setups += secs(t0)
      failure(warm, 0).foreach(e => warmupErrors += s"set-up op: $e")
      releaseLeftovers(spark)
    }
    // Warm-up outside every timed region: the once-per-run check, then
    // checked ops, because op times keep falling for seconds after set-up.
    val warmStart = System.nanoTime()
    w.verify(spark)
    var warmOps = 0
    while (!a.smoke && secs(warmStart) < WarmSeconds) {
      val r = Try(w.op(spark, warmOps, untracedBuild))
      failure(r, warmOps).foreach(e => warmupErrors += s"warm-up op $warmOps: $e")
      releaseLeftovers(spark)
      warmOps += 1
    }

    // The timed loop. A traced run alternates untraced and traced rounds
    // (a round is one op, or one pass over query_mix's list), so both
    // halves see the same warm-up state and their medians give the
    // tracing overhead. The tracer stays attached throughout but only
    // drains events and counts during traced rounds.
    val untraced = new Phase
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val traced = tracer.map(_ => new Phase)
    tracer.foreach(_.attach())
    val ticks0 = Proc.machineTicks
    val start = System.nanoTime()
    var i = 0
    // at least twenty ops per phase, so the tail percentile has samples beyond it
    while (i % w.roundSize != 0 || secs(start) < a.seconds ||
        (untraced +: traced.toSeq).exists(_.times.size < MinOps)) {
      val t = tracer.filter(_ => (i / w.roundSize) % 2 == 1)
      val ph = if (t.isDefined) traced.get else untraced
      val build: (=> DataFrame) => DataFrame = t match {
        case Some(tr) => df => tr.build(df)
        case None => untracedBuild
      }
      t.foreach(_.beginOp())
      val c0 = Proc.cpuNs
      val t0 = System.nanoTime()
      val r = Try(w.op(spark, i, build))
      val dt = secs(t0)
      ph.cpu += (Proc.cpuNs - c0) / 1e9
      t.foreach(_.endOp())
      val err = failure(r, i)
      releaseLeftovers(spark)
      ph.times += dt
      ph.labels += w.label(i)
      err.foreach(e => ph.errors += s"op $i (${w.label(i)}): $e")
      i += 1
    }
    val ticks1 = Proc.machineTicks
    tracer.foreach(_.detach())
    val micro = if (a.trace) Micro.run(a.seed, a.work) else Nil
    spark.stop()

    val fields = ArrayBuffer[(String, String)](
      "workload" -> Json.str(w.name), "seed" -> a.seed.toString, "k" -> k.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "smoke" -> a.smoke.toString,
      "setup_s_runs" -> Json.nums(setups.toSeq),
      "warmup_ops" -> warmOps.toString,
      "warmup_errors" -> Json.strs(warmupErrors.toSeq),
      "cells_per_op" -> w.cellsPerOp.toString,
      "op_s" -> Json.nums(untraced.times.toSeq),
      "op_cpu_s" -> Json.nums(untraced.cpu.toSeq),
      "op_labels" -> Json.strs(untraced.labels.toSeq),
      "errors" -> Json.strs(untraced.errors.toSeq),
      "peak_rss_mb" -> Json.num(Proc.peakRssMb),
      // share of the machine's CPU time the hypervisor took away while the
      // ops ran: the first thing to look at when a run is slow
      "steal_share" -> Json.num((ticks1._2 - ticks0._2).toDouble /
        math.max(1L, ticks1._1 - ticks0._1)))
    for (ph <- traced; t <- tracer) {
      val n = ph.times.size.toDouble
      val wallMs = ph.times.sum * 1000
      val bytesRead = t.bytesRead
      val perOp = t.totals.map { case (key, v) => key -> v / n }
      val layer = perOp.toSeq.filterNot(_._1 == "scheduler.job_busy_ms") ++ Seq(
        "scheduler.driver_only_ms" -> (t.opWallMs - t.totals("scheduler.job_busy_ms")) / n,
        "executor.slot_utilisation" -> t.totals("executor.run_ms") / (wallMs * k),
        "jvm.gc_ms" -> t.gcMs / n,
        "blockmanager.rdd_block_peak_bytes" -> t.rddBlockPeakBytes.toDouble,
        "entry.build_ms" -> t.buildMs / n,
        "entry.build_jobs" -> t.buildJobs / n,
        "geotiff.bytes_read" -> bytesRead / n,
        "geotiff.read_amplification" ->
          (if (w.cellBytesDecodedPerOp == 0) 0.0 else bytesRead / n / w.cellBytesDecodedPerOp)
      ) ++ micro
      fields += "traced_op_s" -> Json.nums(ph.times.toSeq)
      fields += "traced_op_labels" -> Json.strs(ph.labels.toSeq)
      fields += "traced_errors" -> Json.strs(ph.errors.toSeq)
      fields += "layers" -> Json.obj(layer.map { case (key, v) => key -> Json.num(v) }.toMap, raw = true)
    }
    Files.writeString(a.out.toPath, Json.fields(fields.toSeq))
  }
}

/** Figures about the harness's own JVM process and the machine. */
object Proc {
  /** Peak resident memory (VmHWM) of this JVM, in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** CPU time of all this JVM's threads. */
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (all ticks, steal ticks) of the machine, from the first line of /proc/stat. */
  def machineTicks: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }
}

/** Times graft's layers directly on tiles cut from a harness-generated
  * scene: GeoTIFF codec, TileUDT codec and the core kernels the raster
  * workloads run. Reported as the median microseconds of repeated calls. */
object Micro {
  private def medianUs(reps: Int)(body: => Any): Double = {
    (0 until reps).foreach(_ => body) // JIT warm-up
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e3
    }.sorted
    ts(reps / 2)
  }

  def run(seed: Long, work: File): Seq[(String, Double)] = {
    val scenes = new Scenes(seed, 1, 1024)
    val dir = new File(work, "micro")
    scenes.write(dir)
    val path = scenes.path(dir, 0)
    val win = GridBounds(256, 256, 511, 511)
    val halo = GridBounds(255, 255, 512, 512)
    val u16 = RefTile.readWindow(path, win, 0)
    val b1 = RefTile.readWindow(path, win, 1)
    val f64 = graft.core.Focal.mean(RefTile.readWindow(path, halo, 0), graft.core.Focal.Square(1))
    // rf_normalized_difference as Spark evaluates it per row: decode both
    // tiles, run the cell kernel, encode the float64 result
    val ndvi = graft.expressions.NormalizedDifference(
      BoundReference(0, TileUDT.instance, nullable = true),
      BoundReference(1, TileUDT.instance, nullable = true))
    val pair = InternalRow(TileUDT.encode(u16), TileUDT.encode(b1))
    val encU = TileUDT.encode(u16); val encF = TileUDT.encode(f64)
    val reps = 31
    Seq(
      "geotiff.read_window_us" -> medianUs(reps)(RefTile.readWindow(path, win, 0)),
      "geotiff.read_info_us" -> medianUs(reps)(GeoTiff.readInfo(path)),
      "geotiff.write_tile_us" -> medianUs(reps)(GeoTiff.writeBytes(u16, scenes.extent(0), scenes.crs)),
      "udt.encode_us" -> medianUs(reps) { TileUDT.encode(u16); TileUDT.encode(f64) },
      "udt.decode_us" -> medianUs(reps) { TileUDT.decode(encU); TileUDT.decode(encF) },
      "core.ndvi_us" -> medianUs(reps)(ndvi.eval(pair)),
      "core.focal_mean_us" -> medianUs(reps)(graft.core.Focal.mean(u16, graft.core.Focal.Square(1))),
      "core.resample_us" -> medianUs(reps)(graft.core.Resample.bilinear(f64, 129, 129)),
      "core.stats_us" -> medianUs(reps)(f64.statsAccum))
  }
}
