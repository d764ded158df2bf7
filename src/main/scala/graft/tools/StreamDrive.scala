package graft.tools

import org.apache.spark.sql.streaming.Trigger

/** Drive the stateful streaming faces end-to-end over the real events
  * parquet (readStream → flatMapGroupsWithState → memory sink) and
  * print row counts next to their batch twins. Usage:
  * `runMain graft.tools.StreamDrive [sfDir]` */
object StreamDrive {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Session.local(8)
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // events.parquet is a single file: glob-filter the directory (the
    // file source needs a directory basePath)
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)

    val attr = graft.streaming.StreamingPipeline.attributionStream(
      stream, "user_id", "event_id", "ts", "event_type", "purchase",
      Seq("click", "view"), lookbackMicros = 7L * 24 * 3600 * 1000000L)
    val q = attr.toDF().writeStream.format("memory").queryName("drive_attr")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT COUNT(*) FROM drive_attr").collect()(0).getLong(0)

    val batch = graft.pipeline.Temporal.attribution(
      spark.read.parquet(path), "user_id", "event_id", "ts", "event_type",
      "purchase", Seq("click", "view"), 7L * 24 * 3600 * 1000000L).count()
    println(s"[stream-drive] attribution: streamed=$streamed batch=$batch " +
      (if (streamed == batch) "MATCH" else "MISMATCH"))
    require(streamed == batch, "stream/batch attribution row counts differ")

    // CUSUM face: per-user event-value stream, closed-form state
    val cs = graft.streaming.StreamingPipeline.cusumStream(
      stream.selectExpr("user_id", "unix_micros(cast(ts as timestamp)) AS tus",
        "cast(round(value * 100) as bigint) AS vc"),
      "user_id", "tus", "vc", ref = 50L, slack = 5L, threshold = 500L)
    val q2 = cs.toDF().writeStream.format("memory").queryName("drive_cusum")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val streamedFlags = spark.sql(
      "SELECT COUNT(*) FROM drive_cusum WHERE isChange").collect()(0).getLong(0)
    val ev = spark.read.parquet(path)
      .selectExpr("user_id", "unix_micros(cast(ts as timestamp)) AS tus",
        "cast(round(value * 100) as bigint) AS vc")
    val batchFlags = graft.pipeline.Stats.cusum(ev, Seq("user_id"), "tus", "vc",
      50L, 5L, 500L).where(org.apache.spark.sql.functions.col("is_change")).count()
    println(s"[stream-drive] cusum flags: streamed=$streamedFlags batch=$batchFlags " +
      (if (streamedFlags == batchFlags) "MATCH" else "MISMATCH"))
    require(streamedFlags == batchFlags, "stream/batch cusum flag counts differ")

    // PSI drift monitor: daily windows of value-cents vs a uniform
    // reference fit from the full batch (deciles of the value column)
    val cents = spark.read.parquet(path)
      .selectExpr("cast(round(value * 100) as bigint) AS vc")
    val bounds = (1 until 10).map(p =>
      cents.stat.approxQuantile("vc", Array(p / 10.0), 0.0).head.toLong).toArray
    val refCounts = Array.fill(10)(cents.count() / 10)
    val psi = graft.streaming.StreamingPipeline.psiWindowed(
      stream.selectExpr("cast(ts as timestamp) AS ts",
        "cast(round(value * 100) as bigint) AS vc"),
      "ts", "vc", bounds, refCounts, "1 day")
    val q3 = psi.writeStream.format("memory").queryName("drive_psi")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination(120000)
    val windows = spark.sql(
      "SELECT COUNT(*), MAX(abs(psi_unats)) FROM drive_psi").collect()(0)
    println(s"[stream-drive] psi windows=${windows.getLong(0)} " +
      s"max|psi|=${windows.getLong(1)} unats (self-reference: expect small)")
    require(windows.getLong(0) > 0, "psi monitor emitted no windows")
    spark.stop()
  }
}
