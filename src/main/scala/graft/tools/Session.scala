package graft.tools

import org.apache.spark.sql.SparkSession

/** The one way a graft entry point builds its SparkSession: every `main`
  * under `src/main` and the test session go through [[local]], so they
  * differ only in core count and the confs a tool passes as `extra`. */
object Session {
  /** `local[cpus]` with `cpus` shuffle partitions, AQE on, UTC session
    * time, no UI, WARN logging and graft's functions registered. `extra`
    * confs are applied last, so a tool can override a default. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Raster.init(spark)
    spark
  }

  /** Release Spark-level state a query invocation may have left behind:
    * SQL-cached plans and persisted/localCheckpoint'ed RDD blocks.
    * Queries that persist internally (IVF assignment, dedup fixpoints)
    * can't unpersist before their consumer acts, so the blocks outlive
    * the invocation — across a 100+-query suite in one JVM they
    * accumulate and contaminate every later measurement (the round-8
    * scale curve measured q_terrain at 4× its isolated time from
    * exactly this). Call it OUTSIDE any timed region. */
  def releaseLeftovers(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
