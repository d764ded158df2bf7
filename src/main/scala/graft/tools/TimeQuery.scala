package graft.tools

/** Times individual SparkEntry queries (warmup + median-of-3, like Bench)
  * without running the whole bench suite. Usage:
  * `runMain graft.tools.TimeQuery q_dedup_pipeline[,q_x,...] [sfDir]` */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    // honor the bench's core-count contract so isolated medians can be
    // taken at the driver's low-cpu point too (default unchanged: 32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // A/B hook: SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2" layers session
    // confs on top, so candidate settings are measurable without edits
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(
      _.split(";").map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k.trim -> v.trim
          case _ => sys.error(
            s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
        }
      })
    val spark = Session.local(cpus, extra: _*)
    for (n <- names) {
      def run(): Unit =
        graft.SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
      run()
      Session.releaseLeftovers(spark)
      val ts = Array.fill(3) {
        val t0 = System.nanoTime(); run()
        val t = (System.nanoTime() - t0) / 1e9
        Session.releaseLeftovers(spark); t
      }.sorted
      println(f"TIME $n ${ts(1)}%.3f s (min ${ts(0)}%.3f max ${ts(2)}%.3f) sf=$sfDir")
    }
    spark.stop()
  }
}
