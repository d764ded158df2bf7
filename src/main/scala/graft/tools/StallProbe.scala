package graft.tools

import scala.jdk.CollectionConverters._

/**
 * Driver-stall profiler — built for the r17 spike hunt. The stability
 * pairs showed the in-suite slowdowns are alphabetically-contiguous
 * TIME WINDOWS (whole minutes where every query runs 2-20x slow) during
 * which the executors sit parked, GC is negligible, the host is 4-16%
 * busy, and the main thread blocks in AQE exchange submission — i.e. a
 * single-threaded driver-side stall. One watchdog thread dump caught
 * `o.a.hadoop.conf.Configuration.<init>` under
 * `SessionState.newHadoopConf` on the shuffle-exchange thread, but one
 * sample proves nothing; this probe gets the DISTRIBUTION.
 *
 * It cycles a set of cheap exchange-heavy queries at sf0.001 for N
 * minutes while a 10 Hz sampler records the top frames of the driver's
 * interesting threads (main, exchange pools, dag-scheduler, cleaners).
 * Every iteration that runs 5x over its query's best is reported with
 * the aggregated frame histogram of exactly its window — multi-sample
 * attribution of where the wall-clock went. A heartbeat additionally
 * times the suspected primitive (`new Configuration(hadoopConf)`) and
 * prints conf sizes, directly testing the "something grows the conf"
 * hypothesis.
 *
 * Usage: StallProbe [minutes] [sfDir]
 */
object StallProbe {
  def main(args: Array[String]): Unit = {
    val minutes = args.headOption.map(_.toInt).getOrElse(25)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Session.local(32)

    // timestamped frame samples from the driver-side threads of interest
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val sampler = new Thread(() => {
      while (true) {
        val now = System.currentTimeMillis()
        for ((t, st) <- Thread.getAllStackTraces.asScala) {
          val n = t.getName
          val interesting = n == "main" || n.contains("exchange") ||
            n.contains("dag-scheduler") || n.contains("Cleaner") ||
            n.contains("cleaner") || n.contains("listener")
          if (interesting && st.nonEmpty) {
            // skip idle-parked threads: their top frame is Unsafe.park
            val top = st.iterator.map(_.toString)
              .find(f => !f.startsWith("jdk.internal.misc.Unsafe.park") &&
                !f.startsWith("java.lang.Thread.sleep"))
              .getOrElse("parked")
            if (top != "parked") {
              val sig = st.iterator.map(_.toString)
                .filterNot(_.startsWith("jdk.internal"))
                .take(3).mkString(" <- ")
              samples.add((now, s"$n | ${t.getState} | $sig"))
            }
          }
        }
        // ring-buffer: keep the last 120s
        while (!samples.isEmpty && samples.peek()._1 < now - 120000) samples.poll()
        Thread.sleep(100)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val queries = Seq("q_trend", "q_chi2", "q_asof", "q_psi", "q_gini",
      "q_metadata", "q_lm_score", "q_percentiles")
    val best = scala.collection.mutable.Map.empty[String, Double]
    val deadline = System.currentTimeMillis() + minutes.toLong * 60000L
    var iter = 0
    val hc = spark.sparkContext.hadoopConfiguration
    while (System.currentTimeMillis() < deadline) {
      for (q <- queries if System.currentTimeMillis() < deadline) {
        val t0 = System.currentTimeMillis()
        graft.SparkEntry.queries(q)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val dt = (System.currentTimeMillis() - t0) / 1000.0
        val b = best.getOrElse(q, Double.MaxValue)
        if (dt < b) best(q) = dt
        if (dt > 5 * best(q) && dt > 1.0) {
          println(f"[stall] $q $dt%.2f s (best ${best(q)}%.2f) iter $iter")
          val window = samples.asScala.filter(s => s._1 >= t0).toSeq
          val hist = window.groupBy(_._2).view.mapValues(_.size).toSeq
            .sortBy(-_._2).take(12)
          println(s"  ${window.size} driver samples in the window:")
          hist.foreach { case (sig, n) => println(f"  $n%4d  $sig") }
        }
      }
      iter += 1
      if (iter % 25 == 0) {
        // the suspected primitive, timed: the exact copy the stack showed
        val t0 = System.nanoTime()
        var s = 0
        var i = 0
        while (i < 100) {
          s += new org.apache.hadoop.conf.Configuration(hc).size(); i += 1
        }
        val us = (System.nanoTime() - t0) / 100e3
        println(f"[heartbeat] iter $iter confCopy=$us%.1f us/copy " +
          f"hadoopConf.size=${hc.size()} sqlConfs=${spark.conf.getAll.size} " +
          f"persistentRDDs=${spark.sparkContext.getPersistentRDDs.size} sink=$s")
        graft.SparkEntry // keep reference
      }
    }
    println("[done] bests: " + best.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    spark.stop()
  }
}
