package org.apache.spark

/** The one Spark-internal call the harness needs: wait until every
  * posted listener event has been delivered, so per-op counters read
  * after an action include all of that action's jobs, stages and tasks. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
