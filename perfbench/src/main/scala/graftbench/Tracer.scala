package graftbench

import scala.collection.mutable

import graft.core.geotiff.GeoTiff
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run. Spark's listener bus feeds the
  * scheduler, executor, shuffle and datasource counters; the
  * QueryExecutionListener feeds Catalyst phase times and the rows of
  * `Generate` nodes. Counters only advance between `beginOp` and
  * `endOp`, so work done by the harness's own checks is never counted. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private var inOp = false
  private var activeJobs = 0
  private var busySince = 0L
  private val scanStages = mutable.Set.empty[Int]

  val totals: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    "scheduler.jobs" -> 0.0, "scheduler.stages" -> 0.0, "scheduler.tasks" -> 0.0,
    "scheduler.job_busy_ms" -> 0.0,
    "executor.run_ms" -> 0.0, "executor.cpu_ms" -> 0.0,
    "shuffle.write_bytes" -> 0.0, "shuffle.read_bytes" -> 0.0, "shuffle.spill_bytes" -> 0.0,
    "datasource.scan_partitions" -> 0.0, "datasource.tiles_out" -> 0.0,
    "catalyst.analysis_ms" -> 0.0, "catalyst.optimization_ms" -> 0.0,
    "catalyst.planning_ms" -> 0.0, "expressions.generate_rows" -> 0.0)
  var opWallMs = 0.0
  var gcMs = 0.0
  var rddBlockPeakBytes = 0L
  var buildMs = 0.0
  var buildJobs = 0.0
  var bytesRead = 0.0
  private var gc0 = 0L
  private var bytes0 = 0L
  private var opStartNs = 0L

  private def add(k: String, v: Double): Unit = synchronized { if (inOp) totals(k) += v }

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit = BenchAccess.drainListeners(sc)

  def beginOp(): Unit = {
    drain()
    synchronized { inOp = true }
    gc0 = Tracer.gcMs
    bytes0 = GeoTiff.bytesReadTotal
    opStartNs = System.nanoTime()
  }

  /** Closes an op: waits for its events, then samples the block manager
    * before the harness releases leftover blocks. */
  def endOp(): Unit = {
    val wall = (System.nanoTime() - opStartNs) / 1e6
    drain()
    synchronized { inOp = false }
    opWallMs += wall
    gcMs += Tracer.gcMs - gc0
    bytesRead += (GeoTiff.bytesReadTotal - bytes0).toDouble
    val blocks = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    rddBlockPeakBytes = math.max(rddBlockPeakBytes, blocks)
  }

  /** Times a query builder call and counts the jobs it starts before the
    * query's own action (driver pre-jobs). */
  def build[T](body: => T): T = {
    drain()
    val j0 = synchronized(totals("scheduler.jobs"))
    val t0 = System.nanoTime()
    val r = body
    buildMs += (System.nanoTime() - t0) / 1e6
    drain()
    buildJobs += synchronized(totals("scheduler.jobs")) - j0
    r
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (inOp) {
      totals("scheduler.jobs") += 1
      if (activeJobs == 0) busySince = e.time
      activeJobs += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (inOp && activeJobs > 0) {
      activeJobs -= 1
      if (activeJobs == 0) totals("scheduler.job_busy_ms") += (e.time - busySince).toDouble
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    if (inOp && info.rddInfos.exists(_.name == "DataSourceRDD")) {
      scanStages += info.stageId
      totals("datasource.scan_partitions") += info.numTasks
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("scheduler.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    synchronized {
      if (inOp) {
        totals("scheduler.tasks") += 1
        if (m != null) {
          totals("executor.run_ms") += m.executorRunTime.toDouble
          totals("executor.cpu_ms") += m.executorCpuTime / 1e6
          totals("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
          totals("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
          totals("shuffle.spill_bytes") += m.diskBytesSpilled.toDouble
          if (scanStages(e.stageId))
            totals("datasource.tiles_out") += m.inputMetrics.recordsRead.toDouble
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val rows = Tracer.nodes(qe.executedPlan).collect { case g: GenerateExec =>
      g.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    synchronized {
      if (inOp) {
        totals("catalyst.analysis_ms") += ms(QueryPlanningTracker.ANALYSIS)
        totals("catalyst.optimization_ms") += ms(QueryPlanningTracker.OPTIMIZATION)
        totals("catalyst.planning_ms") += ms(QueryPlanningTracker.PLANNING)
        totals("expressions.generate_rows") += rows.toDouble
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Every node of an executed plan, looking inside adaptive plans and
    * their query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other.children.flatMap(nodes)
  })
}
