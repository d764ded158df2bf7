package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, collect_list, explode, sum, udf}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The [[MaterializeSortInput]] planner rule must be invisible in results:
 * same rows, same ORDER as Spark's own plan for the same global sort (the
 * driver's oracle hash is order-sensitive through the declared sort keys).
 * Checked end-to-end at sf0.001 on one query per family plus the
 * benchmark's query_mix list, against the same query collected with the
 * rule taken out of the session. The plan tests pin which of the rule's two
 * plans a sort gets (one task over a small measured input, else a
 * materialize node under the range exchange) and when neither fires; the
 * counting tests pin what they buy: a user's pre-sort pipeline runs once
 * per row on both paths, and the one-task path starts two jobs fewer.
 */
class SortOnceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSession.spark
  import TestSession.jobs
  private val sfDir = "/root/testdata/sf0.001"

  // one query per family, then the benchmark's query_mix list
  private val reps = Seq("q_tile_minmax", "q_math", "q_acf", "q_wordpiece",
    "q_terrain", "q_resample")
  private val mix = Seq("q_tile_sum", "q_local_arith", "q_terrain", "q_zonal",
    "q_geotiff_read", "q_tiles_roundtrip", "q_agg_stats", "q_resample", "q_simhash_pairs",
    "q_tfidf", "q_st_predicates", "q_spearman", "q_triangles", "q_welch_t", "q_with_no_data")

  /** Runs `body` with the rule removed from this session's planner. */
  private def withoutRule[A](body: => A): A = {
    val planner = org.apache.spark.sql.graft.shims.experimental(spark)
    val saved = planner.extraStrategies
    planner.extraStrategies = saved.filterNot(_ == MaterializeSortInput)
    try body finally planner.extraStrategies = saved
  }

  /** Runs `body` with these session confs set, then restores them. */
  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every measured input is over the size AQE coalesces into one partition. */
  private def overTarget[A](body: => A): A =
    withConfs("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")(body)

  /** A user's groupBy -> orderBy: the sort reads one finished shuffle stage. */
  private def aggThenSort(): DataFrame =
    spark.range(0, 4000, 1, 4)
      .groupBy((col("id") % 400).as("k")).agg(sum("id").as("s"))
      .orderBy(col("s").desc)

  private def oneTaskSorts(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) {
      case s: SortExec if s.global && (s.child match {
        case c: CoalesceExec => c.numPartitions == 1
        case InputAdapter(c: CoalesceExec) => c.numPartitions == 1
        case _ => false
      }) => s
    }

  /** The final plan sorts through the materialize path, not in one task. */
  private def assertMaterialized(df: DataFrame, why: String): Unit = {
    assert(oneTaskSorts(df).isEmpty, s"$why: sorted in one task")
    val under = underRangeExchanges(df)
    assert(under.nonEmpty && under.forall(_.isInstanceOf[MaterializeSortInputExec]),
      s"$why: expected the materialize node under the range exchange, got " +
        under.map(_.nodeName).mkString(", "))
  }

  private def materializeNodes(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case m: MaterializeSortInputExec => m }

  /** What each range-partitioning exchange of an executed query reads. */
  private def underRangeExchanges(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        e.child
    }

  test("rewritten queries return bit-identical rows in identical order") {
    for (n <- (reps ++ mix).distinct) {
      val got = SparkEntry.queries(n)(spark, sfDir).collect().toSeq
      // planning is lazy: the builder (which re-runs Raster.init) finishes
      // before the rule is removed, and the collect plans without it
      val plain = SparkEntry.queries(n)(spark, sfDir)
      val want = withoutRule(plain.collect().toSeq)
      assert(materializeNodes(plain).isEmpty, s"$n: reference still planned the rule")
      assert(got == want, s"$n: the rule changed rows or order")
    }
  }

  test("a global sort over real work reads its input through one materialize node") {
    overTarget {
      val df = SparkEntry.queries("q_tile_minmax")(spark, sfDir)
      df.collect()
      assertMaterialized(df, "q_tile_minmax over the coalescing target")
      assert(materializeNodes(df).size == 1, df.queryExecution.executedPlan.toString)
    }

    val scan = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(col("l_quantity") > 10).select(col("l_orderkey"), col("l_quantity"))
      .orderBy("l_orderkey", "l_quantity")
    scan.collect()
    assert(underRangeExchanges(scan).nonEmpty, "expected a range-partitioning exchange")
    assert(materializeNodes(scan).isEmpty,
      "a sort over a bare scan should re-read the scan, not materialize it")
    assert(oneTaskSorts(scan).isEmpty, "a sort over a bare scan has no measured stage")
  }

  test("a sort over a small finished stage runs in one task: no range exchange, no materialize") {
    val df = aggThenSort()
    val rows = df.collect()
    assert(rows.length == 400)
    assert(oneTaskSorts(df).size == 1, df.queryExecution.executedPlan.toString)
    assert(underRangeExchanges(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(materializeNodes(df).isEmpty, df.queryExecution.executedPlan.toString)
    val want = overTarget(aggThenSort().collect())
    assert(rows.toSeq == want.toSeq, "the one-task sort changed rows or order")
  }

  test("the one-task sort starts two jobs fewer than the materialize path") {
    val (_, small) = jobs(aggThenSort().collect())
    val (_, big) = jobs(overTarget(aggThenSort().collect()))
    assert(small == big - 2, s"one task: $small jobs, materialize path: $big jobs")
  }

  test("a user's global sort evaluates its pre-sort pipeline once per row") {
    for (oneTask <- Seq(true, false)) {
      val calls = spark.sparkContext.longAccumulator("pre-sort udf calls")
      val counted = udf { (s: Long) => calls.add(1); s }
      def run(): (Array[org.apache.spark.sql.Row], DataFrame) = {
        val df = spark.range(0, 4000, 1, 4)
          .groupBy((col("id") % 400).as("k")).agg(sum("id").as("s"))
          .select(col("k"), counted(col("s")).as("s"))
          .orderBy(col("s").desc)
        (df.collect(), df)
      }
      val (rows, df) = if (oneTask) run() else overTarget(run())
      assert(oneTaskSorts(df).nonEmpty == oneTask, df.queryExecution.executedPlan.toString)
      assert(materializeNodes(df).nonEmpty == !oneTask, df.queryExecution.executedPlan.toString)
      assert(rows.length == 400)
      assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).toSeq.sorted.reverse)
      assert(calls.sum == 400, s"pre-sort UDF ran ${calls.sum} times for 400 rows (one task: $oneTask)")
    }
  }

  test("the one-task sort needs AQE, coalescing, a small input and no Generate over the stages") {
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      val df = aggThenSort(); df.collect()
      assertMaterialized(df, "AQE off")
    }
    withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val df = aggThenSort(); df.collect()
      assertMaterialized(df, "coalescing off")
    }
    overTarget {
      val df = aggThenSort(); df.collect()
      assertMaterialized(df, "input over the coalescing target")
    }
    val exploded = spark.range(0, 4000, 1, 4)
      .groupBy((col("id") % 400).as("k")).agg(collect_list("id").as("ids"))
      .select(col("k"), explode(col("ids")).as("v"))
      .orderBy(col("v").desc, col("k"))
    assert(exploded.collect().length == 4000)
    assertMaterialized(exploded, "Generate between the stage and the sort")
  }
}
