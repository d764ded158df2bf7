package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, sum, udf}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The [[MaterializeSortInput]] planner rule must be invisible in results:
 * same rows, same ORDER as Spark's own plan for the same global sort (the
 * driver's oracle hash is order-sensitive through the declared sort keys).
 * Checked end-to-end at sf0.001 on one query per family plus the
 * benchmark's query_mix list, against the same query collected with the
 * rule taken out of the session. The plan tests pin where the node goes,
 * and the counting test pins what it buys: a user's pre-sort pipeline
 * runs once per row, not once more for the range sampler.
 */
class SortOnceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSession.spark
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
    val df = SparkEntry.queries("q_tile_minmax")(spark, sfDir)
    df.collect()
    val under = underRangeExchanges(df)
    assert(under.nonEmpty, "expected a range-partitioning exchange")
    assert(under.forall(_.isInstanceOf[MaterializeSortInputExec]),
      s"expected the materialize node under the range exchange, got " +
        under.map(_.nodeName).mkString(", "))
    assert(materializeNodes(df).size == 1, df.queryExecution.executedPlan.toString)

    val scan = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(col("l_quantity") > 10).select(col("l_orderkey"), col("l_quantity"))
      .orderBy("l_orderkey", "l_quantity")
    scan.collect()
    assert(underRangeExchanges(scan).nonEmpty, "expected a range-partitioning exchange")
    assert(materializeNodes(scan).isEmpty,
      "a sort over a bare scan should re-read the scan, not materialize it")
  }

  test("a user's global sort evaluates its pre-sort pipeline once per row") {
    val calls = spark.sparkContext.longAccumulator("pre-sort udf calls")
    val counted = udf { (s: Long) => calls.add(1); s }
    val rows = spark.range(0, 4000, 1, 4)
      .groupBy((col("id") % 400).as("k")).agg(sum("id").as("s"))
      .select(col("k"), counted(col("s")).as("s"))
      .orderBy(col("s").desc)
      .collect()
    assert(rows.length == 400)
    assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).toSeq.sorted.reverse)
    assert(calls.sum == 400, s"pre-sort UDF ran ${calls.sum} times for 400 rows")
  }
}
