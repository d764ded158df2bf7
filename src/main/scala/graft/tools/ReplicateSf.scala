package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a `factor`×-scaled copy of an SF directory as parquet,
  * using the same structure-preserving perturbations as [[Stress]]
  * (which replicates in memory): key spaces shift per copy so per-key
  * densities, per-order chain structure (the graph edge source) and
  * duplicate rates stay the corpus's own, and document/embedding copies
  * are decorrelated (alphabet rotation / sign-flip patterns) so
  * similarity work scales linearly instead of turning every row into a
  * factor-sized near-dup clique. Dimension tables (nation, region) keep
  * one copy. Purpose: a committed larger-SF bench point for the scaling
  * record (r19 verdict item 7) — sf0.1 is fixed-cost-dominated, so
  * 8-vs-32-cpu ratios only mean something at a bigger input.
  *
  * Usage: `ReplicateSf [srcDir] [outDir] [factor]`.
  */
object ReplicateSf {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sfbig"
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1 && factor <= 20, s"factor must be in [1, 20], got $factor")
    val spark = Session.local(32)

    def shifted(table: String, shifts: Map[String, Long]): DataFrame = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until factor).map { k =>
        shifts.foldLeft(base) { case (d, (c, step)) =>
          d.withColumn(c, col(c) + lit(k * step))
        }
      }.reduce(_ unionByName _)
    }

    val tables: Seq[(String, DataFrame)] = Seq(
      // one key-space shift per copy: order chains, part-graph edges and
      // FK joins stay intact WITHIN a copy, copies are disjoint
      "lineitem" -> shifted("lineitem", Map(
        "l_orderkey" -> 1000000000L, "l_partkey" -> 10000000L,
        "l_suppkey" -> 1000000L)),
      "orders" -> shifted("orders", Map(
        "o_orderkey" -> 1000000000L, "o_custkey" -> 10000000L)),
      "customer" -> shifted("customer", Map("c_custkey" -> 10000000L)),
      "part" -> shifted("part", Map("p_partkey" -> 10000000L)),
      "supplier" -> shifted("supplier", Map("s_suppkey" -> 1000000L)),
      "events" -> Stress.replicateEvents(spark, src, factor),
      "documents" -> Stress.replicateDocs(spark, src, factor),
      "embeddings" -> Stress.replicateEmbeddings(spark, src, factor),
      "nation" -> spark.read.parquet(s"$src/nation.parquet"),
      "region" -> spark.read.parquet(s"$src/region.parquet"))

    for ((name, df) <- tables) {
      df.coalesce(8).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[replicate-sf] wrote $out/$name.parquet")
    }
    spark.stop()
  }
}
