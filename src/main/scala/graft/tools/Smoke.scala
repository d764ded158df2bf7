package graft.tools

/**
 * End-to-end smoke driver: real parquet in, tiles assembled per group,
 * map algebra + stats out — through both the SQL and column APIs.
 * Run: sbt "runMain graft.tools.Smoke [sfDir]"
 */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(4)

    spark.read.parquet(s"$sfDir/lineitem.parquet").createOrReplaceTempView("lineitem")

    println("== SQL surface: per-order tiles from lineitem, local algebra + stats")
    spark.sql("""
      WITH tiles AS (
        SELECT l_orderkey,
               rf_assemble_tile(l_linenumber - 1, 0, l_quantity, 8, 1) AS t_qty,
               rf_assemble_tile(l_linenumber - 1, 0, CAST(l_linenumber AS DOUBLE), 8, 1) AS t_ln
        FROM lineitem GROUP BY l_orderkey)
      SELECT l_orderkey,
             rf_cell_type(t_qty) AS ct,
             rf_dimensions(t_qty).cols AS cols,
             rf_data_cells(t_qty) AS dc,
             rf_tile_sum(t_qty) AS sum_qty,
             rf_tile_sum(rf_local_add(t_qty, t_ln)) AS sum_add,
             rf_tile_max(rf_local_multiply(t_qty, t_ln)) AS max_mul
      FROM tiles ORDER BY l_orderkey LIMIT 5
    """).show(truncate = false)

    println("== oracle cross-check (plain SQL, no tiles)")
    spark.sql("""
      SELECT l_orderkey, COUNT(*) dc, SUM(l_quantity) sum_qty,
             SUM(l_quantity + l_linenumber) sum_add,
             MAX(l_quantity * l_linenumber) max_mul
      FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 5
    """).show(truncate = false)

    println("== aggregates over all tiles (rf_agg_stats / rf_agg_mean)")
    spark.sql("""
      WITH tiles AS (
        SELECT l_orderkey, rf_assemble_tile(l_linenumber - 1, 0, l_quantity, 8, 1) AS t
        FROM lineitem GROUP BY l_orderkey)
      SELECT rf_agg_mean(t) mean, rf_agg_stats(t) stats, rf_agg_data_cells(t) cells FROM tiles
    """).show(truncate = false)
    spark.sql("SELECT AVG(l_quantity) mean, COUNT(*) cells, MIN(l_quantity) mn, MAX(l_quantity) mx, VAR_SAMP(l_quantity) var FROM lineitem")
      .show(truncate = false)

    println("== explode round-trip (first 5 cells)")
    spark.sql("""
      WITH tiles AS (
        SELECT l_orderkey, rf_assemble_tile(l_linenumber - 1, 0, l_quantity, 8, 1) AS t
        FROM lineitem GROUP BY l_orderkey)
      SELECT l_orderkey, rf_explode_tiles(t) FROM tiles ORDER BY l_orderkey
    """).where("t IS NOT NULL").show(5, truncate = false)

    spark.stop()
  }
}
