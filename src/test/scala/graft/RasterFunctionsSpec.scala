package graft

import graft.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = tools.Session.local(4)

  /** Spark jobs started on the test session while `body` runs. */
  def jobs[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.shims.waitForListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.sql.graft.shims.waitForListenerBus(sc)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }
}

class RasterFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** 2 tiles of 2x2 built from arrays, with a null element → NoData. */
  def tiles = {
    Seq(
      (1, Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0), Seq[java.lang.Double](10.0, 20.0, 30.0, 40.0)),
      (2, Seq[java.lang.Double](5.0, null, 7.0, 8.0), Seq[java.lang.Double](1.0, 1.0, null, 1.0))
    ).toDF("id", "a", "b")
      .select($"id",
        rf_array_to_tile($"a", 2, 2).as("ta"),
        rf_array_to_tile($"b", 2, 2).as("tb"))
  }

  test("array_to_tile + tile_sum/mean/min/max/cells") {
    val r = tiles.select($"id",
      rf_tile_sum($"ta").as("s"), rf_tile_mean($"ta").as("m"),
      rf_tile_min($"ta").as("mn"), rf_tile_max($"ta").as("mx"),
      rf_data_cells($"ta").as("dc"), rf_no_data_cells($"ta").as("ndc"))
      .orderBy($"id").collect()
    assert(r(0).getDouble(1) == 10.0 && r(0).getDouble(2) == 2.5)
    assert(r(1).getDouble(1) == 20.0 && r(1).getDouble(2) == 20.0 / 3)
    assert(r(1).getDouble(3) == 5.0 && r(1).getDouble(4) == 8.0)
    assert(r(1).getLong(5) == 3L && r(1).getLong(6) == 1L)
  }

  test("local ops and NoData propagation") {
    val r = tiles.select($"id",
      rf_tile_sum(rf_local_add($"ta", $"tb")).as("add"),
      rf_tile_sum(rf_local_multiply($"ta", 2.0)).as("mul2"),
      rf_tile_sum(rf_local_less($"ta", 4.0)).as("lt4"))
      .orderBy($"id").collect()
    assert(r(0).getDouble(1) == 110.0)
    assert(r(0).getDouble(2) == 20.0)
    assert(r(0).getDouble(3) == 3.0)
    // id=2: add has data only at idx 0,3 → (5+1)+(8+1)=15
    assert(r(1).getDouble(1) == 15.0)
  }

  test("rf_local_add treats a SQL NULL tile as identity; " +
      "the other binary ops and NULL scalars stay strict") {
    // reference parity (localops/Add.scala:52-63): NULL tile + tile
    // = the non-null tile; NULL + NULL = NULL; NULL scalar = NULL;
    // subtract/multiply remain NULL-strict
    val withNull = Seq(
      (1, Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0), true),
      (2, Seq[java.lang.Double](5.0, 6.0, 7.0, 8.0), false)
    ).toDF("id", "a", "has_b")
      .select($"id", rf_array_to_tile($"a", 2, 2).as("ta"),
        when($"has_b", rf_array_to_tile($"a", 2, 2)).as("tb"),
        when($"has_b", lit(2.0)).as("sc"))
    val r = withNull.select($"id",
      rf_tile_sum(rf_local_add($"ta", $"tb")).as("add_rt"),
      rf_tile_sum(rf_local_add($"tb", $"ta")).as("add_lt"),
      rf_local_add($"tb", when(lit(false), $"ta")).isNull.as("both_null"),
      rf_local_add($"ta", $"sc").isNull.as("null_scalar"),
      rf_local_subtract($"ta", $"tb").isNull.as("sub_strict"),
      rf_local_multiply($"ta", $"tb").isNull.as("mul_strict"))
      .orderBy($"id").collect()
    assert(r(0).getDouble(1) == 20.0 && r(0).getDouble(2) == 20.0)
    // id=2: tb NULL -> ta passes through on either side
    assert(r(1).getDouble(1) == 26.0 && r(1).getDouble(2) == 26.0)
    assert(!r(0).getBoolean(4) && r(1).getBoolean(4), "NULL scalar poisons")
    assert(r(1).getBoolean(3), "NULL + NULL stays NULL")
    assert(!r(0).getBoolean(5) && r(1).getBoolean(5), "subtract strict")
    assert(!r(0).getBoolean(6) && r(1).getBoolean(6), "multiply strict")
  }

  test("SQL registration parity") {
    tiles.createOrReplaceTempView("tiles_v")
    val r = spark.sql(
      "SELECT id, rf_tile_sum(rf_local_add(ta, tb)) AS s FROM tiles_v ORDER BY id").collect()
    assert(r(0).getDouble(1) == 110.0 && r(1).getDouble(1) == 15.0)
  }

  test("explode + assemble round trip") {
    val cells = tiles.select($"id", rf_explode_tiles($"ta"))
    assert(cells.columns.toSeq == Seq("id", "column_index", "row_index", "ta"))
    assert(cells.count() == 8)
    assert(cells.where($"ta".isNull).count() == 1)
    val re = cells.groupBy($"id")
      .agg(rf_assemble_tile($"column_index", $"row_index", $"ta", 2, 2).as("t"))
      .select($"id", rf_tile_sum($"t").as("s")).orderBy($"id").collect()
    assert(re(0).getDouble(1) == 10.0 && re(1).getDouble(1) == 20.0)
  }

  test("cell-type-aware assemble emits the requested storage type") {
    val cells = tiles.select($"id", rf_explode_tiles($"ta"))
    val re = cells.groupBy($"id")
      .agg(rf_assemble_tile($"column_index", $"row_index", $"ta", 2, 2, "uint16").as("t"))
      .select($"id", rf_cell_type($"t").as("ct"), rf_tile_sum($"t").as("s"))
      .orderBy($"id").collect()
    assert(re.forall(_.getString(1) == "uint16"))
    assert(re(0).getDouble(2) == 10.0 && re(1).getDouble(2) == 20.0)
    // SQL path with the cell-type argument
    cells.createOrReplaceTempView("asm_cells")
    val s = spark.sql(
      """SELECT rf_cell_type(rf_assemble_tile(column_index, row_index, ta, 2, 2, 'int32')) AS ct
        |FROM asm_cells GROUP BY id""".stripMargin).collect()
    assert(s.forall(_.getString(0) == "int32"))
  }

  test("agg_mean / agg_stats over group") {
    val r = tiles.agg(
      rf_agg_mean($"ta").as("m"),
      rf_agg_data_cells($"ta").as("dc"),
      rf_agg_stats($"ta").as("st")).collect()(0)
    assert(r.getDouble(0) == 30.0 / 7)
    assert(r.getLong(1) == 7L)
    val st = r.getStruct(2)
    assert(st.getLong(0) == 7L)
    assert(st.getDouble(2) == 1.0 && st.getDouble(3) == 8.0)
  }

  test("agg local min/max/mean") {
    val r = tiles.agg(
      rf_tile_to_array_double(rf_agg_local_max($"ta")).as("mx"),
      rf_tile_to_array_double(rf_agg_local_mean($"ta")).as("mean")).collect()(0)
    assert(r.getSeq[Double](0) == Seq(5.0, 2.0, 7.0, 8.0))
    assert(r.getSeq[Double](1) == Seq(3.0, 2.0, 5.0, 6.0))
  }

  test("masking") {
    val r = tiles.select($"id",
      rf_tile_sum(rf_mask($"ta", $"tb")).as("masked"),
      rf_tile_sum(rf_mask_by_value($"ta", $"tb", 20.0)).as("mbv"))
      .orderBy($"id").collect()
    // id=2: tb NoData at idx 2 → ta masked at idx2: 5+8=13 (idx1 already nd)
    assert(r(1).getDouble(1) == 13.0)
    // id=1: mask where tb==20 → drop idx1: 1+3+4=8
    assert(r(0).getDouble(2) == 8.0)
  }

  test("histogram and quantiles") {
    val h = tiles.agg(rf_agg_approx_histogram($"ta").as("h")).collect()(0).getStruct(0)
    val bins = h.getSeq[org.apache.spark.sql.Row](0)
    assert(bins.map(_.getLong(1)).sum == 7L)
    assert(bins.find(_.getDouble(0) == 1.0).get.getLong(1) == 1L)
    val q = tiles.agg(rf_agg_approx_quantiles($"ta", Seq(0.5)).as("q")).collect()(0).getSeq[Double](0)
    assert(q.head == 4.0)
  }

  test("convert / with_no_data / cell_type") {
    val r = tiles.select(
      rf_cell_type($"ta").as("ct"),
      rf_cell_type(rf_convert_cell_type($"ta", "int32")).as("ct2"),
      rf_tile_sum(rf_with_no_data($"ta", 4.0)).as("s")).collect()
    assert(r(0).getString(0) == "float64")
    assert(r(0).getString(1) == "int32")
    assert(r(0).getDouble(2) == 6.0)
  }

  // ---- error paths of the SQL surface: each pins today's behaviour ----
  private def oneRowSql(sql: String) = {
    Seq(7.0).toDF("l_quantity").createOrReplaceTempView("li")
    spark.sql(sql).collect()
  }

  test("SQL: a non-tile argument fails analysis, naming the function") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      oneRowSql("SELECT rf_tile_sum(l_quantity) FROM li"))
    assert(e.getMessage.contains("rf_tile_sum expects a tile argument"), e.getMessage)
  }

  test("SQL: an unknown cell type name fails, naming the type") {
    val e = intercept[IllegalArgumentException](oneRowSql(
      "SELECT rf_convert_cell_type(rf_make_constant_tile(1.0, 2, 2, 'float64'), 'nosuch') FROM li"))
    assert(e.getMessage.contains("Unknown cell type: nosuch"), e.getMessage)
  }

  test("SQL: local ops on tiles of different dimensions fail, naming both") {
    val e = intercept[IllegalArgumentException](oneRowSql(
      "SELECT rf_local_add(rf_make_constant_tile(1.0, 2, 2, 'float64'), " +
        "rf_make_constant_tile(1.0, 3, 3, 'float64')) FROM li"))
    assert(e.getMessage.contains("rf_local_add: mismatched tile dimensions 2x2 vs 3x3"),
      e.getMessage)
  }

  test("SQL: a NULL binary is not a tile and fails analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      oneRowSql("SELECT rf_tile_sum(CAST(NULL AS BINARY)) FROM li"))
    assert(e.getMessage.contains("rf_tile_sum expects a tile argument"), e.getMessage)
  }

  test("SQL: dividing by a zero tile yields infinite cells, not an error") {
    val r = oneRowSql("SELECT rf_tile_mean(rf_local_divide(rf_make_constant_tile(4.0, 2, 2, " +
      "'float64'), rf_make_constant_tile(0.0, 2, 2, 'float64'))) FROM li")
    assert(r.length == 1)
    assert(!r(0).isNullAt(0) && r(0).getDouble(0) == Double.PositiveInfinity, r(0).toString)
  }
}
