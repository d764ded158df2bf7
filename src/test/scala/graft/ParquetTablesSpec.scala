package graft

import java.nio.file.Files
import graft.datasource.ParquetTables
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * A query builder's fixed cost: [[ParquetTables.read]] infers a table's
 * schema once per file set and session conf, so a warm builder starts no
 * Spark job, and whatever it returns is what `spark.read.parquet` returns
 * — also after the files or the reader settings change. A second
 * [[Raster.init]] on a session re-registers nothing.
 */
class ParquetTablesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import TestSession.jobs
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  private def sameAsSpark(got: DataFrame, path: String): Unit = {
    val want = spark.read.parquet(path)
    assert(got.schema == want.schema)
    assert(got.collect().toSeq.map(_.toSeq) == want.collect().toSeq.map(_.toSeq))
  }

  private def tmpTable(): String =
    Files.createTempDirectory("graft_parquet_tables").resolve("t.parquet").toString

  test("a second read of an unchanged table starts no job and matches spark.read.parquet") {
    val path = tmpTable()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").write.parquet(path)
    val (_, cold) = jobs(ParquetTables.read(spark, path))
    val (warm, warmJobs) = jobs(ParquetTables.read(spark, path))
    assert(cold >= 1, "the first read infers the schema with a job")
    assert(warmJobs == 0)
    sameAsSpark(warm, path)
  }

  test("a table rewritten with ts as long instead of timestamp is re-inferred") {
    val path = tmpTable()
    spark.sql("SELECT 1L AS id, TIMESTAMP'2024-01-01 00:00:00' AS ts")
      .write.parquet(path)
    assert(ParquetTables.read(spark, path).schema("ts").dataType == TimestampType)
    assert(ParquetTables.read(spark, path).schema("ts").dataType == TimestampType)
    Seq((1L, 1704067200000000000L)).toDF("id", "ts").write.mode("overwrite").parquet(path)
    val got = ParquetTables.read(spark, path)
    assert(got.schema("ts").dataType == LongType)
    sameAsSpark(got, path)
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers a BINARY column") {
    // a footer without Spark's own schema (as other writers leave it):
    // Spark's schema there would override the reader setting
    val path = tmpTable()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary b; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$path/part-0.parquet")).withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("id", 1L).append("b", "x"))
    finally writer.close()
    assert(ParquetTables.read(spark, path).schema("b").dataType == BinaryType)
    assert(ParquetTables.read(spark, path).schema("b").dataType == BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      val got = ParquetTables.read(spark, path)
      assert(got.schema("b").dataType == StringType)
      sameAsSpark(got, path)
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(ParquetTables.read(spark, path).schema("b").dataType == BinaryType)
  }

  test("a missing path fails with Spark's own PATH_NOT_FOUND") {
    val path = tmpTable()
    val want = intercept[AnalysisException](spark.read.parquet(path))
    val got = intercept[AnalysisException](ParquetTables.read(spark, path))
    assert(want.getCondition == "PATH_NOT_FOUND")
    assert(got.getCondition == want.getCondition)
    assert(got.getMessage == want.getMessage)
  }

  test("on a warm build, the q_tile_sum and q_geotiff_read builders start no job") {
    for (q <- Seq("q_tile_sum", "q_geotiff_read")) {
      SparkEntry.queries(q)(spark, sfDir).collect()
      val (df, n) = jobs(SparkEntry.queries(q)(spark, sfDir))
      assert(n == 0, s"$q: warm build started $n jobs")
      assert(df.collect().nonEmpty)
    }
  }

  test("a second Raster.init changes nothing in the registry and restores the planner rule") {
    Raster.init(spark)
    val registry = org.apache.spark.sql.graft.shims.functionRegistry(spark)
    def snapshot = registry.listFunction().map(f =>
      f -> ((registry.lookupFunction(f).orNull, registry.lookupFunctionBuilder(f).orNull)))
      .toMap
    val before = snapshot
    assert(before.keys.exists(_.funcName == "rf_focal_median"))
    Raster.init(spark)
    val after = snapshot
    assert(after.keySet == before.keySet)
    assert(before.forall { case (f, (info, builder)) =>
      (after(f)._1 eq info) && (after(f)._2 eq builder)
    }, "a second init replaced registered functions")

    val planner = org.apache.spark.sql.graft.shims.experimental(spark)
    val saved = planner.extraStrategies
    planner.extraStrategies = saved.filterNot(_ == MaterializeSortInput)
    try {
      Raster.init(spark)
      assert(planner.extraStrategies.count(_ == MaterializeSortInput) == 1)
    } finally planner.extraStrategies = saved
  }
}
