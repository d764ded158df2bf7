package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * The one session recipe (`tools.Session.local`) and the one correctness
 * dumper (`Verify.dump`): the shared test session carries the recipe's
 * confs, a subset dump writes only what it was asked for, the JSON
 * escaper round-trips through a real JSON parser, and no other file in
 * `src/main` builds its own session. `Raster.init` sizes Spark's
 * generated-class cache, so repeated queries reuse their classes.
 */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val mapper = new ObjectMapper()

  test("TestSession is Session.local(4): master, partitions, AQE, UTC, functions") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("rf_hillshade")))
  }

  test("Raster.init sizes the codegen cache: a repeated round of 120 queries compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    // each query needs its own whole-stage class (the literal is inlined
    // into the source); with the driver's and the executor's class loader
    // that is over 240 cache entries, more than Spark's default of 100
    def round(): Unit = for (i <- 0 until 120)
      spark.range(8).select(col("id") * lit(i)).write.format("noop").mode("overwrite").save()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    val before = compiles
    round()
    assert(compiles - before == 0)
  }

  test("Verify.dump with a name list writes only those queries and no queries.json") {
    val out = Files.createTempDirectory("verify_subset")
    val names = Seq("q_tile_sum", "q_tile_mean")
    Verify.dump(spark, "/root/testdata/sf0.001", out.toString, Some(names))
    val dirs = Files.list(out).iterator.asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq
    assert(dirs.sorted == names.sorted)
    for (n <- names) assert(Files.list(out.resolve(n)).iterator.asScala
      .exists(_.getFileName.toString.endsWith(".parquet")), n)
    val oracles = mapper.readTree(out.resolve("oracle_sql.json").toFile)
    assert(oracles.fieldNames.asScala.toSeq.sorted == names.sorted)
    assert(!Files.exists(out.resolve("queries.json")))
  }

  test("Verify.dump rejects an unknown query name before dumping anything") {
    val out = Files.createTempDirectory("verify_unknown")
    intercept[IllegalArgumentException](
      Verify.dump(spark, "/root/testdata/sf0.001", out.toString, Some(Seq("q_tile_sum", "q_nope"))))
    assert(Files.list(out).iterator.asScala.isEmpty)
  }

  test("Verify.jsonString round-trips quote, backslash and control chars") {
    for (s <- Seq("\"", "\\", "\t", "\r", "\u0001", "a\"b\\c\td\re\u0001f\n", ""))
      assert(mapper.readValue(Verify.jsonString(s), classOf[String]) == s)
  }

  test("SparkSession.builder appears in src/main only in tools/Session.scala") {
    val hits = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(Files.isRegularFile(_))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.toString).toSeq
    assert(hits == Seq("src/main/scala/graft/tools/Session.scala"))
  }
}
