package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `Verify <sfDir> <outDir> [q_a,q_b,...]`. Without a name list
  * every query is dumped and `queries.json` records the full key set;
  * with one, only those queries are dumped, `oracle_sql.json` holds just
  * their oracles and no `queries.json` is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = args match {
      case Array(sf, out) => (sf, out, None)
      case Array(sf, out, list) =>
        (sf, out, Some(list.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      case _ => sys.error("usage: Verify <sfDir> <outDir> [q_a,q_b,...]")
    }
    val spark = tools.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    dump(spark, sfDir, outDir, names)
    spark.stop()
  }

  /** Dump `names` (every query when None) under `outDir`. A query that
    * fails is reported on stderr and the others still run. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Option[Seq[String]]): Unit = {
    names.foreach { ns =>
      val unknown = ns.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    }
    new java.io.File(outDir).mkdirs()
    val selected = names match {
      case Some(ns) => ns.map(n => n -> SparkEntry.queries(n))
      case None     => SparkEntry.queries.toSeq
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val oracles = names.fold(SparkEntry.oracleSql)(ns =>
      SparkEntry.oracleSql.filter(kv => ns.contains(kv._1)))
    val json = oracles
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full-dump runs also record the COMPLETE query key set so
    // check_queries.py can assert the gate record covers every query
    // at HEAD (the r18 lesson: a query landed after the gate refresh
    // and the committed record silently stopped at 319/320). Subset
    // runs skip it — they are iteration aids, not gate runs.
    if (names.isEmpty) {
      val keys = SparkEntry.queries.keySet.toSeq.sorted
        .map(jsonString).mkString("[", ",", "]")
      Files.writeString(Paths.get(s"$outDir/queries.json"), keys)
    }
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
