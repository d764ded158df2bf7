package graft.datasource

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Parquet table reads that infer a table's schema once per file set.
 *
 * `spark.read.parquet(path)` infers the schema on every call, and that
 * inference is a Spark job that reads a footer: a query builder reading
 * its tables that way starts one job per table before its own action
 * runs. [[read]] keeps each path's inferred schema, keyed by the path's
 * file set ([[fingerprint]]: every file's path, length and modification
 * time) and by the session's SQL conf. While both match, it reads with
 * `spark.read.schema(cached).parquet(path)`, which starts no job.
 *
 * A rewritten table gets new part files and is inferred again; so is a
 * table read under a changed reader setting (e.g.
 * `spark.sql.parquet.binaryAsString` or
 * `spark.sql.legacy.parquet.nanosAsLong`). There is one entry per path,
 * replaced on a mismatch. A glob, a path that cannot be listed, or a
 * read that fails goes to plain `spark.read.parquet` and caches
 * nothing, so it fails exactly as Spark does.
 */
object ParquetTables {

  private final case class Entry(files: String, conf: Map[String, String], schema: StructType)

  private val schemas = new ConcurrentHashMap[String, Entry]()

  /** `spark.read.parquet(path)`, without the schema-inference job while
    * the path's files and the session's conf are unchanged. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = fingerprint(spark, path)
    val conf = spark.conf.getAll
    Option(schemas.get(path)).filter(e => files.contains(e.files) && e.conf == conf) match {
      case Some(e) =>
        try spark.read.schema(e.schema).parquet(path)
        catch {
          case NonFatal(_) =>
            schemas.remove(path, e)
            spark.read.parquet(path)
        }
      case None =>
        val df = spark.read.parquet(path)
        files.foreach(f => schemas.put(path, Entry(f, conf, df.schema)))
        df
    }
  }

  /** SHA-256 (hex) over every file under `path` — its path, length and
    * modification time, recursively, in name order — or None for a glob
    * or a path that cannot be listed. Reads only `FileSystem.listStatus`:
    * `listFiles` builds `LocatedFileStatus`, which loads permissions, and
    * on the local file system that forks a process per file. */
  def fingerprint(spark: SparkSession, path: String): Option[String] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def walk(dir: Path): Unit =
        fs.listStatus(dir).sortBy(_.getPath.getName).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else md.update(s"${st.getPath}\u0000${st.getLen}\u0000${st.getModificationTime}\n"
            .getBytes("UTF-8"))
        }
      walk(root)
      Some(md.digest().map(b => f"$b%02x").mkString)
    } catch { case NonFatal(_) => None }
}
