package graft.sources

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Input tier: the reader behind every source-table scan of the query
  * surface.
  *
  * `spark.read.parquet(path)` infers the schema on every call, and
  * Spark infers a Parquet schema with a one-task job that reads a
  * footer (`ParquetFileFormat.mergeSchemasInParallel`, even with
  * `mergeSchema` off). At sf0.1 on `local[4]` that job costs 60-90 ms;
  * a read given the schema takes about 20 ms of driver time and no
  * job. [[parquet]] infers a file's schema once per session and hands
  * it back to later reads with `spark.read.schema(s)`.
  *
  * A cached schema is used only while the file's length and
  * modification time and the session's SQL conf are what they were at
  * inference; a rewritten file or a changed read conf (say
  * `spark.sql.legacy.parquet.nanosAsLong`) infers afresh. Directories,
  * globs and paths that do not stat fall through to the plain reader,
  * so a multi-file table and a missing path behave (and fail) exactly
  * as `spark.read.parquet` does.
  */
object Tables {

  /** What a cached schema was inferred from. */
  private final case class Stamp(length: Long, modified: Long, conf: Map[String, String])

  /** Per session (weakly held, so an unreachable session's entries are
    * collected with it): path -> the stamp and schema of its last
    * inference. One entry per path; a new stamp replaces the old. */
  private val schemas = Collections.synchronizedMap(
    new WeakHashMap[SparkSession, ConcurrentHashMap[String, (Stamp, StructType)]]())

  def parquet(spark: SparkSession, path: String): DataFrame =
    stamp(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val cache = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
        cache.get(path) match {
          case (`st`, schema) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            cache.put(path, (st, df.schema))
            df
        }
    }

  private def stamp(spark: SparkSession, path: String): Option[Stamp] =
    if (path.exists("{}[]*?\\".contains(_))) None // Spark globs these
    else {
      val p = new Path(path)
      try {
        val s = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
        if (s.isFile) Some(Stamp(s.getLen, s.getModificationTime, spark.conf.getAll))
        else None
      } catch { case _: java.io.IOException => None }
    }
}
