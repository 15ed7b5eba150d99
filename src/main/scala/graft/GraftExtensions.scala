package graft

import org.apache.spark.sql.{GraftSqlFunctions, SparkSessionExtensions}

/** `spark.sql.extensions` entry point: registers graft's SQL-callable
  * functions ([[org.apache.spark.sql.GraftSqlFunctions.all]]) at session
  * build, e.g.
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * For an already-running session use
  * `org.apache.spark.sql.GraftSqlFunctions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSqlFunctions.all.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
}
