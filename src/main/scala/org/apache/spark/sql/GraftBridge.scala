package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column internals.
  *
  * Since the Spark 4 Column refactor (columnNodeSupport.scala) there is no
  * public API to wrap a Catalyst [[Expression]] into a [[Column]]; every
  * extension library ships a shim like this one. Kept to the two minimal
  * conversions; all graft code lives in the `graft` package and funnels
  * through here.
  */
object GraftBridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a (classic) Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Unpersist the cached RDD behind a `localCheckpoint()`'d Dataset.
    *
    * `Dataset.localCheckpoint` persists an internal RDD and wraps it in
    * a [[execution.LogicalRDD]]; Spark exposes no public API to release
    * that storage, so an iterative algorithm that checkpoints per round
    * (BPE training) would otherwise accumulate every superseded
    * generation in executor memory for the life of the JVM. No-op on
    * Datasets that are not checkpoints.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _                       => ()
    }

  /** Block until every queued listener event has been delivered.
    *
    * `SparkContext.listenerBus` is `private[spark]`; the bench's
    * metrics pass needs a drain point between queries so per-query
    * task-metric deltas attribute exactly (listener delivery is async).
    * Swallows the bus's 10 s TimeoutException — a late event can only
    * blur one attribution, which must not fail the whole bench.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
