package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 moved these conversions behind
  * `private[sql] classic.ExpressionUtils`; a library shipping custom
  * Catalyst expressions needs exactly these two hooks, so this object
  * re-exports them from inside the sql package namespace (the standard
  * extension-library pattern — no Spark internals are modified).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `st` with every field, nested ones included, nullable — the form
    * Spark's own file sources read with, so a value a file lacks reads
    * as NULL instead of a zeroed primitive (`StructType.asNullable` is
    * `private[spark]`). */
  def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable

  /** Re-wrap a computed batch frame as a STREAMING DataFrame — what a
    * V1 [[org.apache.spark.sql.execution.streaming.Source]]'s
    * `getBatch` must return (MicroBatchExecution asserts
    * `isStreaming=true` on the plan it splices in). The standard
    * connector hook (`internalCreateDataFrame`) is `private[sql]` in
    * Spark 4, hence bridged here like the Column⇄Expression pair.
    * Lazy: the wrapped RDD re-plans the frame only when the
    * micro-batch actually runs. */
  /** The inverse re-wrap for a V1 streaming SINK's `addBatch` frame:
    * the incoming Dataset wraps an IncrementalExecution and cannot be
    * re-planned (any transformation trips the streaming-source check);
    * pinning its already-planned RDD under a fresh batch frame is the
    * standard connector idiom for plan-consuming sinks. */
  def asBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  def asStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, df.schema, isStreaming = true)
  }
}
