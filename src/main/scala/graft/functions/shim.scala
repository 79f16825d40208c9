package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge for wrapping custom Catalyst expressions into user-facing
  * Columns: `ExpressionUtils` is `private[sql]` in Spark 4's classic
  * module, so the (one-line) accessors live in this package. No Spark
  * internals are modified — this only re-exports the supported
  * Column ⇄ Expression conversion, the listener-bus drain the
  * profiler needs before it reads what its job listener collected, the
  * nullable data schema every file relation is built with, and the
  * re-binding of a frame's plan to another session.
  */
object graftshim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def asNullable(s: StructType): StructType = s.asNullable

  /** `df`'s logical plan as a frame of `spark`: every job it runs then
    * runs under `spark`, and so on its executor classloader and its
    * codegen cache entries (the `executePlan` path). */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark),
      classic.ClassicConversions.castToImpl(df).queryExecution.logical)
}
