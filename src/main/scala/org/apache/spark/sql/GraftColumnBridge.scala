package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the sql-private Column↔Expression converters (Spark 4 wraps
  * Column around ColumnNode; `classic.ExpressionUtils` is private[sql]).
  * Lives in the org.apache.spark.sql package purely for access; graft code
  * calls it via graft.expr wrappers.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Apply a SparkSessionExtensions' injected functions to a live session's
    * registry (registerFunctions is private[sql]) — lets tests exercise the
    * real `spark.sql.extensions` injection path on an already-built session.
    */
  def applyFunctionInjections(ext: SparkSessionExtensions, spark: SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** Non-blocking Observation read (getRowOrEmpty is private[sql]; the
    * public get() blocks forever when no action has fired — an attrition
    * report must fail loudly instead). */
  def observationRow(o: Observation): Option[Row] = o.getRowOrEmpty

  /** A DataFrame over a custom logical plan (Dataset.ofRows is
    * private[sql]) — how graft.core.SegmentedScan frames enter the
    * Dataset API as plan nodes rather than opaque RDD leaves. The plan is
    * analyzed here; nothing executes. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
