package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, ExperimentalMethods, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Spark 4's Column API no longer exposes an Expression constructor
  * publicly; `classic.ExpressionUtils.column` and
  * `SparkSession.internalCreateDataFrame` are `private[sql]`. This shim
  * lives in a subpackage of org.apache.spark.sql solely to bridge
  * graft's custom Catalyst expressions and InternalRow-producing decode
  * kernels into DataFrame code (plus one listener-bus drain for
  * `graft.Probe`) — no Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Inverse bridge: the Catalyst expression behind a Column. */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Build a DataFrame from a (resolved) logical plan — the entry point
    * for graft's custom LogicalPlan nodes (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The resolved logical plan of a DataFrame (child plan for custom
    * logical nodes). */
  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Session hook for registering graft's planner strategy and optimizer
    * rules (the public extension point for custom operators). */
  def experimental(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental

  /** Blocks until every posted listener event has been delivered, so a
    * listener's counters are complete once an action returns (the
    * listener bus is `private[spark]`). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
