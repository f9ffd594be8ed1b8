package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * private[sql]; extension libraries conventionally expose them through a
  * small shim inside the org.apache.spark.sql package tree (same pattern
  * as connector/extension projects use for private[sql] APIs).
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the SparkListener event bus — lets tests assert on job counts
    * deterministically (the bus is async; `waitUntilEmpty` is
    * private[spark]).
    */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** DataFrame from a logical plan (Dataset.ofRows is private[sql]) —
    * lets graft.plans.GraftScan surface a custom leaf node as an ordinary
    * DataFrame / temp view.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of rows already in Catalyst's internal form
    * (`internalCreateDataFrame` is private[sql]) — lets the store hand a
    * hand-built scan to callers as an ordinary DataFrame, with no per-row
    * conversion from external rows. `isStreaming` marks the frame as a
    * streaming source's micro-batch, which Spark requires of `getBatch`.
    */
  def internalDataFrame(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean = false): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming)

  /** Register a native-Expression SQL function on an EXISTING session
    * (the FunctionRegistry is private[sql]; new sessions can instead use
    * graft.functions.GraftExtensions via spark.sql.extensions).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
}
