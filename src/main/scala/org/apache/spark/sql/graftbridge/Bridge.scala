package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Column <-> catalyst Expression bridge. Spark 4 made these converters
  * `private[sql]` (Column now wraps a ColumnNode), so the supported way
  * for an extension library to expose a native Expression as a Column is a
  * shim in an `org.apache.spark.sql` subpackage — the same pattern used by
  * open-source Spark extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Wrap a custom LogicalPlan back into the public DataFrame API
    * (`Dataset.ofRows` went `private[sql]` in Spark 4). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`): callers read listener-side
    * counters only after this returns. */
  def waitForListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Idempotently add a planner strategy to a live session — the runtime
    * analog of `SparkSessionExtensions.injectPlannerStrategy` for sessions
    * the caller didn't build (the driver hands us its own session). */
  def ensureStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(strategy))
      cs.experimental.extraStrategies =
        cs.experimental.extraStrategies :+ strategy
  }
}
