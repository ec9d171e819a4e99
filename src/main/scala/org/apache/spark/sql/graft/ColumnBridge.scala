package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils), so
  * custom Catalyst expressions need one in-package shim to surface as
  * `Column`s — the standard extension-library pattern.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Catalyst plan access for tests/diagnostics (queryExecution is on the
  * classic Dataset only).
  */
object PlanBridge {
  def analyzed(df: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(df).queryExecution.analyzed
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark), plan)
  def experimental(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.ExperimentalMethods =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark).experimental
}

/** Runtime function registration for an already-built session (the
  * builder-time path is graft.plans.GraftExtensions; the registry is
  * `private[sql]`, hence this shim).
  */
object FunctionBridge {
  def registerTemp(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
