package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's private[sql] Column ↔ Expression conversions —
  * needed since Spark 4 removed the public `Column.expr` / `new Column`
  * surface — and the private[spark] listener bus. Standard
  * extension-library pattern (same-package shim). */
object GraftInternal {
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan
  /** Blocks until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
