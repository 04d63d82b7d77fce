package org.apache.spark.sql

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's private[sql] Column ↔ Expression conversions —
  * needed since Spark 4 removed the public `Column.expr` / `new Column`
  * surface — and the private[spark] listener bus and thread-local
  * properties. Standard
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
  /** A copy of the calling thread's local properties (job group, job
    * description, scheduler pool, …). */
  def localProperties(sc: SparkContext): Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)
  /** Runs `body` with `props` as this thread's local properties, then
    * puts the thread's own back. */
  def withLocalProperties[A](sc: SparkContext, props: Properties)(body: => A): A = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }
}
