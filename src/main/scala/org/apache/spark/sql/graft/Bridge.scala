package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  * Spark 4 moved these conversions behind `private[sql]`; exposing them
  * from an `org.apache.spark.sql` subpackage is the standard extension
  * pattern (cf. public Spark extension projects).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def plan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  def ofRows(spark: SparkSession, p: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(asClassic(spark), p)

  def cloneSession(s: SparkSession): SparkSession = asClassic(s).cloneSession()

  def withActive[T](spark: SparkSession)(body: => T): T =
    asClassic(spark).withActive(body)

  /** Block until every event posted so far reached every listener. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  private def asClassic(s: SparkSession) = s.asInstanceOf[classic.SparkSession]
}
