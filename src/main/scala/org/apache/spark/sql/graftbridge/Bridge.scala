package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4's classic Column↔Expression converters are `private[sql]`;
  * this bridge lives under `org.apache.spark.sql` to re-export the few
  * calls custom-Expression/Rule libraries need (the usual extension-library
  * pattern — no Spark internals are modified). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  private def classicDf(df: DataFrame): org.apache.spark.sql.classic.Dataset[_] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]

  /** Analyzed logical plan of a frame. */
  def analyzed(df: DataFrame): LogicalPlan = classicDf(df).queryExecution.analyzed

  /** Execute an arbitrary logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Idempotently add a planner strategy to the session (the public
    * `experimental.extraStrategies` hook — works on any session, no
    * SparkSessionExtensions needed at build time). */
  def registerStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.experimental.extraStrategies.contains(strategy))
      s.experimental.extraStrategies = strategy +: s.experimental.extraStrategies
  }
}
