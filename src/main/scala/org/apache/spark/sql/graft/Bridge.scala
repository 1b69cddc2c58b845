package org.apache.spark.sql.graft

import java.util.concurrent.CompletableFuture

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution

/** Column ⇄ catalyst Expression bridge. Spark 4 made the converters
  * `private[sql]` (Column now wraps a ColumnNode), so extension libraries
  * expose them from inside the sql package — the established pattern for
  * shipping custom catalyst expressions without a fork. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`), for custom operators that are whole plan nodes
    * rather than expressions — e.g. graft's native as-of join. The plan
    * still runs through the analyzer and optimizer like any other. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed plan behind a DataFrame — the resolved-attribute view a
    * custom plan node is built from. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Daemon threads: a pending write never keeps the JVM alive. */
  private lazy val asyncPool =
    org.apache.spark.util.ThreadUtils.newDaemonCachedThreadPool("graft-async")

  /** Runs `body` on a pooled thread with the caller's active session and
    * local properties: a job it starts carries the caller's job group
    * (so a streaming query's stop cancels it) and nests under the
    * caller's SQL execution id. The caller must wait for the future. */
  def async[T](spark: SparkSession)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], asyncPool)(body)
}
