package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.InlineCTE
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Spark 4 removed the public `new Column(Expression)` constructor; the
  * supported conversion lives in `classic.ExpressionUtils`, scoped
  * `private[sql]`. This bridge (inside the `org.apache.spark.sql` package
  * tree, the standard pattern for Spark extensions) exposes the
  * conversions our custom Catalyst pieces need.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The same rows with every CTE reference replaced by its definition.
    * A frame built over an analyzed `WITH` plan re-runs CTE analysis
    * (`InlineCTE`, `DeduplicateRelations`, `CheckAnalysis`) on each
    * derived DataFrame; inlining once up front leaves a plain plan. Only
    * for CTEs referenced once: a CTE read twice would be computed twice.
    */
  def inlineCtes(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    Dataset.ofRows(qe.sparkSession, InlineCTE(alwaysInline = true)(qe.analyzed))
  }

  /** Waits until the session's listener bus has delivered every event
    * posted so far (Spark posts an action's completion event before the
    * action returns, and delivers it later on a bus thread). False if the
    * bus is not empty after `timeoutMs`.
    */
  def awaitListenerBus(spark: SparkSession, timeoutMs: Long): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
