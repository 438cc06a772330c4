package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.InlineCTE
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.types.StructType

/** Spark 4 removed the public `new Column(Expression)` constructor; the
  * supported conversion lives in `classic.ExpressionUtils`, scoped
  * `private[sql]`. This bridge (inside the `org.apache.spark.sql` package
  * tree, the standard pattern for Spark extensions) exposes the
  * conversions our custom Catalyst pieces need.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from an InternalRow RDD without the external Row codec —
    * the fast path for per-partition operators that produce catalyst values
    * (UTF8String etc.) directly.
    */
  def internalCreateDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** The analyzed InternalRow RDD of a DataFrame. */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

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
