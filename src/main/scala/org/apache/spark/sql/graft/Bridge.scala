package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge. Spark 4's Column wraps a ColumnNode
  * (Connect refactor) and the converters are `private[sql]`, so
  * extension libraries expose them from inside the sql namespace —
  * the established pattern for custom-Expression packages.
  */
object Bridge {
  def column(e: Expression): Column    = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (for custom operators
    * that construct their own [[LogicalPlan]] nodes); `ofRows` is
    * `private[sql]` for the same Connect-refactor reason.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** A checkpointed DataFrame's own leaf, re-wrapped without the
    * origin statistics `checkpoint` copies into it: same RDD, output,
    * partitioning, ordering and constraints, so nothing is converted
    * or recomputed and the leaf plans at the engine's default size.
    * The constraints stay: they are predicates over the leaf's own
    * columns, so they do not compound, and dropping them lets the
    * optimizer infer `isnotnull` filters on some references of a
    * self-joined leaf but not others, which breaks exchange reuse.
    */
  def statFree(ck: DataFrame): DataFrame = analyzed(ck) match {
    case r: LogicalRDD =>
      ofRows(ck.sparkSession, LogicalRDD(r.output, r.rdd, r.outputPartitioning,
        r.outputOrdering, r.isStreaming, r.stream)(
        ck.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        originStats = None, originConstraints = Some(r.constraints)))
    case p => throw new IllegalArgumentException(
      s"statFree expects a checkpointed DataFrame, got ${p.nodeName}")
  }
}
