/*
 * Lives under org.apache.spark.sql solely to reach the private[sql]
 * Expression <-> Column conversion (org.apache.spark.sql.classic.ExpressionUtils),
 * the supported pattern for third-party Catalyst expressions on Spark 4, the
 * private[sql] Dataset.ofRows, and the private[spark] listener bus.
 */
package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project,
  Repartition, RepartitionByExpression}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset,
  ExpressionUtils, SparkSession}

object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column -> Expression conversion via the session converter.
    * [[expression]] wraps the column node lazily (fine inside DataFrame
    * operations, which convert at analysis); a FunctionBuilder, though, must
    * return a tree the analyzer can resolve directly — a lazy
    * ColumnNodeExpression leaf never gets converted there and dies at
    * codegen as Unevaluable. Requires an active SparkSession (always true
    * during SQL function resolution). */
  def resolvedExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** Blocks until every listener event posted so far has been delivered
    * (the bus is private[spark]). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `df` with the round-robin and hash repartitions removed from the top
    * chain of deterministic Project/Filter nodes of its plan. A repartition
    * moves rows between partitions but keeps the same rows, so a probe that
    * reads a few rows from the result sees rows of `df` and shuffles
    * nothing. Returns `df` itself when there is nothing to remove. */
  def withoutTopRepartitions(df: DataFrame): DataFrame = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case r: Repartition => strip(r.child)
      case r: RepartitionByExpression
          if !r.partitionExpressions.exists(_.isInstanceOf[SortOrder]) =>
        strip(r.child)
      case n @ (_: Project | _: Filter) if n.expressions.forall(_.deterministic) =>
        n.withNewChildren(Seq(strip(n.children.head)))
      case other => other
    }
    val plan = df.queryExecution.analyzed
    val stripped = strip(plan)
    if (stripped eq plan) df
    else Dataset.ofRows(df.sparkSession.asInstanceOf[SparkSession], stripped)
  }
}
