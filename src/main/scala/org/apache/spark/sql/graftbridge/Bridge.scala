/*
 * Lives under org.apache.spark.sql solely to reach the private[sql]
 * Expression <-> Column conversion (org.apache.spark.sql.classic.ExpressionUtils),
 * the supported pattern for third-party Catalyst expressions on Spark 4, and
 * the private[spark] listener bus.
 */
package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

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
}
