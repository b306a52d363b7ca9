package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * The sketch library's one bridge between the public `Column` API and
 * Catalyst expressions. Spark 4 keeps these conversions `private[sql]`, so
 * they are reached from this package: a Column builder wraps its Catalyst
 * expression with [[column]], and reads its Column arguments with
 * [[expression]].
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
