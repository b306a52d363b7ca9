package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/**
 * The sketch library's one bridge between the public `Column` API and
 * Catalyst expressions. Spark 4 keeps these conversions `private[sql]`, so
 * they are reached from this package:
 *  - a Column builder wraps its Catalyst expression with [[column]], and
 *    reads its Column arguments with [[expression]];
 *  - a SQL function builder (`graft.GraftExtensions`) turns a `functions.udf`
 *    value into the expression Spark's UDF registration would have built,
 *    with [[udf]].
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def udf(f: UserDefinedFunction, children: Seq[Expression]): Expression =
    UserDefinedFunctionUtils.toScalaUDF(f.asInstanceOf[SparkUserDefinedFunction], children)
}
