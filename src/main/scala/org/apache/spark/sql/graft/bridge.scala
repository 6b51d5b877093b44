package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression conversions (Spark 4.x moved
  * `Column` onto ColumnNode; classic-mode expression wrapping lives in
  * org.apache.spark.sql.classic.ExpressionUtils). Standard extension-library
  * pattern: a tiny shim inside the org.apache.spark.sql package tree.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on a LIVE session's FunctionRegistry (the
    * runtime counterpart of `SparkSessionExtensions.injectFunction`, which
    * only applies at session build). Used by `graft.functions.GraftFunctions
    * .register` so notebooks/tests can enable the SQL surface on an
    * existing session.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)
}
