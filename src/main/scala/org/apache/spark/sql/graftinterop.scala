package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression interop for Spark 4, where the converters in
  * `org.apache.spark.sql.classic.ExpressionUtils` are `private[sql]`.
  * The shims under `org.apache` are the only files outside the `graft`
  * package.
  */
object GraftInterop {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL function on a LIVE session (`sessionState` is
    * `private[sql]`, hence this hook lives in the shim). The
    * SparkSessionExtensions path covers new sessions; this covers an
    * already-running one. */
  def registerFunction(
      spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
