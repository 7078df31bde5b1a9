package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access shim for `private[sql]` Column↔Expression converters — the
  * supported way for third-party libraries to wrap custom Catalyst
  * expressions as Columns in Spark 4's classic runtime.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function into an already-created session's registry —
    * the complement to SparkSessionExtensions.injectFunction for
    * sessions the library didn't build itself.
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
