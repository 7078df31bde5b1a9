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

  /** Clone a session: same SparkContext, IDENTICAL runtime SQL conf,
    * but an isolated conf map — a conf set on the clone is invisible to
    * the original. `newSession()` is NOT a substitute: it resets the
    * runtime conf to build-time defaults, dropping every conf the
    * caller set since. One caller: Bench's streaming study, which pins
    * a stateful operator's state width — Spark fixes that width from
    * `spark.sql.shuffle.partitions` at the stream's first checkpoint —
    * without mutating the shared session. The clone is not released;
    * its listener-bus entries are dropped lazily through weak
    * references once it is unreachable.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
