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
    * caller set since. Used by the scale-adaptive iterative loops
    * (Dedup.componentLabels, Fraud.pageRankFromPairs) to narrow
    * `spark.sql.shuffle.partitions` for their node-sized rounds, and by
    * Bench's streaming study to pin state widths, without mutating the
    * shared session (r15 verdict #7 — the session-global
    * scope was a latent race under concurrent queries).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
