package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ⇄ Expression converters.
  *
  * Spark 4 unified `Column` around opaque `ColumnNode`s; libraries defining
  * native Catalyst expressions (our codegen'd vector ops) still need to wrap
  * an `Expression` into a `Column` and back. This is the conventional
  * package-namespace bridge used by Spark extension libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`):
    * how an operator with its own logical node and planning strategy
    * hands callers a lazy frame.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a temp SQL function on a session (`sessionState` is
    * `private[sql]` too).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
