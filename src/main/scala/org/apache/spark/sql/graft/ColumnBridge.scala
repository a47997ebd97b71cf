package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ⇄ Expression conversions.
  *
  * Spark 4 moved `Column.expr` / `new Column(expr)` behind `private[sql]`;
  * the supported pattern for extension libraries that define custom
  * Catalyst expressions is a shim in an `org.apache.spark.sql` subpackage
  * (as Delta, Sedona, et al. do). This is the single file in this repo
  * outside the `graft` namespace.
  */
object ColumnBridge {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register an expression builder so the function is usable from SQL. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Bounded top-k collect aggregate (`private[sql] CollectTopK`), WITH
    * map-side partial merge — each shuffle carries at most k rows per
    * key per partition, versus every row for a window `row_number`
    * ranking. Semantics (verified empirically): `reverse = false` keeps
    * the k LARGEST by the child's natural ordering, returned descending;
    * `reverse = true` keeps the k SMALLEST, returned ascending (what
    * rank-ordered top-k wants — see `graft.operators.TopK`).
    */
  def collectTopK(child: Column, k: Int, reverse: Boolean = false): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .CollectTopK(expression(child), k, reverse).toAggregateExpression())
}
