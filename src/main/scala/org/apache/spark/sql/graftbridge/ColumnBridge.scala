package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, IntegralType}

/** Column ↔ Catalyst-Expression bridge.
  *
  * Spark 4 moved these conversions to `org.apache.spark.sql.classic
  * .ExpressionUtils`, which is `private[sql]`; a one-object subpackage of
  * `org.apache.spark.sql` is the conventional way third-party engines reach
  * them (same pattern as every Spark connector that ships custom
  * expressions). Everything else in this repo stays in the `graft`
  * namespace.
  */
object ColumnBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan built from other DataFrames' plans
    * (`Dataset.ofRows`, `private[sql]` as well).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `e` with -0.0 and NaN made canonical, as grouping keys compare them
    * (`private[sql]` as well).
    */
  def normalizeFloats(e: Expression): Expression =
    NormalizeFloatingNumbers.normalize(e)
}

/** Analysis-time "all inputs must be integral" contract for custom
  * expressions. `ExpectsInputTypes`' vocabulary (`AbstractDataType`, the
  * `IntegralType` type-class object) is `private[sql]`, so the mixin has to
  * live in this bridge package; graft expressions just mix it in and get
  * built-in-style analysis errors (`hilbert_index('a','b')` is rejected
  * during analysis instead of ClassCastException / codegen failure at
  * runtime).
  */
trait ExpectsIntegralInputs extends ExpectsInputTypes {
  self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    children.map(_ => IntegralType)
}
