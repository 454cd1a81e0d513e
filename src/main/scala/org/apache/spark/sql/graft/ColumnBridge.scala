package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ↔ Column bridge for graft's native Catalyst kernels.
  *
  * Spark 4's `Column` wraps a connect-compatible ColumnNode; the direct
  * Expression conversions live in `ExpressionUtils`, which is
  * `private[sql]`. This shim (in the `org.apache.spark.sql` package for
  * access, the standard extension-library technique) re-exposes exactly the
  * two conversions graft needs, so kernels like SimHash64 can be applied to
  * arbitrary computed Columns without a SQL-parser round trip or a
  * function-registry side effect. It also re-exposes `Dataset.ofRows`, so a
  * graft plan node (the prefix scan) can be handed back as a DataFrame.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over `plan` in `spark`. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
