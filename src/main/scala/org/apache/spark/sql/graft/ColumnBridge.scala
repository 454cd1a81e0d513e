package org.apache.spark.sql.graft

import org.apache.spark.sql.{internal, Column}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ↔ Column bridge for graft's native Catalyst kernels.
  *
  * Spark 4's `Column` wraps a connect-compatible ColumnNode; the direct
  * Expression conversions live in `ExpressionUtils`, which is
  * `private[sql]`. This shim (in the `org.apache.spark.sql` package for
  * access, the standard extension-library technique) re-exposes exactly the
  * two conversions graft needs, so kernels like SimHash64 can be applied to
  * arbitrary computed Columns without a SQL-parser round trip or a
  * function-registry side effect. It also reads a sort column's direction,
  * which Spark 4 keeps on the Column's node until analysis.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A sort column's key and direction as (key, ascending, nullsFirst). A
    * plain column sorts ascending with nulls first, as `orderBy` sorts it. */
  def sortKey(c: Column): (Column, Boolean, Boolean) = c.node match {
    case s: internal.SortOrder =>
      (new Column(s.child), s.sortDirection == internal.SortOrder.Ascending,
        s.nullOrdering == internal.SortOrder.NullsFirst)
    case _ => (c, true, true)
  }
}
