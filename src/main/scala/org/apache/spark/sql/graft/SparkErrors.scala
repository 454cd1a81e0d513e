package org.apache.spark.sql.graft

import org.apache.spark.sql.errors.QueryExecutionErrors

/** Spark's own error factories for graft code that folds a SQL aggregate
  * outside Catalyst and must fail exactly as the aggregate does. The
  * factories are `private[sql]`; this shim (same package technique as
  * [[ColumnBridge]]) re-exposes the one graft needs. */
object SparkErrors {
  /** What the SQL `sum` of decimals raises when a running sum outgrows its
    * precision (error condition ARITHMETIC_OVERFLOW). */
  def sumOfDecimalsOverflow(): ArithmeticException =
    QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")
}
