package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** A DataFrame over an RDD of catalyst rows. `internalCreateDataFrame` is
  * `private[sql]`; this shim (same package technique as [[ColumnBridge]])
  * re-exposes it for graft operators that compute rows outside Catalyst
  * and hand them back to a plan without a per-row external conversion. */
object InternalFrames {
  def create(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
