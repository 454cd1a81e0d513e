package org.apache.spark.benchv2

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps `private[spark]`.
  * The traced pass drains after every key so that each event is counted
  * against the key that caused it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
