package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps `private[spark]`.
  * Specs that count listener events (jobs, SQL executions) drain before and
  * after the code they measure, so every event is delivered and counted
  * against the code that caused it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
