package org.apache.spark

/** Waits until every queued listener event has been delivered, so ledger
  * and progress counts are complete before they are read. The listener
  * bus is private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
