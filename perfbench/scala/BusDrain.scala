package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener totals are complete before they are read. The
  * bus is `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
