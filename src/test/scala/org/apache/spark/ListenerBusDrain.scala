package org.apache.spark

/** Waits until every posted listener event has been delivered, so a test
  * listener's counts are complete when the test reads them. The listener
  * bus is private to Spark; this accessor lives in Spark's package for
  * that reason only. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
