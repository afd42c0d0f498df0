package org.apache.spark

/** Lets the benchmark harness wait until every posted listener event has
  * been delivered, so per-phase counters are complete when they are read.
  * The listener bus is private to Spark; this accessor lives in Spark's
  * package for that reason only. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
