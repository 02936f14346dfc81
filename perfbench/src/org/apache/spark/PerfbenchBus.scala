package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read after a pass include that pass. The listener bus is
  * private to Spark; this is its only use. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
