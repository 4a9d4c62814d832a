package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can read its listener's counters only after every queued
  * event has been delivered. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
