package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so a spec
  * can read its listener's counters only after every queued event has
  * been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
