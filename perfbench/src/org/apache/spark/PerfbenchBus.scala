package org.apache.spark

/** The listener bus is package-private; counters read off a listener are
  * complete only once every event posted before the read is delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
