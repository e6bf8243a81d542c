package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it so the
  * traced run's job and task counts are complete before it reads them. */
object PerfbenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
