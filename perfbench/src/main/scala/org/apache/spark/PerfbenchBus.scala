package org.apache.spark

/** The listener bus is package-private; the harness drains it before
  * reading listener counters so every finished job is counted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
