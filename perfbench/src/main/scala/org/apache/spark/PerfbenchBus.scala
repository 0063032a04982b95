package org.apache.spark

/** The listener bus is package-private; the traced run drains it once
  * before reading its tallies.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
