package org.apache.spark

/** Drains the listener bus so per-span counters are complete before they
  * are read (the bus delivers events asynchronously). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
