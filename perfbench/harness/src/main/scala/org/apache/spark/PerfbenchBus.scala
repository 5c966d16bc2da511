package org.apache.spark

/** Drains the listener bus so counters read after an action include every
  * event that action posted (the bus is asynchronous and `waitUntilEmpty`
  * is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
