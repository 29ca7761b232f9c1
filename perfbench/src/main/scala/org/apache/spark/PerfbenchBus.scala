package org.apache.spark

/** Drains the listener bus so that every event posted so far has reached
  * the listeners before the probe reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
