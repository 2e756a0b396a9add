package org.apache.spark

/** Reaches the listener bus, so that counters read after an action include
  * every event that action posted. */
object LayerbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
