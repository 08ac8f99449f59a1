package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's view of a finished action is complete before it is read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
