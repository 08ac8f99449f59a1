package org.apache.spark

/** Waits until every posted listener event has been delivered, so a test
  * listener's view of a finished action is complete before it is read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
