package org.apache.spark

/** The listener bus is asynchronous; the trace is attributed only after
  * every posted event has been delivered. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
