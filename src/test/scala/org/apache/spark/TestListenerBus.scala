package org.apache.spark

/** Test access to Spark's asynchronous listener bus: a listener has seen
  * every event posted so far only after the bus drains. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
