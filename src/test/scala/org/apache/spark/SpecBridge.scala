package org.apache.spark

/** Test access to SparkContext's listener bus: wait until every event
  * posted so far has reached the listeners. */
object SpecBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
