package org.apache.spark

/** The one package-private hook the benchmark needs: listener events are
  * delivered asynchronously, so before reading what the listeners saw the
  * traced run waits until the bus has delivered everything posted so far. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
