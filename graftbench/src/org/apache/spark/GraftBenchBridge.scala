package org.apache.spark

/** The one engine-internal call the benchmark needs: listener events are
  * delivered asynchronously, so before reading what the span listener
  * attributed, the benchmark waits until the listener bus has delivered
  * every event posted so far.
  */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
