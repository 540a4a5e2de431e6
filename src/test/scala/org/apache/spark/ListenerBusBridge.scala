package org.apache.spark

/** Test bridge: listener events are delivered asynchronously and
  * `SparkContext.listenerBus` is private[spark]. A spec that counts jobs
  * with a listener waits here until every event posted so far has been
  * delivered.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
