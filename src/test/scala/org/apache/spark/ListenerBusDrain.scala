package org.apache.spark

/** Listener events are delivered asynchronously; tests that count jobs or
  * tasks block here until every posted event has reached its listeners.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
