package org.apache.spark

/** Test access to the listener bus: wait until every queued event has
  * reached its listeners, so a count read afterwards is complete. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
