package org.apache.spark

/** Test access to the driver's listener bus: block until every event
  * posted so far has reached its listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
