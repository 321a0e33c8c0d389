package org.apache.spark

/** Block until every event posted so far on the driver's listener bus
  * has reached its listeners, so a listener's counts are complete when
  * read. The bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
