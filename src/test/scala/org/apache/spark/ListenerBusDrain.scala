package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener holds complete counts when it reads them (the bus is
  * `private[spark]`).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
