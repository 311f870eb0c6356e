package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners hold complete counts when it reads them (the bus
  * is `private[spark]`).
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
