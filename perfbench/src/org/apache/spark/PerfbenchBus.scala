package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's totals are complete when read (the bus is `private[spark]`).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
