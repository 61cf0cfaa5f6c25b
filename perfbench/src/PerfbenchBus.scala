package org.apache.spark

/** The listener bus is `private[spark]`; the traced run must wait for
  * it to deliver every job and task event before reading totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
