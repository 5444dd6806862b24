package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * span's task metrics and executed plans are complete when it closes.
  * Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
