package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * listener totals read afterwards are complete. Lives in Spark's package
  * because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
