package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so the
  * benchmark's listener totals are complete before they are read. Lives in
  * this package because the bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
