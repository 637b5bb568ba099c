package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * test's listener counts are complete before they are read. Lives in this
  * package because the bus is `private[spark]`. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
