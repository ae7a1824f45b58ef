package org.apache.spark

/** Waits for the listener bus to deliver every queued event, so job spans
  * are complete before they are read (`listenerBus` is `private[spark]`). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
