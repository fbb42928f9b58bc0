package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait
  * for it to deliver every event before it reads its counts. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
