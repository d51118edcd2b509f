package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait
  * for it to drain before it reads its counters at a span boundary. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
