package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so counters read after a span include all of its tasks. (The
  * bus is package-private to Spark; this bridge lives in its package.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
