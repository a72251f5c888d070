package org.apache.spark

/** Access to the listener bus, which is private to Spark: blocks until
  * every event posted so far has reached the listeners, so a
  * listener's counts are complete when read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
