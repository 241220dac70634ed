package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * listener counters are complete when read. (`listenerBus` is
  * package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
