package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listener counters are complete when read. (`listenerBus` is
  * package-private to Spark.) */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
