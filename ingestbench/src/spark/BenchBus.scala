package org.apache.spark

/** The listener bus is asynchronous. A traced run drains it after each
  * traced cycle so every job, stage, task and query event of that cycle has
  * been delivered before the listeners are read or removed. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
