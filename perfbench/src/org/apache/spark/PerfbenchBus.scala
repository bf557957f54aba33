package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners hold complete counts before it reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
