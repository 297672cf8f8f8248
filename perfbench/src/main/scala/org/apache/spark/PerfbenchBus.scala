package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * metrics read right after a phase include all of its tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
