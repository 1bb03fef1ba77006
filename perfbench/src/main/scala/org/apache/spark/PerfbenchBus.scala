package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * queued events before it reads its listeners' totals.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
