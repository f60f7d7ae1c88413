package org.apache.spark

/** The listener bus's drain barrier is package-private to Spark; the
  * benchmark needs it so listener totals are complete when read. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
