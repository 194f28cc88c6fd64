package org.apache.spark

/** The listener bus is private to Spark; this one-line shim lets the
  * benchmark wait until every posted event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
