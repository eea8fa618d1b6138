package org.apache.spark

/** The listener bus is private to Spark; the trace reads its per-span
  * task metrics only after every queued event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
