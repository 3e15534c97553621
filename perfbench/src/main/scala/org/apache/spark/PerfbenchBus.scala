package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listeners have seen all jobs of an operation before its
  * counters are read. The listener bus is private to Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
