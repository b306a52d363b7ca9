package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so the
  * benchmark's listeners have seen all jobs of an operation before its
  * counters are read. The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
