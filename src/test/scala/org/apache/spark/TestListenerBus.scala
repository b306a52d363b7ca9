package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so a test
  * listener has seen all jobs and SQL executions before it is read. The
  * bus is private to Spark, hence this package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
