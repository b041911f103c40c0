package org.apache.spark

/** The benchmark's one use of Spark-internal API: waiting for the
  * listener bus to deliver every event before reading the counters. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
