package org.apache.spark

/** Waits for the listener bus to deliver every queued event, so listener
  * counters read after an action include that action. The bus is
  * package-private to Spark; this one-line bridge is the only reason the
  * benchmark has a file in Spark's package. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
