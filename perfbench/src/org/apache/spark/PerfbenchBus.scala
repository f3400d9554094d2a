package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark's traced
  * runs drain it so per-operation counters are complete when read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
