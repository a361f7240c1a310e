package org.apache.spark

/** The listener bus is internal to Spark; the benchmark needs to wait for
  * it so per-pass counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
