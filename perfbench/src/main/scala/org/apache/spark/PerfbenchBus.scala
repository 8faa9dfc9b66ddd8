package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so
  * counts are complete before it writes the trace. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
