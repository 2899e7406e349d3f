package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it to drain so a traced segment's events are all counted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
