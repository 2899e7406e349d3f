package org.apache.spark

/** The listener bus is private to Spark; graft's job counter waits for it
  * to drain so every event of the counted work has reached its listener.
  * Keep this file free of any logic — it exists only to re-export access
  * (the `org.apache.spark.sql.classic.GraftColumnBridge` pattern). */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
