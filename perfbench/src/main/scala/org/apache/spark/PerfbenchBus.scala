package org.apache.spark

/** Waits until every queued listener event is delivered, so job counters
  * read after a traced window are complete. The listener bus is private
  * to Spark's package, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
