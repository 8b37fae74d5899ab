package org.apache.spark

/** The `private[spark]` hook the benchmark needs from outside Spark. */
object PerfbenchBridge {
  /** Block until every queued listener event has been delivered, so the
    * benchmark's counters are complete when a query's record is written. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
