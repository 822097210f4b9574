package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-span engine counters are complete when read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
