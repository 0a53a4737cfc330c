package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * benchmark's per-op counters are complete when an op's record is cut.
  * `listenerBus` is package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
