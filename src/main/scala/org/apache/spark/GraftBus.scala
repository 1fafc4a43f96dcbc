package org.apache.spark

/** Accessor for the private[spark] listener bus: listener-based counters
  * (Bench's per-cell layers, the job-count specs) FLUSH the bus before
  * reading instead of sleeping an arbitrary interval. */
object GraftBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
