package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced epoch's jobs, stages, tasks and query executions are all
  * counted before its layer record is read. The bus is `private[spark]`,
  * hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
