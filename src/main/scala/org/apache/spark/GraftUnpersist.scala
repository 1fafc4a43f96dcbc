package org.apache.spark

import org.apache.spark.rdd.RDD

/** Drops a superseded lineage cut's cached blocks. `RDD.unpersist` on a
  * locally checkpointed RDD logs a WARN that its lineage is truncated
  * and cannot be recomputed — true, and exactly why the state commits
  * drop only generations nothing reads any more. Those commits run once
  * per advance, so the WARN would fire thousands of times per run and
  * bury real warnings; this releases the same blocks through the
  * context without it. */
object GraftUnpersist {
  def apply(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
