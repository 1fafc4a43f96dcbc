package graft.kernel

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lineage-truncation seam: every place the engine cuts a lineage (state
  * generations, fixpoint rounds, multi-consumer intermediates) calls
  * `graftCheckpoint` instead of hard-coding `localCheckpoint`.
  *
  *  - DEFAULT (dial unset): `localCheckpoint` — truncation pinned to
  *    executor-local storage. Fastest (no DFS write), and on `local[*]`
  *    exactly as durable as the JVM. On a REAL cluster an executor loss
  *    discards the only copy of its partitions and fails the standing
  *    computation — acceptable for interactive/benchmark runs, not for
  *    multi-hour jobs where executor loss is routine.
  *  - `-Dgraft.checkpoint.dir=<path>`: RELIABLE `checkpoint()` into the
  *    given directory (HDFS/S3/NFS on a cluster; any path locally) at
  *    the SAME truncation points — recomputation after executor loss
  *    restarts from the checkpoint files instead of failing. The trade
  *    is write amplification: each cut writes its partitions to the
  *    reliable store once. Plans are unchanged — truncation points do
  *    not move, only where the cut materializes. RDD cuts persist
  *    MEMORY_AND_DISK first so the checkpoint job re-reads the computed
  *    partitions rather than recomputing the lineage.
  *
  * RETENTION under the dial: Spark never deletes reliable checkpoint
  * files on its own unless `spark.cleaner.referenceTracking
  * .cleanCheckpoints=true` (read by the ContextCleaner at
  * SparkContext CONSTRUCTION — setting it later is a no-op), and even
  * then only when the GC collects the RDD reference. A multi-hour
  * standing job — exactly the dial's target workload — cuts a lineage
  * per StateCell generation and per fixpoint round, so relying on GC
  * alone grows the directory without bound. Two-layer policy:
  *  - DETERMINISTIC: superseded state generations are deleted
  *    explicitly ([[dropCheckpoint]], called by [[graft.streaming
  *    .StateCell]] at the same point it unpersists the previous
  *    generation — nothing references a superseded generation's files).
  *  - GC-DRIVEN: delta-sized output cuts are held by caller diff
  *    frames, so they can only be reclaimed by reference tracking;
  *    every session the repo builds sets
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` at
  *    construction, and embedders enabling the dial should do the
  *    same.
  *
  * The checkpoint dir is installed on the SparkContext lazily, once. */
object Ckpt {
  @volatile private var installedFor: String = null

  private def reliableDir: Option[String] =
    sys.props.get("graft.checkpoint.dir").filter(_.nonEmpty)

  private def ensureDir(sc: SparkContext, d: String): Unit =
    if (installedFor != d || sc.getCheckpointDir.isEmpty) synchronized {
      if (sc.getCheckpointDir.isEmpty || installedFor != d) {
        sc.setCheckpointDir(d)
        installedFor = d
      }
    }

  implicit final class DatasetCkpt[T](private val ds: Dataset[T]) extends AnyVal {
    /** Reliable `checkpoint(eager)` under the dial, `localCheckpoint`
      * otherwise — same eagerness either way. */
    def graftCheckpoint(eager: Boolean = true): Dataset[T] = reliableDir match {
      case Some(d) =>
        ensureDir(ds.sparkSession.sparkContext, d)
        ds.checkpoint(eager)
      case None => ds.localCheckpoint(eager)
    }
  }

  /** Delete a SUPERSEDED RDD's reliable checkpoint files (no-op when
    * the dial is off or the RDD never reliably checkpointed). Call only
    * once nothing can read the files again: a reliably checkpointed
    * RDD reads exclusively its own files, so any DERIVED checkpoint is
    * self-contained and safe to keep. */
  def dropCheckpoint(r: RDD[_]): Unit =
    if (reliableDir.nonEmpty) r.getCheckpointFile.foreach { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(r.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        ()
      } catch { case _: java.io.IOException => () } // best-effort cleanup
    }

  implicit final class RddCkpt[T](private val r: RDD[T]) extends AnyVal {
    /** Reliable `checkpoint()` under the dial (persisted first so the
      * checkpoint write re-reads, not recomputes), `localCheckpoint`
      * otherwise. Materialization stays with the caller's first action
      * in both modes. An RDD already cut and materialized is returned
      * as is: its lineage is already truncated (Spark would only log
      * that it refuses to mark it again). */
    def graftCheckpoint(): RDD[T] = reliableDir match {
      case _ if r.isCheckpointed => r
      case Some(d) =>
        ensureDir(r.sparkContext, d)
        if (r.getStorageLevel == StorageLevel.NONE)
          r.persist(StorageLevel.MEMORY_AND_DISK)
        r.checkpoint()
        r
      case None => r.localCheckpoint()
    }
  }
}
