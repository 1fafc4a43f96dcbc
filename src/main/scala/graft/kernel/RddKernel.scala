package graft.kernel

import graft.kernel.Ckpt._

import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD

/** Shared primitives for the iterative RDD kernels (the recursive-fixpoint
  * loop in the compiler and the incrementally-maintained streaming
  * closure): hash-partitioned within-batch dedup, subtraction against a
  * co-partitioned chain of already-derived tuples, and chain compaction.
  *
  * Two invariants every caller relies on, in one place so a fix can't
  * miss a copy:
  *  - every RDD in a chain shares ONE partitioner, so dedup/subtract/
  *    concat are narrow (positional `zipPartitions` alignment);
  *  - state living across jobs is `localCheckpoint()`ed, NOT merely
  *    persisted — without lineage truncation each round/batch stacks its
  *    shuffle dependencies on the last — and chain members are never
  *    manually unpersisted while any live RDD still references them
  *    (checkpointed RDDs cannot recompute);
  *  - an operator whose OUTPUT is keyed differently than its input must
  *    never claim `preservesPartitioning = true`: the claimed partitioner
  *    makes a later `partitionBy` on the same partitioner a silent no-op,
  *    stranding records in the wrong partition (the connected-components
  *    kernel shipped exactly this bug; every helper here keeps keys
  *    unchanged, which is why their `true` claims are valid).
  */
object RddKernel {

  /** Hops a kernel task expands its delta through the broadcast static
    * side before the round's one dedup/subtract (batch fixpoint,
    * maintained closure, maintained recursion kernel): a depth-d thin
    * recursion pays ⌈d/KernelHops⌉ rounds of job overhead, at a bounded
    * ~2× candidate volume. */
  val KernelHops = 4

  /** Semi-naive rounds chained lazily and materialized through one
    * tagged-count job ([[graft.streaming.CommitLedger.materialize]]):
    * a depth-d fixpoint costs ⌈d/RoundBatch⌉ scheduler round-trips
    * instead of d. */
  val RoundBatch = 4

  /** The ONE size proof behind every broadcast / driver-landing
    * decision (fixpoint loop, maintained recursion kernel, hector
    * probes, dedup union-find, label and digest broadcasts): `rows` of
    * about `bytesPerRow` bytes each fit the session's
    * `autoBroadcastJoinThreshold`. A threshold ≤ 0 — Spark's −1,
    * broadcasts disabled — admits nothing. */
  def broadcastable(spark: org.apache.spark.sql.SparkSession,
      rows: Long, bytesPerRow: Long): Boolean =
    rows <= broadcastRowCap(spark, bytesPerRow)

  /** Rows of `bytesPerRow` bytes the byte gate admits (−1 when
    * broadcasts are disabled): `broadcastable(rows)` ⇔ `rows ≤ cap`,
    * overflow-free at any row count. */
  def broadcastRowCap(spark: org.apache.spark.sql.SparkSession,
      bytesPerRow: Long): Long = {
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val bytes =
      try raw.toLong
      catch {
        case _: NumberFormatException =>
          org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
      }
    if (bytes <= 0L) -1L else bytes / bytesPerRow
  }

  /** Assert `part` on an RDD whose records are ALREADY placed
    * accordingly — e.g. derived narrowly (zipPartitions / per-partition
    * flatMap) from a `part`-partitioned parent, where the
    * transformation dropped the partitioner but not the placement.
    * Restores partitioner-aware unions and narrow chain ops without the
    * shuffle a `partitionBy` would re-pay. The caller GUARANTEES the
    * placement invariant; asserting it falsely strands records in the
    * wrong partition for every downstream narrow op. */
  def assertPartitioned[T: ClassTag](rdd: RDD[T], part: Partitioner): RDD[T] =
    new AssertPartitionedRdd(rdd, part)

  private final class AssertPartitionedRdd[T: ClassTag](
      parent: RDD[T], p: Partitioner) extends RDD[T](parent) {
    override val partitioner: Option[Partitioner] = Some(p)
    override protected def getPartitions: Array[org.apache.spark.Partition] =
      firstParent[T].partitions
    override def compute(split: org.apache.spark.Partition,
        context: org.apache.spark.TaskContext): Iterator[T] =
      firstParent[T].iterator(split, context)
  }

  /** Hash-partition candidates and drop within-batch duplicates. */
  def dedup[K: ClassTag](cand: RDD[(K, Null)], part: Partitioner): RDD[(K, Null)] =
    cand.partitionBy(part).mapPartitions({ it =>
      val seen = new java.util.HashSet[K]()
      it.filter { case (k, _) => seen.add(k) }
    }, preservesPartitioning = true)

  /** Remove every key present in the co-partitioned chain (narrow
    * anti-join per link). */
  def subtract[K: ClassTag](
      cand: RDD[(K, Null)], chain: Seq[RDD[(K, Null)]]): RDD[(K, Null)] =
    chain.foldLeft(cand) { (acc, tot) =>
      acc.zipPartitions(tot, preservesPartitioning = true) { (a, b) =>
        val seen = new java.util.HashSet[K]()
        b.foreach(p => seen.add(p._1))
        a.filter(p => !seen.contains(p._1))
      }
    }

  /** Keep only the keys present somewhere in the co-partitioned chain —
    * the complement of [[subtract]], built from it (cand ∩ chain =
    * cand − (cand − chain)) so both directions share one membership
    * implementation: two narrow passes, no shuffle. */
  def retain[K: ClassTag](
      cand: RDD[(K, Null)], chain: Seq[RDD[(K, Null)]]): RDD[(K, Null)] =
    subtract(cand, Seq(subtract(cand, chain)))

  /** dedup + subtract + lineage-truncating checkpoint: the per-round step
    * of every semi-naive kernel. The caller's next action materializes it. */
  def freshDelta[K: ClassTag](cand: RDD[(K, Null)], part: Partitioner,
      chain: Seq[RDD[(K, Null)]]): RDD[(K, Null)] =
    subtract(dedup(cand, part), chain).graftCheckpoint()

  /** Collapse a chain into one materialized frame (narrow concat). */
  def compact[K: ClassTag](chain: Seq[RDD[(K, Null)]]): RDD[(K, Null)] = {
    val comp = chain.reduce((a, b) =>
      a.zipPartitions(b, preservesPartitioning = true)(_ ++ _))
      .graftCheckpoint()
    comp.count()
    comp
  }
}
