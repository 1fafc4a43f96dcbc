package graft.streaming

import graft.kernel.Ckpt._

import scala.collection.immutable.ArraySeq

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession


/** Storage seam for [[BiMaintained]]'s bitemporal datom history and its
  * maintained visible views. ONE store instance holds the FINE-grained
  * history shared by every Coarsen lane (lanes are view dimensions —
  * `transition`/`dump` take the lane id and window). Two siblings share
  * the [[BiPacked]] state machine:
  *
  *  - [[DriverBiStore]] — ONE instance driver-side, for histories under
  *    the broadcast byte gate (the same small-side economics as the
  *    closure maintainer's gated driver index). Transitions are
  *    incremental here too — no O(history) rescan per completed time.
  *  - [[CellBiStore]] — the history hash-partitioned by view key across
  *    a [[StateCell]] (one [[BiPacked]] per partition): ingest and
  *    transitions are per-partition structural-sharing updates, the
  *    driver holds only the time lattices — the reference's split,
  *    where frontier bookkeeping is worker-local but datoms live in
  *    distributed arrangements.
  *
  * A growing [[DriverBiStore]] migrates into a [[CellBiStore]] when its
  * estimated bytes cross the gate ([[BiMaintained]] owns the flip).
  */
private[streaming] sealed trait BiStore {
  /** Append one transact batch of keyed datom records (FINE times). */
  def ingest(recs: Seq[(BiKey, BiRec)]): Unit

  /** Advance lane `lane`'s visible view to its completed coarse time
    * `t`, returning each attribute's signed view-transition frame
    * `(e, v, diff)`. `pruneUpTo` is the min processed bound across all
    * lanes — sys-index entries at or under it are dead for every
    * current lane. */
  def transition(lane: Int, win: Option[(Long, Long)],
      tPrev: Option[(Long, Long)], t: (Long, Long),
      sem: BiTime.Sem, pruneUpTo: Long,
      // Caller-known single-attribute domains (Some(a) = every emitted
      // row is attribute `a`): lets the distributed sibling skip the
      // per-time distinct-attribute job — per-lattice-time job count is
      // the dominant cost of small advances on the cell store.
      attrHint: Option[String] = None,
      // Demanded attributes (round 17 — lazy per-attribute views): only
      // attributes some attached standing reads are aggregated and
      // tracked; None = maintain everything (the pre-r17 behavior,
      // kept for tests). A later standing over a skipped attribute is
      // served via [[backfill]].
      demand: Option[Set[String]] = None): BiStore.Frames

  /** Reconstruct lane `lane`'s emitted view for newly-demanded `attrs`
    * (skipped by earlier demand-filtered transitions) at its last
    * processed coarse time `t` — run BEFORE the late standing's replay
    * [[dump]]. */
  def backfill(lane: Int, win: Option[(Long, Long)], t: (Long, Long),
      sem: BiTime.Sem, attrs: Set[String]): Unit

  /** Lane `lane`'s full emitted view per attribute — replay for
    * late/rebuilt standing queries. */
  def dump(lane: Int): BiStore.Frames

  /** Drop lane `lane`'s emitted view (lane teardown — its last interest
    * left). The shared history is untouched. */
  def dropLane(lane: Int): Unit

  /** Distinct coarse times of the ingested history under `win` —
    * lattice reconstruction for a lane attached after transacts. */
  def coarseTimes(win: Option[(Long, Long)]): Seq[(Long, Long)]

  /** Trace compaction behind `bound` — see [[BiPacked.compact]]. */
  def compact(bound: Long, wins: Seq[Option[(Long, Long)]],
      sem: BiTime.Sem): Unit

  /** Resident datom records (shrinks at compaction). */
  def datomCount: Long

  def estimatedBytes: Long

  /** MEASURED resident bytes — a real SizeEstimator walk over the state
    * objects (smoke/test hook verifying the declared estimate). */
  def measuredResidentBytes: Long
}

private[streaming] object BiStore {
  /** Per-attribute signed view transitions `((e, v), diff)`: the
    * standing queries' feeds. */
  type Frames = Map[String, IncrementalQuery.Delta]

  /** Demand Option → predicate, shared by both siblings. The returned
    * lambda captures only the Set (or nothing), so it is safe to ship
    * into executor closures. */
  def demandFn(demand: Option[Set[String]]): String => Boolean =
    demand.fold((_: String) => true)(s => s)

  /** Collect a distinct coarse-time lattice onto the driver behind the
    * loud `-Dgraft.bi.lattice.cap` guard (default 1M): a dense
    * WINDOWLESS history would otherwise collect a data-sized lattice —
    * the fix is a Coarsen granularity. Shared by the bulk-ingest
    * lattice pass and the late-attach replay. */
  def cappedLatticeCollect(lat0: RDD[(Long, Long)],
      win: Option[(Long, Long)], context: String): Array[(Long, Long)] = {
    val cap = sys.props.get("graft.bi.lattice.cap").map(_.toLong)
      .getOrElse(1000000L)
    val lat = lat0.distinct()
    lat.persist()
    try {
      val n = lat.count()
      require(n <= cap,
        s"$context time lattice has $n distinct coarse times on lane " +
          s"$win (cap $cap, -Dgraft.bi.lattice.cap): a dense history " +
          "needs a Coarsen granularity to bound the lattice")
      lat.collect()
    } finally { val _ = lat.unpersist(blocking = false) }
  }

  /** Group driver-side transition rows into per-attribute feeds. */
  def framesOf(sc: SparkContext, rows: Iterable[(String, Any, Any, Long)]): Frames =
    rows.groupBy(_._1).map { case (a, rs) =>
      val fs = rs.iterator.map { case (_, e, v, w) => (ArraySeq[Any](e, v): Seq[Any], w) }.toSeq
      a -> sc.parallelize(fs, math.max(1, math.min(sc.defaultParallelism, fs.size / 65536 + 1)))
    }

  /** A store row `(a, e, v, w)` as a feed row. */
  private[streaming] final class FeedRow
      extends (((String, Any, Any, Long)) => (Seq[Any], Long)) with Serializable {
    def apply(r: (String, Any, Any, Long)): (Seq[Any], Long) = (ArraySeq[Any](r._2, r._3), r._4)
  }
  private[streaming] val feedRow = new FeedRow
}

/** Driver-resident sibling: the whole history in one [[BiPacked]].
  * Bounded by [[BiMaintained]]'s byte gate — past it the state migrates
  * into the distributed sibling. */
private[streaming] final class DriverBiStore(spark: SparkSession)
    extends BiStore {
  private[streaming] var vis: BiPacked = BiPacked.empty

  def ingest(recs: Seq[(BiKey, BiRec)]): Unit = vis = vis.ingest(recs)

  def transition(lane: Int, win: Option[(Long, Long)],
      tPrev: Option[(Long, Long)], t: (Long, Long),
      sem: BiTime.Sem, pruneUpTo: Long,
      attrHint: Option[String] = None,
      demand: Option[Set[String]] = None): BiStore.Frames = {
    val (next, rows) = vis.transition(lane, win, tPrev, t, sem, pruneUpTo,
      BiStore.demandFn(demand))
    vis = next
    BiStore.framesOf(spark.sparkContext, rows)
  }

  def backfill(lane: Int, win: Option[(Long, Long)], t: (Long, Long),
      sem: BiTime.Sem, attrs: Set[String]): Unit =
    vis = vis.backfill(lane, win, t, sem, attrs)

  def dump(lane: Int): BiStore.Frames =
    BiStore.framesOf(spark.sparkContext, vis.dumpEmitted(lane).toSeq)

  def dropLane(lane: Int): Unit = vis = vis.dropLane(lane)

  def coarseTimes(win: Option[(Long, Long)]): Seq[(Long, Long)] =
    vis.coarseTimes(win).toSeq

  def compact(bound: Long, wins: Seq[Option[(Long, Long)]],
      sem: BiTime.Sem): Unit = vis = vis.compact(bound, wins, sem)

  def datomCount: Long = vis.datomCount

  def estimatedBytes: Long = vis.estimatedBytes

  def measuredResidentBytes: Long =
    org.apache.spark.util.GraftSizeOf.estimate(vis)
}

/** Distributed sibling: the history lives as one [[BiPacked]] per
  * partition inside a [[StateCell]] (hash-partitioned by view key).
  * Per-batch narrow work is O(delta + touched keys); per-completed-time
  * transition work is O(candidate keys of the toggled time slabs), and
  * nothing data-sized ever lands on the driver — transition feeds go
  * to the standing queries directly as RDDs. */
private[streaming] final class CellBiStore(
    spark: SparkSession, partitions: Int) extends BiStore {
  private val sc = spark.sparkContext
  private val part = new HashPartitioner(partitions)
  private val cell = new StateCell[BiPacked](
    sc, partitions, () => BiPacked.empty, _.estimatedBytes)
  private var count = 0L
  // MEASURED resident bytes, summed from the per-partition states'
  // actual structure on every ingest (the round-10 accounting fix: no
  // per-datom constant; transitions only grow the small emitted view,
  // refreshed at the next ingest).
  private var measuredBytes = 0L

  def ingest(recs: Seq[(BiKey, BiRec)]): Unit = {
    val _ = ingestRdd(sc.parallelize(recs, math.max(1, partitions / 4)))
  }

  /** DATA-SIZED ingest: one shuffle onto the view-key partitioning, then
    * the same per-partition structural-sharing [[BiPacked.ingest]] the
    * control-sized path runs — the batch never exists on the driver.
    * Returns the ingested record count (summed from the partitions, no
    * extra job — it rides the advance's output channel). */
  private[streaming] def ingestRdd(recs: RDD[(BiKey, BiRec)]): Long = {
    val delta = recs.partitionBy(part)
    val stats = cell.advance1(delta) { (vis, it) =>
      var n = 0L
      val next = vis.ingest(it.map { r => n += 1L; r })
      (next, Array((next.estimatedBytes, n)))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    measuredBytes = stats._1
    count += stats._2
    stats._2
  }

  /** Plant a split driver state into the cell partitions (gate flip). */
  private[streaming] def plant(parts: IndexedSeq[BiPacked]): Unit = {
    require(parts.length == partitions)
    count += parts.iterator.map(_.datomCount).sum
    val delta = sc.parallelize(
        parts.zipWithIndex.map { case (s, i) => (i, s) }, 1)
      .partitionBy(new HashPartitioner(partitions)) // Int key i -> part i
    measuredBytes = cell.advance1(delta) { (_, it) =>
      val planted = it.toSeq.headOption.map(_._2).getOrElse(BiPacked.empty)
      (planted, Array(planted.estimatedBytes))
    }.fold(0L)(_ + _)
  }

  def transition(lane: Int, win: Option[(Long, Long)],
      tPrev: Option[(Long, Long)], t: (Long, Long),
      sem: BiTime.Sem, pruneUpTo: Long,
      // Caller-known single-attribute domains (Some(a) = every emitted
      // row is attribute `a`): lets the distributed sibling skip the
      // per-time distinct-attribute job — per-lattice-time job count is
      // the dominant cost of small advances on the cell store.
      attrHint: Option[String] = None,
      demand: Option[Set[String]] = None): BiStore.Frames = {
    // Resolved on the driver — the lambda captures only the Set, so the
    // task closure stays free of the store's object graph.
    val dm = BiStore.demandFn(demand)
    val (out, n) = cell.advance1Counted(
        sc.parallelize(Seq.empty[Int], partitions)) { (vis, _) =>
      val (next, rows) = vis.transition(lane, win, tPrev, t, sem, pruneUpTo, dm)
      (next, rows)
    }
    // A singleton DEMAND set is as good an attribute hint as a
    // single-attribute domain: the transition only emitted demanded
    // attributes, so every row is provably the one demanded — the
    // per-time distinct-attribute job (the dominant cost of small
    // advances) is skipped for single-standing single-attribute lanes
    // regardless of how wide the registered catalog is.
    val hint = attrHint.orElse(demand.collect { case s if s.size == 1 => s.head })
    framesFrom(out, n, hint)
  }

  def backfill(lane: Int, win: Option[(Long, Long)], t: (Long, Long),
      sem: BiTime.Sem, attrs: Set[String]): Unit =
    measuredBytes = cell.advance1(
        sc.parallelize(Seq.empty[Int], partitions)) { (vis, _) =>
      val next = vis.backfill(lane, win, t, sem, attrs)
      (next, Array(next.estimatedBytes))
    }.fold(0L)(_ + _)

  def dump(lane: Int): BiStore.Frames = {
    val out = cell.rdd.flatMap(_.dumpEmitted(lane)).graftCheckpoint()
    framesFrom(out, out.count())
  }

  def dropLane(lane: Int): Unit =
    measuredBytes = cell.advance1(
        sc.parallelize(Seq.empty[Int], partitions)) { (vis, _) =>
      val next = vis.dropLane(lane)
      (next, Array(next.estimatedBytes))
    }.fold(0L)(_ + _)

  def coarseTimes(win: Option[(Long, Long)]): Seq[(Long, Long)] =
    BiStore.cappedLatticeCollect(
      cell.rdd.flatMap(_.coarseTimes(win)), win, "late-attach").toSeq

  def compact(bound: Long, wins: Seq[Option[(Long, Long)]],
      sem: BiTime.Sem): Unit = {
    val stats = cell.advance1(
        sc.parallelize(Seq.empty[Int], partitions)) { (vis, _) =>
      val next = vis.compact(bound, wins, sem)
      (next, Array((next.estimatedBytes, next.datomCount)))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    measuredBytes = stats._1
    count = stats._2
  }

  def datomCount: Long = count

  /** Per-attribute feeds over a checkpointed (a, e, v, w) RDD — the
    * only driver-sized read is the distinct attribute-name list, skipped
    * for single-attribute output (every emitted row is provably the
    * hinted attribute). */
  private def framesFrom(out: RDD[(String, Any, Any, Long)], n: Long,
      attrHint: Option[String] = None): BiStore.Frames =
    if (n == 0L) Map.empty
    else attrHint match {
      case Some(a) => Map(a -> out.map(BiStore.feedRow))
      case None => out.map(_._1).distinct().collect().iterator.map { a =>
        a -> out.filter(_._1 == a).map(BiStore.feedRow)
      }.toMap
    }

  def estimatedBytes: Long = measuredBytes

  def measuredResidentBytes: Long =
    cell.rdd.map(v => org.apache.spark.util.GraftSizeOf.estimate(v))
      .fold(0L)(_ + _)

  /** Spec probe: the cell's live generation (the recoverability drill
    * target under the reliable-checkpoint dial). */
  private[graft] def liveGenerationProbe: org.apache.spark.rdd.RDD[_] =
    cell.liveGeneration
}
