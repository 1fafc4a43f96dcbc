package graft.streaming

import graft.kernel.Ckpt._

import scala.collection.immutable.{HashMap, HashSet}
import scala.collection.mutable

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.kernel.{Exchange, RddKernel}

/** Incrementally maintained transitive closure with a fully DISTRIBUTED
  * adjacency — the store `IncrementalQuery`'s closure node migrates to
  * once its edge set would cross the broadcast byte gate (and starts on
  * when the gate admits nothing): no driver edge set, no broadcast
  * reverse index, no edge ceiling. Same maintenance
  * algebra (warm-started semi-naive for additions, delete-and-rederive
  * for retractions — the differential `iterate` + arrangement analog,
  * reference `src/lib.rs:943-1022`), same exact per-batch diffs.
  *
  * State lives as MAINTAINED per-partition indexes ([[StateCell]] — the
  * arrangement-analog store), updated by O(delta) structural sharing
  * per batch, never rebuilt or rewritten:
  *
  *  - `edgeCell`: edge membership set keyed by TUPLE hash — fresh
  *    filters and retraction validation are per-delta probes;
  *  - `revCell` / `fwdCell`: reverse and forward adjacency indexes
  *    (`key → neighbors`) keyed by FIRST element — the fixpoint rounds
  *    and DRed's rederivation probes walk them directly, no per-batch
  *    index fold;
  *  - `closureCell`: closure membership set keyed by tuple hash — each
  *    round's dedup-against-totals is ONE insert-if-absent pass over
  *    the candidates (the former totals-chain subtract re-read
  *    O(C/p) per round);
  *  - `srcCell`: the closure re-keyed by SOURCE — Δ∘C probes touch
  *    O(batch × degree) entries (the former src-keyed totals copy was
  *    scanned narrowly per batch).
  *
  * Cost shape per batch: shuffles are O(delta) for ingest plus
  * O(frontier) per fixpoint round (each round re-keys its frontier by
  * destination — the distributed expansion cannot k-hop-batch inside a
  * task the way the broadcast kernel can, so deep graphs pay diameter
  * rounds); narrow work is O(delta + touched keys) — deletions
  * additionally pay one O(C/p) pass to split keep/overdeleted, the
  * textbook DRed cost. Resident-set economics follow the StateCell
  * rule: a commit transiently holds two generations of an index.
  */
class DistributedClosure(spark: SparkSession, partitions: Int = 32) {

  private type Tup = (Long, Long)
  private type Adj = HashMap[Long, Array[Long]]
  private type TSet = HashSet[Tup]
  private val sc = spark.sparkContext
  private val part = new HashPartitioner(partitions)
  private val firstPart = new DistributedClosure.FirstPartitioner(partitions)

  private val edgeCell = new StateCell[TSet](
    sc, partitions, () => HashSet.empty, _.size * 90L)
  private val revCell = new StateCell[Adj](
    sc, partitions, () => HashMap.empty, _.size * 150L)
  private val fwdCell = new StateCell[Adj](
    sc, partitions, () => HashMap.empty, _.size * 150L)
  private val closureCell = new StateCell[TSet](
    sc, partitions, () => HashSet.empty, _.size * 90L)
  private val srcCell = new StateCell[Adj](
    sc, partitions, () => HashMap.empty, _.size * 150L)

  private var edgeCount = 0L

  /** Current closure size (tuples). */
  def size: Long = closureCell.rdd.map(_.size.toLong).fold(0L)(_ + _)

  /** Current edge-relation size. */
  def edgeSize: Long = edgeCount

  // ------------------------------------------------------------ ingest

  /** Seed every index from a [[IncrementalClosure]]'s state — its edge
    * set and its closure — without running a fixpoint: the migration
    * step when the owner's edge set outgrows the broadcast gate. Call
    * once, on a fresh instance, before any advance. */
  private[streaming] def plant(edges: Iterable[Tup], closure: RDD[(Tup, Null)]): Unit = {
    val es = sc.parallelize(edges.iterator.map(e => (e, null: Null)).toSeq,
      math.max(1, partitions / 4)).partitionBy(part)
    edgeCell.advance1(es)(DistributedClosure.setInsert)
    revCell.advance1(es.map { case ((s, d), _) => ((d, s): Tup, null: Null) }
      .partitionBy(firstPart))(DistributedClosure.adjInsert)
    fwdCell.advance1(es.partitionBy(firstPart))(DistributedClosure.adjInsert)
    edgeCount = edges.size.toLong
    val cs = closure.partitionBy(part)
    closureCell.advance1(cs)(DistributedClosure.setInsert)
    srcCell.advance1(cs.partitionBy(firstPart))(DistributedClosure.adjInsert)
  }

  /** Apply one batch of SIGNED edge deltas (diff ∈ {+1, −1}) at time `t`;
    * returns the exact closure diffs (src, dst) → diff, retractions
    * included. Deltas consolidate per edge first; deletions run DRed,
    * additions warm-start, and the two diff sets consolidate per tuple.
    * Retracting an absent edge fails loudly (distributed — nothing
    * data-sized ever lands on the driver on this path). */
  def advanceSignedRdd(deltas: RDD[((Long, Long), Long)]): RDD[((Long, Long), Long)] = {
    val net = Exchange.sum(deltas, part).filter(_._2 != 0L)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bad = net.filter { case (_, w) => w != 1L && w != -1L }.take(1)
      require(bad.isEmpty,
        s"consolidated edge diff must be ±1, got ${bad.headOption}")
      val dels = net.filter(_._2 < 0).mapPartitions(
        _.map { case (e, _) => (e, null: Null) }, preservesPartitioning = true)
      val adds = net.filter(_._2 > 0).mapPartitions(
        _.map { case (e, _) => (e, null: Null) }, preservesPartitioning = true)
      val missing = edgeProbePresent(dels, invert = true).take(1)
      require(missing.isEmpty,
        s"retraction of absent edges: ${missing.map(_._1).mkString(", ")}")

      val delsM = dels.graftCheckpoint()
      val hasDels = delsM.take(1).nonEmpty
      val removed = if (!hasDels) emptyTup else deleteEdges(delsM)
      // Fresh-filter AFTER deletions: a deleted-then-re-added edge is
      // fresh again.
      val fresh = edgeProbeAbsent(adds)
      val added = addFresh(fresh)
      val retr = RddKernel.subtract(removed, Seq(added))
      val asserted = RddKernel.subtract(added, Seq(removed))
      retr.map(new DistributedClosure.Signed(-1L))
        .union(asserted.map(new DistributedClosure.Signed(1L)))
    } finally net.unpersist(blocking = false)
  }

  // ---------------------------------------------------------- membership

  private def emptyTup: RDD[(Tup, Null)] =
    sc.emptyRDD[(Tup, Null)].partitionBy(part)

  /** Deduped, `part`-keyed candidates NOT in the edge set (read-only
    * probe; checkpointed so the caller can branch on it). */
  private def edgeProbeAbsent(cand: RDD[(Tup, Null)]): RDD[(Tup, Null)] = {
    val p = if (cand.partitioner.contains(part)) cand else cand.partitionBy(part)
    val r = p.zipPartitions(edgeCell.rdd) { (cIt, sIt) =>
      val s = sIt.next()
      cIt.filterNot { case (e, _) => s.contains(e) }
    }.graftCheckpoint()
    r.count()
    r
  }

  /** `part`-keyed candidates present (or, inverted, absent) in the edge
    * set — lazy, for loud validation takes. */
  private def edgeProbePresent(
      cand: RDD[(Tup, Null)], invert: Boolean): RDD[(Tup, Null)] =
    cand.zipPartitions(edgeCell.rdd) { (cIt, sIt) =>
      val s = sIt.next()
      cIt.filter { case (e, _) => s.contains(e) != invert }
    }

  // --------------------------------------------------------- additions

  /** Mutate state with genuinely fresh additions (deduped, tuple-keyed,
    * materialized); return the new closure tuples. */
  private def addFresh(fresh: RDD[(Tup, Null)]): RDD[(Tup, Null)] = {
    val nFresh = fresh.count()
    if (nFresh == 0L) return emptyTup
    val freshRev = fresh
      .map { case ((s, d), _) => ((d, s): Tup, null: Null) }
      .partitionBy(firstPart).graftCheckpoint()
    freshRev.count()
    edgeCell.advance1(fresh)(DistributedClosure.setInsert)
    revCell.advance1(freshRev)(DistributedClosure.adjInsert)
    fwdCell.advance1(fresh.partitionBy(firstPart))(DistributedClosure.adjInsert)
    edgeCount += nFresh

    // D1 = Δe ∪ Δe∘C: the src-keyed closure index is PROBED by the
    // batch — O(batch × degree), no totals scan, no broadcast.
    val viaOld = composeWithTotals(freshRev)
    var newParts = Vector.empty[RDD[(Tup, Null)]]
    var (delta, n) = insertClosure(fresh.union(viaOld))
    while (n > 0) {
      newParts = newParts :+ delta
      val step = insertClosure(expand(delta))
      delta = step._1
      n = step._2
    }
    if (newParts.isEmpty) emptyTup
    else {
      val all = sc.union(newParts)
      srcCell.advance1(all.partitionBy(firstPart))(DistributedClosure.adjInsert)
      all
    }
  }

  /** One insert-if-absent pass over round candidates: dedup against the
    * maintained closure set AND install the survivors, emitting exactly
    * the genuinely fresh tuples — the round's only shuffle is the
    * candidates' own key consolidation. */
  private def insertClosure(cand: RDD[(Tup, Null)]): (RDD[(Tup, Null)], Long) = {
    val keyed = Exchange.distinct(cand, part)
    val (out, n) =
      closureCell.advance1Counted(keyed)(DistributedClosure.setInsertFresh)
    // Records came out of `part`-keyed partitions untouched — assert the
    // partitioner back so downstream unions/subtracts stay narrow.
    (RddKernel.assertPartitioned(
      out.mapPartitions(_.map(t => (t, null: Null))), part), n)
  }

  // --------------------------------------------------------- deletions

  /** DRed under edge deletions (present, deduped, `part`-keyed,
    * materialized): overdelete through the OLD adjacency, rederive
    * against the updated edges, install `(C − O) ∪ R`, return `O − R`. */
  private def deleteEdges(dels: RDD[(Tup, Null)]): RDD[(Tup, Null)] = {
    // --- overdelete: O = lfp of Δd ∪ Δd∘C ∪ E_old∘O -------------------
    // Probes the CURRENT (pre-deletion) adjacency generation — index
    // deletions apply only after this loop, exactly the old-program
    // semantics DRed's overdeletion is defined over. Candidates stay
    // ⊆ C by construction, so no closure membership test.
    val delsRev = dels.map { case ((s, d), _) => ((d, s): Tup, null: Null) }
      .partitionBy(firstPart).graftCheckpoint()
    delsRev.count()
    val direct = composeWithTotals(delsRev)
    var oChain = Vector.empty[RDD[(Tup, Null)]]
    var oDelta = RddKernel.freshDelta(dels.union(direct), part, oChain)
    var n = oDelta.count()
    while (n > 0) {
      oChain = oChain :+ oDelta
      oDelta = RddKernel.freshDelta(expand(oDelta), part, oChain)
      n = oDelta.count()
    }

    // Apply the edge deletions to the indexes (O(delta) each); the
    // rederivation below probes the NEW program's adjacency.
    val nDels = dels.count()
    edgeCell.advance1(dels)(DistributedClosure.setRemove)
    revCell.advance1(delsRev)(DistributedClosure.adjRemove)
    fwdCell.advance1(dels.partitionBy(firstPart))(DistributedClosure.adjRemove)
    edgeCount -= nDels
    if (oChain.isEmpty) return emptyTup

    // keep = C − O: one narrow O(C/p) pass (the DRed split cost).
    val oAll = sc.union(oChain)
    val oByPart = oAll.partitionBy(part)
    val keep = closureCell.rdd.zipPartitions(oByPart) { (sIt, oIt) =>
      val o = new java.util.HashSet[Tup]()
      oIt.foreach { case (e, _) => o.add(e) }
      sIt.next().iterator.collect {
        case e if !o.contains(e) => (e, null: Null)
      }
    }.graftCheckpoint()
    keep.count()

    // --- rederive: R = lfp of (O∩E') ∪ (O ∩ E'∘keep) ∪ (O ∩ E'∘R) -----
    // Base: overdeleted facts that are themselves surviving edges.
    val r0a = edgeProbePresent(oByPart, invert = false)
    // One step through the kept region: (x,z) ∈ O re-keyed by x walks
    // the forward index to probe keys (y,z), looked up in keep with a
    // co-partitioned narrow join — work ∝ |O| × degree, never ∝ |keep|.
    val probes = oAll.partitionBy(firstPart)
      .zipPartitions(fwdCell.rdd) { (oIt, mIt) =>
        val m = mIt.next()
        oIt.flatMap { case ((x, z), _) =>
          m.get(x) match {
            case None     => Iterator.empty
            case Some(ys) => ys.iterator.map(y => ((y, z): Tup, (x, z): Tup))
          }
        }
      }
    val r0b = lookupHits(probes, Seq(keep))
    var rChain = Vector.empty[RDD[(Tup, Null)]]
    var rDelta = RddKernel.freshDelta(r0a.union(r0b), part, rChain)
    var rn = rDelta.count()
    while (rn > 0) {
      rChain = rChain :+ rDelta
      val inO = RddKernel.retain(
        RddKernel.dedup(expand(rDelta), part), oChain)
      rDelta = RddKernel.subtract(inO, rChain).graftCheckpoint()
      rn = rDelta.count()
    }
    val removed = RddKernel.subtract(oAll, rChain).graftCheckpoint()
    removed.count()
    // Install C − removed: rederived tuples never left the sets.
    val removedByPart = removed.partitionBy(part)
    closureCell.advance1(removedByPart)(DistributedClosure.setRemove)
    srcCell.advance1(removed.partitionBy(firstPart))(DistributedClosure.adjRemove)
    removed
  }

  // ------------------------------------------------------------- steps

  /** One semi-naive expansion round: re-key the frontier by destination
    * (one O(frontier) shuffle — `part` and `firstPart` disagree, so this
    * is the price of the distributed adjacency) and probe the MAINTAINED
    * per-partition reverse index: (y,z) → (x,z) for (x,y) ∈ E. */
  private def expand(delta: RDD[(Tup, Null)]): RDD[(Tup, Null)] =
    delta.partitionBy(firstPart).zipPartitions(revCell.rdd) { (dIt, mIt) =>
      val m = mIt.next()
      dIt.flatMap { case ((y, z), _) =>
        m.get(y) match {
          case None     => Iterator.empty
          case Some(xs) => xs.iterator.map(x => ((x, z): Tup, null: Null))
        }
      }
    }

  /** (x,y) ∈ batch (as (y,x), first-keyed), (y,z) ∈ closure →
    * (x,z): probe the src-keyed closure index per batch key —
    * O(batch × degree), never a totals scan. */
  private def composeWithTotals(batchByDst: RDD[(Tup, Null)]): RDD[(Tup, Null)] =
    batchByDst.zipPartitions(srcCell.rdd) { (bIt, sIt) =>
      val m = sIt.next()
      bIt.flatMap { case ((y, x), _) =>
        m.get(y) match {
          case None     => Iterator.empty
          case Some(zs) => zs.iterator.map(z => ((x, z): Tup, null: Null))
        }
      }
    }

  /** For probes (key → origin) emit (origin, null) for every probe whose
    * key is present in the co-partitioned chain. Output is keyed by
    * origin — a DIFFERENT key — so partitioning is not claimed. */
  private def lookupHits(probes: RDD[(Tup, Tup)],
      chain: Seq[RDD[(Tup, Null)]]): RDD[(Tup, Null)] = {
    val p = probes.partitionBy(part)
    val hits = chain.map { link =>
      p.zipPartitions(link) { (a, b) =>
        val seen = new java.util.HashSet[Tup]()
        b.foreach(x => seen.add(x._1))
        a.collect { case (k, v) if seen.contains(k) => (v: Tup, null: Null) }
      }
    }
    if (hits.isEmpty) sc.emptyRDD[(Tup, Null)] else sc.union(hits)
  }
}

object DistributedClosure {

  private type Tup = (Long, Long)
  private type Adj = HashMap[Long, Array[Long]]
  private type TSet = HashSet[Tup]

  /** A closure pair as a signed diff of weight `diff` (named: no
    * per-advance closure clean). */
  private[streaming] final class Signed(diff: Long)
      extends (((Tup, Null)) => (Tup, Long)) with Serializable {
    def apply(d: (Tup, Null)): (Tup, Long) = (d._1, diff)
  }

  // ---- index merges (top-level: tasks never capture the operator) ----

  /** Insert deduped tuples into a membership set (no output). */
  private[streaming] def setInsert(s: TSet, dIt: Iterator[(Tup, Null)]): (TSet, Array[Int]) = {
    var m = s
    dIt.foreach { case (e, _) => m += e }
    (m, Array.empty[Int])
  }

  /** Insert-if-absent over deduped candidates, emitting exactly the
    * genuinely fresh tuples — dedup-against-totals and install in one
    * pass. */
  private[streaming] def setInsertFresh(
      s: TSet, dIt: Iterator[(Tup, Null)]): (TSet, Array[Tup]) = {
    var m = s
    val out = mutable.ArrayBuffer.empty[Tup]
    dIt.foreach { case (e, _) =>
      if (!m.contains(e)) { m += e; out += e }
    }
    (m, out.toArray)
  }

  /** Remove tuples from a membership set (no output). */
  private[streaming] def setRemove(s: TSet, dIt: Iterator[(Tup, Null)]): (TSet, Array[Int]) = {
    var m = s
    dIt.foreach { case (e, _) => m -= e }
    (m, Array.empty[Int])
  }

  /** Append (k, v) pairs to an adjacency index — per-key batch grouping
    * so a key's neighbor array copies once per batch, not per edge. */
  private[streaming] def adjInsert(s: Adj, dIt: Iterator[(Tup, Null)]): (Adj, Array[Int]) = {
    val byKey = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Long]]
    dIt.foreach { case ((k, v), _) =>
      byKey.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    }
    var m = s
    byKey.foreach { case (k, vs) =>
      m = m.updated(k, m.get(k) match {
        case None    => vs.toArray
        case Some(a) => a ++ vs
      })
    }
    (m, Array.empty[Int])
  }

  /** Remove (k, v) pairs from an adjacency index (edges are a set, so
    * each (k, v) occurs at most once). */
  private[streaming] def adjRemove(s: Adj, dIt: Iterator[(Tup, Null)]): (Adj, Array[Int]) = {
    val byKey = mutable.LinkedHashMap.empty[Long, mutable.HashSet[Long]]
    dIt.foreach { case ((k, v), _) =>
      byKey.getOrElseUpdate(k, mutable.HashSet.empty) += v
    }
    var m = s
    byKey.foreach { case (k, vs) =>
      m.get(k).foreach { a =>
        val left = a.filterNot(vs.contains)
        m = if (left.isEmpty) m - k else m.updated(k, left)
      }
    }
    (m, Array.empty[Int])
  }

  /** Partition a (Long, Long) key by its FIRST element — edge copies and
    * the src-keyed totals land where their join/probe key does. Top-level
    * so tasks never drag the operator (and its SparkSession) along. */
  private[streaming] final class FirstPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = java.lang.Math.floorMod(
      java.lang.Long.hashCode(key.asInstanceOf[(Long, Long)]._1), n)
    override def equals(o: Any): Boolean = o match {
      case p: FirstPartitioner => p.numPartitions == n
      case _                   => false
    }
    override def hashCode: Int = n
  }
}
