package graft.streaming

import graft.kernel.Ckpt._

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.kernel.RddKernel

/** Incrementally maintained transitive closure over a streamed edge
  * attribute — the recursion slice of the reference's incrementally-
  * maintained rules (differential's `iterate`), and the closure node
  * [[IncrementalQuery]] routes TC-shaped rules through.
  *
  * Per micro-batch of edge ADDITIONS at time `t`, emits the exact closure
  * diffs `((src, dst), t, +1)` — precisely the tuples in
  * `closure(E ∪ Δe) − closure(E)` — by warm-starting the semi-naive
  * iteration from the persisted totals instead of recomputing:
  *
  *   D₁   = (Δe ∪ Δe∘C) − C          (new edges, and new edges entering
  *                                    existing paths)
  *   Dₖ₊₁ = (E'∘Dₖ) − (C ∪ D₁ ∪ …)   (ordinary semi-naive rounds against
  *                                    the UPDATED edge set)
  *
  * Sound for monotone programs: iteration starts from a post-fixpoint of
  * the old rules below the new least fixpoint.
  *
  * Edge RETRACTIONS ([[advanceSigned]] / the ±1 stream path) run classic
  * delete-and-rederive (DRed — the standard maintenance for recursion
  * under deletion, the role differential's arrangement traces play in the
  * reference):
  *
  *   O  = lfp of  Δd ∪ (Δd∘C) ∪ (E_old∘O)      (overdelete: every fact
  *                                              with SOME derivation
  *                                              through a deleted edge;
  *                                              O ⊆ C automatically — a
  *                                              C-fact prepended with an
  *                                              old edge is a C-fact)
  *   R  = lfp of  (O ∩ E') ∪ (O ∩ E'∘(C−O)) ∪ (O ∩ E'∘R)
  *                                             (rederive what survives on
  *                                              the updated edges)
  *   closure(E') = (C − O) ∪ R;  emit (O − R) as −1 diffs.
  *
  * Every DRed step is work-proportional to the AFFECTED region (|O| ×
  * degree per round, membership via co-partitioned narrow joins), plus
  * exactly one narrow full-totals pass to split C into keep/overdeleted —
  * the same cost class as the Δe∘C scan the addition path already pays.
  * Within a signed batch, deletions apply first, then additions, and the
  * two diff sets consolidate: a tuple DRed retracts but the batch's
  * additions re-derive emits nothing (the exact net
  * `closure(E ∪ Δ⁺ − Δ⁻) − closure(E)` semantics).
  *
  * State: closure totals live in a maintained per-partition membership
  * index ([[StateCell]] — each round's dedup-against-totals is one
  * insert-if-absent pass, O(candidates), never a totals re-read), and
  * the adjacency as a broadcast reverse index, size-gated like the
  * kernel's static side (`maxEdges`). The one full-total scan per batch
  * (Δe∘C) is narrow and partition-parallel. Past the `maxEdges` gate,
  * use [[DistributedClosure]]: the same maintenance algebra with the
  * adjacency as co-partitioned RDD copies (a second totals copy keyed by
  * source, per-batch partition-local indexes) — no broadcast, no edge
  * ceiling; this class stays the lower-latency choice under the gate
  * (k-hop in-task expansion, no per-batch index fold).
  */
class IncrementalClosure(
    spark: SparkSession,
    partitions: Int = 8,
    maxEdges: Long = 5000000L,
    kHops: Int = math.max(1, Integer.getInteger("graft.fixpoint.khop", 4))) {

  private type Tup = (Long, Long)
  private val sc = spark.sparkContext
  private val part = new HashPartitioner(partitions)

  private val debug = sys.env.contains("GRAFT_CLOSURE_DEBUG")
  private var debugT0 = System.nanoTime()
  private def trace(msg: => String): Unit = if (debug) {
    System.err.println(
      f"[closure] +${(System.nanoTime() - debugT0) / 1e9}%.2fs $msg")
  }

  private val edgeSet = mutable.Set.empty[Tup]
  // reverse adjacency: dst -> srcs (the semi-naive round joins
  // edges(x,y) with delta(y,z) on y)
  private val rev = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
  // Closure totals as a maintained per-partition membership index
  // ([[StateCell]]): each round's dedup-against-totals is one
  // insert-if-absent pass emitting exactly the fresh tuples — the former
  // totals-chain subtract re-read O(C/p) per round.
  private val closureCell = new StateCell[scala.collection.immutable.HashSet[Tup]](
    sc, partitions, () => scala.collection.immutable.HashSet.empty, _.size * 90L)

  /** Lazy (Tup, Null) view over the closure index — the once-per-batch
    * narrow Δ∘C scans read it; records are placed by `part`. */
  private def totalsView: RDD[(Tup, Null)] =
    RddKernel.assertPartitioned(
      closureCell.rdd.mapPartitions(_.flatMap(_.iterator.map(e => (e, null: Null)))),
      part)

  /** Current closure size (tuples). */
  def size: Long = closureCell.rdd.map(_.size.toLong).fold(0L)(_ + _)

  /** Apply one batch of edge additions; returns the exact new closure
    * tuples as a DataFrame (src, dst, t, diff) — all diffs +1. */
  def advance(newEdges: Seq[(Long, Long)], t: Long): DataFrame =
    diffDf(addFresh(newEdges.distinct.filterNot(edgeSet)), t, 1L)

  /** Apply one batch of SIGNED edge deltas (diff ∈ {+1, −1}) at time `t`;
    * returns the exact closure diffs (src, dst, t, diff), retractions
    * included. Deltas consolidate per edge first (a delete+re-add nets to
    * nothing); deletions run DRed, additions warm-start, and the two diff
    * sets consolidate per tuple. Retracting an edge that is not present
    * fails loudly (Z-set inputs are sets here, as in the engine's
    * Distinct input semantics). */
  def advanceSigned(deltas: Seq[((Long, Long), Long)], t: Long): DataFrame = {
    deltas.foreach { case (e, w) =>
      require(w == 1L || w == -1L, s"edge diff must be ±1, got $w for $e")
    }
    val net = deltas.groupBy(_._1).view.mapValues(_.map(_._2).sum)
    val dels = net.collect { case (e, w) if w < 0 => e }.toSeq
    val adds = net.collect { case (e, w) if w > 0 => e }.toSeq
    applySigned(dels, adds, t)
  }

  /** RDD-side variant for firehose ingest: the raw batch is deduped and
    * subtracted against the known edge set DISTRIBUTED (the known set
    * rides a broadcast — an immutable copy, since local-mode broadcasts
    * share driver references), so only genuinely fresh edges — bounded by
    * the `maxEdges` gate, however large the raw batch — ever reach the
    * driver (which needs them anyway: the adjacency is a broadcast map). */
  def advanceRdd(newEdges: RDD[(Long, Long)], t: Long): DataFrame = {
    val known = sc.broadcast(edgeSet.toSet)
    val fresh =
      try {
        val deduped = newEdges.distinct(partitions)
          .filter(e => !known.value(e))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // Gate BEFORE collecting: the whole point of this path is that
          // nothing unbounded ever lands on the driver — a batch of
          // millions of genuinely fresh edges must fail loudly, not OOM
          // the driver on the way to the failure.
          val n = deduped.count()
          require(edgeSet.size + n <= maxEdges,
            s"edge relation exceeds the broadcast gate ($maxEdges); " +
              "use the batch engine for edge sets this large")
          deduped.collect().toSeq
        } finally deduped.unpersist(blocking = false)
      } finally known.destroy()
    diffDf(addFresh(fresh), t, 1L)
  }

  /** RDD-side SIGNED variant, same firehose discipline as [[advanceRdd]]:
    * the raw ±1 batch consolidates per edge DISTRIBUTED, splits into
    * fresh additions (subtracted against the known set) and deletions
    * (validated present — a retraction of an absent edge fails loudly,
    * distributed), and only those gated survivors land on the driver. */
  def advanceSignedRdd(deltas: RDD[((Long, Long), Long)], t: Long): DataFrame = {
    val known = sc.broadcast(edgeSet.toSet)
    try {
      val net = deltas.reduceByKey(part, _ + _)
        .filter(_._2 != 0L).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // ONE validation + sizing pass: ±1 check, absent-retraction
        // check, and the fresh-addition count for the driver gate.
        val freshAdds = net.mapPartitions { it =>
          var fresh = 0L
          it.foreach { case (e, w) =>
            if (w != 1L && w != -1L)
              throw new IllegalArgumentException(
                s"consolidated edge diff must be ±1, got $w for $e")
            if (w < 0 && !known.value(e))
              throw new IllegalArgumentException(
                s"retraction of absent edges: $e")
            if (w > 0 && !known.value(e)) fresh += 1
          }
          Iterator.single(fresh)
        }.fold(0L)(_ + _)
        require(edgeSet.size + freshAdds <= maxEdges,
          s"edge relation exceeds the broadcast gate ($maxEdges); " +
            "use the batch engine for edge sets this large")
        // Survivors are gated (deletions ⊆ the known set, fresh
        // additions counted above): one collect, split driver-side.
        val survivors = net
          .filter { case (e, w) => w < 0 || !known.value(e) }.collect()
        applySigned(
          survivors.collect { case (e, w) if w < 0 => e }.toSeq,
          survivors.collect { case (e, w) if w > 0 => e }.toSeq, t)
      } finally net.unpersist(blocking = false)
    } finally known.destroy()
  }

  /** Deletions first (DRed), then additions (warm-start), then per-tuple
    * consolidation of the two diff sets. `dels` must be present edges;
    * `adds` may contain known edges (dropped) and re-adds of this batch's
    * own deletions (the edge comes back; its closure effect nets out). */
  private def applySigned(dels: Seq[Tup], adds: Seq[Tup], t: Long): DataFrame = {
    val missing = dels.filterNot(edgeSet)
    require(missing.isEmpty,
      s"retraction of absent edges: ${missing.take(5).mkString(", ")}")
    trace(s"applySigned start dels=${dels.size} adds=${adds.size}")
    val removed =
      if (dels.isEmpty) emptyPart() else deleteEdges(dels)
    trace("deleteEdges done")
    // Fresh-filter AFTER deletions: a deleted-then-re-added edge is fresh.
    val added = addFresh(adds.distinct.filterNot(edgeSet))
    trace("addFresh done")
    val retr = RddKernel.subtract(removed, Seq(added))
    val asserted = RddKernel.subtract(added, Seq(removed))
    diffDf(retr, t, -1L).union(diffDf(asserted, t, 1L))
  }

  /** Mutate state with genuinely fresh additions; return the new closure
    * tuples, hash-partitioned by `part` (so callers can consolidate them
    * against DRed retractions with narrow co-partitioned subtracts). */
  private def addFresh(fresh: Seq[(Long, Long)]): RDD[(Tup, Null)] = {
    require(edgeSet.size + fresh.size <= maxEdges,
      s"edge relation exceeds the broadcast gate ($maxEdges); " +
        "use the batch engine for edge sets this large")
    fresh.foreach { case (s, d) =>
      edgeSet += ((s, d))
      rev.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += s
    }
    if (fresh.isEmpty) return emptyPart()

    // D1 candidates: Δe itself, plus Δe entering existing paths
    // ((x,y) ∈ Δe, (y,z) ∈ C ⇒ (x,z)) — a narrow scan of the persisted
    // totals against the broadcast Δe-by-destination map (y → {x}).
    val dxBc = sc.broadcast(fresh.groupBy(_._2).map { case (y, es) =>
      y -> es.map(_._1).toArray
    })
    val viaOld: RDD[(Tup, Null)] = totalsView.mapPartitions { it =>
      val m = dxBc.value
      it.flatMap { case ((y, z), _) =>
        m.get(y) match {
          case None     => Iterator.empty
          case Some(xs) => xs.iterator.map(x => ((x, z): Tup, null))
        }
      }
    }
    val cand0 = sc.parallelize(fresh.map(e => (e: Tup, null)), 1).union(viaOld)

    val revBc = sc.broadcast(rev.view.mapValues(_.toArray).toMap)
    var newParts = Vector.empty[RDD[(Tup, Null)]]
    var (delta, n) = insertClosure(cand0)
    while (n > 0) {
      trace(s"addFresh round n=$n")
      newParts = newParts :+ delta
      val step = insertClosure(expand(delta, revBc))
      delta = step._1
      n = step._2
    }

    if (newParts.isEmpty) emptyPart() else sc.union(newParts)
  }

  /** DRed under edge deletions (`dels` present and already validated):
    * overdelete every closure fact with some derivation through a deleted
    * edge, rederive survivors against the updated edges, install
    * `(C − O) ∪ R` as the new totals, and return the retracted tuples
    * `O − R` (hash-partitioned by `part`). */
  private def deleteEdges(dels: Seq[Tup]): RDD[(Tup, Null)] = {
    // Overdeletion walks derivations of the OLD program: snapshot the
    // adjacency before removing the deleted edges from it.
    val oldRevBc = sc.broadcast(rev.view.mapValues(_.toArray).toMap)
    dels.foreach { case (s, d) =>
      edgeSet -= ((s, d))
      rev.get(d).foreach { buf =>
        val i = buf.indexOf(s)
        if (i >= 0) buf.remove(i)
        if (buf.isEmpty) rev -= d
      }
    }

    // --- overdelete: O = lfp of Δd ∪ Δd∘C ∪ E_old∘O -------------------
    // Candidates stay ⊆ C by construction (prepending an old edge to a
    // C-fact lands in C), so no membership test against totals is needed.
    val delByDst = sc.broadcast(dels.groupBy(_._2).map { case (y, es) =>
      y -> es.map(_._1).toArray
    })
    val direct: RDD[(Tup, Null)] = totalsView.mapPartitions { it =>
      val m = delByDst.value
      it.flatMap { case ((y, z), _) =>
        m.get(y) match {
          case None     => Iterator.empty
          case Some(xs) => xs.iterator.map(x => ((x, z): Tup, null))
        }
      }
    }
    val cand0 = sc.parallelize(dels.map(e => (e: Tup, null)), 1).union(direct)
    // Round-loop job batching (r19, shared dial with the recursion
    // kernels): up to B rounds chain lazily and materialize through one
    // tagged-count job; links past the fixpoint are definitionally
    // empty. Consumed in order, first zero ends the loop — identical
    // semantics, ⌈depth/B⌉ scheduler round-trips.
    val roundBatch =
      math.max(1, Integer.getInteger("graft.recursion.roundbatch", 4))
    var oChain = Vector.empty[RDD[(Tup, Null)]]
    var oDelta = RddKernel.freshDelta(cand0, part, oChain)
    var n = oDelta.count()
    if (n > 0) oChain = oChain :+ oDelta
    while (n > 0) {
      val chain = new Array[RDD[(Tup, Null)]](roundBatch)
      var i = 0
      var prev = oDelta
      while (i < roundBatch) {
        chain(i) = RddKernel.freshDelta(
          expand(prev, oldRevBc), part, oChain ++ chain.take(i))
        prev = chain(i)
        i += 1
      }
      val counts = RddKernel.materializeCounts(chain.toIndexedSeq)
      n = 0L
      var j = 0
      var stop = false
      while (j < roundBatch && !stop) {
        if (counts(j) > 0L) {
          oChain = oChain :+ chain(j)
          oDelta = chain(j)
          n = counts(j)
          j += 1
        } else { stop = true; n = 0L }
      }
    }
    trace(s"overdelete fixpoint done links=${oChain.length}")
    if (oChain.isEmpty) return emptyPart()

    // Split totals once (narrow full pass — the deletion path's analog of
    // the addition path's Δe∘C scan): keep = C − O.
    val oByPart = sc.union(oChain).partitionBy(part)
    val keep = closureCell.rdd.zipPartitions(oByPart) { (sIt, oIt) =>
      val o = new java.util.HashSet[Tup]()
      oIt.foreach { case (e, _) => o.add(e) }
      sIt.next().iterator.collect {
        case e if !o.contains(e) => (e, null: Null)
      }
    }.graftCheckpoint()
    keep.count()
    trace("keep split done")
    val oAll = sc.union(oChain) // links are disjoint, partitioner preserved

    // --- rederive: R = lfp of (O∩E') ∪ (O ∩ E'∘keep) ∪ (O ∩ E'∘R) -----
    val newEdgeBc = sc.broadcast(edgeSet.toSet)
    val newRevBc = sc.broadcast(rev.view.mapValues(_.toArray).toMap)
    val fwdBc = sc.broadcast(edgeSet.groupBy(_._1).map { case (x, es) =>
      x -> es.map(_._2).toArray
    })
    // Base: overdeleted facts that are themselves surviving edges.
    val r0a = oAll.mapPartitions(
      _.filter(p => newEdgeBc.value(p._1)), preservesPartitioning = true)
    // One step through the kept region: (x,z) ∈ O with (x,y) ∈ E' and
    // (y,z) ∈ keep — probe keys (y,z) carry their origin (x,z), looked up
    // in keep with a co-partitioned narrow join (work ∝ |O| × degree,
    // never ∝ |keep|).
    val probes = oAll.flatMap { case ((x, z), _) =>
      fwdBc.value.get(x) match {
        case None     => Iterator.empty
        case Some(ys) => ys.iterator.map(y => ((y, z): Tup, (x, z): Tup))
      }
    }
    val r0b = lookupHits(probes, Seq(keep))
    var rChain = Vector.empty[RDD[(Tup, Null)]]
    var rDelta = RddKernel.freshDelta(r0a.union(r0b), part, rChain)
    var rn = rDelta.count()
    trace(s"rederive r0 n=$rn")
    if (rn > 0) rChain = rChain :+ rDelta
    // Same batched shape as the overdelete loop above.
    while (rn > 0) {
      val chain = new Array[RDD[(Tup, Null)]](roundBatch)
      var i = 0
      var prev = rDelta
      while (i < roundBatch) {
        // (y,z) newly rederived, E'-path into x, (x,z) still overdeleted —
        // every k-hop intermediate is itself in closure(E'), so retain(O)
        // keeps exactly the rederived slice.
        val inO = RddKernel.retain(
          RddKernel.dedup(expand(prev, newRevBc), part), oChain)
        chain(i) = RddKernel.subtract(inO, rChain ++ chain.take(i))
          .graftCheckpoint()
        prev = chain(i)
        i += 1
      }
      val counts = RddKernel.materializeCounts(chain.toIndexedSeq)
      rn = 0L
      var j = 0
      var stop = false
      while (j < roundBatch && !stop) {
        if (counts(j) > 0L) {
          rChain = rChain :+ chain(j)
          rDelta = chain(j)
          rn = counts(j)
          j += 1
        } else { stop = true; rn = 0L }
      }
    }

    val removed = RddKernel.subtract(oAll, rChain).graftCheckpoint()
    removed.count()
    trace("removed materialized")
    // Install C − removed: rederived tuples never left the index.
    closureCell.advance1(removed.partitionBy(part))(
      DistributedClosure.setRemove)
    removed
  }

  /** One fixpoint round's candidate generation: expand a delta by up to
    * `graft.fixpoint.khop` REVERSE hops within each task (the batch
    * kernel's k-hop round batching, [[graft.compile.Compiler]]
    * kernelIterate), deduping per partition under a hop budget — the
    * fixpoint pays diameter/k rounds of job overhead instead of
    * diameter. Sound for all three loops that use it: BFS emits every
    * intermediate node it reaches, so no derivation step is skipped —
    * downstream freshDelta/retain filters decide membership. */
  private def expand(delta: RDD[(Tup, Null)],
      revBc: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Long]]])
      : RDD[(Tup, Null)] = {
    val k = kHops
    val hopBudget = 1 << 16
    delta.mapPartitions { it =>
      val m = revBc.value
      val seen = new java.util.LinkedHashSet[Tup]()
      val hop1 = it.flatMap { case ((y, z), _) =>
        m.get(y) match {
          case None => Iterator.empty
          case Some(xs) => xs.iterator.map { x =>
            val c = (x, z): Tup
            if (seen.size < hopBudget) seen.add(c)
            (c, null)
          }
        }
      }
      // Iterator.++'s right side is by-name: runs after hop 1 drains.
      hop1 ++ locally {
        val extra = mutable.ArrayBuffer.empty[Tup]
        var frontier: Array[Tup] = {
          import scala.jdk.CollectionConverters._
          seen.iterator.asScala.toArray
        }
        var hop = 1
        while (hop < k && frontier.nonEmpty && seen.size < hopBudget) {
          val next = mutable.ArrayBuffer.empty[Tup]
          val cs = frontier.iterator.flatMap { case (y, z) =>
            m.getOrElse(y, Array.empty[Long]).iterator.map(x => (x, z): Tup)
          }
          while (cs.hasNext && seen.size < hopBudget) {
            val c = cs.next()
            if (seen.add(c)) { next += c; extra += c }
          }
          frontier = next.toArray
          hop += 1
        }
        extra.iterator.map((_, null))
      }
    }
  }

  /** For probes (key → origin) emit (origin, null) for every probe whose
    * key is present in the co-partitioned chain (links disjoint, so at
    * most one hit per key). Output is keyed by origin — a DIFFERENT key —
    * so partitioning is deliberately not claimed (RddKernel invariant). */
  private def lookupHits(probes: RDD[(Tup, Tup)],
      chain: Seq[RDD[(Tup, Null)]]): RDD[(Tup, Null)] = {
    val p = probes.partitionBy(part)
    val hits = chain.map { link =>
      p.zipPartitions(link) { (a, b) =>
        val seen = new java.util.HashSet[Tup]()
        b.foreach(x => seen.add(x._1))
        a.collect { case (k, v) if seen.contains(k) => (v: Tup, null) }
      }
    }
    if (hits.isEmpty) sc.emptyRDD[(Tup, Null)] else sc.union(hits)
  }

  private def emptyPart(): RDD[(Tup, Null)] =
    sc.emptyRDD[(Tup, Null)].partitionBy(part)

  // Processed-time frontier: a batch's diffs are computed against totals
  // that absorbed every earlier time, so a regressing input time would
  // stamp historically wrong diffs — fail loudly instead.
  private var frontier: Long = Long.MinValue

  /** Structured Streaming integration: drain a `(src, dst, t, diff)` edge
    * stream through [[advanceSignedRdd]] per micro-batch, handing each
    * batch's closure diffs to `onDiffs`. Diffs must be ±1 (asserted
    * distributed, never by collecting the batch: the raw batch may exceed
    * driver limits; only its consolidated, gated survivors land there) —
    * additions warm-start, retractions delete-and-rederive. Times must
    * advance strictly across the whole stream. */
  def attach(edges: DataFrame, queryName: String)(
      onDiffs: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    edges.writeStream
      .outputMode("append")
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.col
        batch.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // Null-safe: a null diff must fail the guard, not slip through
          // three-valued logic as "not =!= ±1".
          require(
            batch.where(!(col("diff") <=> 1L) && !(col("diff") <=> -1L)).isEmpty,
            "edge diffs must be ±1")
          val times = batch.select("t").distinct().collect().map(_.getLong(0)).sorted
          times.foreach { t =>
            require(t > frontier,
              s"input time $t does not advance the processed frontier " +
                s"$frontier; diffs against already-advanced totals would " +
                "be historically wrong")
            frontier = t
            val es = batch.where(col("t") === t)
              .select("src", "dst", "diff").rdd
              .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
            onDiffs(advanceSignedRdd(es, t))
          }
        } finally batch.unpersist()
      }
      .start()

  // ------------------------------------------------------------------ impl

  /** One insert-if-absent pass over round candidates: dedup against the
    * maintained closure index AND install the survivors, emitting
    * exactly the genuinely fresh tuples (`part`-placed, partitioner
    * asserted back for downstream narrow unions/subtracts). */
  private def insertClosure(cand: RDD[(Tup, Null)]): (RDD[(Tup, Null)], Long) = {
    val keyed = cand.reduceByKey(part, (a, _) => a)
    val (out, n) =
      closureCell.advance1Counted(keyed)(DistributedClosure.setInsertFresh)
    (RddKernel.assertPartitioned(
      out.mapPartitions(_.map(t => (t, null: Null))), part), n)
  }

  private val schema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("t", LongType), StructField("diff", LongType)))

  private def diffDf(rdd: RDD[(Tup, Null)], t: Long, diff: Long): DataFrame =
    spark.createDataFrame(
      rdd.map { case ((s, d), _) => Row(s, d, t, diff) }, schema)
}
