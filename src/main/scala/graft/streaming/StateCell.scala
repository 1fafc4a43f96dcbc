package graft.streaming

import graft.kernel.Ckpt._

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.util.GraftSizedValue

/** Arrangement-analog keyed state: ONE immutable index object per
  * partition, resident in executor memory as a deserialized cached
  * block. Each batch derives the next index by STRUCTURAL-SHARING
  * updates — `immutable.HashMap.updated` touches O(log n) trie nodes
  * per changed key — so per-batch narrow work (bytes read AND bytes
  * written) is O(delta + touched keys), never a rewrite of accumulated
  * state. This replaces the previous per-node discipline (a
  * `zipPartitions` weight-merge re-materializing the FULL state through
  * a fresh localCheckpoint every advance — an O(state/p) narrow rewrite
  * per batch), closing the one disclosed gap against differential
  * dataflow's arrangements (O(delta log state) against indexed traces;
  * SURVEY.md §4.2).
  *
  * Mechanics: the state RDD holds exactly one `S` per partition.
  * `advance*` zips it against co-partitioned delta RDDs, runs the
  * node's merge once per partition, marks the (newState, outputs) pairs
  * for a localCheckpoint — the checkpoint stores REFERENCES into the
  * shared trie, not a copy — marks the outputs as a second cut of ONE
  * known-size `Array[O]` block per partition (callers read an uncached
  * row view over it), and rebinds; the open [[CommitLedger]]'s one
  * action materializes both cuts, one task per partition index. Cached
  * blocks carry locality, so on
  * a cluster the next batch's tasks schedule onto the executors holding
  * the state; failure semantics match the rest of the streaming layer
  * (localCheckpoint: lineage is cut, a lost executor fails the standing
  * query rather than silently recomputing from nothing).
  *
  * Memory: a partition's index lives on-heap; the partition count (the
  * `partitions` dial on [[IncrementalQuery]]) spreads the resident set,
  * and MEMORY_AND_DISK spill serializes an index wholesale — the same
  * resident-set economics as differential's arrangements. Superseded
  * blocks are dropped by Spark's ContextCleaner when the previous
  * batch's RDD becomes unreachable; the shared sub-structure stays
  * alive exactly as long as the current index references it.
  */
private[streaming] final class StateCell[S <: AnyRef: ClassTag](
    sc: SparkContext, numPartitions: Int, zero: () => S,
    // Declared byte estimate of an index (entry count × footprint, O(1)):
    // cached via KnownSizeEstimation so the block store never
    // reflectively walks the accumulated state graph on a per-batch put
    // — that walk was an O(state) CPU tax per advance.
    sizeOf: S => Long) {

  private type W = GraftSizedValue[S]

  private var prevGen: RDD[_] = null

  // Superseded generations whose reliable files could NOT be dropped at
  // their supersede point because the SUCCEEDING generation's checkpoint
  // had not landed (degraded case: recovery would still walk the
  // predecessor's files). Retried at the next commit whose generation IS
  // self-contained on reliable storage — once any later generation
  // landed, no recovery path reads these files again. Bounded: entries
  // accumulate only while checkpoints keep failing to land, and the
  // first healthy commit drains the whole queue.
  private var undroppedGens: List[RDD[_]] = Nil

  private var cur: RDD[W] = {
    val z = zero
    val sz = sizeOf
    // LAZY, UNCUT zero state: no job at construction, and no cached
    // block — every reader (the first commit, a sibling node's read of
    // this cell in the same action) builds its own empty index, where a
    // shared cached block would make tasks of one stage wait on each
    // other for a deterministic empty index. Nothing reads it once the
    // first generation is cut.
    sc.parallelize(0 until numPartitions, numPartitions)
      .mapPartitions { _ =>
        val s = z(); Iterator.single(new GraftSizedValue(s, 64L + sz(s)))
      }
  }

  /** The current state, one element per partition — for read-only
    * composition (multi-cell zips driven by the owning node). */
  def rdd: RDD[S] = cur.map(_.value)

  /** Spec probe: the live generation's materialized RDD (the thing the
    * recoverability invariant is about — under the reliable dial it
    * must be checkpointed before its predecessor's files are dropped);
    * the uncut zero state before the first commit. */
  private[streaming] def liveGeneration: RDD[_] =
    if (prevGen eq null) cur else prevGen

  /** Commit a stepped (newState, outputs) pair RDD LAZILY: mark both
    * cuts (the state generation and its outputs, the outputs in their
    * own delta-sized checkpoint of one block per partition), rebind the
    * state, and record the
    * commit on the open [[CommitLedger]] — whose one action
    * materializes it together with every other commit of the completed
    * time, and only then drops the superseded generation's block.
    * Outside a ledger the commit is its own ledger of one (one job,
    * then the drop). The drop matters: the block store estimates
    * each generation at its FULL reachable graph (structural sharing is
    * invisible to SizeEstimator), so letting generations wait for the
    * ContextCleaner stacks phantom gigabytes of accounting, evicts live
    * blocks, and serializes whole state graphs to disk — measured as
    * per-batch wall time growing with state while narrow reads stayed
    * flat. With outputs checkpointed separately, nothing references the
    * superseded generation, so dropping it is safe even while callers
    * still hold earlier batches' diff frames. */
  def commit[O: ClassTag](stepped: RDD[(S, Array[O])]): RDD[O] = {
    val (mat, block) = mark(stepped)
    CommitLedger.record(block, rebind(mat))
    rowsOfBlocks(block)
  }

  /** [[commit]] that materializes NOW and returns the output-row count
    * — for callers whose control flow reads it (store choice, round
    * loops). One job materializes both cuts (computing `out` computes
    * and caches the state generation's partitions), then the superseded
    * generation is dropped at once — unless a lazy commit still pending
    * on the open ledger reads it, when the drop waits for the ledger's
    * action. A round loop of counted commits so holds one generation at
    * a time, as outside a ledger. */
  def commitCounted[O: ClassTag](
      stepped: RDD[(S, Array[O])]): (RDD[O], Long) = {
    val (mat, block) = mark(stepped)
    val out = rowsOfBlocks(block)
    val n = out.count()
    val prev = prevGen
    CommitLedger.afterCount(prev, rebind(mat))
    (out, n)
  }

  /** The output rows of a block cut: an uncached read over the cached
    * blocks. */
  private def rowsOfBlocks[O: ClassTag](block: RDD[GraftSizedValue[Array[O]]]): RDD[O] =
    block.mapPartitions(new StateCell.Unblock[O], preservesPartitioning = false)

  /** Mark the two cuts of a commit: the state generation, and its
    * outputs as ONE known-size `Array[O]` block per partition — the
    * block store then caches one value per partition under a declared
    * size instead of walking every output row. */
  private def mark[O: ClassTag](stepped: RDD[(S, Array[O])])
      : (RDD[(W, Array[O])], RDD[GraftSizedValue[Array[O]]]) = {
    // Spark materializes only the job's LAST marked RDD at checkpoint
    // time, so without this property `mat` (the state generation) never
    // writes reliable files — every generation's lineage would run back
    // through its predecessors' files, and deleting those below strands
    // recovery at the first executor loss. The property is thread-scoped AND
    // captured at RDD CONSTRUCTION (a private val in Spark's RDD), so
    // it must wrap the RDD builds, not the action; with it the action
    // that computes the block cut checkpoints BOTH cuts (the block as the
    // job RDD or a ledger branch, `mat` as its marked ancestor).
    val sc0 = stepped.sparkContext
    val ancestorsKey = "spark.checkpoint.checkpointAllMarkedAncestors"
    val prevProp = sc0.getLocalProperty(ancestorsKey)
    sc0.setLocalProperty(ancestorsKey, "true")
    try {
      val mat = stepped.mapPartitions(
        new StateCell.Sized[S, Array[O]](sizeOf), preservesPartitioning = false)
        .setName(StateCell.GenerationName).graftCheckpoint()
      (mat, mat.mapPartitions(new StateCell.Block[W, O],
        preservesPartitioning = false).graftCheckpoint())
    } finally sc0.setLocalProperty(ancestorsKey, prevProp)
  }

  /** Rebind the state to `mat` and return the superseded generation's
    * drop, to run once `mat` is materialized. */
  private def rebind[O](mat: RDD[(W, Array[O])]): () => Unit = {
    cur = mat.mapPartitions(new StateCell.First[W, Array[O]],
      preservesPartitioning = false)
    val prev = prevGen
    prevGen = mat
    () => if (prev ne null) {
      org.apache.spark.GraftUnpersist(prev)
      // Under the reliable-checkpoint dial the superseded generation's
      // files would otherwise live until the DFS fills (Spark only
      // GC-cleans them, and only with cleanCheckpoints=true) — delete
      // them at the same supersede point, but ONLY once the new
      // generation is self-contained on reliable storage (its own
      // checkpoint landed); if it did not land, recovery still walks
      // the lineage through the superseded files, so keep them.
      if (mat.isCheckpointed) {
        graft.kernel.Ckpt.dropCheckpoint(prev)
        // A landed generation also licenses dropping every EARLIER
        // generation still queued from degraded commits.
        undroppedGens.foreach(graft.kernel.Ckpt.dropCheckpoint)
        undroppedGens = Nil
      } else if (prev.isCheckpointed) {
        undroppedGens = prev :: undroppedGens
      }
    }
  }

  /** One batch against one co-partitioned delta: `f` runs once per
    * partition over (index, delta iterator) and returns the new index
    * plus the partition's output rows. `f` must capture only
    * serializable locals — never a node or a SparkSession. */
  def advance1[D: ClassTag, O: ClassTag](delta: RDD[D])(
      f: (S, Iterator[D]) => (S, Array[O])): RDD[O] =
    commit(step1(delta)(f))

  /** [[advance1]] through [[commitCounted]]: materialized now, with
    * the output count. */
  def advance1Counted[D: ClassTag, O: ClassTag](delta: RDD[D])(
      f: (S, Iterator[D]) => (S, Array[O])): (RDD[O], Long) =
    commitCounted(step1(delta)(f))

  private def step1[D: ClassTag, O: ClassTag](delta: RDD[D])(
      f: (S, Iterator[D]) => (S, Array[O])): RDD[(S, Array[O])] =
    cur.zipPartitions(delta, preservesPartitioning = false)(
      new StateCell.Step1(f))

  /** One batch against two co-partitioned deltas (two-sided nodes:
    * join, antijoin — one compound index per partition). */
  def advance2[D1: ClassTag, D2: ClassTag, O: ClassTag](
      d1: RDD[D1], d2: RDD[D2])(
      f: (S, Iterator[D1], Iterator[D2]) => (S, Array[O])): RDD[O] =
    commit(cur.zipPartitions(d1, d2, preservesPartitioning = false)(
      new StateCell.Step2(f)))
}

private[graft] object StateCell {
  /** The name every state generation carries (storage listings). */
  val GenerationName = "StateCell generation"

  /** Declared bytes per cached output row (a boxed tuple and its
    * weight): the output block's known size. */
  private val OutRowBytes = 96L

  // The per-partition steps of a commit, as named classes: the advance
  // path builds them every commit, and a named class gives
  // ClosureCleaner no lambda class file to read.

  private[streaming] final class Sized[S, O](sizeOf: S => Long)
      extends (Iterator[(S, O)] => Iterator[(GraftSizedValue[S], O)]) with Serializable {
    def apply(it: Iterator[(S, O)]): Iterator[(GraftSizedValue[S], O)] =
      it.map { case (s, o) => (new GraftSizedValue(s, 64L + sizeOf(s)), o) }
  }

  private[streaming] final class Block[W, O]
      extends (Iterator[(W, Array[O])] => Iterator[GraftSizedValue[Array[O]]])
      with Serializable {
    def apply(it: Iterator[(W, Array[O])]): Iterator[GraftSizedValue[Array[O]]] =
      it.map { case (_, o) => new GraftSizedValue(o, 64L + OutRowBytes * o.length) }
  }

  private[streaming] final class Unblock[O]
      extends (Iterator[GraftSizedValue[Array[O]]] => Iterator[O]) with Serializable {
    def apply(it: Iterator[GraftSizedValue[Array[O]]]): Iterator[O] =
      it.flatMap(_.value.iterator)
  }

  private[streaming] final class First[A, B]
      extends (Iterator[(A, B)] => Iterator[A]) with Serializable {
    def apply(it: Iterator[(A, B)]): Iterator[A] = it.map(_._1)
  }

  private[streaming] final class Step1[S, D, O](f: (S, Iterator[D]) => (S, Array[O]))
      extends ((Iterator[GraftSizedValue[S]], Iterator[D]) => Iterator[(S, Array[O])])
      with Serializable {
    def apply(sIt: Iterator[GraftSizedValue[S]], dIt: Iterator[D]): Iterator[(S, Array[O])] =
      Iterator.single(f(sIt.next().value, dIt))
  }

  private[streaming] final class Step2[S, D1, D2, O](
      f: (S, Iterator[D1], Iterator[D2]) => (S, Array[O]))
      extends ((Iterator[GraftSizedValue[S]], Iterator[D1], Iterator[D2]) =>
        Iterator[(S, Array[O])]) with Serializable {
    def apply(sIt: Iterator[GraftSizedValue[S]], aIt: Iterator[D1],
        bIt: Iterator[D2]): Iterator[(S, Array[O])] =
      Iterator.single(f(sIt.next().value, aIt, bIt))
  }
}

/** The state commits of one advance, materialized by ONE Spark action
  * that runs one task per partition index:
  * one completed time of the unitemporal `Engine`, or every completed
  * lattice time of every lane of a [[BiMaintained]] advance (a later
  * time's commits read an earlier one's pending generation through
  * lineage). [[StateCell.commit]] only marks its cuts and records them
  * here; [[CommitLedger.run]] opens a ledger around the lazy build of
  * every maintained diff, then runs one action over every pending
  * commit plus the caller's collected and counted branches, and only
  * after it drops each cell's superseded generation. Per-job scheduler
  * latency is the serving wall floor at interactive sizes, and 3DF
  * advances every standing query as one dataflow step per epoch; here
  * independent rules' stages overlap inside one job instead of queueing
  * behind each other's round-trips. */
private[graft] final class CommitLedger private () {
  private val outs = mutable.ArrayBuffer.empty[RDD[_]]
  private val drops = mutable.ArrayBuffer.empty[() => Unit]
}

private[graft] object CommitLedger {
  private val open = new ThreadLocal[CommitLedger]

  /** A lazy commit's output cut and the drop to run once it is
    * materialized. Outside a ledger the commit is its own ledger of one:
    * its job runs now, then the drop. */
  private[streaming] def record(out: RDD[_], drop: () => Unit): Unit =
    open.get match {
      case null =>
        materialize(out.sparkContext, Nil, touch = Seq(out))
        drop()
      case l =>
        l.outs += out
        l.drops += drop
    }

  /** The drop of an eagerly materialized commit that superseded `prev`:
    * it runs now, unless a lazy commit pending on the open ledger reaches
    * `prev` through its lineage — a pending generation's own output
    * always does — and then it waits for the ledger's action. */
  private[streaming] def afterCount(prev: RDD[_], drop: () => Unit): Unit =
    open.get match {
      case l if l != null && prev != null &&
          reached(l.outs.toSeq, Seq(prev)).nonEmpty =>
        l.drops += drop
      case _ => drop()
    }

  /** Open a ledger around `build`, which builds its diffs lazily and
    * returns the RDDs to count and the RDDs to collect; then run the one
    * action (see [[materialize]]) and the recorded drops. Returns the
    * counts and the collected rows, in `build`'s order.
    *
    * Failure: a build that throws runs no action and no drop, and the
    * exception propagates. Its commits stay pending in lineage (the next
    * action that reads them materializes them), but every state it
    * rebound has advanced past rows nobody received — for the Engine, a
    * failed time delivers no diff of any interest and stays unprocessed,
    * so its maintained interests are unusable after it, as a failure
    * part-way through the per-interest loop of eager commits left them.
    * A plan-shape rejection ([[UnmaintainablePlan]]) during a late
    * subscriber's replay discards that standing query with the state it
    * rebound, so its demotion to the snapshot path loses nothing.
    *
    * `outputsDead`: the caller holds no frame over the commits' outputs
    * past the action (every diff it wanted came back collected), so
    * their cached blocks are released with the superseded generations
    * instead of waiting for a GC to let the ContextCleaner find them. */
  def run(sc: SparkContext, outputsDead: Boolean = false)(
      build: => (Seq[RDD[_]], Seq[RDD[_]])): (Array[Long], Array[Array[Any]]) = {
    val ledger = new CommitLedger
    val outer = open.get
    open.set(ledger)
    val (counted, collected) = try build finally open.set(outer)
    val res = materialize(sc, counted, collected, ledger.outs.toSeq)
    ledger.drops.foreach(_())
    if (outputsDead) ledger.outs.foreach(org.apache.spark.GraftUnpersist(_))
    res
  }

  /** ONE action over marked (checkpoint-pending) RDDs: each `counted`
    * RDD is counted per partition, each `collected` RDD's rows come back
    * to the driver, and each `touch` RDD is only materialized. The action
    * runs ONE task per partition index: task i computes partition i of
    * every branch that has one (n tasks, n the largest branch partition
    * count), so the whole lineage is deserialized n times, not once per
    * branch partition. Computing a branch partition caches it (a marked
    * RDD carries its storage level), and every marked branch is
    * truncated at job end; chain-dependent branches are safe for the
    * same reason. A `touch` RDD that another branch computes anyway (or
    * is itself) is pinned instead: a dependency no task reads, so no
    * second read of its cached blocks, while its checkpoint still runs
    * at job end (if a partition was not computed, Spark's local
    * checkpoint computes it, so this is never a correctness question).
    * Returns the counts and the collected rows, in argument order. */
  def materialize(sc: SparkContext, counted: Seq[RDD[_]],
      collected: Seq[RDD[_]] = Nil, touch: Seq[RDD[_]] = Nil)
      : (Array[Long], Array[Array[Any]]) = {
    val computed = reached(counted ++ collected ++ touch, touch) ++
      (counted ++ collected).map(_.id)
    val (pinned, touched) = touch.partition(r => computed(r.id))
    val k = counted.length
    val tallied = counted ++ touched
    val counts = new Array[Long](k)
    val rows = Array.fill(collected.length)(mutable.ArrayBuilder.make[Any])
    // No branch at all runs no job.
    if (tallied.nonEmpty || collected.nonEmpty || pinned.nonEmpty) {
      val action = new LedgerAction(sc, tallied, collected, pinned)
      val probe = actionProbe
      if (probe != null) probe(action)
      sc.runJob(action, new LedgerAction.Result).foreach { part =>
        var b = 0
        while (b < part.length) {
          part(b) match {
            case c: java.lang.Long => if (b < k) counts(b) += c
            case xs: Array[Any]    => rows(b - tallied.length) ++= xs
            case _                 => ()
          }
          b += 1
        }
      }
    }
    (counts, rows.map(_.result()))
  }

  /** Run `f` — an advance's ledger run — with both call-site forms set
    * to `site`, and restore them after: the RDDs it builds (many per
    * node) skip Spark's stack walk for their creation site, and the long
    * form's `graft.streaming.` frame attributes the action's job to the
    * streaming module. */
  def named[T](sc: SparkContext, site: String)(f: => T): T = {
    val (short, long) = ("callSite.short", "callSite.long")
    val prev = (sc.getLocalProperty(short), sc.getLocalProperty(long))
    sc.setLocalProperty(short, site)
    sc.setLocalProperty(long, s"graft.streaming.CommitLedger.run\n$site")
    try f
    finally {
      sc.setLocalProperty(short, prev._1)
      sc.setLocalProperty(long, prev._2)
    }
  }

  /** Spec probe: called with the action RDD of every [[materialize]]
    * before its job runs (lineage shape pins). */
  @volatile private[graft] var actionProbe: RDD[_] => Unit = null

  /** Ids of the `of` RDDs that some OTHER root reaches through its
    * lineage (down to checkpointed cuts). */
  private def reached(roots: Seq[RDD[_]], of: Seq[RDD[_]]): Set[Int] = {
    val wanted = of.iterator.map(_.id).toSet
    val seen = mutable.HashSet.empty[Int]
    val hit = mutable.HashSet.empty[Int]
    if (wanted.nonEmpty) roots.foreach { root =>
      seen += root.id
      val stack = mutable.Stack.empty[RDD[_]]
      root.dependencies.foreach(d => stack.push(d.rdd))
      while (stack.nonEmpty) {
        val r = stack.pop()
        if (wanted(r.id)) hit += r.id
        if (seen.add(r.id)) r.dependencies.foreach(d => stack.push(d.rdd))
      }
    }
    hit.toSet
  }
}

/** The action RDD of [[CommitLedger.materialize]]: partition i computes
  * partition i of every `tallied` branch (a row count) and every
  * `collected` branch (its rows) that has one, as one element: an array
  * with one slot per branch, null where the branch has no partition i.
  * The `pinned` branches are dependencies no partition reads, so the
  * job-end checkpoint still reaches their marked cuts. */
private final class LedgerAction(sc: SparkContext,
    tallied: Seq[RDD[_]], collected: Seq[RDD[_]], pinned: Seq[RDD[_]])
    extends RDD[Array[Any]](sc,
      (tallied ++ collected).map(new LedgerAction.SameIndex(_)) ++
        pinned.map(new LedgerAction.NoIndex(_))) {
  private val branches = (tallied ++ collected).toArray

  override protected def getPartitions: Array[Partition] = {
    val n = if (branches.isEmpty) 0 else branches.map(_.partitions.length).max
    Array.tabulate[Partition](n) { i =>
      new LedgerAction.Part(i, branches.map { b =>
        val ps = b.partitions
        if (i < ps.length) ps(i) else null
      })
    }
  }

  override def compute(split: Partition, context: TaskContext): Iterator[Array[Any]] = {
    val parents = split.asInstanceOf[LedgerAction.Part].parents
    val t = tallied.length
    val out = new Array[Any](branches.length)
    var b = 0
    while (b < branches.length) {
      val p = parents(b)
      if (p != null) {
        val it = branches(b).iterator(p, context)
        out(b) =
          if (b < t) { var c = 0L; while (it.hasNext) { it.next(); c += 1L }; c: java.lang.Long }
          else it.toArray[Any]
      }
      b += 1
    }
    Iterator.single(out)
  }
}

private object LedgerAction {
  final class Part(val index: Int, val parents: Array[Partition]) extends Partition

  /** Partition i of the action reads partition i of the branch. */
  final class SameIndex(b: RDD[_])
      extends NarrowDependency[Any](b.asInstanceOf[RDD[Any]]) {
    def getParents(i: Int): Seq[Int] =
      if (i < b.partitions.length) Seq(i) else Nil
  }

  /** A dependency no partition of the action reads. */
  final class NoIndex(b: RDD[_])
      extends NarrowDependency[Any](b.asInstanceOf[RDD[Any]]) {
    def getParents(i: Int): Seq[Int] = Nil
  }

  /** The one element of an action partition. */
  final class Result extends (Iterator[Array[Any]] => Array[Any]) with Serializable {
    def apply(it: Iterator[Array[Any]]): Array[Any] = it.next()
  }
}
