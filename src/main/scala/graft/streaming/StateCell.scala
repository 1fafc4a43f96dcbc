package graft.streaming

import graft.kernel.Ckpt._

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD

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
  * node's merge once per partition, localCheckpoints the (newState,
  * outputs) pairs — the checkpoint stores REFERENCES into the shared
  * trie, not a copy — and rebinds. Cached blocks carry locality, so on
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

  import org.apache.spark.util.GraftSizedValue
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
    // LAZY zero state: no eager count job at construction — the first
    // commit's materializing job computes (and caches/truncates) the
    // zero partitions along with the first generation. Safe because the
    // zero state has no predecessor whose blocks could be unpersisted
    // out from under an unmaterialized successor (the reason commits
    // MUST count before dropping the superseded generation). Engines
    // that build several cells per standing (and the bi path, which
    // rebuilds on kind discovery) were paying one scheduler-latency
    // job per cell for a deterministic empty index.
    val init = sc.parallelize(0 until numPartitions, numPartitions)
      .mapPartitions { _ =>
        val s = z(); Iterator.single(new GraftSizedValue(s, 64L + sz(s)))
      }
      .graftCheckpoint()
    prevGen = init
    init
  }

  /** The current state, one element per partition — for read-only
    * composition (multi-cell zips driven by the owning node). */
  def rdd: RDD[S] = cur.map(_.value)

  /** Spec probe: the live generation's materialized RDD (the thing the
    * recoverability invariant is about — under the reliable dial it
    * must be checkpointed before its predecessor's files are dropped). */
  private[streaming] def liveGeneration: RDD[_] = prevGen

  /** Commit a stepped (newState, outputs) pair RDD: materialize once
    * (checkpoint), copy the OUTPUTS into their own delta-sized
    * checkpoint, rebind the state, and eagerly drop the superseded
    * generation's block. The eager unpersist matters: the block store
    * estimates each generation at its FULL reachable graph (structural
    * sharing is invisible to SizeEstimator), so letting generations wait
    * for the ContextCleaner stacks phantom gigabytes of accounting,
    * evicts live blocks, and serializes whole state graphs to disk —
    * measured as per-batch wall time growing with state while narrow
    * reads stayed flat. With outputs checkpointed separately, nothing
    * references the superseded generation, so dropping it is safe even
    * while callers still hold earlier batches' diff frames. */
  def commit[O: ClassTag](stepped: RDD[(S, Array[O])]): RDD[O] =
    commitCounted(stepped)._1

  /** [[commit]] that also returns the output-row count — ONE job
    * materializes both checkpoints (computing `out` computes and caches
    * the state generation's partitions), so iterative callers get their
    * per-round count for free. */
  def commitCounted[O: ClassTag](
      stepped: RDD[(S, Array[O])]): (RDD[O], Long) = {
    val sz = sizeOf
    // Spark materializes only the job's LAST marked RDD at checkpoint
    // time, so without this property `mat` (the state generation) never
    // writes reliable files — every generation's lineage would bottom
    // out at the init files, and deleting those below strands recovery
    // at the first executor loss. The property is thread-scoped AND
    // captured at RDD CONSTRUCTION (a private val in Spark's RDD), so
    // it must wrap the RDD builds, not just the count; with it the one
    // count job checkpoints BOTH cuts (`out` as the job RDD, `mat` as
    // its marked ancestor).
    val sc0 = stepped.sparkContext
    val ancestorsKey = "spark.checkpoint.checkpointAllMarkedAncestors"
    val prevProp = sc0.getLocalProperty(ancestorsKey)
    sc0.setLocalProperty(ancestorsKey, "true")
    val (mat, out, n) = try {
      val mat = stepped.mapPartitions(
        _.map { case (s, o) => (new GraftSizedValue(s, 64L + sz(s)), o) },
        preservesPartitioning = false).graftCheckpoint()
      val out = mat.flatMap(_._2.iterator).graftCheckpoint()
      (mat, out, out.count())
    } finally sc0.setLocalProperty(ancestorsKey, prevProp)
    cur = mat.map(_._1)
    if (prevGen ne null) {
      org.apache.spark.GraftUnpersist(prevGen)
      // Under the reliable-checkpoint dial the superseded generation's
      // files would otherwise live until the DFS fills (Spark only
      // GC-cleans them, and only with cleanCheckpoints=true) — delete
      // them at the same supersede point, but ONLY once the new
      // generation is self-contained on reliable storage (its own
      // checkpoint landed); if it did not land, recovery still walks
      // the lineage through the superseded files, so keep them.
      if (mat.isCheckpointed) {
        graft.kernel.Ckpt.dropCheckpoint(prevGen)
        // A landed generation also licenses dropping every EARLIER
        // generation still queued from degraded commits.
        undroppedGens.foreach(graft.kernel.Ckpt.dropCheckpoint)
        undroppedGens = Nil
      } else if (prevGen.isCheckpointed) {
        undroppedGens = prevGen :: undroppedGens
      }
    }
    prevGen = mat
    (out, n)
  }

  /** One batch against one co-partitioned delta: `f` runs once per
    * partition over (index, delta iterator) and returns the new index
    * plus the partition's output rows. `f` must capture only
    * serializable locals — never a node or a SparkSession. */
  def advance1[D: ClassTag, O: ClassTag](delta: RDD[D])(
      f: (S, Iterator[D]) => (S, Array[O])): RDD[O] =
    advance1Counted(delta)(f)._1

  /** [[advance1]] returning the output count too (no extra job). */
  def advance1Counted[D: ClassTag, O: ClassTag](delta: RDD[D])(
      f: (S, Iterator[D]) => (S, Array[O])): (RDD[O], Long) =
    commitCounted(cur.zipPartitions(delta, preservesPartitioning = false) {
      (sIt, dIt) => Iterator.single(f(sIt.next().value, dIt))
    })

  /** One batch against two co-partitioned deltas (two-sided nodes:
    * join, antijoin — one compound index per partition). */
  def advance2[D1: ClassTag, D2: ClassTag, O: ClassTag](
      d1: RDD[D1], d2: RDD[D2])(
      f: (S, Iterator[D1], Iterator[D2]) => (S, Array[O])): RDD[O] =
    commit(cur.zipPartitions(d1, d2, preservesPartitioning = false) {
      (sIt, aIt, bIt) => Iterator.single(f(sIt.next().value, aIt, bIt))
    })
}
