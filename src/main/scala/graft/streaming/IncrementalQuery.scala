package graft.streaming

import graft.kernel.Ckpt._
import graft.kernel.Exchange

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.compile.{Compiler, Rel}
import graft.domain.AttributeSource
import graft.model._

/** Incrementally maintained COMPOSED plans — the composition layer over
  * the per-class maintainers, playing the role of the reference's whole
  * dataflow construction (`src/lib.rs` `implement` + the per-plan-node
  * `Implementable` impls, maintained by differential dataflow): one
  * object that takes an arbitrary [[graft.model.Plan]] tree and a datom
  * stream and emits the EXACT per-batch output diffs of the whole query.
  *
  * Architecture — each plan node falls in one of two worlds:
  *
  *  - '''Linear zones.''' `MatchA/EA/AV`, `Project`, `Filter`,
  *    `Transform`, `Negate` are linear in their input Z-sets
  *    (per-row, weight-preserving up to sign), so for any subtree built
  *    only from them, `op(Δin) = Δop(in)`: the zone needs NO state. It is
  *    compiled once, at construction, into per-row steps
  *    ([[LinearRows]]) over the batch's per-attribute deltas and its
  *    stateful child's diffs (a `NameExpr` placeholder), reproducing the
  *    batch compiler's operators under Catalyst's value semantics.
  *
  *  - '''Stateful nodes''' at the non-linear operators, each keeping
  *    co-partitioned keyed-RDD state merged with one O(delta) shuffle
  *    per batch (the [[graft.kernel.RddKernel]] discipline; per-batch
  *    shuffled bytes never grow with accumulated state):
  *     - `Hector` (and `Join` of attribute patterns) → an
  *       [[IncrementalHector]] child (state = input relations only);
  *     - `Union` → its branches' projected deltas concatenated
  *       (linear), then a support-count THRESHOLD node for the
  *       reference's set semantics (`src/plan/union.rs:73-77`:
  *       `concat.distinct()`), emitting ±1 exactly at support
  *       zero-crossings — the differential `distinct` analog;
  *     - `Aggregate` → grouped-aggregate state `((key, valueTuple) → w)`
  *       partitioned by KEY (a key's whole support is co-resident), a
  *       narrow merge + touched-key recompute per batch, mirroring the
  *       batch compiler's multiset semantics bit-for-bit: COUNT/SUM in
  *       the diff monoid (vanishing at net-zero weight), AVG/VARIANCE
  *       as gcd-reduced rationals (loud failure at undefined net count
  *       0), MIN/MAX/MEDIAN over the positive-support distinct set with
  *       the upper median — including MULTI-FUNCTION plans (each result
  *       re-inserted at its output_offsets position) and `:with`
  *       variables riding in the value tuple
  *       (`src/plan/aggregate_neu.rs:45-285`).
  *
  *     - `Antijoin` (and Hector `Not` bindings, lowered exactly as the
  *       batch compiler lowers them: positive conjunction, then one
  *       anti-join per Not on the shared variables) → two support-count
  *       tables (left rows, right keys) co-partitioned by the join key,
  *       recomputing each touched key's old/new output partition-locally
  *       — including the bulk retract/assert when a right key's presence
  *       flips. `Plan.Antijoin` uses the distinct-left form, Hector
  *       `Not` the multiset left-anti form, both batch-exact.
  *
  * Every node takes and returns signed tuples as an RDD
  * ([[IncrementalQuery.Delta]]); no Catalyst query is planned between
  * feed and drain, except inside the frame-speaking maintainers
  * (`IncrementalHector`, the general recursion node's rounds).
  *
  * Non-recursive `NameExpr` rule references are inlined (the batch
  * compiler's compileRule + positional rename). RECURSIVE references in
  * the transitive-closure form (`r(x,z) := base ∪ edge∘r`, one edge
  * relation — see `closureNodeOf`) are maintained through a ClosureNode:
  * the edge subtree's diffs threshold to set transitions and drive the
  * warm-start/DRed closure maintainer ([[IncrementalClosure]] under the
  * broadcast byte gate, [[DistributedClosure]] past it).
  * Every OTHER monotone recursion — mutual cliques, non-linear bodies,
  * label-propagation shapes — is maintained by the general
  * [[RecursionNode]] (delta-rule warm start + delete-and-rederive, see
  * [[generalRecursionNode]]). The PULL family is maintained too:
  * `PullAll` and attribute-less `PullLevel` are linear (zones);
  * `PullLevel` with pull attributes is a [[PullLevelNode]] (bilinear
  * join per attribute + the batch compiler's shared decoration);
  * `Pull` packs per-path diffs into the array<variant> form
  * ([[PullNode]]). Not maintained here (fail loudly at construction):
  * non-monotone recursion.
  *
  * Restrictions on `Aggregate` nodes: numeric aggregations over
  * long-typed values; order statistics (and `:with` variables) over
  * long- or string-typed values.
  */
class IncrementalQuery(
    spark: SparkSession,
    plan: Plan,
    kinds: Map[String, ValueKind],
    rules: Map[String, Plan] = Map.empty,
    distinctAttrs: Set[String] = Set.empty,
    lwwAttrs: Set[String] = Set.empty,
    // Set-semantics engines: rule results canonicalize with distinct and
    // aggregates consume the DISTINCT input relation (the batch
    // compiler's aggregateSetSemantics + delivery distinctify) — the
    // maintained analogs are a support threshold at the root and at each
    // aggregate child.
    setSemantics: Boolean = false,
    // State partition count for every stateful node (0 = the session's
    // spark.sql.shuffle.partitions). The scale dial: size to the
    // MAINTAINED STATE, not the bulk data — oracle/bench-sized standing
    // queries run leaner with fewer, data-sized states with more (the
    // IncrementalClosure `partitions` precedent).
    partitions: Int = 0) {

  import IncrementalQuery._
  import Plan.{Var => PVar}

  private val shufflePartitions: Int =
    if (partitions > 0) partitions
    else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Catalyst plans built inside recursion rounds (observable for the
    * smoke specs): with the linear RDD kernel engaged, this stays O(1)
    * per advance — first-round input variants plus static rebuilds —
    * instead of growing with fixpoint depth. */
  private[graft] val recursionPlanCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Spec probe: closure stores built by this query's closure nodes, in
    * build order ("IncrementalClosure", "DistributedClosure"). */
  private[graft] val closureStoreProbe = mutable.ArrayBuffer.empty[String]

  // Every state cell this query's nodes hold (closure and Hector stores
  // keep their own).
  private val stateCells = mutable.ArrayBuffer.empty[StateCell[_]]

  private def stateCell[S <: AnyRef: scala.reflect.ClassTag](
      zero: () => S, sizeOf: S => Long): StateCell[S] = {
    val c = new StateCell[S](spark.sparkContext, shufflePartitions, zero, sizeOf)
    stateCells += c
    c
  }

  /** Spec probe: the live generation of every state cell above. */
  private[graft] def liveGenerationsProbe: Seq[RDD[_]] =
    stateCells.map(_.liveGeneration).toSeq

  // ---- Node tree -----------------------------------------------------

  private val sc = spark.sparkContext
  private def noDiff: Delta = sc.emptyRDD[(Tup, Long)]

  private sealed trait Node {
    def vars: Seq[PVar]
    def nodeKinds: Seq[ValueKind]
    /** Attributes whose deltas can change this subtree's output. */
    def attrs: Set[String]
    /** Exact output diffs for this batch's attribute deltas. */
    def advance(attrDeltas: Map[String, Delta]): Delta
    /** Whether this node's single output column packs heterogeneous pull
      * paths (the batch compiler's `Rel.isPathArray`) — an explicit
      * serde marker for the wire layer, never inferred from payload
      * shape (round-10 ADVICE). */
    def pathArray: Boolean = false

    final def touched(attrDeltas: Map[String, Delta]): Boolean =
      attrs.exists(attrDeltas.contains)
  }

  /** Stateless linear subtree, compiled once into per-row steps
    * ([[LinearRows]]) over the batch's attribute deltas and its stateful
    * child's diffs (a `NameExpr` placeholder). Exactness is by
    * linearity: `op(Δin) = Δop(in)`. */
  private final class Zone(
      linearPlan: Plan, children: Map[String, Node]) extends Node {

    val attrs: Set[String] =
      referencedAttrs(linearPlan) ++ children.values.flatMap(_.attrs)

    private val lin = compileLinear(linearPlan, children)
    val vars: Seq[PVar] = lin.vars
    val nodeKinds: Seq[ValueKind] = lin.kinds

    def advance(attrDeltas: Map[String, Delta]): Delta =
      if (!touched(attrDeltas)) noDiff
      else unionAll(lin.branches.flatMap { b =>
        val in =
          if (b.child) Some(children(b.source).advance(attrDeltas))
          else attrDeltas.get(b.source)
        in.map(d => if (b.identity) d else d.mapPartitions(b.rows))
      })
  }

  private def unionAll(ds: Seq[Delta]): Delta =
    if (ds.isEmpty) noDiff else if (ds.lengthCompare(1) == 0) ds.head else sc.union(ds)

  /** The batch compiler's linear operators (`Compiler.compile`) as per-row
    * steps: same output variables, kinds and rows. */
  private def compileLinear(p: Plan, children: Map[String, Node]): LinearRows.Lin = {
    import LinearRows._
    def scan(a: String, steps: Step*) = Seq(Branch(a, child = false, steps.toVector, 1L))
    def test(pred: Predicate, l: (Opnd, ValueKind), r: (Opnd, ValueKind)) =
      comparison(pred, l._1, l._2.dataType, r._1, r._2.dataType)
    def col(i: Int, k: ValueKind) = (Opnd(i, null), k)
    def const(v: Value) = (Opnd(-1, v.native), ValueKind.of(v))
    p match {
      case Plan.MatchA(e, a, v) if e == v =>
        Lin(Seq(e), Seq(ValueKind.KEid), scan(a,
          test(Predicate.EQ, col(0, ValueKind.KEid), col(1, kinds(a))),
          Layout(Array(Col(0)))))
      case Plan.MatchA(e, a, v) =>
        Lin(Seq(e, v), Seq(ValueKind.KEid, kinds(a)), scan(a))
      case Plan.MatchEA(eid, a, v) =>
        Lin(Seq(v), Seq(kinds(a)), scan(a,
          Test(Predicate.EQ, Opnd(0, null), Opnd(-1, eid)), Layout(Array(Col(1)))))
      case Plan.MatchAV(e, a, value) =>
        Lin(Seq(e), Seq(ValueKind.KEid), scan(a,
          test(Predicate.EQ, col(1, kinds(a)), const(value)), Layout(Array(Col(0)))))
      case Plan.Project(vs, s) =>
        val in = compileLinear(s, children)
        in.step(Layout(vs.map(v => Col(in.idx(v)): Cell).toArray), vs,
          vs.map(v => in.kinds(in.idx(v))))
      case Plan.Filter(fvars, pred, s, consts) =>
        val in = compileLinear(s, children)
        def v(i: Int) = col(in.idx(fvars(i)), in.kinds(in.idx(fvars(i))))
        // constants(0) = constant LEFT operand, constants(1) = constant
        // RIGHT operand — src/plan/filter.rs:111-130.
        val t = consts.lift(0).flatten match {
          case Some(k) => test(pred, const(k), v(0))
          case None => consts.lift(1).flatten match {
            case Some(k) => test(pred, v(0), const(k))
            case None    => test(pred, v(0), v(1))
          }
        }
        in.step(t, in.vars, in.kinds)
      case Plan.Transform(tvars, rv, s, fn, consts) =>
        val in = compileLinear(s, children)
        val (t, k) = transform(tvars.map(in.idx), in.kinds, fn, consts)
        in.step(t, in.vars :+ rv, in.kinds :+ k)
      case Plan.Negate(s) =>
        val in = compileLinear(s, children)
        in.copy(branches = in.branches.map(b => b.copy(sign = -b.sign)))
      case Plan.NameExpr(vs, name) =>
        val c = children(name)
        require(c.vars.length == vs.length,
          s"NameExpr($vs, $name): arity mismatch with ${c.vars}")
        Lin(vs, c.nodeKinds, Seq(Branch(name, child = true, Vector.empty, 1L)))
      case Plan.PullAll(_, pas) =>
        // [e a v] for every attribute — src/plan/pull.rs:288-358.
        Lin(Seq(-1, -2, -3), Seq(ValueKind.KEid, ValueKind.KAid, ValueKind.KVariant),
          pas.flatMap(a => scan(a, Layout(Array(Col(0), Lit(a), Enc(Col(1), kinds(a)))))))
      case Plan.PullLevel(_, s, _, _, pathAttrs, _) =>
        val in = compileLinear(s, children)
        if (pathAttrs.isEmpty) in
        else {
          val inter = interleave(in.kinds, pathAttrs)
          in.step(Layout(inter.map(_._1).toArray),
            inter.indices.map(i => -(i + 1)), inter.map(_._2))
        }
      case other => sys.error(s"unexpected non-linear node $other in zone")
    }
  }

  /** Conjunction node: state and delta rule live in IncrementalHector,
    * which speaks frames — its boundary converts once each way. */
  private final class HectorNode(
      targetVars: Seq[PVar], bindings: Seq[Binding]) extends Node {
    private val attrBindings = bindings.collect { case a: Binding.Attr => a }
    private val ih = new IncrementalHector(spark, targetVars, bindings,
      kinds.filter { case (a, _) => attrBindings.exists(_.a == a) })
    val attrs: Set[String] = attrBindings.map(_.a).toSet
    val (vars, nodeKinds): (Seq[PVar], Seq[ValueKind]) = ih.outputVarsKinds

    def advance(attrDeltas: Map[String, Delta]): Delta =
      if (!touched(attrDeltas)) noDiff
      else {
        val deltas: Map[Int, DataFrame] =
          attrBindings.zipWithIndex.flatMap { case (b, i) =>
            attrDeltas.get(b.a).map(d => i -> spark.createDataFrame(
              d.map(ToRow), StructType(Seq(StructField("e", LongType, false),
                StructField("v", kinds(b.a).dataType, true),
                StructField("diff", LongType, false)))))
          }.toMap
        deltaOf(ih.advance(deltas))
      }
  }

  // Registry of support cells for scale evidence (measured resident
  // bytes across every threshold-class state this query holds).
  private val supportCells = mutable.ArrayBuffer.empty[SupportCell]

  /** Test hook: MEASURED resident bytes across all threshold-class
    * support cells (real SizeEstimator walk — tests only). */
  private[graft] def supportStateMeasuredBytes: Long =
    supportCells.iterator.map(_.measuredBytes).sum

  /** Support-count cell shared by the Union threshold and the
    * Distinct-attribute threshold: row → net weight, emitting the ±1
    * zero-crossing transitions. ALL-LONG rows pack into [[PackedRuns]]
    * (~8·(width+1) B/entry against the boxed trie's measured ~200–240 B
    * — the round-10 footprint cut); null-bearing rows (and non-packable
    * kinds) stay in a boxed side map, so packing is an optimization,
    * never a semantics change for long-backed rows. KReal columns pack
    * too (round 16), via the Hector cells' order-preserving
    * [[IncrementalHector.encReal]] encoding — which also FIXES key
    * equality for reals to match SQL (NaN = NaN found, -0.0 = 0.0
    * merged; the boxed Seq key's primitive `==` made a NaN key
    * unfindable). Output rows keep the original boxed values —
    * encoding exists only inside the key array, so no decode ever
    * runs. The boxed path (mixed non-packable kinds) applies the SAME
    * encoded-key treatment to its KReal slots (round 17), so both
    * backends share one key-equality semantics.
    * Emitted transition rows carry canon()-ed KReal samples on every
    * path, so cross-batch assert/retract pairs cancel under
    * java.lang.Double.equals in downstream accumulators. */
  private final class SupportCell(kinds: Seq[ValueKind]) {
    supportCells += this
    private val packed = kinds.nonEmpty &&
      kinds.forall(k => ValueKind.longBacked(k) || k == ValueKind.KReal)
    private val realCol: Array[Boolean] =
      kinds.map(_ == ValueKind.KReal).toArray
    private val hasReal = realCol.exists(identity)
    private val width = kinds.length

    /** Canonicalize the KReal cells of an EMITTED transition row: keys
      * net under encReal (-0.0 = 0.0, NaN = NaN) but the per-batch raw
      * sample could carry whichever representative arrived first, so a
      * +1 keyed 0.0 in one batch and a -1 keyed -0.0 in a later batch
      * would never cancel under java.lang.Double.equals in downstream
      * accumulators (round-16 advisory). Emissions are ±1 transitions
      * only, so this is O(transitions), not O(delta). A standalone
      * function value (not a method) so executor closures don't capture
      * the non-serializable cell. */
    private val canonSample: Seq[Any] => Seq[Any] = {
      val rc = realCol
      if (!hasReal) identity
      else k => k.zipWithIndex.map { case (v, i) =>
        if (rc(i) && v != null) IncrementalHector.canon(v) else v
      }
    }
    private val wCell: StateCell[IncrementalQuery.WMap] =
      if (packed) null
      else stateCell[IncrementalQuery.WMap](
        () => scala.collection.immutable.HashMap.empty, _.size * 200L)
    private val pCell: StateCell[(PackedRuns, IncrementalQuery.WMap)] =
      if (!packed) null
      else {
        val w = width
        stateCell[(PackedRuns, IncrementalQuery.WMap)](
          () => (PackedRuns.empty(w), scala.collection.immutable.HashMap.empty),
          { case (p, m) => p.bytes + m.size * 200L })
      }

    /** One co-partitioned NETTED delta batch (unique keys) → the ±1
      * zero-crossing diffs (a lazy commit). */
    def advance(delta: RDD[(Seq[Any], Long)]): RDD[(Seq[Any], Long)] =
      advanceWith(delta, counted = false)._1

    /** [[advance]] materialized now, with the output-diff count, for
      * callers whose control flow reads it. */
    def advanceCounted(
        delta: RDD[(Seq[Any], Long)]): (RDD[(Seq[Any], Long)], Long) =
      advanceWith(delta, counted = true)

    private def advanceWith(delta: RDD[(Seq[Any], Long)], counted: Boolean)
        : (RDD[(Seq[Any], Long)], Long) = {
      def on[S <: AnyRef](c: StateCell[S])(
          f: (S, Iterator[(Seq[Any], Long)]) => (S, Array[(Seq[Any], Long)])) =
        if (counted) c.advance1Counted(delta)(f) else (c.advance1(delta)(f), -1L)
      if (!packed && !hasReal) on(wCell)(thresholdAdvanceIdx)
      else if (!packed) {
        // Boxed path WITH real columns (mixed non-packable kinds like
        // (string, real)): Scala's `==` on boxed doubles is primitive
        // comparison, so a NaN key was unfindable in the WMap — support
        // could never accumulate across batches (round-16 VERDICT item).
        // Fix = the same encoded-key netting the packed path uses: map
        // keys carry encReal bits in KReal slots (long equality == SQL
        // double equality), emissions carry the canonicalized boxed
        // sample. Both backends share one key-equality semantics.
        // Only the REAL columns' indices — the r17 advisory: rebuilding
        // the whole key Seq (zipWithIndex + per-element tuple + boxed
        // Long) for every delta row taxes the mixed-kind path even when
        // the row's real slots are all null. Probe the real slots first;
        // rows with nothing to re-encode keep their original Seq.
        val realIdx: Array[Int] =
          realCol.zipWithIndex.collect { case (true, i) => i }
        val cs = canonSample
        on(wCell) { (s, dIt) =>
          var m = s
          val out = mutable.ArrayBuffer.empty[(Seq[Any], Long)]
          dIt.foreach { case (k, dw) =>
            if (dw != 0L) {
              var needs = false
              var j = 0
              while (j < realIdx.length && !needs) {
                if (k(realIdx(j)) != null) needs = true
                j += 1
              }
              val tk: Seq[Any] = if (!needs) k else {
                val a = k.toArray
                var p = 0
                while (p < realIdx.length) {
                  val i = realIdx(p)
                  val v = a(i)
                  if (v != null)
                    a(i) = java.lang.Long.valueOf(
                      IncrementalHector.encReal(v.asInstanceOf[Double]))
                  p += 1
                }
                scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
              }
              val w = m.getOrElse(tk, 0L)
              val nw = w + dw
              if (nw == 0L) m -= tk else m = m.updated(tk, nw)
              if (w > 0 && nw <= 0) out += ((cs(k), -1L))
              else if (w <= 0 && nw > 0) out += ((cs(k), 1L))
            }
          }
          (m, out.toArray)
        }
      }
      else {
        val w = width
        val rc = realCol
        val cs = canonSample
        on(pCell) { case ((runs, nullM), dIt) =>
          // NET the batch per ENCODED key first: encReal canonicalizes
          // keys the upstream boxed exchange could not merge (two
          // same-batch NaN rows are distinct boxed Seq keys but ONE
          // packed key; likewise -0.0 vs 0.0), and the threshold below
          // must see the batch's NET weight against ONE pre-batch
          // support read — folding duplicates one at a time read a
          // stale `runs` snapshot each and a same-batch NaN
          // double-assert emitted +2 from a distinct threshold
          // (round-16 review, confirmed by repro).
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[scala.collection.immutable.ArraySeq[Long], (Seq[Any], Long)]
          // Null-bearing rows net under a TRANSFORMED key (KReal cells
          // to canonical bits): the boxed Seq's primitive == made a
          // null+NaN row unfindable across batches — support could
          // never accumulate and nullM grew one dead entry per batch.
          val nullAcc = scala.collection.mutable.LinkedHashMap
            .empty[Seq[Any], (Seq[Any], Long)]
          dIt.foreach { case (k, dw) =>
            if (dw != 0L) {
              if (k.exists(_ == null)) {
                val tk: Seq[Any] = k.zipWithIndex.map { case (v, i) =>
                  if (v == null) null
                  else if (rc(i))
                    IncrementalHector.encReal(v.asInstanceOf[Double])
                  else v
                }
                val (sample, sum) = nullAcc.getOrElse(tk, (k, 0L))
                nullAcc(tk) = (sample, sum + dw)
              } else {
                val key = new Array[Long](w)
                var i = 0
                while (i < w) {
                  key(i) =
                    if (rc(i))
                      IncrementalHector.encReal(k(i).asInstanceOf[Double])
                    else k(i).asInstanceOf[Long]
                  i += 1
                }
                val ks = scala.collection.immutable.ArraySeq.unsafeWrapArray(key)
                val (sample, sum) = acc.getOrElse(ks, (k, 0L))
                acc(ks) = (sample, sum + dw)
              }
            }
          }
          val buf = mutable.ArrayBuilder.make[Long]
          val out = mutable.ArrayBuffer.empty[(Seq[Any], Long)]
          var nm = nullM
          acc.foreach { case (ks, (sample, dw)) =>
            if (dw != 0L) {
              val key = ks.unsafeArray.asInstanceOf[Array[Long]]
              val old = runs.get(key)
              val nw = old + dw
              var j = 0
              while (j < w) { buf += key(j); j += 1 }
              buf += dw
              if (old > 0 && nw <= 0) out += ((cs(sample), -1L))
              else if (old <= 0 && nw > 0) out += ((cs(sample), 1L))
            }
          }
          nullAcc.foreach { case (tk, (sample, dw)) =>
            if (dw != 0L) {
              val old = nm.getOrElse(tk, 0L)
              val nw = old + dw
              if (nw == 0L) nm -= tk else nm = nm.updated(tk, nw)
              if (old > 0 && nw <= 0) out += ((cs(sample), -1L))
              else if (old <= 0 && nw > 0) out += ((cs(sample), 1L))
            }
          }
          ((runs.merged(buf.result()), nm), out.toArray)
        }
      }
    }

    private[streaming] def measuredBytes: Long = {
      def m(o: AnyRef): Long = org.apache.spark.util.GraftSizeOf.estimate(o)
      if (packed) pCell.rdd.map(x => m(x._1) + m(x._2)).fold(0L)(_ + _)
      else wCell.rdd.map(m).fold(0L)(_ + _)
    }
  }

  /** Support-count threshold (differential `distinct`): state = row →
    * net weight, keyed by the full row, emitting ±1 exactly when a
    * row's support crosses zero — `Union`'s set semantics. */
  private final class ThresholdNode(inputs: Seq[Node]) extends Node {
    val vars: Seq[PVar] = inputs.head.vars
    val nodeKinds: Seq[ValueKind] = inputs.head.nodeKinds
    val attrs: Set[String] = inputs.flatMap(_.attrs).toSet
    override val pathArray: Boolean =
      inputs.length == 1 && inputs.head.pathArray

    private val part = new SeqKeyPartitioner(shufflePartitions)
    private val cell = new SupportCell(nodeKinds)

    private def delta(attrDeltas: Map[String, Delta]): Delta =
      Exchange.sum(unionAll(inputs.map(_.advance(attrDeltas))), part) // the only shuffle: O(delta)

    def advance(attrDeltas: Map[String, Delta]): Delta =
      if (!touched(attrDeltas)) noDiff else cell.advance(delta(attrDeltas))

    /** [[advance]] materialized now, with the transition count (the
      * closure node's store choice reads it). */
    def advanceCounted(attrDeltas: Map[String, Delta]): (Delta, Long) =
      if (!touched(attrDeltas)) (noDiff, 0L) else cell.advanceCounted(delta(attrDeltas))
  }

  /** Antijoin node — the batch compiler's semantics
    * (`Compiler.antijoin`, reference `src/plan/antijoin.rs:95-98`): both
    * sides distinct-ed, output = distinct left rows whose key has no
    * present right key, at weight 1. State = two support-count tables
    * (left rows, right keys), BOTH partitioned by the key prefix, so a
    * key's entire left support and right presence are co-resident: a
    * batch recomputes the key's old/new output partition-locally for
    * exactly the touched keys — including the bulk retract/assert when a
    * right-key presence flips. One O(delta) shuffle per side per batch. */
  private final class AntijoinNode(
      left: Node, right: Node, keyIdx: Seq[Int],
      distinctLeft: Boolean) extends Node {
    val vars: Seq[PVar] = left.vars
    val nodeKinds: Seq[ValueKind] = left.nodeKinds
    val attrs: Set[String] = left.attrs ++ right.attrs

    private val lPart = new IndexKeyPartitioner(shufflePartitions, keyIdx)
    private val rPart =
      new IndexKeyPartitioner(shufflePartitions, keyIdx.indices)
    private val cell = {
      val mk = GroupIndex.maker(keyIdx.map(left.nodeKinds), left.nodeKinds)
      stateCell[(GroupIndex, IncrementalQuery.WMap)](
        () => (mk(), scala.collection.immutable.HashMap.empty),
        { case (l, r) => l.bytes + r.size * 200L })
    }

    def advance(attrDeltas: Map[String, Delta]): Delta =
      if (!touched(attrDeltas)) noDiff
      else {
        val dL = Exchange.sum(left.advance(attrDeltas), lPart)
        val dR = Exchange.sum(right.advance(attrDeltas), rPart)
        // Locals only: a field reference here would capture the node
        // (and its SparkSession) into the task closure.
        val ki = keyIdx; val dlf = distinctLeft
        cell.advance2(dL, dR)(antijoinAdvanceIdx(ki, dlf))
      }
  }

  /** Grouped-aggregate node: state = ((key, valueTuple) → net weight)
    * partitioned by KEY, where valueTuple is the batch compiler's
    * pre-aggregation projection (first-occurrence-deduped aggVars ++
    * withVars minus keys — `:with` variables ride along so equal
    * contributions from different provenance don't consolidate away,
    * `src/plan/aggregate_neu.rs:130-143`). Emits batch-compiler-exact
    * output rows with EVERY aggregation re-inserted at its find-clause
    * position (output_offsets, `aggregate_neu.rs:247-285`):
    * retract/assert diffs for exactly the touched keys. */
  private final class AggregateNode(
      input: Node, outVars: Seq[PVar], fns: Seq[AggregationFn],
      keyVars: Seq[PVar], aggVars: Seq[PVar], withVars: Seq[PVar]) extends Node {
    import AggregationFn._
    UnmaintainablePlan.require(fns.nonEmpty && fns.length == aggVars.length,
      s"one aggregation variable per function, got $fns over $aggVars")

    val vars: Seq[PVar] = outVars
    val attrs: Set[String] = input.attrs

    private val keyIdx: Seq[Int] = keyVars.map(input.vars.indexOf)
    UnmaintainablePlan.require(keyIdx.forall(_ >= 0),
      s"aggregate key vars $keyVars must be bound by the input (${input.vars})")

    // The value tuple: batch's valueVars = dedupFirst(aggVars ++ withVars)
    // minus keys (Seq.distinct keeps first occurrences).
    private val valueVars: Seq[PVar] =
      (aggVars ++ withVars).distinct.filterNot(keyVars.contains)
    private val valueIdx: Seq[Int] = valueVars.map(input.vars.indexOf)
    UnmaintainablePlan.require(valueIdx.forall(_ >= 0),
      s"aggregate value/with vars $valueVars must be bound by the input (${input.vars})")

    private def kindOfVar(v: PVar): ValueKind =
      input.nodeKinds(input.vars.indexOf(v))

    /** Read a variable at aggregate time: from the key tuple (it may BE a
      * key var — the batch compiler allows aggregating a key) or the
      * value tuple. */
    private def accessor(v: PVar): Either[Int, Int] = {
      val kp = keyVars.indexOf(v)
      if (kp >= 0) Left(kp) else Right(valueVars.indexOf(v))
    }

    fns.zip(aggVars).foreach { case (f, v) =>
      val k = kindOfVar(v)
      val isLong = k.dataType == LongType
      if (f == SUM || f == AVG || f == VARIANCE)
        UnmaintainablePlan.require(isLong, s"numeric aggregation $f needs long-typed values, got $k")
      if (f == MIN || f == MAX || f == MEDIAN)
        UnmaintainablePlan.require(isLong || k.dataType == StringType,
          s"order statistics need long or string values, got $k")
    }
    withVars.foreach { v =>
      val k = kindOfVar(v)
      UnmaintainablePlan.require(k.dataType == LongType || k.dataType == StringType,
        s"with variables must be long- or string-typed (median entry sort), got $k")
    }

    // Output slots — the batch compiler's output_offsets re-insertion:
    // the i-th aggregation consumes the FIRST unconsumed occurrence of
    // its variable; every remaining position must be a key column.
    private val slots: Seq[Either[Int, Int]] = {
      val work = mutable.ArrayBuffer(outVars.map(Option(_)): _*)
      val posToAgg = mutable.Map.empty[Int, Int]
      for (i <- fns.indices) {
        val pos = work.indexOf(Some(aggVars(i)))
        UnmaintainablePlan.require(pos >= 0,
          s"aggregation variable ${aggVars(i)} not in output $outVars")
        work(pos) = None
        posToAgg(pos) = i
      }
      outVars.indices.map { j =>
        posToAgg.get(j) match {
          case Some(i) => Right(i)
          case None =>
            val kp = keyVars.indexOf(outVars(j))
            UnmaintainablePlan.require(kp >= 0,
              s"aggregate output var ${outVars(j)} is neither an " +
                s"aggregation result nor a key ($keyVars)")
            Left(kp)
        }
      }
    }

    val nodeKinds: Seq[ValueKind] = slots.map {
      case Left(kp) => input.nodeKinds(keyIdx(kp))
      case Right(i) => fns(i) match {
        case COUNT | SUM        => ValueKind.KNumber
        case AVG | VARIANCE     => ValueKind.KRational
        case MIN | MAX | MEDIAN => kindOfVar(aggVars(i))
      }
    }

    private val spec = AggSpec(fns, aggVars.map(accessor),
      withVars.map(accessor), slots,
      aggVars.map(v => kindOfVar(v).dataType == LongType))

    private val part = new SeqKeyPartitioner(shufflePartitions)
    private val cell = stateCell[GroupIndex](
      GroupIndex.maker(keyIdx.map(input.nodeKinds),
        valueIdx.map(input.nodeKinds)), _.bytes)
    private val split = new KeyValue(keyIdx.toArray, valueIdx.toArray)

    def advance(attrDeltas: Map[String, Delta]): Delta =
      if (!touched(attrDeltas)) noDiff
      else {
        val delta = Exchange.sum(input.advance(attrDeltas).map(split), part) // the only shuffle: O(delta)
        val specL = spec
        cell.advance1(delta)(
          aggregateAdvanceIdx(requireNonNeg = false,
            (k: Seq[Any], rs: Iterable[(Seq[Any], Long)]) =>
              aggRowOf(specL, k, rs)))
      }
  }

  /** Transitive-closure node — maintained RECURSION for the TC-shaped
    * rule fragment (see `closureNodeOf`): the edge subtree's Z-set diffs
    * pass through a support-count THRESHOLD (so the closure sees exactly
    * the ±1 SET transitions its edge relation makes — matching the batch
    * compiler's set-semantic fixpoint over the Union-rooted rule), then
    * drive the warm-start/DRed closure maintainer. The store is chosen
    * by size, once and for good: the broadcast [[IncrementalClosure]]
    * while its edge set plus the advance's transitions fits the byte
    * gate ([[graft.kernel.RddKernel.broadcastable]]), then a
    * [[DistributedClosure]] planted from its edge set and closure — and
    * distributed from the first advance when the gate does not admit
    * that advance (a threshold ≤ 0 admits nothing: no broadcast, no
    * driver edge set). */
  private final class ClosureNode(edgeNode: Node) extends Node {
    UnmaintainablePlan.require(edgeNode.vars.length == 2,
      s"closure maintenance needs a binary edge relation, got ${edgeNode.vars}")
    UnmaintainablePlan.require(edgeNode.nodeKinds.forall(_.dataType == LongType),
      s"closure maintenance needs long-typed node ids, got ${edgeNode.nodeKinds}")
    val vars: Seq[PVar] = edgeNode.vars
    val nodeKinds: Seq[ValueKind] = edgeNode.nodeKinds
    val attrs: Set[String] = edgeNode.attrs

    private val threshold = new ThresholdNode(Seq(edgeNode))
    private var broadcastCl: IncrementalClosure = null
    private var distributedCl: DistributedClosure = null

    /** Pick (or keep) the store for an advance of `n` edge transitions:
      * `n` bounds the additions, so the broadcast store is kept only
      * while its edge set stays under the gate after the advance. */
    private def chooseStore(n: Long): Unit =
      if (distributedCl == null) {
        val edges = if (broadcastCl == null) 0L else broadcastCl.edgeSize
        if (graft.kernel.RddKernel.broadcastable(
            spark, edges + n, IncrementalClosure.EdgeBytes)) {
          if (broadcastCl == null) {
            broadcastCl = new IncrementalClosure(spark, shufflePartitions)
            closureStoreProbe += "IncrementalClosure"
          }
        } else {
          distributedCl = new DistributedClosure(spark, shufflePartitions)
          closureStoreProbe += "DistributedClosure"
          if (broadcastCl != null) {
            distributedCl.plant(broadcastCl.edges, broadcastCl.closure)
            broadcastCl = null
          }
        }
      }

    def advance(attrDeltas: Map[String, Delta]): Delta =
      if (!touched(attrDeltas)) noDiff
      else {
        val (ed, n) = threshold.advanceCounted(attrDeltas)
        if (n == 0L) noDiff
        else {
          chooseStore(n)
          val edges = ed.map(ToEdge)
          val out =
            if (distributedCl != null) distributedCl.advanceSignedRdd(edges)
            else broadcastCl.advanceSignedRdd(edges)
          out.map(FromEdge)
        }
      }
  }

  /** General binary equijoin node — the batch `Compiler.join`
    * semantics (join on the TARGET vars only; output = target ++ left
    * rest ++ right rest; weights multiply) maintained from two support
    * tables co-partitioned by the join key: a batch recomputes old/new
    * products for exactly the keys it touches, partition-locally, one
    * O(delta) shuffle per side. The fallback for `Plan.Join` operands
    * that are not plain attribute patterns (those route through the
    * leaner Hector delta rule) — e.g. joins against inlined derived
    * views. */
  private final class JoinNode(
      left: Node, right: Node, target: Seq[PVar]) extends Node {
    private val lKey = target.map(left.vars.indexOf)
    private val rKey = target.map(right.vars.indexOf)
    UnmaintainablePlan.require(lKey.forall(_ >= 0) && rKey.forall(_ >= 0),
      s"join vars $target not bound by ${left.vars} / ${right.vars}")
    private def restIdx(vs: Seq[PVar]): Seq[Int] = {
      val seen = mutable.Set.empty[PVar]
      vs.zipWithIndex.collect {
        case (v, i) if !target.contains(v) && seen.add(v) => i }
    }
    private val lRestIdx = restIdx(left.vars)
    private val rRestIdx = restIdx(right.vars)
    val vars: Seq[PVar] =
      target ++ lRestIdx.map(left.vars) ++ rRestIdx.map(right.vars)
    val nodeKinds: Seq[ValueKind] = lKey.map(left.nodeKinds) ++
      lRestIdx.map(left.nodeKinds) ++ rRestIdx.map(right.nodeKinds)
    val attrs: Set[String] = left.attrs ++ right.attrs

    private val lPart = new IndexKeyPartitioner(shufflePartitions, lKey)
    private val rPart = new IndexKeyPartitioner(shufflePartitions, rKey)
    // Both partitioners hash the JOIN KEY columns, so one compound index
    // per partition holds a key's entire left and right support.
    private val cell = {
      val lz = GroupIndex.maker(lKey.map(left.nodeKinds), left.nodeKinds)
      val rz = GroupIndex.maker(rKey.map(right.nodeKinds), right.nodeKinds)
      stateCell[(GroupIndex, GroupIndex)](() => (lz(), rz()),
        { case (l, r) => l.bytes + r.bytes })
    }
    private val joined = new JoinedRow((lKey ++ lRestIdx).toArray, rRestIdx.toArray)

    def advance(attrDeltas: Map[String, Delta]): Delta =
      if (!touched(attrDeltas)) noDiff
      else {
        val dL = Exchange.sum(left.advance(attrDeltas), lPart).filter(NonZero)
        val dR = Exchange.sum(right.advance(attrDeltas), rPart).filter(NonZero)
        // Locals only: a field reference in the curried call would
        // capture the node (and its SparkSession) into the task closure.
        val (lk, rk2) = (lKey, rKey)
        cell.advance2(dL, dR)(IncrementalQuery.joinAdvanceIdx(lk, rk2)).map(joined)
      }
  }

  /** Maintained single pull level (`Plan.PullLevel` with pull
    * attributes) — the document-projection operator maintained as a
    * BILINEAR join per pulled attribute plus linear decoration:
    * Δ(child ⋈ attr) diffs computed per TOUCHED entity from two support
    * tables co-partitioned by the pull entity (the AntijoinNode state
    * discipline — a batch recomputes the old/new products of exactly
    * the entities it touches, partition-locally, one O(delta) shuffle
    * per side), then the batch compiler's decoration
    * ([[LinearRows.pullBranch]], the layout the batch `pullLevel` selects)
    * applied to the join diffs; the synthetic db__id branch is linear
    * in the child. Output is the exact diff of the batch `pullLevel`
    * relation (multiset: child weight × attribute weight). */
  private final class PullLevelNode(
      child: Node, pullVar: PVar, pullAttrs: Seq[String],
      pathAttrs: Seq[String], cardMany: Boolean) extends Node {
    private val eIdx = child.vars.indexOf(pullVar)
    UnmaintainablePlan.require(eIdx >= 0, s"pull variable $pullVar not bound by ${child.vars}")
    pullAttrs.foreach(a =>
      UnmaintainablePlan.require(kinds.contains(a), s"unknown pull attribute $a"))

    private def branch(attr: Option[(String, ValueKind)]) =
      LinearRows.pullBranch(child.nodeKinds, pathAttrs, cardMany, attr)
    val nodeKinds: Seq[ValueKind] =
      branch(Some((pullAttrs.head, kinds(pullAttrs.head)))).map(_._2)
    val vars: Seq[PVar] = nodeKinds.indices.map(i => -(i + 1))
    val attrs: Set[String] = child.attrs ++ pullAttrs

    private def rows(attr: Option[(String, ValueKind)]) =
      new LinearRows.Rows(Array(LinearRows.Layout(branch(attr).map(_._1).toArray)), 1L)
    private val attrRows = pullAttrs.map(a => rows(Some((a, kinds(a)))))
    private val idRows = rows(None)

    private val childPart = new IndexKeyPartitioner(shufflePartitions, Seq(eIdx))
    private val attrPart = new IndexKeyPartitioner(shufflePartitions, Seq(0))
    // Child and attribute supports both hash the pull ENTITY, so each
    // partition's indexes are co-resident for the bilinear diff.
    private val childCell = stateCell[GroupIndex](
      GroupIndex.maker(Seq(child.nodeKinds(eIdx)), child.nodeKinds), _.bytes)
    private val attrCells: Map[String, StateCell[GroupIndex]] =
      pullAttrs.map(a => a -> stateCell[GroupIndex](
        GroupIndex.maker(Seq(graft.model.ValueKind.KEid),
          Seq(graft.model.ValueKind.KEid, kinds(a))), _.bytes)).toMap

    def advance(attrDeltas: Map[String, Delta]): Delta =
      if (!touched(attrDeltas)) noDiff
      else {
        // Neither counted nor cut: every attribute's pass, the db__id
        // branch and the child commit read it inside the ledger's one
        // action, each re-reading the delta-sized shuffle output. A
        // cached copy would make those tasks of one stage wait on each
        // other for its blocks.
        val dChild = Exchange.sum(child.advance(attrDeltas), childPart).filter(NonZero)
        val branches = pullAttrs.zip(attrRows).map { case (a, rs) =>
          val dAttr = attrDeltas.get(a)
            .map(d => Exchange.sum(d, attrPart).filter(NonZero))
            .getOrElse(sc.emptyRDD[(Tup, Long)].partitionBy(attrPart))
          val eIdxL = eIdx
          val aCell = attrCells(a)
          // One pass per attribute: the bilinear diff against the OLD
          // child index (updated once, after the loop) with the attr
          // index updated in place; the child component of the compound
          // result is discarded.
          val stepped = aCell.rdd.zipPartitions(childCell.rdd, dChild,
            dAttr, preservesPartitioning = false) { (aIt, cIt, dcIt, daIt) =>
            val ((_, newA), out) =
              IncrementalQuery.joinAdvanceIdx(Seq(eIdxL), Seq(0))(
                (cIt.next(), aIt.next()), dcIt, daIt)
            Iterator.single((newA, out))
          }
          aCell.commit(stepped).map(WithPulled).mapPartitions(rs)
        }
        val eIdxK = Seq(eIdx) // local: no node capture in the closure
        // Nothing reads this commit's output; the ledger still
        // materializes it (and with it the child index's generation).
        childCell.advance1(dChild)(
          IncrementalQuery.supportAdvanceIdx(eIdxK))
        unionAll(
          if (pathAttrs.nonEmpty && !cardMany) branches :+ dChild.mapPartitions(idRows)
          else branches)
      }
  }

  /** Maintained multi-path Pull: per-path maintained relations, each
    * batch diff packed into the batch compiler's array<variant> form
    * (per-row linear — `Compiler.compile` Pull case) and unioned: the
    * exact diff of `Plan.Pull`. */
  private final class PullNode(paths: Seq[Node]) extends Node {
    val vars: Seq[PVar] = Seq(-1)
    val nodeKinds: Seq[ValueKind] = Seq(ValueKind.KVariant)
    override val pathArray: Boolean = true
    val attrs: Set[String] = paths.flatMap(_.attrs).toSet
    def advance(attrDeltas: Map[String, Delta]): Delta =
      if (!touched(attrDeltas)) noDiff
      else unionAll(paths.map(p =>
        p.advance(attrDeltas).map(new PackPath(p.nodeKinds.toArray))))
  }

  // ---- Plan → node tree ----------------------------------------------

  /** Attributes scanned by the linear parts of a subtree. */
  private def referencedAttrs(p: Plan): Set[String] = p match {
    case Plan.MatchA(_, a, _)            => Set(a)
    case Plan.MatchEA(_, a, _)           => Set(a)
    case Plan.MatchAV(_, a, _)           => Set(a)
    case Plan.Project(_, s)              => referencedAttrs(s)
    case Plan.Filter(_, _, s, _)         => referencedAttrs(s)
    case Plan.Transform(_, _, s, _, _)   => referencedAttrs(s)
    case Plan.Negate(s)                  => referencedAttrs(s)
    case Plan.PullAll(_, pas)            => pas.toSet
    case Plan.PullLevel(_, s, _, pas, _, _) => referencedAttrs(s) ++ pas
    case Plan.NameExpr(_, _)             => Set.empty // placeholder
    case other => sys.error(s"unexpected non-linear node $other in zone")
  }

  /** Build the stateful node for a non-linear operator. */
  private def buildStateful(p: Plan): Node = p match {
    case Plan.Hector(vs, bindings)
        if !bindings.exists(_.isInstanceOf[Binding.Not]) =>
      new HectorNode(vs, bindings)

    case Plan.Hector(vs, bindings) =>
      // Negation-as-antijoin, the batch compiler's lowering
      // (`Compiler.hector`, reference AntijoinBinding,
      // `src/plan/hector.rs:1494-1529`): the positive conjunction on its
      // FULL variable set, one multiset anti-join per Not on the shared
      // variables (const filters preserved in the not-scan), then the
      // target projection.
      val nots = bindings.collect { case Binding.Not(a: Binding.Attr) => a }
      UnmaintainablePlan.require(nots.lengthCompare(
        bindings.count(_.isInstanceOf[Binding.Not])) == 0,
        "Not bindings over non-attribute bindings are not executable")
      val pos = bindings.filterNot(_.isInstanceOf[Binding.Not])
      val attrVars = pos.collect { case a: Binding.Attr => a }
        .flatMap(a => Seq(a.e, a.v))
      val consts = pos.collect { case Binding.Const(x, v) => x -> v }.toMap
      val allVars = (attrVars ++ consts.keys).distinct
      var node: Node = new HectorNode(allVars, pos)
      nots.foreach { nb =>
        var notPlan: Plan = Plan.MatchA(nb.e, nb.a, nb.v)
        consts.get(nb.e).foreach(cv => notPlan =
          Plan.Filter(Seq(nb.e), Predicate.EQ, notPlan, Seq(None, Some(cv))))
        consts.get(nb.v).foreach(cv => notPlan =
          Plan.Filter(Seq(nb.v), Predicate.EQ, notPlan, Seq(None, Some(cv))))
        val shared = Seq(nb.e, nb.v).distinct.filter(node.vars.contains)
        UnmaintainablePlan.require(shared.nonEmpty, "Not binding shares no variable with prefix")
        node = new AntijoinNode(node,
          zoneOf(Plan.Project(shared, notPlan)),
          shared.map(node.vars.indexOf), distinctLeft = false)
      }
      if (node.vars == vs) node
      else new Zone(
        Plan.Project(vs, Plan.NameExpr(node.vars, "__notPrefix")),
        Map("__notPrefix" -> node))

    case Plan.Join(vs, l, r) =>
      // Every binary equijoin takes the general two-sided JoinNode: its
      // indexed StateCell supports probe exactly the touched keys per
      // batch, where the 2-binding Hector delta rule (the previous route
      // for pattern×pattern operands) STREAMS the full other-side state
      // through a broadcast join each batch. Same results — weights
      // multiply, target-vars-only key — one state class fewer in the
      // common path.
      new JoinNode(zoneOf(l), zoneOf(r), vs)

    case u @ Plan.Union(_, _)
        if IncrementalQuery.ruleRefs(u).exists(n => rules.get(n).contains(u)) =>
      // The plan IS a registered recursive rule's body (the engine hands
      // interestIncremental the body directly, not a NameExpr to it):
      // route through the same closure-form recognition.
      val rname =
        IncrementalQuery.ruleRefs(u).find(n => rules.get(n).contains(u)).get
      closureNodeOf(rname).getOrElse(generalRecursionNode(rname))

    case Plan.Union(vs, branches) =>
      new ThresholdNode(branches.map(b => zoneOf(Plan.Project(vs, b))))

    case Plan.Antijoin(vs, l, r) =>
      val lRest = Plan.boundVariables(l, _ => Seq.empty)
        .distinct.filterNot(vs.contains)
      new AntijoinNode(
        zoneOf(Plan.Project(vs ++ lRest, l)),
        zoneOf(Plan.Project(vs, r)),
        vs.indices, distinctLeft = true)

    case Plan.Aggregate(vs, child, fns, keyVars, aggVars, withVars) =>
      // Set-semantics aggregation runs over the DISTINCT input relation,
      // distinct-ed AFTER projecting to the aggregation tuple
      // (`Compiler.aggregate`: projectTo(key ++ value ++ with) then
      // distinctify — duplicate values across distinct wider rows dedup)
      // — maintained as a support threshold over the same projection.
      val aggChild =
        if (setSemantics) {
          val valueVars =
            (aggVars ++ withVars).distinct.filterNot(keyVars.contains)
          new ThresholdNode(Seq(zoneOf(
            Plan.Project(keyVars ++ valueVars, child))))
        } else zoneOf(child)
      new AggregateNode(aggChild, vs, fns, keyVars, aggVars, withVars)

    case Plan.PullLevel(_, child, pv, pullAttrs, pathAttrs, cardMany) =>
      // Only reached with pull attributes (the attribute-less form is
      // linear and lives in zones).
      new PullLevelNode(zoneOf(child), pv, pullAttrs, pathAttrs, cardMany)

    case Plan.Pull(_, paths) =>
      new PullNode(paths.map(zoneOf))

    case Plan.NameExpr(vs, rname) if rules.contains(rname) =>
      if (reachableFrom(rules(rname)).contains(rname)) {
        // RECURSIVE rule reference: the transitive-closure form takes
        // the specialized warm-start/DRed closure fast path; every
        // other monotone recursion (mutual, non-linear, label-prop
        // shapes) is maintained by the general clique node — together,
        // the recursion scope the reference maintains through
        // differential `iterate`.
        val inner = closureNodeOf(rname).getOrElse(generalRecursionNode(rname))
        UnmaintainablePlan.require(inner.vars.length == vs.length,
          s"NameExpr($vs, $rname): arity mismatch with ${inner.vars}")
        new RenameNode(inner, vs)
      } else {
        // Non-recursive rule reference: inline the referenced plan (the
        // batch compiler's compileRule + positional output rename).
        require(!building.contains(rname),
          s"rule $rname re-entered while inlining — unreachable for " +
            "non-recursive rules")
        building += rname
        val inner = try zoneOf(rules(rname)) finally building -= rname
        UnmaintainablePlan.require(inner.vars.length == vs.length,
          s"NameExpr($vs, $rname): arity mismatch with ${inner.vars}")
        new RenameNode(inner, vs)
      }

    case other => UnmaintainablePlan.reject(s"plan node not incrementally " +
      s"maintainable (batch engine's job): $other")
  }

  /** Rule names transitively reachable from a plan's references. */
  private def reachableFrom(p: Plan): Set[String] = {
    val seen = mutable.Set.empty[String]
    def go(q: Plan): Unit = IncrementalQuery.ruleRefs(q).foreach { n =>
      if (seen.add(n) && rules.contains(n)) go(rules(n))
    }
    go(p)
    seen.toSet
  }

  /** Recognize the transitive-closure form of a directly-recursive rule
    * and build its maintenance node:
    *
    *   rname(x, z) := Union( base(x, z),
    *                         Project(x z, Join(y, edge(x, y),
    *                                              rname(y, z))) )
    *
    * (branches in either order; the step also accepted right-linear as
    * `Join(y, rname(x, y), edge(y, z))`). `base` and `edge` must be the
    * SAME relation up to variable naming (α-canonical equality) and must
    * not reach the recursive rule. Returns None when the shape doesn't
    * match — the caller fails loudly with the scope message. */
  private def closureNodeOf(rname: String): Option[Node] = rules(rname) match {
    case Plan.Union(Seq(x, z), branches) if branches.length == 2 && x != z =>
      def stepEdge(b: Plan): Option[Plan] = b match {
        case Plan.Project(outs, Plan.Join(Seq(y), l, r))
            if outs == Seq(x, z) && y != x && y != z =>
          def bound(p: Plan): Seq[PVar] = Plan.boundVariables(p, _ => Seq.empty)
          (l, r) match {
            // left-linear: edge(x, y) ∘ closure(y, z)
            case (e, Plan.NameExpr(rv, `rname`))
                if rv == Seq(y, z) && bound(e) == Seq(x, y) &&
                  !reachableFrom(e).contains(rname) => Some(e)
            // right-linear: closure(x, y) ∘ edge(y, z)
            case (Plan.NameExpr(lv, `rname`), e)
                if lv == Seq(x, y) && bound(e) == Seq(y, z) &&
                  !reachableFrom(e).contains(rname) => Some(e)
            case _ => None
          }
        case _ => None
      }
      def isBase(b: Plan): Boolean =
        Plan.boundVariables(b, _ => Seq.empty) == Seq(x, z) &&
          !reachableFrom(b).contains(rname)
      Seq((branches(0), branches(1)), (branches(1), branches(0)))
        .collectFirst {
          case (b, s) if isBase(b) && stepEdge(s).exists(e =>
              IncrementalQuery.alphaCanon(e) == IncrementalQuery.alphaCanon(b)) =>
            new ClosureNode(zoneOf(b))
        }
    case _ => None
  }

  // ---- General maintained recursion (monotone rule cliques) ----------

  /** Build the GENERAL recursion node for a recursive rule outside the
    * transitive-closure fast path: the whole strongly-connected rule
    * clique containing `rname` is maintained together — mutual and
    * non-linear recursion included — the remainder of the reference's
    * maintained iterative scope (`src/lib.rs:933-1023`, differential
    * `iterate` closing every recursion variable under `distinct`).
    *
    * Algorithm (set semantics, exactly the batch fixpoint's):
    *  - ADDITIONS warm-start the semi-naive iteration from the stored
    *    fixpoint: round 0 evaluates each body's DELTA RULES w.r.t. the
    *    batch's input additions (one occurrence-variant per leaf
    *    reference, the added facts bound at that occurrence and
    *    broadcast, current totals elsewhere); later rounds w.r.t. the
    *    previous round's newly derived facts. Sound and exact for
    *    monotone bodies: every genuinely new derivation uses at least
    *    one new fact at some occurrence, and accumulated-set
    *    subtraction removes the overcount.
    *  - RETRACTIONS run textbook delete-and-rederive (DRed, the role
    *    differential's arrangement traces play in the reference):
    *    overdeletion iterates the same delta rules against the OLD
    *    totals (a fact is overdeleted iff SOME derivation passes
    *    through a deleted fact), then rederivation recovers overdeleted
    *    facts that survive on the remaining database — costing one full
    *    body evaluation per rule that lost facts (the textbook DRed
    *    step; the addition path and overdeletion stay
    *    delta-proportional) — then semi-naive rounds propagate the
    *    recovered facts' consequences.
    *
    * Every body evaluation is delegated to the unmodified BATCH
    * compiler over an env binding each leaf reference to a relation:
    * delta relations are marked `small` (join sites broadcast them; the
    * totals side is scanned narrow, never shuffled per round), totals
    * live as hash-partitioned checkpointed RDD sets (the RddKernel
    * state discipline; set algebra is per-partition streaming with
    * delta-sized hash tables). Inputs — attribute leaves and
    * references to rules OUTSIDE the clique (which may themselves be
    * maintained recursions of a lower stratum) — are maintained as
    * child nodes behind a support threshold, so the recursion sees
    * exactly the ±1 SET transitions of its input relations
    * (differential's `distinct` at the loop boundary).
    *
    * Maintainable bodies: monotone compositions of Match leaves,
    * Project, Filter, Transform, Join, Union, and rule references.
    * Negate/Antijoin/Aggregate/Hector inside a recursive body fail
    * loudly (non-monotone — or, Hector, expressible as a Join tree);
    * so do base-relation references. */
  private def generalRecursionNode(rname: String): Node = {
    val clique: Set[String] =
      (reachableFrom(rules(rname)) + rname).filter { n =>
        rules.contains(n) && reachableFrom(rules(n)).contains(rname) &&
          (reachableFrom(rules(rname)) + rname).contains(n)
      }

    val inputNodes = mutable.LinkedHashMap.empty[String, Node]
    // α-canonical leaf -> (input name, defining leaf's var → canon var)
    val leafInputs =
      mutable.LinkedHashMap.empty[Plan, (String, Map[PVar, PVar])]
    val ruleInputs = mutable.LinkedHashMap.empty[String, String]

    def canonWithMap(p: Plan): (Plan, Map[PVar, PVar]) = {
      val m = mutable.LinkedHashMap.empty[PVar, PVar]
      val cp = IncrementalQuery.mapVars(p, v => m.getOrElseUpdate(v, m.size))
      (cp, m.toMap)
    }

    // Equal-up-to-renaming leaves share ONE input (one threshold, one
    // state); each occurrence renames the shared node positionally.
    def leafRef(leaf: Plan): Plan = {
      val (canon, occMap) = canonWithMap(leaf)
      val (name, defMap) = leafInputs.getOrElseUpdate(canon, {
        val nm = s"@in${leafInputs.size}"
        inputNodes(nm) = new ThresholdNode(Seq(zoneOf(leaf)))
        (nm, occMap)
      })
      val occInv = occMap.map(_.swap)
      Plan.NameExpr(inputNodes(name).vars.map(v => occInv(defMap(v))), name)
    }

    def ruleRef(vs: Seq[PVar], n: String): Plan = {
      val name = ruleInputs.getOrElseUpdate(n, {
        val nm = s"@rule:$n"
        inputNodes(nm) = new ThresholdNode(Seq(zoneOf(Plan.NameExpr(vs, n))))
        nm
      })
      UnmaintainablePlan.require(inputNodes(name).vars.length == vs.length,
        s"NameExpr($vs, $n): arity mismatch with ${inputNodes(name).vars}")
      Plan.NameExpr(vs, name)
    }

    def rewrite(p: Plan): Plan = p match {
      case m @ (_: Plan.MatchA | _: Plan.MatchEA | _: Plan.MatchAV) =>
        leafRef(m)
      case Plan.Project(vs, s) => Plan.Project(vs, rewrite(s))
      case f: Plan.Filter      => f.copy(plan = rewrite(f.plan))
      case t: Plan.Transform   => t.copy(plan = rewrite(t.plan))
      case Plan.Join(vs, l, r) =>
        val nl = rewrite(l); Plan.Join(vs, nl, rewrite(r))
      case Plan.Union(vs, ps)  => Plan.Union(vs, ps.map(rewrite))
      case Plan.NameExpr(vs, n) if clique(n) => Plan.NameExpr(vs, n)
      case Plan.NameExpr(vs, n) if rules.contains(n) => ruleRef(vs, n)
      case Plan.NameExpr(_, n) => UnmaintainablePlan.reject(
        s"recursive rule clique of $rname references base relation $n " +
          "— not incrementally maintainable (batch engine's job)")
      case other => UnmaintainablePlan.reject(
        "non-monotone operator inside recursive rule (general " +
          "incremental recursion maintains the monotone fragment; " +
          s"batch engine's job): $other")
    }

    val bodies: Map[String, Plan] =
      clique.toSeq.sorted.map(r => r -> rewrite(rules(r))).toMap

    // Per-rule output signature from a BATCH probe compile over empty
    // inputs (the fixpoint on empty relations converges immediately) —
    // vars/kinds authority without re-deriving inference rules.
    val sig: Map[String, (Seq[PVar], Seq[ValueKind])] = {
      val src = new AttributeSource {
        def has(name: String): Boolean = kinds.contains(name)
        def kind(name: String): ValueKind = kinds(name)
        def unit(name: String): Boolean = false
        def collection(name: String): DataFrame =
          spark.createDataFrame(sc.emptyRDD[Row], StructType(Seq(
            StructField("e", LongType, false),
            StructField("v", kinds(name).dataType, true),
            StructField(Rel.W, LongType, false))))
        override def version: (Long, Long) = (0L, Long.MaxValue)
      }
      val comp = new Compiler(src, rules.map { case (n, p) => n -> Rule(n, p) })
      clique.toSeq.sorted.map { r =>
        val bv = rules(r) match {
          case Plan.Union(vs, _) => vs
          case b => Plan.boundVariables(b, _ => Seq.empty).distinct
        }
        val rel = comp.compile(Plan.NameExpr(bv, r), Map.empty)
          .getOrElse(UnmaintainablePlan.reject(s"recursive rule $r failed to compile"))
        r -> ((rel.vars, rel.kinds))
      }.toMap
    }

    new RecursionNode(rname, clique.toSeq.sorted, bodies,
      inputNodes.toSeq, sig)
  }

  /** General maintained recursion — see [[generalRecursionNode]] for
    * the algorithm; this class holds the state and the per-batch DRed +
    * warm-start drive. */
  private final class RecursionNode(
      target: String,
      clique: Seq[String],
      bodies: Map[String, Plan],
      inputs: Seq[(String, Node)],
      sig: Map[String, (Seq[PVar], Seq[ValueKind])]) extends Node {

    val vars: Seq[PVar] = sig(target)._1
    val nodeKinds: Seq[ValueKind] = sig(target)._2
    val attrs: Set[String] = inputs.flatMap(_._2.attrs).toSet

    private val part = new SeqKeyPartitioner(shufflePartitions)
    private type PSet = RDD[(Seq[Any], Null)]

    private def emptySet: PSet =
      sc.emptyRDD[(Seq[Any], Null)].partitionBy(part)

    private val recState = mutable.Map.empty[String, PSet]
    clique.foreach(r => recState(r) = emptySet)
    private val inputState = mutable.Map.empty[String, PSet]
    // Row count of each input's CURRENT state — free off the fused
    // state-commit jobs; the kernel broadcast's size gate reads it
    // instead of paying take()'s multi-job partition escalation.
    private val inputCount = mutable.Map.empty[String, Long]
    private val inputKinds: Map[String, Seq[ValueKind]] =
      inputs.map { case (n, node) => n -> node.nodeKinds }.toMap
    inputs.foreach { case (n, _) =>
      inputState(n) = emptySet
      inputCount(n) = 0L
    }

    // ---- set algebra: every operand is partitioned by `part`; the
    // delta-sized side is hash-built per partition, the other streams ----

    /** Checkpoint + materialize, returning the count the materializing
      * job already computed — round loops and emptiness gates read THIS
      * count instead of paying a second (cached, but still
      * scheduler-latency-priced) count job per round. */
    private def checkpointedC(s: PSet): (PSet, Long) = {
      val c = s.graftCheckpoint(); val n = c.count(); (c, n)
    }

    private def checkpointed(s: PSet): PSet = checkpointedC(s)._1

    private def asSet(rows: RDD[Seq[Any]]): PSet =
      Exchange.distinct(rows.map(k => (k, null: Null)), part)

    /** a − b, hash-building a (pass the delta-sized side first). */
    private def minus(a: PSet, b: PSet): PSet =
      a.zipPartitions(b, preservesPartitioning = true) { (aIt, bIt) =>
        val s = new java.util.LinkedHashMap[Seq[Any], Null]()
        aIt.foreach { case (k, _) => s.put(k, null) }
        bIt.foreach { case (k, _) => s.remove(k) }
        s.keySet().iterator().asScala.map(k => (k, null: Null))
      }

    /** a ∩ b, hash-building a (pass the delta-sized side first). */
    private def intersect(a: PSet, b: PSet): PSet =
      a.zipPartitions(b, preservesPartitioning = true) { (aIt, bIt) =>
        val s = new java.util.HashSet[Seq[Any]]()
        aIt.foreach { case (k, _) => s.add(k) }
        val out = mutable.ArrayBuffer.empty[(Seq[Any], Null)]
        bIt.foreach { case (k, _) => if (s.remove(k)) out += ((k, null)) }
        out.iterator
      }

    /** big − small, hash-building small, streaming big. */
    private def without(big: PSet, small: PSet): PSet =
      big.zipPartitions(small, preservesPartitioning = true) { (bIt, sIt) =>
        val s = new java.util.HashSet[Seq[Any]]()
        sIt.foreach { case (k, _) => s.add(k) }
        bIt.filter { case (k, _) => !s.contains(k) }
      }

    /** Compact a growing parts vector: past the chain bound, fold the
      * DISJOINT parts into one checkpointed set (narrow,
      * partitioner-aware) — otherwise every round's env plan and minus
      * chain grows linearly with accumulated rounds and the advance
      * goes quadratic in driver planning. */
    private def compactedParts(parts: Vector[PSet]): Vector[PSet] =
      if (parts.lengthCompare(8) <= 0) parts
      else Vector(checkpointed(disjointUnion(parts)))

    /** Union of DISJOINT same-partitioner sets — partitioner-aware, no
      * shuffle. */
    private def disjointUnion(ss: Seq[PSet]): PSet =
      if (ss.isEmpty) emptySet
      else if (ss.lengthCompare(1) == 0) ss.head
      else sc.union(ss)

    private def dfOf(ks: Seq[ValueKind], ss: Seq[PSet]): DataFrame = {
      val schema = StructType(ks.zipWithIndex.map { case (k, i) =>
        StructField(Rel.c(i), k.dataType, true)
      } :+ StructField(Rel.W, LongType, false))
      spark.createDataFrame(
        disjointUnion(ss).map { case (k, _) => Row.fromSeq(k :+ 1L) },
        schema)
    }

    private def relOf(ks: Seq[ValueKind], ss: Seq[PSet], isSmall: Boolean): Rel =
      Rel(ks.indices, ks, dfOf(ks, ss), small = isSmall,
        unit = true, distinct = true)

    /** Env over ALL leaf names a body can reference: each a totals
      * relation of base state plus in-flight round parts. */
    private def envOf(
        inputParts: Map[String, Seq[PSet]],
        recParts: Map[String, Seq[PSet]]): Map[String, Rel] =
      inputs.map { case (n, _) =>
        n -> relOf(inputKinds(n), inputParts(n), isSmall = false)
      }.toMap ++ clique.map { r =>
        r -> relOf(sig(r)._2, recParts(r), isSmall = false)
      }

    private val noAttrSrc = new AttributeSource {
      def has(name: String): Boolean = false
      def kind(name: String): ValueKind =
        UnmaintainablePlan.reject("rewritten recursion bodies reference no attributes")
      def unit(name: String): Boolean = true
      def collection(name: String): DataFrame =
        UnmaintainablePlan.reject("rewritten recursion bodies reference no attributes")
      override def version: (Long, Long) = (0L, Long.MaxValue)
    }

    private def evalSet(p: Plan, env: Map[String, Rel]): RDD[Seq[Any]] = {
      recursionPlanCount.incrementAndGet()
      new Compiler(noAttrSrc)
        .compile(p, env.map { case (k, v) => k -> Some(v) }) match {
        case Some(rel) =>
          deltaOf(rel.df).flatMap { case (t, w) => if (w > 0L) Some(t) else None }
        case None => sc.emptyRDD[Seq[Any]]
      }
    }

    /** The kernel/arrangement expansion for the single-rule linear
      * clique, else None (rounds then take the per-round Catalyst plan
      * path). Mirrors the dispatch in [[stepCandidates]]; resolved once
      * per round BATCH — the static generation cannot change inside a
      * phase's round loop. */
    private def expandFn(): Option[PSet => RDD[Seq[Any]]] =
      linearShape.map { sh =>
        kernelBroadcast() match {
          case Some(bc) => (d: PSet) => kernelExpand(sh, d, bc)
          case None =>
            val arr = kernelArrangement()
            (d: PSet) => arrExpand(sh, d, arr)
        }
      }

    /** Round-loop job batching (r19): up to `roundBatch` semi-naive
      * rounds chained LAZILY and materialized through one
      * [[CommitLedger.materialize]] job — a length-d kernel round chain costs
      * ⌈d/B⌉ scheduler round-trips instead of d. Round i expands round
      * i−1's delta and trims through the caller's `trim` (the phase's
      * intersect/minus-with-state chain) plus the in-batch
      * predecessors; rounds past the fixpoint are definitionally empty
      * (expand(∅)=∅) and cost empty partitions only. The caller consumes
      * the (set, count) pairs IN ORDER and stops at the first zero —
      * identical loop semantics, batched materialization. Kernel path
      * only: the per-round Catalyst path would pay B speculative plan
      * compiles. */
    private val roundBatch: Int = graft.kernel.RddKernel.RoundBatch

    private def batchedRounds(d0: PSet, expand: PSet => RDD[Seq[Any]],
        trim: PSet => PSet): Seq[(PSet, Long)] = {
      val chain = new Array[PSet](roundBatch)
      var prev = d0
      var i = 0
      while (i < roundBatch) {
        var s = trim(asSet(expand(prev)))
        var j = 0
        while (j < i) { s = minus(s, chain(j)); j += 1 }
        val c = s.graftCheckpoint()
        chain(i) = c
        prev = c
        i += 1
      }
      val counts = CommitLedger.materialize(sc, chain.toIndexedSeq)._1
      chain.toIndexedSeq.zip(counts.toIndexedSeq)
    }

    /** Drive one phase's round loop with kernel-path batching: `step`
      * is the existing one-round Catalyst fallback (first rounds over
      * input deltas, multi-rule cliques, no kernel), `trim` the phase's
      * per-candidate set refinement, `consume` registers a non-empty
      * round's set (parts vector, emission). Returns nothing — loop
      * state lives in the caller's closures. */
    private def driveRounds(
        initial: Seq[(String, Seq[ValueKind], PSet)],
        step: Seq[(String, Seq[ValueKind], PSet)] => Seq[(String, Seq[ValueKind], PSet)],
        trim: PSet => PSet,
        consume: PSet => Unit): Unit = {
      var roundDeltas = initial
      while (roundDeltas.nonEmpty) {
        val kernelCase = roundDeltas match {
          case Seq((dn, _, d)) if dn == target =>
            expandFn().map(f => (f, d))
          case _ => None
        }
        kernelCase match {
          case Some((f, d0)) =>
            var cont: Option[PSet] = None
            val it = batchedRounds(d0, f, trim).iterator
            var done = false
            while (it.hasNext && !done) {
              val (c, cn) = it.next()
              if (cn == 0L) done = true
              else { consume(c); cont = Some(c) }
            }
            roundDeltas =
              if (done) Seq.empty
              else cont.map(c => (target, sig(target)._2, c)).toSeq
          case None => roundDeltas = step(roundDeltas)
        }
      }
    }

    private def occCount(p: Plan, name: String): Int = p match {
      case Plan.NameExpr(_, `name`)      => 1
      case Plan.Project(_, s)            => occCount(s, name)
      case Plan.Filter(_, _, s, _)       => occCount(s, name)
      case Plan.Transform(_, _, s, _, _) => occCount(s, name)
      case Plan.Join(_, l, r) => occCount(l, name) + occCount(r, name)
      case Plan.Union(_, ps)  => ps.map(occCount(_, name)).sum
      case _                  => 0
    }

    private def replaceOcc(p: Plan, name: String, idx: Int): Plan = {
      var seen = 0
      def rw(q: Plan): Plan = q match {
        case Plan.NameExpr(vs, `name`) =>
          val i = seen; seen += 1
          if (i == idx) Plan.NameExpr(vs, name + "@d") else q
        case Plan.Project(vs, s) => Plan.Project(vs, rw(s))
        case f: Plan.Filter      => f.copy(plan = rw(f.plan))
        case t: Plan.Transform   => t.copy(plan = rw(t.plan))
        case Plan.Join(vs, l, r) => val nl = rw(l); Plan.Join(vs, nl, rw(r))
        case Plan.Union(vs, ps)  => Plan.Union(vs, ps.map(rw))
        case other               => other
      }
      rw(p)
    }

    // A single-rule clique with one recursive occurrence: the shape the
    // linear RDD kernel below can take.
    private val linearSingle: Boolean =
      clique.lengthCompare(1) == 0 && occCount(bodies(target), target) == 1

    /** Drop Union branches that do not contain the varied occurrence —
      * the batch fixpoint's `derivative` rule, applied per variant: a
      * branch without the delta derives only facts derivable WITHOUT
      * any delta fact (already in the accumulated set, or covered by
      * the variant that holds the delta there), so evaluating it every
      * round would shuffle full input relations for rows the subtract
      * discards. Unions on join operands AWAY from the delta keep all
      * branches (they are totals). */
    private def pruneToDelta(p: Plan, taggedName: String): Plan = {
      def has(q: Plan): Boolean = occCount(q, taggedName) > 0
      def prune(q: Plan): Plan = q match {
        case Plan.Union(vs, ps) if ps.exists(has) =>
          Plan.Union(vs, ps.filter(has).map(prune))
        case u: Plan.Union       => u
        case Plan.Project(vs, s) => Plan.Project(vs, prune(s))
        case f: Plan.Filter      => f.copy(plan = prune(f.plan))
        case t: Plan.Transform   => t.copy(plan = prune(t.plan))
        case Plan.Join(vs, l, r) => val nl = prune(l); Plan.Join(vs, nl, prune(r))
        case other               => other
      }
      prune(p)
    }

    /** ONE delta-rule plan for rule `r` over every (deltaName → delta)
      * of the round: the union of all occurrence variants (the delta
      * bound broadcast-small at the varied occurrence, totals
      * elsewhere, non-delta union branches pruned), compiled and
      * planned ONCE — per-round Catalyst cost is per RULE, not per
      * occurrence, and the Union root already set-distincts the
      * candidates. */
    private def roundStep(
        r: String,
        deltas: Seq[(String, Seq[ValueKind], PSet)],
        env: Map[String, Rel]): Option[RDD[Seq[Any]]] = {
      val body = bodies(r)
      val variants = deltas.flatMap { case (dn, _, _) =>
        (0 until occCount(body, dn)).map(i =>
          pruneToDelta(replaceOcc(body, dn, i), dn + "@d"))
      }
      if (variants.isEmpty) None
      else {
        val denv = env ++ deltas.map { case (dn, dk, ds) =>
          (dn + "@d") -> relOf(dk, Seq(ds), isSmall = true)
        }
        val plan =
          if (variants.lengthCompare(1) == 0) variants.head
          else Plan.Union(sig(r)._1, variants)
        Some(evalSet(plan, denv))
      }
    }

    // ---- linear RDD kernel (general linear recursion) -----------------
    // For a single-rule LINEAR clique whose delta rule reduces — modulo
    // Project/Filter layers — to `static ⋈ Δrec` with the recursive
    // reference a BARE NameExpr and `static` built purely from input
    // relations, the DEEP delta rounds skip Catalyst entirely: the
    // static side is evaluated once per phase (cached across advances,
    // rebuilt only when an input feeding it changes), collected and
    // broadcast (size-gated exactly like the batch fixpoint's kernel),
    // and each round expands the delta map-side — per-round cost is one
    // RDD job, independent of round count. This is the maintained analog
    // of the batch `kernelLinear` for the labelprop/reachability/TC
    // family (reference workload: `experiments/src/bin/labelprop.rs:
    // 23-62`); only the FIRST round of a phase (input-delta variants)
    // and non-matching shapes pay a Catalyst plan.
    private final case class LinearShape(
        keyIdxRec: Array[Int],         // join-key positions in the rec tuple
        keyIdxStatic: Array[Int],      // join-key positions in a static row
        recipe: Array[(Boolean, Int)], // output cols: (fromRec, position)
        filterFns: Array[(Seq[Any], Array[Any]) => Boolean],
        staticPlan: Plan,
        staticCols: Int,
        staticInputs: Set[String])     // input names feeding the static side

    private val linearShape: Option[LinearShape] = detectLinearShape()

    private def detectLinearShape(): Option[LinearShape] = {
      if (!linearSingle) return None
      val dn = target + "@d"
      val variant = pruneToDelta(replaceOcc(bodies(target), target, 0), dn)
      // roundStep evaluates exactly this single variant for deep rounds.
      val (outVars, core) = variant match {
        case Plan.Union(vs, Seq(b)) => (vs, b)
        case _                      => return None
      }
      if (outVars != sig(target)._1) return None
      var filters = List.empty[Plan.Filter]
      def unwrap(p: Plan): Option[Plan.Join] = p match {
        case j: Plan.Join       => Some(j)
        case Plan.Project(_, x) => unwrap(x)
        case f: Plan.Filter     => filters ::= f; unwrap(f.plan)
        case _                  => None
      }
      val j = unwrap(core).getOrElse(return None)
      val (recVars, staticPlan) = (j.leftPlan, j.rightPlan) match {
        case (Plan.NameExpr(rv, `dn`), s) if occCount(s, dn) == 0 => (rv, s)
        case (s, Plan.NameExpr(rv, `dn`)) if occCount(s, dn) == 0 => (rv, s)
        case _ => return None
      }
      if (recVars.distinct != recVars) return None
      val joinVars = j.variables
      if (!joinVars.forall(recVars.contains)) return None
      // Static-side signature from a probe compile over empty inputs.
      val probeEnv = inputs.map { case (n, _) =>
        n -> (Some(relOf(inputKinds(n), Seq(emptySet), isSmall = false))
          : Option[Rel])
      }.toMap
      val sRel = new Compiler(noAttrSrc).compile(staticPlan, probeEnv)
        .getOrElse(return None)
      val sVars = sRel.vars
      if (sVars.distinct != sVars || !joinVars.forall(sVars.contains))
        return None
      val recipe: Array[(Boolean, Int)] = outVars.map { v =>
        val ri = recVars.indexOf(v)
        if (ri >= 0) (true, ri)
        else {
          val si = sVars.indexOf(v)
          if (si < 0) return None
          (false, si)
        }
      }.toArray
      // Filters compile to JVM predicates over (rec tuple, static row) —
      // the batch kernel's gates: EQ/NEQ on any scalar (universal equals
      // == Catalyst equality for scalars), ordering only on long-backed
      // kinds so JVM comparison matches Catalyst's exactly.
      import graft.model.{Predicate, Value}
      def longKind(k: ValueKind): Boolean =
        k == ValueKind.KNumber || k == ValueKind.KEid || k == ValueKind.KInstant
      type Op = (Boolean, Int)
      def operandOf(v: PVar): Option[Op] = {
        val ri = recVars.indexOf(v)
        if (ri >= 0) Some((true, ri))
        else {
          val si = sVars.indexOf(v)
          if (si < 0) None else Some((false, si))
        }
      }
      val recKinds = sig(target)._2
      def kindOf(o: Op): ValueKind =
        if (o._1) recKinds(o._2) else sRel.kinds(o._2)
      def asLongK(x: Any): Long = x match {
        case l: Long => l
        case i: Int  => i.toLong
        case other   => sys.error(s"kernel filter expected a long, got $other")
      }
      def check(pred: Predicate, a: Any, b: Any): Boolean =
        // Catalyst three-valued logic: any null operand fails the filter.
        if (a == null || b == null) false
        else pred match {
          case Predicate.EQ  => a == b
          case Predicate.NEQ => a != b
          case Predicate.LT  => asLongK(a) < asLongK(b)
          case Predicate.LTE => asLongK(a) <= asLongK(b)
          case Predicate.GT  => asLongK(a) > asLongK(b)
          case Predicate.GTE => asLongK(a) >= asLongK(b)
        }
      def value(o: Op, t: Seq[Any], s: Array[Any]): Any =
        if (o._1) t(o._2) else s(o._2)
      val filterFns: Array[(Seq[Any], Array[Any]) => Boolean] =
        filters.map { f =>
          val ordering = f.predicate match {
            case Predicate.EQ | Predicate.NEQ => false
            case _                            => true
          }
          def constOk(k: Value): Boolean = !ordering ||
            k.isInstanceOf[Value.VNumber] || k.isInstanceOf[Value.VEid] ||
            k.isInstanceOf[Value.VInstant]
          val o0 = operandOf(f.variables(0)).getOrElse(return None)
          if (ordering && !longKind(kindOf(o0))) return None
          val pred = f.predicate
          (f.constants.lift(0).flatten, f.constants.lift(1).flatten) match {
            case (Some(k), _) =>
              if (!constOk(k)) return None
              val kn = k.native
              (t: Seq[Any], s: Array[Any]) => check(pred, kn, value(o0, t, s))
            case (_, Some(k)) =>
              if (!constOk(k)) return None
              val kn = k.native
              (t: Seq[Any], s: Array[Any]) => check(pred, value(o0, t, s), kn)
            case _ =>
              val o1 = operandOf(f.variables(1)).getOrElse(return None)
              if (ordering && !longKind(kindOf(o1))) return None
              (t: Seq[Any], s: Array[Any]) =>
                check(pred, value(o0, t, s), value(o1, t, s))
          }
        }.toArray
      Some(LinearShape(
        joinVars.map(recVars.indexOf).toArray,
        joinVars.map(sVars.indexOf).toArray,
        recipe, filterFns, staticPlan, sVars.length,
        IncrementalQuery.ruleRefs(staticPlan).toSet))
    }

    // Static-side broadcast, generation-keyed: `staticGen` bumps whenever
    // the state of an input feeding the static side changes, so each
    // phase's rounds see exactly the inputState the Catalyst path would.
    // A None value at the current generation records a failed size gate
    // (static too big to broadcast) — rounds fall back to the plan path.
    private var staticGen = 0L
    private var staticBcGen = -1L
    private var staticBcVal: Option[org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[Seq[Any], Array[Array[Any]]]]] = None

    private def noteInputChanged(n: String, delta: PSet, isAdd: Boolean): Unit =
      if (linearShape.exists(_.staticInputs(n))) {
        staticGen += 1
        // Bare-input static with a live arrangement: maintain it in
        // place (O(delta + touched keys)) and keep the generation
        // current; anything else leaves the arrangement stale for a
        // per-generation rebuild at next use.
        if (staticBareInput.contains(n) && staticArrVal.isDefined) {
          maintainArr(delta, isAdd)
          staticArrGen = staticGen
        }
      }

    private def kernelBroadcast(): Option[org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[Seq[Any], Array[Array[Any]]]]] = {
      val sh = linearShape.get
      if (staticBcGen == staticGen) return staticBcVal
      staticBcVal.foreach(_.unpersist(blocking = false))
      staticBcVal = None
      staticBcGen = staticGen
      val env = inputs.map { case (n, _) =>
        n -> relOf(inputKinds(n), Seq(inputState(n)), isSmall = false)
      }.toMap
      // Broadcasts disabled (threshold ≤ 0) admit no static side: the
      // partitioned arrangement takes it, as past the gate.
      val rowBytes = 24L * sh.staticCols + 8L
      val maxRows = graft.kernel.RddKernel.broadcastRowCap(spark, rowBytes)
      if (maxRows <= 0L) return None
      val cap = math.min(maxRows, Int.MaxValue.toLong - 1L).toInt
      // Bare-input static: the size gate reads the input state's known
      // count (zero jobs — maintained by the fused state commits; the
      // NameExpr rename is bijective, so the evaluated row count IS the
      // state count), and a collect replaces take()'s multi-job
      // partition escalation. Derived statics keep the capped take.
      val taken: Array[Seq[Any]] = staticBareInput match {
        case Some(n) =>
          if (!graft.kernel.RddKernel.broadcastable(spark, inputCount(n), rowBytes))
            return None
          evalSet(sh.staticPlan, env).collect()
        case None =>
          val t = evalSet(sh.staticPlan, env).take(cap + 1)
          if (t.length > cap) return None
          t
      }
      val m = new java.util.HashMap[Seq[Any], Array[Array[Any]]]()
      val keyIdx = sh.keyIdxStatic
      taken.groupBy { t =>
        val k = new Array[Any](keyIdx.length); var i = 0
        while (i < keyIdx.length) { k(i) = t(keyIdx(i)); i += 1 }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(k): Seq[Any]
      }.foreach { case (k, vs) => m.put(k, vs.map(_.toArray).toArray) }
      staticBcVal = Some(sc.broadcast(m))
      staticBcVal
    }

    // ---- partitioned static arrangement (static past the broadcast
    // gate): the DistributedClosure-style sibling that removes the
    // kernel's ceiling. The static join index lives as one immutable
    // hash map per partition — join key → matching static rows, keyed
    // under the same SeqKeyPartitioner as every PSet — wrapped in a
    // declared-size [[GraftSizedValue]], localCheckpointed, and reused
    // by EVERY deep round. A round re-keys its delta by the join key
    // (one O(frontier) shuffle — the cost DistributedClosure documents
    // for losing map-side k-hop batching) and probes partition-locally;
    // no Catalyst plan, no state-sized work. When the static side is a
    // BARE input reference (the labelprop/reachability family), input
    // changes MAINTAIN the index by structural-sharing updates —
    // O(delta + touched keys) per advance, the StateCell discipline —
    // instead of invalidating it; derived static plans invalidate and
    // rebuild once per changed generation.
    import IncrementalQuery.{ArrIndex, sizedArr}
    private type StaticArr = RDD[org.apache.spark.util.GraftSizedValue[ArrIndex]]
    private var staticArrGen = -1L
    private var staticArrVal: Option[StaticArr] = None
    private var staticArrPrev: Option[StaticArr] = None

    /** The input whose tuples ARE the static rows — Some iff the static
      * plan is a bare `NameExpr` over one input (vars distinct was
      * checked by the shape detector), enabling incremental index
      * maintenance. */
    private val staticBareInput: Option[String] = linearShape.flatMap {
      sh => sh.staticPlan match {
        case Plan.NameExpr(_, n) if inputs.exists(_._1 == n) => Some(n)
        case _                                               => None
      }
    }

    /** Re-key a tuple set by the static join key (the one O(delta) or
      * O(frontier) shuffle of arrangement ops). */
    private def keyedByStatic(keyIdx: Array[Int],
        rows: RDD[Seq[Any]]): RDD[(Seq[Any], Seq[Any])] =
      rows.map { t =>
        val k = new Array[Any](keyIdx.length); var i = 0
        while (i < keyIdx.length) { k(i) = t(keyIdx(i)); i += 1 }
        (scala.collection.immutable.ArraySeq.unsafeWrapArray(k): Seq[Any], t)
      }.partitionBy(part)

    /** Commit a stepped arrangement generation: checkpoint, rebind,
      * eagerly drop the superseded generation (the StateCell rule — a
      * commit transiently holds two generations). */
    private def commitArr(next: StaticArr): StaticArr = {
      val mat = next.graftCheckpoint()
      mat.count()
      staticArrPrev.foreach(org.apache.spark.GraftUnpersist(_))
      staticArrPrev = Some(mat)
      staticArrVal = Some(mat)
      mat
    }

    private def kernelArrangement(): StaticArr = {
      val sh = linearShape.get
      if (staticArrGen == staticGen) return staticArrVal.get
      staticArrGen = staticGen
      val env = inputs.map { case (n, _) =>
        n -> relOf(inputKinds(n), Seq(inputState(n)), isSmall = false)
      }.toMap
      val cols = sh.staticCols
      val keyed = keyedByStatic(sh.keyIdxStatic, evalSet(sh.staticPlan, env))
      val arr: StaticArr = keyed.mapPartitions { it =>
        val tmp = new java.util.HashMap[Seq[Any], mutable.ArrayBuffer[Array[Any]]]()
        var n = 0L
        it.foreach { case (k, row) =>
          tmp.computeIfAbsent(k, _ => mutable.ArrayBuffer.empty) += row.toArray
          n += 1
        }
        val b = scala.collection.immutable.HashMap
          .newBuilder[Seq[Any], Array[Array[Any]]]
        tmp.forEach((k, vs) => b += k -> vs.toArray)
        Iterator.single(sizedArr(ArrIndex(b.result(), n), cols))
      }
      val built = commitArr(arr)
      built
    }

    /** Structural-sharing index maintenance for a bare-input static
      * side: apply the input's add/delete set transition to the touched
      * join keys only. Called from the SAME points that bump
      * `staticGen`, so the arrangement tracks `inputState` exactly;
      * `staticArrGen` follows, keeping [[kernelArrangement]] a no-op. */
    private def maintainArr(delta: PSet, isAdd: Boolean): Unit = {
      val arr = staticArrVal.getOrElse(return)
      val sh = linearShape.get
      val cols = sh.staticCols
      val keyed = keyedByStatic(sh.keyIdxStatic, delta.keys)
      val next: StaticArr =
        arr.zipPartitions(keyed, preservesPartitioning = false) { (aIt, dIt) =>
          val ix = aIt.next().value
          var m = ix.m; var rows = ix.rows
          dIt.foreach { case (k, t) =>
            val row = t.toArray
            val cur = m.getOrElse(k, null)
            if (isAdd) {
              m = m.updated(k,
                if (cur == null) Array(row) else cur :+ row)
              rows += 1
            } else if (cur != null) {
              val kept = cur.filterNot(_.sameElements(row))
              rows -= (cur.length - kept.length)
              m = if (kept.isEmpty) m.removed(k) else m.updated(k, kept)
            }
          }
          Iterator.single(sizedArr(ArrIndex(m, rows), cols))
        }
      commitArr(next)
    }

    /** One arrangement round: re-key the delta by the join key and
      * probe the co-partitioned static index in place. Semantics match
      * [[kernelExpand]] hop 1 exactly (same filters, same recipe); the
      * caller's dedup/subtract trims rediscoveries identically. */
    private def arrExpand(sh: LinearShape, delta: PSet,
        arr: StaticArr): RDD[Seq[Any]] = {
      val keyIdx = sh.keyIdxRec
      val recipe = sh.recipe
      val fns = sh.filterFns
      val keyed = delta.map { case (t, _) =>
        val k = new Array[Any](keyIdx.length); var i = 0
        while (i < keyIdx.length) { k(i) = t(keyIdx(i)); i += 1 }
        (scala.collection.immutable.ArraySeq.unsafeWrapArray(k): Seq[Any], t)
      }.partitionBy(part)
      arr.zipPartitions(keyed, preservesPartitioning = false) { (mIt, dIt) =>
        val m = mIt.next().value.m
        dIt.flatMap { case (k, t) =>
          val rows = m.getOrElse(k, null)
          if (rows == null) Iterator.empty
          else rows.iterator
            .filter { s =>
              var ok = true; var fi = 0
              while (ok && fi < fns.length) { ok = fns(fi)(t, s); fi += 1 }
              ok
            }
            .map { s =>
              val out = new Array[Any](recipe.length); var oi = 0
              while (oi < recipe.length) {
                val (fromRec, idx) = recipe(oi)
                out(oi) = if (fromRec) t(idx) else s(idx)
                oi += 1
              }
              scala.collection.immutable.ArraySeq.unsafeWrapArray(out): Seq[Any]
            }
        }
      }
    }

    /** One kernel round: expand the target-relation delta through the
      * broadcast static side entirely map-side — no Catalyst plan, no
      * shuffle (the caller's dedup/subtract is the round's one shuffle,
      * exactly as on the plan path).
      *
      * K-HOP BATCHING (the batch kernel's trick): a kernel output tuple
      * IS a target-relation tuple, so it can expand through the
      * broadcast again WITHOUT leaving the task — each round prepays up
      * to k hops map-side under a per-partition budget. Prepaid
      * candidates are only that: anything truncated lands in the next
      * round's delta and is expanded then; extras are subtracted by the
      * caller (additions) or intersected with state (overdeletion —
      * overdeleting a superset is DRed-safe, rederivation restores it).
      * Deep thin recursions drop from O(depth) to O(depth/k) jobs. */
    private def kernelExpand(sh: LinearShape, delta: PSet,
        bc: org.apache.spark.broadcast.Broadcast[
          java.util.HashMap[Seq[Any], Array[Array[Any]]]]): RDD[Seq[Any]] = {
      val keyIdx = sh.keyIdxRec
      val recipe = sh.recipe
      val fns = sh.filterFns
      val kHops = graft.kernel.RddKernel.KernelHops
      val hopBudget = 1 << 16
      delta.mapPartitions { it =>
        val m = bc.value
        def expandOne(t: Seq[Any]): Iterator[Seq[Any]] = {
          val kArr = new Array[Any](keyIdx.length); var i = 0
          while (i < keyIdx.length) { kArr(i) = t(keyIdx(i)); i += 1 }
          val arr = m.get(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(kArr): Seq[Any])
          if (arr == null) Iterator.empty
          else arr.iterator
            .filter { s =>
              var ok = true; var fi = 0
              while (ok && fi < fns.length) { ok = fns(fi)(t, s); fi += 1 }
              ok
            }
            .map { s =>
              val out = new Array[Any](recipe.length); var oi = 0
              while (oi < recipe.length) {
                val (fromRec, idx) = recipe(oi)
                out(oi) = if (fromRec) t(idx) else s(idx)
                oi += 1
              }
              scala.collection.immutable.ArraySeq.unsafeWrapArray(out): Seq[Any]
            }
        }
        // Hop 1 streams in O(1) memory; a budget-capped sample of its
        // candidates seeds hops 2..k (Iterator.++'s right side is
        // by-name: it runs only after hop 1 is exhausted).
        val seen = new java.util.LinkedHashSet[Seq[Any]]()
        val hop1 = it.flatMap { case (t, _) =>
          expandOne(t).map { c =>
            if (seen.size < hopBudget) seen.add(c)
            c
          }
        }
        hop1 ++ locally {
          val extra = mutable.ArrayBuffer.empty[Seq[Any]]
          var frontier: Array[Seq[Any]] = {
            import scala.jdk.CollectionConverters._
            seen.iterator.asScala.toArray
          }
          var hop = 1
          while (hop < kHops && frontier.nonEmpty && seen.size < hopBudget) {
            val next = mutable.ArrayBuffer.empty[Seq[Any]]
            val cs = frontier.iterator.flatMap(expandOne)
            while (cs.hasNext && seen.size < hopBudget) {
              val c = cs.next()
              if (seen.add(c)) { next += c; extra += c }
            }
            frontier = next.toArray
            hop += 1
          }
          extra.iterator
        }
      }
    }

    /** Candidates for rule `r` this round: the linear kernel when the
      * round delta IS the target relation (every deep round of a linear
      * clique — zero Catalyst planning): broadcast static under the byte
      * gate, the partitioned arrangement past it (no ceiling); the
      * general delta-rule plan otherwise (the first round over input
      * deltas, multi-rule cliques). */
    private def stepCandidates(
        r: String,
        roundDeltas: Seq[(String, Seq[ValueKind], PSet)],
        env: => Map[String, Rel]): Option[RDD[Seq[Any]]] =
      (linearShape, roundDeltas) match {
        case (Some(sh), Seq((dn, _, d))) if dn == target && r == target =>
          kernelBroadcast() match {
            case Some(bc) => Some(kernelExpand(sh, d, bc))
            case None     => Some(arrExpand(sh, d, kernelArrangement()))
          }
        case _ => roundStep(r, roundDeltas, env)
      }

    // Construction-time validation: each rewritten body compiles against
    // empty inputs and reproduces the probe signature.
    locally {
      val env0 = envOf(
        inputs.map { case (n, _) => n -> Seq(emptySet) }.toMap,
        clique.map(r => r -> Seq(emptySet)).toMap)
      clique.foreach { r =>
        val rel = new Compiler(noAttrSrc)
          .compile(bodies(r), env0.map { case (k, v) => k -> Some(v) })
          .getOrElse(UnmaintainablePlan.reject(s"rewritten recursive body failed to compile: $r"))
        require(rel.vars == sig(r)._1 && rel.kinds == sig(r)._2,
          s"rewritten body signature mismatch for $r: " +
            s"(${rel.vars}, ${rel.kinds}) vs ${sig(r)}")
      }
    }

    /** The batch fixpoint's per-round conf (thread-local, never session
      * global): each round is a new SMALL plan, so whole-stage codegen
      * compilation and constraint-propagation lineage walks cost more
      * driver time than they save in executor time at per-round data
      * sizes. Its AQE-off setting does not take effect on Spark 4.1:
      * `InsertAdaptiveSparkPlan` reads the session's conf, not the
      * thread's (`TunedControlScopeSpec`). */
    private def tuned[T](f: => T): T = {
      val c = org.apache.spark.sql.internal.SQLConf.get.clone()
      c.setConfString("spark.sql.adaptive.enabled", "false")
      c.setConfString("spark.sql.codegen.wholeStage", "false")
      c.setConfString("spark.sql.constraintPropagation.enabled", "false")
      org.apache.spark.sql.internal.SQLConf.withExistingConf(c)(f)
    }

    def advance(attrDeltas: Map[String, Delta]): Delta = {
      if (!touched(attrDeltas)) return noDiff
      // Input SET transitions (children threshold internally; their
      // outputs derive from checkpointed state, so reading adds and dels
      // re-reads the checkpoint, not the maintenance pass). Children run
      // under the USER conf like every other node; only the recursion's
      // internal round evaluations take the tuned conf.
      // ONE job materializes EVERY touched input's adds/dels
      // localCheckpoints and returns all counts: the union action
      // computes (and caches) every partition, and doCheckpoint then
      // truncates every marked branch. This was 4 jobs (2 materializing
      // counts + 2 cached re-counts) per touched input per advance
      // before r18, and one fused job PER INPUT until r19 fused across
      // inputs too. The children's commits may still be pending on the
      // open ledger: this job computes (and caches) their outputs, and
      // the ledger's action truncates them.
      val built = inputs.map { case (n, node) =>
        val rdd = node.advance(attrDeltas)
        val adds = asSet(rdd.filter(_._2 > 0L).keys).graftCheckpoint()
        val dels = asSet(rdd.filter(_._2 < 0L).keys).graftCheckpoint()
        (n, adds, dels)
      }
      val tcounts = CommitLedger.materialize(sc,
        built.flatMap { case (_, a, d) => Seq(a, d) })._1
      val trans = built.zipWithIndex.map { case ((n, adds, dels), i) =>
        (n, adds, dels, tcounts(2 * i), tcounts(2 * i + 1))
      }
      val anyAdd = trans.exists(_._4 > 0L)
      val anyDel = trans.exists(_._5 > 0L)
      if (!anyAdd && !anyDel) return noDiff
      tuned { advancePhases(trans, anyAdd, anyDel) }
    }

    // True once any batch has touched the fixpoint state — gates the
    // bulk-delegation fast path without a per-advance emptiness job.
    private var primed = false

    private def advancePhases(
        trans: Seq[(String, PSet, PSet, Long, Long)],
        anyAdd: Boolean, anyDel: Boolean): Delta = {
      val bulkEligible = !primed && !anyDel && anyAdd
      primed = true
      val emitted = mutable.ArrayBuffer.empty[RDD[(Seq[Any], Long)]]

      // ---- deletions: delete-and-rederive ----
      if (anyDel) {
        val envOld = envOf(
          inputs.map { case (n, _) => n -> Seq(inputState(n)) }.toMap,
          clique.map(r => r -> Seq(recState(r))).toMap)
        val over = mutable.Map.empty[String, Vector[PSet]]
        clique.foreach(r => over(r) = Vector.empty)
        driveRounds(
          initial = trans.collect { case (n, _, dels, _, dc) if dc > 0L =>
            (n, inputKinds(n), dels) },
          step = rd => clique.flatMap { r =>
            stepCandidates(r, rd, envOld).flatMap { cand =>
              var s = intersect(asSet(cand), recState(r))
              over(r).foreach(o => s = minus(s, o))
              val (c, cn) = checkpointedC(s)
              if (cn == 0L) None
              else {
                over(r) = compactedParts(over(r) :+ c)
                Some((r, sig(r)._2, c))
              }
            }
          },
          trim = { s0 =>
            var s = intersect(s0, recState(target))
            over(target).foreach(o => s = minus(s, o))
            s
          },
          consume = c => over(target) = compactedParts(over(target) :+ c))
        // Fused input-state retraction commit: every touched input's new
        // state materializes through ONE job; counts land in inputCount
        // (the kernel broadcast gate reads them for free).
        locally {
          val upd = trans.collect { case (n, _, dels, _, dc) if dc > 0L =>
            (n, dels) }
          if (upd.nonEmpty) {
            val next = upd.map { case (n, dels) =>
              without(inputState(n), dels).graftCheckpoint() }
            val cs = CommitLedger.materialize(sc, next)._1
            upd.zip(next).zipWithIndex.foreach { case (((n, dels), st), i) =>
              inputState(n) = st
              inputCount(n) = cs(i)
              noteInputChanged(n, dels, isAdd = false)
            }
          }
        }
        if (clique.exists(r => over(r).nonEmpty)) {
          // Fused: every rule's overdelete total AND its keep set
          // materialize through one job. keep reads the already cut
          // overdelete parts, not the pending overTotal cut: two tasks of
          // that one stage asking for the same pending block would wait
          // on each other's write.
          val overTotal: Map[String, PSet] = clique.map { r =>
            r -> (if (over(r).isEmpty) emptySet
                  else disjointUnion(over(r)).graftCheckpoint())
          }.toMap
          val keep: Map[String, PSet] = clique.map { r =>
            r -> without(recState(r), disjointUnion(over(r))).graftCheckpoint()
          }.toMap
          CommitLedger.materialize(sc,
            clique.filter(r => over(r).nonEmpty).map(overTotal) ++
              clique.map(keep))
          val redv = mutable.Map.empty[String, Vector[PSet]]
          clique.foreach(r => redv(r) = Vector.empty)
          // Round 0: one full body evaluation per rule that lost facts —
          // the textbook DRed rederivation cost.
          val envKeep = envOf(
            inputs.map { case (n, _) => n -> Seq(inputState(n)) }.toMap,
            clique.map(r => r -> Seq(keep(r))).toMap)
          var roundR: Seq[(String, Seq[ValueKind], PSet)] =
            clique.flatMap { r =>
              if (over(r).isEmpty) None
              else {
                // Full body evaluation (the textbook DRed rederivation
                // cost), head-restricted to the overdeleted facts by an
                // equijoin on every head var — the overdelete set is
                // delta-sized and broadcast, so the restriction costs
                // nothing and the downstream set ops see |O|, not
                // |step(F)|, rows.
                val hv = sig(r)._1
                val restricted = Plan.Join(hv, bodies(r),
                  Plan.NameExpr(hv, "@over"))
                val envR = envKeep +
                  ("@over" -> relOf(sig(r)._2, Seq(overTotal(r)), isSmall = true))
                val (c, cn) = checkpointedC(intersect(
                  overTotal(r), asSet(evalSet(restricted, envR))))
                if (cn == 0L) None
                else {
                  redv(r) = compactedParts(redv(r) :+ c)
                  Some((r, sig(r)._2, c))
                }
              }
            }
          driveRounds(
            initial = roundR,
            step = rd => {
              // By-name: kernel rounds never build the env (driver cost).
              lazy val envK = envOf(
                inputs.map { case (n, _) => n -> Seq(inputState(n)) }.toMap,
                clique.map(r => r -> (keep(r) +: redv(r))).toMap)
              clique.flatMap { r =>
                stepCandidates(r, rd, envK).flatMap { cand =>
                  var s = intersect(asSet(cand), overTotal(r))
                  redv(r).foreach(o => s = minus(s, o))
                  val (c, cn) = checkpointedC(s)
                  if (cn == 0L) None
                  else {
                    redv(r) = compactedParts(redv(r) :+ c)
                    Some((r, sig(r)._2, c))
                  }
                }
              }
            },
            trim = { s0 =>
              var s = intersect(s0, overTotal(target))
              redv(target).foreach(o => s = minus(s, o))
              s
            },
            consume = c => redv(target) = compactedParts(redv(target) :+ c))
          // Fused: every rule's gone set (emission needs its count) and
          // its rederived state commit share one materializing job.
          val goneS = clique.map { r =>
            var gone = overTotal(r)
            redv(r).foreach(rr => gone = without(gone, rr))
            gone.graftCheckpoint()
          }
          val nextRec = clique.map { r =>
            disjointUnion(keep(r) +: redv(r)).graftCheckpoint()
          }
          val gcs = CommitLedger.materialize(sc, goneS ++ nextRec)._1
          clique.zipWithIndex.foreach { case (r, i) =>
            if (r == target && gcs(i) > 0L)
              emitted += goneS(i).map { case (k, _) => (k, -1L) }
            recState(r) = nextRec(i)
          }
        }
      }

      // ---- additions: warm-started semi-naive ----
      if (anyAdd) {
        // Fused input-state assertion commit (see the retraction twin).
        locally {
          val upd = trans.collect { case (n, adds, _, ac, _) if ac > 0L =>
            (n, adds) }
          if (upd.nonEmpty) {
            val next = upd.map { case (n, adds) =>
              disjointUnion(Seq(inputState(n), adds)).graftCheckpoint() }
            val cs = CommitLedger.materialize(sc, next)._1
            upd.zip(next).zipWithIndex.foreach { case (((n, adds), st), i) =>
              inputState(n) = st
              inputCount(n) = cs(i)
              noteInputChanged(n, adds, isAdd = true)
            }
          }
        }
        // BULK first batch: with every fixpoint still empty and no
        // deletions in flight, the answer IS the batch fixpoint over
        // the current input sets — delegate to the batch compiler
        // (semi-naive + its linear-recursion RDD kernel), which pays
        // ONE fixpoint instead of per-round delta planning over the
        // whole bulk load. Later batches carry genuine deltas and take
        // the delta rounds below.
        if (bulkEligible) {
          val bulk = bulkFixpoint()
          clique.foreach { r =>
            val c = checkpointed(bulk(r))
            if (r == target)
              emitted += c.map { case (k, _) => (k, 1L) }
            recState(r) = c
          }
          return emitResult(emitted)
        }
        val newParts = mutable.Map.empty[String, Vector[PSet]]
        clique.foreach(r => newParts(r) = Vector.empty)
        driveRounds(
          initial = trans.collect { case (n, adds, _, ac, _) if ac > 0L =>
            (n, inputKinds(n), adds) },
          step = rd => {
            // By-name: kernel rounds never build the env (driver cost).
            lazy val env = envOf(
              inputs.map { case (n, _) => n -> Seq(inputState(n)) }.toMap,
              clique.map(r => r -> (recState(r) +: newParts(r))).toMap)
            clique.flatMap { r =>
              stepCandidates(r, rd, env).flatMap { cand =>
                var s = minus(asSet(cand), recState(r))
                newParts(r).foreach(p2 => s = minus(s, p2))
                val (c, cn) = checkpointedC(s)
                if (cn == 0L) None
                else {
                  newParts(r) = compactedParts(newParts(r) :+ c)
                  Some((r, sig(r)._2, c))
                }
              }
            }
          },
          trim = { s0 =>
            var s = minus(s0, recState(target))
            newParts(target).foreach(p2 => s = minus(s, p2))
            s
          },
          consume = c => newParts(target) = compactedParts(newParts(target) :+ c))
        // Fused warm-start state commit across rules.
        val updR = clique.filter(r => newParts(r).nonEmpty)
        if (updR.nonEmpty) {
          val nextRec = updR.map { r =>
            disjointUnion(recState(r) +: newParts(r)).graftCheckpoint()
          }
          CommitLedger.materialize(sc, nextRec)
          updR.zip(nextRec).foreach { case (r, st) =>
            if (r == target)
              newParts(r).foreach(p2 =>
                emitted += p2.map { case (k, _) => (k, 1L) })
            recState(r) = st
          }
        }
      }

      emitResult(emitted)
    }

    private def emitResult(
        emitted: mutable.ArrayBuffer[RDD[(Seq[Any], Long)]]): Delta =
      if (emitted.isEmpty) noDiff
      else Exchange.sum(sc.union(emitted.toSeq), part).filter(NonZero)

    /** Batch fixpoint over the current input sets — the bulk path. The
      * rewritten bodies become a rule group for a fresh batch compiler;
      * the input sets are served as weight-1 base relations through
      * `AttributeSource.relation`, so the batch machinery (semi-naive
      * rounds, the linear-recursion RDD kernel) applies wholesale. */
    private def bulkFixpoint(): Map[String, PSet] = {
      val inputDfs: Map[String, (DataFrame, Seq[ValueKind])] =
        inputs.map { case (n, _) =>
          val ks = inputKinds(n)
          val sch = StructType(ks.zipWithIndex.map { case (k, i) =>
            StructField(Rel.c(i), k.dataType, true)
          })
          n -> ((spark.createDataFrame(
            inputState(n).map { case (k, _) => Row.fromSeq(k) }, sch), ks))
        }.toMap
      val src = new AttributeSource {
        def has(name: String): Boolean = false
        def kind(name: String): ValueKind =
          UnmaintainablePlan.reject("rewritten recursion bodies reference no attributes")
        def unit(name: String): Boolean = true
        def collection(name: String): DataFrame =
          UnmaintainablePlan.reject("rewritten recursion bodies reference no attributes")
        override def version: (Long, Long) = (0L, Long.MaxValue)
        override def relation(name: String): Option[(DataFrame, Seq[ValueKind])] =
          inputDfs.get(name)
      }
      val comp = new Compiler(src, bodies.map { case (n, p) => n -> Rule(n, p) })
      clique.map { r =>
        val rel = comp.compile(Plan.NameExpr(sig(r)._1, r), Map.empty)
          .getOrElse(sys.error(s"bulk fixpoint failed for recursive rule $r"))
        r -> asSet(deltaOf(rel.df).flatMap { case (t, w) => if (w > 0L) Some(t) else None })
      }.toMap
    }
  }

  // Rules currently being inlined (cycle = recursion = reject).
  private val building = mutable.Set.empty[String]

  /** Positional output relabeling (NameExpr): same diffs, new vars. */
  private final class RenameNode(inner: Node, vs: Seq[PVar]) extends Node {
    val vars: Seq[PVar] = vs
    val nodeKinds: Seq[ValueKind] = inner.nodeKinds
    val attrs: Set[String] = inner.attrs
    override val pathArray: Boolean = inner.pathArray
    def advance(attrDeltas: Map[String, Delta]): Delta =
      inner.advance(attrDeltas)
  }

  /** Split a subtree into its maximal linear zone over stateful children. */
  private def zoneOf(p: Plan): Node = {
    val children = mutable.LinkedHashMap.empty[String, Node]
    def walk(q: Plan): Plan = q match {
      case m @ (_: Plan.MatchA | _: Plan.MatchEA | _: Plan.MatchAV) => m
      case Plan.Project(vs, s)        => Plan.Project(vs, walk(s))
      case f: Plan.Filter             => f.copy(plan = walk(f.plan))
      case t: Plan.Transform          => t.copy(plan = walk(t.plan))
      case Plan.Negate(s)             => Plan.Negate(walk(s))
      // PullAll and attribute-less PullLevel are LINEAR: per-attr scans /
      // per-row path decoration, weight-preserving — the batch compiler
      // evaluates their delta exactly.
      case pa: Plan.PullAll           => pa
      case pl: Plan.PullLevel if pl.pullAttributes.isEmpty =>
        pl.copy(plan = walk(pl.plan))
      case stateful =>
        val node = buildStateful(stateful)
        val name = s"__node${children.size}"
        children(name) = node
        Plan.NameExpr(node.vars, name)
    }
    val linear = walk(p)
    linear match {
      // A trivial zone (the whole subtree is one stateful node) skips
      // the per-batch rename-only compile.
      case Plan.NameExpr(_, name) if children.size == 1 => children(name)
      case _ => new Zone(linear, children.toMap)
    }
  }

  private val root: Node = {
    val r = zoneOf(plan)
    // Set-semantics delivery canonicalization (the snapshot path's
    // distinctify at delivery): emit the rule RESULT's set transitions.
    if (setSemantics) new ThresholdNode(Seq(r)) else r
  }

  /** Output variables of the maintained query, in output order. */
  def outputVars: Seq[PVar] = root.vars

  /** Output column kinds, in output order. */
  def outputKinds: Seq[ValueKind] = root.nodeKinds

  /** Whether the output column packs heterogeneous pull paths — the
    * maintained analog of the batch `Rel.isPathArray`, carried to the
    * wire layer as an explicit serde marker. */
  def outputIsPathArray: Boolean = root.pathArray

  /** Attributes whose deltas can change this query's output. */
  def referencedAttributes: Set[String] = root.attrs

  /** Per-attribute support-count threshold — DISTINCT input semantics
    * maintained: the engine's Distinct collection is exactly "net datom
    * support > 0 → weight 1" (`Domain.collectionStored`), so its diffs
    * are the ±1 zero-crossing transitions of the raw (e,v) support
    * Z-set. State keyed by (e,v), same merge as the Union threshold. */
  private final class AttrThreshold(kind: ValueKind) {
    private val part = new SeqKeyPartitioner(shufflePartitions)
    private val cell = new SupportCell(Seq(ValueKind.KEid, kind))

    /** The set-transition diffs (a lazy commit: an empty transition
      * set flows on inside the same action). */
    def advance(delta: Delta): Delta = cell.advance(Exchange.sum(delta, part))
  }

  private val attrThresholds = mutable.Map.empty[String, AttrThreshold]

  /** Per-attribute LastWriteWins view maintained — the engine's LWW
    * collection is "latest event per entity wins; output its value iff
    * that event was an add" (`Domain.collectionStored`, ref
    * `src/operators/last_write_wins.rs:71-101`), a per-entity arg-max
    * over transaction order `(t, seq)`. Because arg-max only ever moves
    * FORWARD in `(t, seq)`, the winning event per entity is all the
    * state needed, and it is exact under ANY batch arrival order: a
    * batch's candidate (its max-(t, seq) event per entity) replaces the
    * stored winner iff strictly newer; stale events change nothing.
    * State keyed by entity, the delta reduce (max per entity, map-side
    * combined) is the only shuffle — O(delta) per batch. */
  private final class AttrLww {
    private val part = new SeqKeyPartitioner(shufflePartitions)
    // index: e -> (t, seq, v, isAdd) of the current winning event
    private val cell = stateCell[
        scala.collection.immutable.HashMap[Long, (Long, Long, Any, Boolean)]](
      () => scala.collection.immutable.HashMap.empty, _.size * 200L)

    /** The LWW-view diffs of raw events `((e, v, t, seq), diff)` (a lazy
      * commit, like [[AttrThreshold]]). */
    def advance(events: Delta): Delta =
      // Batch winner per entity: the max-(t, seq) event.
      cell.advance1(Exchange.net(events.map(LwwEvent), part, IncrementalQuery.LwwLatest))(
        IncrementalQuery.lwwAdvanceIdx)
  }

  private val attrLwws = mutable.Map.empty[String, AttrLww]

  /** Apply one batch of signed per-attribute deltas and return the EXACT
    * output diffs of the whole plan. A feed row is `((e, v), diff)`;
    * deltas for `distinctAttrs` pass a per-attribute support threshold
    * first, so the plan sees the Distinct-semantics relation's set
    * transitions; deltas for `lwwAttrs` must carry raw ordered EVENTS
    * `((e, v, t, seq), diff)` and pass a per-attribute LastWriteWins
    * view, so the plan sees the latest-event-wins relation's
    * transitions. No Catalyst query is planned between feed and drain.
    *
    * `consolidate = false` returns the root's diff unconsolidated (a
    * tuple may repeat, weights may cancel) for callers that collect it
    * anyway and sum weights where the rows land — saving the
    * consolidation shuffle. Consolidation nets under Spark's grouping
    * equality ([[graft.engine.Engine.groupKey]]) and outputs values as
    * `groupBy` would (every NaN canonical, -0.0 as 0.0).
    *
    * State commits are lazy ([[StateCell.commit]]): inside a
    * [[CommitLedger.run]] they wait for the ledger's one action, outside
    * one each commit runs its own job, as a ledger of one. */
  def advanceDeltas(feeds: Map[String, Delta], consolidate: Boolean = true): Delta = {
    val attrDeltas = feeds.map { case (a, d) =>
      require(kinds.contains(a), s"unknown attribute $a")
      a -> (
        if (lwwAttrs(a)) attrLwws.getOrElseUpdate(a, new AttrLww).advance(d)
        else if (distinctAttrs(a))
          attrThresholds.getOrElseUpdate(a, new AttrThreshold(kinds(a))).advance(d)
        else d)
    }
    val raw = root.advance(attrDeltas)
    if (!consolidate) raw
    else Exchange.net(raw.map(GroupKeyed), new SeqKeyPartitioner(shufflePartitions),
      SumWeights).flatMap(Netted)
  }

  /** [[advanceDeltas]] over frames — the frame edge of callers that hold
    * DataFrames (bulk feeds, tests): each frame (`e, v, diff`, or `e, v,
    * t, diff, seq` for a LastWriteWins attribute) converts to a feed
    * once, and the consolidated diffs `(c0..cn, _w)` come back as a
    * frame. */
  def advance(deltas: Map[String, DataFrame]): DataFrame =
    frameOf(advanceDeltas(deltas.map { case (a, df) => a -> feedOf(a, df) }))

  /** One attribute's frame as a feed, cut lazily so every leaf reading
    * it shares one evaluation. */
  private[graft] def feedOf(a: String, df: DataFrame): Delta = {
    val v = col("v").cast(kinds(a).dataType)
    val cols =
      if (!lwwAttrs(a)) Seq(col("e"), v, col("diff"))
      else {
        require(df.columns.toSet == Set("e", "v", "t", "diff", "seq"),
          s"LastWriteWins attribute $a needs raw ordered events " +
            s"(e, v, t, diff, seq), got ${df.columns.mkString(", ")}")
        Seq(col("e"), v, col("t"), col("seq"), col("diff"))
      }
    deltaOf(df.select(cols.map(c => if (c eq v) c else c.cast("long")): _*))
      .graftCheckpoint()
  }

  /** Diffs of this query's output as a frame `(c0..cn, _w)` — where rows
    * leave the engine (sink frames, the frame API). */
  def frameOf(d: Delta): DataFrame =
    spark.createDataFrame(d.map(ToRow), StructType(
      root.nodeKinds.zipWithIndex.map { case (k, i) =>
        StructField(Rel.c(i),
          if (root.pathArray) ArrayType(k.dataType) else k.dataType, true)
      } :+ StructField(Rel.W, LongType, false)))

  // Processed-time frontier (the shared streaming-maintenance
  // discipline): regressing times would diff against state that already
  // absorbed later deltas — fail loudly instead. A time equal to the
  // frontier is a later slice of the same time (one logical write split
  // across micro-batch triggers) and advances on top of the earlier
  // slice: the per-time sum of the emitted diffs stays exact.
  private var frontier: Long = Long.MinValue

  // Transaction-order sequence base for streamed LWW datoms: each
  // micro-batch frame's rows get `seqBase + frame position` (the
  // streaming analog of the domain's per-datom transaction counter —
  // a datom's order within the frame IS its transaction order, like
  // the reference's per-transaction positions), and the base advances
  // past the frame so later frames always order after earlier ones.
  private var streamSeqBase: Long = 0L

  /** Structured Streaming integration: drain a datom stream (columns
    * `a: string, e: long, v, t: long, diff: long`) through [[advance]]
    * per completed time, never regressing; each time's exact
    * consolidated output diffs go to `onDiffs(t, frame)`. LastWriteWins
    * attributes ride too: the wire frame carries no transaction-order
    * seq, so one is synthesized per micro-batch (frame position on a
    * strictly advancing base) before the per-attribute LWW views. */
  def attach(datoms: DataFrame, queryName: String)(
      onDiffs: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    datoms.writeStream
      .outputMode("append")
      .queryName(queryName)
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        // Frame-position sequence (deterministic partition-ordered
        // zipWithIndex) — only materialized when an LWW attribute needs
        // transaction order.
        val batch =
          if (lwwAttrs.isEmpty) batch0
          else {
            val base = streamSeqBase
            val sch = org.apache.spark.sql.types.StructType(
              batch0.schema.fields :+ org.apache.spark.sql.types.StructField(
                "seq", org.apache.spark.sql.types.LongType, false))
            val withSeq = spark.createDataFrame(
              batch0.rdd.zipWithIndex.map { case (r, i) =>
                Row.fromSeq(r.toSeq :+ (base + i)) }, sch)
            withSeq
          }
        batch.persist()
        try {
          // ONE job reads which referenced attributes each time touches
          // (and the frame's row count, the LWW sequence advance).
          val present = batch.groupBy("t", "a").count().collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          if (lwwAttrs.nonEmpty) streamSeqBase += present.map(_._3).sum
          present.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, at) =>
            require(t >= frontier,
              s"input time $t is earlier than the processed frontier " +
                s"$frontier; diffs against already-advanced state would " +
                "be historically wrong")
            frontier = t
            val cut = batch.where(col("t") === t)
            val byAttr: Map[String, DataFrame] =
              at.map(_._2).filter(root.attrs).map { a =>
                val d = cut.where(col("a") === a)
                a -> (if (lwwAttrs(a))
                  d.select(col("e"), col("v"), col("t"), col("diff"), col("seq"))
                else d.select(col("e"), col("v"), col("diff")))
              }.toMap
            if (byAttr.nonEmpty) {
              // One action per time: the state commits, the diffs' lazy
              // cut and the count gate.
              var diffs: Delta = null
              val (n, _) = CommitLedger.run(sc) {
                diffs = advanceDeltas(byAttr.map { case (a, df) => a -> feedOf(a, df) })
                  .graftCheckpoint()
                (Seq(diffs), Nil)
              }
              if (n(0) > 0L) onDiffs(t, frameOf(diffs))
            }
          }
        } finally batch.unpersist()
      }
      .start()
  }
}

object IncrementalQuery {

  /** A maintained tuple: one cell per output column, each as a collected
    * frame row holds it. The one alias every node's delta is typed by. */
  type Tup = Seq[Any]

  /** Signed diffs `(tuple, weight)`: what maintained nodes take and
    * return. */
  type Delta = RDD[(Tup, Long)]

  /** A frame's rows as signed diffs — every column but the last is the
    * tuple, the last the weight — for the frame → RDD edges (bulk and
    * streamed feeds, the frame-speaking maintainers' outputs): the
    * planned query's InternalRow RDD converted row by row. `Dataset.rdd`
    * pays, per call, an SQL execution wrapper, an encoder build and a
    * closure clean of Dataset's own lambda. */
  private[graft] def deltaOf(df: DataFrame): Delta =
    df.queryExecution.toRdd.mapPartitions(new ToDelta(df.schema))

  private final class ToDelta(schema: StructType)
      extends (Iterator[org.apache.spark.sql.catalyst.InternalRow] => Iterator[(Tup, Long)])
      with Serializable {
    def apply(it: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Iterator[(Tup, Long)] = {
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(schema)
      it.map { r =>
        val row = conv(r).asInstanceOf[Row]
        val n = row.length - 1
        val cells = new Array[Any](n)
        var i = 0
        while (i < n) { cells(i) = row.get(i); i += 1 }
        (scala.collection.immutable.ArraySeq.unsafeWrapArray(cells), row.getLong(n))
      }
    }
  }

  // ---- named per-row functions of the advance path (a lambda would
  // cost a ClosureCleaner class-file read on every advance) ----

  private object NonZero extends (((Tup, Long)) => Boolean) with Serializable {
    def apply(d: (Tup, Long)): Boolean = d._2 != 0L
  }

  /** A row as its (key, value) tuples — the aggregate's delta. */
  private final class KeyValue(k: Array[Int], v: Array[Int])
      extends (((Tup, Long)) => ((Tup, Tup), Long)) with Serializable {
    def apply(d: (Tup, Long)): ((Tup, Tup), Long) =
      ((k.toSeq.map(d._1), v.toSeq.map(d._1)), d._2)
  }

  /** A join diff `(left row, right row, w)` as the output row. */
  private final class JoinedRow(l: Array[Int], r: Array[Int])
      extends (((Tup, Tup, Long)) => (Tup, Long)) with Serializable {
    def apply(d: (Tup, Tup, Long)): (Tup, Long) = {
      val out = new Array[Any](l.length + r.length)
      var i = 0
      while (i < l.length) { out(i) = d._1(l(i)); i += 1 }
      while (i < out.length) { out(i) = d._2(r(i - l.length)); i += 1 }
      (scala.collection.immutable.ArraySeq.unsafeWrapArray(out), d._3)
    }
  }

  /** A raw LastWriteWins event `((e, v, t, seq), diff)` keyed by entity. */
  private object LwwEvent
      extends (((Tup, Long)) => (Long, (Long, Long, Any, Boolean))) with Serializable {
    def apply(d: (Tup, Long)): (Long, (Long, Long, Any, Boolean)) = {
      val t = d._1
      (t(0).asInstanceOf[Long],
        (t(2).asInstanceOf[Long], t(3).asInstanceOf[Long], t(1), d._2 > 0L))
    }
  }

  /** A diff keyed by its tuple under grouping equality. */
  private object GroupKeyed extends (((Tup, Long)) => (Tup, (Tup, Long))) with Serializable {
    def apply(d: (Tup, Long)): (Tup, (Tup, Long)) = (d._1.map(graft.engine.Engine.groupKey), d)
  }

  private object SumWeights
      extends (((Tup, Long), (Tup, Long)) => (Tup, Long)) with Serializable {
    def apply(a: (Tup, Long), b: (Tup, Long)): (Tup, Long) = (a._1, a._2 + b._2)
  }

  /** A netted diff as `groupBy` outputs it (reals normalized), or
    * nothing at weight 0. */
  private object Netted
      extends (((Tup, (Tup, Long))) => Option[(Tup, Long)]) with Serializable {
    def apply(d: (Tup, (Tup, Long))): Option[(Tup, Long)] = {
      val (t, w) = d._2
      if (w == 0L) None else Some((t.map(graft.engine.Engine.normalizeReals), w))
    }
  }

  /** A tuple and weight as a frame row `(c0..cn, diff)`. */
  private object ToRow extends (((Tup, Long)) => Row) with Serializable {
    def apply(d: (Tup, Long)): Row = Row.fromSeq(d._1 :+ d._2)
  }

  /** A binary long tuple as a closure edge, and back. */
  private object ToEdge
      extends (((Tup, Long)) => ((Long, Long), Long)) with Serializable {
    def apply(d: (Tup, Long)): ((Long, Long), Long) =
      ((d._1(0).asInstanceOf[Long], d._1(1).asInstanceOf[Long]), d._2)
  }
  private object FromEdge
      extends ((((Long, Long), Long)) => (Tup, Long)) with Serializable {
    def apply(d: ((Long, Long), Long)): (Tup, Long) = (Seq(d._1._1, d._1._2), d._2)
  }

  /** A pull join diff `(child row, (e, v), w)` as the child row with the
    * pulled value appended. */
  private object WithPulled extends (((Tup, Tup, Long)) => (Tup, Long)) with Serializable {
    def apply(d: (Tup, Tup, Long)): (Tup, Long) = (d._1 :+ d._2(1), d._3)
  }

  /** A path's tuple packed as one array<variant> cell (`Plan.Pull`). */
  private final class PackPath(ks: Array[ValueKind])
      extends (((Tup, Long)) => (Tup, Long)) with Serializable {
    def apply(d: (Tup, Long)): (Tup, Long) =
      (Seq(d._1.indices.map(i => LinearRows.encode(d._1(i), ks(i)))), d._2)
  }

  /** Partitioned static-arrangement index of the linear-recursion
    * kernel: join key → matching static rows (top-level so closures
    * shipping it capture no node reference). */
  private[streaming] final case class ArrIndex(
      m: scala.collection.immutable.HashMap[Seq[Any], Array[Array[Any]]],
      rows: Long)

  private[streaming] def sizedArr(ix: ArrIndex, cols: Int)
      : org.apache.spark.util.GraftSizedValue[ArrIndex] =
    new org.apache.spark.util.GraftSizedValue(ix,
      64L + ix.rows * (24L * cols + 48L) + ix.m.size.toLong * 120L)


  /** Every attribute scanned anywhere in a plan, following (acyclic)
    * rule references — a pre-construction check surface. */
  def planAttributes(p: Plan, rules: Map[String, Plan]): Set[String] = {
    val seen = mutable.Set.empty[String]
    def expand(q: Plan): Set[String] =
      planAttributes(q) ++ ruleRefs(q).flatMap { n =>
        if (rules.contains(n) && seen.add(n)) expand(rules(n))
        else Set.empty[String]
      }
    expand(p)
  }

  /** Rewrite every variable in a plan through `f` (structure unchanged).
    * Package-visible: the engine's derived-scan inlining renames view
    * plans with it. */
  private[graft] def mapVars(p: Plan, f: Plan.Var => Plan.Var): Plan = p match {
    case Plan.MatchA(e, a, v)  => Plan.MatchA(f(e), a, f(v))
    case Plan.MatchEA(e, a, v) => Plan.MatchEA(e, a, f(v))
    case Plan.MatchAV(e, a, v) => Plan.MatchAV(f(e), a, v)
    case Plan.Project(vs, s)   => Plan.Project(vs.map(f), mapVars(s, f))
    case Plan.Join(vs, l, r)   => Plan.Join(vs.map(f), mapVars(l, f), mapVars(r, f))
    case Plan.Hector(vs, bs)   => Plan.Hector(vs.map(f), bs.map(mapBindingVars(_, f)))
    case Plan.Antijoin(vs, l, r) =>
      Plan.Antijoin(vs.map(f), mapVars(l, f), mapVars(r, f))
    case Plan.Negate(s)        => Plan.Negate(mapVars(s, f))
    case Plan.Union(vs, ps)    => Plan.Union(vs.map(f), ps.map(mapVars(_, f)))
    case Plan.Filter(vs, pred, s, cs) =>
      Plan.Filter(vs.map(f), pred, mapVars(s, f), cs)
    case Plan.Transform(vs, rv, s, fn, cs) =>
      Plan.Transform(vs.map(f), f(rv), mapVars(s, f), fn, cs)
    case Plan.Aggregate(vs, s, fns, ks, as, ws) =>
      Plan.Aggregate(vs.map(f), mapVars(s, f), fns, ks.map(f), as.map(f), ws.map(f))
    case Plan.NameExpr(vs, n)  => Plan.NameExpr(vs.map(f), n)
    case Plan.PullLevel(vs, s, pv, pas, paths, cm) =>
      Plan.PullLevel(vs.map(f), mapVars(s, f), f(pv), pas, paths, cm)
    case Plan.Pull(vs, ps)     => Plan.Pull(vs.map(f), ps.map(mapVars(_, f)))
    case Plan.PullAll(vs, pas) => Plan.PullAll(vs.map(f), pas)
  }

  private def mapBindingVars(b: Binding, f: Plan.Var => Plan.Var): Binding = b match {
    case Binding.Attr(e, a, v)       => Binding.Attr(f(e), a, f(v))
    case Binding.Const(x, v)         => Binding.Const(f(x), v)
    case Binding.BinaryPred(x, y, p) => Binding.BinaryPred(f(x), f(y), p)
    case Binding.Not(inner)          => Binding.Not(mapBindingVars(inner, f))
  }

  /** α-canonical form: variables renumbered densely by first occurrence
    * in a fixed traversal order — two plans denote the same relation up
    * to variable naming iff their canonical forms are equal. Used to
    * recognize that a recursive rule's base branch and its step's edge
    * operand scan the SAME relation. */
  private[graft] def alphaCanon(p: Plan): Plan = {
    val m = mutable.Map.empty[Plan.Var, Plan.Var]
    mapVars(p, v => m.getOrElseUpdate(v, m.size))
  }

  /** Rule names referenced anywhere in a plan. */
  private def ruleRefs(p: Plan): Set[String] = p match {
    case Plan.NameExpr(_, n)  => Set(n)
    case Plan.Project(_, s)   => ruleRefs(s)
    case Plan.Join(_, l, r)   => ruleRefs(l) ++ ruleRefs(r)
    case Plan.Antijoin(_, l, r) => ruleRefs(l) ++ ruleRefs(r)
    case Plan.Negate(s)       => ruleRefs(s)
    case Plan.Union(_, ps)    => ps.flatMap(ruleRefs).toSet
    case Plan.Filter(_, _, s, _)       => ruleRefs(s)
    case Plan.Transform(_, _, s, _, _) => ruleRefs(s)
    case Plan.Aggregate(_, s, _, _, _, _) => ruleRefs(s)
    case Plan.PullLevel(_, s, _, _, _, _) => ruleRefs(s)
    case Plan.Pull(_, paths)  => paths.flatMap(ruleRefs).toSet
    case _ => Set.empty
  }

  /** Every attribute scanned anywhere in a plan — a pre-construction
    * check surface (construction itself validates maintainability). */
  def planAttributes(p: Plan): Set[String] = p match {
    case Plan.MatchA(_, a, _)  => Set(a)
    case Plan.MatchEA(_, a, _) => Set(a)
    case Plan.MatchAV(_, a, _) => Set(a)
    case Plan.Project(_, s)    => planAttributes(s)
    case Plan.Join(_, l, r)    => planAttributes(l) ++ planAttributes(r)
    case Plan.Hector(_, bs) =>
      // Not-bound attributes count too: they feed the antijoin's right
      // side, so input-semantics routing and kind checks must see them
      // (mirrors Plan.dependencies' double-negation handling).
      bs.flatMap {
        case Binding.Attr(_, a, _)                           => Seq(a)
        case Binding.Not(Binding.Attr(_, a, _))              => Seq(a)
        case Binding.Not(Binding.Not(Binding.Attr(_, a, _))) => Seq(a)
        case _                                               => Seq.empty
      }.toSet
    case Plan.Antijoin(_, l, r) => planAttributes(l) ++ planAttributes(r)
    case Plan.Negate(s)         => planAttributes(s)
    case Plan.Union(_, ps)      => ps.flatMap(planAttributes).toSet
    case Plan.Filter(_, _, s, _)        => planAttributes(s)
    case Plan.Transform(_, _, s, _, _)  => planAttributes(s)
    case Plan.Aggregate(_, s, _, _, _, _) => planAttributes(s)
    case Plan.NameExpr(_, _)    => Set.empty
    case Plan.PullLevel(_, s, _, pullAttrs, _, _) =>
      planAttributes(s) ++ pullAttrs
    case Plan.Pull(_, paths)    => paths.flatMap(planAttributes).toSet
    case Plan.PullAll(_, pullAttrs) => pullAttrs.toSet
  }

  /** Partition by the key's standard Seq hash. Top-level so tasks never
    * drag a node (and its SparkSession) along. */
  private final class SeqKeyPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = {
      val k = key match {
        case (seq: Seq[_], _) => seq // aggregate state: partition by KEY
        case seq              => seq
      }
      java.lang.Math.floorMod(k.hashCode, n)
    }
    override def equals(o: Any): Boolean = o match {
      case p: SeqKeyPartitioner => p.numPartitions == n
      case _                    => false
    }
    override def hashCode: Int = n
  }

  /** Partition a Seq key by the values at `keyIdx` — left rows (key
    * embedded at those positions) and right keys (identity indices) of
    * an antijoin land where their key does. */
  private final class IndexKeyPartitioner(n: Int, keyIdx: Seq[Int]) extends Partitioner {
    private val idx = keyIdx.toIndexedSeq
    def numPartitions: Int = n
    def getPartition(key: Any): Int = {
      val s = key.asInstanceOf[Seq[Any]]
      java.lang.Math.floorMod((idx.map(s.apply): Seq[Any]).hashCode, n)
    }
    override def equals(o: Any): Boolean = o match {
      case p: IndexKeyPartitioner => p.numPartitions == n && p.idx == idx
      case _                      => false
    }
    override def hashCode: Int = n * 31 + idx.hashCode
  }

  // ---- indexed (StateCell) advances: per-batch work strictly
  // O(delta + touched keys) against partition-resident persistent maps
  // (the arrangement-analog state store — see StateCell). Each function
  // is the node's exact per-key semantics, re-expressed over an index
  // instead of the former full state-partition scan-and-rewrite. ----

  private[streaming] type WMap = scala.collection.immutable.HashMap[Seq[Any], Long]
  private[streaming] type GMap = scala.collection.immutable.HashMap[Seq[Any], WMap]

  /** Indexed threshold: state = row → net weight (zeros dropped); emits
    * ±1 exactly at support zero-crossings (`Compiler.distinctify`'s
    * net-weight-positive rule). */
  private def thresholdAdvanceIdx(
      s: WMap, dIt: Iterator[(Seq[Any], Long)]): (WMap, Array[(Seq[Any], Long)]) = {
    var m = s
    val out = mutable.ArrayBuffer.empty[(Seq[Any], Long)]
    dIt.foreach { case (k, dw) =>
      if (dw != 0L) {
        val w = m.getOrElse(k, 0L)
        val nw = w + dw
        if (nw == 0L) m -= k else m = m.updated(k, nw)
        if (w > 0 && nw <= 0) out += ((k, -1L))
        else if (w <= 0 && nw > 0) out += ((k, 1L))
      }
    }
    (m, out.toArray)
  }

  /** Indexed grouped aggregate: state = key → (valueTuple → net weight);
    * recomputes old/new aggregate rows for exactly the touched keys. */
  private[streaming] def aggregateAdvanceIdx(
      requireNonNeg: Boolean,
      aggRow: (Seq[Any], Iterable[(Seq[Any], Long)]) => Option[Seq[Any]])(
      s: GroupIndex, dIt: Iterator[((Seq[Any], Seq[Any]), Long)])
    : (GroupIndex, Array[(Seq[Any], Long)]) = {
    val byKey =
      mutable.LinkedHashMap.empty[Seq[Any], mutable.ArrayBuffer[(Seq[Any], Long)]]
    val deltas = mutable.ArrayBuffer.empty[((Seq[Any], Seq[Any]), Long)]
    dIt.foreach { case kv @ ((k, v), w) =>
      byKey.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((v, w))
      deltas += kv
    }
    val out = mutable.ArrayBuffer.empty[(Seq[Any], Long)]
    byKey.foreach { case (k, dvs) =>
      val oldG = s.group(k)
      var g = oldG
      dvs.foreach { case (v, dw) =>
        val w = g.getOrElse(v, 0L)
        val nw = w + dw
        if (requireNonNeg) require(nw >= 0L,
          s"retraction below zero support for key=$k value=$v ($nw)")
        if (nw == 0L) g -= v else g = g.updated(v, nw)
      }
      val o = if (oldG.isEmpty) None else aggRow(k, oldG)
      val n = if (g.isEmpty) None else aggRow(k, g)
      if (o != n) {
        o.foreach(a => out += ((a, -1L)))
        n.foreach(a => out += ((a, 1L)))
      }
    }
    (s.merged(deltas), out.toArray)
  }

  /** Indexed bilinear join: compound state = (key → left rows, key →
    * right rows); per touched key the old/new products are diffed
    * (`joinDiff`) and both sides' supports updated in one pass. */
  private[streaming] def joinAdvanceIdx(lKey: Seq[Int], rKey: Seq[Int])(
      s: (GroupIndex, GroupIndex),
      dlIt: Iterator[(Seq[Any], Long)], drIt: Iterator[(Seq[Any], Long)])
    : ((GroupIndex, GroupIndex), Array[(Seq[Any], Seq[Any], Long)]) = {
    def lk(r: Seq[Any]): Seq[Any] = lKey.map(r.apply)
    def rk(r: Seq[Any]): Seq[Any] = rKey.map(r.apply)
    val dl = mutable.LinkedHashMap.empty[Seq[Any], Long]
    dlIt.foreach { case (r, w) => dl(r) = dl.getOrElse(r, 0L) + w }
    val dr = mutable.LinkedHashMap.empty[Seq[Any], Long]
    drIt.foreach { case (r, w) => dr(r) = dr.getOrElse(r, 0L) + w }
    val (lm, rm) = s
    if (dl.isEmpty && dr.isEmpty)
      return ((lm, rm), Array.empty[(Seq[Any], Seq[Any], Long)])
    val dlByKey =
      mutable.LinkedHashMap.empty[Seq[Any], mutable.ArrayBuffer[(Seq[Any], Long)]]
    dl.foreach { case (r, w) =>
      dlByKey.getOrElseUpdate(lk(r), mutable.ArrayBuffer.empty) += ((r, w))
    }
    val drByKey =
      mutable.LinkedHashMap.empty[Seq[Any], mutable.ArrayBuffer[(Seq[Any], Long)]]
    dr.foreach { case (r, w) =>
      drByKey.getOrElseUpdate(rk(r), mutable.ArrayBuffer.empty) += ((r, w))
    }
    val touched = mutable.LinkedHashSet.empty[Seq[Any]]
    touched ++= dlByKey.keys
    touched ++= drByKey.keys
    val out = mutable.ArrayBuffer.empty[(Seq[Any], Seq[Any], Long)]
    touched.foreach { k =>
      val oldL = lm.group(k)
      var newL = oldL
      dlByKey.get(k).foreach(_.foreach { case (r, dw) =>
        val nw = newL.getOrElse(r, 0L) + dw
        if (nw == 0L) newL -= r else newL = newL.updated(r, nw)
      })
      val oldR = rm.group(k)
      var newR = oldR
      drByKey.get(k).foreach(_.foreach { case (r, dw) =>
        val nw = newR.getOrElse(r, 0L) + dw
        if (nw == 0L) newR -= r else newR = newR.updated(r, nw)
      })
      val lRows = if (newL eq oldL) oldL.keySet else oldL.keySet ++ newL.keySet
      val rRows = if (newR eq oldR) oldR.keySet else oldR.keySet ++ newR.keySet
      rRows.foreach { rrow =>
        val ro = oldR.getOrElse(rrow, 0L)
        val rn = newR.getOrElse(rrow, 0L)
        lRows.foreach { lrow =>
          val lo = oldL.getOrElse(lrow, 0L)
          val ln = newL.getOrElse(lrow, 0L)
          val d = ln * rn - lo * ro
          if (d != 0L) out += ((lrow, rrow, d))
        }
      }
    }
    val lmNext = lm.merged(dl.map { case (r, w) => ((lk(r), r), w) })
    val rmNext = rm.merged(dr.map { case (r, w) => ((rk(r), r), w) })
    ((lmNext, rmNext), out.toArray)
  }

  /** The batch's LWW winner of two events of one entity: the max in
    * `(t, seq)` (seq is the domain's global transaction counter, so the
    * order is total). */
  private[graft] object LwwLatest
      extends (((Long, Long, Any, Boolean), (Long, Long, Any, Boolean)) =>
        (Long, Long, Any, Boolean)) with Serializable {
    def apply(a: (Long, Long, Any, Boolean), b: (Long, Long, Any, Boolean))
        : (Long, Long, Any, Boolean) =
      if (a._1 > b._1 || (a._1 == b._1 && a._2 > b._2)) a else b
  }

  /** Indexed LWW: index = entity → winning (t, seq, v, isAdd); a batch
    * candidate replaces the stored winner iff strictly newer in
    * `(t, seq)`, the output diff is the old/new output transition
    * (ref `src/operators/last_write_wins.rs:71-101`). */
  private def lwwAdvanceIdx(
      s: scala.collection.immutable.HashMap[Long, (Long, Long, Any, Boolean)],
      dIt: Iterator[(Long, (Long, Long, Any, Boolean))])
    : (scala.collection.immutable.HashMap[Long, (Long, Long, Any, Boolean)],
       Array[(Tup, Long)]) = {
    var m = s
    val out = mutable.ArrayBuffer.empty[(Tup, Long)]
    dIt.foreach { case (e, c) =>
      val st = m.get(e)
      val newer = st.forall(w => c._1 > w._1 || (c._1 == w._1 && c._2 > w._2))
      if (newer) {
        val oldOut = st.collect { case w if w._4 => w._3 }
        val newOut = if (c._4) Some(c._3) else None
        if (oldOut != newOut) {
          oldOut.foreach(v => out += ((Seq(e, v), -1L)))
          newOut.foreach(v => out += ((Seq(e, v), 1L)))
        }
        m = m.updated(e, c)
      } // else: stale — a globally-unique seq means "not newer" is stale
    }
    (m, out.toArray)
  }

  /** Apply a consolidated row-delta to a key-grouped support index —
    * the indexed replacement for a full-state weight-merge pass (no
    * output). */
  private[streaming] def supportAdvanceIdx(keyIdx: Seq[Int])(
      s: GroupIndex, dIt: Iterator[(Seq[Any], Long)]): (GroupIndex, Array[Int]) =
    (s.merged(dIt.map { case (r, dw) =>
      ((keyIdx.map(r.apply): Seq[Any], r), dw)
    }.toSeq), Array.empty[Int])

  /** Indexed antijoin: compound state = (key → left-row supports, right
    * key → net weight); per touched key the old/new output recomputes
    * from the index, including the bulk
    * retract/assert when a right-key presence flips. */
  private def antijoinAdvanceIdx(keyIdx: Seq[Int], distinctLeft: Boolean)(
      s: (GroupIndex, WMap),
      dlIt: Iterator[(Seq[Any], Long)], drIt: Iterator[(Seq[Any], Long)])
    : ((GroupIndex, WMap), Array[(Seq[Any], Long)]) = {
    def keyOf(row: Seq[Any]): Seq[Any] = keyIdx.map(row.apply)
    def contrib(w: Long): Long =
      if (distinctLeft) { if (w > 0) 1L else 0L } else w
    val dlByKey =
      mutable.LinkedHashMap.empty[Seq[Any], mutable.ArrayBuffer[(Seq[Any], Long)]]
    dlIt.foreach { case (row, w) =>
      dlByKey.getOrElseUpdate(keyOf(row), mutable.ArrayBuffer.empty) += ((row, w))
    }
    val dr = mutable.LinkedHashMap.empty[Seq[Any], Long]
    drIt.foreach { case (k, w) => dr(k) = dr.getOrElse(k, 0L) + w }
    val (lm, rm0) = s
    var rm = rm0
    val touched = mutable.LinkedHashSet.empty[Seq[Any]]
    touched ++= dlByKey.keys
    touched ++= dr.keys
    val out = mutable.ArrayBuffer.empty[(Seq[Any], Long)]
    touched.foreach { k =>
      val oldL = lm.group(k)
      var newL = oldL
      dlByKey.get(k).foreach(_.foreach { case (row, dw) =>
        val nw = newL.getOrElse(row, 0L) + dw
        if (nw == 0L) newL -= row else newL = newL.updated(row, nw)
      })
      val oldRW = rm.getOrElse(k, 0L)
      val newRW = oldRW + dr.getOrElse(k, 0L)
      val oldPresent = oldRW > 0L
      val newPresent = newRW > 0L
      val rows = if (newL eq oldL) oldL.keySet else oldL.keySet ++ newL.keySet
      rows.foreach { row =>
        val oc = if (oldPresent) 0L else contrib(oldL.getOrElse(row, 0L))
        val nc = if (newPresent) 0L else contrib(newL.getOrElse(row, 0L))
        if (nc != oc) out += ((row, nc - oc))
      }
      rm = if (newRW == 0L) rm - k else rm.updated(k, newRW)
    }
    val lmNext = lm.merged(dlByKey.iterator.flatMap { case (k, rows) =>
      rows.iterator.map { case (row, dw) => ((k, row), dw) }
    }.toSeq)
    ((lmNext, rm), out.toArray)
  }

  /** The batch compiler's rational normalization (gcd-reduced, positive
    * denominator — `Compiler.rationalizeUdf`), as a task-side function. */
  private def rational(num: Long, den: Long): Row = {
    val sign = if (den < 0) -1L else 1L
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val g = gcd(math.abs(num), math.abs(den))
    val gg = if (g == 0) 1L else g
    Row(sign * num / gg, sign * den / gg)
  }

  /** How an [[AggregateNode]] reads and arranges values, captured as
    * plain serializable data so the merge closure never drags a node
    * (and its SparkSession) into tasks. Accessors are Left(position in
    * key tuple) | Right(position in value tuple); slots are
    * Left(key position) | Right(fn index). */
  private[graft] final case class AggSpec(
      fns: Seq[AggregationFn],
      aggAcc: Seq[Either[Int, Int]],
      withAcc: Seq[Either[Int, Int]],
      slots: Seq[Either[Int, Int]],
      aggLong: Seq[Boolean])

  /** Lexicographic ordering over (value ++ withs) median entries — the
    * field-by-field struct ordering Spark's sort_array applies to the
    * batch compiler's collect_set entries. */
  private val entryOrd: Ordering[Seq[Any]] = new Ordering[Seq[Any]] {
    def compare(a: Seq[Any], b: Seq[Any]): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val c = (a(i), b(i)) match {
          case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
          case (x: String, y: String) => x.compareTo(y)
          case (x, y) => sys.error(s"unorderable median entry values: $x / $y")
        }
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** A key's full slot-arranged output row under the batch compiler's
    * exact Z-set semantics (`Compiler.aggregate`, non-unit path, every
    * fn re-inserted at its output_offsets position): `None` = the key
    * emits no row. Values carry their net weights (any sign).
    * `private[graft]` so the spec can feed ill-formed histories. */
  private[graft] def aggRowOf(
      spec: AggSpec, key: Seq[Any],
      rows: Iterable[(Seq[Any], Long)]): Option[Seq[Any]] = {
    import AggregationFn._
    val sup = rows.filter(_._2 > 0)
    if (sup.isEmpty) return None
    val wsum = rows.map(_._2).sum
    // All-weight-sensitive rows vanish at net count 0; mixed rows null
    // out just the COUNT/SUM slots (the batch compiler's _wsum rule).
    if (wsum == 0L && spec.fns.forall(f => f == COUNT || f == SUM))
      return None
    def read(acc: Either[Int, Int], vt: Seq[Any]): Any = acc match {
      case Left(kp)  => key(kp)
      case Right(vp) => vt(vp)
    }
    def num(a: Any): Long = a.asInstanceOf[Long]
    val aggVals: Seq[Any] = spec.fns.zipWithIndex.map { case (f, i) =>
      val acc = spec.aggAcc(i)
      f match {
        case COUNT => if (wsum == 0L) null else wsum
        case SUM =>
          if (wsum == 0L) null
          else rows.map { case (vt, w) => num(read(acc, vt)) * w }.sum
        case AVG =>
          // Net count 0 with live support is division-by-zero-undefined
          // — the batch compiler raises the same way.
          require(wsum != 0L,
            s"ill-formed Z-set history: AVG support non-empty but net count 0 ($rows)")
          rational(rows.map { case (vt, w) => num(read(acc, vt)) * w }.sum, wsum)
        case VARIANCE =>
          require(wsum != 0L,
            s"ill-formed Z-set history: VARIANCE support non-empty but net count 0 ($rows)")
          val ssq = rows.map { case (vt, w) =>
            val v = num(read(acc, vt)); v * v * w }.sum
          val s = rows.map { case (vt, w) => num(read(acc, vt)) * w }.sum
          rational(ssq * wsum - s * s, wsum * wsum)
        case MIN | MAX =>
          val vals = sup.map { case (vt, _) => read(acc, vt) }
          if (spec.aggLong(i)) {
            val ls = vals.map(num)
            if (f == MIN) ls.min else ls.max
          } else {
            val ss = vals.map(_.asInstanceOf[String])
            if (f == MIN) ss.min else ss.max
          }
        case MEDIAN =>
          // Upper median over the DISTINCT (value ++ withs) entries of
          // the positive support, sorted field-by-field — then project
          // the value (`aggregate_neu.rs:157-164`).
          val entries = sup.map { case (vt, _) =>
            (read(acc, vt) +: spec.withAcc.map(read(_, vt))): Seq[Any]
          }.toSeq.distinct.sorted(entryOrd)
          entries(entries.length / 2).head
      }
    }
    Some(spec.slots.map {
      case Left(kp) => key(kp)
      case Right(i) => aggVals(i)
    })
  }
}
