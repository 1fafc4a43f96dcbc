package graft.streaming

import graft.kernel.Ckpt._
import graft.kernel.Exchange

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.compile.{Compiler, Rel}
import graft.domain.AttributeSource
import graft.model._

/** Incrementally maintained Hector (n-way conjunction) — the delta-rule
  * analog of the reference's per-binding delta pipelines
  * (`src/plan/hector.rs:497-928` + AltNeu, `src/timestamp/altneu.rs`):
  * the state kept across batches is ONLY the input relations (one weighted
  * `(e, v, _w)` table per Attr binding), never any intermediate join
  * result — exactly the state-linearity property the reference's
  * count/propose/validate pipelines exist for, re-expressed Spark-first.
  *
  * A conjunctive query is multilinear in its Attr bindings, so the exact
  * output change for a batch of signed input deltas is the standard delta
  * rule: with bindings `R_1 … R_n`,
  *
  *   Δout = Σ_i  Q(R'_1, …, R'_{i-1},  ΔR_i,  R_{i+1}, …, R_n)
  *
  * — binding `i` sees its delta, earlier bindings their POST-update state,
  * later ones their PRE-update state (the sequencing AltNeu encodes in
  * timestamps; any fixed order is exact, double counting cancels by
  * construction). Each term compiles through the batch Hector compiler —
  * the worst-case-optimal constant pushing, predicate placement, and join
  * ordering apply per term unchanged — against an [[AttributeSource]]
  * serving each binding the right version. Bindings over the SAME
  * attribute are independent coordinates of the multilinear form, so they
  * are renamed apart (`attr#i`) before compilation.
  *
  * Scale: per-batch work is Σ_i |ΔR_i ⋈ …| (delta-proportional), and so
  * are per-batch SHUFFLED bytes, on both paths that could touch state:
  *  - state maintenance: each binding's state is an indexed
  *    [[StateCell]] map hash-partitioned on (e, v); a batch's delta is
  *    reduced onto that partitioner (the only shuffle) then applied as
  *    O(delta) structural-sharing updates — no per-batch state rewrite.
  *  - delta terms: probe-executable conjunctions (JVM-equality-safe
  *    value kinds, connected binding graph, long-backed ordering
  *    predicates) run as chains of PER-VARIABLE ARRANGEMENT probes —
  *    seed = the delta, each step re-keys the intermediate by the
  *    shared variable and extends through the next binding's e- or
  *    v-keyed index, so per-batch state READS are O(delta × degree)
  *    and stay flat as state grows (smoke: 2.0–3.2s/batch vs the
  *    Catalyst stream path's 3.5–4.8s-and-rising at 8M-row state).
  *    Everything else falls back per term to the batch Hector planner
  *    against the index views (broadcast-delta plan, state streamed).
  * Together these are the Spark analog of the arrangements the
  * reference keeps. Retractions flow exactly (signed weights multiply
  * through the joins); `Not` bindings are rejected — negation needs
  * delete-and-rederive, the batch engine's job.
  */
class IncrementalHector(
    spark: SparkSession,
    vars: Seq[Int],
    bindings: Seq[Binding],
    kinds: Map[String, ValueKind]) {

  UnmaintainablePlan.require(!bindings.exists(_.isInstanceOf[Binding.Not]),
    "IncrementalHector maintains the positive conjunctive core; " +
      "Not bindings need delete-and-rederive via the batch engine")

  private val attrBindings: Seq[Binding.Attr] =
    bindings.collect { case a: Binding.Attr => a }
  UnmaintainablePlan.require(attrBindings.nonEmpty, "need at least one Attr binding")

  // Bindings renamed apart: binding i over attribute a becomes `a#i`, so
  // each coordinate of the multilinear form has its own name even when
  // several bindings scan one attribute.
  private def renamed(i: Int, a: Binding.Attr): Binding.Attr =
    a.copy(a = s"${a.a}#$i")
  private val renamedBindings: Seq[Binding] = {
    var idx = -1
    bindings.map {
      case a: Binding.Attr => idx += 1; renamed(idx, a)
      case other           => other
    }
  }
  private val plan = Plan.Hector(vars, renamedBindings)

  // ---- Per-binding state: a weighted (e, v) -> w index kept as ONE
  // immutable map per partition ([[StateCell]]): a batch's update is
  // O(delta) structural sharing, never a full state rewrite.
  private type Key = (Long, Any)
  private type KV = (Key, Long)
  private type HMap = scala.collection.immutable.HashMap[Key, Long]

  private val nPartitions =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
  private val part = new HashPartitioner(nPartitions)

  // Indexed state per binding; sizes alongside (the advance returns the
  // per-partition sizes): RDD-backed frames carry no Catalyst stats, so
  // these counts are the ONLY size signal the compiler gets for its
  // join-site broadcasts.
  private val stateCells: Seq[StateCell[HMap]] =
    attrBindings.map(_ => new StateCell[HMap](
      spark.sparkContext, nPartitions,
      () => scala.collection.immutable.HashMap.empty, _.size * 200L))
  private val stateCounts: mutable.ArrayBuffer[Long] =
    mutable.ArrayBuffer.from(attrBindings.map(_ => 0L))

  // Per-variable ARRANGEMENTS for the probe executor: each binding's
  // state re-keyed by e and by v (net weights, zeros dropped) — the
  // delta terms walk them key-by-key instead of streaming the full
  // state through a broadcast join. Maintained only when the
  // conjunction's shape is probe-executable (see `probePlans`).
  private type ByE = scala.collection.immutable.HashMap[Long, Array[(Any, Long)]]
  private type ByV = scala.collection.immutable.HashMap[Any, Array[(Long, Long)]]
  private val ePart = new HashPartitioner(nPartitions)
  private lazy val byECells: Seq[StateCell[ByE]] =
    attrBindings.map(_ => new StateCell[ByE](
      spark.sparkContext, nPartitions,
      () => scala.collection.immutable.HashMap.empty, _.size * 180L))
  private lazy val byVCells: Seq[StateCell[ByV]] =
    attrBindings.map(_ => new StateCell[ByV](
      spark.sparkContext, nPartitions,
      () => scala.collection.immutable.HashMap.empty, _.size * 180L))

  // ---- Compact sorted-run state for LONG-kinded bindings ------------
  // When a binding's value kind is long-backed (KNumber/KEid/KInstant —
  // or KReal, whose values already travel as order-preserving encoded
  // longs), its state lives as packed [[LongRuns]] instead of the boxed
  // hash trio: ONE store sorted by (e, v) and partitioned by e serves
  // both pair lookups and e-prefix probes, a (v, e) sibling serves
  // v-prefix probes — ~24 B/entry vs the trie's ~200–240 B (SCALE_NOTES)
  // at unchanged per-batch cost (delta-run append + size-tiered merge is
  // the same O(delta)-amortized discipline as structural sharing).
  // Every other kind keeps the hash cells.
  private def runsBacked(i: Int): Boolean =
    kinds(attrBindings(i).a) match {
      case ValueKind.KNumber | ValueKind.KEid | ValueKind.KInstant |
          ValueKind.KReal => true
      case _ => false
    }
  private lazy val runsEVCells: Seq[StateCell[LongRuns]] =
    attrBindings.map(_ => new StateCell[LongRuns](
      spark.sparkContext, nPartitions, () => LongRuns.empty, _.bytes))
  private lazy val runsVECells: Seq[StateCell[LongRuns]] =
    attrBindings.map(_ => new StateCell[LongRuns](
      spark.sparkContext, nPartitions, () => LongRuns.empty, _.bytes))

  /** Test hook: MEASURED resident bytes of binding `i`'s state indexes
    * (a real SizeEstimator walk over the partition objects). */
  private[graft] def stateIndexMeasuredBytes(i: Int): Long = {
    def m(o: AnyRef): Long = org.apache.spark.util.GraftSizeOf.estimate(o)
    if (runsBacked(i))
      runsEVCells(i).rdd.map(m).fold(0L)(_ + _) +
        (if (probeLive) runsVECells(i).rdd.map(m).fold(0L)(_ + _) else 0L)
    else {
      val pair = stateCells(i).rdd.map(m).fold(0L)(_ + _)
      val arr =
        if (probeLive)
          byECells(i).rdd.map(m).fold(0L)(_ + _) +
            byVCells(i).rdd.map(m).fold(0L)(_ + _)
        else 0L
      pair + arr
    }
  }

  /** Test hook: resident-byte estimate of binding `i`'s state indexes
    * (declared sizes — what the block store accounts). */
  private[graft] def stateIndexBytes(i: Int): Long =
    if (runsBacked(i))
      runsEVCells(i).rdd.map(_.bytes).fold(0L)(_ + _) +
        (if (probeLive) runsVECells(i).rdd.map(_.bytes).fold(0L)(_ + _) else 0L)
    else {
      val pair = stateCells(i).rdd.map(_.size.toLong * 200L).fold(0L)(_ + _)
      val arr =
        if (probeLive)
          byECells(i).rdd.map(_.size.toLong * 180L).fold(0L)(_ + _) +
            byVCells(i).rdd.map(_.size.toLong * 180L).fold(0L)(_ + _)
        else 0L
      pair + arr
    }

  /** Shared byte gate: rows of a 3-column (e, v, _w) frame vs the
    * session's autoBroadcastJoinThreshold (the fixpoint loop's estimate). */
  private def broadcastable(rows: Long): Boolean =
    graft.kernel.RddKernel.broadcastable(spark, rows, 24L * 3 + 8L)

  private def stateSchema(i: Int): StructType = StructType(Seq(
    StructField("e", LongType, false),
    StructField("v", kinds(attrBindings(i).a).dataType, true),
    StructField("_w", LongType, false)))

  /** DataFrame view over a keyed state/delta RDD — a pure per-row map the
    * batch compiler consumes; no shuffle, no copy of the persisted state. */
  private def dfView(i: Int, rdd: RDD[KV]): DataFrame = {
    val isReal = realBinding(i)
    spark.createDataFrame(
      rdd.map { case ((e, v), w) =>
        Row(e,
          if (isReal) IncrementalHector.decReal(v.asInstanceOf[Long]) else v,
          w)
      }, stateSchema(i))
  }

  /** DataFrame view over binding `i`'s CURRENT index — iterates the
    * partition-resident maps lazily at each Catalyst scan. Valid only
    * until the NEXT `advance`: commits eagerly drop the superseded
    * generation's blocks ([[StateCell]]), so a held view evaluates
    * against missing checkpoint blocks afterwards — re-fetch via
    * [[stateOf]] per batch instead of caching across advances. */
  private def indexView(i: Int): DataFrame =
    if (runsBacked(i))
      dfView(i, runsEVCells(i).rdd.flatMap(_.iterator.map {
        case ((e, v), w) => ((e, v: java.lang.Long): Key, w)
      }))
    else dfView(i, stateCells(i).rdd.flatMap(_.iterator))

  // DataFrame views kept in sync with the cells (compiler + tests).
  private val state: mutable.ArrayBuffer[DataFrame] =
    mutable.ArrayBuffer.from(attrBindings.indices.map(indexView))

  /** Current consolidated state of binding `i` (tests / introspection).
    * The returned view is tied to the current generation — evaluate it
    * before the next `advance` (see [[indexView]]). */
  def stateOf(i: Int): DataFrame = state(i)

  /** Output (vars, kinds) of the maintained conjunction — the relation
    * template composition layers ([[IncrementalQuery]]) bind deltas to. */
  lazy val outputVarsKinds: (Seq[Int], Seq[ValueKind]) = {
    val rel = new Compiler(sourceFor(state, _ => false), Map.empty)
      .compile(plan, Map.empty)
      .getOrElse(sys.error("hector compilation failed"))
    (rel.vars, rel.kinds)
  }

  /** Output schema (c0..cn, _w), from one compile against current state. */
  private lazy val outputSchema: org.apache.spark.sql.types.StructType =
    new Compiler(sourceFor(state, _ => false), Map.empty)
      .compile(plan, Map.empty)
      .getOrElse(sys.error("hector compilation failed"))
      .df.schema

  private def sourceFor(tableOf: Int => DataFrame,
      smallOf: Int => Boolean): AttributeSource =
    new AttributeSource {
      private val byName: Map[String, Int] =
        attrBindings.zipWithIndex.map { case (a, i) => s"${a.a}#$i" -> i }.toMap
      def has(name: String): Boolean = byName.contains(name)
      def kind(name: String): ValueKind =
        kinds(name.substring(0, name.lastIndexOf('#')))
      def unit(name: String): Boolean = false // weighted Z-set state
      def collection(name: String): DataFrame = tableOf(byName(name))
      // Counted frames behind the byte gate broadcast at join sites —
      // without this a 5k delta joining 1M-row state re-shuffles the
      // state every batch (RDD frames have no stats for Catalyst).
      override def small(name: String): Boolean = smallOf(byName(name))
      override def version: (Long, Long) = (0L, Long.MaxValue)
    }

  /** Indexed state merge: apply the co-partitioned delta to binding
    * `i`'s partition-resident map (zero-weight entries dropped) and
    * return the new TOTAL row count — the only per-batch state work is
    * O(delta) structural sharing plus a constant-size checkpoint. Also
    * maintains the per-variable arrangements when the probe executor is
    * live (same O(delta) discipline, one re-key shuffle each). */
  private def mergeIdx(i: Int, delta: RDD[KV]): Long = {
    if (runsBacked(i)) {
      // Packed-run path: (e,v)-sorted store keyed by e (pair lookups +
      // e-prefix probes), (v,e)-sorted sibling keyed by v. The returned
      // size signal is the packed-triple count — an upper bound on live
      // keys (cancellations collapse at compaction), which only makes
      // the broadcast gate more conservative.
      val n = runsEVCells(i).advance1(
          delta.map { case ((e, v), w) => (e, (v.asInstanceOf[Long], w)) }
            .partitionBy(ePart)) { (s: LongRuns, dIt) =>
        val buf = mutable.ArrayBuilder.make[Long]
        dIt.foreach { case (e, (v, w)) => buf += e; buf += v; buf += w }
        val ns = s.merged(buf.result())
        (ns, Array(ns.packedCount))
      }.fold(0L)(_ + _)
      // The (v,e)-sorted sibling exists solely for probe execution —
      // with the probe executor off nothing reads it, so don't pay its
      // re-key shuffle, sort/merge, or residency (mirrors the boxed
      // path's byECells/byVCells gating; round-10 ADVICE).
      if (probeLive) {
        val _ = runsVECells(i).advance1(
            delta.map { case ((e, v), w) => (v.asInstanceOf[Long], (e, w)) }
              .partitionBy(ePart)) { (s: LongRuns, dIt) =>
          val buf = mutable.ArrayBuilder.make[Long]
          dIt.foreach { case (v, (e, w)) => buf += v; buf += e; buf += w }
          (s.merged(buf.result()), Array.empty[Int])
        }
      }
      return n
    }
    val n = stateCells(i).advance1(delta) { (s: HMap, dIt: Iterator[KV]) =>
      var m = s
      dIt.foreach { case (k, dw) =>
        val nw = m.getOrElse(k, 0L) + dw
        if (nw == 0L) m -= k else m = m.updated(k, nw)
      }
      (m, Array(m.size.toLong))
    }.fold(0L)(_ + _)
    if (probeLive) {
      byECells(i).advance1(
        delta.map { case ((e, v), w) => (e, (v, w)) }.partitionBy(ePart))(
        IncrementalHector.byEMerge)
      byVCells(i).advance1(
        delta.map { case ((e, v), w) => (v, (e, w)) }.partitionBy(ePart))(
        IncrementalHector.byVMerge)
    }
    n
  }

  // ---- indexed probe execution for delta terms -----------------------
  //
  // For probe-executable conjunctions (every value kind JVM-equality-
  // safe, every non-seed binding reachable through a shared variable,
  // ordering predicates long-backed), the delta term for binding i runs
  // as a chain of per-variable index probes: seed = Δi rows, each step
  // re-keys the intermediate by the shared variable (one O(intermediate)
  // shuffle) and extends through the next binding's arrangement —
  // per-batch state READS are O(delta × degree), never a stream of the
  // other bindings' full states. Falls back to the Catalyst term (with
  // its broadcast-delta plan) whenever `probePlans(i)` is None.

  import IncrementalHector.{ProbePlan, ProbeStep}

  private def probeSafeKind(k: ValueKind): Boolean = k match {
    case ValueKind.KNumber | ValueKind.KEid | ValueKind.KInstant |
        ValueKind.KString | ValueKind.KUuid | ValueKind.KAid |
        ValueKind.KBool => true
    // KReal (and real-carrying structs): JVM boxed equality diverges
    // from Catalyst only at -0.0/NaN, which `canon` normalizes at every
    // ingest point — after that, universal equality IS Catalyst
    // equality. Rationals/variants are structural rows (normalized at
    // construction), canonicalized recursively.
    case ValueKind.KReal | ValueKind.KRational | ValueKind.KVariant => true
    case _ => false
  }
  /** Any binding kind needing value canonicalization before keys enter
    * the arrangements / probe slots (skip the pass for the pure
    * long/string hot path). */
  private lazy val needsCanon: Boolean =
    attrBindings.exists(b => kinds(b.a) match {
      case ValueKind.KReal | ValueKind.KRational | ValueKind.KVariant => true
      case _ => false
    })
  /** Per-binding: values travel as order-preserving encoded longs
    * internally (see [[IncrementalHector.encReal]]). */
  private def realBinding(i: Int): Boolean =
    kinds(attrBindings(i).a) == ValueKind.KReal
  private def longKind(k: ValueKind): Boolean = k match {
    case ValueKind.KNumber | ValueKind.KEid | ValueKind.KInstant => true
    case _ => false
  }

  // Variable kinds: e-positions are entity longs; v-positions carry the
  // attribute's value kind. A var in both positions must be long.
  private lazy val varKind: Map[Int, ValueKind] = {
    val m = mutable.Map.empty[Int, ValueKind]
    attrBindings.foreach { b =>
      m(b.e) = ValueKind.KEid
      val vk = kinds(b.a)
      m(b.v) = m.get(b.v) match {
        case Some(k0) if k0 != vk => ValueKind.KEid // join of e and v: long
        case _                    => vk
      }
    }
    bindings.foreach {
      case Binding.Const(x, value) =>
        m.getOrElseUpdate(x, ValueKind.of(value))
      case _ => ()
    }
    m.toMap
  }

  private lazy val probeLive: Boolean = probePlans.exists(_.isDefined)

  /** Test hook: is the arrangement-probe executor live for this
    * conjunction (vs the Catalyst fallback)? Forces plan construction. */
  private[graft] def probeEnabled: Boolean = probeLive

  /** One probe plan per binding index (None = Catalyst fallback). */
  private lazy val probePlans: Seq[Option[ProbePlan]] =
    probeOutcomes.map(_.toOption)

  /** One outcome per binding index: Right(plan), or Left(REASON) naming
    * exactly why the term stays on the Catalyst fallback. The reason
    * vocabulary is CLOSED and spec-pinned (`ProbeFallbackSpec`): a
    * future kind or predicate addition that silently regresses a
    * probe-able shape to the streaming path shows up as an unexpected
    * reason (or an unexpected fallback) and fails CI. */
  private[graft] lazy val probeOutcomes: Seq[Either[String, ProbePlan]] =
    attrBindings.indices.map(buildProbePlan)

  private def buildProbePlan(i: Int): Either[String, ProbePlan] = {
    if (!attrBindings.forall(b => probeSafeKind(kinds(b.a))))
      return Left(IncrementalHector.FbAttrKind)
    val consts: Seq[(Int, Value)] =
      bindings.collect { case Binding.Const(x, v) => x -> v }
    if (!consts.forall { case (_, v) => probeSafeKind(ValueKind.of(v)) })
      return Left(IncrementalHector.FbConstKind)
    // A var carrying a KReal binding value travels as the encoded long;
    // a var MIXING real and non-real positions would compare encoded
    // against raw — Catalyst's (casting) job, not the probe's.
    attrBindings.foreach { b =>
      if (kinds(b.a) == ValueKind.KReal &&
          varKind.get(b.v) != Some(ValueKind.KReal))
        return Left(IncrementalHector.FbRealVarMix)
    }
    // A const's encoding follows the kind of the VAR it pins: a double
    // const on a KReal var encodes; a double const on any other slot —
    // or a non-double const on a KReal var — would compare encoded
    // against raw, so those shapes stay on the Catalyst path (None).
    def native(x: Int, v: Value): Option[Any] = (v.native, varKind.get(x)) match {
      case (d: java.lang.Double, Some(ValueKind.KReal)) =>
        Some(IncrementalHector.encReal(d.doubleValue()))
      case (_: java.lang.Double, _)   => None
      case (_, Some(ValueKind.KReal)) => None
      case (other, _)                 => Some(IncrementalHector.canon(other))
    }
    val slotOf = mutable.LinkedHashMap.empty[Int, Int]
    def slot(v: Int): Int = slotOf.getOrElseUpdate(v, slotOf.size)
    val seed = attrBindings(i)
    val seedE = slot(seed.e)
    val seedV = slot(seed.v)
    // Constants: a var already slotted (a seed var) becomes a seed-value
    // check; otherwise the var's slot IS a prefilled const slot — a
    // const-pinned binding var then counts as bound for probe keying.
    val constSlots = mutable.ArrayBuffer.empty[(Int, Any)]
    val seedChecks = mutable.ArrayBuffer.empty[(Int, Any)]
    consts.foreach { case (x, value) =>
      val n = native(x, value)
        .getOrElse(return Left(IncrementalHector.FbConstEncoding))
      if (slotOf.contains(x)) seedChecks += ((slotOf(x), n))
      else constSlots += ((slot(x), n))
    }
    // Greedy connected order over the remaining bindings. A component
    // DISCONNECTED from everything slotted so far starts with a SCAN
    // step (both vars unbound — the executor cross-extends through the
    // binding's full index, exactly the cartesian the conjunction's
    // semantics demand and the Catalyst fallback would also pay); its
    // remaining bindings then chain as ordinary probes.
    val remaining = mutable.LinkedHashSet(
      attrBindings.indices.filterNot(_ == i): _*)
    val steps = mutable.ArrayBuffer.empty[ProbeStep]
    while (remaining.nonEmpty) {
      val next = remaining.find { j =>
        val b = attrBindings(j)
        slotOf.contains(b.e) || slotOf.contains(b.v)
      }.getOrElse(remaining.head) // disconnected: seed a new component
      remaining -= next
      val b = attrBindings(next)
      val eB = slotOf.contains(b.e)
      val vB = slotOf.contains(b.v)
      steps += ProbeStep(next, slot(b.e), slot(b.v), eB, vB, Array.empty)
    }
    // Attach each predicate to the earliest point where both operand
    // slots are filled (seed slots and const slots fill at the seed).
    def fillPoint(v: Int): Int = {
      if (v == seed.e || v == seed.v) return -1
      if (constSlots.exists(_._1 == slotOf.getOrElse(v, -2))) return -1
      steps.indexWhere { s =>
        val b = attrBindings(s.b)
        (b.e == v && !s.eBound) || (b.v == v && !s.vBound)
      }
    }
    val seedPreds = mutable.ArrayBuffer.empty[(Predicate, Int, Int, Int)]
    val stepPreds = Array.fill(steps.length)(
      mutable.ArrayBuffer.empty[(Predicate, Int, Int, Int)])
    // Ordering comparator per operand kind-class; the JVM compare must
    // match what the Catalyst fallback would produce exactly: signed
    // longs, canonicalized doubles (NaN largest, no -0.0), UTF-8 BYTE
    // order for strings (java String.compareTo is UTF-16 order, which
    // DIVERGES above the BMP — Catalyst compares UTF8String bytes),
    // false < true for booleans, field-by-field Catalyst struct order
    // for rationals and variants (nulls first within a field).
    // KReal slots hold the ENCODED long, raw long kinds the plain value:
    // the two must never meet in one comparison (or equality) — encoded
    // vs raw would be silently wrong. Each kind-class compares only with
    // itself; KReal's class resolves to long comparison OVER THE ENCODING.
    def kindClass(k: ValueKind): Int = k match {
      case k0 if longKind(k0) => IncrementalHector.CmpLong
      case ValueKind.KReal    => IncrementalHector.CmpEncReal
      case ValueKind.KString | ValueKind.KUuid | ValueKind.KAid =>
        IncrementalHector.CmpUtf8
      case ValueKind.KBool     => IncrementalHector.CmpBool
      case ValueKind.KRational => IncrementalHector.CmpRational
      case ValueKind.KVariant  => IncrementalHector.CmpVariant
      case _                   => -1
    }
    def cmpKindOf(x: Int, y: Int): Option[Int] =
      (varKind.get(x).map(kindClass), varKind.get(y).map(kindClass)) match {
        case (Some(a), Some(b)) if a == b && a >= 0 =>
          // encoded reals order exactly like their longs
          Some(if (a == IncrementalHector.CmpEncReal) IncrementalHector.CmpLong
               else a)
        case _ => None
      }
    bindings.foreach {
      case Binding.BinaryPred(x, y, p) =>
        val ordering = p != Predicate.EQ && p != Predicate.NEQ
        // Equality across kind classes is fine for identical JVM reps,
        // but an ENCODED real slot must never meet a raw slot even
        // under EQ/NEQ.
        val mixesReal = {
          val cx = varKind.get(x).map(kindClass)
          val cy = varKind.get(y).map(kindClass)
          (cx.contains(IncrementalHector.CmpEncReal) ||
            cy.contains(IncrementalHector.CmpEncReal)) && cx != cy
        }
        if (mixesReal) return Left(IncrementalHector.FbPredMixesReal)
        val cmp =
          if (!ordering) IncrementalHector.CmpLong
          else cmpKindOf(x, y)
            .getOrElse(return Left(IncrementalHector.FbPredOrderingKind))
        if (!slotOf.contains(x) || !slotOf.contains(y))
          return Left(IncrementalHector.FbPredUnslotted)
        val (fx, fy) = (fillPoint(x), fillPoint(y))
        if (fx < -1 || fy < -1) // unreachable: be loud via fallback
          return Left(IncrementalHector.FbPredFillPoint)
        val at = math.max(fx, fy)
        val entry = (p, slotOf(x), slotOf(y), cmp)
        if (at < 0) seedPreds += entry else stepPreds(at) += entry
      case _ => ()
    }
    val withPreds = steps.zipWithIndex.map { case (s, k) =>
      s.copy(preds = stepPreds(k).toArray)
    }
    // Output: every target var needs a slot (bound or const-pinned);
    // KReal slots decode back to doubles at the frame boundary.
    val outSlots = vars.map(v => slotOf.getOrElse(v,
      return Left(IncrementalHector.FbOutputUnslotted))).toArray
    val outReal = vars.map(v =>
      varKind.get(v).contains(ValueKind.KReal)).toArray
    Right(ProbePlan(seedE, seedV, slotOf.size, constSlots.toArray,
      seedChecks.toArray, seedPreds.toArray, withPreds.toArray, outSlots,
      outReal))
  }

  /** Execute binding `i`'s delta term through the arrangements; the
    * result rows are exactly the Catalyst term's (modulo per-tuple
    * multiplicity, consolidated by the caller). */
  private def probeTerm(i: Int, plan: ProbePlan, dRdd: RDD[KV]): DataFrame = {
    val pl = plan
    var inter: RDD[(Array[Any], Long)] = dRdd.mapPartitions { it =>
      val consts = pl.constSlots
      val checks = pl.seedChecks
      val preds = pl.seedPreds
      it.flatMap { case ((e, v), w) =>
        // Seed unification (Attr(x, a, x)): e and v share one slot.
        if (pl.seedVSlot == pl.seedESlot && e != v) None
        else {
          val t = new Array[Any](pl.nSlots)
          var ci = 0
          while (ci < consts.length) {
            t(consts(ci)._1) = consts(ci)._2; ci += 1
          }
          t(pl.seedESlot) = e
          t(pl.seedVSlot) = v
          val ok = checks.forall { case (sl, c) => t(sl) == c } &&
            IncrementalHector.passAll(preds, t)
          if (ok) Some((t, w)) else None
        }
      }
    }
    pl.steps.foreach { st =>
      val useRuns = runsBacked(st.b)
      lazy val cellPair = stateCells(st.b)
      lazy val cellE = byECells(st.b)
      lazy val cellV = byVCells(st.b)
      lazy val runsEV = runsEVCells(st.b)
      lazy val runsVE = runsVECells(st.b)
      val (eSlot, vSlot, preds) = (st.eSlot, st.vSlot, st.preds)
      inter =
        if (useRuns) {
          // Packed-run probes: same shapes, primitive indexes. The pair
          // lookup rides the e-keyed (e,v)-sorted store (one partitioner
          // for both), values come back as boxed longs in the slots.
          if (st.eBound && st.vBound) {
            inter.map { case (t, w) => (t(eSlot).asInstanceOf[Long], (t, w)) }
              .partitionBy(ePart)
              .zipPartitions(runsEV.rdd) { (iIt, sIt) =>
                val m = sIt.next()
                iIt.flatMap { case (e, (t, w)) =>
                  val sw = m.get(e, t(vSlot).asInstanceOf[Long])
                  if (sw != 0L && IncrementalHector.passAll(preds, t))
                    Some((t, w * sw))
                  else None
                }
              }
          } else if (st.eBound) {
            inter.map { case (t, w) => (t(eSlot).asInstanceOf[Long], (t, w)) }
              .partitionBy(ePart)
              .zipPartitions(runsEV.rdd) { (iIt, sIt) =>
                val m = sIt.next()
                iIt.flatMap { case (e, (t, w)) =>
                  m.prefix(e).flatMap { case (v, sw) =>
                    val t2 = t.clone(); t2(vSlot) = v: java.lang.Long
                    if (IncrementalHector.passAll(preds, t2))
                      Some((t2, w * sw))
                    else None
                  }
                }
              }
          } else if (st.vBound) {
            inter.map { case (t, w) => (t(vSlot).asInstanceOf[Long], (t, w)) }
              .partitionBy(ePart)
              .zipPartitions(runsVE.rdd) { (iIt, sIt) =>
                val m = sIt.next()
                iIt.flatMap { case (v, (t, w)) =>
                  m.prefix(v).flatMap { case (e, sw) =>
                    val t2 = t.clone(); t2(eSlot) = e: java.lang.Long
                    if (IncrementalHector.passAll(preds, t2))
                      Some((t2, w * sw))
                    else None
                  }
                }
              }
          } else {
            val sameSlot = eSlot == vSlot
            inter.cartesian(runsEV.rdd.flatMap(_.iterator))
              .flatMap { case ((t, w), ((e, v), sw)) =>
                if (sameSlot && e != v) None
                else {
                  val t2 = t.clone()
                  t2(eSlot) = e: java.lang.Long; t2(vSlot) = v: java.lang.Long
                  if (IncrementalHector.passAll(preds, t2)) Some((t2, w * sw))
                  else None
                }
              }
          }
        } else
        if (st.eBound && st.vBound) {
          inter.map { case (t, w) => ((t(eSlot).asInstanceOf[Long], t(vSlot)), (t, w)) }
            .partitionBy(part)
            .zipPartitions(cellPair.rdd) { (iIt, sIt) =>
              val m = sIt.next()
              iIt.flatMap { case (k, (t, w)) =>
                m.get(k) match {
                  case Some(sw) if IncrementalHector.passAll(preds, t) =>
                    Some((t, w * sw))
                  case _ => None
                }
              }
            }
        } else if (st.eBound) {
          inter.map { case (t, w) => (t(eSlot).asInstanceOf[Long], (t, w)) }
            .partitionBy(ePart)
            .zipPartitions(cellE.rdd) { (iIt, sIt) =>
              val m = sIt.next()
              iIt.flatMap { case (e, (t, w)) =>
                m.get(e) match {
                  case None => Iterator.empty
                  case Some(vs) => vs.iterator.flatMap { case (v, sw) =>
                    val t2 = t.clone(); t2(vSlot) = v
                    if (IncrementalHector.passAll(preds, t2))
                      Some((t2, w * sw))
                    else None
                  }
                }
              }
            }
        } else if (st.vBound) {
          inter.map { case (t, w) => (t(vSlot), (t, w)) }
            .partitionBy(ePart)
            .zipPartitions(cellV.rdd) { (iIt, sIt) =>
              val m = sIt.next()
              iIt.flatMap { case (v, (t, w)) =>
                m.get(v) match {
                  case None => Iterator.empty
                  case Some(es) => es.iterator.flatMap { case (e, sw) =>
                    val t2 = t.clone(); t2(eSlot) = e
                    if (IncrementalHector.passAll(preds, t2))
                      Some((t2, w * sw))
                    else None
                  }
                }
              }
            }
        } else {
          // Disconnected-component seed: NEITHER var bound — cross-extend
          // through the binding's full index (the cartesian the
          // conjunction's semantics demand; the Catalyst fallback streams
          // the same product). Subsequent component bindings probe as
          // usual once these slots fill.
          val sameSlot = eSlot == vSlot
          inter.cartesian(cellPair.rdd.flatMap(_.iterator))
            .flatMap { case ((t, w), ((e, v), sw)) =>
              if (sameSlot && e != v) None
              else {
                val t2 = t.clone()
                t2(eSlot) = e; t2(vSlot) = v
                if (IncrementalHector.passAll(preds, t2)) Some((t2, w * sw))
                else None
              }
            }
        }
    }
    val outSlots = pl.outSlots
    val outReal = pl.outReal
    spark.createDataFrame(
      inter.map { case (t, w) =>
        val cells = new Array[Any](outSlots.length)
        var ci = 0
        while (ci < outSlots.length) {
          val v = t(outSlots(ci))
          cells(ci) =
            if (outReal(ci)) IncrementalHector.decReal(v.asInstanceOf[Long])
            else v
          ci += 1
        }
        Row.fromSeq(cells.toSeq :+ w)
      }, outputSchema)
  }

  /** Apply one batch of signed deltas (binding index -> (e, v, diff) rows;
    * indices follow Attr-binding order) and return the EXACT output diffs
    * `(c0..cn, _w)` of the conjunction for this batch. */
  def advance(deltas: Map[Int, DataFrame]): DataFrame = {
    require(deltas.keySet.subsetOf(attrBindings.indices.toSet),
      s"delta keys ${deltas.keySet} must be Attr-binding indices " +
        s"0..${attrBindings.length - 1} (Attr-binding order, " +
        "not overall binding positions)")
    // Reduce each delta onto the state partitioner — the ONLY shuffle in
    // state maintenance, O(delta) bytes however large the state has grown
    // — and pin it (delta terms and the merge both read it, and the
    // delivered diffs must outlive the caller's source frame).
    // Materialize each delta once (the count doubles as its size signal).
    val doCanon = needsCanon
    val deltaPairs: Map[Int, (RDD[KV], Long)] = deltas.map { case (i, df) =>
      val isReal = realBinding(i)
      val r = Exchange.sum(df
        .select(col("e"), col("v"), col("diff").cast("long").as("_w"))
        .rdd.map { r =>
          val v0 = r.get(1)
          val v =
            if (isReal) IncrementalHector.encReal(
              v0.asInstanceOf[Number].doubleValue()): java.lang.Long
            else if (doCanon) IncrementalHector.canon(v0)
            else v0
          ((r.getLong(0), v), r.getLong(2))
        }, part)
        .graftCheckpoint()
      i -> (r, r.count())
    }
    val deltaRdds: Map[Int, RDD[KV]] = deltaPairs.map { case (i, (r, _)) => i -> r }
    val deltaCounts: Map[Int, Long] = deltaPairs.map { case (i, (_, n)) => i -> n }
    // Interleaved delta-rule sequencing: term i evaluates against the
    // CURRENT state (bindings < i already merged — their POST-update
    // version — bindings ≥ i still PRE-update, with position i served
    // by the delta), materializes eagerly (delta-sized), and ONLY THEN
    // does binding i merge — so no term can read a state generation the
    // StateCell has already dropped. Probe-executable terms walk the
    // per-variable arrangements (O(delta × degree) state reads); the
    // rest compile through the batch Hector planner against the index
    // views (broadcast-delta plan, state streamed).
    val n = vars.length
    val schema = (0 until n).map(Rel.c) :+ Rel.W
    val termFrames = mutable.ArrayBuffer.empty[DataFrame]
    attrBindings.indices.foreach { i =>
      deltaRdds.get(i).foreach { d =>
        val frame = probePlans(i) match {
          case Some(pl) if probeLive => probeTerm(i, pl, d)
          case _ =>
            val dDf = dfView(i, d)
            val src = sourceFor(
              j => if (j == i) dDf else state(j),
              j => broadcastable(
                if (j == i) deltaCounts(i) else stateCounts(j)))
            new Compiler(src, Map.empty).compile(plan, Map.empty) match {
              case Some(rel) => rel.df.toDF(schema: _*)
              case None => sys.error("hector compilation failed for delta term")
            }
        }
        termFrames += frame.graftCheckpoint(true)
        stateCounts(i) = mergeIdx(i, d)
        state(i) = indexView(i)
      }
    }
    termFrames.toSeq match {
      case Seq() =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outputSchema)
      case ts =>
        ts.map(_.toDF(schema: _*)).reduce(_ union _)
          .groupBy((0 until n).map(i => col(Rel.c(i))): _*)
          .agg(sum(col(Rel.W)).as(Rel.W))
          .where(col(Rel.W) =!= 0L)
    }
  }
}

object IncrementalHector {

  // The CLOSED probe-fallback reason vocabulary (`ProbeFallbackSpec`
  // enumerates it over the property corpus and fails CI on any reason
  // outside this set — or on a fallback where a probe plan is expected).
  private[graft] final val FbAttrKind = "attr-kind-not-probe-safe"
  private[graft] final val FbConstKind = "const-kind-not-probe-safe"
  private[graft] final val FbRealVarMix = "real-var-kind-mix"
  private[graft] final val FbConstEncoding = "const-encoding-mismatch"
  private[graft] final val FbPredMixesReal = "pred-mixes-encoded-real"
  private[graft] final val FbPredOrderingKind = "pred-ordering-kind-mismatch"
  private[graft] final val FbPredUnslotted = "pred-operand-unslotted"
  private[graft] final val FbPredFillPoint = "pred-fillpoint-invalid"
  private[graft] final val FbOutputUnslotted = "output-var-unslotted"
  private[graft] val FallbackReasons: Set[String] = Set(
    FbAttrKind, FbConstKind, FbRealVarMix, FbConstEncoding,
    FbPredMixesReal, FbPredOrderingKind, FbPredUnslotted, FbPredFillPoint,
    FbOutputUnslotted)

  // Top-level (no $outer) so probe closures serialize cleanly.
  // Comparator classes for ordering predicates on the probe path; each
  // must reproduce the Catalyst fallback's ordering exactly.
  private[streaming] final val CmpLong = 0
  private[streaming] final val CmpDouble = 1
  private[streaming] final val CmpUtf8 = 2
  private[streaming] final val CmpBool = 3
  /** Kind-CLASS marker only (never an executor comparator): encoded
    * reals resolve to [[CmpLong]] over the encoding, but must not mix
    * with raw long slots. */
  private[streaming] final val CmpEncReal = 4
  /** Rational structs: Catalyst struct ordering over (num, den). */
  private[streaming] final val CmpRational = 5
  /** Variant structs: Catalyst struct ordering over the full layout
    * (tag, s, n, b, d, rn, rd) — field by field, nulls first. */
  private[streaming] final val CmpVariant = 6

  private[streaming] final case class ProbeStep(
      b: Int, eSlot: Int, vSlot: Int, eBound: Boolean, vBound: Boolean,
      preds: Array[(Predicate, Int, Int, Int)])

  private[streaming] final case class ProbePlan(
      seedESlot: Int, seedVSlot: Int, nSlots: Int,
      constSlots: Array[(Int, Any)],      // prefilled const slots
      seedChecks: Array[(Int, Any)],      // seed-var slot must equal value
      seedPreds: Array[(Predicate, Int, Int, Int)],
      steps: Array[ProbeStep],
      outSlots: Array[Int],
      outReal: Array[Boolean])

  /** ORDER-PRESERVING long encoding for KReal probe values. Scala's
    * `==` on boxed doubles is primitive comparison — NaN != NaN — so a
    * NaN key is unfindable in every Scala map; SQL equality (and
    * Catalyst joins/grouping) treat NaN = NaN and -0.0 = 0.0 as TRUE.
    * Encoding the canonicalized bits into a sign-flipped long restores
    * both: long equality == SQL double equality, and SIGNED long order
    * == Catalyst double order (NaN largest — canonical NaN bits sit
    * above +Inf). Values are encoded at the delta boundary and decoded
    * at the frame boundaries ([[IncrementalHector]]'s `dfView` and the
    * probe output). */
  private[streaming] def encReal(d0: Double): Long = {
    val d = if (java.lang.Double.isNaN(d0)) Double.NaN
            else if (d0 == 0.0d) 0.0d else d0
    val bits = java.lang.Double.doubleToLongBits(d)
    if (bits >= 0L) bits else bits ^ 0x7fffffffffffffffL
  }
  private[streaming] def decReal(l: Long): Double =
    java.lang.Double.longBitsToDouble(
      if (l >= 0L) l else l ^ 0x7fffffffffffffffL)

  /** Catalyst-equality canonicalization: -0.0 folds into 0.0 and NaN
    * into the canonical NaN bit pattern (SQL equality and Spark's
    * NormalizeFloatingNumbers agree), recursively through struct rows
    * (rationals, variants — their nested reals carry the same hazard;
    * Spark's `Row.equals` is NaN-safe, so canonical NaN payloads inside
    * structs compare correctly). Everything else passes through. */
  private[streaming] def canon(v: Any): Any = v match {
    case d: java.lang.Double =>
      val dd = d.doubleValue()
      if (java.lang.Double.isNaN(dd)) java.lang.Double.valueOf(Double.NaN)
      else if (dd == 0.0d) java.lang.Double.valueOf(0.0d)
      else d
    case f: java.lang.Float =>
      val ff = f.floatValue()
      if (java.lang.Float.isNaN(ff)) java.lang.Float.valueOf(Float.NaN)
      else if (ff == 0.0f) java.lang.Float.valueOf(0.0f)
      else f
    case r: Row => Row.fromSeq(r.toSeq.map(canon))
    case other  => other
  }

  /** UTF-8 byte order — what Catalyst's UTF8String comparison uses;
    * java String.compareTo (UTF-16 code units) diverges above the BMP. */
  private def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private def compareK(cmp: Int, a: Any, b: Any): Int = cmp match {
    case CmpLong =>
      def l(x: Any): Long = x match {
        case n: Long => n
        case n: Int  => n.toLong
        case other   => sys.error(s"probe predicate expected a long, got $other")
      }
      java.lang.Long.compare(l(a), l(b))
    case CmpDouble =>
      // Canonicalized operands: -0.0 already folded; Double.compare puts
      // NaN above everything, matching Catalyst's double ordering.
      java.lang.Double.compare(
        a.asInstanceOf[Number].doubleValue(),
        b.asInstanceOf[Number].doubleValue())
    case CmpUtf8 => utf8Compare(a.asInstanceOf[String], b.asInstanceOf[String])
    case CmpBool => java.lang.Boolean.compare(
      a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case CmpRational =>
      // Catalyst struct ordering: field by field over (num, den) —
      // rationals are constructed normalized (gcd-reduced, positive
      // denominator), and this matches exactly what the Catalyst
      // fallback's struct comparison produces.
      val ra = a.asInstanceOf[Row]; val rb = b.asInstanceOf[Row]
      val c = java.lang.Long.compare(ra.getLong(0), rb.getLong(0))
      if (c != 0) c else java.lang.Long.compare(ra.getLong(1), rb.getLong(1))
    case CmpVariant =>
      // Catalyst struct ordering over the variant layout (tag, s, n, b,
      // d, rn, rd): field by field, null fields FIRST (Catalyst's
      // per-field ascending-nulls-first rule inside struct comparison),
      // strings in UTF-8 byte order, doubles canonicalized +
      // Double.compare (NaN largest — Catalyst's double order).
      val ra = a.asInstanceOf[Row]; val rb = b.asInstanceOf[Row]
      def fieldCmp(i: Int, f: (Any, Any) => Int): Int = {
        val x = ra.get(i); val y = rb.get(i)
        if (x == null && y == null) 0
        else if (x == null) -1
        else if (y == null) 1
        else f(x, y)
      }
      var c = java.lang.Integer.compare(ra.getInt(0), rb.getInt(0))
      if (c == 0) c = fieldCmp(1,
        (x, y) => utf8Compare(x.asInstanceOf[String], y.asInstanceOf[String]))
      if (c == 0) c = fieldCmp(2,
        (x, y) => java.lang.Long.compare(x.asInstanceOf[Long], y.asInstanceOf[Long]))
      if (c == 0) c = fieldCmp(3,
        (x, y) => java.lang.Boolean.compare(x.asInstanceOf[Boolean], y.asInstanceOf[Boolean]))
      if (c == 0) c = fieldCmp(4,
        (x, y) => java.lang.Double.compare(x.asInstanceOf[Double], y.asInstanceOf[Double]))
      if (c == 0) c = fieldCmp(5,
        (x, y) => java.lang.Long.compare(x.asInstanceOf[Long], y.asInstanceOf[Long]))
      if (c == 0) c = fieldCmp(6,
        (x, y) => java.lang.Long.compare(x.asInstanceOf[Long], y.asInstanceOf[Long]))
      c
  }

  /** JVM-side predicate check over the slot tuple — matches Catalyst
    * for the probe-safe kinds: universal equality over CANONICALIZED
    * values, per-kind-class comparison for ordering (see [[compareK]]).
    * Nulls never arise: state values come from non-null datom columns.
    * Top-level so tasks capture only the compiled (predicate, slotX,
    * slotY, cmpClass) arrays. */
  private[streaming] def passAll(
      preds: Array[(Predicate, Int, Int, Int)], t: Array[Any]): Boolean = {
    var i = 0
    while (i < preds.length) {
      val (p, xs, ys, cmp) = preds(i)
      val a = t(xs); val b = t(ys)
      val ok = p match {
        case Predicate.EQ  => a == b
        case Predicate.NEQ => a != b
        case Predicate.LT  => compareK(cmp, a, b) < 0
        case Predicate.LTE => compareK(cmp, a, b) <= 0
        case Predicate.GT  => compareK(cmp, a, b) > 0
        case Predicate.GTE => compareK(cmp, a, b) >= 0
      }
      if (!ok) return false
      i += 1
    }
    true
  }

  /** Merge (v, ±w) deltas into an e-keyed arrangement: per touched key
    * the neighbor array rebuilds once (net weights, zeros dropped). */
  private[streaming] def byEMerge(
      s: scala.collection.immutable.HashMap[Long, Array[(Any, Long)]],
      dIt: Iterator[(Long, (Any, Long))])
    : (scala.collection.immutable.HashMap[Long, Array[(Any, Long)]], Array[Int]) = {
    val byKey =
      scala.collection.mutable.LinkedHashMap.empty[Long,
        scala.collection.mutable.ArrayBuffer[(Any, Long)]]
    dIt.foreach { case (e, vw) =>
      byKey.getOrElseUpdate(e, scala.collection.mutable.ArrayBuffer.empty) += vw
    }
    var m = s
    byKey.foreach { case (e, dvs) =>
      val acc = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
      m.get(e).foreach(_.foreach { case (v, w) => acc(v) = w })
      dvs.foreach { case (v, dw) =>
        val nw = acc.getOrElse(v, 0L) + dw
        if (nw == 0L) acc.remove(v) else acc(v) = nw
      }
      m = if (acc.isEmpty) m - e else m.updated(e, acc.toArray)
    }
    (m, Array.empty[Int])
  }

  /** Merge (e, ±w) deltas into a v-keyed arrangement (same discipline). */
  private[streaming] def byVMerge(
      s: scala.collection.immutable.HashMap[Any, Array[(Long, Long)]],
      dIt: Iterator[(Any, (Long, Long))])
    : (scala.collection.immutable.HashMap[Any, Array[(Long, Long)]], Array[Int]) = {
    val byKey =
      scala.collection.mutable.LinkedHashMap.empty[Any,
        scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    dIt.foreach { case (v, ew) =>
      byKey.getOrElseUpdate(v, scala.collection.mutable.ArrayBuffer.empty) += ew
    }
    var m = s
    byKey.foreach { case (v, des) =>
      val acc = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      m.get(v).foreach(_.foreach { case (e, w) => acc(e) = w })
      des.foreach { case (e, dw) =>
        val nw = acc.getOrElse(e, 0L) + dw
        if (nw == 0L) acc.remove(e) else acc(e) = nw
      }
      m = if (acc.isEmpty) m - v else m.updated(v, acc.toArray)
    }
    (m, Array.empty[Int])
  }
}
