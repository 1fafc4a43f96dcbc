package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.compile.Compiler
import graft.domain.AttributeSource
import graft.model._

/** Bitemporal (system × event time) engine — the `Pair` timestamp semantics
  * of the reference (`src/timestamp/pair.rs`, exercised by
  * `tests/input_semantics.rs:337-508`).
  *
  * Times are `(system, event)` pairs under the PRODUCT partial order
  * (`s ≤ t` iff both components are ≤). The engine generalizes the
  * unitemporal snapshot-diff rule from chains to this lattice:
  *
  *  - advancing the domain to system time `S` completes every input time
  *    with `sys < S` (the reference's frontier `Pair(S, 0)`);
  *  - newly completed input times are processed in lexicographic order
  *    (a topological order of the product order);
  *  - at each time `t`, the output diff is
  *    `diff(t) = R(t) − Σ_{s ≤ t} diff(s)` — the result at `t` minus the
  *    accumulation of all already-emitted diffs at product-dominated
  *    times. On a chain this degenerates to the ordinary previous-snapshot
  *    diff; on incomparable times it reproduces the reference's bitemporal
  *    corrections (e.g. a late write at `(1,1)` retracts the value
  *    installed at `(0,0)`, NOT the lexicographically-later `(0,2)` one,
  *    because `(0,2) ≰ (1,1)`).
  *
  * Attribute state at `t` honours the input semantics over the VISIBLE
  * datoms (those at times `≤ t`): LastWriteWins keeps, per entity, the
  * value of the lexicographically-latest visible addition.
  *
  * Diffs are emitted only at input times — matching the reference, whose
  * output trace is defined by its input updates (accumulations at lattice
  * joins of incomparable times are a documented oddity of bitemporal
  * differential collections, not observable through the test harness).
  *
  * Scale note: this layer is the *frontier bookkeeping* of bitemporality —
  * driver-side by nature (exactly as the reference's progress tracking is
  * worker-local). Each per-time evaluation runs through the same
  * distributed `Compiler` as the unitemporal engine.
  *
  * Lives in the test tree: it is the per-time snapshot-recompute parity
  * oracle that the maintained `BiMaintained` is checked against
  * (`BiMaintainedSpec`, `BiPlanFuzzSpec`, `BiPropertySpec`,
  * `BitemporalSpec`); bitemporal serving runs through `BiMaintained`.
  */
class BiEngine(val spark: SparkSession) {

  /** (system, event) — ordered lexicographically for processing, by
    * product dominance for accumulation. */
  type BiTime = (Long, Long)

  private def dominates(t: BiTime, s: BiTime): Boolean =
    s._1 <= t._1 && s._2 <= t._2

  final case class BiDatom(e: Value, a: String, v: Value, t: BiTime, diff: Long)

  private case class AttrState(
      config: AttributeConfig,
      buffer: mutable.ArrayBuffer[BiDatom])

  private val attrs = mutable.LinkedHashMap.empty[String, AttrState]
  private val rules = mutable.LinkedHashMap.empty[String, Rule]
  private val interests = mutable.LinkedHashSet.empty[String]
  // per rule: emitted (tuple -> weight) diffs at each processed time
  private val emitted =
    mutable.Map.empty[String, mutable.ArrayBuffer[(BiTime, Map[Seq[Any], Long])]]
  private val outputs =
    mutable.Map.empty[String, mutable.ArrayBuffer[(Seq[Any], BiTime, Long)]]
  private var sysFrontier: Long = 0L
  private val processed = mutable.Set.empty[BiTime]

  def createAttribute(name: String, config: AttributeConfig = AttributeConfig()): Unit =
    attrs(name) = AttrState(config, mutable.ArrayBuffer.empty)

  def register(rule: Rule): Unit = rules(rule.name) = rule

  def interest(name: String): Unit = {
    require(rules.contains(name), s"unknown rule $name")
    interests += name
    emitted.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
    outputs.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
  }

  /** Rules currently under interest (streaming fan-out reads this). */
  def interestNames: Seq[String] = interests.toSeq

  def transact(datoms: Seq[BiDatom]): Unit = datoms.foreach { d =>
    require(d.t._1 >= sysFrontier,
      s"write at closed system time ${d.t._1}: frontier at $sysFrontier")
    attrs.getOrElseUpdate(d.a, AttrState(AttributeConfig(), mutable.ArrayBuffer.empty))
      .buffer += d
  }

  /** Advance the system-time frontier to `sysNext`: every input time with
    * `sys < sysNext` is complete; emit diffs at each, lex-ordered. */
  def advance(sysNext: Long): Unit = {
    require(sysNext > sysFrontier, s"cannot rewind from $sysFrontier to $sysNext")
    val newTimes = attrs.valuesIterator.flatMap(_.buffer.iterator.map(_.t))
      .filter(t => t._1 < sysNext && !processed(t))
      .toSeq.distinct.sorted
    for (t <- newTimes; name <- interests) {
      val cur = evaluate(name, t)
      val acc = mutable.Map.empty[Seq[Any], Long]
      emitted(name).foreach { case (s, diffMap) =>
        if (dominates(t, s))
          diffMap.foreach { case (k, w) => acc(k) = acc.getOrElse(k, 0L) + w }
      }
      val diff = (cur.keySet ++ acc.keySet).iterator.map { tuple =>
        tuple -> (cur.getOrElse(tuple, 0L) - acc.getOrElse(tuple, 0L))
      }.filter(_._2 != 0L).toMap
      if (diff.nonEmpty) {
        emitted(name) += ((t, diff))
        diff.foreach { case (tuple, w) => outputs(name) += ((tuple, t, w)) }
      }
    }
    processed ++= newTimes
    sysFrontier = sysNext
  }

  def drain(name: String): Seq[(Seq[Any], BiTime, Long)] = {
    val buf = outputs(name)
    val out = buf.toSeq
    buf.clear()
    out
  }

  // ---------------------------------------------------------- evaluation

  /** Result multiset of a rule at pair time `t`, evaluated by the shared
    * distributed compiler over this time's visible attribute state. */
  private def evaluate(name: String, t: BiTime): Map[Seq[Any], Long] = {
    val compiler = new Compiler(asOfBi(t), rules.toMap)
    val rel = compiler.compileRule(name)
    val consolidated = compiler.consolidate(rel.df)
    val n = consolidated.columns.length - 1
    consolidated.collect().iterator.map { row =>
      ((0 until n).map(i => Engine.deepNative(row.get(i))): Seq[Any]) ->
        row.getLong(n)
    }.toMap
  }

  /** Attribute collections visible at pair time `t`, input semantics
    * applied over product-dominated datoms. */
  private def asOfBi(t: BiTime): AttributeSource = new AttributeSource {
    def has(name: String): Boolean = attrs.contains(name)

    def kind(name: String): ValueKind =
      attrs.get(name).flatMap(_.buffer.headOption).map(d => ValueKind.of(d.v))
        .getOrElse(ValueKind.KString)

    def unit(name: String): Boolean = true

    def collection(name: String): org.apache.spark.sql.DataFrame = {
      val st = attrs.getOrElse(name, sys.error(s"attribute $name does not exist"))
      val visible = st.buffer.zipWithIndex.filter { case (d, _) => dominates(t, d.t) }
      val rows: Seq[(Any, Any)] = st.config.inputSemantics match {
        case InputSemantics.LastWriteWins =>
          // Per entity: the lexicographically-latest visible event wins,
          // ties on the pair time broken by TRANSACTION order — the
          // reference LWW is a state machine applying same-time events in
          // arrival order (`last_write_wins.rs:71-101`), so the last
          // transacted add/retract at a time decides (matches the
          // unitemporal Domain's (t desc, seq desc) window).
          visible.groupBy(_._1.e).flatMap { case (_, ds) =>
            val (last, _) = ds.maxBy { case (d, i) => (d.t, i) }
            if (last.diff > 0L) Some((last.e.native, last.v.native)) else None
          }.toSeq
        case InputSemantics.Distinct =>
          visible.groupBy { case (d, _) => (d.e, d.v) }
            .filter(_._2.map(_._1.diff).sum > 0L)
            .keys.map { case (e, v) => (e.native, v.native) }.toSeq
        case InputSemantics.Raw =>
          visible.groupBy { case (d, _) => (d.e, d.v) }.toSeq
            .flatMap { case ((e, v), ds) =>
              val w = ds.map(_._1.diff).sum
              Seq.fill(math.max(0L, w).toInt)((e.native, v.native))
            }
      }
      val eKind = st.buffer.headOption.map(d => ValueKind.of(d.e))
        .getOrElse(ValueKind.KEid)
      val schema = StructType(Seq(
        StructField("e", eKind.dataType, false),
        StructField("v", kind(name).dataType, false)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), schema)
        .select(col("e"), col("v"), lit(1L).as("_w"))
    }
  }
}
