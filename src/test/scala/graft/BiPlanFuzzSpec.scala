package graft

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.BiEngine
import graft.model._
import graft.streaming.{BiMaintained, UnmaintainablePlan}

/** Differential fuzzing for the BITEMPORAL domain over RANDOM plan trees
  * ([[PlanGen]]) — [[BiMaintainedSpec]] pins BiMaintained against
  * BiEngine on random HISTORIES over a fixed plan zoo; this suite
  * searches the plan-shape space and adds an evaluator-INDEPENDENT
  * oracle. Three evaluators per seed:
  *
  *   1. a naive driver-side product-order loop: per completed input time
  *      (lex order), first-principles visibility resolution over the
  *      dominated datoms, [[NaiveEval]] for the result, and
  *      `diff(t) = R(t) − Σ_{s ≤ t} diff(s)` accumulation — independent
  *      of the Compiler on the evaluation side;
  *   2. [[BiEngine]] (per-time snapshot recompute through the shared
  *      distributed Compiler);
  *   3. [[BiMaintained]] (standing queries fed incremental visible-view
  *      transitions over the packed store) — plans outside the
  *      maintained fragment reject with the typed [[UnmaintainablePlan]]
  *      and are skipped, with a non-vacuity floor on the survivors.
  *
  * Visibility semantics mirror the engine's documented completion of the
  * reference's underspecified corners (`BiEngine.asOfBi`,
  * `BiPacked`'s visible aggregate): Raw CLAMPS negative net weights to absent
  * (the unitemporal domain keeps them — the reference's bitemporal
  * tests, `tests/input_semantics.rs:337-508`, never drive net-negative
  * states, so the bi family standardizes on the clamp); Distinct keeps
  * positive support at weight 1; LastWriteWins keeps, per entity, the
  * value of the lexicographically-latest visible event — ties on the
  * pair time broken by transaction order — iff it was an assertion.
  */
class BiPlanFuzzSpec extends AnyFunSuite {
  import PlanGen._

  private lazy val spark = TestSpark.spark

  private type BiTime = (Long, Long)
  private case class BiD(e: Long, a: String, v: Value, sys: Long, event: Long, diff: Long)

  private val Advances = 3 // system-time batches per history

  /** Batch b is transacted at system frontier b (so draws sys ∈ [b, A) —
    * future-dated system times land in later advances). Batch 0 seeds
    * every attribute at sys 0 so kinds are known at the first build. */
  private def genBiHistory(rnd: Random): Seq[Seq[BiD]] = {
    val seed = attrNames.flatMap(a => Seq.fill(1 + rnd.nextInt(2))(
      BiD(1L + rnd.nextInt(3), a, genValue(rnd, a), 0L, rnd.nextInt(4).toLong, 1L)))
    val rest = (1 until Advances).map { b =>
      Seq.fill(2 + rnd.nextInt(4)) {
        val a = pick(rnd, attrNames)
        BiD(1L + rnd.nextInt(3), a, genValue(rnd, a),
          (b + rnd.nextInt(Advances - b)).toLong, rnd.nextInt(4).toLong,
          if (rnd.nextInt(10) < 3) -1L else 1L)
      }
    }
    seed +: rest
  }

  // ---- the naive bitemporal oracle -----------------------------------------

  /** Input-semantics resolution over the datoms VISIBLE at `t` (product
    * dominance); `ds` must be in transaction-arrival order. */
  private def visibleState(ds: Seq[BiD], t: BiTime,
      sem: InputSemantics): Map[(Long, Any), Long] = {
    val vis = ds.zipWithIndex.filter { case (d, _) =>
      d.sys <= t._1 && d.event <= t._2 }
    sem match {
      case InputSemantics.Raw =>
        vis.groupMapReduce(x => (x._1.e, x._1.v.native))(_._1.diff)(_ + _)
          .collect { case (k, w) if w > 0L => (k, w) } // documented clamp
      case InputSemantics.Distinct =>
        vis.groupMapReduce(x => (x._1.e, x._1.v.native))(_._1.diff)(_ + _)
          .collect { case (k, w) if w > 0L => (k, 1L) }
      case InputSemantics.LastWriteWins =>
        vis.groupBy(_._1.e).flatMap { case (_, xs) =>
          val (d, _) = xs.maxBy { case (d, i) => ((d.sys, d.event), i) }
          if (d.diff > 0L) Some(((d.e, d.v.native), 1L)) else None
        }
    }
  }

  private type Out = Map[(Seq[Any], BiTime, Long), Int]
  private def ms(xs: Seq[(Seq[Any], BiTime, Long)]): Out =
    xs.groupBy(identity).map { case (k, vs) => k -> vs.length }

  /** The product-order frontier loop (BiEngine's contract, evaluated by
    * NaiveEval): advancing to system time S completes every input time
    * with sys < S; newly completed times are processed lex-ordered; at
    * each, the emitted diff is the result minus the accumulation of
    * already-emitted diffs at product-dominated times. */
  private def naiveBiDrains(plan: Plan, batches: Seq[Seq[BiD]],
      sem: Map[String, InputSemantics]): Out = {
    val transacted = mutable.ArrayBuffer.empty[BiD]
    val processed = mutable.Set.empty[BiTime]
    val emitted = mutable.ArrayBuffer.empty[(BiTime, Map[Vector[Any], Long])]
    val out = mutable.ArrayBuffer.empty[(Seq[Any], BiTime, Long)]
    batches.zipWithIndex.foreach { case (batch, i) =>
      transacted ++= batch
      val next = i + 1L
      val newTimes = transacted.iterator.map(d => (d.sys, d.event))
        .filter(t => t._1 < next && !processed(t)).toSeq.distinct.sorted
      for (t <- newTimes) {
        val attrs: NaiveEval.Attrs = attrNames.map(a =>
          a -> visibleState(transacted.filter(_.a == a).toSeq, t, sem(a))).toMap
        val cur = NaiveEval.eval(plan, attrs).rows
        val acc = mutable.Map.empty[Vector[Any], Long]
        emitted.foreach { case (s, dm) =>
          if (s._1 <= t._1 && s._2 <= t._2)
            dm.foreach { case (k, w) => acc(k) = acc.getOrElse(k, 0L) + w }
        }
        val diff = (cur.keySet ++ acc.keySet).iterator.map { k =>
          k -> (cur.getOrElse(k, 0L) - acc.getOrElse(k, 0L))
        }.filter(_._2 != 0L).toMap
        if (diff.nonEmpty) {
          emitted += ((t, diff))
          diff.foreach { case (k, w) => out += ((k, t, w)) }
        }
      }
      processed ++= newTimes
    }
    ms(out.toSeq)
  }

  // ---- engine drives --------------------------------------------------------

  private def driveRef(plan: Plan, batches: Seq[Seq[BiD]],
      sem: Map[String, InputSemantics]): Out = {
    val ref = new BiEngine(spark)
    attrNames.foreach(a => ref.createAttribute(a, AttributeConfig(sem(a))))
    ref.register(Rule("q", plan)); ref.interest("q")
    val out = mutable.ArrayBuffer.empty[(Seq[Any], BiTime, Long)]
    batches.zipWithIndex.foreach { case (batch, i) =>
      ref.transact(batch.map(d => ref.BiDatom(
        Value.eid(d.e), d.a, d.v, (d.sys, d.event), d.diff)))
      ref.advance(i + 1L)
      out ++= ref.drain("q")
    }
    ms(out.toSeq)
  }

  /** None when the plan is outside the maintained fragment (the typed
    * rejection surfaces at the first standing build inside advance).
    * `cellStore` checks through the store probe that the distributed
    * sibling served the run. */
  private def driveMaintained(plan: Plan, batches: Seq[Seq[BiD]],
      sem: Map[String, InputSemantics], cellStore: Boolean = false): Option[Out] = {
    val bm = new BiMaintained(spark, partitions = 4)
    attrNames.foreach(a => bm.createAttribute(a, AttributeConfig(sem(a))))
    bm.register(Rule("q", plan)); bm.interest("q")
    val out = mutable.ArrayBuffer.empty[(Seq[Any], BiTime, Long)]
    try {
      batches.zipWithIndex.foreach { case (batch, i) =>
        bm.transact(batch.map(d => bm.BiDatom(
          Value.eid(d.e), d.a, d.v, (d.sys, d.event), d.diff)))
        bm.advance(i + 1L)
        out ++= bm.drain("q")
      }
      if (cellStore)
        assert(bm.storeGenerationProbe.isDefined, "the cell sibling did not run")
      Some(ms(out.toSeq))
    } catch {
      case _: UnmaintainablePlan => None
    }
  }

  // ---- the property ---------------------------------------------------------

  test("random plans: naive product-order oracle == BiEngine == BiMaintained") {
    var nonEmpty = 0
    var served = 0
    for (seed <- 0 until 10) {
      val rnd = new Random(0xB17E5EEDL + seed * 7919L)
      val tp = gen(rnd, 1 + rnd.nextInt(2))
      val batches = genBiHistory(rnd)
      val sem = genSemantics(rnd)
      def ctx = s"\nseed=$seed\nplan=${tp.plan}\nsem=$sem\nbatches=$batches"
      val expect = naiveBiDrains(tp.plan, batches, sem)
      val ref = driveRef(tp.plan, batches, sem)
      assert(ref == expect, s"\nseed=$seed (BiEngine vs naive)$ctx")
      driveMaintained(tp.plan, batches, sem) match {
        case Some(got) =>
          assert(got == expect, s"\nseed=$seed (BiMaintained vs naive)$ctx")
          served += 1
        case None => // outside the maintained fragment: skipped
      }
      if (expect.nonEmpty) nonEmpty += 1
    }
    // Non-vacuity: enough seeds must produce diffs, and enough plans must
    // actually exercise the maintained bitemporal path.
    assert(nonEmpty >= 4, s"only $nonEmpty/10 bi fuzz plans produced diffs")
    assert(served >= 4, s"only $served/10 plans were served by BiMaintained")
  }

  test("random plans agree on the distributed store (dial forced)") {
    // The main test runs the default driver store; the StateCell-
    // distributed store serves visibility per partition — re-fuzz a seed
    // slice on it against the same naive oracle (the zoo spec pins fixed
    // plans on this store; this searches shapes). A driver-store byte
    // gate of 0 (`graft.bi.driver.bytes`) starts every history there.
    val prev = sys.props.get("graft.bi.driver.bytes")
    sys.props("graft.bi.driver.bytes") = "0"
    try {
      var served = 0
      for (seed <- 4 until 8) {
        val rnd = new Random(0xB17E5EEDL + seed * 7919L)
        val tp = gen(rnd, 1 + rnd.nextInt(2))
        val batches = genBiHistory(rnd)
        val sem = genSemantics(rnd)
        def ctx = s"\nseed=$seed (cell)\nplan=${tp.plan}\nsem=$sem\nbatches=$batches"
        val expect = naiveBiDrains(tp.plan, batches, sem)
        driveMaintained(tp.plan, batches, sem, cellStore = true) match {
          case Some(got) =>
            assert(got == expect, s"\nseed=$seed (cell vs naive)$ctx")
            served += 1
          case None =>
        }
      }
      assert(served >= 2, s"only $served/4 plans served on the cell store")
    } finally prev match {
      case Some(v) => sys.props("graft.bi.driver.bytes") = v
      case None    => sys.props.remove("graft.bi.driver.bytes")
    }
  }

  test("Raw clamp: a retraction of a never-asserted pair reads as absent on every evaluator") {
    // The corner the random histories rarely reach: at (0,1) the pair
    // (1, 7) has net weight -1 on a Raw attribute. The bi family's
    // documented completion CLAMPS it to absent (BiEngine.asOfBi,
    // BiPacked's visible aggregate) rather than emitting a negative-weight row
    // like the unitemporal domain — so NO diff is emitted at (0,1). The
    // later assertion at (1,0) IS visible there (the (0,1) retraction has
    // event 1 > 0, so it does not dominate (1,0)) and surfaces with +1;
    // the lattice join (1,1), where the pair nets back to 0, is never an
    // input time, and diffs are emitted at input times only (the
    // reference's documented oddity — BiEngine scaladoc). All three
    // evaluators must tell exactly this story.
    val plan = Plan.MatchA(0, ":z/m", 1)
    val batches: Seq[Seq[BiD]] = Seq(
      Seq(BiD(1L, ":z/m", Value.num(5L), 0L, 0L, 1L),   // (e1,5) at (0,0)
        BiD(1L, ":z/m", Value.num(7L), 0L, 1L, -1L)),   // retract-first (0,1)
      Seq(BiD(1L, ":z/m", Value.num(7L), 1L, 0L, 1L)),  // assert at (1,0)
      Seq.empty)
    val sem = attrNames.map(_ -> (InputSemantics.Raw: InputSemantics)).toMap
    val expect = naiveBiDrains(plan, batches, sem)
    assert(expect == ms(Seq(
      (Vector(1L, 5L), (0L, 0L), 1L),
      (Vector(1L, 7L), (1L, 0L), 1L))), s"oracle: $expect")
    assert(driveRef(plan, batches, sem) == expect)
    assert(driveMaintained(plan, batches, sem) == Some(expect))
  }
}
