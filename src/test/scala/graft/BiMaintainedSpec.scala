package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.BiEngine
import graft.model._
import graft.streaming.BiMaintained

/** Bitemporal × maintained composition parity: for any signed bitemporal
  * history, any advance schedule, any input semantics, and plans across
  * the maintained fragment, [[BiMaintained]] (standing query fed
  * incremental visible-view transitions) must drain EXACTLY the diffs of
  * [[BiEngine]] (per-time snapshot recompute under the product-order
  * accumulation) — the reference's `Pair(sys, event)` semantics
  * (`src/timestamp/pair.rs`, `tests/input_semantics.rs:337-508`). The
  * parity is pinned on BOTH store siblings (driver-resident under the
  * byte gate, StateCell-distributed past it — a `graft.bi.driver.bytes`
  * gate of 0 starts there) and across a mid-history gate MIGRATION,
  * plus the Coarsen delivery laws. */
class BiMaintainedSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private case class BD(e: Long, a: String, v: Long, sys: Long, event: Long, diff: Long)

  private val genDatom: Gen[BD] = for {
    e <- Gen.choose(1L, 2L)
    a <- Gen.oneOf(":bm/x", ":bm/y")
    v <- Gen.choose(0L, 3L)
    sys <- Gen.choose(0L, 2L)
    event <- Gen.choose(0L, 3L)
    diff <- Gen.frequency(4 -> 1L, 1 -> -1L)
  } yield BD(e, a, v, sys, event, diff)

  private val genHistory: Gen[Seq[BD]] =
    Gen.chooseNum(6, 14).flatMap(n => Gen.listOfN(n, genDatom))

  private type Out = Map[(Seq[Any], (Long, Long), Long), Int]

  private def ms(xs: Seq[(Seq[Any], (Long, Long), Long)]): Out =
    xs.groupBy(identity).map { case (k, vs) => k -> vs.length }

  /** Run one history through BiEngine (reference semantics) and
    * BiMaintained; `distributed` sets the driver-store byte gate to 0
    * (the cell sibling from the start, checked through the store probe),
    * `gateBytes` sets it to a migration point. */
  private def drive(
      history: Seq[BD], semantics: InputSemantics,
      plan: Plan, distributed: Boolean = false,
      gateBytes: Option[String] = None): (Out, Out) = {
    val bySys = history.groupBy(_.sys).toSeq.sortBy(_._1)

    val prevGate = sys.props.get("graft.bi.driver.bytes")
    (if (distributed) Some("0") else gateBytes)
      .foreach(sys.props("graft.bi.driver.bytes") = _)
    try {
      val ref = new BiEngine(spark)
      val got = new BiMaintained(spark, partitions = 4)
      Seq(":bm/x", ":bm/y").foreach { a =>
        ref.createAttribute(a, AttributeConfig(semantics))
        got.createAttribute(a, AttributeConfig(semantics))
      }
      ref.register(Rule("q", plan)); got.register(Rule("q", plan))
      ref.interest("q"); got.interest("q")

      val refOut = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], (Long, Long), Long)]
      val gotOut = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], (Long, Long), Long)]
      bySys.foreach { case (sys, ds) =>
        ref.transact(ds.map(d => ref.BiDatom(
          Value.eid(d.e), d.a, Value.num(d.v), (sys, d.event), d.diff)))
        got.transact(ds.map(d => got.BiDatom(
          Value.eid(d.e), d.a, Value.num(d.v), (sys, d.event), d.diff)))
        ref.advance(sys + 1L)
        got.advance(sys + 1L)
        refOut ++= ref.drain("q")
        gotOut ++= got.drain("q")
      }
      if (distributed)
        assert(got.storeGenerationProbe.isDefined, "the cell sibling did not run")
      (ms(refOut.toSeq), ms(gotOut.toSeq))
    } finally {
      prevGate match {
        case Some(v) => sys.props("graft.bi.driver.bytes") = v
        case None    => sys.props.remove("graft.bi.driver.bytes")
      }
    }
  }

  private val plans: Seq[(String, Plan)] = Seq(
    "scan" -> Plan.MatchA(0, ":bm/x", 1),
    "join" -> Plan.Join(Seq(0),
      Plan.MatchA(0, ":bm/x", 1), Plan.MatchA(0, ":bm/y", 2)),
    "union_set" -> Plan.Union(Seq(0), Seq(
      Plan.MatchA(0, ":bm/x", 1), Plan.MatchA(0, ":bm/y", 1))))

  private val semanticsZoo = Seq(
    InputSemantics.Raw, InputSemantics.Distinct, InputSemantics.LastWriteWins)

  test("maintained bitemporal drain == BiEngine drain (all semantics, plan zoo)") {
    val params = Gen.Parameters.default
    for {
      (slabel, sem) <- semanticsZoo.zipWithIndex.map { case (s, i) => (s"sem$i", s) }
      ((plabel, plan), pi) <- plans.zipWithIndex
    } {
      val nonVacuous = (0 until 2).map { s =>
        val history = genHistory(params,
          Seed(101L + pi * 7919L + slabel.hashCode * 31L + s * 104729L))
          .getOrElse(Seq.empty)
        val (want, got) = drive(history, sem, plan)
        assert(got == want,
          s"$slabel/$plabel:\n want=$want\n got =$got\n history=$history")
        want.nonEmpty
      }
      assert(nonVacuous.contains(true), s"$slabel/$plabel produced no diffs")
    }
  }

  test("distributed store sibling drains identically (dial forced on)") {
    val params = Gen.Parameters.default
    for {
      (slabel, sem) <- semanticsZoo.zipWithIndex.map { case (s, i) => (s"sem$i", s) }
      ((plabel, plan), pi) <- plans.zipWithIndex.take(2)
    } {
      val history = genHistory(params,
        Seed(7001L + pi * 7919L + slabel.hashCode * 31L)).getOrElse(Seq.empty)
      val (want, got) = drive(history, sem, plan, distributed = true)
      assert(got == want,
        s"dist $slabel/$plabel:\n want=$want\n got =$got\n history=$history")
    }
  }

  test("packed store drains identically to BiEngine on both siblings") {
    // The packed sorted-run store must produce multiset-equal drains
    // against BiEngine, on BOTH store siblings, across the semantics zoo.
    val params = Gen.Parameters.default
    for {
      (slabel, sem) <- semanticsZoo.zipWithIndex.map { case (s, i) => (s"sem$i", s) }
      distributed <- Seq(false, true)
    } {
      val history = genHistory(params,
        Seed(42001L + slabel.hashCode * 31L + (if (distributed) 1 else 0)))
        .getOrElse(Seq.empty)
      val (want, got) = drive(history, sem, plans.head._2, distributed)
      assert(got == want,
        s"packed $slabel dist=$distributed:\n want=$want\n got=$got")
    }
  }

  test("late standing over a previously-UNREAD attribute backfills exactly (lazy views)") {
    // Round 17 (lazy per-attribute views): transitions aggregate only
    // the attributes some attached standing READS, so :bm/y is skipped
    // while only the :bm/x standing is attached — and :bm/y is written
    // ONLY at sys 0, so its keys never reappear in later slabs. A late
    // :bm/y standing can therefore only be served by the history
    // BACKFILL at its first processTime; without it the accumulated net
    // is empty. Both store siblings, full zoo.
    val prevGate = sys.props.get("graft.bi.driver.bytes")
    try {
      for {
        distributed <- Seq(false, true)
        sem <- semanticsZoo
      } {
        if (distributed) sys.props("graft.bi.driver.bytes") = "0"
        else sys.props.remove("graft.bi.driver.bytes")
        def run(late: Boolean): Map[Seq[Any], Long] = {
          val bm = new BiMaintained(spark, partitions = 4)
          Seq(":bm/x", ":bm/y").foreach(a =>
            bm.createAttribute(a, AttributeConfig(sem)))
          bm.register(Rule("qx", Plan.MatchA(0, ":bm/x", 1)))
          bm.register(Rule("qy", Plan.MatchA(0, ":bm/y", 1)))
          bm.interest("qx", None)
          if (!late) bm.interest("qy", None)
          val acc = scala.collection.mutable.Map
            .empty[Seq[Any], Long].withDefaultValue(0L)
          val batches = Seq(
            Seq((1L, ":bm/y", 5L), (1L, ":bm/x", 7L)),
            Seq((2L, ":bm/x", 8L)),
            Seq((1L, ":bm/x", 9L)))
          batches.zipWithIndex.foreach { case (ds, i) =>
            if (late && i == batches.length - 1) bm.interest("qy", None)
            bm.transact(ds.map { case (e, a, v) =>
              bm.BiDatom(Value.eid(e), a, Value.num(v),
                (i.toLong, i.toLong), 1L)
            })
            bm.advance(i + 1L)
            bm.drain("qx")
            if (!late || i == batches.length - 1)
              bm.drain("qy").foreach { case (row, _, w) => acc(row) += w }
          }
          assert(bm.storeGenerationProbe.isDefined == distributed,
            s"store sibling: want distributed=$distributed")
          acc.filter(_._2 != 0L).toMap
        }
        val want = run(late = false)
        val got = run(late = true)
        assert(want == Map(Seq(1L, 5L) -> 1L), s"non-vacuous want: $want")
        assert(got == want,
          s"dist=$distributed sem=$sem: want=$want got=$got")
      }
    } finally {
      prevGate match {
        case Some(v) => sys.props("graft.bi.driver.bytes") = v
        case None    => sys.props.remove("graft.bi.driver.bytes")
      }
    }
  }

  test("packed backfill scans only the demanded attribute's keys (r17 VERDICT #2)") {
    // The lex-sorted runs are attribute-first, so a late one-attribute
    // demand must be served by a PREFIX-RANGED scan: with :sc/x holding
    // 200 distinct keys and :sc/y holding 3, backfilling :sc/y may
    // visit exactly :sc/y's 3 distinct (e, v) keys — not the store's
    // 203. The counter is per-JVM telemetry; suites run sequentially in
    // the forked test JVM, so the delta is this test's alone.
    val bm = new BiMaintained(spark, partitions = 4)
    Seq(":sc/x", ":sc/y").foreach(a =>
      bm.createAttribute(a, AttributeConfig(InputSemantics.Distinct)))
    bm.register(Rule("scx", Plan.MatchA(0, ":sc/x", 1)))
    bm.register(Rule("scy", Plan.MatchA(0, ":sc/y", 1)))
    bm.interest("scx", None)
    bm.transact(
      (1L to 200L).map(e =>
        bm.BiDatom(Value.eid(e), ":sc/x", Value.num(e * 10), (0L, 0L), 1L)) ++
      (1L to 3L).map(e =>
        bm.BiDatom(Value.eid(e), ":sc/y", Value.num(e), (0L, 0L), 1L)))
    bm.advance(1L)
    bm.drain("scx")
    val before = graft.streaming.BiPacked.backfillKeysScanned.get()
    bm.interest("scy", None) // late demand → backfill at next processTime
    bm.transact(Seq(
      bm.BiDatom(Value.eid(300L), ":sc/x", Value.num(999L), (1L, 1L), 1L)))
    bm.advance(2L)
    val scanned =
      graft.streaming.BiPacked.backfillKeysScanned.get() - before
    assert(scanned == 3L,
      s"backfill must touch only :sc/y's 3 keys, scanned $scanned")
    bm.drain("scx")
    val got = bm.drain("scy").map { case (row, _, w) => (row, w) }.toSet
    assert(got == (1L to 3L).map(e => (Seq[Any](e, e), 1L)).toSet, s"$got")
  }

  test("uninterest shrinks `covered` to live demand; re-attach backfills exactly (r17 VERDICT #5)") {
    // attach → detach → advance×2 → re-attach. While detached, :cv/y
    // must be UNMAINTAINED (bounded covered set — otherwise churning
    // standings re-create the eager per-advance cost lazy views
    // removed); the re-attach is served by one history backfill. Proof
    // of "unmaintained": the backfill counter moves on the re-attach
    // advance, and it moves by exactly :cv/y's distinct keys — a
    // maintained attribute is never in the `missing` set. Exactness:
    // the re-attached drain nets to the CURRENT visible state,
    // including everything written while detached.
    val bm = new BiMaintained(spark, partitions = 4)
    Seq(":cv/x", ":cv/y").foreach(a =>
      bm.createAttribute(a, AttributeConfig(InputSemantics.Distinct)))
    bm.register(Rule("cvx", Plan.MatchA(0, ":cv/x", 1)))
    bm.register(Rule("cvy", Plan.MatchA(0, ":cv/y", 1)))
    bm.interest("cvx", None)
    bm.interest("cvy", None)
    bm.transact(Seq(
      bm.BiDatom(Value.eid(1L), ":cv/x", Value.num(10L), (0L, 0L), 1L),
      bm.BiDatom(Value.eid(1L), ":cv/y", Value.num(5L), (0L, 0L), 1L)))
    bm.advance(1L)
    bm.drain("cvx"); bm.drain("cvy")
    bm.uninterest("cvy")
    // Detached: y writes land in history but no lane maintains them.
    bm.transact(Seq(
      bm.BiDatom(Value.eid(2L), ":cv/y", Value.num(6L), (1L, 1L), 1L),
      bm.BiDatom(Value.eid(2L), ":cv/x", Value.num(20L), (1L, 1L), 1L)))
    bm.advance(2L)
    bm.drain("cvx")
    bm.transact(Seq(
      bm.BiDatom(Value.eid(1L), ":cv/y", Value.num(5L), (2L, 2L), -1L)))
    bm.advance(3L)
    bm.drain("cvx")
    // Re-attach: the next processed time must BACKFILL :cv/y.
    bm.interest("cvy", None)
    val before = graft.streaming.BiPacked.backfillKeysScanned.get()
    bm.transact(Seq(
      bm.BiDatom(Value.eid(3L), ":cv/x", Value.num(30L), (3L, 3L), 1L)))
    bm.advance(4L)
    val scanned =
      graft.streaming.BiPacked.backfillKeysScanned.get() - before
    assert(scanned == 2L,
      s"re-attach must backfill exactly :cv/y's 2 distinct keys " +
        s"(unmaintained while detached), scanned $scanned")
    bm.drain("cvx")
    val acc = scala.collection.mutable.Map
      .empty[Seq[Any], Long].withDefaultValue(0L)
    bm.drain("cvy").foreach { case (row, _, w) => acc(row) += w }
    assert(acc.filter(_._2 != 0L).toMap == Map(Seq[Any](2L, 6L) -> 1L),
      s"re-attached drain must net to the CURRENT visible state: $acc")
  }

  test("re-attach after full retraction + compaction delivers NO phantom row (r18 review)") {
    // The covered-shrink hole the round-18 review found: while :fp/y is
    // detached (unmaintained), its only datom is fully retracted and
    // slack compaction then drops the netted key group from HISTORY —
    // but the lane's stale emitted row survives compaction verbatim.
    // A backfill that only visits history keys can never retract it,
    // so the re-attached standing would replay a phantom (1, 5) row.
    // The fix visits the union of history keys and the lane's emitted
    // keys.
    val prevSlack = sys.props.get("graft.bi.slack")
    try {
      sys.props("graft.bi.slack") = "0" // compact aggressively
      val bm = new BiMaintained(spark, partitions = 4)
      Seq(":fp/x", ":fp/y").foreach(a =>
        bm.createAttribute(a, AttributeConfig(InputSemantics.Distinct)))
      bm.register(Rule("fpx", Plan.MatchA(0, ":fp/x", 1)))
      bm.register(Rule("fpy", Plan.MatchA(0, ":fp/y", 1)))
      bm.interest("fpx", None); bm.interest("fpy", None)
      bm.transact(Seq(
        bm.BiDatom(Value.eid(1L), ":fp/x", Value.num(10L), (0L, 0L), 1L),
        bm.BiDatom(Value.eid(1L), ":fp/y", Value.num(5L), (0L, 0L), 1L)))
      bm.advance(1L)
      bm.drain("fpx"); bm.drain("fpy")
      bm.uninterest("fpy") // covered shrinks; :fp/y unmaintained
      // Full retraction at the SAME event coordinate: the per-event
      // net is 0, so compaction drops the key group from history.
      bm.transact(Seq(
        bm.BiDatom(Value.eid(1L), ":fp/y", Value.num(5L), (1L, 0L), -1L),
        bm.BiDatom(Value.eid(2L), ":fp/x", Value.num(20L), (1L, 1L), 1L)))
      bm.advance(2L)
      bm.drain("fpx")
      bm.transact(Seq(
        bm.BiDatom(Value.eid(3L), ":fp/x", Value.num(30L), (2L, 2L), 1L)))
      bm.advance(3L)
      bm.drain("fpx")
      // Re-attach: backfill must retract the stale emitted row even
      // though :fp/y has NO history records left.
      bm.interest("fpy", None)
      val before = graft.streaming.BiPacked.backfillKeysScanned.get()
      bm.transact(Seq(
        bm.BiDatom(Value.eid(4L), ":fp/x", Value.num(40L), (3L, 3L), 1L)))
      bm.advance(4L)
      bm.drain("fpx")
      // Non-vacuity: the ONE key the backfill visited came from the
      // EMITTED view, not history — compaction really did drop the key
      // group, so only the emitted-union branch could have served the
      // retraction.
      val scanned =
        graft.streaming.BiPacked.backfillKeysScanned.get() - before
      assert(scanned == 1L,
        s"expected exactly the emitted-only key, scanned $scanned")
      val acc = scala.collection.mutable.Map
        .empty[Seq[Any], Long].withDefaultValue(0L)
      bm.drain("fpy").foreach { case (row, _, w) => acc(row) += w }
      assert(acc.filter(_._2 != 0L).isEmpty,
        s"fully-retracted+compacted :fp/y must re-attach EMPTY, got $acc")
    } finally {
      prevSlack match {
        case Some(v) => sys.props("graft.bi.slack") = v
        case None    => sys.props.remove("graft.bi.slack")
      }
    }
  }

  test("driver store migrates to the distributed sibling mid-history at the byte gate") {
    // Gate "1" flips on the first transact (nothing processed yet);
    // gate "1500" flips mid-history, AFTER earlier times were processed
    // — the planted partitions then carry live emitted views and time
    // indexes. The drain must not notice either flip.
    val params = Gen.Parameters.default
    for {
      (slabel, sem) <- semanticsZoo.zipWithIndex.map { case (s, i) => (s"sem$i", s) }
      gate <- Seq("1", "1500")
    } {
      val history = genHistory(params, Seed(9102L + slabel.hashCode))
        .getOrElse(Seq.empty)
      val (want, got) =
        drive(history, sem, plans.head._2, gateBytes = Some(gate))
      assert(got == want,
        s"migrate($gate) $slabel:\n want=$want\n got =$got\n history=$history")
    }
  }

  test("Coarsen delivery laws: bucketed diffs, additive bucket sums, dominating-time agreement") {
    // The reference's Coarsen (src/timestamp/mod.rs:144-184) rounds each
    // input time STRICTLY up to the next window bound. Three laws pin
    // the composed behavior:
    //  1. every coarsened delivery time lies on the coarse lattice;
    //  2. for ADDITIVE semantics (Raw, additions only — no clamp ever
    //     active) the coarse diffs are EXACTLY the fine diffs summed by
    //     coarsened time: delta_c(T) == sum over coarsen(t)=T of
    //     delta_f(t) (the Moebius-uniqueness argument — the lex
    //     triangular system has one solution, so delta == per-time
    //     input on both granularities);
    //  3. for Distinct, accumulating BOTH drains to a time dominating
    //     everything yields the same visible view.
    val params = Gen.Parameters.default
    val history = genHistory(params, Seed(31007L)).getOrElse(Seq.empty)
    val adds = history.map(d => d.copy(diff = 1L)) // additive Raw law

    def drain2(sem: InputSemantics, ds: Seq[BD],
        coarsen: Option[(Long, Long)]): Seq[(Seq[Any], (Long, Long), Long)] = {
      val bm = new BiMaintained(spark, partitions = 4, coarsen = coarsen)
      Seq(":bm/x", ":bm/y").foreach(a =>
        bm.createAttribute(a, AttributeConfig(sem)))
      bm.register(Rule("q", Plan.MatchA(0, ":bm/x", 1)))
      bm.interest("q")
      val out = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], (Long, Long), Long)]
      ds.groupBy(_.sys).toSeq.sortBy(_._1).foreach { case (sys, batch) =>
        bm.transact(batch.map(d => bm.BiDatom(
          Value.eid(d.e), d.a, Value.num(d.v), (sys, d.event), d.diff)))
        bm.advance(sys + 2L) // +2: coarsened sys (w=2) stays writable
        out ++= bm.drain("q")
      }
      // Final advance completes any times coarsened past the last batch.
      bm.advance(100L)
      out ++= bm.drain("q")
      out.toSeq
    }

    val w = (2L, 2L)
    def coarse(t: (Long, Long)) = ((t._1 / 2 + 1) * 2, (t._2 / 2 + 1) * 2)

    // Law 1 + 2 (additive Raw).
    val fine = drain2(InputSemantics.Raw, adds, None)
    val coarseOut = drain2(InputSemantics.Raw, adds, Some(w))
    assert(coarseOut.nonEmpty && fine.nonEmpty)
    coarseOut.foreach { case (_, (ty, te), _) =>
      assert(ty % 2 == 0 && te % 2 == 0, s"off-lattice delivery at ($ty,$te)")
    }
    def sumBy[K](xs: Seq[(Seq[Any], (Long, Long), Long)], f: ((Long, Long)) => K) =
      xs.groupBy { case (tuple, t, _) => (tuple, f(t)) }
        .view.mapValues(_.map(_._3).sum).filter(_._2 != 0L).toMap
    assert(sumBy(coarseOut, identity) == sumBy(fine, coarse),
      "coarse diffs must equal fine diffs summed into their buckets")

    // Law 3 (Distinct): dominating-time accumulation agrees.
    val fd = drain2(InputSemantics.Distinct, history, None)
    val cd = drain2(InputSemantics.Distinct, history, Some(w))
    def acc(xs: Seq[(Seq[Any], (Long, Long), Long)]) =
      xs.groupBy(_._1).view.mapValues(_.map(_._3).sum).filter(_._2 != 0L).toMap
    assert(acc(fd) == acc(cd),
      "accumulated Distinct views must agree at a dominating time")
  }

  test("per-interest Coarsen lanes: mixed granularities in ONE instance match dedicated instances") {
    // Three interests at granularities fine / (2,2) / (3,2) inside one
    // BiMaintained must drain EXACTLY what three dedicated instances
    // (each constructed at that coarsen) drain — per-interest Coarsen
    // is the reference's Interest.granularity (src/server/mod.rs:110-119).
    val params = Gen.Parameters.default
    val history = genHistory(params, Seed(51007L)).getOrElse(Seq.empty)
      .map(d => d.copy(diff = 1L))
    val grains: Seq[(String, Option[(Long, Long)])] = Seq(
      "q_fine" -> None, "q_w22" -> Some((2L, 2L)), "q_w32" -> Some((3L, 2L)))

    def driveCombined(): Map[String, Out] = {
      val bm = new BiMaintained(spark, partitions = 4)
      bm.createAttribute(":bm/x", AttributeConfig(InputSemantics.Raw))
      grains.foreach { case (n, _) =>
        bm.register(Rule(n, Plan.MatchA(0, ":bm/x", 1))) }
      grains.foreach { case (n, g) => bm.interest(n, g) }
      val outs = grains.map { case (n, _) =>
        n -> scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], (Long, Long), Long)]
      }.toMap
      history.groupBy(_.sys).toSeq.sortBy(_._1).foreach { case (sys, ds) =>
        bm.transact(ds.map(d => bm.BiDatom(
          Value.eid(d.e), d.a, Value.num(d.v), (sys, d.event), d.diff)))
        bm.advance(sys + 1L)
        grains.foreach { case (n, _) => outs(n) ++= bm.drain(n) }
      }
      bm.advance(100L)
      grains.foreach { case (n, _) => outs(n) ++= bm.drain(n) }
      outs.view.mapValues(b => ms(b.toSeq)).toMap
    }

    def driveDedicated(g: Option[(Long, Long)]): Out = {
      val bm = new BiMaintained(spark, partitions = 4, coarsen = g)
      bm.createAttribute(":bm/x", AttributeConfig(InputSemantics.Raw))
      bm.register(Rule("q", Plan.MatchA(0, ":bm/x", 1)))
      bm.interest("q")
      val out = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], (Long, Long), Long)]
      history.groupBy(_.sys).toSeq.sortBy(_._1).foreach { case (sys, ds) =>
        bm.transact(ds.map(d => bm.BiDatom(
          Value.eid(d.e), d.a, Value.num(d.v), (sys, d.event), d.diff)))
        bm.advance(sys + 1L)
        out ++= bm.drain("q")
      }
      bm.advance(100L)
      out ++= bm.drain("q")
      ms(out.toSeq)
    }

    val combined = driveCombined()
    grains.foreach { case (n, g) =>
      val want = driveDedicated(g)
      assert(combined(n) == want,
        s"lane $g:\n want=$want\n got =${combined(n)}")
      assert(want.nonEmpty, s"lane $g produced no diffs (vacuous)")
    }
  }

  test("trace compaction (graft.bi.slack) leaves drains byte-identical (all semantics, both backends)") {
    // The reference bounds history via advance_traces under trace_slack
    // (src/domain/mod.rs:291-341). Compaction consolidates the region
    // behind every lane's processed bound minus the slack — per-event
    // nets for Raw/Distinct, registered-window winner staircases for
    // LWW — and must be INVISIBLE to every drain: same histories, same
    // advance schedule, dial on vs off, multiset-equal against BiEngine,
    // on both store siblings.
    val params = Gen.Parameters.default
    val prevSlack = sys.props.get("graft.bi.slack")
    try {
      for {
        (slabel, sem) <- semanticsZoo.zipWithIndex.map { case (s, i) => (s"sem$i", s) }
        distributed <- Seq(false, true)
        slack <- Seq(0L, 1L)
      } {
        val history = genHistory(params,
          Seed(71009L + slabel.hashCode * 31L + slack)).getOrElse(Seq.empty)
        sys.props.remove("graft.bi.slack")
        val (wantOff, gotOff) = drive(history, sem, plans.head._2, distributed)
        sys.props("graft.bi.slack") = slack.toString
        val (wantOn, gotOn) = drive(history, sem, plans.head._2, distributed)
        assert(wantOff == wantOn)
        assert(gotOff == wantOff)
        assert(gotOn == wantOff,
          s"compaction changed the drain ($slabel dist=$distributed slack=$slack):" +
            s"\n want=$wantOff\n got =$gotOn\n history=$history")
      }
    } finally {
      prevSlack match {
        case Some(v) => sys.props("graft.bi.slack") = v
        case None    => sys.props.remove("graft.bi.slack")
      }
    }
  }

  test("trace compaction under a Coarsen lane keeps the coarse drain exact") {
    val params = Gen.Parameters.default
    val prevSlack = sys.props.get("graft.bi.slack")
    try {
      for ((slabel, sem) <- semanticsZoo.zipWithIndex.map { case (s, i) => (s"sem$i", s) }) {
        val history = genHistory(params, Seed(81013L + slabel.hashCode))
          .getOrElse(Seq.empty)
        def run(): Seq[(Seq[Any], (Long, Long), Long)] = {
          val bm = new BiMaintained(spark, partitions = 4, coarsen = Some((2L, 2L)))
          Seq(":bm/x", ":bm/y").foreach(a =>
            bm.createAttribute(a, AttributeConfig(sem)))
          bm.register(Rule("q", Plan.MatchA(0, ":bm/x", 1)))
          bm.interest("q")
          val out = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], (Long, Long), Long)]
          history.groupBy(_.sys).toSeq.sortBy(_._1).foreach { case (sys, ds) =>
            bm.transact(ds.map(d => bm.BiDatom(
              Value.eid(d.e), d.a, Value.num(d.v), (sys, d.event), d.diff)))
            bm.advance(sys + 2L)
            out ++= bm.drain("q")
          }
          bm.advance(100L)
          out ++= bm.drain("q")
          out.toSeq
        }
        sys.props.remove("graft.bi.slack")
        val off = run()
        sys.props("graft.bi.slack") = "0"
        val on = run()
        assert(ms(on) == ms(off),
          s"coarse-lane compaction diverged ($slabel):\n off=$off\n on =$on")
      }
    } finally prevSlack match {
      case Some(v) => sys.props("graft.bi.slack") = v
      case None    => sys.props.remove("graft.bi.slack")
    }
  }

  test("a NEW granularity attaches AFTER transacts and drains byte-identically (late lane replay)") {
    // The reference lets an Interest request any granularity at ANY
    // time (src/server/mod.rs:110-119): its Coarsen wraps the
    // interest's delivery over the domain's ONE shared trace, so a late
    // interest replays the full history. Here: declare `q_late` at a
    // granularity NEW to the instance only after several transact +
    // advance rounds — its drain must equal an up-front lane's, and the
    // shared store must not have grown a second history copy.
    val params = Gen.Parameters.default
    val history = genHistory(params, Seed(61007L)).getOrElse(Seq.empty)
    val grains: Seq[(String, Option[(Long, Long)])] = Seq(
      "q_fine" -> None, "q_w22" -> Some((2L, 2L)))
    val lateGrain: Option[(Long, Long)] = Some((3L, 2L))

    def run(lateAttach: Boolean): (Out, Long) = {
      val bm = new BiMaintained(spark, partitions = 4)
      bm.createAttribute(":bm/x", AttributeConfig(InputSemantics.Raw))
      (grains :+ ("q_late" -> lateGrain)).foreach { case (n, _) =>
        bm.register(Rule(n, Plan.MatchA(0, ":bm/x", 1))) }
      grains.foreach { case (n, g) => bm.interest(n, g) }
      if (!lateAttach) bm.interest("q_late", lateGrain)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], (Long, Long), Long)]
      val batches = history.groupBy(_.sys).toSeq.sortBy(_._1)
      var attached = !lateAttach
      batches.zipWithIndex.foreach { case ((sys, ds), i) =>
        bm.transact(ds.map(d => bm.BiDatom(
          Value.eid(d.e), d.a, Value.num(d.v), (sys, d.event), d.diff)))
        bm.advance(sys + 1L)
        // Attach mid-history, after at least one advance completed times.
        if (lateAttach && i == batches.length - 1) {
          bm.interest("q_late", lateGrain); attached = true
        }
        if (attached) out ++= bm.drain("q_late")
      }
      bm.advance(100L)
      out ++= bm.drain("q_late")
      (ms(out.toSeq), bm.storeBytes._1)
    }

    val (upfront, bytesUp) = run(lateAttach = false)
    val (late, bytesLate) = run(lateAttach = true)
    assert(late == upfront,
      s"late lane drain diverged:\n want=$upfront\n got =$late\n history=$history")
    assert(upfront.nonEmpty, "late-lane case produced no diffs (vacuous)")
    // Shared store: a third granularity must not change history residency
    // materially (per-lane cost is the output-sized emitted view only).
    assert(bytesLate <= bytesUp * 2,
      s"late attach grew the store: up-front=$bytesUp late=$bytesLate")
  }

  test("late attach AFTER compaction replays the compacted trace: accumulated views agree") {
    // Composition of the two round-12 features: with the slack dial on,
    // a granularity attached after compaction rebuilds its lattice from
    // the COMPACTED history (consolidated datoms carry the compaction
    // bound as their sys — the replay lattice collapses, which is the
    // point: bounded replay cost). Per-time drains therefore differ
    // from an up-front lane's, but for Raw/Distinct the ACCUMULATED
    // view at a dominating time must agree exactly — per-(key, event)
    // nets are window-independent. (LastWriteWins is deliberately
    // EXCLUDED: compaction keeps winner staircases for the windows
    // REGISTERED at compaction time, so a NEW granularity attached
    // later reads the compacted-trace approximation — the reference's
    // late-interest-over-advanced-trace semantics, documented in
    // BiPacked.compact.)
    val params = Gen.Parameters.default
    val prevSlack = sys.props.get("graft.bi.slack")
    try {
      sys.props("graft.bi.slack") = "0"
      for ((slabel, sem) <- Seq(InputSemantics.Raw, InputSemantics.Distinct)
          .zipWithIndex.map { case (s, i) => (s"sem$i", s) }) {
        val history = genHistory(params, Seed(91019L + slabel.hashCode))
          .getOrElse(Seq.empty)
        val lateGrain: Option[(Long, Long)] = Some((3L, 2L))
        def run(lateAttach: Boolean): Map[Seq[Any], Long] = {
          val bm = new BiMaintained(spark, partitions = 4)
          Seq(":bm/x", ":bm/y").foreach(a =>
            bm.createAttribute(a, AttributeConfig(sem)))
          bm.register(Rule("q", Plan.MatchA(0, ":bm/x", 1)))
          bm.register(Rule("q_late", Plan.MatchA(0, ":bm/x", 1)))
          bm.interest("q") // fine lane drives processing (and compaction)
          if (!lateAttach) bm.interest("q_late", lateGrain)
          history.groupBy(_.sys).toSeq.sortBy(_._1).foreach { case (sys, ds) =>
            bm.transact(ds.map(d => bm.BiDatom(
              Value.eid(d.e), d.a, Value.num(d.v), (sys, d.event), d.diff)))
            bm.advance(sys + 1L)
          }
          if (lateAttach) bm.interest("q_late", lateGrain)
          bm.advance(100L)
          bm.drain("q") // discard
          // Accumulate the late rule's full drain at a dominating time.
          bm.drain("q_late").groupBy(_._1).view
            .mapValues(_.map(_._3).sum).filter(_._2 != 0L).toMap
        }
        // lateAttach drains only AFTER attach; an up-front lane drains
        // everything — accumulate BOTH runs' q_late over the whole run.
        def runAccum(late: Boolean): Map[Seq[Any], Long] = run(late)
        val up = runAccum(false)
        val lt = runAccum(true)
        assert(lt == up,
          s"late-after-compaction accumulation diverged ($slabel):\n" +
            s" upfront=$up\n late  =$lt\n history=$history")
      }
    } finally prevSlack match {
      case Some(v) => sys.props("graft.bi.slack") = v
      case None    => sys.props.remove("graft.bi.slack")
    }
  }

  test("NaN and -0.0 result tuples net in the collected delivery (grouping equality)") {
    // The collected delivery sums diff rows per tuple on the driver the
    // way `groupBy` groups them: every NaN equal, -0.0 = 0.0. Under boxed
    // `Seq` equality a NaN tuple's retraction never met its assertion in
    // R, so R kept a +1 and a -1 entry for one tuple.
    val bm = new BiMaintained(spark, partitions = 4)
    bm.createAttribute(":bm/r", AttributeConfig(InputSemantics.LastWriteWins))
    bm.register(Rule("q", Plan.MatchA(0, ":bm/r", 1)))
    bm.interest("q")
    def put(e: Long, v: Double, t: (Long, Long), diff: Long) =
      bm.BiDatom(Value.eid(e), ":bm/r", Value.VReal(v), t, diff)
    bm.transact(Seq(put(1L, Double.NaN, (0L, 0L), 1L), put(2L, -0.0, (0L, 1L), 1L)))
    bm.advance(1L)
    val asserted = bm.drain("q")
    assert(asserted.map(_._3).sorted == Seq(1L, 1L), asserted)
    assert(bm.controlPlaneStats("resultRows") == 2L)
    bm.transact(Seq(put(1L, Double.NaN, (1L, 1L), -1L), put(2L, -0.0, (1L, 1L), -1L)))
    bm.advance(2L)
    val drained = asserted ++ bm.drain("q")
    def grouped(tuple: Seq[Any]): Seq[Any] = tuple.map {
      case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
      case other     => other
    }
    val net = drained.groupMapReduce(d => grouped(d._1))(_._3)(_ + _)
    assert(net.size == 2 && net.values.forall(_ == 0L),
      s"retractions did not net their assertions: $drained")
    assert(bm.controlPlaneStats("resultRows") == 0L,
      s"R kept ${bm.controlPlaneStats("resultRows")} rows after every fact was retracted")
  }

  test("numeric plans over an attribute whose first datom comes after the first advance") {
    // Until its first datom reveals an attribute's kind, a standing builds
    // over a placeholder string kind, and rebuilds when the kind arrives.
    // The placeholder build must compile numeric comparisons and
    // arithmetic as Catalyst does (implicit casts), not reject them.
    val history = Seq(BD(1, ":bm/x", 0, 0, 0, 1),
      BD(1, ":bm/y", 2, 1, 1, 1), BD(2, ":bm/y", 3, 1, 0, 1),
      BD(1, ":bm/y", 2, 2, 2, -1), BD(3, ":bm/y", 5, 2, 1, 1))
    val y = Plan.MatchA(0, ":bm/y", 1)
    val plans = Seq(
      "filter" -> Plan.Filter(Seq(1), Predicate.GT, y, Seq(None, Some(Value.num(2)))),
      "match" -> Plan.MatchAV(0, ":bm/y", Value.num(2)),
      "transform" -> Plan.Transform(Seq(1), 2, y, Fn.ADD, Seq(Some(Value.num(10)))),
      "truncate" -> Plan.Transform(Seq(1), 2, y, Fn.TRUNCATE, Seq.empty))
    for ((label, plan) <- plans) {
      val (ref, got) = drive(history, InputSemantics.Raw, plan)
      assert(got.nonEmpty, label)
      assert(got == ref, s"$label: maintained $got vs reference $ref")
    }
  }

  test("a NaN fact retracts under Raw and Distinct on both stores (one dictionary code per NaN)") {
    // The store interns values under grouping equality: with boxed `==`
    // every NaN took a fresh code, so a retraction never met its
    // assertion — Distinct drained the +1 and never the -1, and Raw kept
    // a +1 and a -1 row in the lane's view.
    for {
      sem <- Seq(InputSemantics.Raw, InputSemantics.Distinct)
      distributed <- Seq(false, true)
    } {
      val prevGate = sys.props.get("graft.bi.driver.bytes")
      if (distributed) sys.props("graft.bi.driver.bytes") = "0"
      try {
        val bm = new BiMaintained(spark, partitions = 4)
        bm.createAttribute(":bm/r", AttributeConfig(sem))
        bm.register(Rule("q", Plan.MatchA(0, ":bm/r", 1)))
        bm.interest("q")
        def put(t: (Long, Long), diff: Long) =
          bm.BiDatom(Value.eid(1L), ":bm/r", Value.VReal(Double.NaN), t, diff)
        bm.transact(Seq(put((0L, 0L), 1L)))
        bm.advance(1L)
        val asserted = bm.drain("q")
        assert(asserted.map(_._3) == Seq(1L), s"$sem dist=$distributed: $asserted")
        assert(bm.controlPlaneStats("resultRows") == 1L)
        bm.transact(Seq(put((1L, 1L), -1L)))
        bm.advance(2L)
        val retracted = bm.drain("q")
        assert(retracted.map(_._3) == Seq(-1L), s"$sem dist=$distributed: $retracted")
        assert(bm.controlPlaneStats("resultRows") == 0L, s"$sem dist=$distributed")
        assert(bm.emittedRowsProbe == 0L,
          s"$sem dist=$distributed: the lane's view kept ${bm.emittedRowsProbe} rows")
        assert(bm.storeGenerationProbe.isDefined == distributed)
      } finally prevGate match {
        case Some(v) => sys.props("graft.bi.driver.bytes") = v
        case None    => sys.props.remove("graft.bi.driver.bytes")
      }
    }
  }

  test("transact is all-or-nothing: a rejected batch leaves no phantom state (r10 ADVICE)") {
    // Two siblings: `bm` sees a mixed batch (one valid datom ordered
    // BEFORE one at a closed system time) that must be rejected as a
    // whole; `ref` never sees the bad batch. After identical valid
    // traffic, their drains must agree exactly — phantom pending times
    // or partially registered kinds from the rejected batch would show
    // up as spurious empty transitions or a wrong schema rebuild.
    def mk(): BiMaintained = {
      val bm = new BiMaintained(spark, partitions = 4)
      bm.createAttribute(":bm/x", AttributeConfig(InputSemantics.Raw))
      bm.register(Rule("q", Plan.MatchA(0, ":bm/x", 1)))
      bm.interest("q")
      bm
    }
    val bm = mk()
    val ref = mk()
    def d(b: BiMaintained, e: Long, v: Long, sys: Long, ev: Long) =
      b.BiDatom(Value.eid(e), ":bm/x", Value.num(v), (sys, ev), 1L)

    Seq(bm, ref).foreach { b =>
      b.transact(Seq(d(b, 1L, 10L, 0L, 0L)))
      b.advance(2L)
    }
    // Mixed batch: valid (sys=5) first, stale (sys=0 < frontier 2) second
    // — and a NEW attribute on the valid datom, so a partial apply would
    // also leave a phantom kind registration.
    val bad = intercept[IllegalArgumentException] {
      bm.transact(Seq(
        bm.BiDatom(Value.eid(9L), ":bm/new", Value.str("s"), (5L, 0L), 1L),
        d(bm, 2L, 20L, 0L, 1L)))
    }
    assert(bad.getMessage.contains("closed system time"))

    Seq(bm, ref).foreach { b =>
      b.transact(Seq(d(b, 2L, 20L, 3L, 1L)))
      b.advance(10L)
    }
    assert(bm.drain("q") == ref.drain("q"),
      "rejected batch must leave the maintained state byte-identical")
  }
}
