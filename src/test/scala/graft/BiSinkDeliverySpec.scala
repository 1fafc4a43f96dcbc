package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._
import graft.sinks.ForeachFrameSink
import graft.streaming.BiMaintained

/** DISTRIBUTED delivery for the bitemporal maintained path (the
  * round-12 `weak`): a standing registered via
  * [[BiMaintained.interestSink]] keeps its accumulated result R(t) and
  * the product-order delivery ledger as checkpointed DataFrames, runs
  * the lattice accumulation `diff(t) = R − Σ_{event ≤ t.event} ledger`
  * as a distributed full-outer merge, and hands each time's diffs to a
  * [[graft.sinks.DiffSink]] — the engine never collects anything
  * result-sized (mirror of `Engine.interestIncrementalSink`, reference
  * delivery `server/src/main.rs:455-520`).
  *
  * Pins: (1) multiset drain PARITY with the collected path across the
  * semantics × plan zoo (including retractions and LWW winner
  * regressions); (2) a DATA-SIZED standing MatchA (≥1M result rows)
  * delivers entirely through the sink with the driver holding only
  * control-plane state (zero result rows, zero ledger entries, zero
  * buffered deliveries in `controlPlaneStats`), across the mid-history
  * driver→distributed store migration. */
class BiSinkDeliverySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private case class BD(e: Long, a: String, v: Long, sys: Long, event: Long, diff: Long)

  // A zoo with late event-time writes, retractions, and same-key
  // rewrites — the shapes that exercise the product-order ledger.
  private val zoo: Seq[BD] = Seq(
    BD(1, ":sk/x", 10, 0, 2, 1), BD(2, ":sk/x", 20, 0, 0, 1),
    BD(1, ":sk/y", 5, 0, 1, 1),
    BD(1, ":sk/x", 11, 1, 0, 1),  // late event write (event < prior)
    BD(2, ":sk/x", 20, 1, 0, -1), // retraction
    BD(2, ":sk/y", 7, 1, 3, 1),
    BD(1, ":sk/x", 12, 2, 1, 1), BD(1, ":sk/x", 10, 2, 2, -1),
    BD(2, ":sk/x", 21, 2, 2, 1))

  private val plans: Seq[(String, Plan)] = Seq(
    "scan" -> Plan.MatchA(0, ":sk/x", 1),
    "join" -> Plan.Join(Seq(0),
      Plan.MatchA(0, ":sk/x", 1), Plan.MatchA(0, ":sk/y", 2)))

  private type Out = Map[(Seq[Any], (Long, Long), Long), Int]
  private def ms(xs: Seq[(Seq[Any], (Long, Long), Long)]): Out =
    xs.groupBy(identity).map { case (k, vs) => k -> vs.length }

  private def run(sem: InputSemantics, plan: Plan,
      sinkSide: Boolean): Out = {
    val bm = new BiMaintained(spark, partitions = 4)
    Seq(":sk/x", ":sk/y").foreach(a =>
      bm.createAttribute(a, AttributeConfig(sem)))
    bm.register(Rule("q", plan))
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Any], (Long, Long), Long)]
    if (sinkSide) {
      val sink = new ForeachFrameSink((_, _, df) => {
        val n = df.columns.length - 3 // c0..cn, _t, _event, _diff
        df.collect().foreach { row =>
          got += (((0 until n).map(i => Engine.deepNative(row.get(i))),
            (row.getLong(n), row.getLong(n + 1)), row.getLong(n + 2)))
        }
      })
      bm.interestSink("q", sink)
    } else bm.interest("q")
    zoo.groupBy(_.sys).toSeq.sortBy(_._1).foreach { case (s, ds) =>
      bm.transact(ds.map(d => bm.BiDatom(
        Value.eid(d.e), d.a, Value.num(d.v), (s, d.event), d.diff)))
      bm.advance(s + 1L)
      if (!sinkSide) got ++= bm.drain("q")
    }
    if (!sinkSide) got ++= bm.drain("q")
    ms(got.toSeq)
  }

  test("sink drain == collected drain (semantics x plan zoo)") {
    for {
      sem <- Seq(InputSemantics.Raw, InputSemantics.Distinct,
        InputSemantics.LastWriteWins)
      (label, plan) <- plans
    } {
      val want = run(sem, plan, sinkSide = false)
      val got = run(sem, plan, sinkSide = true)
      assert(got == want, s"$sem/$label:\n want=$want\n got =$got")
      assert(want.nonEmpty, s"$sem/$label produced no diffs (vacuous)")
    }
  }

  test("untouched-attribute advances skip cleanly (monotone events, two standings)") {
    // Batches alternate attributes on a MONOTONE event schedule: the
    // standing whose attribute a time does NOT touch hits the
    // provably-empty fast path (no delta + fully-covered ledger) —
    // output must still match the collected twin exactly.
    def drive(sinkSide: Boolean): Map[String, Out] = {
      val bm = new BiMaintained(spark, partitions = 4)
      Seq(":sk2/x", ":sk2/y").foreach(a =>
        bm.createAttribute(a, AttributeConfig(InputSemantics.Raw)))
      bm.register(Rule("qx", Plan.MatchA(0, ":sk2/x", 1)))
      bm.register(Rule("qy", Plan.MatchA(0, ":sk2/y", 1)))
      val got = Map("qx" -> scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Any], (Long, Long), Long)],
        "qy" -> scala.collection.mutable.ArrayBuffer
          .empty[(Seq[Any], (Long, Long), Long)])
      if (sinkSide) {
        val sink = new ForeachFrameSink((nm, _, df) => {
          val n = df.columns.length - 3
          df.collect().foreach { row =>
            got(nm) += (((0 until n).map(i => Engine.deepNative(row.get(i))),
              (row.getLong(n), row.getLong(n + 1)), row.getLong(n + 2)))
          }
        })
        bm.interestSink("qx", sink); bm.interestSink("qy", sink)
      } else { bm.interest("qx"); bm.interest("qy") }
      (0L to 3L).foreach { s =>
        val a = if (s % 2 == 0) ":sk2/x" else ":sk2/y"
        bm.transact(Seq(bm.BiDatom(Value.eid(1L), a, Value.num(s), (s, s), 1L)))
        bm.advance(s + 1L)
        if (!sinkSide) Seq("qx", "qy").foreach(n => got(n) ++= bm.drain(n))
      }
      got.view.mapValues(b => ms(b.toSeq)).toMap
    }
    val want = drive(sinkSide = false)
    val gotS = drive(sinkSide = true)
    assert(gotS == want, s"skip path diverged:\n want=$want\n got =$gotS")
    assert(want("qx").nonEmpty && want("qy").nonEmpty)
  }

  test("monotone schedules take the O(delta) fast path; regressions full-merge; consolidation stays exact") {
    // Drive a MONOTONE event schedule (event grows with sys) through
    // the sink edge with a tiny segment cap, then a late event write.
    // Pins: (1) after the first deliver every monotone time is a FAST
    // deliver (pendingDelta handed to the sink directly — no
    // O(|R|+|ledger|) merge); (2) the segment cap folds segments
    // (consolidation) without changing output; (3) the late write falls
    // back to exactly one full merge; (4) multiset parity with the
    // collected path throughout.
    def drive(sinkSide: Boolean): (Out, Map[String, Long]) = {
      val bm = new BiMaintained(spark, partitions = 4)
      bm.createAttribute(":fp/x", AttributeConfig(InputSemantics.Raw))
      bm.register(Rule("q", Plan.MatchA(0, ":fp/x", 1)))
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Any], (Long, Long), Long)]
      if (sinkSide) {
        val sink = new ForeachFrameSink((_, _, df) => {
          val n = df.columns.length - 3
          df.collect().foreach { row =>
            got += (((0 until n).map(i => Engine.deepNative(row.get(i))),
              (row.getLong(n), row.getLong(n + 1)), row.getLong(n + 2)))
          }
        })
        bm.interestSink("q", sink)
      } else bm.interest("q")
      (0L to 7L).foreach { s =>
        bm.transact(Seq(bm.BiDatom(Value.eid(s), ":fp/x", Value.num(s), (s, s), 1L)))
        bm.advance(s + 1L)
        if (!sinkSide) got ++= bm.drain("q")
      }
      // Late event write: sys=8 at event 0 undercuts every delivered
      // coordinate — the product-order regression the merge exists for.
      bm.transact(Seq(bm.BiDatom(Value.eid(99L), ":fp/x", Value.num(7L), (8L, 0L), 1L)))
      bm.advance(9L)
      if (!sinkSide) got ++= bm.drain("q")
      (ms(got.toSeq), bm.sinkDeliveryStats.toMap)
    }
    val prev = sys.props.put("graft.bi.sink.segcap", "3")
    try {
      val (want, _) = drive(sinkSide = false)
      val (gotS, stats) = drive(sinkSide = true)
      assert(gotS == want, s"fast-path drain diverged:\n want=$want\n got =$gotS")
      assert(want.nonEmpty)
      // First deliver + the regression are full merges; the 7 monotone
      // times in between are all fast; the cap-3 segment buffer folds.
      assert(stats.getOrElse("fast", 0L) == 7L, s"stats=$stats")
      assert(stats.getOrElse("full", 0L) == 2L, s"stats=$stats")
      assert(stats.getOrElse("consolidate", 0L) >= 1L, s"stats=$stats")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.bi.sink.segcap") = v
        case None    => sys.props.remove("graft.bi.sink.segcap")
      }
    }
  }

  test("data-sized standing MatchA delivers 1M+ rows with a control-plane driver") {
    val n = 600000
    val bm = new BiMaintained(spark, partitions = 8)
    bm.createAttribute(":big/x", AttributeConfig(InputSemantics.Raw))
    bm.register(Rule("big", Plan.MatchA(0, ":big/x", 1)))
    var delivered = 0L
    var frames = 0
    val sink = new ForeachFrameSink((_, _, df) => {
      frames += 1
      delivered += df.count() // distributed count — rows never collected
    })
    bm.interestSink("big", sink)
    (0L to 1L).foreach { s =>
      bm.transact((0 until n).map(i => bm.BiDatom(
        Value.eid(s * n + i), ":big/x", Value.num((i % 1000).toLong),
        (s, s), 1L)))
      bm.advance(s + 1L)
    }
    assert(delivered == 2L * n,
      s"expected ${2L * n} delivered diff rows, got $delivered over $frames frames")
    val cp = bm.controlPlaneStats
    assert(cp("resultRows") == 0L && cp("ledgerEntries") == 0L &&
      cp("outRows") == 0L,
      s"driver must hold only control-plane state, got $cp")
  }
}
