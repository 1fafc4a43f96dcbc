package graft.streaming

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.InputSemantics

/** Unit-level compaction exactness, wider than the integrated drain
  * parity: for random signed bitemporal histories (duplicate times,
  * retractions, LWW seq races), random registered-window sets, and a
  * compaction at a mid-history bound, the packed store must emit
  * IDENTICAL view transitions from the compacted and uncompacted
  * stores when driven through identical per-lane transition schedules —
  * at every lattice time, for every registered window. This pins the
  * two consolidation rules directly:
  *
  *  - Raw/Distinct per-(key, event) nets (the event-CDF argument);
  *  - the LWW winner-staircase union over registered windows
  *    ([[BiTime.lwwStaircase]]) — including the adversarial shapes the
  *    staircase derivation hinges on (higher-sys/lower-event vs
  *    lower-sys/higher-event records whose coarse coordinates tie in
  *    one window and differ in another).
  */
class BiCompactPropertySpec extends AnyFunSuite {

  private case class D(e: Long, v: Long, sys: Long, event: Long, diff: Long)

  private val genDatom: Gen[D] = for {
    e <- Gen.choose(1L, 3L)
    v <- Gen.choose(0L, 2L)
    sys <- Gen.choose(0L, 6L)
    event <- Gen.choose(0L, 7L)
    diff <- Gen.frequency(3 -> 1L, 1 -> -1L)
  } yield D(e, v, sys, event, diff)

  private val genHistory: Gen[Seq[D]] =
    Gen.chooseNum(8, 24).flatMap(n => Gen.listOfN(n, genDatom))

  private val windowZoo: Seq[Option[(Long, Long)]] =
    Seq(None, Some((2L, 2L)), Some((3L, 2L)), Some((5L, 1L)))

  private def run(seedBase: Long): Unit = {
    val params = Gen.Parameters.default
    for {
      (sem, si) <- Seq(InputSemantics.Raw, InputSemantics.Distinct,
        InputSemantics.LastWriteWins).zipWithIndex
      s <- 0 until 6
    } {
      val seed = Seed(seedBase + si * 7919L + s * 104729L)
      val history = genHistory(params, seed).getOrElse(Seq.empty)
      val wins = windowZoo.take(1 + (s % windowZoo.length))
      val semR: BiTime.Sem = _ => sem

      // Ingest the full history at fine times, sorted by sys so the
      // processing order is a legal lex schedule per lane.
      val recs = history.zipWithIndex.map { case (d, i) =>
        val lww = sem == InputSemantics.LastWriteWins
        val key = if (lww) BiKey(":cp/x", d.e, null) else BiKey(":cp/x", d.e, d.v)
        (key, BiRec(d.sys, d.event, i.toLong, d.diff, if (lww) d.v else null))
      }
      val base = BiPacked.empty.ingest(recs)

      // Per-lane lattice: the coarse times of the history under each
      // window, processed in lex order. The compaction bound sits
      // behind every lane's FIRST processed bound only after some
      // times are processed — split each lane's schedule in half,
      // process the first half on both stores, compact one, process
      // the rest, and require identical emitted transitions throughout.
      def lattice(win: Option[(Long, Long)]): Seq[(Long, Long)] = {
        val (ws, we) = win.getOrElse((0L, 0L))
        history.map(d => (BiTime.coarse(d.sys, ws), BiTime.coarse(d.event, we)))
          .distinct.sorted
      }
      val schedules = wins.zipWithIndex.map { case (w, lane) =>
        (lane, w, lattice(w))
      }

      def drive(v0: BiPacked, compactAtHalf: Boolean): (BiPacked, Vector[String]) = {
        var v = v0
        val out = Vector.newBuilder[String]
        val cursor = schedules.map { case (lane, w, ts) =>
          (lane, w, ts, ts.length / 2)
        }
        // First halves, lane-interleaved like advance() (lane by lane).
        for ((lane, w, ts, half) <- cursor) {
          var prev: Option[(Long, Long)] = None
          ts.take(half).foreach { t =>
            val (nv, rows) = v.transition(lane, w, prev, t, semR, Long.MinValue)
            v = nv; prev = Some(t)
            rows.foreach(r => out += s"$lane|$t|$r")
          }
        }
        if (compactAtHalf) {
          // Bound behind every lane's processed prefix (min across lanes
          // of the fine bound of the last first-half time; MinValue when
          // a lane processed nothing).
          val bound = cursor.map { case (_, w, ts, half) =>
            val ws = w.map(_._1).getOrElse(0L)
            if (half == 0) Long.MinValue
            else BiTime.visBound(ts(half - 1)._1, ws)
          }.min
          if (bound != Long.MinValue) v = v.compact(bound, wins, semR)
        }
        for ((lane, w, ts, half) <- cursor) {
          var prev: Option[(Long, Long)] =
            if (half == 0) None else Some(ts(half - 1))
          ts.drop(half).foreach { t =>
            val (nv, rows) = v.transition(lane, w, prev, t, semR, Long.MinValue)
            v = nv; prev = Some(t)
            rows.foreach(r => out += s"$lane|$t|$r")
          }
        }
        (v, out.result())
      }

      val (vPlain, outRawPlain) = drive(base, compactAtHalf = false)
      val (vComp, outRawComp) = drive(base, compactAtHalf = true)
      // Emission ORDER within one (lane, time) transition is candidate
      // enumeration order — not part of the contract (frames are
      // consumed as multisets). Rows are lane|time tagged, so a sorted
      // compare is exactly per-(lane, time) multiset equality.
      val outPlain = outRawPlain.sorted
      val outComp = outRawComp.sorted
      assert(outComp == outPlain,
        s"compaction changed transitions (sem=$sem s=$s wins=$wins):\n" +
          s" plain=$outPlain\n comp =$outComp\n history=$history")
      // Final emitted views agree per lane too.
      wins.indices.foreach { lane =>
        assert(vComp.dumpEmitted(lane).toSet == vPlain.dumpEmitted(lane).toSet,
          s"emitted view diverged on lane $lane (sem=$sem s=$s)")
      }
      // And the compacted store is never LARGER than the plain one.
      assert(vComp.datomCount <= vPlain.datomCount)
    }
  }

  test("packed: compacted == uncompacted transitions across the window zoo") {
    run(910001L)
    run(920003L)
  }

  test("the adversarial staircase shape: cross-window winner divergence is kept") {
    // r1 = (sys 5, event 1), r2 = (sys 4, event 2): fine lex prefers r1
    // everywhere it is visible, but under window (2,2) both coarse to
    // sys 6 and r2's coarse event 4 beats r1's 2 — so a compaction
    // registered for BOTH windows must keep BOTH records verbatim.
    val keep = BiTime.lwwStaircase(
      IndexedSeq((5L, 1L, 0L), (4L, 2L, 1L)),
      Seq(None, Some((2L, 2L))))
    assert(keep == Set(0, 1), s"staircase union dropped a needed record: $keep")
    // Registered for fine only, r2 is dominated at every bound where it
    // is visible (r1 has lower event, higher sys) — dropped.
    val fineOnly = BiTime.lwwStaircase(
      IndexedSeq((5L, 1L, 0L), (4L, 2L, 1L)), Seq(None))
    assert(fineOnly == Set(0), s"fine staircase kept a dominated record: $fineOnly")
  }
}
