package graft

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.BiEngine
import graft.model._
import graft.model.Plan._
import graft.sinks.ForeachFrameSink
import graft.streaming.{BiMaintained, StateCell}

/** The bitemporal twin of `FusedCommitSpec`: `BiMaintained.advance` runs
  * every state commit of every completed lattice time of every lane
  * through one action (`CommitLedger`). Over seeded signed histories with
  * late event-time corrections, served on two Coarsen lanes with one sink
  * standing, on both store siblings, every advance must leave each
  * standing's live state generations materialized and cut, keep exactly
  * the live generations persisted (each superseded one dropped by the
  * advance itself, not by a later GC), drain what the test tree's
  * `BiEngine` drains over the coarsened history, and hand the sink what
  * the same rule drains on the collected path. */
class BiFusedCommitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val X = ":bf/x"
  private val Y = ":bf/y"
  private val S = ":bf/status"

  private val semantics = Seq(X -> InputSemantics.Raw, Y -> InputSemantics.Raw,
    S -> InputSemantics.LastWriteWins)

  private val joined = Project(Seq(0, 2), Join(Seq(1), MatchA(0, X, 1), MatchA(1, Y, 2)))
  private val counted = Aggregate(Seq(1, 0), MatchA(0, S, 1),
    Seq(AggregationFn.COUNT), Seq(1), Seq(0), Seq.empty)

  private val wideLane = Some((2L, 2L))
  private val narrowLane = Some((1L, 1L))

  /** (rule, plan, lane, sink?) — `joined_sink` is `joined` on the sink
    * edge, compared against `joined`'s collected drains. */
  private val standings = Seq(
    ("joined", joined, wideLane, false),
    ("counted", counted, narrowLane, false),
    ("joined_sink", joined, wideLane, true))

  private type Diff = (Seq[Any], (Long, Long), Long)

  private def multiset(s: Seq[Diff]): Map[Diff, Int] =
    s.groupBy(identity).view.mapValues(_.size).toMap

  private final case class D(e: Long, a: String, v: Long, t: (Long, Long), diff: Long)

  /** One seeded history: per system time, X and Y facts come and go on
    * time, and status writes overwrite each other on time or one or two
    * event steps late. Retractions only retract live facts. */
  private def history(seed: Long, advances: Int): Seq[Seq[D]] = {
    val rnd = new Random(seed)
    val live = mutable.LinkedHashSet.empty[(Long, String, Long)]
    (0 until advances).map { sys =>
      val tx = mutable.ArrayBuffer.empty[D]
      def flip(e: Long, a: String, v: Long): Unit = {
        val k = (e, a, v)
        if (live(k)) { live -= k; tx += D(e, a, v, (sys, sys), -1L) }
        else { live += k; tx += D(e, a, v, (sys, sys), 1L) }
      }
      (1 to 5).foreach(_ => flip(100L + rnd.nextInt(10), X, 1L + rnd.nextInt(4)))
      (1 to 2).foreach(_ => flip(1L + rnd.nextInt(4), Y, rnd.nextInt(3).toLong))
      (1 to 3).foreach { _ =>
        val ev = math.max(0L, sys - rnd.nextInt(3).toLong)
        tx += D(100L + rnd.nextInt(10), S, rnd.nextInt(3).toLong, (sys, ev), 1L)
      }
      tx.toSeq
    }
  }

  private def coarse(t: (Long, Long), w: Option[(Long, Long)]): (Long, Long) =
    w.fold(t) { case (ws, we) => ((t._1 / ws + 1) * ws, (t._2 / we + 1) * we) }

  private def sc = spark.sparkContext

  /** Ids of the persisted state generations built after RDD `since`. */
  private def persistedGenerations(since: Int): Set[Int] =
    sc.getPersistentRDDs.valuesIterator
      .filter(r => r.id > since && r.name == StateCell.GenerationName)
      .map(_.id).toSet

  private def drive(seed: Long, store: String): Unit = {
    val advances = 20
    val since = sc.emptyRDD[Int].id
    val bm = new BiMaintained(spark, partitions = 4)
    val sunk = mutable.ArrayBuffer.empty[Diff]
    val sink = new ForeachFrameSink((_, _, diffs) =>
      diffs.collect().foreach { r =>
        val n = r.length - 3
        sunk += (((0 until n).map(r.get), (r.getLong(n), r.getLong(n + 1)),
          r.getLong(n + 2)))
      })
    // The oracle for a lane: BiEngine over the history at the lane's
    // coarsened times.
    val oracles = standings.collect { case (n, p, w, false) =>
      val ref = new BiEngine(spark)
      semantics.foreach { case (a, s) => ref.createAttribute(a, AttributeConfig(s)) }
      ref.register(Rule(n, p))
      ref.interest(n)
      n -> (ref, w)
    }.toMap
    semantics.foreach { case (a, s) => bm.createAttribute(a, AttributeConfig(s)) }
    standings.foreach { case (n, p, w, toSink) =>
      bm.register(Rule(n, p))
      if (toSink) bm.interestSink(n, sink, w) else bm.interest(n, w)
    }
    val got = mutable.Map.empty[String, mutable.ArrayBuffer[Diff]]
    val want = mutable.Map.empty[String, mutable.ArrayBuffer[Diff]]
    history(seed, advances).zipWithIndex.foreach { case (tx, sys) =>
      bm.transact(tx.map(x => bm.BiDatom(Value.eid(x.e), x.a,
        if (x.a == X) Value.eid(x.v) else Value.num(x.v), x.t, x.diff)))
      bm.advance(sys + 1L)
      oracles.foreach { case (n, (ref, w)) =>
        ref.transact(tx.map(x => ref.BiDatom(Value.eid(x.e), x.a,
          if (x.a == X) Value.eid(x.v) else Value.num(x.v), coarse(x.t, w), x.diff)))
        ref.advance(sys + 1L)
        want.getOrElseUpdate(n, mutable.ArrayBuffer.empty) ++= ref.drain(n)
        got.getOrElseUpdate(n, mutable.ArrayBuffer.empty) ++= bm.drain(n)
      }
      val at = s"$store seed $seed advance ${sys + 1}"
      val live = standings.flatMap { case (n, _, _, _) =>
        val gens = bm.liveGenerationsProbe(n)
        assert(gens.forall(_.isCheckpointed),
          s"$at: $n has a live generation that no action materialized")
        gens
      } ++ bm.storeGenerationProbe
      assert(persistedGenerations(since) == live.map(_.id).toSet,
        s"$at: the persisted state generations are not exactly the live ones " +
          "(a superseded generation kept, or a live one not cached)")
      oracles.keysIterator.foreach { n =>
        assert(multiset(got(n).toSeq) == multiset(want(n).toSeq),
          s"$at: $n drained unlike BiEngine")
      }
      assert(multiset(sunk.toSeq) == multiset(got("joined").toSeq),
        s"$at: the sink received unlike the collected path")
    }
    standings.foreach { case (n, _, _, _) =>
      assert(bm.liveGenerationsProbe(n).nonEmpty, s"$store seed $seed: $n never built")
    }
    assert(got.valuesIterator.forall(_.nonEmpty) && sunk.nonEmpty,
      s"$store seed $seed: a standing drained nothing (vacuous)")
  }

  test("one action per bitemporal advance materializes every commit and drops every superseded generation") {
    for (seed <- Seq(21L, 22L)) drive(seed, "driver store")
    val prev = sys.props.put("graft.bi.driver.bytes", "0")
    try {
      for (seed <- Seq(23L, 24L)) drive(seed, "cell store")
    } finally prev match {
      case Some(v) => sys.props("graft.bi.driver.bytes") = v
      case None    => sys.props.remove("graft.bi.driver.bytes")
    }
  }
}
