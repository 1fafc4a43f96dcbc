package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._
import graft.model.Plan._

/** The maintained serving path consolidates a collected interest's diffs
  * on the driver, so its tuple equality must be Spark's grouping
  * equality, the one the snapshot path's distributed consolidation
  * applies: every NaN equal, -0.0 equal to 0.0 and drained as 0.0, also
  * inside variant structs and pull-path arrays. The plan generators
  * produce no reals, so the plan fuzz cannot see this; these histories
  * hold a NaN, 0.0 and -0.0, and a +1/-1 pair of one NaN datom inside a
  * single advance. */
class EngineConsolidationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val R = ":r/v"
  private val K = ":r/k"

  private def real(e: Long, d: Double, diff: Long = 1L) =
    Datom(e, R, Value.VReal(d), None, diff)

  private val history: Seq[Seq[Datom]] = Seq(
    Seq(real(1, 0.0), real(2, -0.0), real(3, Double.NaN), real(4, 1.5)) ++
      (1L to 7L).map(e => Datom(e, K, Value.num(e % 2), None, 1L)),
    Seq(real(5, Double.NaN), real(5, Double.NaN, -1L), real(6, -0.0),
      real(1, 0.0, -1L), real(7, Double.NaN)),
    Seq(real(3, Double.NaN, -1L), real(2, -0.0, -1L), real(8, -0.0),
      real(4, 1.5, -1L)))

  /** Drained tuples as comparable text: `Double.toString` tells -0.0
    * from 0.0 and prints every NaN alike, where boxed `==` would call a
    * NaN tuple unequal to itself. */
  private def show(v: Any): Any = v match {
    case d: Double                  => s"real:$d"
    case s: scala.collection.Seq[_] => s.map(show).toSeq
    case other                      => other
  }

  private def drains(plan: Plan, maintained: Boolean)
      : (Seq[Map[(Any, Long, Long), Int]], Boolean) = {
    val e = new Engine(spark)
    e.createAttribute(R, AttributeConfig(InputSemantics.Raw))
    e.createAttribute(K, AttributeConfig(InputSemantics.Raw))
    e.register(Rule("query", plan))
    if (maintained) e.interestIncremental("query") else e.interest("query")
    val out = history.zipWithIndex.map { case (tx, i) =>
      e.transact(tx)
      e.advance(i + 1L)
      e.drain("query").map { case (t, time, w) => (show(t), time, w) }
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    if (maintained) assert(e.servedIncrementally("query"))
    (out, e.isPathArrayResult("query"))
  }

  /** The snapshot drains, checked equal to the maintained drains, and
    * whether the maintained rule drains packed path arrays. */
  private def sameDrains(label: String, plan: Plan)
      : (Seq[Map[(Any, Long, Long), Int]], Boolean) = {
    val (snap, _) = drains(plan, maintained = false)
    val (inc, pathArray) = drains(plan, maintained = true)
    assert(inc == snap, s"$label: maintained $inc vs snapshot $snap")
    (snap, pathArray)
  }

  test("maintained drain of a real attribute equals the snapshot drain") {
    val (snap, _) = sameDrains("scan", MatchA(0, R, 1))
    // The same-advance NaN pair cancels; the snapshot path never drains it.
    assert(!snap(1).keys.exists(_._1 == Seq(5L, "real:NaN")))
    // Dropping the entity merges 0.0 with -0.0 and NaN with NaN.
    val (values, _) = sameDrains("values", Project(Seq(1), MatchA(0, R, 1)))
    assert(values.head == Map(
      (Seq("real:0.0"), 0L, 2L) -> 1, (Seq("real:NaN"), 0L, 1L) -> 1,
      (Seq("real:1.5"), 0L, 1L) -> 1))
    assert(values.flatMap(_.keys).forall(_._1 != Seq("real:-0.0")))
  }

  test("maintained drain of a pull path over reals equals the snapshot drain") {
    val level = PullLevel(Seq.empty, MatchA(0, K, 1), 0,
      pullAttributes = Seq(R), pathAttributes = Seq.empty,
      cardinalityMany = false)
    val (snap, pathArray) = sameDrains("pull", Pull(Seq.empty, Seq(level)))
    assert(pathArray, "the pull rule should drain packed path arrays")
    assert(snap.head.keys.exists(_._1 == Seq(2L, 0L, ":r/v", "real:0.0")))
  }
}
