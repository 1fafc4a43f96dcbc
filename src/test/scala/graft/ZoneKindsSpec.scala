package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._
import graft.model.Plan._

/** A maintained linear zone evaluates its operators row by row
  * (`LinearRows`), so each must agree with the batch compiler's Catalyst
  * expression on every value kind. The plan generators draw only long
  * and string values; these histories hold reals (NaN, -0.0, 0.0),
  * instants, booleans, strings whose UTF-8 and UTF-16 orders differ
  * ("\uE000" and "\uFF61" sort below "😀" in code points, above it in
  * UTF-16) and strings that meet numbers and booleans under Catalyst's
  * implicit casts, and every drain of the maintained engine must equal
  * the snapshot engine's (`Engine.interest`, the compiled plan). */
class ZoneKindsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val R = ":z/r"   // real
  private val R2 = ":z/r2" // real
  private val I = ":z/i"   // instant
  private val B = ":z/b"   // boolean
  private val S = ":z/s"   // string
  private val S2 = ":z/s2" // string
  private val N = ":z/n"   // number
  private val SN = ":z/sn" // string, some parsing as numbers or booleans

  private def d(e: Long, a: String, v: Value, diff: Long = 1L) = Datom(e, a, v, None, diff)

  private val hour = 3600000L

  private val history: Seq[Seq[Datom]] = Seq(
    Seq(d(1, R, Value.VReal(0.0)), d(2, R, Value.VReal(-0.0)),
      d(3, R, Value.VReal(Double.NaN)), d(4, R, Value.VReal(1.5)),
      d(1, R2, Value.VReal(-0.0)), d(2, R2, Value.VReal(Double.NaN)),
      d(3, R2, Value.VReal(Double.NaN)), d(4, R2, Value.VReal(2.0)),
      d(1, I, Value.instant(5 * hour + 17)), d(2, I, Value.instant(hour)),
      d(3, I, Value.instant(-7L)),
      d(1, B, Value.bool(true)), d(2, B, Value.bool(false)),
      d(1, S, Value.str("\uE000")), d(2, S, Value.str("😀")),
      d(3, S, Value.str("b")), d(4, S, Value.str("\uFF61")),
      d(1, S2, Value.str("b")), d(2, S2, Value.str("\uE000")), d(3, S2, Value.str("b")),
      d(4, S2, Value.str("😀")),
      d(1, SN, Value.str("3")), d(2, SN, Value.str(" 7 ")), d(3, SN, Value.str("-4.5")),
      d(4, SN, Value.str("x")), d(5, SN, Value.str("true")), d(6, SN, Value.str("NaN")),
      d(1, N, Value.num(3)), d(2, N, Value.num(Long.MaxValue))),
    Seq(d(5, R, Value.VReal(Double.NaN)), d(6, R, Value.VReal(0.0)),
      d(1, R, Value.VReal(0.0), -1L), d(4, I, Value.instant(2 * hour)),
      d(3, B, Value.bool(true)), d(5, S, Value.str("a")), d(3, N, Value.num(-4))),
    Seq(d(3, R, Value.VReal(Double.NaN), -1L), d(2, R2, Value.VReal(Double.NaN), -1L),
      d(1, I, Value.instant(5 * hour + 17), -1L), d(2, B, Value.bool(false), -1L),
      d(2, S, Value.str("😀"), -1L)))

  /** Drained tuples as comparable text: `Double.toString` tells -0.0
    * from 0.0 and prints every NaN alike. */
  private def show(v: Any): Any = v match {
    case x: Double                  => s"real:$x"
    case s: scala.collection.Seq[_] => s.map(show).toSeq
    case other                      => other
  }

  private def drains(plan: Plan, maintained: Boolean): Seq[Map[(Any, Long, Long), Int]] = {
    val e = new Engine(spark)
    Seq(R, R2, I, B, S, S2, N, SN).foreach(a =>
      e.createAttribute(a, AttributeConfig(InputSemantics.Raw)))
    e.register(Rule("query", plan))
    if (maintained) e.interestIncremental("query") else e.interest("query")
    val out = history.zipWithIndex.map { case (tx, i) =>
      e.transact(tx)
      e.advance(i + 1L)
      e.drain("query").map { case (t, time, w) => (show(t), time, w) }
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    if (maintained) assert(e.servedIncrementally("query"))
    out
  }

  private def same(label: String, plan: Plan): Unit = {
    val snap = drains(plan, maintained = false)
    val inc = drains(plan, maintained = true)
    assert(inc == snap, s"$label: maintained $inc vs snapshot $snap")
  }

  private val preds = Seq(Predicate.LT, Predicate.GT, Predicate.LTE,
    Predicate.GTE, Predicate.EQ, Predicate.NEQ)

  test("filters against a constant, either side, on every kind") {
    val consts = Seq(R -> Value.VReal(0.0), R -> Value.VReal(Double.NaN),
      I -> Value.instant(hour), B -> Value.bool(true), S -> Value.str("\uE000"),
      S -> Value.str("😀"), N -> Value.num(3))
    for ((a, c) <- consts; p <- preds) {
      same(s"$a $p $c", Filter(Seq(1), p, MatchA(0, a, 1), Seq(None, Some(c))))
      same(s"$c $p $a", Filter(Seq(1), p, MatchA(0, a, 1), Seq(Some(c), None)))
    }
  }

  test("filters between two variables, same kind and long against real") {
    for (p <- preds) {
      same(s"real $p real", Filter(Seq(1, 2), p,
        Join(Seq(0), MatchA(0, R, 1), MatchA(0, R2, 2)), Seq(None, None)))
      same(s"string $p string", Filter(Seq(1, 2), p,
        Join(Seq(0), MatchA(0, S, 1), MatchA(0, S2, 2)), Seq(None, None)))
      same(s"eid $p real", Filter(Seq(0, 1), p, MatchA(0, R, 1), Seq(None, None)))
    }
  }

  test("filters where a string meets a number or a boolean, and a boolean a number") {
    val consts = Seq(SN -> Value.num(3), SN -> Value.VReal(-4.5), SN -> Value.VReal(Double.NaN),
      SN -> Value.bool(true), N -> Value.str(" 7 "), R -> Value.str("-0"))
    for ((a, c) <- consts; p <- preds) {
      same(s"$a $p $c", Filter(Seq(1), p, MatchA(0, a, 1), Seq(None, Some(c))))
      same(s"$c $p $a", Filter(Seq(1), p, MatchA(0, a, 1), Seq(Some(c), None)))
    }
    for (p <- preds) {
      same(s"string $p number", Filter(Seq(1, 2), p,
        Join(Seq(0), MatchA(0, SN, 1), MatchA(0, N, 2)), Seq(None, None)))
      same(s"real $p string", Filter(Seq(1, 2), p,
        Join(Seq(0), MatchA(0, R, 1), MatchA(0, SN, 2)), Seq(None, None)))
    }
    for (p <- Seq(Predicate.EQ, Predicate.NEQ); n <- Seq(0L, 1L, 2L))
      same(s"boolean $p $n", Filter(Seq(1), p, MatchA(0, B, 1), Seq(None, Some(Value.num(n)))))
    same("AV number over strings", MatchAV(0, SN, Value.num(7)))
  }

  test("matches on a value and a self-equal entity over reals and strings") {
    same("AV real", MatchAV(0, R, Value.VReal(-0.0)))
    same("AV NaN", MatchAV(0, R, Value.VReal(Double.NaN)))
    same("AV string", MatchAV(0, S, Value.str("b")))
    same("EA", MatchEA(3, S, 1))
    same("e = v over reals", MatchA(0, R, 0))
  }

  test("transforms: TRUNCATE on instants, ADD and SUBTRACT with constants") {
    for (unit <- Seq(":minute", ":hour", ":day", ":week"))
      same(s"truncate $unit", Transform(Seq(1), 2, MatchA(0, I, 1), Fn.TRUNCATE,
        Seq(None, Some(Value.str(unit)))))
    same("truncate default", Transform(Seq(1), 2, MatchA(0, I, 1), Fn.TRUNCATE, Seq.empty))
    same("add", Transform(Seq(0, 1), 2, MatchA(0, N, 1), Fn.ADD, Seq(Some(Value.num(7)))))
    same("subtract", Transform(Seq(1), 2, MatchA(0, I, 1), Fn.SUBTRACT,
      Seq(None, Some(Value.num(5)))))
    same("subtract from a constant", Transform(Seq(0, 1), 2, MatchA(0, N, 1),
      Fn.SUBTRACT, Seq(Some(Value.num(100)))))
    same("negated projection", Negate(Project(Seq(1), MatchA(0, B, 1))))
    same("add over reals", Transform(Seq(1, 0), 2, MatchA(0, R, 1), Fn.ADD,
      Seq(Some(Value.num(7)))))
    same("subtract over strings", Transform(Seq(1), 2, MatchA(0, SN, 1), Fn.SUBTRACT,
      Seq(Some(Value.num(1)))))
    same("truncate over reals", Transform(Seq(1), 2, MatchA(0, R, 1), Fn.TRUNCATE, Seq.empty))
  }

  test("pull decorations over reals, instants, booleans and strings") {
    same("pull all", PullAll(Seq(-1, -2, -3), Seq(R, I, B, S)))
    same("path-decorated level", PullLevel(Seq.empty, MatchA(0, S, 1), 0,
      pullAttributes = Seq.empty, pathAttributes = Seq(":p/a"), cardinalityMany = false))
    same("pull over a level", Pull(Seq(-1), Seq(PullLevel(Seq.empty,
      MatchA(0, N, 1), 0, pullAttributes = Seq(R, S), pathAttributes = Seq(":p/b"),
      cardinalityMany = false))))
  }
}
