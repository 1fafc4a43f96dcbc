package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._
import graft.model.Plan._

/** Regressions for the round-1 advisor findings (ADVICE.md):
  *  1. writes at closed times are rejected loudly;
  *  2. Hector predicates over Const-bound variables apply as literals, and
  *     predicates over unbound variables fail instead of silently dropping;
  *  3. SUBTRACT with a constant minuend equal in value to another constant
  *     follows the reference's double-then-subtract-all scheme;
  *  4. fixpoint convergence is content-based (and semi-naive for linear
  *     monotone cliques);
  *  5. aggregation keys with empty consolidated support emit nothing.
  */
class AdviceRegressionSpec extends AnyFunSuite with EngineCases {

  private def spark = TestSpark.spark

  test("transact at a closed time fails loudly (ADVICE #1)") {
    val engine = new Engine(spark)
    engine.createAttribute(":x", AttributeConfig(InputSemantics.Raw))
    engine.register(Rule("query", matchA(0, ":x", 1)))
    engine.interest("query")
    engine.transact(Seq(Datom.addAt(1L, ":x", Value.num(10), 0L)))
    engine.advance(2)
    engine.drain("query")
    val ex = intercept[GraftError] {
      engine.transact(Seq(Datom.addAt(2L, ":x", Value.num(20), 1L)))
    }
    assert(ex.getMessage.contains("closed time"))
    assert(ex.category == "df.error.category/conflict")
    // At-or-above the frontier is still fine.
    engine.transact(Seq(Datom.addAt(3L, ":x", Value.num(30), 2L)))
  }

  test("hector predicate against a Const-bound variable (ADVICE #2)") {
    // [?e :age ?v] [?c = 30] [?v > ?c] — var 2 is bound only by Const.
    val plan = q(Seq(0, 1), Seq(
      Binding.attribute(0, ":age", 1),
      Binding.constant(2, Value.num(30)),
      Binding.binaryPredicate(Predicate.GT, 1, 2)))
    runCases(Seq(TC(
      "pred vs const-bound var",
      plan,
      Seq(Seq(
        Datom.add(1L, ":age", Value.num(20)),
        Datom.add(2L, ":age", Value.num(30)),
        Datom.add(3L, ":age", Value.num(40)))),
      Seq(Seq((Seq(Value.eid(3), Value.num(40)), 0L, 1L))))))
  }

  test("hector predicate over an unbound variable panics (ADVICE #2)") {
    val engine = new Engine(spark)
    engine.createAttribute(":age", AttributeConfig(InputSemantics.Distinct))
    engine.register(Rule("query", q(Seq(0, 1), Seq(
      Binding.attribute(0, ":age", 1),
      Binding.binaryPredicate(Predicate.GT, 1, 99))))) // 99 never bound
    engine.interest("query")
    engine.transact(Seq(Datom.add(1L, ":age", Value.num(20))))
    val ex = intercept[Exception] { engine.advance(1) }
    assert(ex.getMessage.contains("unbound"))
  }

  test("SUBTRACT [Some(5), Some(5)]: 5 - vars - 5 (ADVICE #3)") {
    // Reference: result = 2*minuend - Σvars - Σconsts = 10 - v - 5 - 5 = -v.
    runCases(Seq(TC(
      "subtract duplicate constants",
      Transform(Seq(1), 2, matchA(0, ":n", 1), Fn.SUBTRACT,
        Seq(Some(Value.num(5)), Some(Value.num(5)))),
      Seq(Seq(Datom.add(1L, ":n", Value.num(7)))),
      Seq(Seq((Seq(Value.eid(1), Value.num(7), Value.num(-7)), 0L, 1L))))))
  }

  test("aggregate key with empty consolidated support vanishes (ADVICE #5)") {
    // (+1, -1) on the same (e, v) under Raw semantics nets to zero support;
    // COUNT must emit nothing for that key, not (key, 0).
    val plan = Aggregate(Seq(0, 1), matchA(0, ":v", 1),
      Seq(AggregationFn.COUNT), Seq(0), Seq(1), Seq.empty)
    runCases(Seq(TC(
      "empty-support key",
      plan,
      Seq(
        Seq(Datom.add(1L, ":v", Value.num(3)),
          Datom.add(2L, ":v", Value.num(4))),
        Seq(Datom.retract(1L, ":v", Value.num(3)))),
      Seq(
        Seq(
          (Seq(Value.eid(1), Value.num(1)), 0L, 1L),
          (Seq(Value.eid(2), Value.num(1)), 0L, 1L)),
        Seq(
          (Seq(Value.eid(1), Value.num(1)), 1L, -1L))))),
      semantics = InputSemantics.Raw)
  }

  test("set-semantics aggregation distincts before SUM (aggregate.rs:180)") {
    // Two entities contribute the same value: multiset SUM = 10, set SUM = 5.
    val plan = Aggregate(Seq(1), matchA(0, ":x", 1),
      Seq(AggregationFn.SUM), Seq.empty, Seq(1), Seq.empty)
    val data = Seq(
      Datom.add(1L, ":x", Value.num(5)),
      Datom.add(2L, ":x", Value.num(5)))

    def run(setSem: Boolean): Seq[Any] = {
      val engine = new Engine(spark, setSemantics = setSem)
      engine.createAttribute(":x", AttributeConfig(InputSemantics.Distinct))
      engine.register(Rule("q", Project(Seq(1), plan)))
      engine.interest("q")
      engine.transact(data)
      engine.advance(1)
      engine.drain("q").map(_._1.head)
    }
    assert(run(setSem = false) == Seq(10L))
    assert(run(setSem = true) == Seq(5L))
  }

  test("hector target variable bound only by a constant (ConstantExtender)") {
    val plan = q(Seq(0, 2), Seq(
      Binding.attribute(0, ":name", 1),
      Binding.constant(2, Value.num(7))))
    runCases(Seq(TC(
      "const-only target var",
      plan,
      Seq(Seq(Datom.add(1L, ":name", Value.str("a")))),
      Seq(Seq((Seq(Value.eid(1), Value.num(7)), 0L, 1L))))))
  }

  // ------------------------------------------------------ round-2 advice

  test("rule cache is invalidated by transact (r2 ADVICE: cache epoch)") {
    import graft.compile.Compiler
    import graft.domain.Domain
    val dom = new Domain(spark)
    dom.createAttribute(":n", AttributeConfig(InputSemantics.Distinct))
    dom.registerRule(Rule("q", matchA(0, ":n", 1)))
    dom.transact(Seq(Datom.addAt(1L, ":n", Value.num(10), 0L)), 0L)
    def count(): Long = {
      val c = new Compiler(dom.asOf(Long.MaxValue), dom.rules,
        sharedCache = Some(dom.ruleResultCache))
      c.compileRule("q").df.count()
    }
    assert(count() == 1L)
    // A second datom must be visible even though the first result was
    // cached — the data-epoch in the key makes the old entry unreachable.
    dom.transact(Seq(Datom.addAt(2L, ":n", Value.num(20), 0L)), 0L)
    assert(count() == 2L)
    // And different as-of views never share entries.
    val cEarly = new Compiler(dom.asOf(-1L), dom.rules,
      sharedCache = Some(dom.ruleResultCache))
    assert(cEarly.compileRule("q").df.count() == 0L)
  }

  test("mixed COUNT+MIN keeps order statistics at net-zero weight (r2 ADVICE)") {
    // Z-set {(1,3):+1, (1,4):-1} for key 1 (a phantom retraction under Raw
    // semantics): sup=1, wsum=0 — MIN over the positive support stays
    // defined; COUNT nulls out instead of dropping the whole row.
    val plan = Aggregate(Seq(0, 1, 1), matchA(0, ":v", 1),
      Seq(AggregationFn.COUNT, AggregationFn.MIN), Seq(0), Seq(1, 1), Seq.empty)
    val engine = new Engine(spark)
    engine.createAttribute(":v", AttributeConfig(InputSemantics.Raw))
    engine.register(Rule("q", plan))
    engine.interest("q")
    engine.transact(Seq(
      Datom.add(1L, ":v", Value.num(3)),
      Datom.retract(1L, ":v", Value.num(4))))
    engine.advance(1)
    val got = engine.drain("q")
    assert(got == Seq((Seq(1L, null, 3L), 0L, 1L)), s"got $got")
  }

  test("wire parser rejects malformed input (r2 ADVICE)") {
    import graft.server.Wire
    // Misspelled literals must not parse by position.
    intercept[IllegalArgumentException](Wire.parseJson("trXX"))
    intercept[IllegalArgumentException](Wire.parseJson("nulX"))
    // Truncated documents fail with a parse error, not
    // StringIndexOutOfBoundsException.
    val truncated = intercept[IllegalArgumentException](Wire.parseJson("""{"a": [1, 2"""))
    assert(truncated.getMessage.contains("JSON"))
    // Untagged fractional numbers are not silently truncated into i64
    // Value payloads (reference Number is an integer).
    val datoms = intercept[Exception](
      Wire.parseRequests("""{"Transact":[[1,":a",1.5,null,1]]}"""))
    assert(datoms.getMessage.toLowerCase.contains("integer"))
  }

  test("semi-naive fixpoint matches naive closure (ADVICE #4)") {
    // Tiny graph: edges {(1,2),(2,3),(3,4),(2,5)} ⇒ closure adds
    // (1,3),(1,4),(1,5),(2,4).
    val edges = Rule("edges", matchA(0, ":edge", 1))
    val closure = Rule("closure", Union(Seq(0, 1), Seq(
      NameExpr(Seq(0, 1), "edges"),
      Project(Seq(0, 1), Join(Seq(2),
        NameExpr(Seq(0, 2), "edges"),
        NameExpr(Seq(2, 1), "closure"))))))
    val expected = Set(
      (1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L),
      (1L, 3L), (1L, 4L), (1L, 5L), (2L, 4L), (3L, 4L))

    val engine = new Engine(spark)
    engine.createAttribute(":edge", AttributeConfig(InputSemantics.Distinct))
    engine.register(edges)
    engine.register(closure)
    engine.interest("closure")
    engine.transact(Seq(
      Datom.add(1L, ":edge", Value.eid(2)),
      Datom.add(2L, ":edge", Value.eid(3)),
      Datom.add(3L, ":edge", Value.eid(4)),
      Datom.add(2L, ":edge", Value.eid(5))))
    engine.advance(1)
    val got = engine.drain("closure").map { case (tuple, _, d) =>
      assert(d == 1L)
      (tuple(0).asInstanceOf[Long], tuple(1).asInstanceOf[Long])
    }.toSet
    assert(got == expected)
  }

  test("fixpoint conf overrides are thread-local (r5 ADVICE: no global mutation)") {
    // The fixpoint loop tunes AQE/codegen/shuffle-partition settings for
    // its per-round plans. Those overrides must be invisible to concurrent
    // queries on the SAME session (the WsServer serves several clients off
    // one session): run a recursive closure on another thread and, while
    // it runs, keep asserting from this thread that the session conf still
    // reads the user's values and that a plain aggregate still answers
    // correctly.
    val s = spark
    val keys = Map(
      "spark.sql.adaptive.enabled" -> s.conf.get("spark.sql.adaptive.enabled", "true"),
      "spark.sql.codegen.wholeStage" -> s.conf.get("spark.sql.codegen.wholeStage", "true"),
      "spark.sql.constraintPropagation.enabled" ->
        s.conf.get("spark.sql.constraintPropagation.enabled", "true"),
      "spark.sql.shuffle.partitions" -> s.conf.get("spark.sql.shuffle.partitions"))

    val engine = new Engine(s)
    engine.createAttribute(":edge", AttributeConfig(InputSemantics.Distinct))
    // Random graph big enough that the fixpoint runs for a visible window;
    // the Project-wrapped recursive reference fails the kernel's
    // bare-reference gate, so the fixpoint runs the DataFrame loop (the
    // path that tunes the conf hardest).
    val rnd = new scala.util.Random(11)
    val n = 80
    val datoms = (0 until 2 * n).map { _ =>
      Datom.add(rnd.nextInt(n).toLong, ":edge", Value.eid(rnd.nextInt(n).toLong))
    }
    engine.register(Rule("edges", matchA(0, ":edge", 1)))
    engine.register(Rule("closure", Union(Seq(0, 1), Seq(
      NameExpr(Seq(0, 1), "edges"),
      Project(Seq(0, 1), Join(Seq(2),
        NameExpr(Seq(0, 2), "edges"),
        Project(Seq(2, 1), NameExpr(Seq(2, 1), "closure"))))))))
    engine.interest("closure")
    engine.transact(datoms)

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fixpoint = Future {
      engine.advance(1)
      engine.drain("closure").map(_._1).toSet
    }
    import s.implicits._
    var polls = 0
    while (!fixpoint.isCompleted) {
      keys.foreach { case (k, want) =>
        assert(s.conf.get(k) == want,
          s"session conf $k mutated to ${s.conf.get(k)} during a fixpoint")
      }
      // A concurrent plain aggregate on the same session must still plan
      // and answer under the user's settings.
      assert(Seq(1L, 2L, 3L).toDF("x")
        .agg(org.apache.spark.sql.functions.sum($"x"))
        .head().getLong(0) == 6L)
      polls += 1
    }
    assert(Await.result(fixpoint, 1.minute) ==
      DriverClosure.tuples(DriverClosure.of(DriverClosure.edgesOf(datoms))))
    keys.foreach { case (k, want) => assert(s.conf.get(k) == want) }
  }

  test("unreachable rule with unsupported derived usage doesn't poison " +
      "other standings (r16 ADVICE)") {
    // A rule that is REGISTERED but never attached (and never referenced)
    // uses the derived attribute in a shape DerivedViews.inline rejects
    // (MatchEA). Eagerly inlining the whole rules map at incremental init
    // made every OTHER standing's attach throw; the inline closure must
    // be restricted to rules reachable from the attaching standing.
    val engine = new Engine(spark)
    Seq("rlink", "rdname", "rdbal").foreach(a => engine.createAttribute(a,
      AttributeConfig(InputSemantics.Distinct)))
    engine.handle(graft.server.Request.Derive("rc", "{ rlink { rdname } }"))
    // The poison rule: MatchEA over the derived attribute, never attached.
    engine.register(Rule("rbad", MatchEA(1L, "rc/rdname", 0)))
    engine.register(Rule("rgood", Join(Seq(0),
      MatchA(0, "rc/rdname", 1), MatchA(0, "rdbal", 2))))
    engine.interestIncremental("rgood")
    engine.transact(Seq(
      Datom(1L, "rlink", Value.eid(1L), None, 1L),
      Datom(1L, "rdname", Value.str("n1"), None, 1L),
      Datom(1L, "rdbal", Value.num(5L), None, 1L)))
    engine.advance(1L) // pre-fix: threw GraftError inlining rbad
    assert(engine.drain("rgood").exists { case (row, _, w) =>
      w == 1L && row(1) == "n1" })
    // Attaching the bad rule itself still rejects loudly.
    engine.interestIncremental("rbad")
    val ex = intercept[GraftError] { engine.advance(2L) }
    assert(ex.getMessage.contains("MatchA scans"), ex.getMessage)
  }
}
