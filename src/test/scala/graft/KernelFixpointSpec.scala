package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._
import graft.model.Plan._

/** The iterative RDD kernel for linear recursion (Compiler.kernelLinear)
  * must be a pure implementation swap: identical result sets to the
  * general semi-naive DataFrame loop on the same rules and data, and a
  * clean fallback (not a wrong answer) whenever its shape gates fail.
  * Every path is checked against a driver-side closure
  * ([[DriverClosure]]); each is reached by rule shape, never a dial:
  * the bare binary closure takes the primitive-pair kernel, a `Filter`
  * takes the generic boxed kernel, and a `Project`-wrapped recursive
  * reference takes the general DataFrame loop.
  */
class KernelFixpointSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** Deterministic pseudo-random graph: n nodes, ~2n edges. */
  private def graphDatoms(n: Int, seed: Long): Seq[Datom] = {
    val rnd = new scala.util.Random(seed)
    (0 until 2 * n).map { _ =>
      val a = rnd.nextInt(n).toLong
      val b = rnd.nextInt(n).toLong
      Datom.add(a, ":edge", Value.eid(b))
    }
  }

  private val closureRules = Seq(
    Rule("edges", matchA(0, ":edge", 1)),
    Rule("closure", Union(Seq(0, 1), Seq(
      NameExpr(Seq(0, 1), "edges"),
      Project(Seq(0, 1), Join(Seq(2),
        NameExpr(Seq(0, 2), "edges"),
        NameExpr(Seq(2, 1), "closure")))))))

  private def runClosure(rules: Seq[Rule], datoms: Seq[Datom],
      interest: String): Set[Seq[Any]] = {
    val engine = new Engine(spark)
    engine.createAttribute(":edge", AttributeConfig(InputSemantics.Distinct))
    rules.foreach(engine.register)
    engine.interest(interest)
    engine.transact(datoms)
    engine.advance(1)
    engine.drain(interest).map { case (tuple, _, d) =>
      assert(d == 1L, s"closure diffs must be +1, got $d for $tuple")
      tuple
    }.toSet
  }

  /** The closure with its recursive reference wrapped in a `Project` —
    * the shape the kernel's bare-reference gate rejects, so it runs on
    * the general DataFrame loop. */
  private val nonBareClosureRules = Seq(
    Rule("edges", matchA(0, ":edge", 1)),
    Rule("closure", Union(Seq(0, 1), Seq(
      NameExpr(Seq(0, 1), "edges"),
      Project(Seq(0, 1), Join(Seq(2),
        NameExpr(Seq(0, 2), "edges"),
        Project(Seq(2, 1), NameExpr(Seq(2, 1), "closure"))))))))

  /** The closure with a `Filter(x ≤ bound)` between the Project and the
    * Join: a kernel-side JVM predicate, so the generic boxed kernel. */
  private def filteredClosureRules(bound: Long) = Seq(
    Rule("edges", matchA(0, ":edge", 1)),
    Rule("closure", Union(Seq(0, 1), Seq(
      NameExpr(Seq(0, 1), "edges"),
      Filter(Seq(0), Predicate.LTE,
        Project(Seq(0, 1), Join(Seq(2),
          NameExpr(Seq(0, 2), "edges"),
          NameExpr(Seq(2, 1), "closure"))),
        Seq(None, Some(Value.num(bound))))))))

  test("kernel closure is correct across multiple partitions") {
    // 300 disjoint 11-node chains: 3000 edges exceed the 2000-row floor,
    // so the kernel spreads across min(userPartitions, 16) partitions and
    // candidates/deltas cross partition boundaries every round (the
    // claimed-partitioner bug class the CC kernel shipped — see
    // RddKernel's invariants). Expected closure is analytic: exactly the
    // within-chain (i, j), i < j pairs.
    val datoms = for {
      c <- 0 until 300; i <- 0 until 10
    } yield Datom.add((c * 11 + i).toLong, ":edge", Value.eid((c * 11 + i + 1).toLong))
    val expected: Set[Seq[Any]] = (for {
      c <- 0 until 300; i <- 0 to 10; j <- (i + 1) to 10
    } yield Seq((c * 11 + i).toLong, (c * 11 + j).toLong): Seq[Any]).toSet
    val got = runClosure(closureRules, datoms, "closure")
    assert(got == expected)
  }

  test("kernel and DataFrame loops agree on a random transitive closure") {
    val datoms = graphDatoms(60, seed = 7)
    val expected = DriverClosure.tuples(DriverClosure.of(DriverClosure.edgesOf(datoms)))
    assert(expected.nonEmpty)
    // Primitive-pair kernel (bare binary long closure).
    assert(runClosure(closureRules, datoms, "closure") == expected)
    // General DataFrame loop (non-bare recursive reference).
    assert(runClosure(nonBareClosureRules, datoms, "closure") == expected)
    // Generic boxed kernel: a filter every node passes keeps the result
    // the full closure.
    assert(runClosure(filteredClosureRules(60L), datoms, "closure") == expected)
  }

  test("filtered linear recursion runs on the kernel with identical results") {
    // Bounded reachability: a Filter between the Project and the Join
    // compiles to a kernel-side JVM predicate; results must match the
    // driver-side bounded closure exactly.
    val datoms = graphDatoms(60, seed = 11)
    val got = runClosure(filteredClosureRules(40L), datoms, "closure")
    val reference = DriverClosure.tuples(
      DriverClosure.of(DriverClosure.edgesOf(datoms), _ <= 40L))
    assert(got.nonEmpty && got == reference)
  }

  test("kernel bails to the DataFrame loop on non-bare recursive references") {
    // A Project WRAPPING the recursive NameExpr inside the join breaks the
    // bare-reference gate; the fixpoint must still converge correctly via
    // the general loop.
    val datoms = graphDatoms(60, seed = 11)
    val got = runClosure(nonBareClosureRules, datoms, "closure")
    val reference = DriverClosure.tuples(
      DriverClosure.of(DriverClosure.edgesOf(datoms)))
    assert(got.nonEmpty && got == reference)
  }

  test("downstream aggregation consumes a kernel-produced relation") {
    // labelprop shape: MIN over the closure — exercises the RDD-backed
    // DataFrame the kernel returns as input to a grouped aggregation.
    val rules = closureRules :+
      Rule("labels", Aggregate(Seq(1, 0), NameExpr(Seq(0, 1), "closure"),
        Seq(AggregationFn.MIN), Seq(1), Seq(0), Seq.empty))
    val datoms = graphDatoms(40, seed = 3)
    val viaKernel = runClosure(rules, datoms, "labels")
    // Driver-side labels: per target y, the MIN source x reaching it.
    val expected: Set[Seq[Any]] =
      DriverClosure.of(DriverClosure.edgesOf(datoms)).groupBy(_._2)
        .map { case (y, ps) => Seq(y, ps.map(_._1).min): Seq[Any] }.toSet
    assert(viaKernel.nonEmpty)
    assert(viaKernel == expected)
  }

  test("string-labelled reachability past the broadcast gate takes the boxed arrangement") {
    // reach(x, l) :- label(x, l) ; edge(x, z), reach(z, l) with STRING
    // labels: past the broadcast gate the static edges take the
    // partitioned arrangement, and the string column keeps it off the
    // primitive packed index — the boxed arrangement, selected by kind.
    val rules = Seq(
      Rule("edges", matchA(0, ":edge", 1)),
      Rule("labels", matchA(0, ":label", 1)),
      Rule("reach", Union(Seq(0, 1), Seq(
        NameExpr(Seq(0, 1), "labels"),
        Project(Seq(0, 1), Join(Seq(2),
          NameExpr(Seq(0, 2), "edges"),
          NameExpr(Seq(2, 1), "reach")))))))
    val edgeDatoms = graphDatoms(40, seed = 5)
    val labelled = Seq(0L -> "a", 7L -> "b", 19L -> "c", 33L -> "a")
    val datoms = edgeDatoms ++ labelled.map { case (e, l) =>
      Datom.add(e, ":label", Value.str(l)) }
    // Driver-side: x reaches label l when x = z or x reaches z, z has l.
    val cl = DriverClosure.of(DriverClosure.edgesOf(edgeDatoms))
    val expected: Set[Seq[Any]] = labelled.flatMap { case (z, l) =>
      (cl.collect { case (x, `z`) => x } + z).map(x => Seq[Any](x, l))
    }.toSet
    def run(): Set[Seq[Any]] = {
      val engine = new Engine(spark)
      engine.createAttribute(":edge", AttributeConfig(InputSemantics.Distinct))
      engine.createAttribute(":label", AttributeConfig(InputSemantics.Distinct))
      rules.foreach(engine.register)
      engine.interest("reach")
      engine.transact(datoms)
      engine.advance(1)
      engine.drain("reach").map(_._1).toSet
    }
    // Threshold 60 ⇒ maxStaticRows = 1 at arity 2: the ~80-edge static
    // routes through the partitioned arrangement, not the broadcast.
    val got = TestSpark.withConf(TestSpark.BroadcastThreshold, "60")(run())
    assert(expected.size > labelled.size)
    assert(got == expected)
  }

  test("arrangement consolidates a negating NameExpr static (r11 review)") {
    // The static side references a RULE whose compiled Z-set carries
    // negative weights (a bare Negate body — distinct=false, W=-1).
    // Past the broadcast gate the arrangement must consolidate it the
    // way the broadcast path does (distinctify → empty static here);
    // treating the rule reference as unit-weighted would surface the
    // negated edges into the static index and derive through them.
    // Today TWO layers guarantee this: depEnv pre-distinctifies every
    // external rule dependency before the kernel compiles the static,
    // and the gate's positiveWeights recurses through rule bodies
    // (defense in depth if a future call path skips depEnv) — this
    // test pins the end-to-end behavior against both regressing.
    val rules = Seq(
      Rule("edges0", matchA(0, ":edge", 1)),
      Rule("dead", matchA(0, ":dead", 1)),
      Rule("neg_dead", Negate(NameExpr(Seq(0, 1), "dead"))),
      Rule("closure", Union(Seq(0, 1), Seq(
        NameExpr(Seq(0, 1), "edges0"),
        Project(Seq(0, 1), Join(Seq(2),
          NameExpr(Seq(0, 2), "neg_dead"),
          NameExpr(Seq(2, 1), "closure")))))))
    val datoms = Seq(
      Datom.add(0L, ":edge", Value.eid(1L)),
      Datom.add(1L, ":edge", Value.eid(2L)),
      Datom.add(10L, ":dead", Value.eid(0L)),
      Datom.add(11L, ":dead", Value.eid(0L)))
    def run(): Set[Seq[Any]] = {
      val engine = new Engine(spark)
      engine.createAttribute(":edge", AttributeConfig(InputSemantics.Distinct))
      engine.createAttribute(":dead", AttributeConfig(InputSemantics.Distinct))
      rules.foreach(engine.register)
      engine.interest("closure")
      engine.transact(datoms)
      engine.advance(1)
      engine.drain("closure").map(_._1).toSet
    }
    // Threshold 60 ⇒ maxStaticRows = 1 at arity 2, so the 2-row static
    // routes through the partitioned arrangement, not the broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "60")
    try {
      val arranged = run()
      assert(arranged == Set(Seq(0L, 1L), Seq(1L, 2L)),
        s"negated static must contribute NOTHING, got $arranged")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
