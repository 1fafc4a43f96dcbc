package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.compile.Compiler
import graft.domain.AttributeSource
import graft.model._
import graft.model.ValueKind.{KEid, KNumber, KReal, KString}
import graft.streaming.IncrementalQuery

/** Composed incremental maintenance: across ANY history of signed datom
  * batches (including retractions below zero support — Z-set weights are
  * unrestricted), the diffs emitted by [[IncrementalQuery]] must equal
  * the snapshot-to-snapshot diffs of the BATCH compiler over the
  * accumulated datoms, for linear zones, union set semantics, hector
  * conjunctions, and every aggregation function. */
class IncrementalQuerySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val kinds: Map[String, ValueKind] = Map(
    ":m" -> KNumber, ":ua" -> KNumber, ":ub" -> KNumber, ":uc" -> KNumber,
    ":e1" -> KEid, ":e2" -> KEid)

  private type Store = mutable.Map[String, mutable.Map[(Long, Long), Long]]
  private def emptyStore: Store =
    mutable.Map.empty[String, mutable.Map[(Long, Long), Long]]
      .withDefault(_ => mutable.Map.empty)

  private val evwSchema = StructType(Seq(
    StructField("e", LongType, false), StructField("v", LongType, false),
    StructField("_w", LongType, false)))

  private def sourceOf(store: Store): AttributeSource = new AttributeSource {
    def has(name: String): Boolean = kinds.contains(name)
    def kind(name: String): ValueKind = kinds(name)
    def unit(name: String): Boolean = false
    def collection(name: String): DataFrame = {
      val rows = store(name).toSeq.collect {
        case ((e, v), w) if w != 0L => Row(e, v, w)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), evwSchema)
    }
    override def version: (Long, Long) = (0L, Long.MaxValue)
  }

  /** Weighted multiset of a DataFrame's (c0..cn) rows. */
  private def multiset(df: DataFrame): Map[Seq[Any], Long] =
    df.collect().toSeq
      .groupBy(r => r.toSeq.init)
      .map { case (k, rs) => k -> rs.map(_.getLong(rs.head.length - 1)).sum }
      .filter(_._2 != 0L)

  private def snapshot(plan: Plan, store: Store,
      rules: Map[String, Plan] = Map.empty): Map[Seq[Any], Long] =
    new Compiler(sourceOf(store),
      rules.map { case (n, p) => n -> Rule(n, p) })
      .compile(plan, Map.empty) match {
      case Some(rel) => multiset(rel.df)
      case None      => Map.empty
    }

  private def diffOf(before: Map[Seq[Any], Long],
      after: Map[Seq[Any], Long]): Map[Seq[Any], Long] =
    (before.keySet ++ after.keySet).iterator.map { k =>
      k -> (after.getOrElse(k, 0L) - before.getOrElse(k, 0L))
    }.filter(_._2 != 0L).toMap

  /** Drive `plan` with `batches`, asserting the incremental diffs equal
    * batch snapshot diffs after every batch; returns the driven query
    * for probes. */
  private def check(plan: Plan,
      batches: Seq[Seq[(String, Long, Long, Long)]],
      rules: Map[String, Plan] = Map.empty): IncrementalQuery = {
    import spark.implicits._
    val iq = new IncrementalQuery(spark, plan, kinds, rules)
    val store = emptyStore
    var before = snapshot(plan, store, rules)
    assert(before.isEmpty, "plans must start empty")
    batches.zipWithIndex.foreach { case (batch, i) =>
      batch.foreach { case (a, e, v, d) =>
        val m = store.getOrElseUpdate(a, mutable.Map.empty)
        val w = m.getOrElse((e, v), 0L) + d
        if (w == 0L) m.remove((e, v)) else m((e, v)) = w
      }
      val deltas = batch.groupBy(_._1).map { case (a, rows) =>
        a -> rows.map { case (_, e, v, d) => (e, v, d) }
          .toDF("e", "v", "diff")
      }
      val emitted = multiset(iq.advance(deltas))
      val after = snapshot(plan, store, rules)
      assert(emitted == diffOf(before, after),
        s"batch $i of ${batches.length}: $batch")
      before = after
    }
    iq
  }

  /** Deterministic signed batches over `attrs` — retractions are
    * unconstrained (Z-set semantics must hold below zero support too). */
  private def genBatches(seed: Long, attrs: Seq[String], n: Int,
      rows: Int = 14, es: Int = 4, vs: Int = 6): Seq[Seq[(String, Long, Long, Long)]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(rows)((
      attrs(rnd.nextInt(attrs.length)),
      rnd.nextInt(es).toLong, rnd.nextInt(vs).toLong,
      if (rnd.nextInt(5) == 0) -1L else 1L)))
  }

  /** Like [[genBatches]] but VALID: a datom is only retracted while its
    * net weight is positive (the engine's Distinct/LWW input contract).
    * AVG/VARIANCE use this — with nonneg net weights a key's support
    * implies a positive net count, so the undefined net-count-0 average
    * (which fails loudly in both compilers) is unreachable, exactly as it
    * is from real engine inputs. */
  private def genValidBatches(seed: Long, attrs: Seq[String], n: Int,
      rows: Int = 14, es: Int = 4, vs: Int = 6): Seq[Seq[(String, Long, Long, Long)]] = {
    val rnd = new scala.util.Random(seed)
    val net = mutable.Map.empty[(String, Long, Long), Long].withDefaultValue(0L)
    Seq.fill(n)(Seq.fill(rows) {
      val k = (attrs(rnd.nextInt(attrs.length)),
        rnd.nextInt(es).toLong, rnd.nextInt(vs).toLong)
      val d = if (rnd.nextInt(5) == 0 && net(k) > 0L) -1L else 1L
      net(k) += d
      (k._1, k._2, k._3, d)
    })
  }

  test("linear zone: transform over filter over match, stateless diffs") {
    val plan = Plan.Transform(Seq(2), 3,
      Plan.Filter(Seq(2), Predicate.GT,
        Plan.MatchA(1, ":m", 2), Seq(None, Some(Value.VNumber(2)))),
      Fn.ADD, Seq(Some(Value.VNumber(10))))
    check(plan, genBatches(101, Seq(":m"), 4))
  }

  test("union set semantics incl. a negated branch") {
    val plan = Plan.Union(Seq(1), Seq(
      Plan.MatchA(1, ":ua", 2),
      Plan.MatchA(1, ":ub", 2),
      Plan.Negate(Plan.MatchA(1, ":uc", 2))))
    check(plan, genBatches(202, Seq(":ua", ":ub", ":uc"), 5))
  }

  test("hector conjunction under a projection zone") {
    val plan = Plan.Project(Seq(10, 12), Plan.Hector(Seq(10, 11, 12), Seq(
      Binding.Attr(10, ":e1", 11), Binding.Attr(11, ":e2", 12))))
    check(plan, genBatches(303, Seq(":e1", ":e2"), 4, es = 3, vs = 3))
  }

  test("antijoin: right-key presence flips bulk-retract left rows") {
    val plan = Plan.Antijoin(Seq(1),
      Plan.MatchA(1, ":ua", 2),
      Plan.Project(Seq(1), Plan.MatchA(1, ":ub", 3)))
    check(plan, genBatches(404, Seq(":ua", ":ub"), 5))
  }

  test("hector Not bindings: multiset left-anti, batch-exact") {
    // Negation on the entity var only (value var 3 is not shared) and
    // on a shared value var — both lowered as the batch compiler does.
    val entityOnly = Plan.Hector(Seq(1, 2), Seq(
      Binding.Attr(1, ":ua", 2), Binding.Not(Binding.Attr(1, ":ub", 3))))
    check(entityOnly, genBatches(606, Seq(":ua", ":ub"), 5))
    val sharedValue = Plan.Hector(Seq(1, 2), Seq(
      Binding.Attr(1, ":ua", 2), Binding.Not(Binding.Attr(1, ":ub", 2))))
    check(sharedValue, genBatches(707, Seq(":ua", ":ub"), 5))
  }

  test("every AggregationFn over a match, batch-exact incl. rationals") {
    import AggregationFn._
    // AVG/VARIANCE are undefined at net count 0 (loud failure in both
    // compilers — see the ill-formed-history test), so they get VALID
    // histories; the rest keep unrestricted Z-set weights.
    for (fn <- Seq(COUNT, SUM, MIN, MAX, MEDIAN)) {
      val plan = Plan.Aggregate(Seq(1, 2), Plan.MatchA(1, ":m", 2),
        Seq(fn), Seq(1), Seq(2), Seq.empty)
      check(plan, genBatches(7919L * fn.hashCode, Seq(":m"), 3))
    }
    for (fn <- Seq(AVG, VARIANCE)) {
      val plan = Plan.Aggregate(Seq(1, 2), Plan.MatchA(1, ":m", 2),
        Seq(fn), Seq(1), Seq(2), Seq.empty)
      check(plan, genValidBatches(7919L * fn.hashCode, Seq(":m"), 3))
    }
  }

  test("aggregate over its own group key is batch-exact (zero-width groups)") {
    // COUNT/MIN of ?v grouped by ?v: every aggregated var is a key, so
    // the grouped rows have no columns and the node's state takes the
    // BoxedGroups backend — selected by row width, no dial.
    import AggregationFn._
    for (fn <- Seq(COUNT, MIN)) {
      val plan = Plan.Aggregate(Seq(2, 2), Plan.MatchA(1, ":m", 2),
        Seq(fn), Seq(2), Seq(2), Seq.empty)
      check(plan, genBatches(104729L * fn.hashCode, Seq(":m"), 3))
    }
  }

  test("transitive-closure recursive rule maintained, batch-exact incl. retractions") {
    // The recursion fragment: closure(x,z) := edge(x,z) ∪ edge(x,y)∘closure(y,z),
    // recognized at construction and maintained through the threshold +
    // warm-start/DRed closure node. Unrestricted Z-set datom histories:
    // the threshold converts arbitrary support wiggles into exactly the
    // valid ±1 set transitions the closure maintainer requires. Small
    // node space forces cycles and self-loops.
    val closure = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e1", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.MatchA(0, ":e1", 2), Plan.NameExpr(Seq(2, 1), "closure")))))
    val iq = check(Plan.NameExpr(Seq(0, 1), "closure"),
      genBatches(3671, Seq(":e1"), 4, es = 5, vs = 5),
      Map("closure" -> closure))
    // A few dozen edges sit far under the default byte gate.
    assert(iq.closureStoreProbe == Seq("IncrementalClosure"))
    // Right-linear form, same semantics.
    val closureR = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e1", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.NameExpr(Seq(0, 2), "closureR"), Plan.MatchA(2, ":e1", 1)))))
    check(Plan.NameExpr(Seq(0, 1), "closureR"),
      genBatches(9341, Seq(":e1"), 4, es = 5, vs = 5),
      Map("closureR" -> closureR))
  }

  test("mutual recursion (general clique node), batch-exact incl. retractions") {
    // Not the TC shape: a two-rule strongly-connected clique, maintained
    // by the general recursion node (delta-rule warm start + DRed).
    val a = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e1", 1), Plan.NameExpr(Seq(0, 1), "b")))
    val b = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e2", 1), Plan.NameExpr(Seq(0, 1), "a")))
    check(Plan.NameExpr(Seq(0, 1), "a"),
      genBatches(5557, Seq(":e1", ":e2"), 4, es = 4, vs = 4),
      Map("a" -> a, "b" -> b))
    // Odd/even path lengths — genuinely mutually recursive derivations
    // (each rule keeps a base branch, the batch fixpoint's contract).
    val odd = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e1", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.MatchA(0, ":e1", 2), Plan.NameExpr(Seq(2, 1), "even")))))
    val even = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e2", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.MatchA(0, ":e1", 2), Plan.NameExpr(Seq(2, 1), "odd")))))
    check(Plan.NameExpr(Seq(0, 1), "odd"),
      genBatches(7433, Seq(":e1"), 4, es = 4, vs = 4),
      Map("odd" -> odd, "even" -> even))
  }

  test("label propagation recursion (non-TC shape), batch-exact incl. retractions") {
    // reach(x, l) := seed(x, l) ∪ edge(y, x) ⋈ reach(y, l) — the step
    // joins on a DIFFERENT var position than transitive closure, so the
    // TC recognizer passes and the general clique node maintains it.
    val reach = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":ua", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.MatchA(2, ":e1", 0), Plan.NameExpr(Seq(2, 1), "reach")))))
    check(Plan.NameExpr(Seq(0, 1), "reach"),
      genBatches(6073, Seq(":ua", ":e1"), 5, es = 4, vs = 4),
      Map("reach" -> reach))
  }

  test("non-linear recursion (two recursive references), batch-exact") {
    // r2(x, z) := edge(x, z) ∪ r2(x, y) ⋈ r2(y, z) — the doubling form
    // of closure; the batch side solves it by naive recompute, the
    // maintained side by delta rules over both occurrences.
    val r2 = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e1", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.NameExpr(Seq(0, 2), "r2"), Plan.NameExpr(Seq(2, 1), "r2")))))
    check(Plan.NameExpr(Seq(0, 1), "r2"),
      genBatches(8423, Seq(":e1"), 4, es = 5, vs = 5),
      Map("r2" -> r2))
  }

  test("general join node (non-pattern operands), batch-exact") {
    // One side is a UNION — outside the MatchA×MatchA Hector fast path,
    // exercising the general two-sided JoinNode (the path inlined
    // derived views take).
    val plan = Plan.Join(Seq(1),
      Plan.Union(Seq(1), Seq(
        Plan.Project(Seq(1), Plan.MatchA(0, ":ua", 1)),
        Plan.Project(Seq(1), Plan.MatchA(0, ":ub", 1)))),
      Plan.MatchA(1, ":uc", 2))
    check(plan, genBatches(3011, Seq(":ua", ":ub", ":uc"), 5))
  }

  test("pull family maintained, batch-exact incl. retractions") {
    // PullAll: linear (per-attr scans + variant decoration) — a zone.
    check(Plan.PullAll(Seq.empty, Seq(":ua", ":ub")),
      genBatches(2111, Seq(":ua", ":ub"), 4))
    // PullLevel with pull attributes: the bilinear node — child rows ×
    // attribute values per touched entity, db__id branch exercised by
    // path attributes with cardinalityMany=false.
    val plain = Plan.PullLevel(Seq.empty,
      Plan.Project(Seq(2), Plan.MatchA(1, ":ua", 2)),
      pullVariable = 2, pullAttributes = Seq(":ub", ":uc"),
      pathAttributes = Seq.empty, cardinalityMany = false)
    check(plain, genBatches(2221, Seq(":ua", ":ub", ":uc"), 5))
    val withPath = Plan.PullLevel(Seq.empty,
      Plan.MatchA(1, ":ua", 2),
      pullVariable = 2, pullAttributes = Seq(":ub"),
      pathAttributes = Seq(":ua"), cardinalityMany = false)
    check(withPath, genBatches(2333, Seq(":ua", ":ub"), 5))
    // Multi-path Pull: heterogeneous arity packed into array<variant>.
    val root = Plan.PullLevel(Seq.empty,
      Plan.Project(Seq(1), Plan.MatchA(1, ":ua", 2)),
      pullVariable = 1, pullAttributes = Seq(":ub"),
      pathAttributes = Seq.empty, cardinalityMany = false)
    val nested = Plan.PullLevel(Seq.empty,
      Plan.MatchA(1, ":ua", 2),
      pullVariable = 2, pullAttributes = Seq(":uc"),
      pathAttributes = Seq(":ua"), cardinalityMany = true)
    check(Plan.Pull(Seq.empty, Seq(root, nested)),
      genBatches(2447, Seq(":ua", ":ub", ":uc"), 4))
  }

  test("TC closure node on the distributed backend (broadcast threshold -1) stays batch-exact") {
    // A threshold of −1 admits no broadcast, so the ClosureNode runs on
    // DistributedClosure (no broadcast, no driver edge set) from its
    // first advance; it must emit the batch compiler's diffs.
    val closure = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e1", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.MatchA(0, ":e1", 2), Plan.NameExpr(Seq(2, 1), "closure")))))
    val iq = TestSpark.withConf(TestSpark.BroadcastThreshold, "-1") {
      check(Plan.NameExpr(Seq(0, 1), "closure"),
        genBatches(3671, Seq(":e1"), 4, es = 5, vs = 5),
        Map("closure" -> closure))
    }
    assert(iq.closureStoreProbe == Seq("DistributedClosure"),
      s"stores built: ${iq.closureStoreProbe}")
  }

  test("linear kernel: per-advance Catalyst planning independent of fixpoint depth") {
    import spark.implicits._
    // Labelprop shape over a CHAIN graph: extending the chain by m edges
    // takes ~m delta rounds. With the linear RDD kernel, deep rounds are
    // pure RDD jobs — the Catalyst plan count per advance stays O(1)
    // (the first-round input variants plus one static rebuild), instead
    // of one plan per round.
    val reach = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":ua", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.MatchA(2, ":e1", 0), Plan.NameExpr(Seq(2, 1), "reach")))))
    val iq = new IncrementalQuery(spark, Plan.NameExpr(Seq(0, 1), "reach"),
      kinds, Map("reach" -> reach), partitions = 4)
    def df(rows: Seq[(Long, Long, Long)]): DataFrame =
      rows.toDF("e", "v", "diff")
    // Bulk load: one seeded label, chain 0→1→…→10 (bulk path: the batch
    // fixpoint, no delta rounds).
    iq.advance(Map(
      ":ua" -> df(Seq((0L, 7L, 1L))),
      ":e1" -> df((0L until 10L).map(i => (i, i + 1, 1L)))))
    // Extend the chain by 15 edges: ~15 propagation rounds.
    val p0 = iq.recursionPlanCount.get
    val d1rows = multiset(
      iq.advance(Map(":e1" -> df((10L until 25L).map(i => (i, i + 1, 1L))))))
    val plans1 = iq.recursionPlanCount.get - p0
    assert(d1rows == (11L to 25L).map(n => Seq[Any](n, 7L) -> 1L).toMap,
      s"kernel rounds must emit exactly the newly reached labels: $d1rows")
    // Extend by 30 MORE edges: twice the rounds, same plan count.
    val p1 = iq.recursionPlanCount.get
    val d2rows = multiset(
      iq.advance(Map(":e1" -> df((25L until 55L).map(i => (i, i + 1, 1L))))))
    val plans2 = iq.recursionPlanCount.get - p1
    assert(d2rows == (26L to 55L).map(n => Seq[Any](n, 7L) -> 1L).toMap)
    assert(plans1 <= 4L, s"expected O(1) plans per advance, got $plans1")
    assert(plans2 <= plans1,
      s"plan count grew with fixpoint depth: $plans1 -> $plans2")
  }

  test("partitioned-arrangement kernel (static past the broadcast gate) stays batch-exact") {
    // A 1-byte broadcast threshold fails the kernel's size gate on every
    // static rebuild, and a −1 threshold (broadcasts disabled) admits no
    // static side at all; both route deep delta rounds onto the
    // partitioned arrangement (co-partitioned static index + delta
    // re-keying) — the results must be identical, retractions included.
    val reach = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":ua", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.MatchA(2, ":e1", 0), Plan.NameExpr(Seq(2, 1), "reach")))))
    for (gate <- Seq("1", "-1"))
      TestSpark.withConf(TestSpark.BroadcastThreshold, gate) {
        check(Plan.NameExpr(Seq(0, 1), "reach"),
          genBatches(6073, Seq(":ua", ":e1"), 5, es = 4, vs = 4),
          Map("reach" -> reach))
      }
  }

  test("partitioned arrangement: O(1) Catalyst plans per advance past the gate") {
    import spark.implicits._
    // Same chain workload as the kernel planning test, but with the
    // broadcast gate forced shut: deep rounds must run on the
    // arrangement (zero per-round Catalyst planning), with only the
    // first-round variants plus ONE arrangement build per changed
    // static generation paying a plan.
    val reach = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":ua", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.MatchA(2, ":e1", 0), Plan.NameExpr(Seq(2, 1), "reach")))))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val iq = new IncrementalQuery(spark, Plan.NameExpr(Seq(0, 1), "reach"),
        kinds, Map("reach" -> reach), partitions = 4)
      def df(rows: Seq[(Long, Long, Long)]): DataFrame =
        rows.toDF("e", "v", "diff")
      iq.advance(Map(
        ":ua" -> df(Seq((0L, 7L, 1L))),
        ":e1" -> df((0L until 10L).map(i => (i, i + 1, 1L)))))
      val p0 = iq.recursionPlanCount.get
      val d1rows = multiset(
        iq.advance(Map(":e1" -> df((10L until 25L).map(i => (i, i + 1, 1L))))))
      val plans1 = iq.recursionPlanCount.get - p0
      assert(d1rows == (11L to 25L).map(n => Seq[Any](n, 7L) -> 1L).toMap,
        s"arrangement rounds must emit exactly the newly reached labels: $d1rows")
      val p1 = iq.recursionPlanCount.get
      val d2rows = multiset(
        iq.advance(Map(":e1" -> df((25L until 55L).map(i => (i, i + 1, 1L))))))
      val plans2 = iq.recursionPlanCount.get - p1
      assert(d2rows == (26L to 55L).map(n => Seq[Any](n, 7L) -> 1L).toMap)
      assert(plans1 <= 5L, s"expected O(1) plans per advance, got $plans1")
      assert(plans2 <= plans1,
        s"plan count grew with fixpoint depth: $plans1 -> $plans2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("non-monotone recursion still fails loudly") {
    val a = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e1", 1),
      Plan.Negate(Plan.NameExpr(Seq(0, 1), "a"))))
    val e = intercept[RuntimeException] {
      new IncrementalQuery(spark, Plan.NameExpr(Seq(0, 1), "a"),
        kinds, Map("a" -> a))
    }
    assert(e.getMessage.contains("monotone"))
  }

  test("multi-function aggregate (output_offsets re-insertion), batch-exact") {
    import AggregationFn._
    // Five functions over the same variable — outVars carries five
    // occurrences of var 2, each consumed by one fn in order (the batch
    // compiler's output_offsets rule). Unrestricted Z-set histories:
    // MIN/MAX/MEDIAN stay defined at net-zero weight, COUNT/SUM null out.
    val stats = Plan.Aggregate(Seq(1, 2, 2, 2, 2, 2), Plan.MatchA(1, ":m", 2),
      Seq(MIN, MAX, MEDIAN, COUNT, SUM), Seq(1), Seq(2, 2, 2, 2, 2), Seq.empty)
    check(stats, genBatches(8887, Seq(":m"), 3))
    // Both rational functions together (valid histories: undefined at
    // net count 0, where both compilers throw).
    val rats = Plan.Aggregate(Seq(1, 2, 2), Plan.MatchA(1, ":m", 2),
      Seq(AVG, VARIANCE), Seq(1), Seq(2, 2), Seq.empty)
    check(rats, genValidBatches(9973, Seq(":m"), 3))
    // Global multi-fn aggregation (no keys).
    val global = Plan.Aggregate(Seq(2, 2), Plan.MatchA(1, ":m", 2),
      Seq(COUNT, MAX), Seq.empty, Seq(2, 2), Seq.empty)
    check(global, genBatches(6571, Seq(":m"), 3))
  }

  test("median with :with variables over a conjunction, batch-exact") {
    // Datomic :with — the with-variable rides in the value tuple so the
    // order statistic runs over distinct (value, with) pairs
    // (src/plan/aggregate_neu.rs:130-143); here the provenance entity
    // rides along under a MEDIAN keyed by the second attribute's value.
    val hector = Plan.Hector(Seq(10, 11, 12), Seq(
      Binding.Attr(10, ":e1", 11), Binding.Attr(10, ":e2", 12)))
    val plan = Plan.Aggregate(Seq(12, 11), hector,
      Seq(AggregationFn.MEDIAN), Seq(12), Seq(11), Seq(10))
    check(plan, genBatches(4241, Seq(":e1", ":e2"), 3, es = 3, vs = 3))
  }

  test("aggregate over a hector conjunction (composed stateful nodes)") {
    import AggregationFn._
    val hector = Plan.Hector(Seq(10, 11, 12), Seq(
      Binding.Attr(10, ":e1", 11), Binding.Attr(11, ":e2", 12)))
    val countPlan = Plan.Aggregate(Seq(10, 12), hector,
      Seq(AggregationFn.COUNT), Seq(10), Seq(12), Seq.empty)
    check(countPlan, genBatches(505 + AggregationFn.COUNT.hashCode,
      Seq(":e1", ":e2"), 3, es = 3, vs = 3))
    // AVG gets valid histories: nonneg datom weights make hector product
    // weights nonneg, so the undefined net-count-0 average can't arise.
    val avgPlan = Plan.Aggregate(Seq(10, 12), hector,
      Seq(AggregationFn.AVG), Seq(10), Seq(12), Seq.empty)
    check(avgPlan, genValidBatches(505 + AggregationFn.AVG.hashCode,
      Seq(":e1", ":e2"), 3, es = 3, vs = 3))
  }

  test("threshold per-batch shuffle is O(delta) as union state grows 100x") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import spark.implicits._
    val plan = Plan.Union(Seq(1), Seq(
      Plan.MatchA(1, ":ua", 2), Plan.MatchA(1, ":ub", 2)))
    val iq = new IncrementalQuery(spark, plan, kinds)
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    def settled(): Long = {
      val deadline = System.nanoTime + 10_000_000_000L
      var prev = -1L
      var cur = records.get
      while (prev != cur && System.nanoTime < deadline) {
        prev = cur; Thread.sleep(200); cur = records.get
      }
      cur
    }
    def deltas(from: Long, n: Long) = Map(
      ":ua" -> (from until from + n).map(i => (i, i, 1L)).toDF("e", "v", "diff"))
    def measured(from: Long): Long = {
      spark.sparkContext.addSparkListener(listener)
      try {
        records.set(0)
        assert(iq.advance(deltas(from, 10)).count() > 0)
        settled()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    iq.advance(deltas(0, 100)).count()
    val small = measured(1_000_000)
    iq.advance(deltas(1_000, 10_000)).count()
    val big = measured(2_000_000)
    // Identical 10-row deltas against 110-row and ~10k-row threshold
    // state: the shuffle carries the delta (and its consolidated output
    // diffs) only — the support-count state is merged narrowly.
    assert(big <= small + 500,
      s"10-row batch shuffled $small records on small state but $big on 100x state")
    assert(big < 2000, s"10-row batch shuffled $big records against ~10k-row state")
  }

  test("indexed state: per-batch narrow reads stay flat as state grows 10x") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions.{col, lit}
    // The StateCell contract: per-batch records READ (cached-block input
    // + shuffle) track the DELTA, not accumulated state — the previous
    // discipline re-read and re-wrote O(state/p) per advance. Covers the
    // aggregate class and the conjunction class (general JoinNode).
    val aggPlan = Plan.Aggregate(Seq(1, 2), Plan.MatchA(1, ":ua", 2),
      Seq(AggregationFn.COUNT), Seq(1), Seq(2), Seq.empty)
    val joinPlan = Plan.Join(Seq(1),
      Plan.Union(Seq(1, 2), Seq(Plan.MatchA(1, ":ua", 2))),
      Plan.MatchA(1, ":ub", 3))
    for ((label, plan) <- Seq("aggregate" -> aggPlan, "join" -> joinPlan)) {
      val iq = new IncrementalQuery(spark, plan, kinds)
      val reads = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) reads.addAndGet(m.inputMetrics.recordsRead +
            m.shuffleReadMetrics.recordsRead)
        }
      }
      def batch(from: Long, n: Long): Map[String, DataFrame] = {
        def side(mod: Int) = spark.range(from, from + n)
          .select(col("id").as("e"), (col("id") % mod).as("v"),
            lit(1L).as("diff"))
        Map(":ua" -> side(97), ":ub" -> side(89))
      }
      def settled(): Long = {
        val deadline = System.nanoTime + 10_000_000_000L
        var prev = -1L
        var cur = reads.get
        while (prev != cur && System.nanoTime < deadline) {
          prev = cur; Thread.sleep(200); cur = reads.get
        }
        cur
      }
      def measured(from: Long): Long = {
        spark.sparkContext.addSparkListener(listener)
        try {
          reads.set(0)
          iq.advance(batch(from, 10)).count()
          settled()
        } finally spark.sparkContext.removeSparkListener(listener)
      }
      iq.advance(batch(0, 100_000)).count()
      val small = measured(5_000_000)
      iq.advance(batch(200_000, 900_000)).count() // state 100k → ~1M rows
      val big = measured(6_000_000)
      assert(big <= small * 2 + 1000,
        s"$label: 10-row batch read $small records against 100k-row " +
          s"state but $big against 1M-row state — state is being re-read")
    }
  }

  test("foreachBatch attachment delivers per-time consolidated diffs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val plan = Plan.Union(Seq(1), Seq(
      Plan.MatchA(1, ":ua", 2), Plan.MatchA(1, ":ub", 2), Plan.MatchA(1, ":uc", 2)))
    val iq = new IncrementalQuery(spark, plan, kinds)
    val in = MemoryStream[(String, Long, Long, Long, Long)]
    val got = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val query = iq.attach(in.toDF.toDF("a", "e", "v", "t", "diff"), "inc-query-spec") {
      (t, df) =>
        got ++= df.collect().map(r => (t, r.getLong(0), r.getLong(1)))
    }
    // The micro-batch runs under the query's run-id job group: count
    // exactly its jobs and flush the listener bus instead of sleeping.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (e.properties != null && query.runId.toString ==
            e.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
        ()
      }
    }
    try {
      // Two completed times in one micro-batch; :uc is absent from both
      // and time 0 carries only :ua. Attributes absent at a time cost no
      // job: the (t, a) pairs present come from the one grouping job.
      spark.sparkContext.addSparkListener(listener)
      try {
        in.addData((":ua", 7L, 1L, 1L, 1L), (":ub", 7L, 2L, 1L, 1L),
          (":ua", 8L, 1L, 0L, 1L))
        query.processAllAvailable()
        org.apache.spark.GraftBus.flush(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      // Entity 7 asserts once despite two supports.
      assert(got.toSet == Set((0L, 8L, 1L), (1L, 7L, 1L)))
      info(s"one attach micro-batch over two times: ${jobs.get} jobs")
      // Measured: 19 jobs. An emptiness probe per referenced attribute
      // per time would add 6 here (3 attributes x 2 times).
      assert(jobs.get <= 19, s"one attach micro-batch ran ${jobs.get} jobs")
      got.clear()
      // Retract one support: still present via :ub — no diff; then the
      // other: the entity vanishes with a single -1.
      in.addData((":ua", 7L, 1L, 2L, -1L))
      query.processAllAvailable()
      assert(got.isEmpty)
      in.addData((":ub", 7L, 2L, 3L, -1L))
      query.processAllAvailable()
      assert(got.toSet == Set((3L, 7L, -1L)))
    } finally query.stop()
  }

  test("LastWriteWins attributes ride attach(): per-frame synthesized transaction order (r10 #8)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val iq = new IncrementalQuery(spark, Plan.MatchA(1, ":lw", 2),
      Map(":lw" -> graft.model.ValueKind.KNumber),
      lwwAttrs = Set(":lw"))
    val in = MemoryStream[(String, Long, Long, Long, Long)]
    val got = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val query = iq.attach(in.toDF.toDF("a", "e", "v", "t", "diff"),
      "inc-query-lww-attach") { (t, df) =>
      got ++= df.collect().map(r => (t, r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    try {
      // Two writes to one entity in ONE frame at one time: the LATER
      // frame position wins (frame order IS transaction order — the
      // synthesized seq).
      in.addData((":lw", 7L, 10L, 1L, 1L), (":lw", 7L, 20L, 1L, 1L))
      query.processAllAvailable()
      assert(got.toSet == Set((1L, 7L, 20L, 1L)), s"got $got")
      got.clear()
      // A later-time write across frames regresses the old winner and
      // asserts the new one.
      in.addData((":lw", 7L, 30L, 2L, 1L))
      query.processAllAvailable()
      assert(got.toSet == Set((2L, 7L, 20L, -1L), (2L, 7L, 30L, 1L)),
        s"got $got")
      got.clear()
      // Retracting the latest write empties the entity's view.
      in.addData((":lw", 7L, 30L, 3L, -1L))
      query.processAllAvailable()
      assert(got.toSet == Set((3L, 7L, 30L, -1L)), s"got $got")
    } finally query.stop()
  }

  test("attach tolerates one time split across micro-batches; earlier times still fail") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val lwKinds = kinds + (":lw" -> KNumber)
    // Plain attributes meet in a join; the LWW attribute is read raw.
    val join = Plan.Join(Seq(1), Plan.MatchA(1, ":ua", 2), Plan.MatchA(1, ":ub", 3))
    val lww = Plan.MatchA(1, ":lw", 2)
    /** Feed `frames` (one addData each, drained in between) and return
      * the per-time summed diffs. */
    def run(plan: Plan, frames: Seq[Seq[(String, Long, Long, Long, Long)]])
        : Map[(Long, Seq[Any]), Long] = {
      val iq = new IncrementalQuery(spark, plan, lwKinds, lwwAttrs = Set(":lw"))
      val in = MemoryStream[(String, Long, Long, Long, Long)]
      val got = mutable.Map.empty[(Long, Seq[Any]), Long].withDefaultValue(0L)
      val query = iq.attach(in.toDF.toDF("a", "e", "v", "t", "diff"),
        s"inc-query-split-${frames.length}") { (t, df) =>
        df.collect().foreach { r =>
          got((t, r.toSeq.init)) += r.getLong(r.length - 1)
        }
      }
      try frames.foreach { f => in.addData(f: _*); query.processAllAvailable() }
      finally query.stop()
      got.filter(_._2 != 0L).toMap
    }
    val joinTxs = Seq(
      Seq((":ua", 7L, 1L, 1L, 1L), (":ub", 7L, 2L, 1L, 1L)),
      Seq((":ua", 7L, 1L, 2L, -1L), (":ua", 7L, 5L, 2L, 1L)))
    val lwwTxs = Seq(
      Seq((":lw", 7L, 10L, 1L, 1L), (":lw", 7L, 20L, 1L, 1L)),
      Seq((":lw", 7L, 30L, 2L, 1L), (":lw", 8L, 40L, 2L, 1L)))
    for ((plan, txs) <- Seq(join -> joinTxs, lww -> lwwTxs)) {
      val whole = run(plan, txs)
      // Each time's datoms delivered in two addData calls.
      val split = run(plan, txs.flatMap(tx => Seq(tx.take(1), tx.drop(1))))
      assert(whole.nonEmpty)
      assert(split == whole, s"$plan: split $split vs one-batch $whole")
    }
    assert(run(lww, lwwTxs) == Map(
      (1L, Seq[Any](7L, 20L)) -> 1L, (2L, Seq[Any](7L, 20L)) -> -1L,
      (2L, Seq[Any](7L, 30L)) -> 1L, (2L, Seq[Any](8L, 40L)) -> 1L))
    // A strictly earlier time still fails loudly.
    val ex = intercept[Exception](run(join, joinTxs :+ Seq((":ua", 9L, 1L, 1L, 1L))))
    val msg = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString(" | ")
    assert(msg.contains("processed frontier"), msg)
  }

  test("ill-formed Z-set history (support present, net count 0) fails loudly for AVG/VARIANCE") {
    import graft.model.AggregationFn
    def spec(fn: AggregationFn) = IncrementalQuery.AggSpec(
      Seq(fn), Seq(Right(0)), Seq.empty, Seq(Right(0)), Seq(true))
    def run(fn: AggregationFn, rows: Seq[(Long, Long)]) =
      IncrementalQuery.aggRowOf(spec(fn), Seq.empty,
        rows.map { case (v, w) => (Seq[Any](v), w) })
    // Support exists (a +1 row) but the net count cancels to 0 — the
    // average is division-by-zero-undefined, so the rational denominator
    // guard must throw rather than emit a denominator-0 value.
    val illFormed = Seq((5L, 1L), (9L, -1L))
    for (fn <- Seq(AggregationFn.AVG, AggregationFn.VARIANCE)) {
      val e = intercept[IllegalArgumentException] { run(fn, illFormed) }
      assert(e.getMessage.contains("ill-formed Z-set history"))
    }
    // Well-formed histories still work through the same entry point, and
    // COUNT vanishes (not throws) at net count 0.
    assert(run(AggregationFn.COUNT, illFormed).isEmpty)
    assert(run(AggregationFn.AVG, Seq((5L, 1L), (9L, 1L))).isDefined)
  }

  test("KReal support threshold: packed runs == boxed path; NaN is SQL-correct") {
    // Round 16: KReal columns join the PackedRuns fast path through the
    // Hector cells' order-preserving encReal encoding. Both support-cell
    // backends are driven through the same histories against literal
    // expectations: the packed cell over an all-real row, and the boxed
    // cell — selected by kind — over the same reals joined to a STRING
    // column (a (KEid, KString, KReal) row is not packable). The NaN
    // behavior the encoding FIXES is pinned explicitly: a boxed Seq key's
    // primitive == would make a NaN key unfindable (support never
    // accumulates), while the encoded key treats NaN = NaN like SQL.
    import spark.implicits._
    val packedPlan = Plan.Union(Seq(1, 2), Seq(Plan.MatchA(1, ":rr", 2)))
    val boxedPlan = Plan.Union(Seq(1, 2, 3), Seq(Plan.Project(Seq(1, 2, 3),
      Plan.Join(Seq(1), Plan.MatchA(1, ":rr", 2), Plan.MatchA(1, ":rs", 3)))))
    val kindsR = Map(":rr" -> KReal, ":rs" -> KString)
    def drive(boxed: Boolean,
        batches: Seq[Seq[(Long, Double, Long)]]): Seq[String] = {
      val iq = new IncrementalQuery(spark,
        if (boxed) boxedPlan else packedPlan, kindsR)
      batches.zipWithIndex.map { case (b, i) =>
        val deltas = Map(":rr" -> b.toDF("e", "v", "diff")) ++
          (if (boxed && i == 0)
            Map(":rs" -> (1L to 9L).map(e => (e, "s", 1L)).toDF("e", "v", "diff"))
          else Map.empty)
        // The boxed row's string column is the constant "s": drop it so
        // both backends render the same (e, v) rows.
        multiset(iq.advance(deltas))
          .toSeq.map { case (k, w) =>
            s"${(if (boxed) Seq(k(0), k(1)) else k).mkString(",")}:$w" }
          .sorted.mkString(";")
      }
    }
    // Ordinary reals (incl. a beyond-2^53 double).
    val plain = Seq(
      Seq((1L, 1.5, 1L), (3L, 9.007199254740994e15, 1L), (1L, 1.5, 1L)),
      Seq((1L, 1.5, -1L), (2L, 0.25, 1L)),
      Seq((1L, 1.5, -1L), (2L, 0.25, -1L)))
    val plainWant = Seq("1,1.5:1;3,9.007199254740994E15:1", "2,0.25:1",
      "1,1.5:-1;2,0.25:-1")
    // NaN: support accumulates across batches (one +1 at first support,
    // nothing while supported, one -1 at zero) — and SAME-BATCH
    // duplicate NaN rows (which the upstream boxed reduceByKey cannot
    // merge) net to exactly ONE transition, not one per duplicate (the
    // round-16 review's confirmed +2 repro).
    val nan = Seq(
      Seq((7L, Double.NaN, 1L), (7L, Double.NaN, 1L)),
      Seq((7L, Double.NaN, 1L)),
      Seq((7L, Double.NaN, -3L)))
    // Emitted-sample canonicalization (round-16 advisory): asserting 0.0
    // in one batch and retracting -0.0 in a later one must emit a
    // CANCELABLE pair — both transitions keyed by the canonical 0.0
    // boxed sample.
    val signedZero = Seq(
      Seq((9L, 0.0, 1L)),
      Seq((9L, -0.0, -1L)))
    for (boxed <- Seq(false, true)) {
      val p = drive(boxed, plain)
      assert(p == plainWant, s"plain reals (boxed=$boxed): $p")
      val n = drive(boxed, nan)
      assert(n == Seq("7,NaN:1", "", "7,NaN:-1"),
        s"NaN support must net per batch and accumulate like SQL (boxed=$boxed): $n")
      val z = drive(boxed, signedZero)
      assert(z == Seq("9,0.0:1", "9,0.0:-1"),
        s"signed-zero transitions must emit canonical samples (boxed=$boxed): $z")
    }
  }

  test("KReal threshold packing cuts measured resident bytes vs boxed") {
    // The packing's stated win is FOOTPRINT (wall-clock at the smoke was
    // flat): pin it with the measured-bytes probe on a 20k-row
    // real-valued distinct threshold, as an absolute per-entry bound 3x
    // under the boxed support cell's figure for the same rows. That
    // figure was measured with the boxed cell forced onto this plan
    // (SizeEstimator, 64-bit JVM 17 with compressed oops): 2,430,376 B,
    // 121.5 B/entry. The packed cell measured 24 B/entry there.
    val boxedBytesPerEntry = 2430376.0 / 20000
    import spark.implicits._
    val plan = Plan.Union(Seq(1, 2), Seq(Plan.MatchA(1, ":rr", 2)))
    val kindsR = Map(":rr" -> KReal)
    val rows = (0 until 20000).map(i => (i.toLong, i * 0.5, 1L))
    val iq = new IncrementalQuery(spark, plan, kindsR)
    iq.advance(Map(":rr" -> rows.toDF("e", "v", "diff"))).count()
    val packed = iq.supportStateMeasuredBytes
    val perEntry = packed.toDouble / rows.length
    assert(packed > 0, "probe must measure")
    assert(perEntry * 3 < boxedBytesPerEntry,
      f"packed real threshold must stay 3x under the boxed $boxedBytesPerEntry%.1f B/entry: " +
        f"$perEntry%.1f B/entry ($packed B)")
  }
}
