package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.model.Plan._
import graft.model.ValueKind._
import graft.streaming.IncrementalQuery

/** A registered rule streams as ONE live query: [[IncrementalQuery.attach]]
  * drains a datom stream and emits exact `(tuple, t, diff)` rows — no
  * driver snapshot diffing. Cases mirror the reference's end-to-end join
  * expectations (`tests/query_test.rs:263-287`) plus incremental
  * retraction rounds, over joins, aggregates, hector conjunctions,
  * unions and pulls. */
class StreamCompilerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private type Datom4[V] = (Long, V, Long, Long) // (e, v, t, diff)

  private val queries = new AtomicInteger(0)

  /** Attach `plan` to the union of the per-attribute `sources` streams
    * and run `feed`, one step at a time: each step's delivered diffs,
    * consolidated per (tuple, time). */
  private def collectBatches(
      plan: Plan, kinds: Map[String, ValueKind],
      sources: Map[String, DataFrame],
      feed: Seq[() => Unit]): Seq[Set[(Seq[Any], Long, Long)]] = {
    val iq = new IncrementalQuery(spark, plan, kinds)
    val delivered = new ConcurrentLinkedQueue[(Seq[Any], Long, Long)]()
    val query = iq.attach(DatomStream.of(sources),
      s"stream-rule-spec-${queries.incrementAndGet()}") { (t, df) =>
      df.collect().foreach { r =>
        delivered.add((r.toSeq.init, t, r.getLong(r.length - 1)))
      }
    }
    try feed.map { step =>
      step()
      query.processAllAvailable()
      // The running trigger can split one step's sources across several
      // micro-batches at ONE logical time; the per-time sum is exact, so
      // the comparison happens on the consolidated multiset a reference
      // client sees after frontier consolidation.
      val stepDiffs = Iterator.continually(delivered.poll())
        .takeWhile(_ != null).toSeq
      stepDiffs
        .groupBy { case (tuple, t, _) => (tuple, t) }
        .map { case ((tuple, t), ds) => (tuple, t, ds.map(_._3).sum) }
        .filter(_._3 != 0L)
        .toSet
    } finally query.stop()
  }

  test("reference join case streams end-to-end with exact diffs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val names = MemoryStream[Datom4[String]]
    val ages = MemoryStream[Datom4[Long]]
    val sources: Map[String, DataFrame] = Map(
      ":name" -> names.toDF.toDF("e", "v", "t", "diff"),
      ":age" -> ages.toDF.toDF("e", "v", "t", "diff"))
    val kinds: Map[String, ValueKind] = Map(":name" -> KString, ":age" -> KNumber)

    // [:find ?e ?n ?a :where [?e :age ?a] [?e :name ?n]] —
    // tests/query_test.rs:263-287.
    val (e, n, a) = (1, 3, 2)
    val plan = Project(Seq(e, n, a),
      Join(Seq(e), matchA(e, ":name", n), matchA(e, ":age", a)))

    val got = collectBatches(plan, kinds, sources, Seq(
      // batch 1: the reference case — one joined row appears
      () => {
        names.addData((1L, "Dipper", 0L, 1L))
        ages.addData((1L, 12L, 0L, 1L))
      },
      // batch 2: second entity joins across batches (state, not snapshot)
      () => {
        names.addData((2L, "Mabel", 1L, 1L))
        ages.addData((2L, 13L, 1L, 1L))
      },
      // batch 3: retracting one side retracts the joined row
      () => names.addData((1L, "Dipper", 2L, -1L))))

    assert(got(0) == Set((Seq(1L, "Dipper", 12L), 0L, 1L)))
    assert(got(1) == Set((Seq(2L, "Mabel", 13L), 1L, 1L)))
    assert(got(2) == Set((Seq(1L, "Dipper", 12L), 2L, -1L)))
  }

  test("join chained into grouped aggregate streams as one query") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val names = MemoryStream[Datom4[String]]
    val ages = MemoryStream[Datom4[Long]]
    val sources: Map[String, DataFrame] = Map(
      ":name" -> names.toDF.toDF("e", "v", "t", "diff"),
      ":age" -> ages.toDF.toDF("e", "v", "t", "diff"))
    val kinds: Map[String, ValueKind] = Map(":name" -> KString, ":age" -> KNumber)

    // count entities and sum ages per name:
    // [:find ?n (count ?e) (sum ?a) :where [?e :name ?n] [?e :age ?a]]
    val (e, n, a) = (0, 1, 2)
    val plan = Aggregate(Seq(n, e, a),
      Join(Seq(e), matchA(e, ":name", n), matchA(e, ":age", a)),
      Seq(AggregationFn.COUNT, AggregationFn.SUM), Seq(n), Seq(e, a), Seq.empty)

    val got = collectBatches(plan, kinds, sources, Seq(
      () => {
        names.addData((1L, "Ivan", 0L, 1L), (3L, "Ivan", 0L, 1L))
        ages.addData((1L, 15L, 0L, 1L), (3L, 37L, 0L, 1L))
      },
      // a second Ivan age retracts the old aggregate and asserts the new
      () => ages.addData((1L, 15L, 1L, -1L))))

    assert(got(0) == Set((Seq("Ivan", 2L, 52L), 0L, 1L)))
    assert(got(1) == Set(
      (Seq("Ivan", 2L, 52L), 1L, -1L),
      (Seq("Ivan", 1L, 37L), 1L, 1L)))
  }

  test("rational AVG/VARIANCE and :with MEDIAN stream with batch parity") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val xs = MemoryStream[Datom4[Long]]
    val ys = MemoryStream[Datom4[Long]]
    val sources: Map[String, DataFrame] = Map(
      ":s/x" -> xs.toDF.toDF("e", "v", "t", "diff"),
      ":s/y" -> ys.toDF.toDF("e", "v", "t", "diff"))
    val kinds: Map[String, ValueKind] = Map(":s/x" -> KNumber, ":s/y" -> KNumber)

    // [:find ?e (avg ?v) (variance ?v) :where [?e :s/x ?v]] — exact
    // gcd-reduced rationals (aggregate_neu.rs:206-239).
    val avgVar = Aggregate(Seq(0, 1, 1), MatchA(0, ":s/x", 1),
      Seq(AggregationFn.AVG, AggregationFn.VARIANCE), Seq(0), Seq(1, 1), Seq.empty)
    val got = collectBatches(avgVar, kinds, sources, Seq(
      () => xs.addData((1L, 10L, 0L, 1L), (1L, 20L, 0L, 1L)),
      () => xs.addData((1L, 40L, 1L, 1L))))
    import org.apache.spark.sql.Row
    assert(got(0) == Set((Seq(1L, Row(15L, 1L), Row(25L, 1L)), 0L, 1L)))
    assert(got(1) == Set(
      (Seq(1L, Row(15L, 1L), Row(25L, 1L)), 1L, -1L),
      (Seq(1L, Row(70L, 3L), Row(1400L, 9L)), 1L, 1L)))

    // [:find (median ?v) :with ?w ...] — the :with variable rides along so
    // the order statistic runs over distinct (value, with) tuples: values
    // {5 via w10, 5 via w20, 9 via w30} have median 5, not 9.
    val medianWith = Aggregate(Seq(1),
      Join(Seq(0), MatchA(0, ":s/x", 1), MatchA(0, ":s/y", 2)),
      Seq(AggregationFn.MEDIAN), Seq.empty, Seq(1), Seq(2))
    val gotMedian = collectBatches(medianWith, kinds, sources, Seq(
      () => {
        xs.addData((10L, 5L, 2L, 1L), (11L, 5L, 2L, 1L), (12L, 9L, 2L, 1L))
        ys.addData((10L, 100L, 2L, 1L), (11L, 200L, 2L, 1L), (12L, 300L, 2L, 1L))
      }))
    assert(gotMedian(0).map { case (t, _, d) => (t, d) } == Set((Seq(5L), 1L)),
      s"got ${gotMedian(0)}")
  }

  test("hector conjunction lowers to a streamed join chain with negation") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val names = MemoryStream[Datom4[String]]
    val ages = MemoryStream[Datom4[Long]]
    val blocked = MemoryStream[Datom4[Long]]
    val sources: Map[String, DataFrame] = Map(
      ":name" -> names.toDF.toDF("e", "v", "t", "diff"),
      ":age" -> ages.toDF.toDF("e", "v", "t", "diff"),
      ":blocked" -> blocked.toDF.toDF("e", "v", "t", "diff"))
    val kinds: Map[String, ValueKind] = Map(":name" -> KString, ":age" -> KNumber, ":blocked" -> KNumber)

    // [?e :name ?n] [?e :age ?a] [?c = 12] [?a > ?c] (not [?e :blocked ?x])
    // — attribute joins, the const-then-predicate idiom, and a negation.
    val (e, n, a, x) = (0, 1, 2, 3)
    val plan = Hector(Seq(e, n, a), Seq(
      Binding.attribute(e, ":name", n),
      Binding.attribute(e, ":age", a),
      Binding.constant(9, Value.num(12)),
      Binding.binaryPredicate(Predicate.GT, a, 9),
      Binding.not(e, ":blocked", x)))

    val got = collectBatches(plan, kinds, sources, Seq(
      () => {
        names.addData((1L, "Ivan", 0L, 1L), (2L, "Petr", 0L, 1L))
        ages.addData((1L, 15L, 0L, 1L), (2L, 37L, 0L, 1L))
        blocked.addData((2L, 1L, 0L, 1L))
      },
      // Unblocking entity 2 asserts its conjunction row.
      () => blocked.addData((2L, 1L, 1L, -1L))))

    assert(got(0) == Set((Seq(1L, "Ivan", 15L), 0L, 1L)))
    assert(got(1) == Set((Seq(2L, "Petr", 37L), 1L, 1L)))
  }

  test("union distincts across branches and batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val xs = MemoryStream[Datom4[Long]]
    val ys = MemoryStream[Datom4[Long]]
    val sources: Map[String, DataFrame] = Map(
      ":x" -> xs.toDF.toDF("e", "v", "t", "diff"),
      ":y" -> ys.toDF.toDF("e", "v", "t", "diff"))
    val kinds: Map[String, ValueKind] = Map(":x" -> KNumber, ":y" -> KNumber)

    val plan = Union(Seq(0), Seq(
      Project(Seq(0), matchA(0, ":x", 1)),
      Project(Seq(0), matchA(0, ":y", 1))))

    val got = collectBatches(plan, kinds, sources, Seq(
      // entity 1 arrives on both branches: ONE distinct assertion
      () => {
        xs.addData((1L, 10L, 0L, 1L))
        ys.addData((1L, 20L, 0L, 1L))
      },
      // dropping one branch's support keeps the tuple alive...
      () => xs.addData((1L, 10L, 1L, -1L)),
      // ...dropping the last support retracts it
      () => ys.addData((1L, 20L, 2L, -1L))))

    assert(got(0) == Set((Seq(1L), 0L, 1L)))
    assert(got(1) == Set.empty)
    assert(got(2) == Set((Seq(1L), 2L, -1L)))
  }

  test("pull level streams path rows with db__id and exact retractions") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val refs = MemoryStream[Datom4[Long]]
    val names = MemoryStream[Datom4[String]]
    val ages = MemoryStream[Datom4[Long]]
    val sources: Map[String, DataFrame] = Map(
      ":parent/child" -> refs.toDF.toDF("e", "v", "t", "diff"),
      ":child/name" -> names.toDF.toDF("e", "v", "t", "diff"),
      ":child/age" -> ages.toDF.toDF("e", "v", "t", "diff"))
    val kinds: Map[String, ValueKind] = Map(":parent/child" -> KEid,
      ":child/name" -> KString, ":child/age" -> KNumber)

    // Pull [:child/age :child/name] along the :parent/child path with
    // cardinality-one semantics (synthetic db__id rows retain the child
    // eid — src/plan/pull.rs:211-230).
    val plan = PullLevel(Seq.empty,
      matchA(0, ":parent/child", 1), pullVariable = 1,
      pullAttributes = Seq(":child/age", ":child/name"),
      pathAttributes = Seq(":parent/child"), cardinalityMany = false)

    def v(x: Value): Any = graft.model.Variant.rowOf(x)
    val got = collectBatches(plan, kinds, sources, Seq(
      // batch 1: parent edge alone yields only the db__id row
      () => refs.addData((100L, 200L, 0L, 1L)),
      // batch 2: child attributes arrive, one path row each
      () => {
        names.addData((200L, "Alice", 1L, 1L))
        ages.addData((200L, 13L, 1L, 1L))
      },
      // batch 3: retracting the age retracts exactly its path row
      () => ages.addData((200L, 13L, 2L, -1L))))

    assert(got(0) == Set(
      (Seq(100L, ":parent/child", "db__id", v(Value.eid(200))), 0L, 1L)))
    assert(got(1) == Set(
      (Seq(100L, ":parent/child", ":child/age", v(Value.num(13))), 1L, 1L),
      (Seq(100L, ":parent/child", ":child/name", v(Value.str("Alice"))), 1L, 1L)))
    assert(got(2) == Set(
      (Seq(100L, ":parent/child", ":child/age", v(Value.num(13))), 2L, -1L)))
  }

  test("multi-path pull streams heterogeneous arities as variant arrays") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val refs = MemoryStream[Datom4[Long]]
    val names = MemoryStream[Datom4[String]]
    val tags = MemoryStream[Datom4[String]]
    val sources: Map[String, DataFrame] = Map(
      ":p/child" -> refs.toDF.toDF("e", "v", "t", "diff"),
      ":c/name" -> names.toDF.toDF("e", "v", "t", "diff"),
      ":p/tag" -> tags.toDF.toDF("e", "v", "t", "diff"))
    val kinds: Map[String, ValueKind] = Map(":p/child" -> KEid, ":c/name" -> KString,
      ":p/tag" -> KString)

    // Two paths of different arity — a 5-wide pulled path and a bare
    // 2-wide attribute — packed per-tuple into one array<variant> column
    // (the batch Pull shape, src/plan/pull.rs:239-284).
    val plan = Pull(Seq.empty, Seq(
      PullLevel(Seq.empty, matchA(0, ":p/child", 1), pullVariable = 1,
        pullAttributes = Seq(":c/name"), pathAttributes = Seq(":p/child"),
        cardinalityMany = true),
      matchA(0, ":p/tag", 1)))

    def v(x: Value) = graft.model.Variant.rowOf(x)
    val got = collectBatches(plan, kinds, sources, Seq(
      () => {
        refs.addData((1L, 2L, 0L, 1L))
        names.addData((2L, "N", 0L, 1L))
        tags.addData((1L, "hot", 0L, 1L))
      }))
    assert(got(0) == Set(
      (Seq(Seq(v(Value.eid(1)), v(Value.VAid(":p/child")), v(Value.eid(2)),
        v(Value.VAid(":c/name")), v(Value.str("N")))), 0L, 1L),
      (Seq(Seq(v(Value.eid(1)), v(Value.str("hot")))), 0L, 1L)))
  }
}
