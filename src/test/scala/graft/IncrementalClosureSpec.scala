package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.model.ValueKind.KEid
import graft.streaming.{IncrementalClosure, IncrementalQuery}

/** The maintained closure must emit, per batch, EXACTLY the tuples of
  * closure(E ∪ Δe) − closure(E) — verified against a driver-side reference
  * closure on random edge batches through the one ingest entry,
  * [[IncrementalClosure.advanceSignedRdd]], and end to end through
  * `IncrementalQuery.attach` on a memory stream (the TC rule's closure
  * node drives this class under the byte gate).
  */
class IncrementalClosureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Driver-side reference closure. */
  private def closure(edges: Set[(Long, Long)]): Set[(Long, Long)] =
    DriverClosure.of(edges)

  /** One signed batch through the ingest entry: (src, dst) → diff. */
  private def signed(inc: IncrementalClosure,
      deltas: Seq[((Long, Long), Long)], t: Long): Map[(Long, Long), Long] =
    inc.advanceSignedRdd(spark.sparkContext.parallelize(deltas, 2)).collect().toMap

  /** A batch of additions (distinct edges, +1 each). */
  private def add(inc: IncrementalClosure, edges: Seq[(Long, Long)],
      t: Long): Map[(Long, Long), Long] =
    signed(inc, edges.distinct.map(_ -> 1L), t)

  // closure(x, y) := e1(x, y) ∪ e1(x, z) ⋈ closure(z, y)
  private val tcRule = Plan.Union(Seq(0, 1), Seq(
    Plan.MatchA(0, ":e1", 1),
    Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
      Plan.MatchA(0, ":e1", 2), Plan.NameExpr(Seq(2, 1), "closure")))))

  /** A TC standing query attached to a `(a, e, v, t, diff)` memory
    * stream of `:e1` edges; `onDiffs` sees (src, dst, t, diff). */
  private def attachTc(queryName: String)(
      onDiffs: Seq[(Long, Long, Long, Long)] => Unit)
      : (MemoryStream[(String, Long, Long, Long, Long)],
        org.apache.spark.sql.streaming.StreamingQuery) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Long, Long, Long, Long)]
    val iq = new IncrementalQuery(spark, Plan.NameExpr(Seq(0, 1), "closure"),
      Map(":e1" -> KEid), Map("closure" -> tcRule), partitions = 2)
    val query = iq.attach(in.toDF.toDF("a", "e", "v", "t", "diff"), queryName) {
      (t, df) => onDiffs(df.collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), t, r.getLong(2))))
    }
    (in, query)
  }

  test("per-batch diffs equal closure(E ∪ Δe) − closure(E) on random batches") {
    val rnd = new scala.util.Random(42)
    val inc = new IncrementalClosure(spark, partitions = 2)
    var accumulated = Set.empty[(Long, Long)]
    for (batch <- 1 to 6) {
      val edges = Seq.fill(8)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2)
      val before = closure(accumulated)
      accumulated ++= edges
      val after = closure(accumulated)
      val got = add(inc, edges, batch.toLong)
      assert(got == (after -- before).map(_ -> 1L).toMap, s"batch $batch edges=$edges")
    }
    assert(inc.size == closure(accumulated).size.toLong)
  }

  test("duplicate and already-known edges emit nothing") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    // Duplicate rows consolidate per edge before anything lands on the
    // driver: (1,2) arrives three times and nets to one addition.
    val d1 = signed(inc, Seq(((1L, 2L), 1L), ((2L, 3L), 1L),
      ((1L, 2L), 1L), ((1L, 2L), -1L)), 1L)
    assert(d1 == Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 1L))
    // Re-adding a known edge is dropped against the known set.
    assert(add(inc, Seq((1L, 2L)), 2L).isEmpty)
  }

  test("advanceSignedRdd rejects consolidated diffs outside ±1") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    val ex = intercept[IllegalArgumentException] {
      signed(inc, Seq(((1L, 2L), 1L), ((1L, 2L), 1L)), 1L)
    }
    assert(ex.getMessage.contains("must be ±1"), ex.getMessage)
    assert(inc.size == 0L && inc.edgeSize == 0L)
  }

  // ---------------------------------------------------------------- DRed

  test("deleting an edge retracts exactly the facts that lose all derivations") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    // a→b→c plus the direct shortcut a→c: deleting a→b kills (a,b) only —
    // (a,c) survives on the shortcut.
    add(inc, Seq((1L, 2L), (2L, 3L), (1L, 3L)), 1L)
    val d = signed(inc, Seq(((1L, 2L), -1L)), 2L)
    assert(d == Map((1L, 2L) -> -1L))
    assert(inc.size == 2L) // (2,3), (1,3)
  }

  test("deletion cascades through facts with no alternative path") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    // path 1→2→3→4: deleting 2→3 retracts (2,3),(2,4),(1,3),(1,4).
    add(inc, Seq((1L, 2L), (2L, 3L), (3L, 4L)), 1L)
    val d = signed(inc, Seq(((2L, 3L), -1L)), 2L)
    assert(d == Map((2L, 3L) -> -1L, (2L, 4L) -> -1L,
      (1L, 3L) -> -1L, (1L, 4L) -> -1L))
    assert(inc.size == 2L) // (1,2), (3,4)
  }

  test("rederivation revives overdeleted facts reachable another way") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    // 1→2 directly and 1→5→2, then 2→3. Deleting 1→2 overdeletes
    // (1,2),(1,3) but both rederive through 5 — nothing is retracted.
    add(inc, Seq((1L, 2L), (1L, 5L), (5L, 2L), (2L, 3L)), 1L)
    val d = signed(inc, Seq(((1L, 2L), -1L)), 2L)
    assert(d.isEmpty, s"expected no net diffs, got $d")
    assert(inc.size == 6L) // (1,5),(5,2),(2,3),(1,2),(5,3),(1,3)
  }

  test("mixed batch consolidates: delete one edge, add a replacement path") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    add(inc, Seq((1L, 2L), (2L, 3L)), 1L)
    // Drop 1→2, add 1→9→2: (1,2),(1,3) net to zero (retracted by DRed,
    // re-derived through 9); only the genuinely new facts appear.
    val d = signed(inc, Seq(((1L, 2L), -1L), ((1L, 9L), 1L), ((9L, 2L), 1L)), 2L)
    assert(d == Map((1L, 9L) -> 1L, (9L, 2L) -> 1L,
      (9L, 3L) -> 1L))
    assert(inc.size == closure(Set((1L, 9L), (9L, 2L), (2L, 3L))).size.toLong)
  }

  test("delete and re-add of the same edge in one batch is a no-op") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    add(inc, Seq((1L, 2L), (2L, 3L)), 1L)
    val d = signed(inc, Seq(((1L, 2L), -1L), ((1L, 2L), 1L)), 2L)
    assert(d.isEmpty)
    assert(inc.size == 3L)
  }

  test("retracting an absent edge fails loudly") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    add(inc, Seq((1L, 2L)), 1L)
    val ex = intercept[IllegalArgumentException] {
      signed(inc, Seq(((7L, 8L), -1L)), 2L)
    }
    assert(ex.getMessage.contains("absent"))
  }

  test("signed per-batch diffs equal closure(E′) − closure(E) on random histories") {
    val rnd = new scala.util.Random(7)
    val inc = new IncrementalClosure(spark, partitions = 2)
    var edges = Set.empty[(Long, Long)]
    for (batch <- 1 to 10) {
      val adds = Seq.fill(6)((rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
        .filter(e => e._1 != e._2).filterNot(edges).distinct
      val dels = rnd.shuffle(edges.toSeq).take(rnd.nextInt(3))
      val before = closure(edges)
      edges = edges ++ adds -- dels
      val after = closure(edges)
      val got = signed(inc,
        dels.map(e => e -> -1L) ++ adds.map(e => e -> 1L), batch.toLong)
      val want = (after -- before).map(_ -> 1L).toMap ++
        (before -- after).map(_ -> -1L).toMap
      assert(got == want, s"batch $batch adds=$adds dels=$dels")
    }
    assert(inc.size == closure(edges).size.toLong)
  }

  test("attach processes retractions end-to-end") {
    val seen = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val (edges, query) = attachTc("inc-closure-signed-spec")(seen ++= _)
    try {
      edges.addData((":e1", 1L, 2L, 1L, 1L), (":e1", 2L, 3L, 1L, 1L))
      query.processAllAvailable()
      edges.addData((":e1", 2L, 3L, 2L, -1L))
      query.processAllAvailable()
      assert(seen.filter(_._3 == 1L).map(x => (x._1, x._2)).toSet ==
        Set((1L, 2L), (2L, 3L), (1L, 3L)))
      assert(seen.filter(_._3 == 2L).toSet ==
        Set((2L, 3L, 2L, -1L), (1L, 3L, 2L, -1L)))
    } finally query.stop()
  }

  test("attach rejects a time that regresses the processed frontier") {
    val (edges, query) = attachTc("inc-closure-frontier-spec")(_ => ())
    try {
      edges.addData((":e1", 1L, 2L, 5L, 1L))
      query.processAllAvailable()
      edges.addData((":e1", 2L, 3L, 3L, 1L)) // t=3 regresses past t=5
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t: Throwable)(_.getCause).takeWhile(_ != null).take(20).toSeq
      assert(chain(ex).exists(c =>
        c.getMessage != null && c.getMessage.contains("processed frontier")),
        s"expected frontier violation, got: ${ex.getMessage}")
    } finally query.stop()
  }

  test("foreachBatch attachment streams closure diffs from a memory stream") {
    val out = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val (edges, query) = attachTc("inc-closure-spec") { ds =>
      out ++= ds.map(d => (d._1, d._2, d._3))
    }
    try {
      edges.addData((":e1", 1L, 2L, 1L, 1L), (":e1", 2L, 3L, 1L, 1L))
      query.processAllAvailable()
      assert(out.toSet == Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L)))
      out.clear()
      edges.addData((":e1", 3L, 1L, 2L, 1L)) // closes the cycle
      query.processAllAvailable()
      val want = Set(
        (3L, 1L), (3L, 2L), (3L, 3L),
        (1L, 1L), (2L, 2L), (2L, 1L))
      assert(out.map(r => (r._1, r._2)).toSet == want)
      assert(out.forall(_._3 == 2L))
    } finally query.stop()
  }
}
