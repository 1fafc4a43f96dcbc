package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IncrementalClosure

/** The streamed closure must emit, per batch, EXACTLY the tuples of
  * closure(E ∪ Δe) − closure(E) — verified against a driver-side reference
  * closure on random edge batches, and end-to-end through the
  * foreachBatch attachment on a memory stream.
  */
class IncrementalClosureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Driver-side reference closure. */
  private def closure(edges: Set[(Long, Long)]): Set[(Long, Long)] =
    DriverClosure.of(edges)

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
      val got = inc.advance(edges, batch.toLong).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == after -- before, s"batch $batch edges=$edges")
    }
    assert(inc.size == closure(accumulated).size.toLong)
  }

  test("duplicate and already-known edges emit nothing") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    val d1 = inc.advance(Seq((1L, 2L), (2L, 3L), (1L, 2L)), 1L).collect()
    assert(d1.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(inc.advance(Seq((1L, 2L)), 2L).collect().isEmpty)
  }

  test("advanceRdd dedups a firehose batch distributed: raw rows never collected") {
    // 500k raw rows but only 100 distinct fresh edges: the driver must see
    // the 100, not the 500k (the raw batch is deduped and subtracted
    // against the known set as an RDD before any collect).
    val inc = new IncrementalClosure(spark, partitions = 4, maxEdges = 200L)
    val path = (0L until 100L).map(i => (i, i + 1))
    val raw = spark.sparkContext
      .parallelize(0 until 500000, 8)
      .map(i => path(i % path.length))
    // maxEdges=200 < 500k raw rows: this only passes if dedup/subtract
    // runs BEFORE the driver-side gate sees the batch.
    val d1 = inc.advanceRdd(raw, 1L)
    assert(d1.count() === 100L * 101L / 2) // closure of a 101-node path
    // Re-sending the same firehose adds nothing.
    assert(inc.advanceRdd(raw, 2L).count() === 0L)
  }

  test("a distinct batch past maxEdges trips the broadcast gate loudly") {
    // 500 genuinely fresh edges against a 200-edge gate: the distributed
    // count must fail the batch before any edge lands on the driver,
    // and the closure must stay as it was.
    val inc = new IncrementalClosure(spark, partitions = 4, maxEdges = 200L)
    assert(inc.advance(Seq((1L, 2L)), 1L).count() === 1L)
    val fire = spark.sparkContext.parallelize(0L until 500L, 4)
      .map(i => (i + 1000L, i + 100000L))
    val ex = intercept[IllegalArgumentException](inc.advanceRdd(fire, 2L))
    assert(ex.getMessage.contains("broadcast gate (200)"), ex.getMessage)
    assert(inc.size === 1L)
  }

  test("attach rejects diffs outside ±1 via the distributed guard") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val edges = MemoryStream[(Long, Long, Long, Long)]
    val inc = new IncrementalClosure(spark, partitions = 2)
    val query = inc.attach(
      edges.toDF.toDF("src", "dst", "t", "diff"), "inc-closure-guard-spec") { _ => () }
    try {
      edges.addData((1L, 2L, 1L, 2L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      assert(ex.getMessage.contains("must be ±1") ||
        Option(ex.getCause).exists(_.getMessage.contains("must be ±1")))
    } finally query.stop()
  }

  // ---------------------------------------------------------------- DRed

  private def signed(inc: IncrementalClosure,
      deltas: Seq[((Long, Long), Long)], t: Long): Map[(Long, Long), Long] =
    inc.advanceSigned(deltas, t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap

  test("deleting an edge retracts exactly the facts that lose all derivations") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    // a→b→c plus the direct shortcut a→c: deleting a→b kills (a,b) only —
    // (a,c) survives on the shortcut.
    inc.advance(Seq((1L, 2L), (2L, 3L), (1L, 3L)), 1L).collect()
    val d = signed(inc, Seq(((1L, 2L), -1L)), 2L)
    assert(d == Map((1L, 2L) -> -1L))
    assert(inc.size == 2L) // (2,3), (1,3)
  }

  test("deletion cascades through facts with no alternative path") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    // path 1→2→3→4: deleting 2→3 retracts (2,3),(2,4),(1,3),(1,4).
    inc.advance(Seq((1L, 2L), (2L, 3L), (3L, 4L)), 1L).collect()
    val d = signed(inc, Seq(((2L, 3L), -1L)), 2L)
    assert(d == Map((2L, 3L) -> -1L, (2L, 4L) -> -1L,
      (1L, 3L) -> -1L, (1L, 4L) -> -1L))
    assert(inc.size == 2L) // (1,2), (3,4)
  }

  test("rederivation revives overdeleted facts reachable another way") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    // 1→2 directly and 1→5→2, then 2→3. Deleting 1→2 overdeletes
    // (1,2),(1,3) but both rederive through 5 — nothing is retracted.
    inc.advance(Seq((1L, 2L), (1L, 5L), (5L, 2L), (2L, 3L)), 1L).collect()
    val d = signed(inc, Seq(((1L, 2L), -1L)), 2L)
    assert(d.isEmpty, s"expected no net diffs, got $d")
    assert(inc.size == 6L) // (1,5),(5,2),(2,3),(1,2),(5,3),(1,3)
  }

  test("mixed batch consolidates: delete one edge, add a replacement path") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    inc.advance(Seq((1L, 2L), (2L, 3L)), 1L).collect()
    // Drop 1→2, add 1→9→2: (1,2),(1,3) net to zero (retracted by DRed,
    // re-derived through 9); only the genuinely new facts appear.
    val d = signed(inc, Seq(((1L, 2L), -1L), ((1L, 9L), 1L), ((9L, 2L), 1L)), 2L)
    assert(d == Map((1L, 9L) -> 1L, (9L, 2L) -> 1L,
      (9L, 3L) -> 1L))
    assert(inc.size == closure(Set((1L, 9L), (9L, 2L), (2L, 3L))).size.toLong)
  }

  test("delete and re-add of the same edge in one batch is a no-op") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    inc.advance(Seq((1L, 2L), (2L, 3L)), 1L).collect()
    val d = signed(inc, Seq(((1L, 2L), -1L), ((1L, 2L), 1L)), 2L)
    assert(d.isEmpty)
    assert(inc.size == 3L)
  }

  test("retracting an absent edge fails loudly") {
    val inc = new IncrementalClosure(spark, partitions = 2)
    inc.advance(Seq((1L, 2L)), 1L).collect()
    val ex = intercept[IllegalArgumentException] {
      inc.advanceSigned(Seq(((7L, 8L), -1L)), 2L)
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
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val edges = MemoryStream[(Long, Long, Long, Long)]
    val inc = new IncrementalClosure(spark, partitions = 2)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val query = inc.attach(
      edges.toDF.toDF("src", "dst", "t", "diff"), "inc-closure-signed-spec") { df =>
      seen ++= df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    try {
      edges.addData((1L, 2L, 1L, 1L), (2L, 3L, 1L, 1L))
      query.processAllAvailable()
      edges.addData((2L, 3L, 2L, -1L))
      query.processAllAvailable()
      assert(seen.filter(_._3 == 1L).map(x => (x._1, x._2)).toSet ==
        Set((1L, 2L), (2L, 3L), (1L, 3L)))
      assert(seen.filter(_._3 == 2L).toSet ==
        Set((2L, 3L, 2L, -1L), (1L, 3L, 2L, -1L)))
    } finally query.stop()
  }

  test("attach rejects a time that regresses the processed frontier") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val edges = MemoryStream[(Long, Long, Long, Long)]
    val inc = new IncrementalClosure(spark, partitions = 2)
    val query = inc.attach(
      edges.toDF.toDF("src", "dst", "t", "diff"), "inc-closure-frontier-spec") { _ => () }
    try {
      edges.addData((1L, 2L, 5L, 1L))
      query.processAllAvailable()
      edges.addData((2L, 3L, 3L, 1L)) // t=3 regresses past t=5
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
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val edges = MemoryStream[(Long, Long, Long, Long)]
    val inc = new IncrementalClosure(spark, partitions = 2)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val query = inc.attach(
      edges.toDF.toDF("src", "dst", "t", "diff"), "inc-closure-spec") { df =>
      out ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    try {
      edges.addData((1L, 2L, 1L, 1L), (2L, 3L, 1L, 1L))
      query.processAllAvailable()
      assert(out.toSet == Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L)))
      out.clear()
      edges.addData((3L, 1L, 2L, 1L)) // closes the cycle
      query.processAllAvailable()
      val want = Set(
        (3L, 1L), (3L, 2L), (3L, 3L),
        (1L, 1L), (2L, 2L), (2L, 1L))
      assert(out.map(r => (r._1, r._2)).toSet == want)
      assert(out.forall(_._3 == 2L))
    } finally query.stop()
  }
}
