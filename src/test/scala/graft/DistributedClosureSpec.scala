package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{DistributedClosure, IncrementalClosure, IncrementalQuery}

/** The distributed-adjacency closure must emit EXACTLY the per-batch
  * diffs of the broadcast [[IncrementalClosure]] on any signed
  * edge stream — the two maintainers differ only in where the adjacency
  * lives. Verified against both the sibling class and a driver-side closure
  * reference, at a FORCED multi-partition count (the kernel regression
  * rule: distributed kernels are tested with partitions pinned, not
  * whatever a size heuristic picks). */
class DistributedClosureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Driver-side reference closure. */
  private def closure(edges: Set[(Long, Long)]): Set[(Long, Long)] =
    DriverClosure.of(edges)

  private def drain(d: org.apache.spark.rdd.RDD[((Long, Long), Long)]): Set[(Long, Long, Long)] =
    d.collect().map { case ((s, t), w) => (s, t, w) }.toSet

  private def rdd(deltas: Seq[((Long, Long), Long)]) =
    spark.sparkContext.parallelize(deltas, 2)

  /** A batch of additions (distinct edges, +1 each). */
  private def adds(edges: Seq[(Long, Long)]) = rdd(edges.distinct.map(_ -> 1L))

  test("addition batches match closure(E ∪ Δe) − closure(E) and the sibling class") {
    val rnd = new scala.util.Random(47)
    val dist = new DistributedClosure(spark, partitions = 4)
    val bcast = new IncrementalClosure(spark, partitions = 4)
    var accumulated = Set.empty[(Long, Long)]
    for (batch <- 1 to 5) {
      val edges = Seq.fill(8)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2)
      val before = closure(accumulated)
      accumulated ++= edges
      val after = closure(accumulated)
      val got = drain(dist.advanceSignedRdd(adds(edges)))
      val sib = drain(bcast.advanceSignedRdd(adds(edges)))
      assert(got == (after -- before).map(e => (e._1, e._2, 1L)),
        s"batch $batch vs reference, edges=$edges")
      assert(got == sib, s"batch $batch vs sibling, edges=$edges")
    }
    assert(dist.size == closure(accumulated).size.toLong)
    assert(dist.edgeSize == accumulated.size.toLong)
  }

  test("signed batches (DRed deletions included) match the sibling class and BFS") {
    val rnd = new scala.util.Random(4243)
    val dist = new DistributedClosure(spark, partitions = 4)
    val bcast = new IncrementalClosure(spark, partitions = 4)
    var present = Set.empty[(Long, Long)]
    var sawRetraction = false
    for (batch <- 1 to 8) {
      val adds = Seq.fill(6)((rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
        .distinct.filter(e => e._1 != e._2).filterNot(present)
      // Valid deletions only: retract edges currently present.
      val dels = rnd.shuffle(present.toSeq).take(
        if (batch > 2 && present.size > 3) 2 else 0)
      val deltas = adds.map(e => (e, 1L)) ++ dels.map(e => (e, -1L))
      if (deltas.nonEmpty) {
        val before = closure(present)
        present = present ++ adds -- dels
        val after = closure(present)
        val expected =
          (after -- before).map(e => (e._1, e._2, 1L)) ++
            (before -- after).map(e => (e._1, e._2, -1L))
        val got = drain(dist.advanceSignedRdd(rdd(deltas)))
        val sib = drain(bcast.advanceSignedRdd(rdd(deltas)))
        assert(got == expected, s"batch $batch vs reference, deltas=$deltas")
        assert(got == sib, s"batch $batch vs sibling, deltas=$deltas")
        sawRetraction ||= got.exists(_._3 == -1L)
      }
    }
    assert(sawRetraction, "no retraction ever emitted — vacuous DRed coverage")
    assert(dist.size == closure(present).size.toLong)
  }

  test("retracting an absent edge fails loudly, distributed") {
    val dist = new DistributedClosure(spark, partitions = 2)
    dist.advanceSignedRdd(adds(Seq((1L, 2L)))).count()
    val e = intercept[IllegalArgumentException] {
      dist.advanceSignedRdd(rdd(Seq(((7L, 8L), -1L)))).count()
    }
    assert(e.getMessage.contains("retraction of absent edges"))
  }

  test("delete and re-add of the same edge in one batch is a no-op") {
    val dist = new DistributedClosure(spark, partitions = 2)
    dist.advanceSignedRdd(adds(Seq((1L, 2L), (2L, 3L)))).count()
    val got = drain(dist.advanceSignedRdd(
      rdd(Seq(((1L, 2L), -1L), ((1L, 2L), 1L)))))
    assert(got.isEmpty)
    assert(dist.size == 3L)
  }

  test("attach drains a signed memory stream through the distributed path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.model.Plan
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // A broadcast threshold of −1 admits nothing, so the TC rule's
    // closure node runs on this class from its first advance.
    val rule = Plan.Union(Seq(0, 1), Seq(
      Plan.MatchA(0, ":e1", 1),
      Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
        Plan.MatchA(0, ":e1", 2), Plan.NameExpr(Seq(2, 1), "closure")))))
    TestSpark.withConf(TestSpark.BroadcastThreshold, "-1") {
      val iq = new IncrementalQuery(spark, Plan.NameExpr(Seq(0, 1), "closure"),
        Map(":e1" -> graft.model.ValueKind.KEid), Map("closure" -> rule),
        partitions = 4)
      val in = MemoryStream[(String, Long, Long, Long, Long)]
      val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      val query = iq.attach(
        in.toDF.toDF("a", "e", "v", "t", "diff"), "dist-closure-spec") { (_, diffs) =>
        got ++= diffs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      try {
        in.addData((":e1", 1L, 2L, 1L, 1L), (":e1", 2L, 3L, 1L, 1L))
        query.processAllAvailable()
        assert(got.toSet == Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L)))
        got.clear()
        in.addData((":e1", 2L, 3L, 2L, -1L))
        query.processAllAvailable()
        assert(got.toSet == Set((2L, 3L, -1L), (1L, 3L, -1L)))
        assert(iq.closureStoreProbe == Seq("DistributedClosure"))
      } finally query.stop()
    }
  }
}
