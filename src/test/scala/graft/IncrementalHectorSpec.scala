package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{IncrementalHector, IncrementalQuery}
import graft.model._

/** Incrementally maintained Hector: across ANY history of signed input
  * batches, the accumulated output diffs must equal the from-scratch
  * batch recompute of the conjunction on the accumulated inputs — the
  * delta-rule exactness property (state is inputs only, no intermediate
  * join state). Covers the triangle (three bindings over ONE attribute —
  * the renamed-apart multilinear coordinates) and a predicate join. */
class IncrementalHectorSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def deltaDf(rows: Seq[(Long, Long, Long)]) =
    rows.toDF("e", "v", "diff")

  /** Driver-side reference: weighted conjunction by nested loops. */
  private def bruteTriangle(edges: Map[(Long, Long), Long]): Map[Seq[Long], Long] = {
    val m = edges.toSeq
    (for {
      ((a1, b1), w1) <- m; ((a2, b2), w2) <- m; ((a3, c3), w3) <- m
      if a2 == b1 && a3 == a1 && c3 == b2
    } yield (Seq(a1, b1, b2), w1 * w2 * w3))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).filter(_._2 != 0L).toMap
  }

  private val genBatch: Gen[Seq[(Long, Long, Long)]] =
    Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 4L)
      b <- Gen.choose(0L, 4L)
      d <- Gen.frequency(3 -> 1L, 1 -> -1L)
    } yield (a, b, d)).map(_.take(8))

  test("triangle maintenance equals batch recompute under signed batches") {
    val params = Gen.Parameters.default
    (0 until 4).foreach { seed =>
      // vars (0,1,2): edge(0,1), edge(1,2), edge(0,2)
      val inc = new IncrementalHector(spark, Seq(0, 1, 2), Seq(
        Binding.attribute(0, ":ih/edge", 1),
        Binding.attribute(1, ":ih/edge", 2),
        Binding.attribute(0, ":ih/edge", 2)),
        Map(":ih/edge" -> ValueKind.KEid))
      val acc = scala.collection.mutable.Map.empty[Seq[Long], Long]
      val edges = scala.collection.mutable.Map.empty[(Long, Long), Long]
      (1 to 3).foreach { i =>
        val batch = genBatch(params, Seed(seed * 1009L + i)).getOrElse(Seq.empty)
        batch.foreach { case (a, b, d) =>
          val w = edges.getOrElse((a, b), 0L) + d
          if (w == 0L) edges.remove((a, b)) else edges((a, b)) = w
        }
        // All three bindings scan the same attribute: one shared delta.
        val d = deltaDf(batch)
        val out = inc.advance(Map(0 -> d, 1 -> d, 2 -> d)).collect()
        out.foreach { r =>
          val k = Seq(r.getLong(0), r.getLong(1), r.getLong(2))
          val w = acc.getOrElse(k, 0L) + r.getLong(3)
          if (w == 0L) acc.remove(k) else acc(k) = w
        }
        assert(acc.toMap == bruteTriangle(edges.toMap),
          s"seed=$seed batchNo=$i batch=$batch")
      }
    }
  }

  test("foreachBatch attachment maintains a join from a memory stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The conjunction streams through IncrementalQuery.attach, whose
    // Hector node maintains it with this class.
    val iq = new IncrementalQuery(spark, Plan.Hector(Seq(0, 1, 2), Seq(
      Binding.attribute(0, ":ihs/name", 1),
      Binding.attribute(0, ":ihs/age", 2))),
      Map(":ihs/name" -> ValueKind.KNumber, ":ihs/age" -> ValueKind.KNumber))
    val in = MemoryStream[(String, Long, Long, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Long)]
    val query = iq.attach(
      in.toDF.toDF("a", "e", "v", "t", "diff"), "inc-hector-spec") { (t, df) =>
      got ++= df.collect().map(r =>
        (t, Seq(r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
    }
    try {
      in.addData((":ihs/name", 1L, 100L, 1L, 1L), (":ihs/age", 1L, 43L, 1L, 1L))
      query.processAllAvailable()
      assert(got.toSet == Set((1L, Seq(1L, 100L, 43L), 1L)))
      got.clear()
      // Correction at a later time: retract the age, assert a new one —
      // the join output retracts and re-asserts through the delta rule.
      in.addData((":ihs/age", 1L, 43L, 2L, -1L), (":ihs/age", 1L, 45L, 2L, 1L))
      query.processAllAvailable()
      assert(got.toSet == Set(
        (2L, Seq(1L, 100L, 43L), -1L),
        (2L, Seq(1L, 100L, 45L), 1L)))
    } finally query.stop()
  }

  test("per-batch shuffle is O(delta) as state grows 100x, join terms included") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // TWO bindings joining on e: the delta term joins a tiny delta
    // against the big opposite-binding state — the counted-small
    // broadcast must keep the state side unshuffled, on top of the
    // co-partitioned state merge.
    val inc = new IncrementalHector(spark, Seq(0, 1, 2),
      Seq(Binding.attribute(0, ":ihg/a", 1),
        Binding.attribute(0, ":ihg/b", 2)),
      Map(":ihg/a" -> ValueKind.KNumber, ":ihg/b" -> ValueKind.KNumber))
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    // The listener bus is async: wait until the counter stops moving.
    def settled(): Long = {
      val deadline = System.nanoTime + 10_000_000_000L
      var prev = -1L
      var cur = records.get
      while (prev != cur && System.nanoTime < deadline) {
        prev = cur; Thread.sleep(200); cur = records.get
      }
      cur
    }
    def rows(from: Long, n: Long): Seq[(Long, Long, Long)] =
      (from until from + n).map(i => (i, i, 1L))
    def measuredBatch(batch: Seq[(Long, Long, Long)]): Long = {
      spark.sparkContext.addSparkListener(listener)
      try {
        records.set(0)
        val d = deltaDf(batch)
        assert(inc.advance(Map(0 -> d, 1 -> d)).count() > 0)
        settled()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    def seed(batch: Seq[(Long, Long, Long)]): Unit = {
      val d = deltaDf(batch)
      inc.advance(Map(0 -> d, 1 -> d)).collect()
    }
    seed(rows(0, 100))
    val small = measuredBatch(rows(1_000_000, 10))
    seed(rows(1_000, 10_000))
    val big = measuredBatch(rows(2_000_000, 10))
    assert(inc.stateOf(0).count() == 100L + 10L + 10_000L + 10L)
    // Two identical 10-row deltas, one against 110 rows of state and one
    // against ~10k: shuffled records must not scale with the accumulated
    // state — neither in the state merge (the old union + full groupBy
    // re-shuffled it) nor in the delta-term joins (an unhinted join
    // would shuffle the 10k-row opposite binding twice per batch).
    assert(big <= small + 500,
      s"10-row batch shuffled $small records on small state but $big on 100x state")
    assert(big < 2000, s"10-row batch shuffled $big records against ~10k-row state")
  }

  test("attach rejects a time that regresses the processed frontier") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val iq = new IncrementalQuery(spark, Plan.Hector(Seq(0, 1),
      Seq(Binding.attribute(0, ":ihf/x", 1))),
      Map(":ihf/x" -> ValueKind.KNumber))
    val in = MemoryStream[(String, Long, Long, Long, Long)]
    val query = iq.attach(
      in.toDF.toDF("a", "e", "v", "t", "diff"), "inc-hector-frontier") { (_, df) =>
      df.collect(); ()
    }
    try {
      in.addData((":ihf/x", 1L, 10L, 5L, 1L))
      query.processAllAvailable()
      in.addData((":ihf/x", 2L, 20L, 3L, 1L)) // t=3 regresses past t=5
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq
      assert(chain(ex).exists(c =>
        c.getMessage != null && c.getMessage.contains("processed frontier")),
        s"expected frontier violation, got: ${ex.getMessage}")
    } finally query.stop()
  }

  test("predicate join maintenance equals batch recompute") {
    // q(0,1,2): r(0,1), s(0,2), 1 < 2
    val inc = new IncrementalHector(spark, Seq(0, 1, 2), Seq(
      Binding.attribute(0, ":ih/r", 1),
      Binding.attribute(0, ":ih/s", 2),
      Binding.binaryPredicate(Predicate.LT, 1, 2)),
      Map(":ih/r" -> ValueKind.KNumber, ":ih/s" -> ValueKind.KNumber))
    val r = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val s = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val acc = scala.collection.mutable.Map.empty[Seq[Long], Long]
    def brute(): Map[Seq[Long], Long] =
      (for { ((e1, v1), w1) <- r.toSeq; ((e2, v2), w2) <- s.toSeq
             if e1 == e2 && v1 < v2 }
        yield (Seq(e1, v1, v2), w1 * w2))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).filter(_._2 != 0L).toMap
    val hist = Seq(
      (0, Seq((1L, 2L, 1L), (1L, 5L, 1L), (2L, 9L, 1L))),
      (1, Seq((1L, 4L, 1L), (2L, 1L, 1L))),
      (0, Seq((1L, 2L, -1L))),          // retraction kills (1,2,4)
      (1, Seq((1L, 4L, -1L), (1L, 9L, 1L))))
    hist.foreach { case (which, batch) =>
      val tgt = if (which == 0) r else s
      batch.foreach { case (e, v, d) =>
        val w = tgt.getOrElse((e, v), 0L) + d
        if (w == 0L) tgt.remove((e, v)) else tgt((e, v)) = w
      }
      val out = inc.advance(Map(which -> deltaDf(batch))).collect()
      out.foreach { row =>
        val k = Seq(row.getLong(0), row.getLong(1), row.getLong(2))
        val w = acc.getOrElse(k, 0L) + row.getLong(3)
        if (w == 0L) acc.remove(k) else acc(k) = w
      }
      assert(acc.toMap == brute(), s"after $which <- $batch")
    }
    assert(acc.nonEmpty)
  }

  // ---- extended probe coverage (round-10): disconnected components,
  // KReal/rational kinds, non-long ordering predicates — each shape
  // driven through a fixed history; the accumulated output must equal
  // the SQL-semantics ground truth, and the probe path must actually be
  // live for the shape (or, for the rejecting shapes, the Catalyst term
  // must be the one serving it).

  /** Scala == on boxed doubles is primitive (NaN != NaN), so NaN cells
    * are bit-normalized for key comparison — SQL equality semantics. */
  private def cell(v: Any): Any = v match {
    case d: java.lang.Double => s"d:${java.lang.Double.doubleToLongBits(d)}"
    case x                   => x
  }

  /** Drive `mk`'s conjunction through `batches` (binding-index -> delta
    * frame builder), returning the accumulated output multiset. */
  private def accumulated(
      mk: () => IncrementalHector,
      batches: Seq[Map[Int, org.apache.spark.sql.DataFrame]],
      expectProbe: Option[Boolean]): Map[Seq[Any], Long] = {
    val inc = mk()
    expectProbe.foreach(e => assert(inc.probeEnabled == e,
      s"probe executor expected live=$e for this shape"))
    val acc = scala.collection.mutable.Map.empty[Seq[Any], Long]
    batches.foreach { deltas =>
      inc.advance(deltas).collect().foreach { row =>
        val n = row.length - 1
        val k: Seq[Any] = (0 until n).map(i => cell(row.get(i)))
        val w = acc.getOrElse(k, 0L) + row.getLong(n)
        if (w == 0L) acc.remove(k) else acc(k) = w
      }
    }
    acc.toMap
  }

  test("disconnected conjunction runs on the probe path and matches Catalyst") {
    // q(0,1,2,3): r(0,1) x s(2,3) — no shared variable; the probe plan
    // seeds the second component with a scan step (cross-extend).
    def mk() = new IncrementalHector(spark, Seq(0, 1, 2, 3), Seq(
      Binding.attribute(0, ":dx/r", 1),
      Binding.attribute(2, ":dx/s", 3)),
      Map(":dx/r" -> ValueKind.KNumber, ":dx/s" -> ValueKind.KNumber))
    val batches = Seq(
      Map(0 -> deltaDf(Seq((1L, 10L, 1L), (2L, 20L, 1L))),
        1 -> deltaDf(Seq((7L, 70L, 1L)))),
      Map(1 -> deltaDf(Seq((8L, 80L, 1L), (7L, 70L, -1L)))),
      Map(0 -> deltaDf(Seq((1L, 10L, -1L), (3L, 30L, 1L)))))
    val probe = accumulated(mk, batches, expectProbe = Some(true))
    // Ground truth: surviving r-rows x surviving s-rows.
    assert(probe == Map(
      Seq[Any](2L, 20L, 8L, 80L) -> 1L, Seq[Any](3L, 30L, 8L, 80L) -> 1L))
  }

  test("KReal kind (incl. -0.0 and NaN) runs on the probe path and matches Catalyst") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("e", LongType, false),
      StructField("v", DoubleType, false), StructField("diff", LongType, false)))
    def dd(rows: Seq[(Long, Double, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2),
      schema)
    // Join on the REAL value: q(0,1,2): r(0,1), s(2,1) with 1 a double
    // var — -0.0 joins 0.0 and NaN joins NaN under SQL equality; the
    // canonicalized probe keys must reproduce that.
    def mk() = new IncrementalHector(spark, Seq(0, 1, 2), Seq(
      Binding.attribute(0, ":dr/r", 1),
      Binding.attribute(2, ":dr/s", 1)),
      Map(":dr/r" -> ValueKind.KReal, ":dr/s" -> ValueKind.KReal))
    val batches = Seq(
      Map(0 -> dd(Seq((1L, -0.0d, 1L), (2L, 1.5d, 1L), (3L, Double.NaN, 1L))),
        1 -> dd(Seq((10L, 0.0d, 1L), (30L, Double.NaN, 1L)))),
      Map(1 -> dd(Seq((20L, 1.5d, 1L), (10L, 0.0d, -1L)))))
    val probe = accumulated(mk, batches, expectProbe = Some(true))
    assert(probe == Map(
      Seq[Any](2L, cell(1.5d), 20L) -> 1L,
      Seq[Any](3L, cell(Double.NaN), 30L) -> 1L),
      s"-0.0/0.0 and NaN/NaN must join: $probe")
  }

  test("rational kind joins run on the probe path and match Catalyst") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vt = ValueKind.KRational.dataType
    val schema = StructType(Seq(StructField("e", LongType, false),
      StructField("v", vt, false), StructField("diff", LongType, false)))
    def rat(n: Long, d: Long) = Value.rational(n, d).native
    def dd(rows: Seq[(Long, Any, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2),
      schema)
    def mk() = new IncrementalHector(spark, Seq(0, 1, 2), Seq(
      Binding.attribute(0, ":dq/r", 1),
      Binding.attribute(2, ":dq/s", 1)),
      Map(":dq/r" -> ValueKind.KRational, ":dq/s" -> ValueKind.KRational))
    val batches = Seq(
      Map(0 -> dd(Seq((1L, rat(1, 2), 1L), (2L, rat(3, 4), 1L))),
        1 -> dd(Seq((10L, rat(1, 2), 1L)))),
      Map(1 -> dd(Seq((20L, rat(3, 4), 1L), (10L, rat(1, 2), -1L)))))
    val probe = accumulated(mk, batches, expectProbe = Some(true))
    assert(probe == Map(Seq[Any](2L, rat(3, 4), 20L) -> 1L), s"got $probe")
  }

  test("rational ORDERING predicates run on the probe path and match Catalyst (r11)") {
    // q(0,1,3): r(0,1), s(0,3), 1 < 3 — ordering on RATIONAL structs,
    // previously an automatic Catalyst fallback (equality-only canon);
    // the probe comparator is Catalyst struct order over (num, den).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vt = ValueKind.KRational.dataType
    val schema = StructType(Seq(StructField("e", LongType, false),
      StructField("v", vt, false), StructField("diff", LongType, false)))
    def rat(n: Long, d: Long) = Value.rational(n, d).native
    def dd(rows: Seq[(Long, Any, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2),
      schema)
    def mk() = new IncrementalHector(spark, Seq(0, 1, 3), Seq(
      Binding.attribute(0, ":dp/r", 1),
      Binding.attribute(0, ":dp/s", 3),
      Binding.binaryPredicate(Predicate.LT, 1, 3)),
      Map(":dp/r" -> ValueKind.KRational, ":dp/s" -> ValueKind.KRational))
    // Struct order: (1,2) < (1,3) < (3,4) — field-by-field, exactly
    // Catalyst's struct comparison (NOT numeric order: 1/2 > 1/3).
    val batches = Seq(
      Map(0 -> dd(Seq((1L, rat(1, 2), 1L), (2L, rat(3, 4), 1L))),
        1 -> dd(Seq((1L, rat(1, 3), 1L), (2L, rat(3, 4), 1L)))),
      Map(1 -> dd(Seq((1L, rat(1, 3), -1L), (1L, rat(3, 4), 1L)))))
    val probe = accumulated(mk, batches, expectProbe = Some(true))
    assert(probe == Map(Seq[Any](1L, rat(1, 2), rat(3, 4)) -> 1L),
      s"surviving pairs wrong: $probe")
  }

  test("variant ORDERING predicates run on the probe path and match Catalyst (r11)") {
    // Ordering on VARIANT structs: tag first (the reference's cross-type
    // Ord), then per-field Catalyst order with nulls first.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vt = ValueKind.KVariant.dataType
    val schema = StructType(Seq(StructField("e", LongType, false),
      StructField("v", vt, true), StructField("diff", LongType, false)))
    def vStr(x: String) = Row(1, x, null, null, null, null, null)
    def vNum(n: Long) = Row(3, null, n, null, null, null, null)
    def dd(rows: Seq[(Long, Any, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2),
      schema)
    def mk() = new IncrementalHector(spark, Seq(0, 1, 3), Seq(
      Binding.attribute(0, ":dv/r", 1),
      Binding.attribute(0, ":dv/s", 3),
      Binding.binaryPredicate(Predicate.LT, 1, 3)),
      Map(":dv/r" -> ValueKind.KVariant, ":dv/s" -> ValueKind.KVariant))
    // tag order: String(1) < Number(3); within strings: "a" < "b".
    val batches = Seq(
      Map(0 -> dd(Seq((1L, vStr("a"), 1L), (2L, vNum(9L), 1L))),
        1 -> dd(Seq((1L, vNum(5L), 1L), (2L, vStr("a"), 1L),
          (1L, vStr("b"), 1L)))))
    val probe = accumulated(mk, batches, expectProbe = Some(true))
    // e=1: "a" < Number(5) (tag), "a" < "b" (string order); e=2:
    // Number(9) < String("a") is FALSE (tag 3 > 1).
    assert(probe == Map(
      Seq[Any](1L, vStr("a"), vNum(5L)) -> 1L,
      Seq[Any](1L, vStr("a"), vStr("b")) -> 1L),
      s"surviving pairs wrong: $probe")
  }

  test("string ordering predicate matches Catalyst's UTF8 byte order on the probe path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("e", LongType, false),
      StructField("v", StringType, false), StructField("diff", LongType, false)))
    def dd(rows: Seq[(Long, String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2),
      schema)
    // "\uFFFD" (BMP, high) vs an emoji (supplementary plane): java
    // String.compareTo orders the emoji FIRST (surrogates < 0xFFFD) but
    // UTF-8 bytes order it LAST — the probe comparator must agree with
    // Catalyst, not with String.compareTo.
    val hi = "\uFFFD"
    val emoji = new String(Character.toChars(0x1F600))
    def mk() = new IncrementalHector(spark, Seq(0, 1, 2), Seq(
      Binding.attribute(0, ":ds/a", 1),
      Binding.attribute(0, ":ds/b", 2),
      Binding.binaryPredicate(Predicate.LT, 1, 2)),
      Map(":ds/a" -> ValueKind.KString, ":ds/b" -> ValueKind.KString))
    val batches = Seq(
      Map(0 -> dd(Seq((1L, hi, 1L), (2L, "abc", 1L))),
        1 -> dd(Seq((1L, emoji, 1L), (2L, "abd", 1L)))),
      Map(1 -> dd(Seq((2L, "abb", 1L)))))
    val probe = accumulated(mk, batches, expectProbe = Some(true))
    // UTF-8 order: \uFFFD < emoji, so (1, hi, emoji) survives; "abc" <
    // "abd" survives, "abc" < "abb" does not.
    assert(probe == Map(
      Seq[Any](1L, hi, emoji) -> 1L,
      Seq[Any](2L, "abc", "abd") -> 1L), s"got $probe")
  }

  test("packed-run state is exact and 2x under hash bytes") {
    // Long-kinded bindings keep their state as packed runs. The
    // accumulated join must equal the driver-side ground truth, and the
    // measured state must stay 2x under the hash cells' per-entry
    // figure for the same history (the VERDICT #4 bar). That figure was
    // measured with the hash cells forced onto this conjunction
    // (SizeEstimator, 64-bit JVM 17 with compressed oops): 16,269,048 B
    // over the 45,000 resident entries, 361.5 B/entry. The packed runs
    // measured 50.2 B/entry there.
    val hashBytesPerEntry = 16269048.0 / 45000
    def mk() = new IncrementalHector(spark, Seq(0, 1, 2), Seq(
      Binding.attribute(0, ":lr/a", 1),
      Binding.attribute(0, ":lr/b", 2)),
      Map(":lr/a" -> ValueKind.KNumber, ":lr/b" -> ValueKind.KNumber))
    def delta(from: Long, n: Long, sign: Long = 1L) =
      spark.range(from, from + n).select(
        org.apache.spark.sql.functions.col("id").as("e"),
        (org.apache.spark.sql.functions.col("id") * 3L).as("v"),
        org.apache.spark.sql.functions.lit(sign).as("diff"))
    val batches = Seq(
      Map(0 -> delta(0L, 20000L), 1 -> delta(0L, 20000L)),
      Map(0 -> delta(20000L, 3000L), 1 -> delta(20000L, 3000L)),
      Map(0 -> delta(1000L, 500L, -1L)), // retraction wave
      Map(1 -> delta(5000L, 500L, -1L)))
    val inc = mk()
    val acc = scala.collection.mutable.Map.empty[Seq[Any], Long]
    batches.foreach { d =>
      inc.advance(d).collect().foreach { row =>
        val k: Seq[Any] = (0 until 3).map(row.get)
        val w = acc.getOrElse(k, 0L) + row.getLong(3)
        if (w == 0L) acc.remove(k) else acc(k) = w
      }
    }
    // Ground truth: entities live in BOTH bindings, each (e, 3e, 3e).
    val liveA = (0L until 23000L).filterNot(e => e >= 1000L && e < 1500L).toSet
    val liveB = (0L until 23000L).filterNot(e => e >= 5000L && e < 5500L).toSet
    val want = (liveA intersect liveB).map(e => Seq[Any](e, e * 3L, e * 3L) -> 1L).toMap
    assert(acc.toMap == want)
    val entries = liveA.size + liveB.size
    val runsBytes = inc.stateIndexMeasuredBytes(0) + inc.stateIndexMeasuredBytes(1)
    val perEntry = runsBytes.toDouble / entries
    assert(runsBytes > 0, "probe must measure")
    assert(perEntry * 2 <= hashBytesPerEntry,
      f"expected >=2x under the hash cells' $hashBytesPerEntry%.1f B/entry: " +
        f"$perEntry%.1f B/entry ($runsBytes B)")
  }

  test("mixed real/long operands reject probe execution (encoded-vs-raw guard)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def dd(schemaV: DataType, rows: Seq[(Long, Any, Long)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2),
        StructType(Seq(StructField("e", LongType, false),
          StructField("v", schemaV, false), StructField("diff", LongType, false))))
    // q(0,1,2): r(0,1 real), n(0,2 long), 1 < 2 — an encoded real slot
    // must never meet a raw long slot, so the shape must fall back to
    // Catalyst ENTIRELY (probeEnabled false), and results must match
    // the SQL ground truth exactly.
    def mk() = new IncrementalHector(spark, Seq(0, 1, 2), Seq(
      Binding.attribute(0, ":mx/r", 1),
      Binding.attribute(0, ":mx/n", 2),
      Binding.binaryPredicate(Predicate.LT, 1, 2)),
      Map(":mx/r" -> ValueKind.KReal, ":mx/n" -> ValueKind.KNumber))
    val batches = Seq(
      Map(0 -> dd(DoubleType, Seq((1L, 0.5d, 1L), (2L, 150.0d, 1L))),
        1 -> dd(LongType, Seq((1L, 100L, 1L), (2L, 100L, 1L)))))
    val cat = accumulated(mk, batches, expectProbe = Some(false))
    // Ground truth: 0.5 < 100 passes, 150.0 < 100 fails.
    assert(cat == Map(Seq[Any](1L, cell(0.5d), 100L) -> 1L), s"got $cat")

    // A DOUBLE const pinned to a long var is the same hazard.
    def mkc() = new IncrementalHector(spark, Seq(0, 1), Seq(
      Binding.attribute(0, ":mx/n", 1),
      Binding.constant(1, Value.VReal(100.0))),
      Map(":mx/n" -> ValueKind.KNumber))
    val inc = mkc()
    assert(!inc.probeEnabled,
      "double const on a long slot must reject probe execution")
  }
}
