package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.engine.Engine
import graft.model._
import graft.sinks.ForeachFrameSink
import graft.streaming.BiMaintained

/** DATA-SIZED bitemporal ingest (the round-13 `weak`, closing the last
  * driver-bounded edge on the bi path): [[BiMaintained.transactFrame]] /
  * [[BiMaintained.registerHistory]] ingest a DataFrame of versioned
  * facts `(e, a, v, sys, event, diff)` straight into the distributed
  * store's partitions — distributed key-building, per-partition
  * sequence numbering + batch offset, frontier validation off the
  * distributed coarse lattice — so a versioned-fact backfill never
  * serializes through a driver `Seq` (reference analog: sources feed
  * attribute streams without a client round-trip,
  * `src/sources/mod.rs:47-64`).
  *
  * Pins: (1) multiset drain PARITY with the `Seq`-transact path across
  * the semantics × plan zoo (late event writes, retractions, LWW
  * rewrites, the mid-history driver→distributed migration the bulk
  * frame forces); (2) a ≥1M-datom frame ingests with the driver seeing
  * only control-plane rows (the `frameIngestProbe` lattice/attr
  * counts), delivered through the sink edge with all-zero
  * `controlPlaneStats`; (3) the all-or-nothing transact rule holds
  * (closed-time frames reject without mutating state); (4) a dense
  * windowless history trips the lattice cap loudly instead of
  * collecting a data-sized lattice. */
object BiFrameIngestSpec {
  // Top-level so Spark can derive an encoder for toDF (inner case
  // classes need the defining instance's scope).
  final case class BD(e: Long, a: String, v: Long, sys: Long, event: Long, diff: Long)
}

class BiFrameIngestSpec extends AnyFunSuite {
  import BiFrameIngestSpec.BD

  private lazy val spark = TestSpark.spark

  // The BiSinkDeliverySpec zoo: late event-time writes, retractions,
  // same-key rewrites — everything the product-order ledger fears.
  private val zoo: Seq[BD] = Seq(
    BD(1, ":fr/x", 10, 0, 2, 1), BD(2, ":fr/x", 20, 0, 0, 1),
    BD(1, ":fr/y", 5, 0, 1, 1),
    BD(1, ":fr/x", 11, 1, 0, 1),
    BD(2, ":fr/x", 20, 1, 0, -1),
    BD(2, ":fr/y", 7, 1, 3, 1),
    BD(1, ":fr/x", 12, 2, 1, 1), BD(1, ":fr/x", 10, 2, 2, -1),
    BD(2, ":fr/x", 21, 2, 2, 1))

  private val plans: Seq[(String, Plan)] = Seq(
    "scan" -> Plan.MatchA(0, ":fr/x", 1),
    "join" -> Plan.Join(Seq(0),
      Plan.MatchA(0, ":fr/x", 1), Plan.MatchA(0, ":fr/y", 2)))

  private type Out = Map[(Seq[Any], (Long, Long), Long), Int]
  private def ms(xs: Seq[(Seq[Any], (Long, Long), Long)]): Out =
    xs.groupBy(identity).map { case (k, vs) => k -> vs.length }

  private def frameOf(ds: Seq[BD]): DataFrame = {
    import spark.implicits._
    ds.toDF()
  }

  /** Drive the zoo through one of three ingest shapes. */
  private def run(sem: InputSemantics, plan: Plan, shape: String): Out = {
    val bm = new BiMaintained(spark, partitions = 4)
    Seq(":fr/x", ":fr/y").foreach(a =>
      bm.createAttribute(a, AttributeConfig(sem)))
    bm.register(Rule("q", plan))
    bm.interest("q")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Any], (Long, Long), Long)]
    zoo.groupBy(_.sys).toSeq.sortBy(_._1).foreach { case (s, ds) =>
      shape match {
        case "seq" => bm.transact(ds.map(d => bm.BiDatom(
          Value.eid(d.e), d.a, Value.num(d.v), (s, d.event), d.diff)))
        case "frame" => bm.transactFrame(frameOf(ds))
        case "history" => // per-attribute registerHistory form
          ds.groupBy(_.a).toSeq.sortBy(_._1).foreach { case (a, as) =>
            bm.registerHistory(a, frameOf(as).drop("a"))
          }
      }
      bm.advance(s + 1L)
      got ++= bm.drain("q")
    }
    got ++= bm.drain("q")
    ms(got.toSeq)
  }

  test("frame-ingest drain == Seq-transact drain (semantics x plan zoo)") {
    for {
      sem <- Seq(InputSemantics.Raw, InputSemantics.Distinct,
        InputSemantics.LastWriteWins)
      (label, plan) <- plans
      shape <- Seq("frame", "history")
    } {
      val want = run(sem, plan, "seq")
      val got = run(sem, plan, shape)
      assert(got == want, s"$sem/$label/$shape:\n want=$want\n got =$got")
      assert(want.nonEmpty, s"$sem/$label produced no diffs (vacuous)")
    }
  }

  test("mixed Seq + frame transacts agree with all-Seq (mid-history migration)") {
    def drive(frameAt: Set[Long]): Out = {
      val bm = new BiMaintained(spark, partitions = 4)
      Seq(":fr/x", ":fr/y").foreach(a =>
        bm.createAttribute(a, AttributeConfig(InputSemantics.Raw)))
      bm.register(Rule("q", Plan.MatchA(0, ":fr/x", 1)))
      bm.interest("q")
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Any], (Long, Long), Long)]
      zoo.groupBy(_.sys).toSeq.sortBy(_._1).foreach { case (s, ds) =>
        if (frameAt(s)) bm.transactFrame(frameOf(ds))
        else bm.transact(ds.map(d => bm.BiDatom(
          Value.eid(d.e), d.a, Value.num(d.v), (s, d.event), d.diff)))
        bm.advance(s + 1L)
        got ++= bm.drain("q")
      }
      ms(got.toSeq)
    }
    val want = drive(Set.empty)
    // Frame at sys=1 forces the driver→distributed migration mid-history;
    // the sys=2 Seq transact then lands on the migrated store.
    val got = drive(Set(1L))
    assert(got == want, s"mixed ingest diverged:\n want=$want\n got =$got")
    assert(want.nonEmpty)
  }

  test("1M-datom frame ingests with zero driver materialization of the batch") {
    val n = 1000000L
    val bm = new BiMaintained(spark, partitions = 8)
    bm.createAttribute(":bulk/x", AttributeConfig(InputSemantics.Raw))
    bm.register(Rule("bulk", Plan.MatchA(0, ":bulk/x", 1)))
    var delivered = 0L
    val sink = new ForeachFrameSink((_, _, df) => {
      delivered += df.count() // distributed count — rows never collected
    })
    bm.interestSink("bulk", sink)
    // The backfill: 1M versioned facts built lazily from range() — no
    // driver Seq exists at any point. 4 distinct event coordinates.
    val df = spark.range(n).select(
      col("id").as("e"), lit(":bulk/x").as("a"),
      pmod(col("id"), lit(1000L)).as("v"),
      lit(0L).as("sys"), pmod(col("id"), lit(4L)).as("event"),
      lit(1L).as("diff"))
    bm.transactFrame(df)
    val probe = bm.frameIngestProbe
    assert(probe("datoms") == n, s"ingested ${probe("datoms")} of $n")
    assert(probe("driverLatticeRows") <= 8L && probe("driverAttrRows") == 1L,
      s"driver saw more than control-plane rows: $probe")
    assert(bm.datomCountProbe == n)
    bm.advance(1L)
    assert(delivered == n,
      s"expected $n delivered diff rows through the sink, got $delivered")
    val cp = bm.controlPlaneStats
    assert(cp("resultRows") == 0L && cp("ledgerEntries") == 0L &&
      cp("outRows") == 0L,
      s"driver must hold only control-plane state, got $cp")
  }

  test("attachStream routes micro-batches through transactFrame — no control-size gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val bm = new BiMaintained(spark, partitions = 4)
    bm.createAttribute(":st/x", AttributeConfig(InputSemantics.Raw))
    bm.register(Rule("q", Plan.MatchA(0, ":st/x", 1)))
    bm.interest("q")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Any], (Long, Long), Long)]
    val in = MemoryStream[(Long, String, Long, Long, Long, Long)]
    val frame = in.toDF().toDF("e", "a", "v", "sys", "event", "diff")
    val query = bm.attachStream(frame, "bi-frame-stream-spec") {
      (_, diffs) => got ++= diffs
    }
    try {
      // A DATA-SIZED micro-batch (150k datoms) enters the distributed
      // store directly; no transaction-size gate exists here.
      in.addData((0L until 150000L).map(i =>
        (i, ":st/x", i % 1000L, 0L, i % 3L, 1L)))
      query.processAllAvailable()
      assert(got.map(_._3).sum == 150000L,
        s"expected 150k net insertions, got ${got.map(_._3).sum}")
      assert(bm.frameIngestProbe("datoms") == 150000L)
      // A later batch with a LATE EVENT write (sys=1, event=0): the
      // product-order correction must flow through like the Seq path.
      got.clear()
      in.addData(Seq((200000L, ":st/x", 7L, 1L, 0L, 1L)))
      query.processAllAvailable()
      assert(got.map(_._3).sum == 1L, s"late write lost: $got")
      // A rewound system time must fail the stream loudly (closed-time
      // contract), not silently corrupt.
      in.addData(Seq((200001L, ":st/x", 8L, 0L, 9L, 1L)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
    } finally query.stop()
  }

  test("property: frame-ingest drain == Seq drain on random histories (fine + Coarsen lanes)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genDatom: Gen[BD] = for {
      e <- Gen.choose(1L, 3L)
      a <- Gen.oneOf(":fp2/x", ":fp2/y")
      v <- Gen.choose(0L, 3L)
      sys <- Gen.choose(0L, 2L)
      event <- Gen.choose(0L, 3L)
      diff <- Gen.frequency(4 -> 1L, 1 -> -1L)
    } yield BD(e, a, v, sys, event, diff)
    val genHistory = Gen.chooseNum(8, 16).flatMap(n => Gen.listOfN(n, genDatom))
    def drive(history: Seq[BD], sem: InputSemantics,
        win: Option[(Long, Long)], frameShape: Boolean): Out = {
      val bm = new BiMaintained(spark, partitions = 4, coarsen = win)
      Seq(":fp2/x", ":fp2/y").foreach(a =>
        bm.createAttribute(a, AttributeConfig(sem)))
      bm.register(Rule("q", Plan.MatchA(0, ":fp2/x", 1)))
      bm.interest("q")
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Any], (Long, Long), Long)]
      history.groupBy(_.sys).toSeq.sortBy(_._1).foreach { case (s, ds0) =>
        // Fine-time order inside the batch so BOTH paths assign sequence
        // numbers in the same (sys, event) order — LWW ties at an
        // IDENTICAL fine time are excluded by the dedupe below.
        val ds = ds0.sortBy(d => (d.sys, d.event))
        if (frameShape) bm.transactFrame(frameOf(ds))
        else bm.transact(ds.map(d => bm.BiDatom(
          Value.eid(d.e), d.a, Value.num(d.v), (s, d.event), d.diff)))
        bm.advance(s + 1L)
        got ++= bm.drain("q")
      }
      got ++= bm.drain("q")
      ms(got.toSeq)
    }
    val params = Gen.Parameters.default
    var nonVacuous = 0
    for {
      (sem, si) <- Seq(InputSemantics.Raw, InputSemantics.Distinct,
        InputSemantics.LastWriteWins).zipWithIndex
      (win, wi) <- Seq(None, Some((2L, 2L))).zipWithIndex
      s <- 0 until 3
    } {
      val raw = genHistory(params,
        Seed(1401L + si * 7919L + wi * 31L + s * 104729L)).getOrElse(Seq.empty)
      // LWW at an IDENTICAL (key, fine time) is decided by within-batch
      // arbitrary order on both paths — dedupe those so the property
      // tests the defined semantics, not the documented tie freedom.
      val history =
        if (sem == InputSemantics.LastWriteWins)
          raw.groupBy(d => (d.e, d.a, d.sys, d.event))
            .map(_._2.last).toSeq.sortBy(d => (d.sys, d.event, d.e))
        else raw
      val want = drive(history, sem, win, frameShape = false)
      val got = drive(history, sem, win, frameShape = true)
      assert(got == want,
        s"sem=$sem win=$win seed=$s:\n want=$want\n got =$got\n history=$history")
      if (want.nonEmpty) nonVacuous += 1
    }
    assert(nonVacuous >= 8, s"too many vacuous samples: $nonVacuous/18")
  }

  test("coarse-cell LWW winners order by FINE time, not partition order") {
    // On a Coarsen lane two same-key facts at distinct fine times can
    // land in ONE coarse cell, where the winner falls to the sequence
    // tie-break. The frame path assigns sequence numbers in fine
    // (sys, event) order WITHIN EACH KEY (hash exchange + per-partition
    // sort — per-key order is all lwwGreater ever compares), so the
    // LATER fine time wins deterministically — what a sequential
    // fine-grained transact stream produces — regardless of the frame's
    // partition/file order.
    def winner(shufflePartitions: Boolean): Seq[(Seq[Any], (Long, Long), Long)] = {
      val bm = new BiMaintained(spark, partitions = 4,
        coarsen = Some((10L, 10L)))
      bm.createAttribute(":cw/x", AttributeConfig(InputSemantics.LastWriteWins))
      bm.register(Rule("q", Plan.MatchA(0, ":cw/x", 1)))
      bm.interest("q")
      // (e=1, old, sys=1, ev=1) and (e=1, new, sys=2, ev=2): same coarse
      // cell (10,10). Build the frame so the OLD fact sits in the LAST
      // partition (the order zipWithIndex would otherwise reward).
      val rows = Seq((1L, ":cw/x", 200L, 2L, 2L, 1L), (1L, ":cw/x", 100L, 1L, 1L, 1L))
      import spark.implicits._
      val df0 = (if (shufflePartitions) rows else rows.reverse)
        .toDF("e", "a", "v", "sys", "event", "diff").repartition(2)
      bm.transactFrame(df0)
      bm.advance(11L)
      bm.drain("q")
    }
    val a = winner(shufflePartitions = true)
    val b = winner(shufflePartitions = false)
    assert(a == b, s"partition order changed the LWW winner:\n a=$a\n b=$b")
    assert(a.exists { case (tuple, _, w) => tuple == Seq(1L, 200L) && w == 1L },
      s"the later fine time must win the coarse cell: $a")
  }

  test("mixed-kind frame (string + numeric attrs in ONE frame) == sequential per-kind frames") {
    import org.apache.spark.sql.functions.struct
    // Heterogeneous backfill: :mk/name STRING, :mk/age LONG — one frame
    // carrying both through the variant-struct v (s/n fields, exactly
    // one non-null per row).
    val rows = Seq(
      (1L, ":mk/name", Some("ada"), None: Option[Long], 0L, 0L, 1L),
      (2L, ":mk/name", Some("bob"), None: Option[Long], 0L, 1L, 1L),
      (1L, ":mk/age", None: Option[String], Some(36L), 0L, 0L, 1L),
      (1L, ":mk/name", Some("ada"), None: Option[Long], 1L, 0L, -1L),
      (2L, ":mk/age", None: Option[String], Some(41L), 1L, 2L, 1L))
    def drive(mixed: Boolean): Out = {
      val bm = new BiMaintained(spark, partitions = 4)
      Seq(":mk/name", ":mk/age").foreach(a =>
        bm.createAttribute(a, AttributeConfig(InputSemantics.Raw)))
      bm.register(Rule("q", Plan.Join(Seq(0),
        Plan.MatchA(0, ":mk/name", 1), Plan.MatchA(0, ":mk/age", 2))))
      bm.interest("q")
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Seq[Any], (Long, Long), Long)]
      import spark.implicits._
      rows.groupBy(_._5).toSeq.sortBy(_._1).foreach { case (s, ds) =>
        val df = ds.toDF("e", "a", "vs", "vn", "sys", "event", "diff")
        if (mixed)
          bm.transactFrame(df.select(col("e"), col("a"),
            struct(col("vs").as("s"), col("vn").as("n")).as("v"),
            col("sys"), col("event"), col("diff")))
        else {
          // Per-kind split: one scalar frame per value type.
          val sf = df.where(col("vs").isNotNull)
            .select(col("e"), col("a"), col("vs").as("v"),
              col("sys"), col("event"), col("diff"))
          val nf = df.where(col("vn").isNotNull)
            .select(col("e"), col("a"), col("vn").as("v"),
              col("sys"), col("event"), col("diff"))
          if (!sf.isEmpty) bm.transactFrame(sf)
          if (!nf.isEmpty) bm.transactFrame(nf)
        }
        bm.advance(s + 1L)
        got ++= bm.drain("q")
      }
      got ++= bm.drain("q")
      ms(got.toSeq)
    }
    val want = drive(mixed = false)
    val got = drive(mixed = true)
    assert(got == want, s"mixed-kind frame diverged:\n want=$want\n got =$got")
    assert(want.nonEmpty, "vacuous mixed-kind case")
  }

  test("mixed-kind frames reject invalid rows and per-attribute kind conflicts, all-or-nothing") {
    import org.apache.spark.sql.functions.struct
    import spark.implicits._
    val bm = new BiMaintained(spark, partitions = 4)
    bm.createAttribute(":mk2/x", AttributeConfig(InputSemantics.Raw))
    bm.register(Rule("q", Plan.MatchA(0, ":mk2/x", 1)))
    bm.interest("q")
    def mkFrame(rows: Seq[(Long, String, Option[String], Option[Long], Long, Long, Long)]): DataFrame =
      rows.toDF("e", "a", "vs", "vn", "sys", "event", "diff")
        .select(col("e"), col("a"),
          struct(col("vs").as("s"), col("vn").as("n")).as("v"),
          col("sys"), col("event"), col("diff"))
    val before = bm.controlPlaneStats
    // A row with BOTH kind fields non-null must reject the whole frame.
    intercept[IllegalArgumentException] { bm.transactFrame(mkFrame(Seq(
      (1L, ":mk2/x", Some("a"), Some(1L), 0L, 0L, 1L)))) }
    // A row with NO kind field non-null must reject too.
    intercept[IllegalArgumentException] { bm.transactFrame(mkFrame(Seq(
      (1L, ":mk2/x", None, None, 0L, 0L, 1L)))) }
    // One attribute carrying two kinds in one frame must reject.
    intercept[IllegalArgumentException] { bm.transactFrame(mkFrame(Seq(
      (1L, ":mk2/x", Some("a"), None, 0L, 0L, 1L),
      (2L, ":mk2/x", None, Some(1L), 0L, 1L, 1L)))) }
    // A struct field outside the s/n/b/r vocabulary must reject.
    intercept[IllegalArgumentException] { bm.transactFrame(
      Seq((1L, ":mk2/x", 1L, 0L, 0L, 1L)).toDF("e", "a", "vx", "sys", "event", "diff")
        .select(col("e"), col("a"), struct(col("vx").as("z")).as("v"),
          col("sys"), col("event"), col("diff"))) }
    assert(bm.controlPlaneStats == before, "rejected frames mutated state")
    assert(bm.datomCountProbe == 0L)
  }

  test("empty frame resets frameIngestProbe instead of reporting the predecessor") {
    val bm = new BiMaintained(spark, partitions = 4)
    bm.createAttribute(":ef/x", AttributeConfig(InputSemantics.Raw))
    bm.transactFrame(frameOf(Seq(BD(1, ":ef/x", 1, 0, 0, 1))))
    assert(bm.frameIngestProbe("datoms") == 1L)
    bm.transactFrame(frameOf(Seq.empty))
    assert(bm.frameIngestProbe ==
      Map("datoms" -> 0L, "driverLatticeRows" -> 0L, "driverAttrRows" -> 0L),
      s"stale probe after empty frame: ${bm.frameIngestProbe}")
  }

  test("attachStream delivery is at-least-once: a failed onDiffs is re-delivered, never lost") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val bm = new BiMaintained(spark, partitions = 4)
    bm.createAttribute(":alo/x", AttributeConfig(InputSemantics.Raw))
    bm.register(Rule("q", Plan.MatchA(0, ":alo/x", 1)))
    bm.interest("q")
    val in = MemoryStream[(Long, String, Long, Long, Long, Long)]
    val frame = in.toDF().toDF("e", "a", "v", "sys", "event", "diff")
    // First attempt: the downstream callback fails AFTER the ingest
    // committed. Pre-fix, the drained diffs were destructively cleared
    // and the replay guard skipped delivery forever — silent loss.
    val q1 = bm.attachStream(frame, "alo-stream") { (_, _) =>
      throw new RuntimeException("downstream sink unavailable")
    }
    in.addData(Seq((1L, ":alo/x", 10L, 0L, 0L, 1L), (2L, ":alo/x", 20L, 0L, 1L, 1L)))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(bm.datomCountProbe == 2L, "ingest itself must have committed")
    // Retry (a fresh query over the same source replays batch 0): the
    // replay guard must skip the double-ingest but FLUSH the pending
    // delivery from the failed attempt.
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Any], (Long, Long), Long)]
    val q2 = bm.attachStream(frame, "alo-stream") { (_, diffs) => got ++= diffs }
    try {
      q2.processAllAvailable()
      assert(bm.datomCountProbe == 2L, "replayed batch double-ingested")
      assert(ms(got.toSeq) == ms(Seq(
        (Seq(1L, 10L), (0L, 0L), 1L), (Seq(2L, 20L), (0L, 1L), 1L))),
        s"re-delivery diverged: $got")
      // And the buffer cleared after the successful delivery: a further
      // batch delivers only its own diffs.
      got.clear()
      in.addData(Seq((3L, ":alo/x", 30L, 1L, 0L, 1L)))
      q2.processAllAvailable()
      assert(ms(got.toSeq) == ms(Seq((Seq(3L, 30L), (1L, 0L), 1L))),
        s"pending buffer leaked into the next batch: $got")
    } finally q2.stop()
  }

  test("attachStream on a Coarsen lane survives mid-bucket batch boundaries") {
    // The auto-advance to maxSys+1 lands mid coarse bucket; because
    // coarsening rounds STRICTLY UP, a later batch in the SAME bucket
    // passes the (coarse) frontier check, and the bucket delivers once
    // a batch lands past its bound (round-14 ADVICE adjudication).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val bm = new BiMaintained(spark, partitions = 4, coarsen = Some((10L, 10L)))
    bm.createAttribute(":cb/x", AttributeConfig(InputSemantics.Raw))
    bm.register(Rule("q", Plan.MatchA(0, ":cb/x", 1)))
    bm.interest("q")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Any], (Long, Long), Long)]
    val in = MemoryStream[(Long, String, Long, Long, Long, Long)]
    val query = bm.attachStream(
      in.toDF().toDF("e", "a", "v", "sys", "event", "diff"),
      "coarse-bucket-stream") { (_, diffs) => got ++= diffs }
    try {
      in.addData(Seq((1L, ":cb/x", 1L, 1L, 0L, 1L)))   // bucket (0,10]
      query.processAllAvailable()                       // frontier -> 2 (mid-bucket)
      in.addData(Seq((2L, ":cb/x", 2L, 5L, 0L, 1L)))   // SAME bucket, later fine sys
      query.processAllAvailable()                       // must not reject
      assert(got.isEmpty, s"bucket delivered before its bound closed: $got")
      in.addData(Seq((3L, ":cb/x", 3L, 15L, 0L, 1L)))  // next bucket: closes (0,10]
      query.processAllAvailable()
      assert(ms(got.toSeq) == ms(Seq(
        (Seq(1L, 1L), (10L, 10L), 1L), (Seq(2L, 2L), (10L, 10L), 1L))),
        s"coarse bucket delivery diverged: $got")
    } finally query.stop()
  }

  test("registerSource is atomic across attributes: a kind conflict rejects the whole source") {
    import graft.sources.FileSources
    val dir = java.nio.file.Files.createTempDirectory("graft-bi-rs")
    val f = dir.resolve("facts.csv")
    java.nio.file.Files.writeString(f, "id,x,y\n1,10,hello\n2,20,world\n")
    val bm = new BiMaintained(spark, partitions = 4)
    // :rs/a is already a STRING attribute; the CSV declares it Number.
    bm.transact(Seq(bm.BiDatom(Value.eid(9), ":rs/a", Value.str("s"), (0L, 0L), 1L)))
    bm.advance(1L)
    val before = bm.datomCountProbe
    // One source, two attributes: :rs/b (fresh, valid) + :rs/a
    // (conflicting). Pre-fix, :rs/b ingested fully before :rs/a's
    // rejection; now the whole source is ONE mixed-kind transactFrame
    // and nothing lands — including no phantom registration of :rs/b.
    intercept[IllegalArgumentException] {
      bm.registerSource(FileSources.CsvFile(path = f.toString,
        schema = Seq(":rs/b" -> ((1, ValueKind.KNumber)),
          ":rs/a" -> ((1, ValueKind.KNumber)))))
    }
    assert(bm.datomCountProbe == before, "rejected source ingested data")
    // No phantom :rs/b registration: re-registering it as a STRING
    // attribute must succeed (a leaked KNumber firstKind would reject).
    bm.registerSource(FileSources.CsvFile(path = f.toString,
      schema = Seq(":rs/b" -> ((2, ValueKind.KString)))))
    assert(bm.datomCountProbe == before + 2L)
    // And the whole-source ingest is ONE frame: a fresh two-kind source
    // lands atomically with the probe seeing a single bulk transact.
    val f2 = dir.resolve("facts2.csv")
    java.nio.file.Files.writeString(f2, "id,n,s,ts\n3,30,aa,5\n4,40,bb,6\n")
    bm.registerSource(FileSources.CsvFile(path = f2.toString,
      schema = Seq(":rs/n" -> ((1, ValueKind.KNumber)),
        ":rs/s" -> ((2, ValueKind.KString))),
      tsOffset = Some(3)))
    assert(bm.frameIngestProbe("datoms") == 4L,
      s"expected one 4-datom frame: ${bm.frameIngestProbe}")
    // Malformed eid cells fail loudly, not as an opaque task NPE.
    val f3 = dir.resolve("bad.csv")
    java.nio.file.Files.writeString(f3, "id,x\noops,1\n")
    val ex = intercept[Exception] {
      bm.registerSource(FileSources.CsvFile(path = f3.toString,
        schema = Seq(":rs/n" -> ((1, ValueKind.KNumber)))))
    }
    assert(ex.getMessage != null &&
      (ex.getMessage.contains("entity id") ||
        String.valueOf(ex.getCause).contains("entity id")),
      s"expected the loud malformed-eid message, got $ex")
    assert(bm.datomCountProbe == before + 6L)
  }

  test("registerSource ingests a parquet table: ts column is the event axis, typed nulls drop") {
    import graft.sources.FileSources
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-bi-pq")
    val f = dir.resolve("facts.parquet").toString
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 1.5, "aa", 10L),
        Row(2L, 2.5, null, 20L), // null label: no :pq/s datom
        Row(3L, 3.5, "cc", 30L)),
      StructType(Seq(
        StructField("id", LongType, false),
        StructField("price", DoubleType, true),
        StructField("label", StringType, true),
        StructField("ts", LongType, false))))
      .write.mode("overwrite").parquet(f)

    val bm = new BiMaintained(spark, partitions = 4)
    bm.register(Rule("r", Plan.MatchA(0, ":pq/r", 1)))
    bm.register(Rule("s", Plan.MatchA(0, ":pq/s", 1)))
    bm.interest("r"); bm.interest("s")
    // Real + String attributes in ONE atomic frame, events from `ts`.
    bm.registerSource(FileSources.ParquetFile(
      path = f, eidColumn = "id",
      attributes = Seq(
        ":pq/r" -> (("price", ValueKind.KReal)),
        ":pq/s" -> (("label", ValueKind.KString))),
      tsColumn = Some("ts")))
    assert(bm.frameIngestProbe("datoms") == 5L, // 3 reals + 2 strings
      s"expected one 5-datom frame: ${bm.frameIngestProbe}")
    bm.advance(1L)
    val reals = bm.drain("r").map { case (t, (sys, ev), w) =>
      (t(0), t(1), sys, ev, w) }.toSet
    assert(reals == Set(
      (1L, 1.5, 0L, 10L, 1L), (2L, 2.5, 0L, 20L, 1L),
      (3L, 3.5, 0L, 30L, 1L)))
    val strs = bm.drain("s").map { case (t, (sys, ev), w) =>
      (t(0), t(1), sys, ev, w) }.toSet
    assert(strs == Set((1L, "aa", 0L, 10L, 1L), (3L, "cc", 0L, 30L, 1L)))
  }

  test("property: registerSource(parquet) drain == equivalent mixed-kind transactFrame drain") {
    // The two bulk bi ingest shapes must agree datom-for-datom: a
    // random mixed-kind table written to parquet and entering through
    // registerSource (scan → explode → mixedV → one atomic frame at
    // sys = frontier, events from the ts column) vs the SAME rows
    // hand-built as a mixed-kind transactFrame. Sources only assert
    // (+1), so the property is positive-diff; retractions are the
    // frame property above.
    import graft.sources.FileSources
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(421L)
    val dir = java.nio.file.Files.createTempDirectory("graft-bi-pqprop")
    (0 until 3).foreach { it =>
      val rows = (0 until (30 + rnd.nextInt(40))).map { i =>
        Row(rnd.nextInt(8).toLong,
          if (rnd.nextBoolean()) rnd.nextInt(5).toDouble / 2.0 else null,
          if (rnd.nextBoolean()) s"w${rnd.nextInt(4)}" else null,
          rnd.nextInt(4).toLong)
      }
      val f = dir.resolve(s"t$it.parquet").toString
      spark.createDataFrame(
        java.util.Arrays.asList(rows.distinct: _*),
        StructType(Seq(
          StructField("id", LongType, false),
          StructField("r", DoubleType, true),
          StructField("s", StringType, true),
          StructField("ts", LongType, false))))
        .write.mode("overwrite").parquet(f)
      def drive(viaSource: Boolean): Out = {
        val bm = new BiMaintained(spark, partitions = 4)
        Seq(s"q$it" -> s":pp$it/r", s"s$it" -> s":pp$it/s").foreach {
          case (rule, a) =>
            // Match the source registration's Distinct semantics on the
            // hand-built branch so duplicate-producing rows agree.
            bm.createAttribute(a, AttributeConfig(InputSemantics.Distinct))
            bm.register(Rule(rule, Plan.MatchA(0, a, 1)))
        }
        bm.interest(s"q$it"); bm.interest(s"s$it")
        if (viaSource)
          bm.registerSource(FileSources.ParquetFile(
            path = f, eidColumn = "id",
            attributes = Seq(
              s":pp$it/r" -> (("r", ValueKind.KReal)),
              s":pp$it/s" -> (("s", ValueKind.KString))),
            tsColumn = Some("ts")))
        else {
          import org.apache.spark.sql.functions.{col, lit, struct}
          val nullN = lit(null).cast(LongType)
          val nullB = lit(null).cast(BooleanType)
          val base = spark.read.parquet(f)
          val mk = (c: org.apache.spark.sql.Column, isS: Boolean) =>
            if (isS) struct(c.as("s"), nullN.as("n"), nullB.as("b"),
              lit(null).cast(DoubleType).as("r"))
            else struct(lit(null).cast(StringType).as("s"), nullN.as("n"),
              nullB.as("b"), c.as("r"))
          val rPart = base.where(col("r").isNotNull).select(
            col("id").as("e"), lit(s":pp$it/r").as("a"),
            mk(col("r"), false).as("v"), lit(0L).as("sys"),
            col("ts").as("event"), lit(1L).as("diff"))
          val sPart = base.where(col("s").isNotNull).select(
            col("id").as("e"), lit(s":pp$it/s").as("a"),
            mk(col("s"), true).as("v"), lit(0L).as("sys"),
            col("ts").as("event"), lit(1L).as("diff"))
          bm.transactFrame(rPart.unionByName(sPart))
        }
        bm.advance(1L)
        ms((bm.drain(s"q$it") ++ bm.drain(s"s$it")).toSeq)
      }
      val want = drive(viaSource = false)
      val got = drive(viaSource = true)
      assert(got == want, s"iteration $it:\n want=$want\n got =$got")
      assert(want.nonEmpty, s"iteration $it produced no diffs (vacuous)")
    }
  }

  test("CloseInput rejects later writes on every ingest path, all-or-nothing") {
    val bm = new BiMaintained(spark, partitions = 4)
    bm.createAttribute(":ci/x", AttributeConfig(InputSemantics.Raw))
    bm.createAttribute(":ci/y", AttributeConfig(InputSemantics.Raw))
    bm.transact(Seq(bm.BiDatom(Value.eid(1), ":ci/x", Value.num(1), (0L, 0L), 1L)))
    bm.advance(1L)
    val before = bm.datomCountProbe
    bm.closeInput(":ci/x")
    // Seq transact: a batch carrying the closed attribute mutates
    // nothing — including its open-attribute datoms.
    val e1 = intercept[IllegalArgumentException] {
      bm.transact(Seq(
        bm.BiDatom(Value.eid(2), ":ci/y", Value.num(2), (1L, 0L), 1L),
        bm.BiDatom(Value.eid(2), ":ci/x", Value.num(2), (1L, 0L), 1L)))
    }
    assert(e1.getMessage.contains("closed"))
    assert(bm.datomCountProbe == before, "closed-input batch mutated state")
    // Bulk frame: same rule through transactFrame's validation window.
    val e2 = intercept[Exception] {
      bm.transactFrame(frameOf(Seq(
        BD(3, ":ci/y", 3, 1, 0, 1), BD(3, ":ci/x", 3, 1, 0, 1))))
    }
    assert(String.valueOf(e2.getMessage).contains("closed"))
    assert(bm.datomCountProbe == before, "closed-input frame mutated state")
    // The open attribute still writes.
    bm.transact(Seq(bm.BiDatom(Value.eid(4), ":ci/y", Value.num(4), (1L, 0L), 1L)))
    assert(bm.datomCountProbe == before + 1L)
  }

  test("closed-time frames reject all-or-nothing; dense lattices trip the cap") {
    val bm = new BiMaintained(spark, partitions = 4)
    bm.createAttribute(":fr2/x", AttributeConfig(InputSemantics.Raw))
    bm.register(Rule("q", Plan.MatchA(0, ":fr2/x", 1)))
    bm.interest("q")
    bm.transactFrame(frameOf(Seq(BD(1, ":fr2/x", 1, 0, 0, 1))))
    bm.advance(1L)
    val before = bm.controlPlaneStats
    // sys=0 is now closed: the whole frame must reject, leaving no
    // phantom pending times or sequence numbers behind.
    intercept[IllegalArgumentException] {
      bm.transactFrame(frameOf(
        Seq(BD(2, ":fr2/x", 2, 1, 0, 1), BD(3, ":fr2/x", 3, 0, 0, 1))))
    }
    assert(bm.controlPlaneStats == before)
    assert(bm.datomCountProbe == 1L)
    // A dense windowless history must fail loudly at the lattice cap,
    // not collect a data-sized driver lattice.
    val prev = sys.props.put("graft.bi.lattice.cap", "100")
    try {
      val dense = spark.range(1000L).select(
        col("id").as("e"), lit(":fr2/x").as("a"), col("id").as("v"),
        (col("id") + 1L).as("sys"), col("id").as("event"), lit(1L).as("diff"))
      val ex = intercept[IllegalArgumentException] { bm.transactFrame(dense) }
      assert(ex.getMessage.contains("Coarsen"), ex.getMessage)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.bi.lattice.cap") = v
        case None    => sys.props.remove("graft.bi.lattice.cap")
      }
    }
  }
}
