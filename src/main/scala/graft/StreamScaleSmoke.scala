package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import org.apache.spark.sql.functions.col

import graft.engine.BiEngine
import graft.model._
import graft.streaming.{BiStream, IncrementalClosure, IncrementalHector}

/** One-off streaming-scale smoke (SCALE_NOTES.md "streaming smoke"
  * section): drives the three streaming engines with large micro-batches,
  * records per-batch latency against accumulated state, and confirms the
  * driver gates trip LOUDLY (a clean require, not an OOM) when fed a
  * data-sized batch:
  *
  *  1. [[IncrementalClosure]] — per-batch closure maintenance latency as
  *     totals grow; then a 2M-edge batch against a 1M gate.
  *  2. [[IncrementalHector]] — per-batch latency AND shuffled records for
  *     constant 5k-row deltas while binding state grows to ~1M rows (the
  *     delta-proportional state maintenance property).
  *  3. [[BiStream]] — control-sized transactions, then a 500k-datom batch
  *     against the default 100k transaction gate.
  *
  * Prints `[scale] ...` lines consumed into SCALE_NOTES.md.
  */
object StreamScaleSmoke {

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    // Shared session posture — see GraftSession. (This builder used to be
    // a fifth copy-paste and drifted: it missed the sort-writer setting
    // for a round.)
    val spark = GraftSession
      .builder("32", appName = "graft-stream-scale-smoke").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Comma-separated subset for local iteration, e.g.
    // GRAFT_SMOKE_ONLY=idx; unset runs every section.
    val only = sys.env.get("GRAFT_SMOKE_ONLY").map(_.split(",").toSet)
    def section(n: String): Boolean = only.forall(_.contains(n))

    // ---------------------------------------------------- 1. closure
    if (section("closure")) {
      val chains = 256
      val batches = 50
      val inc = new IncrementalClosure(spark, partitions = 32)
      // Per batch: ONE new edge prepended at each chain's head — new
      // closure tuples = chains × len (the engine's one-round regime, the
      // shape a firehose of novel prefix facts takes).
      var t = 0L
      (1 to batches).foreach { b =>
        val edges = (0 until chains).map { c =>
          val base = c.toLong * 1000000L
          (base + batches - b, base + batches - b + 1)
        }
        t += 1
        val t0 = now()
        val out = inc.advance(edges, t)
        val fresh = out.count()
        val dt = secs(t0)
        if (b % 10 == 0 || b == 1)
          println(f"[scale] closure batch=$b%d fresh=$fresh%d total=${inc.size}%d sec=$dt%.2f")
      }
      // Gate: a 2M-edge distinct batch against a 1M-edge broadcast gate
      // must fail in the distributed count, before any driver collect.
      val gated = new IncrementalClosure(spark, partitions = 32, maxEdges = 1000000L)
      val fire = spark.range(2000000L).rdd.map(i => (i.toLong, i.toLong + 10000000L))
      val t0 = now()
      try {
        gated.advanceRdd(fire, 1L)
        println("[scale] closure-gate FAILED TO TRIP")
      } catch {
        case e: IllegalArgumentException =>
          println(f"[scale] closure-gate tripped loudly in ${secs(t0)}%.2f s: " +
            e.getMessage.linesIterator.next())
      }
    }

    // ----------------------------------------------------- 2. hector
    if (section("hector")) {
      val inc = new IncrementalHector(spark, Seq(0, 1, 2), Seq(
        Binding.attribute(0, ":sm/a", 1),
        Binding.attribute(0, ":sm/b", 2)),
        Map(":sm/a" -> ValueKind.KNumber, ":sm/b" -> ValueKind.KNumber))
      val shuffled = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      def delta(from: Long, n: Long) =
        spark.range(from, from + n).select(col("id").as("e"),
          (col("id") * 3L).as("v"), org.apache.spark.sql.functions.lit(1L).as("diff"))
      // Seed both bindings (unique entities: join fan-out 1); override
      // the seed size with GRAFT_SMOKE_HECTOR_SEED for growth A/Bs.
      val seedN = sys.env.get("GRAFT_SMOKE_HECTOR_SEED").map(_.toLong)
        .getOrElse(1000000L)
      var t0 = now()
      val seeded = inc.advance(Map(0 -> delta(0L, seedN), 1 -> delta(0L, seedN)))
      println(f"[scale] hector seed state=${seedN}%dx2 out=${seeded.count()}%d sec=${secs(t0)}%.1f")
      (1 to 8).foreach { b =>
        val from = seedN + b * 5000L
        shuffled.set(0)
        t0 = now()
        val out = inc.advance(Map(0 -> delta(from, 5000L), 1 -> delta(from, 5000L)))
        val n = out.count()
        val dt = secs(t0)
        Thread.sleep(500) // listener bus drain
        println(f"[scale] hector batch=$b%d delta=5000x2 out=$n%d " +
          f"state=${seedN + b * 5000L}%d shuffleRecords=${shuffled.get}%d sec=$dt%.2f")
      }
      spark.sparkContext.removeSparkListener(listener)
      val resMB = (inc.stateIndexMeasuredBytes(0) +
        inc.stateIndexMeasuredBytes(1)) / 1048576L
      println(f"[scale] hector state residentMB=$resMB%d")
    }

    // ----------------- 2b. hector probe coverage extensions (hector2)
    // Round-10 probe shapes at large state: a DISCONNECTED conjunction
    // (2M-row connected component × a 4-row detached dimension — the
    // scan step's cross is bounded by the small component) and a
    // RATIONAL-kind equality join (values travel as canonicalized
    // struct rows). Constant 5k deltas must stay flat as state grows —
    // both shapes run on the arrangement-probe path (spec-asserted).
    if (section("hector2")) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StructField => SF, _}
      // -- disconnected: q(0,1,2,3): big(0,1) x dim(2,3)
      val disc = new IncrementalHector(spark, Seq(0, 1, 2, 3), Seq(
        Binding.attribute(0, ":h2/big", 1),
        Binding.attribute(2, ":h2/dim", 3)),
        Map(":h2/big" -> ValueKind.KNumber, ":h2/dim" -> ValueKind.KNumber))
      def bigDelta(from: Long, n: Long) =
        spark.range(from, from + n).select(col("id").as("e"),
          (col("id") * 3L).as("v"),
          org.apache.spark.sql.functions.lit(1L).as("diff"))
      val dimRows = spark.range(0L, 4L).select(col("id").as("e"),
        (col("id") + 100L).as("v"),
        org.apache.spark.sql.functions.lit(1L).as("diff"))
      // Grow the connected side 2M -> 8M through bulk loads; constant 5k
      // batches must stay flat at every size (the VERDICT #3 8M-state bar).
      var t0 = now()
      var base = 0L
      for (bulk <- Seq(2000000L, 3000000L, 3000000L)) {
        t0 = now()
        val n0 = disc.advance(Map(0 -> bigDelta(base, bulk)) ++
          (if (base == 0L) Map(1 -> dimRows) else Map.empty)).count()
        base += bulk
        println(f"[scale] hector2-disc bulk state=${base}%dx4dim " +
          f"out=$n0%d sec=${secs(t0)}%.1f")
        (1 to 2).foreach { b =>
          val from = 30000000L + base + b * 5000L
          t0 = now()
          val n = disc.advance(Map(0 -> bigDelta(from, 5000L))).count()
          println(f"[scale] hector2-disc batch=$b%d delta=5000 out=$n%d " +
            f"state=$base%d sec=${secs(t0)}%.2f")
        }
      }
      // -- rational-kind equality join at 4M rows per side (8M state)
      val ratSchema = StructType(Seq(SF("e", LongType, false),
        SF("v", ValueKind.KRational.dataType, false),
        SF("diff", LongType, false)))
      def ratDelta(from: Long, n: Long) = spark.createDataFrame(
        spark.range(from, from + n).rdd.map { i =>
          Row(i.toLong, Row(i % 2000000L, 7L), 1L)
        }, ratSchema)
      val rat = new IncrementalHector(spark, Seq(0, 1, 2), Seq(
        Binding.attribute(0, ":h2/ra", 1),
        Binding.attribute(2, ":h2/rb", 1)),
        Map(":h2/ra" -> ValueKind.KRational, ":h2/rb" -> ValueKind.KRational))
      t0 = now()
      val seeded3 = rat.advance(Map(
        0 -> ratDelta(0L, 4000000L), 1 -> ratDelta(0L, 4000000L)))
      println(f"[scale] hector2-rational seed state=4000000x2 " +
        f"out=${seeded3.count()}%d sec=${secs(t0)}%.1f")
      (1 to 4).foreach { b =>
        val from = 4000000L + b * 2500L
        t0 = now()
        val n = rat.advance(Map(
          0 -> ratDelta(from, 2500L), 1 -> ratDelta(from, 2500L))).count()
        println(f"[scale] hector2-rational batch=$b%d delta=2500x2 out=$n%d " +
          f"state=${from + 2500L}%d sec=${secs(t0)}%.2f")
      }
    }

    // ---------------------------------------------------- 3. bistream
    if (section("bistream")) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val engine = new BiEngine(spark)
      engine.createAttribute(":sm/x", AttributeConfig(InputSemantics.LastWriteWins))
      engine.register(Rule("q", Plan.MatchA(0, ":sm/x", 1)))
      engine.interest("q")
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
        (Long, String, Long, Long, Long, Long)]
      var delivered = 0L
      val query = new BiStream(engine).attach(
        in.toDF.toDF("e", "a", "v", "sys", "event", "diff"), "scale-smoke-bi") {
        (_, diffs) => delivered += diffs.length
      }
      try {
        (0 until 4).foreach { b =>
          val t0 = now()
          in.addData((0 until 2000).map(i =>
            ((b * 2000 + i).toLong, ":sm/x", i.toLong, b.toLong, b.toLong, 1L)))
          query.processAllAvailable()
          println(f"[scale] bistream batch=$b%d tx=2000 delivered=$delivered%d sec=${secs(t0)}%.2f")
        }
        // Gate: a 500k-datom "transaction" against the 100k default gate.
        in.addData((0 until 500000).map(i =>
          ((1000000 + i).toLong, ":sm/x", i.toLong, 9L, 9L, 1L)))
        val t0 = now()
        try {
          query.processAllAvailable()
          println("[scale] bistream-gate FAILED TO TRIP")
        } catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            val msg = Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null).take(20)
              .map(c => String.valueOf(c.getMessage))
              .find(_.contains("transaction gate")).getOrElse(e.getMessage)
            println(f"[scale] bistream-gate tripped loudly in ${secs(t0)}%.2f s: " +
              msg.linesIterator.next())
        }
      } finally query.stop()
    }

    // ------------------------------------- 4. composed IncrementalQuery
    if (section("composed")) {
      import graft.streaming.IncrementalQuery
      val kinds = Map(":sm/a" -> ValueKind.KNumber, ":sm/b" -> ValueKind.KNumber)
      val shuffled = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
      def delta(from: Long, n: Long, sign: Long = 1L) =
        spark.range(from, from + n).select(col("id").as("e"),
          (col("id") * 3L).as("v"), org.apache.spark.sql.functions.lit(sign).as("diff"))

      // Aggregate over a conjunction — COUNT per entity, maintained
      // through both state classes (hector inputs + keyed agg support).
      val agg = new IncrementalQuery(spark,
        Plan.Aggregate(Seq(0, 2), Plan.Hector(Seq(0, 1, 2), Seq(
          Binding.attribute(0, ":sm/a", 1), Binding.attribute(0, ":sm/b", 2))),
          Seq(AggregationFn.COUNT), Seq(0), Seq(2), Seq.empty), kinds)
      var t0 = now()
      val seeded = agg.advance(Map(
        ":sm/a" -> delta(0L, 1000000L), ":sm/b" -> delta(0L, 1000000L)))
      println(f"[scale] composed-agg seed state=1000000x2 out=${seeded.count()}%d sec=${secs(t0)}%.1f")
      spark.sparkContext.addSparkListener(listener)
      (1 to 6).foreach { b =>
        val from = 1000000L + b * 5000L
        shuffled.set(0)
        t0 = now()
        val out = agg.advance(Map(
          ":sm/a" -> delta(from, 5000L), ":sm/b" -> delta(from, 5000L)))
        val n = out.count()
        val dt = secs(t0)
        Thread.sleep(500) // listener bus drain
        println(f"[scale] composed-agg batch=$b%d delta=5000x2 out=$n%d " +
          f"state=${1000000L + b * 5000L}%d shuffleRecords=${shuffled.get}%d sec=$dt%.2f")
      }
      spark.sparkContext.removeSparkListener(listener)

      // Antijoin — 1M distinct left rows, right-key flips bulk-retract
      // and re-assert their co-partitioned left support.
      val anti = new IncrementalQuery(spark,
        Plan.Antijoin(Seq(0), Plan.MatchA(0, ":sm/a", 1),
          Plan.Project(Seq(0), Plan.MatchA(0, ":sm/b", 2))), kinds)
      t0 = now()
      val aSeed = anti.advance(Map(":sm/a" -> delta(0L, 1000000L)))
      println(f"[scale] antijoin seed left=1000000 out=${aSeed.count()}%d sec=${secs(t0)}%.1f")
      spark.sparkContext.addSparkListener(listener)
      (1 to 4).foreach { b =>
        // 2k right keys flip in (bulk retract of their left rows), the
        // previous batch's 2k flip back out (bulk re-assert).
        val flipIn = delta(b * 2000L, 2000L)
        val flipOut = delta((b - 1) * 2000L, 2000L, -1L)
        shuffled.set(0)
        t0 = now()
        val out = anti.advance(Map(":sm/b" ->
          (if (b == 1) flipIn else flipIn.unionByName(flipOut))))
        val n = out.count()
        val dt = secs(t0)
        Thread.sleep(500)
        println(f"[scale] antijoin batch=$b%d rightFlips=${if (b == 1) 2000 else 4000}%d " +
          f"out=$n%d left=1000000 shuffleRecords=${shuffled.get}%d sec=$dt%.2f")
      }
      spark.sparkContext.removeSparkListener(listener)
    }

    // --------------------------- 5. distributed-adjacency closure (>5M)
    // The upgrade path past IncrementalClosure's 5M broadcast gate: the
    // adjacency lives as co-partitioned RDD copies + per-batch partition
    // indexes, so the edge relation has NO driver ceiling. Deterministic
    // disjoint 3-edge chains make every expectation exact: 6 closure
    // tuples per chain; deleting a chain's middle edge retracts exactly
    // the 4 paths through it.
    if (section("dist")) {
      import graft.streaming.DistributedClosure
      val dist = new DistributedClosure(spark, partitions = 32)
      val edgesPerChain = 3
      val bulkBatches = 5
      val chainsPerBulk = 340000L
      def chainEdges(c0: Long, n: Long) =
        spark.sparkContext.range(c0, c0 + n, 1, 32).flatMap { c =>
          val base = c * 10L
          (0 until edgesPerChain).map(i => (base + i, base + i + 1))
        }
      var t = 0L
      (0 until bulkBatches).foreach { b =>
        t += 1
        val t0 = now()
        val out = dist.advanceRdd(chainEdges(b * chainsPerBulk, chainsPerBulk), t)
        val n = out.count()
        println(f"[scale] dist-closure bulk=$b%d edges=${dist.edgeSize}%d " +
          f"fresh=$n%d sec=${secs(t0)}%.1f")
      }
      val gateNote =
        if (dist.edgeSize > 5000000L) "PAST the sibling's 5M broadcast gate"
        else "FAILED: below 5M"
      println(s"[scale] dist-closure edges=${dist.edgeSize} ($gateNote) " +
        s"closure=${dist.size}")
      // Small batches against the >5M-edge state: per-batch latency must
      // stay flat (narrow O(state/p) copy rebuild + O(delta) shuffles).
      (1 to 5).foreach { b =>
        t += 1
        val c0 = bulkBatches * chainsPerBulk + b * 1000L
        val t0 = now()
        val out = dist.advanceRdd(chainEdges(c0, 300L), t)
        val n = out.count()
        val ok = if (n == 300L * 6) "" else " EXPECTED 1800 — FAILED"
        println(f"[scale] dist-closure inc=$b%d newChains=300 out=$n%d " +
          f"sec=${secs(t0)}%.1f$ok")
      }
      // DRed at scale: retract the middle edge of 1000 chains — exactly
      // 4 retractions per chain ({a,b}×{c,d} paths), nothing rederived.
      t += 1
      val dels = spark.sparkContext.range(0L, 1000L, 1, 4)
        .map(c => ((c * 10L + 1, c * 10L + 2), -1L))
      val t0 = now()
      val out = dist.advanceSignedRdd(dels, t)
      val retr = out.where(col("diff") === -1L).count()
      val asserted = out.where(col("diff") === 1L).count()
      val ok = if (retr == 4000L && asserted == 0L) ""
        else " EXPECTED retracted=4000 asserted=0 — FAILED"
      println(f"[scale] dist-closure dred dels=1000 retracted=$retr%d " +
        f"asserted=$asserted%d sec=${secs(t0)}%.1f$ok")
    }

    // ------------------- 6. general recursion node (non-TC labelprop)
    // The general clique maintainer at 1M-fact state: disjoint 4-node
    // chains with a seeded label at each head make every expectation
    // exact — reach = 4 facts per chain; deleting a chain's MIDDLE edge
    // retracts exactly the 2 facts below it (no rederivation paths).
    // Bulk load takes the batch-fixpoint delegation; small delta batches
    // take the per-round delta rules with shuffle records pinned.
    if (section("recursion")) {
      import graft.streaming.IncrementalQuery
      val kinds = Map(
        ":sm/edge" -> ValueKind.KNumber, ":sm/seed" -> ValueKind.KNumber)
      val reachRule = Plan.Union(Seq(0, 1), Seq(
        Plan.MatchA(0, ":sm/seed", 1),
        Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
          Plan.MatchA(2, ":sm/edge", 0), Plan.NameExpr(Seq(2, 1), "reach")))))
      val iq = new IncrementalQuery(spark,
        Plan.NameExpr(Seq(0, 1), "reach"), kinds,
        Map("reach" -> reachRule))
      val chainLen = 3 // edges per chain; reach facts per chain = 4
      def chainDeltas(c0: Long, n: Long) = {
        val edges = spark.range(c0, c0 + n)
          .selectExpr("explode(sequence(0, 2)) as i", "id")
          .select((col("id") * 10L + col("i")).as("e"),
            (col("id") * 10L + col("i") + 1L).as("v"),
            org.apache.spark.sql.functions.lit(1L).as("diff"))
        val seeds = spark.range(c0, c0 + n)
          .select((col("id") * 10L).as("e"),
            (col("id") % 1000L).as("v"),
            org.apache.spark.sql.functions.lit(1L).as("diff"))
        Map(":sm/edge" -> edges, ":sm/seed" -> seeds)
      }
      val bulkChains = 250000L
      var t0 = now()
      val seeded = iq.advance(chainDeltas(0L, bulkChains))
      val nSeed = seeded.count()
      val okSeed = if (nSeed == bulkChains * (chainLen + 1)) ""
        else f" EXPECTED ${bulkChains * (chainLen + 1)}%d — FAILED"
      println(f"[scale] recursion bulk chains=$bulkChains%d reach=$nSeed%d " +
        f"sec=${secs(t0)}%.1f (batch-fixpoint delegation)$okSeed")
      val shuffled = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      (1 to 4).foreach { b =>
        val c0 = bulkChains + b * 1000L
        shuffled.set(0)
        t0 = now()
        val out = iq.advance(chainDeltas(c0, 300L))
        val n = out.count()
        val dt = secs(t0)
        Thread.sleep(500) // listener bus drain
        val ok = if (n == 300L * (chainLen + 1)) "" else " EXPECTED 1200 — FAILED"
        println(f"[scale] recursion inc=$b%d newChains=300 out=$n%d " +
          f"state=${(bulkChains + b * 300L) * (chainLen + 1)}%d " +
          f"shuffleRecords=${shuffled.get}%d sec=$dt%.2f$ok")
      }
      // DRed: retract the middle edge of 1000 chains — exactly the two
      // below-the-cut facts per chain retract, nothing rederives.
      shuffled.set(0)
      t0 = now()
      val dels = spark.range(0L, 1000L)
        .select((col("id") * 10L + 1L).as("e"), (col("id") * 10L + 2L).as("v"),
          org.apache.spark.sql.functions.lit(-1L).as("diff"))
      val out = iq.advance(Map(":sm/edge" -> dels))
      val retr = out.where(col("_w") < 0L).count()
      val asserted = out.where(col("_w") > 0L).count()
      Thread.sleep(500)
      val ok = if (retr == 2000L && asserted == 0L) ""
        else " EXPECTED retracted=2000 asserted=0 — FAILED"
      println(f"[scale] recursion dred dels=1000 retracted=$retr%d " +
        f"asserted=$asserted%d shuffleRecords=${shuffled.get}%d " +
        f"sec=${secs(t0)}%.1f$ok")
      spark.sparkContext.removeSparkListener(listener)
    }

    // ---------------- 7. bilinear pull/join nodes at 1M-row state
    // The two-sided support-table discipline (JoinNode / PullLevelNode):
    // per-batch shuffle must stay O(delta) as both sides' states grow.
    // Disjoint entities make expectations exact: each batch touches 500
    // fresh entities with one child row and one attribute row each →
    // exactly 500 pull rows (plus nothing from the 1M untouched).
    if (section("pull")) {
      import graft.streaming.IncrementalQuery
      val kinds = Map(
        ":pm/name" -> ValueKind.KNumber, ":pm/val" -> ValueKind.KNumber)
      val pull = Plan.PullLevel(Seq.empty,
        Plan.Project(Seq(0), Plan.MatchA(0, ":pm/name", 1)),
        pullVariable = 0, pullAttributes = Seq(":pm/val"),
        pathAttributes = Seq.empty, cardinalityMany = false)
      val iq = new IncrementalQuery(spark, pull, kinds)
      def delta(from: Long, n: Long) = Map(
        ":pm/name" -> spark.range(from, from + n).select(col("id").as("e"),
          (col("id") * 2L).as("v"),
          org.apache.spark.sql.functions.lit(1L).as("diff")),
        ":pm/val" -> spark.range(from, from + n).select(col("id").as("e"),
          (col("id") * 3L).as("v"),
          org.apache.spark.sql.functions.lit(1L).as("diff")))
      var t0 = now()
      val seeded = iq.advance(delta(0L, 1000000L))
      println(f"[scale] pull-node seed state=1000000x2 out=${seeded.count()}%d " +
        f"sec=${secs(t0)}%.1f")
      val shuffled = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      (1 to 4).foreach { b =>
        val from = 1000000L + b * 500L
        shuffled.set(0)
        t0 = now()
        val out = iq.advance(delta(from, 500L))
        val n = out.count()
        Thread.sleep(500)
        val ok = if (n == 500L) "" else " EXPECTED 500 — FAILED"
        println(f"[scale] pull-node batch=$b%d delta=500x2 out=$n%d " +
          f"state=${1000000L + b * 500L}%d shuffleRecords=${shuffled.get}%d " +
          f"sec=${secs(t0)}%.2f$ok")
      }
      spark.sparkContext.removeSparkListener(listener)
    }

    // --------------- 8. indexed state store: 1M → 10M flatness
    // The StateCell contract at growth: constant 5k deltas while the
    // aggregate and conjunction (general JoinNode) states grow 1M → 10M
    // rows. Per-batch wall time AND narrow records READ (cached-block
    // input + shuffle read) must stay flat — the former discipline
    // re-read and re-checkpointed O(state/p) per advance, so its reads
    // grew linearly with state.
    // Resident-set protocol: a commit transiently holds TWO state
    // generations (the new one materializes before the superseded one
    // drops), so the storage pool must fit ~2× the declared state bytes
    // — run 10M-row sections with SPARK_DRIVER_MEM=24g; past the pool
    // the store degrades to disk-serialized blocks (slow, not wrong).
    if (section("idx")) {
      import graft.streaming.IncrementalQuery
      val kinds = Map(":ix/a" -> ValueKind.KNumber, ":ix/b" -> ValueKind.KNumber)
      val readRecs = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) readRecs.addAndGet(m.inputMetrics.recordsRead +
            m.shuffleReadMetrics.recordsRead)
        }
      }
      def delta(from: Long, n: Long, mod: Long) =
        spark.range(from, from + n).select(col("id").as("e"),
          (col("id") % mod).as("v"), org.apache.spark.sql.functions.lit(1L).as("diff"))
      val aggPlan = Plan.Aggregate(Seq(1, 2), Plan.MatchA(1, ":ix/a", 2),
        Seq(AggregationFn.COUNT), Seq(1), Seq(2), Seq.empty)
      val joinPlan = Plan.Join(Seq(1),
        Plan.Union(Seq(1, 2), Seq(Plan.MatchA(1, ":ix/a", 2))),
        Plan.MatchA(1, ":ix/b", 3))
      for ((label, plan) <- Seq("idx-agg" -> aggPlan, "idx-join" -> joinPlan)) {
        val iq = new IncrementalQuery(spark, plan, kinds)
        def batch(from: Long, n: Long) = Map(
          ":ix/a" -> delta(from, n, 97L), ":ix/b" -> delta(from, n, 89L))
        var grown = 0L
        for (step <- Seq(1000000L, 4000000L, 5000000L)) { // 1M → 5M → 10M
          val t0 = now()
          iq.advance(batch(grown, step)).count()
          grown += step
          println(f"[scale] $label%s grow to state=$grown%d sec=${secs(t0)}%.1f")
          spark.sparkContext.addSparkListener(listener)
          readRecs.set(0)
          val tb = now()
          val out = iq.advance(batch(20000000L + grown, 5000L)).count()
          val dt = secs(tb)
          Thread.sleep(500) // listener bus drain
          println(f"[scale] $label%s batch delta=5000x2 out=$out%d " +
            f"state=$grown%d readRecords=${readRecs.get}%d sec=$dt%.2f")
          spark.sparkContext.removeSparkListener(listener)
        }
      }
    }

    // --------------------- 7b. partitioned-arrangement recursion (arr)
    // The linear kernel past its broadcast ceiling: a labelprop static
    // side of 2M → 4M edges (the 10MB gate caps out near 131k rows), so
    // deep delta rounds run on the partitioned arrangement — built once,
    // then MAINTAINED by structural sharing as the edge input grows.
    // Constant 300-chain increments must stay flat as the static side
    // doubles; the spec-side planning test pins the zero-per-round
    // Catalyst property.
    if (section("arr")) {
      import graft.streaming.IncrementalQuery
      val kinds = Map(
        ":ar/edge" -> ValueKind.KNumber, ":ar/seed" -> ValueKind.KNumber)
      val reachRule = Plan.Union(Seq(0, 1), Seq(
        Plan.MatchA(0, ":ar/seed", 1),
        Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
          Plan.MatchA(2, ":ar/edge", 0), Plan.NameExpr(Seq(2, 1), "reach")))))
      val iq = new IncrementalQuery(spark,
        Plan.NameExpr(Seq(0, 1), "reach"), kinds,
        Map("reach" -> reachRule))
      def chainDeltas(c0: Long, n: Long) = {
        val edges = spark.range(c0, c0 + n)
          .selectExpr("explode(sequence(0, 2)) as i", "id")
          .select((col("id") * 10L + col("i")).as("e"),
            (col("id") * 10L + col("i") + 1L).as("v"),
            org.apache.spark.sql.functions.lit(1L).as("diff"))
        val seeds = spark.range(c0, c0 + n)
          .select((col("id") * 10L).as("e"),
            (col("id") % 1000L).as("v"),
            org.apache.spark.sql.functions.lit(1L).as("diff"))
        Map(":ar/edge" -> edges, ":ar/seed" -> seeds)
      }
      var base = 0L
      for (phase <- 1 to 2) {
        val bulk = 666667L // ~2M edges per bulk phase
        var t0 = now()
        val n0 = iq.advance(chainDeltas(base, bulk)).count()
        base += bulk
        println(f"[scale] arr bulk phase=$phase%d edges=${base * 3}%d " +
          f"out=$n0%d sec=${secs(t0)}%.1f")
        (1 to 3).foreach { b =>
          t0 = now()
          val out = iq.advance(chainDeltas(base, 300L)).count()
          base += 300L
          val ok = if (out == 1200L) "" else " EXPECTED 1200 — FAILED"
          println(f"[scale] arr inc phase=$phase%d batch=$b%d newChains=300 " +
            f"out=$out%d staticEdges=${base * 3}%d sec=${secs(t0)}%.2f$ok")
        }
      }
      // DRed through the arrangement: retract the middle edge of 1000
      // phase-1 chains — exactly two facts per chain retract.
      val t0 = now()
      val dels = spark.range(0L, 1000L)
        .select((col("id") * 10L + 1L).as("e"), (col("id") * 10L + 2L).as("v"),
          org.apache.spark.sql.functions.lit(-1L).as("diff"))
      val out = iq.advance(Map(":ar/edge" -> dels))
      val retr = out.where(col("_w") < 0L).count()
      val asserted = out.where(col("_w") > 0L).count()
      val ok = if (retr == 2000L && asserted == 0L) ""
        else " EXPECTED retracted=2000 asserted=0 — FAILED"
      println(f"[scale] arr dred dels=1000 retracted=$retr%d " +
        f"asserted=$asserted%d sec=${secs(t0)}%.1f$ok")
    }

    // -------- 7c. packed-run support cells: 1M -> 10M resident (idx2)
    // The threshold/distinct support class and the group-index classes
    // on the packed-run cells: resident bytes and per-batch wall time as
    // state grows. SizeEstimator walks are real measurements, run once
    // per growth step.
    if (section("idx2")) {
      import graft.streaming.IncrementalQuery
      val kinds2 = Map(":p2/a" -> ValueKind.KNumber,
        ":p2/b" -> ValueKind.KNumber)
      val plan2 = Plan.Union(Seq(1, 2), Seq(Plan.MatchA(1, ":p2/a", 2)))
      // Aggregate + general-join shapes for the GROUP-INDEX cells
      // (key-grouped supports: the remaining boxed class until round 10).
      val aggPlan2 = Plan.Aggregate(Seq(2, 1), Plan.MatchA(1, ":p2/a", 2),
        Seq(AggregationFn.COUNT), Seq(2), Seq(1), Seq.empty)
      val joinPlan2 = Plan.Join(Seq(1),
        Plan.Union(Seq(1, 2), Seq(Plan.MatchA(1, ":p2/a", 2))),
        Plan.MatchA(1, ":p2/b", 3))
      val iq = new IncrementalQuery(spark, plan2, kinds2)
      def delta(from: Long, n: Long) =
        spark.range(from, from + n).select(col("id").as("e"),
          (col("id") * 7L).as("v"),
          org.apache.spark.sql.functions.lit(1L).as("diff"))
      var grown = 0L
      for (step <- Seq(1000000L, 4000000L, 5000000L)) {
        var t0 = now()
        iq.advance(Map(":p2/a" -> delta(grown, step))).count()
        grown += step
        val gsec = secs(t0)
        t0 = now()
        val out = iq.advance(
          Map(":p2/a" -> delta(30000000L + grown, 5000L))).count()
        val bsec = secs(t0)
        val mb = iq.supportStateMeasuredBytes / 1048576L
        println(f"[scale] idx2-threshold state=$grown%d " +
          f"growSec=$gsec%.1f batch5k=$bsec%.2f out=$out%d residentMB=$mb%d")
      }
      // Group-index classes at 5M rows per side.
      for ((label, plan3) <- Seq(
          "idx2-join" -> joinPlan2, "idx2-agg" -> aggPlan2)) {
        val iq3 = new IncrementalQuery(spark, plan3, kinds2)
        def deltas(from: Long, n: Long) = Map(
          ":p2/a" -> delta(from, n),
          ":p2/b" -> spark.range(from, from + n).select(col("id").as("e"),
            (col("id") * 11L).as("v"),
            org.apache.spark.sql.functions.lit(1L).as("diff")))
        var t0 = now()
        iq3.advance(deltas(0L, 5000000L)).count()
        val gsec = secs(t0)
        t0 = now()
        val out3 = iq3.advance(deltas(40000000L, 5000L)).count()
        val bsec = secs(t0)
        val mb = iq3.groupStateMeasuredBytes / 1048576L
        println(f"[scale] $label%s state=5000000 " +
          f"growSec=$gsec%.1f batch5k=$bsec%.2f out=$out3%d residentMB=$mb%d")
      }
      // STRING-KEYED cells (round-11: dictionary-encoded packed
      // columns) — a COUNT keyed by a string value and a pull over
      // a string attribute, 5M rows each at ~1000 distinct strings:
      // the packed side holds 8-byte codes + a 1000-entry
      // dictionary where the boxed trie holds 5M string-bearing
      // map entries.
      val kindsS = Map(":p2/s" -> ValueKind.KString,
        ":p2/n" -> ValueKind.KNumber)
      def strDelta(from: Long, n: Long) = Map(
        ":p2/s" -> spark.range(from, from + n).select(col("id").as("e"),
          org.apache.spark.sql.functions
            .concat_ws("-", org.apache.spark.sql.functions.lit("grp"),
              (col("id") % 1000L)).as("v"),
          org.apache.spark.sql.functions.lit(1L).as("diff")),
        ":p2/n" -> delta(from, n))
      val aggPlanS = Plan.Aggregate(Seq(2, 1), Plan.MatchA(1, ":p2/s", 2),
        Seq(AggregationFn.COUNT), Seq(2), Seq(1), Seq.empty)
      val pullPlanS = Plan.PullLevel(Seq.empty,
        Plan.Project(Seq(0), Plan.MatchA(0, ":p2/n", 1)),
        pullVariable = 0, pullAttributes = Seq(":p2/s"),
        pathAttributes = Seq.empty, cardinalityMany = false)
      for ((label, planS) <- Seq(
          "idx2-stragg" -> aggPlanS, "idx2-strpull" -> pullPlanS)) {
        val iqS = new IncrementalQuery(spark, planS, kindsS)
        var t0 = now()
        iqS.advance(strDelta(0L, 5000000L)).count()
        val gsec = secs(t0)
        t0 = now()
        val outS = iqS.advance(strDelta(40000000L, 5000L)).count()
        val bsec = secs(t0)
        val mb = (iqS.groupStateMeasuredBytes +
          iqS.supportStateMeasuredBytes) / 1048576L
        println(f"[scale] $label%s state=5000000 " +
          f"growSec=$gsec%.1f batch5k=$bsec%.2f out=$outS%d residentMB=$mb%d")
      }
    }

    // ------------------------------------------- 8. bitemporal (bi)
    // Distributed bitemporal serving (BiMaintained on the CellBiStore
    // sibling, dial forced): history grows 100k → ~10M datoms through
    // constant-size advances; per-advance wall time must track the
    // DELTA (flat for equal batches, small for the 5k probes against
    // 10M accumulated state), and the driver control plane (time
    // lattice + output-sized ledger/result) must stay constant-sized —
    // the datoms live in the StateCell partitions.
    // ------------- batch fixpoint past the broadcast gate (fixarr)
    // The BATCH compiler's linear kernel loses its broadcast ceiling
    // (round-10 VERDICT #3): a 6M-edge static side (~10× the broadcast
    // row cap) must take the partitioned-arrangement path. The frontier
    // is pinned to 1000 seeded chains, so ROUND work is flat while the
    // static side doubles — totals should grow only with the one-time
    // arrangement build (one shuffle of the static relation), never
    // with per-round rescans.
    if (section("fixarr")) {
      import graft.compile.Compiler
      import graft.domain.Domain
      def run(chains: Long, len: Int, label: String): Unit = {
        val d = new Domain(spark)
        // The static side is PARQUET-BACKED (written once per size) —
        // the realistic 100 TB shape: a per-round Catalyst re-scan pays
        // real IO/decode, where a range()-synthesized relation would be
        // regenerated for free and flatter the fallback.
        val path = s"/tmp/graft_fixarr_edges_${chains}_$len.parquet"
        if (!new java.io.File(path).exists()) {
          spark.range(0L, chains)
            .selectExpr(s"explode(sequence(0, ${len - 1})) as i", "id")
            .select((col("id") * 100L + col("i")).as("e"),
              (col("id") * 100L + col("i") + 1L).as("v"))
            .write.mode("overwrite").parquet(path)
        }
        val edges = spark.read.parquet(path)
        val seeds = spark.range(0L, 1000L)
          .select((col("id") * 100L).as("e"), (col("id") % 7L).as("v"))
        d.registerStatic(":fx/edge", edges, ValueKind.KNumber)
        d.registerStatic(":fx/seed", seeds, ValueKind.KNumber)
        val reach = Rule("reach", Plan.Union(Seq(0, 1), Seq(
          Plan.MatchA(0, ":fx/seed", 1),
          Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
            Plan.MatchA(2, ":fx/edge", 0),
            Plan.NameExpr(Seq(2, 1), "reach"))))))
        val t0 = now()
        val rel = new Compiler(d.asOf(0L), Map("reach" -> reach))
          .compileRule("reach")
        val n = rel.df.count()
        val dt = secs(t0)
        val want = 1000L * (len + 1)
        val ok = if (n == want) "" else s" EXPECTED $want — FAILED"
        println(f"[scale] fixarr $label%s chains=$chains%d len=$len%d " +
          f"edges=${len * chains}%d out=$n%d sec=$dt%.1f$ok")
      }
      // Flatness: per-round time (GRAFT_FIXPOINT_DEBUG) must stay flat
      // as the static side doubles past the broadcast gate.
      if (!sys.env.contains("GRAFT_FIXARR_DEEP_ONLY")) {
        run(2000000L, 3, "arrangement")
        run(4000000L, 3, "arrangement")
      }
      // Depth: 24 rounds over 24M static edges — the regime the
      // arrangement exists for (the Catalyst fallback re-plans and
      // re-scans per round; the arrangement pays one build, then
      // frontier-sized rounds).
      run(1000000L, 24, "arrangement-deep")
    }

    if (section("bi")) {
      import graft.streaming.BiMaintained
      val prevDial = sys.props.get("graft.bi.distributed")
      sys.props("graft.bi.distributed") = "on"
      try {
        val bm = new BiMaintained(spark, partitions = 32)
        bm.createAttribute(":bi/x", AttributeConfig(InputSemantics.Raw))
        // COUNT entities per value group (100 groups) — the standing
        // query's OUTPUT stays control-sized, so the driver-side
        // result/ledger stay flat while the dataflow digests the full
        // per-advance delta.
        bm.register(Rule("biq", Plan.Aggregate(Seq(2, 1),
          Plan.MatchA(1, ":bi/x", 2),
          Seq(AggregationFn.COUNT), Seq(2), Seq(1), Seq.empty)))
        bm.interest("biq")
        var total = 0L; var clock = 0L
        def advanceBatch(n: Int, label: String): Unit = {
          val base = total
          val datoms = (0 until n).map { i =>
            bm.BiDatom(Value.eid(base + i), ":bi/x",
              Value.num((base + i) % 100L), (clock, clock), 1L)
          }
          total += n
          val t0 = now()
          bm.transact(datoms)
          bm.advance(clock + 1L)
          clock += 1L
          val drained = bm.drain("biq").size
          val dt = secs(t0) // BEFORE the GC probe — gc() over a growing
          val cp = bm.controlPlaneStats // heap would read as advance drift
          System.gc()
          val rt = Runtime.getRuntime
          val heapMB = (rt.totalMemory - rt.freeMemory) / (1024L * 1024L)
          println(f"[scale] bi $label%s total=$total%d diffs=$drained%d " +
            f"lattice=${cp("pendingTimes")}%d ledger=${cp("ledgerEntries")}%d " +
            f"resultRows=${cp("resultRows")}%d sec=$dt%.2f heapMB=$heapMB%d")
        }
        advanceBatch(100000, "grow n=100k")
        (1 to 9).foreach { _ =>
          advanceBatch(1100000, "grow n=1.1M")
          advanceBatch(5000, "probe n=5k")
        }
        // Footprint audit at full history: MEASURED bytes/datom (real
        // SizeEstimator walk over the cell partitions) vs the DECLARED
        // estimate the gate and block-store accounting run on — the
        // round-10 `weak` demanded measured ≤ ~150 B/datom packed and
        // declared within 2× of measured.
        val (declared, measured) = bm.storeBytes
        println(f"[scale] bi footprint datoms=$total%d " +
          f"declaredMB=${declared / 1048576}%d measuredMB=${measured / 1048576}%d " +
          f"declaredBpd=${declared.toDouble / total}%.0f " +
          f"measuredBpd=${measured.toDouble / total}%.0f")
      } finally prevDial match {
        case Some(v) => sys.props("graft.bi.distributed") = v
        case None    => sys.props.remove("graft.bi.distributed")
      }
    }

    // ------------------------------------------- 8b. bi Coarsen lanes
    // Multi-granularity residency: THREE granularities (fine, (2,2),
    // (4,4)) over ONE BiMaintained at 1M+ datoms. The history store is
    // SHARED — per-lane cost is the coarse lattice plus an output-sized
    // emitted view, so resident bytes/datom must stay in the
    // single-lane band (~144 B/datom packed), not 3×. A FOURTH
    // granularity then attaches LATE and replays the completed history
    // (the reference's any-time Interest.granularity).
    if (section("bilanes")) {
      import graft.streaming.BiMaintained
      val prevDial = sys.props.get("graft.bi.distributed")
      sys.props("graft.bi.distributed") = "on"
      try {
        val bm = new BiMaintained(spark, partitions = 32)
        bm.createAttribute(":bi/x", AttributeConfig(InputSemantics.Raw))
        val grains: Seq[(String, Option[(Long, Long)])] = Seq(
          "bl_fine" -> None, "bl_w2" -> Some((2L, 2L)), "bl_w4" -> Some((4L, 4L)))
        val agg = Plan.Aggregate(Seq(2, 1), Plan.MatchA(1, ":bi/x", 2),
          Seq(AggregationFn.COUNT), Seq(2), Seq(1), Seq.empty)
        (grains :+ ("bl_late" -> Option((8L, 8L)))).foreach { case (n, _) =>
          bm.register(Rule(n, agg)) }
        grains.foreach { case (n, g) => bm.interest(n, g) }
        var total = 0L; var clock = 0L
        (1 to 6).foreach { _ =>
          val n = 200000
          // Entities repeat across batches (300k distinct): the emitted
          // views stay KEY-sized while the history grows per-datom — the
          // split that separates shared-store from per-lane-copy costs.
          val datoms = (0 until n).map { i =>
            val e = (total + i) % 300000L
            bm.BiDatom(Value.eid(e), ":bi/x",
              Value.num(e % 100L), (clock, clock), 1L)
          }
          total += n
          val t0 = now()
          bm.transact(datoms)
          bm.advance(clock + 1L)
          clock += 1L
          val drained = grains.map { case (n2, _) => bm.drain(n2).size }.sum
          println(f"[scale] bilanes grow total=$total%d lanes=3 " +
            f"diffs=$drained%d sec=${secs(t0)}%.2f")
        }
        // Flush the coarse lattices past the last window bound.
        bm.advance(100L)
        val tail = grains.map { case (n2, _) => bm.drain(n2).size }.sum
        val (declared, measured) = bm.storeBytes
        val bpd = measured.toDouble / total
        println(f"[scale] bilanes footprint datoms=$total%d lanes=3 tail=$tail%d " +
          f"declaredMB=${declared / 1048576}%d measuredMB=${measured / 1048576}%d " +
          f"measuredBpd=$bpd%.0f")
        // Shared-store pin: 3 lanes must NOT triple the per-datom cost.
        // Expected ≈ recs 64 + event index 40 + 3 output-sized emitted
        // views (key-sized: 300k × 48 B = 12 B/datom each) ≈ 140
        // B/datom; per-lane HISTORY copies would read 330+ B/datom.
        assert(bpd < 280.0,
          f"multi-lane residency $bpd%.0f B/datom — history duplicated per lane?")
        val tL = now()
        bm.interest("bl_late", Some((8L, 8L)))
        val lateDiffs = bm.drain("bl_late").size
        println(f"[scale] bilanes late-attach w=(8,8) replayDiffs=$lateDiffs%d " +
          f"sec=${secs(tL)}%.2f")
        assert(lateDiffs > 0, "late lane replay produced no diffs")
      } finally prevDial match {
        case Some(v) => sys.props("graft.bi.distributed") = v
        case None    => sys.props.remove("graft.bi.distributed")
      }
    }

    // ------------------------------------------- 8c. bi trace compaction
    // History boundedness under the slack dial: continuous ingest with
    // BOUNDED live structure (entities cycle over 100k, events over 8 —
    // the recent-window-update shape) must PLATEAU in resident bytes,
    // where the dial off grows linearly forever. Reference:
    // advance_traces under trace_slack (src/domain/mod.rs:291-341).
    if (section("bicompact")) {
      import graft.streaming.BiMaintained
      val prevDial = sys.props.get("graft.bi.distributed")
      val prevSlack = sys.props.get("graft.bi.slack")
      sys.props("graft.bi.distributed") = "on"
      sys.props("graft.bi.slack") = "2"
      try {
        val bm = new BiMaintained(spark, partitions = 32)
        bm.createAttribute(":bc/x", AttributeConfig(InputSemantics.Raw))
        bm.register(Rule("bcq", Plan.Aggregate(Seq(2, 1),
          Plan.MatchA(1, ":bc/x", 2),
          Seq(AggregationFn.COUNT), Seq(2), Seq(1), Seq.empty)))
        bm.interest("bcq")
        var total = 0L; var clock = 0L
        val resident = scala.collection.mutable.ArrayBuffer.empty[Long]
        (1 to 20).foreach { _ =>
          val n = 200000
          val datoms = (0 until n).map { i =>
            val e = (total + i) % 100000L
            bm.BiDatom(Value.eid(e), ":bc/x",
              Value.num(e % 100L), (clock, clock % 8L), 1L)
          }
          total += n
          val t0 = now()
          bm.transact(datoms)
          bm.advance(clock + 1L)
          clock += 1L
          val drained = bm.drain("bcq").size
          val (declared, _) = bm.storeBytes
          resident += declared
          println(f"[scale] bicompact total=$total%d diffs=$drained%d " +
            f"residentMB=${declared / 1048576}%d sec=${secs(t0)}%.2f")
        }
        val (endBytes, measured) = bm.storeBytes
        println(f"[scale] bicompact END ingested=$total%d " +
          f"residentMB=${endBytes / 1048576}%d measuredMB=${measured / 1048576}%d " +
          f"bytesPerINGESTED=${endBytes.toDouble / total}%.0f")
        // Plateau pin: ingest DOUBLES from batch 10 → 20 while the
        // sawtooth PEAK must stay flat — max resident over the second
        // half within 1.35× of the first half's (compaction bounds
        // resident at live (key, event) structure + slack tail + the
        // 25% amortization headroom, independent of total ingest).
        val firstPeak = resident.take(10).max
        val secondPeak = resident.drop(10).max
        assert(secondPeak <= (firstPeak * 1.35).toLong,
          s"no plateau: firstPeak=$firstPeak secondPeak=$secondPeak")
      } finally {
        prevDial match {
          case Some(v) => sys.props("graft.bi.distributed") = v
          case None    => sys.props.remove("graft.bi.distributed")
        }
        prevSlack match {
          case Some(v) => sys.props("graft.bi.slack") = v
          case None    => sys.props.remove("graft.bi.slack")
        }
      }
    }

    // ------------------------------------------- 8d. bi SINK delivery
    // DATA-SIZED standing bitemporal result through the distributed
    // delivery edge (round-13 `interestSink`, closing the round-12
    // driver-ceiling `weak`): a plain MatchA view — result rows ∝
    // datoms — over millions of datoms, R(t) and the product-order
    // ledger as checkpointed frames, every time's diffs flowing to a
    // DiffSink as DataFrames. Pins: delivered rows == ingested assert
    // rows (distributed count), controlPlaneStats all ZERO (the driver
    // holds frontier bookkeeping only), per-advance time flat-ish while
    // the standing result grows, and `uninterest` at the end tears the
    // lane down (lanes == 0).
    if (section("bisink")) {
      import graft.streaming.BiMaintained
      val prevDial = sys.props.get("graft.bi.distributed")
      sys.props("graft.bi.distributed") = "on"
      try {
        val bm = new BiMaintained(spark, partitions = 32)
        bm.createAttribute(":bs/x", AttributeConfig(InputSemantics.Raw))
        bm.register(Rule("bsq", Plan.MatchA(1, ":bs/x", 2)))
        var delivered = 0L
        bm.interestSink("bsq", new graft.sinks.ForeachFrameSink(
          (_, _, df) => delivered += df.count()))
        var total = 0L; var clock = 0L
        (1 to 8).foreach { _ =>
          val n = 500000
          val datoms = (0 until n).map { i =>
            bm.BiDatom(Value.eid(total + i), ":bs/x",
              Value.num((total + i) % 1000L), (clock, clock), 1L)
          }
          total += n
          val t0 = now()
          bm.transact(datoms)
          bm.advance(clock + 1L)
          clock += 1L
          val cp = bm.controlPlaneStats
          println(f"[scale] bisink total=$total%d delivered=$delivered%d " +
            f"driverResultRows=${cp("resultRows")}%d " +
            f"driverLedger=${cp("ledgerEntries")}%d sec=${secs(t0)}%.2f")
        }
        assert(delivered == total,
          s"sink must receive every standing diff: $delivered of $total")
        val cp = bm.controlPlaneStats
        assert(cp("resultRows") == 0L && cp("ledgerEntries") == 0L &&
          cp("outRows") == 0L, s"driver must stay control-plane: $cp")
        bm.uninterest("bsq")
        assert(bm.controlPlaneStats("lanes") == 0L,
          "uninterest must tear the lane down")
        println(f"[scale] bisink END total=$total%d delivered=$delivered%d " +
          "driver=control-plane lanes=0 (sink-delivered MatchA at 4M rows)")
      } finally prevDial match {
        case Some(v) => sys.props("graft.bi.distributed") = v
        case None    => sys.props.remove("graft.bi.distributed")
      }
    }

    // DATA-SIZED bitemporal INGEST (round 14): a 4M-datom versioned-fact
    // backfill enters as DataFrames end to end — transactFrame builds
    // keys and sequence numbers distributed and shuffles once into the
    // CellBiStore partitions; the driver sees only the coarse lattice
    // (frameIngestProbe). Monotone event schedule → every post-first
    // deliver takes the O(delta) fast path. With churn: each batch also
    // retracts half of the previous batch through the SAME bulk edge.
    if (section("biframe")) {
      import graft.streaming.BiMaintained
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val bm = new BiMaintained(spark, partitions = 32)
      bm.createAttribute(":bf/x", AttributeConfig(InputSemantics.Raw))
      bm.register(Rule("bfq", Plan.MatchA(1, ":bf/x", 2)))
      var delivered = 0L
      bm.interestSink("bfq", new graft.sinks.ForeachFrameSink(
        (_, _, df) => delivered += df.count()))
      val n = 500000L
      var total = 0L; var expected = 0L; var clock = 0L
      (1 to 8).foreach { b =>
        val base = total
        val inserts = spark.range(n).select(
          (col("id") + base).as("e"), lit(":bf/x").as("a"),
          pmod(col("id"), lit(1000L)).as("v"),
          lit(clock).as("sys"), lit(clock).as("event"), lit(1L).as("diff"))
        // From batch 2 on, retract HALF the previous batch's facts in the
        // same bulk frame — signed data-sized churn through the edge.
        val frame =
          if (b == 1) inserts
          else inserts.unionByName(spark.range(n / 2).select(
            (col("id") * 2L + (base - n)).as("e"), lit(":bf/x").as("a"),
            pmod(col("id") * 2L, lit(1000L)).as("v"),
            lit(clock).as("sys"), lit(clock).as("event"), lit(-1L).as("diff")))
        val t0 = now()
        bm.transactFrame(frame) // snapshots (persists) internally
        val tIngest = secs(t0)
        bm.advance(clock + 1L)
        total += n; clock += 1L
        expected += n + (if (b == 1) 0L else n / 2) // diffs: inserts + retractions
        val cp = bm.controlPlaneStats
        val probe = bm.frameIngestProbe
        println(f"[scale] biframe batch=$b%d ingested=${probe("datoms")}%d " +
          f"driverLatticeRows=${probe("driverLatticeRows")}%d " +
          f"delivered=$delivered%d driverResultRows=${cp("resultRows")}%d " +
          f"ingest=$tIngest%.2f advance=${secs(t0) - tIngest}%.2f")
      }
      assert(delivered == expected,
        s"sink must receive every signed diff: $delivered of $expected")
      val cp = bm.controlPlaneStats
      assert(cp("resultRows") == 0L && cp("ledgerEntries") == 0L &&
        cp("outRows") == 0L, s"driver must stay control-plane: $cp")
      val stats = bm.sinkDeliveryStats
      assert(stats.getOrElse("fast", 0L) >= 6L,
        s"monotone schedule must ride the fast path: $stats")
      println(f"[scale] biframe END total=$total%d delivered=$delivered%d " +
        f"paths=${stats.toMap}%s (4M-datom DataFrame backfill, zero driver Seqs)")
    }

    // Wire-shaped bulk bitemporal backfill from PARQUET (round 15):
    // registerSource reads a 500k-row mixed-kind parquet table (double +
    // string attributes, a long event column) as ONE atomic 1M-datom
    // transactFrame — the scan, explode, frontier validation, and
    // ingest shuffle all distributed; the driver sees only the
    // control-plane probe rows. A second registration at the advanced
    // frontier pins the incremental-source rule at scale.
    if (section("pqsource")) {
      import graft.sources.FileSources
      import graft.streaming.BiMaintained
      import org.apache.spark.sql.functions.{col, concat, lit, pmod}
      val n = 500000L
      val dir = java.nio.file.Files.createTempDirectory("graft-smoke-pq")
      def writeBatch(sub: String, base: Long): String = {
        val p = dir.resolve(sub).toString
        spark.range(n).select(
          (col("id") + base).as("doc"),
          (col("id") % 1000L).cast("double").as("price"),
          concat(lit("s"), pmod(col("id"), lit(5000L))).as("label"),
          // MONOTONE event axis across batches (the realistic backfill
          // shape — batches arrive in event order), so delivery rides
          // the O(delta) fast path; repeating events across sys are
          // product-order regressions whose full-merge cost the bisink
          // smoke already prices.
          (lit(2L * base / n) + pmod(col("id"), lit(2L))).as("ts"))
          .write.mode("overwrite").parquet(p)
        p
      }
      val bm = new BiMaintained(spark, partitions = 32)
      // A/B dial: GRAFT_PQSOURCE_RAW=1 pre-registers the attributes Raw
      // (isolating the Distinct-semantics resolution cost from the
      // ingest/delivery edge).
      if (sys.env.contains("GRAFT_PQSOURCE_RAW")) {
        bm.createAttribute(":pq/price", AttributeConfig(InputSemantics.Raw))
        bm.createAttribute(":pq/label", AttributeConfig(InputSemantics.Raw))
      }
      bm.register(Rule("pq", Plan.MatchA(1, ":pq/price", 2)))
      var delivered = 0L
      bm.interestSink("pq", new graft.sinks.ForeachFrameSink(
        (_, _, df) => delivered += df.count()))
      (0 until 3).foreach { b =>
        val p = writeBatch(s"b$b", b * n)
        val t0 = now()
        val attrs =
          if (sys.env.contains("GRAFT_PQSOURCE_ONEATTR"))
            Seq(":pq/price" -> (("price", graft.model.ValueKind.KReal)))
          else Seq(
            ":pq/price" -> (("price", graft.model.ValueKind.KReal)),
            ":pq/label" -> (("label", graft.model.ValueKind.KString)))
        bm.registerSource(FileSources.ParquetFile(
          path = p, eidColumn = "doc",
          attributes = attrs, tsColumn = Some("ts")))
        val tIngest = secs(t0)
        bm.advance(b + 1L)
        val probe = bm.frameIngestProbe
        println(f"[scale] pqsource batch=$b%d datoms=${probe("datoms")}%d " +
          f"driverLatticeRows=${probe("driverLatticeRows")}%d " +
          f"driverAttrRows=${probe("driverAttrRows")}%d " +
          f"delivered=$delivered%d " +
          f"ingest=$tIngest%.2f advance=${secs(t0) - tIngest}%.2f")
        val na = if (sys.env.contains("GRAFT_PQSOURCE_ONEATTR")) 1L else 2L
        assert(probe("datoms") == na * n,
          s"expected one ${na * n}-datom frame: $probe")
        assert(probe("driverAttrRows") == na,
          s"attr pass must stay schema-bounded: $probe")
        assert(probe("driverLatticeRows") <= 4L,
          s"lattice pass must stay lattice-sized: $probe")
        assert(delivered == (b + 1) * n,
          s"advance must deliver batch $b's priced datoms: $delivered")
      }
      val cp = bm.controlPlaneStats
      assert(cp("resultRows") == 0L && cp("outRows") == 0L,
        s"driver must stay control-plane: $cp")
      println(f"[scale] pqsource END delivered=$delivered%d " +
        "(3 bulk parquet registrations, zero driver Seqs)")
    }

    // Bitemporal DERIVE at data size (round 16): the inlined derived
    // view — a JOIN of link targets against their prices — maintained
    // by a standing MatchA over the derived attribute, fed 500k-row
    // parquet registrations (1M datoms/batch through the same
    // registerSource edge pqsource pins). The question this answers:
    // does the INLINE keep the standing's per-advance cost O(delta)
    // with sink delivery, or does the view join re-price resident
    // state per advance? Round 17: with Distinct attributes the inline
    // takes the DISTINCT PUSHDOWN (single-entity-column threshold
    // below the join) and the single-Attr Hector inner rewrites to a
    // linear MatchA — the wrapped dial now reads at PARITY with the
    // direct dial (medians 13.2 vs 15.2 s/advance quiet; r16: 2-3x).
    // Pinned every run: exact delivery (each entity yields one derived
    // row), zero data-sized driver materialization.
    if (section("biderive")) {
      import graft.sources.FileSources
      import graft.streaming.BiMaintained
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val n = 500000L
      val dir = java.nio.file.Files.createTempDirectory("graft-smoke-bd")
      def writeBatch(sub: String, base: Long): String = {
        val p = dir.resolve(sub).toString
        spark.range(n).select(
          (col("id") + base).as("doc"),
          // self-link: the derived view's entity is the pull target
          (col("id") + base).as("lnk"),
          (col("id") % 1000L).cast("double").as("price"),
          (lit(2L * base / n) + pmod(col("id"), lit(2L))).as("ts"))
          .write.mode("overwrite").parquet(p)
        p
      }
      val bm = new BiMaintained(spark, partitions = 32)
      // Derive BEFORE any standing attaches (the documented order): the
      // pulled path republishes as bd/bdprice = link targets x prices.
      // A/B dial GRAFT_BIDERIVE_DIRECT=1: register the view's JOIN as a
      // plain rule instead (no derive, no distinctify Union wrap) —
      // isolates the INLINE machinery's cost (the weight-1 support
      // threshold over the view output) from the join itself.
      bm.createAttribute("bdlnk", AttributeConfig(InputSemantics.Distinct))
      bm.createAttribute("bdprice", AttributeConfig(InputSemantics.Distinct))
      if (sys.env.contains("GRAFT_BIDERIVE_DIRECT")) {
        bm.register(Rule("bdq", Plan.Project(Seq(1, 2), Plan.Join(Seq(1),
          Plan.MatchA(0, "bdlnk", 1), Plan.MatchA(1, "bdprice", 2)))))
      } else {
        bm.derive("bd", "{ bdlnk { bdprice } }")
        bm.register(Rule("bdq", Plan.MatchA(1, "bd/bdprice", 2)))
      }
      var delivered = 0L
      bm.interestSink("bdq", new graft.sinks.ForeachFrameSink(
        (_, _, df) => delivered += df.count()))
      (0 until 3).foreach { b =>
        val p = writeBatch(s"b$b", b * n)
        val t0 = now()
        bm.registerSource(FileSources.ParquetFile(
          path = p, eidColumn = "doc",
          attributes = Seq(
            "bdlnk" -> (("lnk", graft.model.ValueKind.KEid)),
            "bdprice" -> (("price", graft.model.ValueKind.KReal))),
          tsColumn = Some("ts")))
        val tIngest = secs(t0)
        bm.advance(b + 1L)
        val cp = bm.controlPlaneStats
        println(f"[scale] biderive batch=$b%d delivered=$delivered%d " +
          f"driverResultRows=${cp("resultRows")}%d " +
          f"ingest=$tIngest%.2f advance=${secs(t0) - tIngest}%.2f")
        assert(delivered == (b + 1) * n,
          s"each entity must yield exactly one derived row: $delivered")
        assert(cp("resultRows") == 0L && cp("outRows") == 0L,
          s"driver must stay control-plane: $cp")
      }
      println(f"[scale] biderive END delivered=$delivered%d " +
        "(derived-view standing over 3 bulk registrations, zero driver Seqs)")
    }

    // LWW bulk-ingest sequence numbering (round 15): the per-key hash
    // exchange + partition sort that replaced the global orderBy. A/B
    // the two ordering plans in isolation on one cached 4M-row frame
    // (the only part that changed), then run the real LWW transactFrame
    // end to end on the new shape.
    if (section("bilww")) {
      import graft.streaming.BiMaintained
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val n = 4000000L
      val frame = spark.range(n).select(
        pmod(col("id"), lit(200000L)).as("e"), lit(":lw/x").as("a"),
        col("id").as("v"), pmod(col("id"), lit(4L)).as("sys"),
        col("id").as("event"), lit(1L).as("diff")).persist()
      frame.count()
      val t0 = now()
      val g = frame.orderBy(col("sys"), col("event")).rdd.zipWithIndex().count()
      val tGlobal = secs(t0)
      val t1 = now()
      val p = frame.repartition(32, col("a"), col("e"))
        .sortWithinPartitions(col("a"), col("e"), col("sys"), col("event"))
        .rdd.zipWithIndex().count()
      val tPerKey = secs(t1)
      assert(g == n && p == n)
      // Real end-to-end LWW ingest on the per-key shape. Coarsen lane:
      // 4M distinct fine events would (correctly) trip the windowless
      // lattice cap; a dense LWW backfill declares a granularity.
      val bm = new BiMaintained(spark, partitions = 32,
        coarsen = Some((4L, n)))
      bm.createAttribute(":lw/x", AttributeConfig(InputSemantics.LastWriteWins))
      val t2 = now()
      bm.transactFrame(frame)
      val tIngest = secs(t2)
      assert(bm.frameIngestProbe("datoms") == n)
      println(f"[scale] bilww n=$n%d order-plans: global-sort=$tGlobal%.2f " +
        f"per-key=$tPerKey%.2f lww-transactFrame(per-key)=$tIngest%.2f")
      frame.unpersist()
    }

    // Job-count audit of the q_derive_maintain shape (round 15): the
    // bench's most expensive cell is advance-count-bound by
    // construction; this section replicates it at the bench SF with a
    // job-counting listener so per-phase Spark-job totals (transact /
    // advance / drain per batch) are measured, not guessed.
    if (section("derivejobs")) {
      import org.apache.spark.scheduler.SparkListenerJobStart
      val jobs = new AtomicLong(0L)
      val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(ev: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          sites.add(ev.stageInfos.lastOption.map(_.name).getOrElse("?")
            .takeWhile(_ != '\n'))
          ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val e = new graft.engine.Engine(spark)
      Seq("link", "dname", "dbal").foreach { a =>
        e.createAttribute(a, AttributeConfig(InputSemantics.Distinct))
      }
      e.handle(graft.server.Request.Derive("cust", "{ link { dname } }"))
      e.register(Rule("fans", Plan.Join(Seq(0),
        Plan.MatchA(0, "cust/dname", 1), Plan.MatchA(0, "dbal", 2))))
      e.interestIncremental("fans")
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") <= 2000)
        .select(col("c_custkey").cast("long").as("c"),
          col("c_name").as("n"), col("c_acctbal").cast("double").as("b"))
        .collect()
      def datoms(pred: Long => Boolean, diff: Long, linkOnly: Boolean) =
        cust.toSeq.filter(r => pred(r.getLong(0))).flatMap { r =>
          val c = r.getLong(0)
          val link = Datom(c, "link", Value.eid(c), None, diff)
          if (linkOnly) Seq(link)
          else Seq(link,
            Datom(c, "dname", Value.str(r.getString(1)), None, diff),
            Datom(c, "dbal", Value.VReal(r.getDouble(2)), None, diff))
        }
      var total = 0L
      Seq(
        datoms(c => c % 3 < 2, 1L, linkOnly = false),
        datoms(c => c % 3 == 2, 1L, linkOnly = false),
        datoms(c => c % 5 == 0, -1L, linkOnly = true)
      ).zipWithIndex.foreach { case (tx, i) =>
        val j0 = jobs.get(); val t0 = now()
        e.transact(tx)
        val j1 = jobs.get(); val t1 = now()
        e.advance(i + 1L)
        val j2 = jobs.get(); val t2 = now()
        val n = e.drain("fans").length
        val j3 = jobs.get()
        println(f"[scale] derivejobs batch=${i + 1}%d jobs: " +
          f"transact=${j1 - j0}%d advance=${j2 - j1}%d drain=${j3 - j2}%d " +
          f"times: transact=${(t1 - t0) / 1e9}%.2f advance=${(t2 - t1) / 1e9}%.2f " +
          f"drained=$n%d")
        if (sys.env.contains("GRAFT_DERIVEJOBS_SITES")) {
          import scala.jdk.CollectionConverters._
          sites.asScala.toSeq.groupBy(identity).toSeq
            .map { case (s, xs) => (xs.length, s) }.sortBy(-_._1)
            .foreach { case (c, s) => println(s"[scale]   $c x $s") }
        }
        sites.clear()
        total += j3 - j0
      }
      println(s"[scale] derivejobs END totalJobs=$total")
      spark.sparkContext.removeSparkListener(listener)
    }

    println("[scale] smoke complete — no driver failure")
    spark.stop()
  }
}
