package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.model.Plan._
import graft.model.ValueKind.KEid
import graft.streaming.IncrementalQuery

/** Pins the r18 optimization-round job-count discipline on the general
  * RecursionNode: a warm delta advance schedules a BOUNDED number of
  * Spark jobs — the input set transition is ONE fused job (both
  * localCheckpoints materialized and both counts read from a single
  * union action, where it used to be four jobs: two materializing
  * counts plus two cached re-counts), and every per-round checkpoint
  * reads its loop-gate count from the materializing job itself instead
  * of a second cached count job. Wall time on the maintained recursion
  * cells is dominated by per-job scheduler latency, so a regression
  * back to count-per-use shows up here as a job-count blowup before it
  * shows up in any bench window. */
class RecursionAdvanceJobsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val evwSchema = StructType(Seq(
    StructField("e", LongType, false), StructField("v", LongType, false),
    StructField("diff", LongType, false)))

  private def batch(edges: Seq[(Long, Long)], w: Long) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(edges.map { case (a, b) => Row(a, b, w) }, 2),
      evwSchema)

  test("warm recursion advances run a bounded number of Spark jobs") {
    val closure = Union(Seq(0, 1), Seq(
      matchA(0, ":jc/edge", 1),
      Project(Seq(0, 1), Join(Seq(2),
        matchA(0, ":jc/edge", 2), NameExpr(Seq(2, 1), "closure")))))
    val iq = new IncrementalQuery(spark, NameExpr(Seq(0, 1), "closure"),
      Map(":jc/edge" -> KEid), Map("closure" -> closure), partitions = 2)

    // Batch 1 (bulk path) primes the fixpoint state.
    iq.advance(Map(":jc/edge" ->
      batch(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)), 1L))).count()

    // Count only THIS test's jobs (job-group tagged) and flush the
    // listener bus instead of sleeping — a concurrent suite on the
    // shared session (or stray ContextCleaner work) must not inflate
    // the budget (r18 ADVICE).
    val group = "recursion-advance-jobs-spec"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (e.properties != null &&
            group == e.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "warm adds-only advance")
      // Warm adds-only advance: one new edge extends a length-3 chain —
      // a genuine multi-round delta (4 closure facts over 2+ rounds).
      val d2 = iq.advance(Map(":jc/edge" -> batch(Seq((0L, 1L)), 1L)))
      assert(d2.collect().length == 4)
      org.apache.spark.GraftBus.flush(spark.sparkContext)
      val addJobs = jobs.get
      info(s"adds-only warm advance: $addJobs jobs")
      // Measured 2026-08-18 on the fused code: 10 jobs (1 fused
      // transition, per-round checkpoint jobs, emit + collect). The
      // pre-fusion code paid 4 transition jobs plus one extra cached
      // count per round. Generous headroom; a return to count-per-use
      // (or a per-round job leak) blows through it.
      assert(addJobs <= 15, s"adds-only warm advance ran $addJobs jobs")

      jobs.set(0)
      spark.sparkContext.setJobGroup(group, "warm retraction advance")
      // Warm retraction advance: drives delete-and-rederive (overdelete
      // rounds + rederive-0 + gone/keep commits).
      val d3 = iq.advance(Map(":jc/edge" -> batch(Seq((2L, 3L)), -1L)))
      assert(d3.collect().nonEmpty)
      org.apache.spark.GraftBus.flush(spark.sparkContext)
      val delJobs = jobs.get
      info(s"retraction advance: $delJobs jobs")
      // Measured 2026-08-18 on the fused code: 15 jobs (the r19 round
      // batching leaves this tiny advance's count unchanged — its round
      // chains are 1-2 deep; the budget pins the fusion discipline).
      assert(delJobs <= 24, s"retraction advance ran $delJobs jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
