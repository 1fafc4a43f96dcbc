package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._
import graft.model.Plan._

/** Pins the Spark-job budget of the Engine's maintained serving path on
  * the shape of the `serve_small` benchmark workload: a join, a COUNT
  * over that join, a COUNT over a LastWriteWins attribute and an
  * antijoin, all wire-served (`interestMaintained`). Per completed time
  * every maintained interest advances in ONE job: the state commits are
  * lazy and one action materializes them with every collected rule's
  * diff rows (`CommitLedger`); each attribute's delta feed is built once
  * from the driver buffer with its row count known (no per-attribute
  * materialize+count job), and collected diffs consolidate on the driver
  * (no `groupBy` consolidation and its adaptive stage job). The late
  * subscriber's history replay goes the same way. Serving wall time at
  * this size is dominated by per-job scheduler latency, so a commit that
  * runs its own job again shows up here as a job-count jump before it
  * shows up in a bench window. */
class EngineAdvanceJobsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** The state partitions: the test session's shuffle partitions. */
  private val Partitions = 4

  private val Cust = ":order/customer"
  private val Status = ":order/status"
  private val Flag = ":order/flagged"
  private val Region = ":customer/region"

  private def count(name: String, plan: Plan, key: Int, of: Int): Rule =
    Rule(name, Aggregate(Seq(key, of), plan, Seq(AggregationFn.COUNT),
      Seq(key), Seq(of), Seq.empty))

  private val joined = Join(Seq(1), MatchA(0, Cust, 1), MatchA(1, Region, 2))
  private val rules = Seq(
    Rule("order_region", Project(Seq(0, 2), joined)),
    count("region_orders", joined, key = 2, of = 0),
    count("status_orders", MatchA(0, Status, 1), key = 1, of = 0),
    Rule("unflagged", Antijoin(Seq(0), MatchA(0, Cust, 1),
      Project(Seq(0), MatchA(0, Flag, 2)))))

  private def d(e: Long, a: String, v: Value, diff: Long = 1L) =
    Datom(e, a, v, None, diff)

  test("a warm maintained advance runs one job for every commit and collect") {
    val e = new Engine(spark)
    Seq(Cust -> InputSemantics.Raw, Status -> InputSemantics.LastWriteWins,
      Flag -> InputSemantics.Raw, Region -> InputSemantics.Raw).foreach {
      case (a, s) => e.createAttribute(a, AttributeConfig(s))
    }
    rules.foreach(e.register)
    val customers = 1L to 40L
    val live = scala.collection.mutable.Queue.empty[Long]
    var nextOrder = 1000L
    var epoch = 0L
    def newOrder(): Seq[Datom] = {
      val o = nextOrder
      nextOrder += 1
      live.enqueue(o)
      Seq(d(o, Cust, Value.eid(customers((o % customers.size).toInt))),
        d(o, Status, Value.num(o % 5)))
    }
    e.transact(customers.map(c => d(c, Region, Value.num(c % 4))) ++
      (1 to 400).flatMap(_ => newOrder()) :+ d(live.head, Flag, Value.bool(true)))
    rules.foreach(r => e.interestMaintained(r.name))
    def step(): Unit = {
      val retired = (1 to 20).map { _ =>
        val o = live.dequeue()
        d(o, Cust, Value.eid(customers((o % customers.size).toInt)), -1L)
      }
      val overwrites = live.take(15).map(o => d(o, Status, Value.num((o + epoch) % 5)))
      e.transact((1 to 20).flatMap(_ => newOrder()) ++ retired ++ overwrites :+
        d(live(3), Flag, Value.bool(true)))
      epoch += 1
      e.advance(epoch)
      rules.foreach(r => e.drain(r.name))
    }
    (1 to 3).foreach(_ => step())
    rules.foreach(r => assert(e.servedIncrementally(r.name), r.name))

    var shape: TestSpark.JobShape = null
    val lineage = TestSpark.actionRddsOf {
      shape = TestSpark.shapeOf("warm maintained advance")(step())
    }
    val aggregating = TestSpark.aggregatingShuffles(lineage)
    val warm = shape.jobs
    info(s"warm maintained advance: $warm jobs, result stage tasks ${shape.resultTasks}")
    // Measured: 1 job. With one job per state commit and per collect
    // the same advance ran 10, and with per-attribute count jobs and
    // distributed consolidation too, 23.
    assert(warm <= 2, s"warm maintained advance ran $warm jobs")
    // The one action runs one task per partition index: measured 4 (the
    // session's 4 state partitions); one task per partition of every
    // union branch ran 16.
    assert(shape.resultTasks.forall(_ <= Partitions),
      s"result stages of ${shape.resultTasks} tasks, over $Partitions partitions")
    // Every delta nets through the exchange: no by-key aggregation shuffle.
    assert(aggregating.isEmpty, s"aggregating shuffles in the action: $aggregating")
    // No Catalyst query between feed and drain: every RDD of the action
    // is the maintained nodes' own (a frame edge ran 20+ SQL operators).
    val sql = TestSpark.sqlRdds(lineage)
    assert(sql.isEmpty, s"SQL-built RDDs in the action: ${sql.mkString(", ")}")

    // A late COUNT subscriber: its replay of the whole history is one
    // driver-built feed per attribute, and one action for its state
    // commit and its collect.
    e.register(count("late", MatchA(0, Cust, 1), key = 1, of = 0))
    e.interestMaintained("late")
    val late = TestSpark.jobsOf("late subscriber replay") { epoch += 1; e.advance(epoch) }
    info(s"late subscriber replay: $late jobs")
    assert(e.servedIncrementally("late"))
    val drained = e.drain("late")
    assert(drained.nonEmpty && drained.forall(_._3 == 1L))
    assert(drained.map(_._1(1).asInstanceOf[Long]).sum == live.size.toLong)
    // Measured: 1 job (2 with the commit and the collect apart; 5 with
    // the per-attribute count job and the groupBy consolidation's stage
    // jobs).
    assert(late <= 1, s"late subscriber replay ran $late jobs")
  }
}
