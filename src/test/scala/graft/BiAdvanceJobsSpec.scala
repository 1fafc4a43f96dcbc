package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.model.Plan._
import graft.streaming.BiMaintained

/** Pins the Spark-job budget of `BiMaintained.advance` on the shape of
  * the `bitemporal_corrections` benchmark workload: a join and a COUNT
  * over a LastWriteWins attribute, with late event-time corrections, so
  * that every advance completes three `(sys, event)` lattice times. All
  * of those times run in ONE action (`CommitLedger`): each time's state
  * commits build lazily on the previous time's, the collected standings'
  * diff rows join the same action, and the folds into R and the
  * deliveries run on the driver after it. The driver store builds every
  * transition frame from memory with its row count known, so no frame
  * pays a count job either. A late subscriber's replay of the lane's view
  * joins the action of the advance that builds it. */
class BiAdvanceJobsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Cust = ":bj/customer"
  private val Status = ":bj/status"
  private val Region = ":bj/region"

  private def count(name: String, plan: Plan, key: Int, of: Int): Rule =
    Rule(name, Aggregate(Seq(key, of), plan, Seq(AggregationFn.COUNT),
      Seq(key), Seq(of), Seq.empty))

  private val rules = Seq(
    Rule("order_region", Project(Seq(0, 2),
      Join(Seq(1), MatchA(0, Cust, 1), MatchA(1, Region, 2)))),
    count("status_orders", MatchA(0, Status, 1), key = 1, of = 0))

  test("a warm bitemporal advance runs one job for all its lattice times") {
    val bm = new BiMaintained(spark, partitions = 4)
    Seq(Cust -> InputSemantics.Raw, Status -> InputSemantics.LastWriteWins,
      Region -> InputSemantics.Raw).foreach {
      case (a, s) => bm.createAttribute(a, AttributeConfig(s))
    }
    rules.foreach(bm.register)
    rules.foreach(r => bm.interest(r.name))
    val customers = 1L to 40L
    val live = mutable.Queue.empty[Long]
    val statusOf = mutable.Map.empty[Long, Long]
    var nextOrder = 1000L
    var sys = 0L
    def d(e: Long, a: String, v: Value, t: (Long, Long), diff: Long = 1L) =
      bm.BiDatom(Value.eid(e), a, v, t, diff)
    def custOf(o: Long) = Value.eid(customers((o % customers.size).toInt))
    def newOrder(t: (Long, Long)): Seq[bm.BiDatom] = {
      val o = nextOrder
      nextOrder += 1
      live.enqueue(o)
      statusOf(o) = o % 5
      Seq(d(o, Cust, custOf(o), t), d(o, Status, Value.num(o % 5), t))
    }
    bm.transact(customers.map(c => d(c, Region, Value.num(c % 4), (0L, 0L))) ++
      (1 to 200).flatMap(_ => newOrder((0L, 0L))))
    bm.advance(1L)
    // One system time: new and retired orders on time, status overwrites
    // on time and one and two event steps late.
    def step(): Unit = {
      sys += 1
      val now = (sys, sys)
      val retired = (1 to 20).flatMap { _ =>
        val o = live.dequeue()
        Seq(d(o, Cust, custOf(o), now, -1L),
          d(o, Status, Value.num(statusOf.remove(o).get), now, -1L))
      }
      val overwrites = live.take(15).zipWithIndex.map { case (o, i) =>
        val s = (o + sys) % 5
        val ev = math.max(0L, sys - i % 3)
        if (ev == sys) statusOf(o) = s
        d(o, Status, Value.num(s), (sys, ev))
      }
      bm.transact((1 to 20).flatMap(_ => newOrder(now)) ++ retired ++ overwrites)
      bm.advance(sys + 1L)
      rules.foreach(r => bm.drain(r.name))
    }
    (1 to 3).foreach(_ => step())

    var shape: TestSpark.JobShape = null
    val lineage = TestSpark.actionRddsOf {
      shape = TestSpark.shapeOf("warm bitemporal advance")(step())
    }
    val aggregating = TestSpark.aggregatingShuffles(lineage)
    val warm = shape.jobs
    info(s"warm bitemporal advance (3 lattice times): $warm jobs, " +
      s"result stage tasks ${shape.resultTasks}")
    // Measured: 1 job. With each commit its own job (a ledger of one) and
    // a consolidating collect per standing and time, the same advance ran
    // 15.
    assert(warm <= 2, s"warm bitemporal advance ran $warm jobs")
    // The one action runs one task per partition index: measured 4 (the
    // 4 state partitions); one task per partition of every union branch
    // ran 24.
    assert(shape.resultTasks.forall(_ <= 4),
      s"result stages of ${shape.resultTasks} tasks, over 4 partitions")
    // Every delta nets through the exchange: no by-key aggregation shuffle.
    assert(aggregating.isEmpty, s"aggregating shuffles in the action: $aggregating")
    // No Catalyst query between feed and drain: every RDD of the action
    // is the maintained nodes' own (a frame edge ran 20+ SQL operators).
    val sql = TestSpark.sqlRdds(lineage)
    assert(sql.isEmpty, s"SQL-built RDDs in the action: ${sql.mkString(", ")}")

    // A late COUNT subscriber on the live lane: its replay of the lane's
    // view is built at the advance's first time, inside the same action.
    bm.register(count("late", MatchA(0, Cust, 1), key = 1, of = 0))
    bm.interest("late")
    val lateShape = TestSpark.shapeOf("late bitemporal subscriber")(step())
    val late = lateShape.jobs
    info(s"late bitemporal subscriber: $late jobs, result stage tasks ${lateShape.resultTasks}")
    val counts = bm.drain("late").groupMapReduce(_._1)(_._3)(_ + _)
      .filter(_._2 != 0L)
    assert(counts.nonEmpty && counts.values.forall(_ == 1L), counts)
    assert(counts.keysIterator.map(_(1).asInstanceOf[Long]).sum == live.size.toLong)
    // Measured: 1 job (24 with the replay and each time's commits and
    // collects apart).
    assert(late <= 2, s"late bitemporal subscriber ran $late jobs")
    // Measured: 4 result-stage tasks (40 with one task per
    // partition of every union branch).
    assert(lateShape.resultTasks.forall(_ <= 4),
      s"result stages of ${lateShape.resultTasks} tasks, over 4 partitions")
  }
}
