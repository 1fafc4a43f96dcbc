package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.model._
import graft.model.Plan._
import graft.server.{Request, Wire}
import graft.server.Wire.BiWireReq
import graft.streaming.BiMaintained

object Bitemporal {
  val Cust = ":bo/customer"
  val Status = ":bo/status"
  val Region = ":bc/region"
  val Customers = 500
  val Regions = 8
  val Window = 1500
  val NewPer = 60
  val LwwPer = 40
  val LateFrac = 0.2
  /** Late writes land up to this many event steps behind the epoch. */
  val Lag = 2
  /** The event watermark advances every this many epochs. */
  val EventEvery = 4
  /** Trace-compaction slack (`BiMaintained(slack = …)`). */
  val Slack = 2L
  val Statuses = 5

  private val joined = Join(Seq(1), MatchA(0, Cust, 1), MatchA(1, Region, 2))
  /** The serve_small join and LWW aggregate over `(sys, event)` times. */
  val rules: Seq[Rule] = Seq(
    Rule("bi_order_region", Project(Seq(0, 2), joined)),
    Workload.count("bi_status_orders", MatchA(0, Status, 1), key = 1, of = 0))

  private final case class Rec(a: String, e: Long, v: Long, sys: Long, ev: Long,
      diff: Long, seq: Long)
}

/** Orders over `(sys, event)` time through `BiMaintained`: each epoch is
  * one system time; 20% of status writes are late event-time corrections,
  * and the event watermark advances every few epochs so compaction runs.
  * The model evaluates each rule at a time from the visible history
  * (product order, LWW = latest visible `(sys, event, seq)` event) and the
  * check asserts that the drained diffs at times `≤ t` accumulate to it. */
final class Bitemporal(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import Bitemporal._

  private val rnd = new java.util.Random(seed)
  private var bm: BiMaintained = _
  private val history = mutable.ArrayBuffer.empty[Rec]
  private var seq = 0L
  private val live = mutable.ArrayDeque.empty[Long]
  private val custOf = mutable.LongMap.empty[Long]
  private val statusOf = mutable.LongMap.empty[Long]
  private var nextOrder = 1000000L
  private var frontier = 0L
  private var eventBound: Option[Long] = None
  private var lateN = 0
  private var opTimes: Seq[(Long, Long)] = Nil
  private val delivered =
    mutable.HashMap.empty[String, mutable.ArrayBuffer[(Seq[Any], (Long, Long), Long)]]

  private def region(c: Long): Long = c % Regions

  private def write(ds: mutable.ArrayBuffer[(Long, String, Value, (Long, Long), Long)],
      e: Long, a: String, v: Long, t: (Long, Long), diff: Long): Unit = {
    seq += 1
    history += Rec(a, e, v, t._1, t._2, diff, seq)
    ds += ((e, a, if (a == Cust) Value.eid(v) else Value.num(v), t, diff))
  }

  private def renderTransact(ds: Seq[(Long, String, Value, (Long, Long), Long)]): String =
    ds.map { case (e, a, v, t, d) =>
      s"""[$e,"$a",${Wire.renderValue(v)},${Wire.renderBiTime(t)},$d]"""
    }.mkString("""{"Transact":[""", ",", "]}")

  private def message(parts: Seq[String]): String = parts.mkString("[", ",", "]")

  /** The rule's result at time `t` over the visible history. */
  private def result(rule: String, t: (Long, Long)): Map[Seq[Any], Long] = {
    val vis = history.iterator.filter(r => r.sys <= t._1 && r.ev <= t._2)
    def customers: Map[Long, Long] = vis.filter(_.a == Cust).toSeq
      .groupBy(r => (r.e, r.v)).collect {
        case ((o, c), rs) if rs.map(_.diff).sum > 0 => o -> c
      }
    rule match {
      case "bi_order_region" =>
        customers.map { case (o, c) => Seq[Any](o, region(c)) -> 1L }
      case "bi_status_orders" =>
        vis.filter(_.a == Status).toSeq.groupBy(_.e).values
          .map(_.maxBy(r => (r.sys, r.ev, r.seq)))
          .filter(_.diff > 0).groupBy(_.v)
          .map { case (s, rs) => Seq[Any](s, rs.size.toLong) -> 1L }
      case late =>
        customers.groupBy(_._2).map { case (c, os) => Seq[Any](c, os.size.toLong) -> 1L }
    }
  }

  def setup(): Boolean = {
    bm = new BiMaintained(spark, partitions = spark.sparkContext.defaultParallelism,
      slack = Some(Slack))
    val ds = mutable.ArrayBuffer.empty[(Long, String, Value, (Long, Long), Long)]
    for (c <- 1L to Customers.toLong) write(ds, c, Region, region(c), (0L, 0L), 1L)
    newOrders(Window, (0L, 0L), ds)
    frontier = 1L
    opTimes = Seq((0L, 0L))
    val attrs = Seq(Cust -> InputSemantics.Raw, Status -> InputSemantics.LastWriteWins,
      Region -> InputSemantics.Raw)
    val op = Op(message(
      attrs.map { case (a, s) =>
        Wire.renderRequest(Request.CreateAttribute(a, AttributeConfig(s))) } ++
        Seq(Wire.renderRequest(Request.Register(rules, Nil))) ++
        rules.map(r => Wire.renderRequest(Request.Interest(r.name))) ++
        Seq(renderTransact(ds.toSeq),
          Wire.renderRequest(Request.AdvanceDomain(None, frontier)))),
      ds.size)
    check(op, serve(op))
  }

  private def newOrders(n: Int, t: (Long, Long),
      ds: mutable.ArrayBuffer[(Long, String, Value, (Long, Long), Long)]): Unit =
    for (_ <- 0 until n) {
      val o = nextOrder
      nextOrder += 1
      val c = 1L + rnd.nextInt(Customers)
      val s = rnd.nextInt(Statuses).toLong
      write(ds, o, Cust, c, t, 1L)
      write(ds, o, Status, s, t, 1L)
      custOf(o) = c
      statusOf(o) = s
      live.append(o)
    }

  def nextEpoch(): Op = {
    val k = frontier
    val now = (k, k)
    val ds = mutable.ArrayBuffer.empty[(Long, String, Value, (Long, Long), Long)]
    val lowest = math.max(0L, k - Lag)
    for (_ <- 0 until LwwPer) {
      val o = live(NewPer + rnd.nextInt(live.size - NewPer))
      val ev = if (k > lowest && rnd.nextDouble() < LateFrac) lowest + rnd.nextInt((k - lowest).toInt) else k
      val s = rnd.nextInt(Statuses).toLong
      write(ds, o, Status, s, (k, ev), 1L)
      if (ev == k) statusOf(o) = s
    }
    val retiring = live.take(NewPer).toSeq
    newOrders(NewPer, now, ds)
    for (o <- retiring) {
      write(ds, o, Cust, custOf.remove(o).get, now, -1L)
      write(ds, o, Status, statusOf.remove(o).get, now, -1L)
    }
    live.remove(0, NewPer)
    eventBound = if (k % EventEvery == 0) Some(k - Lag) else None
    frontier += 1
    opTimes = ds.map(_._4).distinct.sorted.toSeq
    Op(message(Seq(renderTransact(ds.toSeq),
      Wire.renderRequest(Request.AdvanceDomain(None, frontier)))), ds.size)
  }

  /** A late COUNT of orders per customer, whose first result comes with
    * the next system time (one on-time status write). */
  def nextSubscribe(): Op = {
    lateN += 1
    val name = s"bi_late_$lateN"
    val k = frontier
    val ds = mutable.ArrayBuffer.empty[(Long, String, Value, (Long, Long), Long)]
    val o = live(rnd.nextInt(live.size))
    val s = rnd.nextInt(Statuses).toLong
    write(ds, o, Status, s, (k, k), 1L)
    statusOf(o) = s
    eventBound = None
    frontier += 1
    opTimes = Seq((k, k))
    Op(message(Seq(
      Wire.renderRequest(Request.Register(
        Seq(Workload.count(name, MatchA(0, Cust, 1), key = 1, of = 0)), Nil)),
      Wire.renderRequest(Request.Interest(name)),
      renderTransact(ds.toSeq),
      Wire.renderRequest(Request.AdvanceDomain(None, frontier)))), ds.size, Some(name))
  }

  def serve(op: Op): Served = {
    val bm = this.bm
    val reqs = tr.span("decode")(Wire.parseBiRequests(op.json))
    val advanceSpan = if (op.late.isDefined) "subscribe" else "advance"
    reqs.foreach {
      case BiWireReq.BiTransact(ds) => tr.span("transact")(bm.transact(ds.map {
        case (e, a, v, t, d) => bm.BiDatom(Value.VEid(e), a, v, t, d)
      }))
      case BiWireReq.BiAdvance(s) => tr.span(advanceSpan) {
        eventBound.foreach(bm.advanceEvent)
        bm.advance(s)
      }
      case BiWireReq.BiInterest(n, g, _) => tr.span("subscribe")(bm.interest(n, g))
      case BiWireReq.Passthrough(Request.Register(rs, _)) =>
        tr.span("subscribe")(rs.foreach(bm.register))
      case BiWireReq.Passthrough(Request.CreateAttribute(n, c)) => bm.createAttribute(n, c)
      case BiWireReq.Passthrough(Request.Uninterest(n)) => bm.uninterest(n)
      case other => sys.error(s"unexpected request $other")
    }
    var rows, bytesOut = 0L
    val diffs = bm.interestNames.map { name =>
      var d = tr.span("drain")(bm.drain(name))
      if (dropOne && d.nonEmpty) { d = d.tail; dropOne = false }
      if (d.nonEmpty) {
        val text = tr.span("encode") {
          val kinds = bm.resultKinds(name)
          Wire.renderBiQueryDiff(name, d.map { case (tu, t, w) => (Workload.tag(tu, kinds), t, w) })
        }
        bytesOut += text.length
        rows += d.size
      }
      name -> d.map { case (tu, t, w) => (tu, t: Any, w) }
    }.toMap
    Served(diffs, rows, op.json.length.toLong, bytesOut)
  }

  def check(op: Op, s: Served): Boolean = {
    for ((n, d) <- s.diffs) delivered.getOrElseUpdate(n, mutable.ArrayBuffer.empty) ++=
      d.map { case (tu, t, w) => (tu, t.asInstanceOf[(Long, Long)], w) }
    bm.interestNames.forall { n =>
      val got = delivered.getOrElse(n, mutable.ArrayBuffer.empty)
      opTimes.forall { t =>
        Workload.consolidate(got.iterator.filter(x => x._2._1 <= t._1 && x._2._2 <= t._2)
          .map(x => (x._1, x._3)).toSeq) == result(n, t)
      }
    }
  }

  def withdraw(op: Op): Unit = op.late.foreach { n =>
    bm.uninterest(n)
    delivered -= n
  }

  def releaseModel(): Unit = {
    history.clear()
    delivered.clear()
    live.clear()
    custOf.clear()
    statusOf.clear()
  }

  override def stateStats: Map[String, Double] = {
    val st = bm.controlPlaneStats
    Map("bi.ledger_entries" -> st("ledgerEntries").toDouble,
      "bi.result_rows" -> st("resultRows").toDouble)
  }
}
