package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.Engine
import graft.model._
import graft.model.Plan._
import graft.server.Request

/** Sizes of an orders→customers workload. Each epoch writes `lwwPer`
  * status overwrites, flags up to `flagsPer` live orders, adds `newPer`
  * orders and retires the `newPer` oldest, so `window` orders stay live. */
final case class OrdersSize(customers: Int, regions: Int, window: Int,
    newPer: Int, lwwPer: Int, flagsPer: Int, flagFrac: Double, zipf: Double)

object Orders {
  val small = OrdersSize(customers = 4000, regions = 8, window = 17000,
    newPer = 200, lwwPer = 150, flagsPer = 20, flagFrac = 0.1, zipf = 1.1)

  val Cust = ":order/customer"
  val Status = ":order/status"
  val Flag = ":order/flagged"
  val Region = ":customer/region"
  val Statuses = 5

  private val joined = Join(Seq(1), MatchA(0, Cust, 1), MatchA(1, Region, 2))
  /** The four standing rules: a join, a COUNT per region over it, a COUNT
    * over the LastWriteWins status, and an antijoin. */
  val rules: Seq[Rule] = Seq(
    Rule("order_region", Project(Seq(0, 2), joined)),
    Workload.count("region_orders", joined, key = 2, of = 0),
    Workload.count("status_orders", MatchA(0, Status, 1), key = 1, of = 0),
    Rule("unflagged", Antijoin(Seq(0), MatchA(0, Cust, 1),
      Project(Seq(0), MatchA(0, Flag, 2)))))
}

/** Zipf-skewed orders over a fixed customer set, with a sliding window of
  * live orders and a plain-Scala model of the four rules. */
final class Orders(spark: SparkSession, tr: Tracer, seed: Long, sz: OrdersSize)
    extends Workload {
  import Orders._

  private val rnd = new java.util.Random(seed)
  private val cdf: Array[Double] = {
    val w = (1 to sz.customers).map(i => 1.0 / math.pow(i, sz.zipf))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private def pickCustomer(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, sz.customers - 1) + 1L
  }
  private def region(c: Long): Long = c % sz.regions

  // Reference model.
  private val live = mutable.ArrayDeque.empty[Long]
  private val cust = mutable.LongMap.empty[Long]
  private val status = mutable.LongMap.empty[Long]
  private val flagged = mutable.HashSet.empty[Long]
  private val regionCount = Array.fill(sz.regions)(0L)
  private val statusCount = Array.fill(Statuses)(0L)
  private var nextOrder = 1000000L
  private var frontier = 0L
  private var lateN = 0
  private var expected: Map[String, Map[Seq[Any], Long]] = Map.empty
  private var server: UniServer = _

  private def num(v: Value): Long = v match {
    case Value.VEid(n)    => n
    case Value.VNumber(n) => n
    case other            => sys.error(s"unexpected value $other")
  }

  /** Apply datoms to the model, in transaction order, and return each
    * rule's expected change. */
  private def applyDatoms(ds: Seq[Datom]): Map[String, Map[Seq[Any], Long]] = {
    val before = mutable.LinkedHashMap.empty[Long, (Option[Long], Boolean)]
    val rc0 = regionCount.clone()
    val sc0 = statusCount.clone()
    ds.foreach { d =>
      if (d.a != Region) before.getOrElseUpdate(d.e, (cust.get(d.e), flagged(d.e)))
      val v = num(d.v)
      d.a match {
        case Region => ()
        case Cust =>
          if (d.diff > 0) cust(d.e) = v else cust.remove(d.e)
          regionCount(region(v).toInt) += d.diff
        case Status =>
          status.remove(d.e).foreach(s => statusCount(s.toInt) -= 1)
          if (d.diff > 0) { status(d.e) = v; statusCount(v.toInt) += 1 }
        case Flag => if (d.diff > 0) flagged += d.e else flagged -= d.e
      }
    }
    val join, anti = mutable.ArrayBuffer.empty[(Seq[Any], Long)]
    for ((o, (c0, f0)) <- before) {
      c0.foreach(c => join += ((Seq(o, region(c)), -1L)))
      cust.get(o).foreach(c => join += ((Seq(o, region(c)), 1L)))
      c0.filter(_ => !f0).foreach(c => anti += ((Seq(o, c), -1L)))
      cust.get(o).filter(_ => !flagged(o)).foreach(c => anti += ((Seq(o, c), 1L)))
    }
    Map(
      "order_region" -> Workload.consolidate(join),
      "region_orders" -> Workload.countDiff(rc0, regionCount),
      "status_orders" -> Workload.countDiff(sc0, statusCount),
      "unflagged" -> Workload.consolidate(anti))
  }

  private def newOrders(n: Int, ds: mutable.ArrayBuffer[Datom]): Unit =
    for (_ <- 0 until n) {
      val o = nextOrder
      nextOrder += 1
      ds += Datom(o, Cust, Value.eid(pickCustomer()), None, 1L)
      ds += Datom(o, Status, Value.num(rnd.nextInt(Statuses).toLong), None, 1L)
      if (rnd.nextDouble() < sz.flagFrac) ds += Datom(o, Flag, Value.num(1L), None, 1L)
      live.append(o)
    }

  def setup(): Boolean = {
    val engine = new Engine(spark)
    server = new UniServer(engine, tr, this)
    val ds = mutable.ArrayBuffer.empty[Datom]
    for (c <- 1L to sz.customers.toLong) ds += Datom(c, Region, Value.num(region(c)), None, 1L)
    newOrders(sz.window, ds)
    expected = applyDatoms(ds.toSeq)
    val attrs = Seq(Cust -> InputSemantics.Raw, Status -> InputSemantics.LastWriteWins,
      Flag -> InputSemantics.Raw, Region -> InputSemantics.Raw)
    frontier = 1L
    val op = Op(Workload.message(
      attrs.map { case (a, s) => Request.CreateAttribute(a, AttributeConfig(s)) } ++
        Seq(Request.Register(rules, Nil)) ++
        rules.map(r => Request.Interest(r.name)) ++
        Seq(Request.Transact(ds.toSeq), Request.AdvanceDomain(None, frontier))),
      ds.size)
    val ok = check(op, serve(op))
    rules.filterNot(r => engine.servedIncrementally(r.name)).foreach(r =>
      System.err.println(s"[perfbench] rule ${r.name} is not maintained"))
    ok
  }

  def nextEpoch(): Op = {
    val n = sz.newPer
    val cand = live.size - n
    val ds = mutable.ArrayBuffer.empty[Datom]
    for (_ <- 0 until sz.lwwPer) {
      val o = live(n + rnd.nextInt(cand))
      val s = (status(o) + 1 + rnd.nextInt(Statuses - 1)) % Statuses
      ds += Datom(o, Status, Value.num(s), None, 1L)
    }
    val flagging = mutable.HashSet.empty[Long]
    for (_ <- 0 until sz.flagsPer) {
      val o = live(n + rnd.nextInt(cand))
      if (!flagged(o) && flagging.add(o)) ds += Datom(o, Flag, Value.num(1L), None, 1L)
    }
    val retiring = live.take(n).toSeq
    newOrders(n, ds)
    for (o <- retiring) {
      ds += Datom(o, Cust, Value.eid(cust(o)), None, -1L)
      ds += Datom(o, Status, Value.num(status(o)), None, -1L)
      if (flagged(o)) ds += Datom(o, Flag, Value.num(1L), None, -1L)
    }
    live.remove(0, n)
    expected = applyDatoms(ds.toSeq)
    frontier += 1
    Op(Workload.message(Seq(Request.Transact(ds.toSeq),
      Request.AdvanceDomain(None, frontier))), ds.size)
  }

  def nextSubscribe(): Op = {
    lateN += 1
    val name = s"late_$lateN"
    val rule = Workload.count(name, MatchA(0, Cust, 1), key = 1, of = 0)
    expected = Map(name -> cust.values.groupBy(identity).map { case (c, os) =>
      Seq[Any](c, os.size.toLong) -> 1L })
    frontier += 1
    Op(Workload.message(Seq(Request.Register(Seq(rule), Nil),
      Request.Interest(name), Request.AdvanceDomain(None, frontier))), 0, Some(name))
  }

  def serve(op: Op): Served = server.serve(op)
  def check(op: Op, s: Served): Boolean = server.matches(expected, s)
  def withdraw(op: Op): Unit = op.late.foreach(n => server.engine.handle(Request.Uninterest(n)))
  def releaseModel(): Unit = {
    live.clear()
    cust.clear()
    status.clear()
    flagged.clear()
    expected = Map.empty
  }
}
