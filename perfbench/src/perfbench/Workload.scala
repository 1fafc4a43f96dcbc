package perfbench

import scala.collection.mutable

import graft.engine.Engine
import graft.model._
import graft.server.{Output, Request, Wire}

/** One client message: the wire JSON a 3DF client would send, the input
  * datoms it carries, and the late-subscribed rule it registers, if any. */
final case class Op(json: String, datoms: Int, late: Option[String] = None)

/** What serving one message produced: per interest, the drained
  * `(tuple, time, diff)` triples (time is a `Long`, or a `(sys, event)`
  * pair for the bitemporal engine), the row count, and the wire volume
  * both ways. */
final case class Served(
    diffs: Map[String, Seq[(Seq[Any], Any, Long)]],
    rows: Long, bytesIn: Long, bytesOut: Long)

/** A benchmark workload: a seeded generator, a plain-Scala reference
  * model of the workload's standing rules, and a closed-loop client that
  * drives the engine through the wire. */
trait Workload {
  /** Fresh engine, attributes, rules, interests, preload, first advance.
    * Returns whether the first results match the model. */
  def setup(): Boolean
  /** The next epoch's message (untimed: generation and model update). */
  def nextEpoch(): Op
  /** The next late subscriber's message. */
  def nextSubscribe(): Op
  /** Serve one message end to end (timed). */
  def serve(op: Op): Served
  /** Compare what was served with the model's change for `op`. */
  def check(op: Op, s: Served): Boolean
  /** Withdraw a late subscriber after its first result (untimed). */
  def withdraw(op: Op): Unit
  /** Drop the reference model and the generator's bookkeeping, keeping
    * the engine, so the heap retained after the run is the engine's. */
  def releaseModel(): Unit
  /** Control-plane state sizes reported per traced epoch (bitemporal
    * ledger and result maps; zero for the unitemporal engine). */
  def stateStats: Map[String, Double] =
    Map("bi.ledger_entries" -> 0.0, "bi.result_rows" -> 0.0)
  /** Drop one drained diff on the next epoch that has any (fault
    * injection for the output check). */
  var dropOne: Boolean = false
}

object Workload {
  def consolidate(rows: Iterable[(Seq[Any], Long)]): Map[Seq[Any], Long] = {
    val m = mutable.HashMap.empty[Seq[Any], Long]
    rows.foreach { case (t, d) => m(t) = m.getOrElse(t, 0L) + d }
    m.filter(_._2 != 0L).toMap
  }

  /** Expected change of a COUNT-per-key rule whose counts went from
    * `before` to `after` (index = key): the old count row retracts and
    * the new one asserts; an empty group has no row. */
  def countDiff(before: Array[Long], after: Array[Long]): Map[Seq[Any], Long] =
    before.indices.filter(k => before(k) != after(k)).flatMap { k =>
      (if (before(k) > 0) Seq(Seq[Any](k.toLong, before(k)) -> -1L) else Nil) ++
        (if (after(k) > 0) Seq(Seq[Any](k.toLong, after(k)) -> 1L) else Nil)
    }.toMap

  /** Re-tag a drained native tuple as wire values, as the server does. */
  def tag(tuple: Seq[Any], kinds: Option[Seq[ValueKind]]): Seq[Value] =
    tuple.zipWithIndex.map {
      case (n: Long, i) if kinds.flatMap(_.lift(i)).contains(ValueKind.KEid) => Value.VEid(n)
      case (n: Long, _)    => Value.VNumber(n)
      case (s: String, _)  => Value.VString(s)
      case (b: Boolean, _) => Value.VBool(b)
      case (d: Double, _)  => Value.VReal(d)
      case (o, _)          => Value.VString(String.valueOf(o))
    }

  def message(reqs: Seq[Request]): String =
    reqs.map(Wire.renderRequest).mkString("[", ",", "]")

  def count(name: String, plan: Plan, key: Int, of: Int): Rule =
    Rule(name, Plan.Aggregate(Seq(key, of), plan, Seq(AggregationFn.COUNT),
      Seq(key), Seq(of), Seq.empty))

  def make(name: String, seed: Long, spark: org.apache.spark.sql.SparkSession,
      tr: Tracer): Workload = name match {
    case "serve_small"            => new Orders(spark, tr, seed, Orders.small)
    case "reach_recursive"        => new Reach(spark, tr, seed)
    case "bitemporal_corrections" => new Bitemporal(spark, tr, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The per-message sequence the WebSocket server runs for a unitemporal
  * domain — parse, transact, advance, drain every interest, render each
  * `QueryDiff` — without the socket framing. Interests route through
  * `interestMaintained`, as the wire's `Interest` does. */
final class UniServer(val engine: Engine, tr: Tracer, owner: Workload) {
  def serve(op: Op): Served = {
    val reqs = tr.span("decode")(Wire.parseRequests(op.json))
    val advanceSpan = if (op.late.isDefined) "subscribe" else "advance"
    reqs.foreach {
      case Request.Transact(ds)        => tr.span("transact")(engine.transact(ds))
      case Request.AdvanceDomain(_, t) => tr.span(advanceSpan)(engine.advance(t))
      case Request.Register(rules, _)  => tr.span("subscribe")(rules.foreach(engine.register))
      case Request.Interest(n, g, _, _) =>
        tr.span("subscribe")(engine.interestMaintained(n, g))
      case other => engine.handle(other)
    }
    var rows, bytesOut = 0L
    val diffs = engine.interestNames.map { name =>
      var d = tr.span("drain")(engine.drain(name))
      if (owner.dropOne && d.nonEmpty) { d = d.tail; owner.dropOne = false }
      if (d.nonEmpty) {
        val text = tr.span("encode") {
          val kinds = engine.kindsFor(name)
          Wire.renderOutput(Output.QueryDiff(name,
            d.map { case (tu, t, w) => (Workload.tag(tu, kinds), t, w) }))
        }
        bytesOut += text.length
        rows += d.size
      }
      name -> d.map { case (tu, t, w) => (tu, t: Any, w) }
    }.toMap
    Served(diffs, rows, op.json.length.toLong, bytesOut)
  }

  /** Served diffs equal the expected change, rule by rule. */
  def matches(expected: Map[String, Map[Seq[Any], Long]], s: Served): Boolean =
    (expected.keySet ++ s.diffs.keySet).forall { n =>
      Workload.consolidate(s.diffs.getOrElse(n, Nil).map(x => (x._1, x._3))) ==
        expected.getOrElse(n, Map.empty)
    }
}
