package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.Engine
import graft.model._
import graft.model.Plan._
import graft.server.Request

object Reach {
  val Edge = ":lp/edge"
  val Seed = ":lp/seed"
  val Layers = 4
  val Width = 1250
  val Nodes = Layers * Width
  val Edges = 10000
  val SeedEvery = 50
  val Labels = 8
  val Churn = 50

  /** The reference's label propagation (`q_labelprop_maintain` shape):
    * `reach(x, l) := seed(x, l) ∪ edge(y, x) ⋈ reach(y, l)`, served
    * through the `labels` rule that names it. */
  val rules: Seq[Rule] = Seq(
    Rule("reach", Union(Seq(0, 1), Seq(
      MatchA(0, Seed, 1),
      Project(Seq(0, 1), Join(Seq(2), MatchA(2, Edge, 0), NameExpr(Seq(2, 1), "reach")))))),
    Rule("labels", NameExpr(Seq(0, 1), "reach")))
}

/** Label propagation over a seeded random layered graph (`Layers` layers
  * of `Width` nodes, edges only from one layer to the next), so every
  * epoch's propagation depth is bounded by the same `Layers` whatever the
  * seed. Each epoch retracts `Churn` existing edges and inserts `Churn`
  * new ones. The model recomputes the labels by breadth-first search from
  * the seeds. */
final class Reach(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import Reach._

  private val rnd = new java.util.Random(seed)
  private val edges = mutable.ArrayBuffer.empty[(Long, Long)]
  private val edgeSet = mutable.HashSet.empty[(Long, Long)]
  private var labels: Set[Seq[Any]] = Set.empty
  private var frontier = 0L
  private var lateN = 0
  private var expected: Map[String, Map[Seq[Any], Long]] = Map.empty
  private var server: UniServer = _

  private def seeds: Seq[(Long, Long)] =
    (SeedEvery.toLong to Nodes.toLong by SeedEvery.toLong).map(n => (n, (n / SeedEvery) % Labels))

  private def bfs(): Set[Seq[Any]] = {
    val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (s, d) => out.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d }
    val res = mutable.HashSet.empty[Seq[Any]]
    for ((l, ss) <- seeds.groupBy(_._2)) {
      val seen = mutable.HashSet.empty[Long]
      val queue = mutable.Queue.empty[Long]
      ss.foreach { case (n, _) => if (seen.add(n)) queue += n }
      while (queue.nonEmpty) {
        val n = queue.dequeue()
        out.get(n).foreach(_.foreach(d => if (seen.add(d)) queue += d))
      }
      seen.foreach(n => res += Seq[Any](n, l))
    }
    res.toSet
  }

  private def relabel(): Unit = {
    val next = bfs()
    expected = Map("labels" ->
      ((next -- labels).map(_ -> 1L) ++ (labels -- next).map(_ -> -1L)).toMap)
    labels = next
  }

  private def addEdge(ds: mutable.ArrayBuffer[Datom]): Unit = {
    var e = (0L, 0L)
    while ({
      val src = rnd.nextInt(Nodes - Width)
      e = (1L + src, 1L + (src / Width + 1) * Width + rnd.nextInt(Width))
      edgeSet(e)
    }) ()
    edgeSet += e
    edges += e
    ds += Datom(e._1, Edge, Value.eid(e._2), None, 1L)
  }

  def setup(): Boolean = {
    val engine = new Engine(spark)
    server = new UniServer(engine, tr, this)
    val ds = mutable.ArrayBuffer.empty[Datom]
    seeds.foreach { case (n, l) => ds += Datom(n, Seed, Value.num(l), None, 1L) }
    for (_ <- 0 until Edges) addEdge(ds)
    relabel()
    frontier = 1L
    val op = Op(Workload.message(
      Seq(Request.CreateAttribute(Edge, AttributeConfig()),
        Request.CreateAttribute(Seed, AttributeConfig()),
        Request.Register(rules, Nil), Request.Interest("labels"),
        Request.Transact(ds.toSeq), Request.AdvanceDomain(None, frontier))),
      ds.size)
    val ok = check(op, serve(op))
    if (!engine.servedIncrementally("labels"))
      System.err.println("[perfbench] rule labels is not maintained")
    ok
  }

  def nextEpoch(): Op = {
    val ds = mutable.ArrayBuffer.empty[Datom]
    for (_ <- 0 until Churn) {
      val i = rnd.nextInt(edges.size)
      val e = edges(i)
      edges(i) = edges.last
      edges.remove(edges.size - 1)
      edgeSet -= e
      ds += Datom(e._1, Edge, Value.eid(e._2), None, -1L)
    }
    for (_ <- 0 until Churn) addEdge(ds)
    relabel()
    frontier += 1
    Op(Workload.message(Seq(Request.Transact(ds.toSeq),
      Request.AdvanceDomain(None, frontier))), ds.size)
  }

  /** A late out-degree COUNT over the edge attribute. */
  def nextSubscribe(): Op = {
    lateN += 1
    val name = s"late_$lateN"
    val rule = Workload.count(name, MatchA(0, Edge, 1), key = 0, of = 1)
    expected = Map(name -> edges.groupBy(_._1).map { case (s, es) =>
      Seq[Any](s, es.size.toLong) -> 1L })
    frontier += 1
    Op(Workload.message(Seq(Request.Register(Seq(rule), Nil),
      Request.Interest(name), Request.AdvanceDomain(None, frontier))), 0, Some(name))
  }

  def serve(op: Op): Served = server.serve(op)
  def check(op: Op, s: Served): Boolean = server.matches(expected, s)
  def withdraw(op: Op): Unit = op.late.foreach(n => server.engine.handle(Request.Uninterest(n)))
  def releaseModel(): Unit = {
    edges.clear()
    edgeSet.clear()
    labels = Set.empty
    expected = Map.empty
  }
}
