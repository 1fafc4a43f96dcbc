package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._
import graft.model.Plan._
import graft.streaming.StateCell

/** The Engine's maintained advance runs every state commit of a completed
  * time through one action (`CommitLedger`). Over seeded histories of a
  * Pull rule (whose child-support commit nobody reads), an antijoin and a
  * COUNT over a LastWriteWins attribute, every advance must leave each
  * state cell's live generation materialized and cut, keep exactly the
  * live generations persisted (every superseded one dropped by the
  * advance itself, not by a later GC), and drain exactly what the
  * snapshot path drains. A transitive-closure rule, whose closure stores
  * commit one counted generation per round inside the ledger, must hold
  * its persisted generations flat over advances that take several
  * rounds, on the broadcast store and on the distributed one. */
class FusedCommitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Cust = ":f/customer"
  private val Status = ":f/status"
  private val Flag = ":f/flagged"
  private val Name = ":f/name"
  private val Edge = ":f/edge"

  private val rules = Seq(
    Rule("pulled", PullLevel(Seq.empty, Project(Seq(1), MatchA(0, Cust, 1)),
      pullVariable = 1, pullAttributes = Seq(Name),
      pathAttributes = Seq.empty, cardinalityMany = false)),
    Rule("unflagged", Antijoin(Seq(0), MatchA(0, Cust, 1),
      Project(Seq(0), MatchA(0, Flag, 2)))),
    Rule("status_count", Aggregate(Seq(1, 0), MatchA(0, Status, 1),
      Seq(AggregationFn.COUNT), Seq(1), Seq(0), Seq.empty)))

  // reach(x, y) := edge(x, y) ∪ edge(x, z) ⋈ reach(z, y)
  private val reach = Rule("reach", Union(Seq(0, 1), Seq(
    MatchA(0, Edge, 1),
    Project(Seq(0, 1), Join(Seq(2), MatchA(0, Edge, 2), NameExpr(Seq(2, 1), "reach"))))))

  private def engine(rules: Seq[Rule]): Engine = {
    val e = new Engine(spark)
    Seq(Cust -> InputSemantics.Raw, Status -> InputSemantics.LastWriteWins,
      Flag -> InputSemantics.Raw, Name -> InputSemantics.Raw,
      Edge -> InputSemantics.Raw).foreach {
      case (a, s) => e.createAttribute(a, AttributeConfig(s))
    }
    rules.foreach(e.register)
    e
  }

  private def multiset(s: Seq[(Seq[Any], Long, Long)]): Map[(Seq[Any], Long, Long), Int] =
    s.groupBy(identity).view.mapValues(_.size).toMap

  /** One seeded history: orders referencing customers come and go,
    * customers gain and lose names, orders get flagged and unflagged, and
    * status writes overwrite each other. Retractions only retract live
    * datoms. */
  private def history(seed: Long, advances: Int): Seq[Seq[Datom]] = {
    val rnd = new Random(seed)
    val live = scala.collection.mutable.LinkedHashSet.empty[(Long, String, Value)]
    def d(e: Long, a: String, v: Value, diff: Long) = Datom(e, a, v, None, diff)
    (1 to advances).map { _ =>
      val tx = scala.collection.mutable.ArrayBuffer.empty[Datom]
      def flip(e: Long, a: String, v: Value): Unit = {
        val k = (e, a, v)
        if (live(k)) { live -= k; tx += d(e, a, v, -1L) }
        else { live += k; tx += d(e, a, v, 1L) }
      }
      (1 to 6).foreach(_ => flip(100L + rnd.nextInt(12), Cust,
        Value.eid(1L + rnd.nextInt(5))))
      (1 to 2).foreach(_ => flip(1L + rnd.nextInt(5), Name,
        Value.str(s"n${rnd.nextInt(3)}")))
      flip(100L + rnd.nextInt(12), Flag, Value.bool(true))
      (1 to 3).foreach(_ => tx += d(100L + rnd.nextInt(12), Status,
        Value.num(rnd.nextInt(3).toLong), 1L))
      tx.toSeq
    }
  }

  private def sc = spark.sparkContext

  /** Ids of the persisted state generations built after RDD `since`. */
  private def persistedGenerations(since: Int): Set[Int] =
    sc.getPersistentRDDs.valuesIterator
      .filter(r => r.id > since && r.name == StateCell.GenerationName)
      .map(_.id).toSet

  test("one action per advance materializes every commit and drops every superseded generation") {
    val advances = 20
    for (seed <- Seq(7L, 8L)) {
      val since = sc.emptyRDD[Int].id
      val maintained = engine(rules)
      val snapshot = engine(rules)
      rules.foreach { r =>
        maintained.interestMaintained(r.name)
        snapshot.interest(r.name)
      }
      history(seed, advances).zipWithIndex.foreach { case (tx, i) =>
        maintained.transact(tx)
        snapshot.transact(tx)
        maintained.advance(i + 1L)
        snapshot.advance(i + 1L)
        val at = s"seed $seed advance ${i + 1}"
        val live = rules.flatMap { r =>
          assert(maintained.servedIncrementally(r.name), r.name)
          val gens = maintained.liveGenerationsProbe(r.name)
          assert(gens.nonEmpty && gens.forall(_.isCheckpointed),
            s"$at: ${r.name} has a live generation that no action materialized")
          assert(multiset(maintained.drain(r.name)) == multiset(snapshot.drain(r.name)),
            s"$at: ${r.name} drained unlike the snapshot path")
          gens
        }
        assert(persistedGenerations(since) == live.map(_.id).toSet,
          s"$at: the persisted state generations are not exactly the live ones " +
            "(a superseded generation kept, or a live one not cached)")
      }
    }
  }

  /** Edge histories whose first advance lays a 12-hop chain (several
    * closure rounds), and whose later advances add and retract edges on
    * it, some of them bridging or cutting long paths. */
  private def edgeHistory(seed: Long, advances: Int): Seq[Seq[Datom]] = {
    val rnd = new Random(seed)
    val live = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    def d(x: Long, y: Long, diff: Long) = Datom(x, Edge, Value.eid(y), None, diff)
    val chain = (1L to 12L).map { x => live += ((x, x + 1)); d(x, x + 1, 1L) }
    chain +: (2 to advances).map { _ =>
      (1 to 3).map { _ =>
        val x = 1L + rnd.nextInt(14)
        val y = if (rnd.nextBoolean()) x + 1 else 1L + rnd.nextInt(14)
        if (live((x, y))) { live -= ((x, y)); d(x, y, -1L) }
        else { live += ((x, y)); d(x, y, 1L) }
      }.distinctBy(x => (x.e, x.v))
    }
  }

  private def closureHistory(seed: Long, store: String): Unit = {
    val advances = 12
    val since = sc.emptyRDD[Int].id
    val maintained = engine(Seq(reach))
    val snapshot = engine(Seq(reach))
    maintained.interestMaintained(reach.name)
    snapshot.interest(reach.name)
    val counts = edgeHistory(seed, advances).zipWithIndex.map { case (tx, i) =>
      maintained.transact(tx)
      snapshot.transact(tx)
      maintained.advance(i + 1L)
      snapshot.advance(i + 1L)
      val at = s"$store seed $seed advance ${i + 1}"
      assert(maintained.servedIncrementally(reach.name), at)
      assert(maintained.liveGenerationsProbe(reach.name).forall(_.isCheckpointed),
        s"$at: a live generation that no action materialized")
      assert(multiset(maintained.drain(reach.name)) == multiset(snapshot.drain(reach.name)),
        s"$at: drained unlike the snapshot path")
      persistedGenerations(since).size
    }
    info(s"$store seed $seed: persisted generations per advance ${counts.mkString(",")}")
    assert(counts.forall(_ == counts.head),
      s"$store seed $seed: persisted state generations moved over the advances " +
        s"(${counts.mkString(",")}): superseded round generations kept")
  }

  test("a closure rule's counted round commits keep its persisted generations flat") {
    for (seed <- Seq(11L, 12L)) closureHistory(seed, "broadcast store")
    TestSpark.withConf(TestSpark.BroadcastThreshold, "-1") {
      for (seed <- Seq(13L, 14L)) closureHistory(seed, "distributed store")
    }
  }
}
