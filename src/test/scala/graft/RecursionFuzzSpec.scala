package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.model.ValueKind.{KEid, KNumber}
import graft.streaming.IncrementalQuery

/** Seeded differential fuzzing of the maintained recursion tiers: random
  * signed edge (and label) histories — real retractions, re-additions
  * and retractions below zero support — drive an [[IncrementalQuery]],
  * and every advance's drain must equal the set difference of a
  * driver-side reference over the thresholded input (a datom is present
  * while its net weight is positive):
  *  - transitive closure through the `ClosureNode` tier: on the
  *    broadcast `IncrementalClosure` under the default byte gate, on
  *    `DistributedClosure` at a threshold of −1 (no broadcast admitted),
  *    and across a mid-history migration between the two at a gate
  *    that admits the first batch's edge set and nothing more;
  *  - label propagation through `RecursionNode`, under the default byte
  *    gate (broadcast kernel) and a 1-byte gate (partitioned
  *    arrangement). */
class RecursionFuzzSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val kinds: Map[String, ValueKind] = Map(":e1" -> KEid, ":ua" -> KNumber)

  // closure(x, y) := e1(x, y) ∪ e1(x, z) ⋈ closure(z, y)
  private val closure = Plan.Union(Seq(0, 1), Seq(
    Plan.MatchA(0, ":e1", 1),
    Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
      Plan.MatchA(0, ":e1", 2), Plan.NameExpr(Seq(2, 1), "closure")))))

  // reach(x, l) := ua(x, l) ∪ e1(y, x) ⋈ reach(y, l)
  private val reach = Plan.Union(Seq(0, 1), Seq(
    Plan.MatchA(0, ":ua", 1),
    Plan.Project(Seq(0, 1), Plan.Join(Seq(2),
      Plan.MatchA(2, ":e1", 0), Plan.NameExpr(Seq(2, 1), "reach")))))

  private type Batch = Seq[(String, Long, Long, Long)]

  /** `n` batches of signed datoms over `nodes` nodes: mostly chain edges
    * (deep rounds), some random ones (cycles, self-loops), retractions of
    * present datoms, and now and then a retraction of an absent one
    * (net weight below zero). `labels` adds `:ua` seed labels. */
  private def history(seed: Long, n: Int, labels: Boolean,
      nodes: Int = 10): Seq[Batch] = {
    val rnd = new scala.util.Random(seed)
    val net = mutable.Map.empty[(String, Long, Long), Long].withDefaultValue(0L)
    def datom(): (String, Long, Long, Long) = {
      val a = if (labels && rnd.nextInt(4) == 0) ":ua" else ":e1"
      val live = net.keysIterator.filter(k => k._1 == a && net(k) > 0L).toIndexedSeq
      val r = rnd.nextInt(10)
      val (k, d) =
        if (r < 3 && live.nonEmpty) (live(rnd.nextInt(live.length)), -1L)
        else if (r == 3) ((a, rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong), -1L)
        else {
          val x = rnd.nextInt(nodes).toLong
          val v =
            if (a == ":ua") 100L + rnd.nextInt(3)
            else if (rnd.nextInt(3) > 0) (x + 1) % nodes
            else rnd.nextInt(nodes).toLong
          ((a, x, v), 1L)
        }
      net(k) += d
      (k._1, k._2, k._3, d)
    }
    Seq.fill(n)(Seq.fill(8 + rnd.nextInt(8))(datom()))
  }

  private def present(net: Map[(String, Long, Long), Long], a: String): Set[(Long, Long)] =
    net.iterator.collect { case ((`a`, e, v), w) if w > 0L => (e, v) }.toSet

  /** Driver BFS for `reach`: every seed label flows along e1(y, x) from
    * y to x. */
  private def labelsOf(edges: Set[(Long, Long)], seeds: Set[(Long, Long)]): Set[(Long, Long)] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var total = seeds
    var frontier = seeds
    while (frontier.nonEmpty) {
      frontier = (for {
        (y, l) <- frontier
        x <- out.getOrElse(y, Set.empty[Long])
      } yield (x, l)) -- total
      total ++= frontier
    }
    total
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Long] =
    df.collect().toSeq
      .groupBy(r => r.toSeq.init)
      .map { case (k, rs) => k -> rs.map(_.getLong(rs.head.length - 1)).sum }
      .filter(_._2 != 0L)

  /** Drive `name`'s rule through the history, checking each drain
    * against `reference` of the thresholded input; returns the query
    * for probes. */
  private def drive(name: String, rule: Plan, batches: Seq[Batch],
      reference: Map[(String, Long, Long), Long] => Set[(Long, Long)]): IncrementalQuery = {
    import spark.implicits._
    val iq = new IncrementalQuery(spark, Plan.NameExpr(Seq(0, 1), name),
      kinds, Map(name -> rule), partitions = 4)
    val net = mutable.Map.empty[(String, Long, Long), Long].withDefaultValue(0L)
    var before = Set.empty[(Long, Long)]
    batches.zipWithIndex.foreach { case (batch, i) =>
      batch.foreach { case (a, e, v, d) => net((a, e, v)) += d }
      val deltas = batch.groupBy(_._1).map { case (a, rows) =>
        a -> rows.map { case (_, e, v, d) => (e, v, d) }.toDF("e", "v", "diff")
      }
      val after = reference(net.toMap)
      val want = (after -- before).map { case (x, y) => Seq[Any](x, y) -> 1L }.toMap ++
        (before -- after).map { case (x, y) => Seq[Any](x, y) -> -1L }
      val got = multiset(iq.advance(deltas))
      assert(got == want, s"advance $i of ${batches.length}: $batch")
      before = after
    }
    iq
  }

  private def tc(net: Map[(String, Long, Long), Long]): Set[(Long, Long)] =
    DriverClosure.of(present(net, ":e1"))

  private def labelprop(net: Map[(String, Long, Long), Long]): Set[(Long, Long)] =
    labelsOf(present(net, ":e1"), present(net, ":ua"))

  test("transitive closure (ClosureNode, default store) matches a driver closure") {
    for (seed <- Seq(71L, 72L)) {
      val iq = drive("closure", closure, history(seed, 6, labels = false), tc)
      assert(iq.closureStoreProbe == Seq("IncrementalClosure"))
    }
  }

  test("transitive closure (ClosureNode on DistributedClosure) matches a driver closure") {
    // A threshold of −1 admits no broadcast: the node never builds the
    // broadcast store (no driver edge set) and runs distributed throughout.
    TestSpark.withConf(TestSpark.BroadcastThreshold, "-1") {
      for (seed <- Seq(73L, 74L)) {
        val iq = drive("closure", closure, history(seed, 6, labels = false), tc)
        assert(iq.closureStoreProbe == Seq("DistributedClosure"))
      }
    }
  }

  test("transitive closure migrates to DistributedClosure mid-history at the byte gate") {
    // The gate admits exactly the first batch's edge set, so the node
    // starts on the broadcast store and the next advance with any edge
    // transition would cross it: the node plants the distributed store
    // from the broadcast one's edge set and closure and continues there,
    // and every drain still equals the driver closure.
    for (seed <- Seq(75L, 76L)) {
      val batches = history(seed, 6, labels = false)
      val firstEdges = batches.head.groupBy(d => (d._2, d._3))
        .count(_._2.map(_._4).sum > 0L)
      assert(firstEdges > 0, s"seed $seed: empty first batch")
      val gate = (firstEdges * graft.streaming.IncrementalClosure.EdgeBytes).toString
      val iq = TestSpark.withConf(TestSpark.BroadcastThreshold, gate) {
        drive("closure", closure, batches, tc)
      }
      assert(iq.closureStoreProbe == Seq("IncrementalClosure", "DistributedClosure"),
        s"seed $seed: stores built ${iq.closureStoreProbe}")
    }
  }

  test("label propagation (RecursionNode, default gate) matches a driver BFS") {
    for (seed <- Seq(81L, 82L))
      drive("reach", reach, history(seed, 6, labels = true), labelprop)
  }

  test("label propagation (RecursionNode, 1-byte gate) matches a driver BFS") {
    TestSpark.withConf(TestSpark.BroadcastThreshold, "1") {
      for (seed <- Seq(83L, 84L))
        drive("reach", reach, history(seed, 6, labels = true), labelprop)
    }
  }
}
