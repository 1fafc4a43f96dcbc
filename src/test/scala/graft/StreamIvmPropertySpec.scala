package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.model.Plan._
import graft.model.ValueKind._
import graft.streaming.IncrementalQuery

/** A streamed rule obeys the same IVM invariant as the batch engine: for
  * any plan attached to a live datom stream and any random
  * assert/retract history, the accumulated streamed diffs net to the
  * from-scratch batch result — Σ_t diff(tuple, t) == weight(tuple) in the
  * final consolidated state. */
class StreamIvmPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // (attr index 0/1, e, v, diff)
  private val genUpdate: Gen[(Int, Long, Long, Long)] = for {
    a <- Gen.choose(0, 1)
    e <- Gen.choose(1L, 3L)
    v <- Gen.choose(1L, 3L)
    diff <- Gen.frequency(3 -> 1L, 1 -> -1L)
  } yield (a, e, v, diff)

  private val genHistory: Gen[Seq[Seq[(Int, Long, Long, Long)]]] =
    Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.nonEmptyListOf(genUpdate).map(_.take(5))))

  private def plans: Seq[(String, Plan)] = Seq(
    "project" -> Project(Seq(1, 0), MatchA(0, ":s/x", 1)),
    "filter" -> Filter(Seq(1), Predicate.LTE, MatchA(0, ":s/x", 1),
      Seq(None, Some(Value.num(2)))),
    "join" -> Join(Seq(0), MatchA(0, ":s/x", 1), MatchA(0, ":s/y", 2)),
    "union" -> Union(Seq(0, 1), Seq(MatchA(0, ":s/x", 1), MatchA(0, ":s/y", 1))),
    "aggregate" -> Aggregate(Seq(0, 1), MatchA(0, ":s/x", 1),
      Seq(AggregationFn.SUM), Seq(0), Seq(1), Seq.empty),
    "minmax" -> Aggregate(Seq(0, 1, 1), MatchA(0, ":s/x", 1),
      Seq(AggregationFn.MIN, AggregationFn.MAX), Seq(0), Seq(1, 1), Seq.empty),
    "antijoin" -> Antijoin(Seq(0), MatchA(0, ":s/x", 1),
      Project(Seq(0), MatchA(0, ":s/y", 1))),
    "transform" -> Transform(Seq(1), 3, MatchA(0, ":s/x", 1), Fn.ADD,
      Seq(Some(Value.num(2)))))

  /** Batch oracle: net multiset of the plan over the accumulated updates,
    * computed from first principles on the driver. */
  private def expected(plan: Plan, name: String,
      hist: Seq[(Int, Long, Long, Long)]): Map[Seq[Any], Long] = {
    def attr(i: Int): Map[(Long, Long), Long] =
      hist.filter(_._1 == i).groupBy(u => (u._2, u._3))
        .view.mapValues(_.map(_._4).sum).filter(_._2 != 0).toMap
    val x = attr(0)
    val y = attr(1)
    name match {
      case "project" =>
        x.map { case ((e, v), w) => (Seq[Any](v, e), w) }
      case "filter" =>
        x.collect { case ((e, v), w) if v <= 2 => (Seq[Any](e, v), w) }
      case "join" =>
        (for {
          ((e1, v1), w1) <- x.toSeq
          ((e2, v2), w2) <- y.toSeq
          if e1 == e2
        } yield (Seq[Any](e1, v1, v2), w1 * w2))
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).filter(_._2 != 0).toMap
      case "union" =>
        val all = (x.toSeq ++ y.toSeq).groupBy(_._1)
          .view.mapValues(_.map(_._2).sum).toMap
        all.collect { case ((e, v), w) if w > 0 => (Seq[Any](e, v), 1L) }
      case "aggregate" =>
        x.toSeq.groupBy(_._1._1).view
          .mapValues(vs => (vs.map(u => u._1._2 * u._2).sum, vs.map(_._2).sum))
          .collect { case (e, (s, sup)) if sup > 0 => (Seq[Any](e, s), 1L) }
          .toMap
      case "minmax" =>
        // A key stays while its consolidated support has a positive
        // entry, even at net count <= 0 (Z-set {A:+1, B:-1}): MIN/MAX
        // over the positive support stay defined — the batch
        // compiler's aggregate rule, and NaiveEval's.
        x.toSeq.groupBy(_._1._1).view
          .mapValues { vs =>
            val pos = vs.collect { case ((_, v), w) if w > 0 => v }
            (pos, vs.map(_._2).sum)
          }
          .collect { case (e, (pos, _)) if pos.nonEmpty =>
            (Seq[Any](e,
              if (pos.isEmpty) null else pos.min,
              if (pos.isEmpty) null else pos.max), 1L)
          }.toMap
      case "antijoin" =>
        // Right presence = per-entity NET weight of the projected side > 0
        // (batch: projectTo then distinctify sums weights per key).
        val rightKeys = y.toSeq.groupBy(_._1._1).view
          .mapValues(_.map(_._2).sum).collect { case (e, w) if w > 0 => e }.toSet
        x.collect { case ((e, v), w) if w > 0 && !rightKeys.contains(e) =>
          (Seq[Any](e, v), 1L)
        }
      case "transform" =>
        x.map { case ((e, v), w) => (Seq[Any](e, v, v + 2L), w) }
      case other => sys.error(s"no oracle for $other")
    }
  }

  test("streamed diffs net to the batch result under random histories") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val seedBase = 20260812L
    for ((name, plan) <- plans; round <- 0 until 3) {
      val hist = genHistory(Gen.Parameters.default, Seed(seedBase + round))
        .getOrElse(Seq.empty)
      val xs = MemoryStream[(Long, Long, Long, Long)]
      val ys = MemoryStream[(Long, Long, Long, Long)]
      val iq = new IncrementalQuery(spark, plan,
        Map(":s/x" -> KNumber, ":s/y" -> KNumber))
      val net = scala.collection.mutable.Map.empty[Seq[Any], Long]
      val query = iq.attach(DatomStream.of(Map(
        ":s/x" -> xs.toDF.toDF("e", "v", "t", "diff"),
        ":s/y" -> ys.toDF.toDF("e", "v", "t", "diff"))),
        s"sipq_${name}_$round") { (_, df) =>
        df.collect().foreach { r =>
          val tuple: Seq[Any] = r.toSeq.init
          net(tuple) = net.getOrElse(tuple, 0L) + r.getLong(r.length - 1)
        }
      }
      try {
        hist.zipWithIndex.foreach { case (tx, i) =>
          tx.foreach {
            case (0, e, v, d) => xs.addData((e, v, i.toLong, d))
            case (_, e, v, d) => ys.addData((e, v, i.toLong, d))
          }
          query.processAllAvailable()
        }
        val got = net.filter(_._2 != 0L).toMap
        val want = expected(plan, name, hist.flatten)
        assert(got == want, s"plan=$name round=$round hist=$hist")
      } finally query.stop()
    }
  }
}
