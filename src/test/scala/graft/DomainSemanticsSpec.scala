package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._
import graft.model.Plan._
import graft.model.Value._

/** Ports of the reference's domain / registration suites: epoch advance
  * rules (`tests/domain_test.rs:9-22`) and late query registration against
  * already-ingested inputs (`tests/registration_test.rs`). */
class DomainSemanticsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("advance_epoch: same-epoch ok, rewind errors (domain_test.rs:9)") {
    val engine = new Engine(spark)
    engine.createAttribute(":x")
    engine.register(Rule("q", matchA(0, ":x", 1)))
    engine.interest("q")
    engine.advance(1)
    engine.advance(1) // advancing to the current epoch is a no-op
    val ex = intercept[GraftError] { engine.advance(0) }
    assert(ex.getMessage.contains("rewind"))
    assert(ex.category == "df.error.category/conflict")
  }

  test("match_ea after input (registration_test.rs:11)") {
    val engine = new Engine(spark)
    engine.createAttribute(":name", AttributeConfig(InputSemantics.Distinct))
    engine.transact(Seq(
      Datom.add(1, ":name", str("Dipper")),
      Datom.add(1, ":name", str("Alias")),
      Datom.add(2, ":name", str("Mabel"))))
    engine.advance(1)

    // Query registered AFTER the data was ingested and the domain advanced:
    // the subscriber receives the accumulated state as initial diffs.
    engine.register(Rule("match_ea", MatchEA(1, ":name", 1)))
    engine.interest("match_ea")
    engine.advance(2)

    val got = engine.drain("match_ea").map { case (tuple, _, d) => (tuple, d) }.toSet
    assert(got == Set((Seq("Alias"), 1L), (Seq("Dipper"), 1L)))
  }

  test("join after input (registration_test.rs:66)") {
    val engine = new Engine(spark)
    engine.createAttribute(":transfer/from", AttributeConfig(InputSemantics.Distinct))
    engine.createAttribute(":user/id", AttributeConfig(InputSemantics.Distinct))
    engine.advance(1)
    engine.transact(Seq(Datom.add(1, ":user/id", str("123-456-789"))))
    engine.advance(2)
    engine.transact(Seq(Datom.add(101, ":transfer/from", str("123-456-789"))))
    engine.advance(3)

    val (transfer, sender, uuid) = (1, 2, 3)
    engine.register(Rule("join", Project(Seq(transfer, sender),
      Join(Seq(uuid),
        matchA(transfer, ":transfer/from", uuid),
        matchA(sender, ":user/id", uuid)))))
    engine.interest("join")
    engine.advance(4)

    val got = engine.drain("join").map { case (tuple, _, d) => (tuple, d) }
    assert(got == Seq((Seq(101L, 1L), 1L)))
  }

  test("buffered reads over [from, until) equal a scan of every datom, at out-of-order times") {
    // The per-advance reads go through a per-attribute time index; this
    // pins them against a filter over the whole transacted history.
    val dom = new graft.domain.Domain(spark)
    val rnd = new scala.util.Random(7)
    val attrs = Seq(":ix/a", ":ix/b")
    attrs.foreach(dom.createAttribute(_))
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Any, Long, Long, Long)]
    var seq = 0L
    (1 to 40).foreach { batch =>
      val ds = (1 to rnd.nextInt(6)).map { _ =>
        val t = if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(12).toLong)
        Datom(rnd.nextInt(4).toLong, attrs(rnd.nextInt(2)), Value.num(rnd.nextInt(3).toLong),
          t, if (rnd.nextInt(3) == 0) -1L else 1L)
      }
      val defaultT = (batch % 9).toLong
      dom.transact(ds, defaultT)
      ds.foreach { d =>
        seq += 1
        all += ((d.a, d.e, d.v.native, d.t.getOrElse(defaultT), d.diff, seq))
      }
    }
    dom.notePending(5L); dom.notePending(20L)
    for (from <- -1L to 13L; until <- from - 1L to 14L) {
      val in = all.filter(d => d._4 >= from && d._4 < until)
      assert(dom.pendingTimes(from, until) ==
        (in.map(_._4) ++ Seq(5L, 20L).filter(t => t >= from && t < until)).distinct.sorted)
      attrs.foreach { a =>
        val mine = in.filter(_._1 == a)
        assert(dom.bufferedEvents(a, from, until) ==
          mine.map(d => (d._2, d._3, d._4, d._5, d._6)).toSeq)
        val net = mine.groupMapReduce(d => (d._2, d._3))(_._5)(_ + _)
          .collect { case ((e, v), w) if w != 0L => (e, v, w) }
        assert(dom.bufferedDeltas(a, from, until).sortBy(_.toString) ==
          net.toSeq.sortBy(_.toString), s"$a [$from, $until)")
      }
    }
  }

  test("a long-valued datom costs one packed row in its attribute's buffer") {
    // 2^14 datoms fill the buffer's columns exactly (capacity doubles
    // from 16), so the measured bytes are the rows, not growth slack.
    val n = 16384
    val dom = new graft.domain.Domain(spark)
    dom.createAttribute(":pack/n")
    dom.transact((1 to n).map(i =>
      Datom(1000000L + i, ":pack/n", Value.num(1000000L + i), Some(i / 64L), 1L)), 0L)
    val perDatom = dom.bufferBytesProbe(":pack/n").toDouble / n
    // Five long columns are 40 B a datom. The buffer of boxed
    // (e, v, t, diff, seq) tuples it replaced measured 124.7 B a
    // datom on the same history: a Tuple5 and four boxed longs.
    assert(perDatom <= 48.0, f"$perDatom%.1f resident bytes per long-valued datom")
  }
}
