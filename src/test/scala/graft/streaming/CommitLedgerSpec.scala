package graft.streaming

import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A counted commit (`StateCell.commitCounted`) inside an open
  * `CommitLedger` drops the generation it supersedes at once, so a round
  * loop of counted commits (the closure stores' inserts) holds one
  * generation at a time; only a generation that a lazy commit pending on
  * the ledger still reads waits for the ledger's action. */
class CommitLedgerSpec extends AnyFunSuite {
  import CommitLedgerSpec._

  private lazy val sc = TestSpark.spark.sparkContext

  private def persisted(r: RDD[_]): Boolean = sc.getPersistentRDDs.contains(r.id)

  private def cell() = new StateCell[Vector[Long]](sc, 2, () => Vector.empty, _.size * 8L)

  private def delta(xs: Long*): RDD[Long] = sc.parallelize(xs, 2)

  test("counted commits inside a ledger drop each superseded generation at once") {
    val c = cell()
    CommitLedger.run(sc) {
      val gens = (1L to 4L).map { i =>
        val (_, n) = c.advance1Counted(delta(i, 10L + i))(append)
        assert(n == 2L)
        c.liveGeneration
      }
      gens.init.zipWithIndex.foreach { case (g, i) =>
        assert(!persisted(g), s"round ${i + 1}'s generation outlived round ${i + 2}")
      }
      assert(persisted(gens.last))
      (Nil, Nil)
    }
    assert(c.rdd.collect().flatten.toSet == Set(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
  }

  test("a generation that a pending lazy commit reads waits for the ledger's action") {
    val c = cell()
    var pending: RDD[_] = null
    val (_, rows) = CommitLedger.run(sc) {
      val out = c.advance1(delta(1L, 2L))(append)
      pending = c.liveGeneration
      c.advance1Counted(delta(3L))(append)
      assert(persisted(pending), "dropped a generation a pending commit still reads")
      val counted = c.liveGeneration
      c.advance1Counted(delta(4L))(append)
      assert(!persisted(counted), "kept a generation no pending commit reads")
      (Nil, Seq(out))
    }
    assert(rows(0).toSet == Set[Any](1L, 2L))
    assert(!persisted(pending), "the ledger's action did not drop the pending generation")
    assert(c.rdd.collect().flatten.toSet == Set(1L, 2L, 3L, 4L))
  }
}

object CommitLedgerSpec {
  /** Append a partition's delta to its state and emit it. */
  val append: (Vector[Long], Iterator[Long]) => (Vector[Long], Array[Long]) =
    (s, d) => { val a = d.toArray; (s ++ a, a) }
}
