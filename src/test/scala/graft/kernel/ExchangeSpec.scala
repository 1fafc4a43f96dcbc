package graft.kernel

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.IncrementalQuery

/** The delta exchange returns exactly the rows `reduceByKey` returns:
  * the same multiset (boxed-`equals` keys, so a NaN inside a key stays
  * apart from another NaN, and zero sums kept), each row in the
  * partition `part` assigns its key, and `part` claimed as the output
  * partitioner. */
class ExchangeSpec extends AnyFunSuite {

  private lazy val sc = TestSpark.spark.sparkContext

  private def cell(rnd: scala.util.Random): Any = rnd.nextInt(6) match {
    case 0 => null
    case 1 => s"s${rnd.nextInt(3)}"
    case 2 => java.lang.Long.valueOf(rnd.nextInt(3).toLong)
    case 3 => Double.NaN
    case _ => rnd.nextInt(3).toLong
  }

  private def sumRows(rnd: scala.util.Random, n: Int): Seq[(Seq[Any], Long)] =
    Seq.fill(n)((Seq.fill(1 + rnd.nextInt(2))(cell(rnd)), rnd.nextInt(5).toLong - 2L))

  /** The rows as a sorted multiset of strings (NaN-safe), after checking
    * each row's partition. */
  private def placed[K, V](rdd: RDD[(K, V)], part: HashPartitioner): Seq[String] = {
    val out = rdd.mapPartitionsWithIndex((i, it) => it.map(r => (i, r))).collect()
    out.foreach { case (i, (k, _)) =>
      assert(part.getPartition(k) == i, s"row key $k in partition $i")
    }
    out.map(_._2.toString).toSeq.sorted
  }

  private val shapes: Seq[(Int, Int, Int)] = {
    val rnd = new scala.util.Random(17)
    (0, 3, 2) +: Seq.fill(10)((20 + rnd.nextInt(200), 1 + rnd.nextInt(8), 1 + rnd.nextInt(5)))
  }

  test("summed rows equal reduceByKey's as multisets, zero sums included") {
    val rnd = new scala.util.Random(101)
    shapes.foreach { case (n, src, tgt) =>
      val rows = sc.parallelize(sumRows(rnd, n), src)
      val part = new HashPartitioner(tgt)
      val got = Exchange.sum(rows, part)
      assert(got.partitioner.contains(part))
      val want = placed(rows.reduceByKey(part, _ + _), part)
      assert(placed(got, part) == want, s"rows=$n src=$src tgt=$tgt")
      if (n > 0) assert(want.exists(_.endsWith(",0)")), "no zero sum in the sample")
    }
  }

  test("input already partitioned by the target nets in place, without a shuffle") {
    val rnd = new scala.util.Random(202)
    val part = new HashPartitioner(3)
    val rows = sc.parallelize(sumRows(rnd, 150), 4).partitionBy(part)
    val got = Exchange.sum(rows, part)
    assert(got.dependencies.forall(_.isInstanceOf[org.apache.spark.NarrowDependency[_]]))
    assert(placed(got, part) == placed(rows.reduceByKey(part, _ + _), part))
  }

  test("keep-first dedupe and the LWW max-merge equal reduceByKey's rows") {
    val rnd = new scala.util.Random(303)
    shapes.foreach { case (n, src, tgt) =>
      val part = new HashPartitioner(tgt)
      val keys = sc.parallelize(Seq.fill(n)((Seq[Any](cell(rnd)), null: Null)), src)
      assert(placed(Exchange.distinct(keys, part), part) ==
        placed(keys.reduceByKey(part, (a, _) => a), part))
      // (t, seq, v, isAdd) per entity; seq is unique, so the max is total.
      val events = sc.parallelize(rnd.shuffle((1 to n).toList).map { s =>
        (rnd.nextInt(7).toLong,
          (rnd.nextInt(3).toLong, s.toLong, cell(rnd), rnd.nextBoolean()))
      }, src)
      val lww = IncrementalQuery.LwwLatest
      assert(placed(Exchange.net(events, part, lww), part) ==
        placed(events.reduceByKey(part, (a, b) => lww(a, b)), part),
        s"rows=$n src=$src tgt=$tgt")
    }
  }
}
