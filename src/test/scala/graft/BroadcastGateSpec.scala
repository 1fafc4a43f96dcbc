package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.RddKernel.broadcastable

/** The one broadcast byte gate: a threshold ≤ 0 (Spark's −1, broadcasts
  * disabled) admits nothing; above it, `rows × bytesPerRow` must fit. */
class BroadcastGateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def at[A](gate: String)(body: => A): A =
    TestSpark.withConf(TestSpark.BroadcastThreshold, gate)(body)

  test("broadcasts disabled (-1) or a zero gate admit no rows") {
    for (gate <- Seq("-1", "0")) at(gate) {
      assert(!broadcastable(spark, 0L, 8L), gate)
      assert(!broadcastable(spark, 1L, 8L), gate)
      assert(!broadcastable(spark, 1000000L, 80L), gate)
    }
  }

  test("under the gate fits, over it does not") {
    at("800") {
      assert(broadcastable(spark, 0L, 8L))
      assert(broadcastable(spark, 100L, 8L))
      assert(!broadcastable(spark, 101L, 8L))
      assert(!broadcastable(spark, 1L, 801L))
    }
    at("10MB") {
      assert(broadcastable(spark, (10L << 20) / 80L, 80L))
      assert(!broadcastable(spark, (10L << 20) / 80L + 1L, 80L))
      // No overflow at data-sized row counts.
      assert(!broadcastable(spark, Long.MaxValue / 2L, 80L))
    }
  }
}
