package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.streaming.BiMaintained

/** The reference's bitemporal cases (`tests/input_semantics.rs:337-508`)
  * driven through Structured Streaming via `BiMaintained.attachStream`:
  * system time rides the stream's arrival order, event time is free, and
  * late event-time data must emit the same product-order corrections the
  * batch `BitemporalSpec` asserts. */
class BiStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("bitemporal correction case runs on a MemoryStream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val engine = new BiMaintained(spark, partitions = 4)
    engine.createAttribute(":amount", AttributeConfig(InputSemantics.LastWriteWins))
    engine.register(Rule("query", Plan.MatchA(0, ":amount", 1)))
    engine.interest("query")

    val in = MemoryStream[(Long, String, Long, Long, Long, Long)]
    val got = mutable.ArrayBuffer.empty[(Seq[Any], (Long, Long), Long)]
    val query = engine.attachStream(
      in.toDF.toDF("e", "a", "v", "sys", "event", "diff"), "bistream-spec") {
      (_, diffs) => got ++= diffs
    }
    try {
      // Batch 1 = system time 0: values at event times 0 and 2
      // (input_semantics.rs:380's first transaction).
      in.addData((100L, ":amount", 0L, 0L, 0L, 1L), (100L, ":amount", 2L, 0L, 2L, 1L))
      query.processAllAvailable()
      assert(got.toSet == Set(
        (Seq(100L, 0L), (0L, 0L), 1L),
        (Seq(100L, 0L), (0L, 2L), -1L),
        (Seq(100L, 2L), (0L, 2L), 1L)))
      got.clear()

      // Batch 2 = system time 1: a LATE write at event time 1. It must
      // retract the value visible at (1,1) — the (0,0) write, which is
      // product-dominated — while leaving the (0,2) value alone.
      in.addData((100L, ":amount", 1L, 1L, 1L, 1L))
      query.processAllAvailable()
      assert(got.toSet == Set(
        (Seq(100L, 0L), (1L, 1L), -1L),
        (Seq(100L, 1L), (1L, 1L), 1L)))
    } finally query.stop()
  }

  test("system time must be strictly increasing across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val engine = new BiMaintained(spark, partitions = 4)
    engine.createAttribute(":x", AttributeConfig(InputSemantics.LastWriteWins))
    engine.register(Rule("query", Plan.MatchA(0, ":x", 1)))
    engine.interest("query")

    val in = MemoryStream[(Long, String, Long, Long, Long, Long)]
    val query = engine.attachStream(
      in.toDF.toDF("e", "a", "v", "sys", "event", "diff"), "bistream-guard-spec") {
      (_, _) => ()
    }
    try {
      in.addData((1L, ":x", 1L, 0L, 0L, 1L))
      query.processAllAvailable()
      // sys=0 was closed by the first batch: a second write there is a
      // loud failure, not silent reordering.
      in.addData((2L, ":x", 2L, 0L, 0L, 1L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      assert(ex.getMessage.contains("closed system time") ||
        Option(ex.getCause).exists(_.getMessage.contains("closed system time")))
    } finally query.stop()
  }
}
