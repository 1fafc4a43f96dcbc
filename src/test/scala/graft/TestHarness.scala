package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // GC-clean reliable checkpoint files under -Dgraft.checkpoint.dir
      // (must be set at SparkContext construction; see kernel.Ckpt).
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One live datom stream in the shape `IncrementalQuery.attach` drains
  * (`a, e, v, t, diff`), unioned from per-attribute `(e, v, t, diff)`
  * streams. `v` travels as a string; `advance` casts it back to each
  * attribute's kind. */
object DatomStream {
  def of(sources: Map[String, org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    sources.toSeq.map { case (a, df) =>
      df.select(lit(a).as("a"), col("e"), col("v").cast("string").as("v"),
        col("t"), col("diff"))
    }.reduce(_ union _)
  }
}

/** Port of the reference's universal end-to-end harness
  * (`tests/query_test.rs:17-114`): a Case is a plan (or rule set), a
  * sequence of transactions, and the exact multiset of output diffs
  * `(tuple, time, diff)` expected after each transaction — including
  * retractions; nothing missing, nothing extraneous.
  */
final case class TC(
    description: String,
    rules: Seq[Rule],
    transactions: Seq[Seq[Datom]],
    expectations: Seq[Seq[(Seq[Value], Long, Long)]],
    interestOn: String = "query")

object TC {
  def apply(
      description: String,
      plan: Plan,
      transactions: Seq[Seq[Datom]],
      expectations: Seq[Seq[(Seq[Value], Long, Long)]]): TC =
    TC(description, Seq(Rule("query", plan)), transactions, expectations)
}

trait EngineCases { self: AnyFunSuite =>

  def runCases(
      cases: Seq[TC],
      semantics: InputSemantics = InputSemantics.Distinct): Unit =
    cases.foreach(tc => runCase(tc, semantics))

  def runCase(tc: TC, semantics: InputSemantics): Unit = {
    val engine = new Engine(TestSpark.spark)
    val planDeps = tc.rules
      .map(r => Plan.dependencies(r.plan)._1)
      .foldLeft(Set.empty[String])(_ ++ _)
    val txAttrs = tc.transactions.flatten.map(_.a).toSet
    (planDeps ++ txAttrs).foreach { a =>
      engine.createAttribute(a, AttributeConfig(semantics))
    }
    tc.rules.foreach(engine.register)
    engine.interest(tc.interestOn)

    // Expectations may outnumber transactions (future-dated datoms emit
    // on later advances) — mirror the reference harness's pop-one-if-any
    // loop (input_semantics.rs:146-158).
    var nextTx = 0L
    val txQueue = scala.collection.mutable.Queue(tc.transactions: _*)
    tc.expectations.foreach { expected =>
      nextTx += 1
      if (txQueue.nonEmpty) engine.transact(txQueue.dequeue())
      engine.advance(nextTx)
      val got = engine.drain(tc.interestOn)
      val want = expected.map { case (vs, t, d) =>
        (vs.map(Engine.expectedNative): Seq[Any], t, d)
      }
      assert(
        multiset(got) == multiset(want),
        s"\n[${tc.description}] tx $nextTx\n  got:  ${got.sortBy(_.toString)}\n  want: ${want.sortBy(_.toString)}")
    }
  }

  private def multiset[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap
}
