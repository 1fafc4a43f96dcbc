package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model._

/** One shared local session for all suites. */
object TestSpark {
  import scala.jdk.CollectionConverters._

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

  /** Run `body` with session conf `key` set to `value`, restoring the
    * previous setting (or unsetting it) afterwards. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Spark jobs `body` submits, counted on the listener bus by the job
    * group `body` runs under. */
  def jobsOf(label: String)(body: => Unit): Int = shapeOf(label)(body).jobs

  /** The jobs `body` submits (by job group) and each job's result-stage
    * task count, in submission order. */
  final case class JobShape(jobs: Int, resultTasks: Seq[Int])

  def shapeOf(label: String)(body: => Unit): JobShape = {
    val group = s"jobs-of-$label"
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // A job's result stage is created after its parents: the max id.
        if (e.properties != null &&
            group == e.properties.getProperty("spark.jobGroup.id"))
          tasks.add(e.stageInfos.maxBy(_.stageId).numTasks)
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, label)
      body
      org.apache.spark.GraftBus.flush(sc)
      val ts = tasks.asScala.toSeq
      JobShape(ts.length, ts)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Every RDD in the lineage of every `CommitLedger` action `body` runs
    * (down to checkpointed cuts). */
  def actionRddsOf(body: => Unit): Seq[org.apache.spark.rdd.RDD[_]] = {
    val found = scala.collection.mutable.LinkedHashMap.empty[Int, org.apache.spark.rdd.RDD[_]]
    graft.streaming.CommitLedger.actionProbe = { action =>
      val stack = scala.collection.mutable.Stack[org.apache.spark.rdd.RDD[_]](action)
      while (stack.nonEmpty) {
        val r = stack.pop()
        if (!found.contains(r.id)) {
          found(r.id) = r
          r.dependencies.foreach(d => stack.push(d.rdd))
        }
      }
    }
    try body finally graft.streaming.CommitLedger.actionProbe = null
    found.values.toSeq
  }

  /** The shuffles among `rdds`' dependencies that carry an aggregator or
    * a map-side combine (a by-key aggregation). */
  def aggregatingShuffles(rdds: Seq[org.apache.spark.rdd.RDD[_]])
      : Seq[org.apache.spark.ShuffleDependency[_, _, _]] =
    rdds.flatMap(_.dependencies.collect {
      case s: org.apache.spark.ShuffleDependency[_, _, _]
          if s.aggregator.isDefined || s.mapSideCombine => s
    })

  /** The RDDs among `rdds` that an SQL query built: an
    * `org.apache.spark.sql` class, or an operation scope (or enclosing
    * scope) named after a physical operator — SQL operators run under
    * capitalized node names ("Project", "Exchange", "Scan ..."), RDD
    * methods under their own lower-case names. */
  def sqlRdds(rdds: Seq[org.apache.spark.rdd.RDD[_]]): Seq[String] = {
    val scopeOf = classOf[org.apache.spark.rdd.RDD[_]].getMethod("scope")
    def names(scope: Option[AnyRef]): List[String] = scope match {
      case Some(s) =>
        s.getClass.getMethod("name").invoke(s).asInstanceOf[String] ::
          names(s.getClass.getMethod("parent").invoke(s).asInstanceOf[Option[AnyRef]])
      case None => Nil
    }
    rdds.flatMap { r =>
      val scopes = names(scopeOf.invoke(r).asInstanceOf[Option[AnyRef]])
      if (r.getClass.getName.startsWith("org.apache.spark.sql.") ||
          scopes.exists(n => n.nonEmpty && n.head.isUpper))
        Some(s"${r.getClass.getSimpleName}[${scopes.mkString(" < ")}]")
      else None
    }
  }

  /** `spark.sql.autoBroadcastJoinThreshold`, the byte gate every
    * driver/broadcast-vs-distributed choice reads (`-1` disables it). */
  val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"
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
