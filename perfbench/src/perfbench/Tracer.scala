package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one operation share `op`; `parent` is 0
  * for the operation's root span. Times are wall-clock milliseconds on
  * the same clock Spark's listener events use. */
final case class Span(id: Long, parent: Long, op: Int, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** A Spark job attributed to the span that submitted it (through the job
  * group the tracer set) and to the first `graft.<module>` frame of its
  * call site. */
final class JobRec(val jobId: Int, val span: Long, val startMs: Long,
    var module: String, var recursion: Boolean, val site: String,
    val execution: String) {
  @volatile var endMs: Long = -1L
  val stages = new ConcurrentHashMap[Int, StageAgg]()
}

final class StageAgg {
  @volatile var submitMs: Long = -1L
  @volatile var completed: Boolean = false
  var tasks, emptyTasks = 0L
  var runMs, gcMs, queueMs, shuffleRead, shuffleWrite = 0L
}

/** Spans recorded from the benchmark's own calls into each layer, plus
  * the Spark, Catalyst, codegen, storage and JVM counters read at the same
  * boundaries. Inactive (every `span` is a plain call) outside traced
  * operations, so untraced epochs run the same code path. Nothing is
  * written until [[writeSpans]] at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis()
  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[(Long, String)] = Nil
  private var op = -1
  private var active = false

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack = (id, name) :: stack
      sc.setJobGroup(s"pb-$id", name)
      val t0 = nowMs
      try body
      finally {
        spans += Span(id, parent, op, name, t0, nowMs)
        stack = stack.tail
        stack.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(s"pb-$pid", pname)
          case None               => sc.clearJobGroup()
        }
      }
    }

  // ------------------------------------------------------------ listeners

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val Module = """graft\.([a-z]+)\.""".r

  private def firstEngineFrame(details: String): Option[String] =
    details.linesIterator.filterNot(_.contains("perfbench"))
      .find(l => Module.findFirstIn(l).isDefined)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith("pb-")).foreach { g =>
        val site = e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.details).getOrElse("")
        // Kernel operators are lazy RDD transformations: their jobs are
        // submitted from other modules, so they show in the lineage (RDDs
        // created in RddKernel) rather than in the call site.
        val kernel = e.stageInfos.exists(_.rddInfos.exists(_.callSite.contains("RddKernel.scala")))
        val frame = firstEngineFrame(site)
        val module = frame.flatMap(l => Module.findFirstMatchIn(l).map(_.group(1)))
          .getOrElse("other")
        val rec = new JobRec(e.jobId, g.stripPrefix("pb-").toLong, e.time,
          if (kernel) "kernel" else module,
          frame.exists(_.contains("$RecursionNode")), site,
          e.properties.getProperty("spark.sql.execution.id", ""))
        e.stageIds.foreach { s =>
          rec.stages.put(s, new StageAgg)
          stageJob.put(s, rec)
        }
        jobs.put(e.jobId, rec)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stage(e.stageInfo.stageId).foreach(
        _.submitMs = e.stageInfo.submissionTime.getOrElse(-1L))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stage(e.stageInfo.stageId).foreach(_.completed = true)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (st <- stage(e.stageId); m <- Option(e.taskMetrics)) st.synchronized {
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        if (st.submitMs >= 0) st.queueMs += math.max(0L, e.taskInfo.launchTime - st.submitMs)
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        val wrote = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        if (read == 0L && wrote == 0L) st.emptyTasks += 1
      }
  }
  private def stage(id: Int): Option[StageAgg] =
    Option(stageJob.get(id)).map(_.stages.get(id))

  private val executions = new AtomicLong()
  private val analysisMs, optimizationMs, planningMs = new DoubleAdder
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      executions.incrementAndGet()
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => analysisMs.add(p.durationMs.toDouble))
      ph.get("optimization").foreach(p => optimizationMs.add(p.durationMs.toDouble))
      ph.get("planning").foreach(p => planningMs.add(p.durationMs.toDouble))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  // Janino compile times: Spark logs each at INFO from CodeGenerator;
  // CodegenMetrics keeps only a sampled histogram of them.
  private val codegenMs = new DoubleAdder
  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private def installCodegenAppender(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Generated(ms) => codegenMs.add(ms.toDouble)
          case _             => ()
        }
    }
    app.start()
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    installCodegenAppender()
  }

  // ------------------------------------------------------- per-op records

  private def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private final case class Base(exec: Long, an: Double, opt: Double,
      plan: Double, cg: Long, cgMs: Double, gc: Long)
  private var base: Base = _

  /** Start operation `n`; spans are recorded only when `traced`. */
  def begin(n: Int, traced: Boolean): Unit = {
    op = n
    active = traced
    if (traced) {
      PerfbenchBus.drain(sc)
      base = Base(executions.get, analysisMs.sum, optimizationMs.sum,
        planningMs.sum, codegenCount, codegenMs.sum, gcMs)
    }
  }

  val layerModules = Seq("engine", "streaming", "kernel", "compile", "domain", "sinks", "other")

  /** Close the current operation. For a traced one, wait for Spark's
    * listener events and return its layer record. */
  def end(): Option[Map[String, Double]] = {
    val traced = active
    active = false
    if (!traced) None
    else {
      PerfbenchBus.drain(sc)
      val mine = spans.filter(_.op == op).toSeq
      val ids = mine.map(_.id).toSet
      val opJobs = jobs.values.asScala.filter(j => ids(j.span)).toSeq
      // Jobs Spark submits from its SQL thread pool (adaptive query
      // stages, broadcast exchanges) carry no engine frame. They
      // materialize what the next action of the same span reads, so they
      // take the module of that span's next attributed job.
      val ordered = opJobs.sortBy(_.jobId)
      ordered.zipWithIndex.filter(_._1.module == "other").foreach { case (j, i) =>
        ordered.iterator.drop(i + 1)
          .find(n => n.span == j.span && n.module != "other")
          .foreach { n => j.module = n.module; j.recursion = n.recursion }
      }
      val stagesDone = opJobs.flatMap(_.stages.values.asScala).filter(_.completed)
      val r = mutable.LinkedHashMap.empty[String, Double]
      def sumSt(f: StageAgg => Long) = stagesDone.map(f).sum.toDouble
      r("spark.jobs") = opJobs.size
      r("spark.stages") = stagesDone.size
      r("spark.tasks") = sumSt(_.tasks)
      r("spark.empty_task_frac") =
        if (r("spark.tasks") == 0) 0.0 else sumSt(_.emptyTasks) / r("spark.tasks")
      r("spark.task_ms") = sumSt(_.runMs)
      r("spark.task_gc_ms") = sumSt(_.gcMs)
      r("spark.task_queue_ms") = sumSt(_.queueMs)
      r("spark.shuffle_read_bytes") = sumSt(_.shuffleRead)
      r("spark.shuffle_write_bytes") = sumSt(_.shuffleWrite)
      val intervals = opJobs.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble))
      r("spark.job_busy_ms") = Tracer.unionMs(intervals)
      for (m <- layerModules) {
        val js = opJobs.filter(_.module == m)
        r(s"$m.jobs") = js.size
        r(s"$m.job_ms") = js.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble).sum
        r(s"$m.task_ms") = js.flatMap(_.stages.values.asScala)
          .filter(_.completed).map(_.runMs).sum.toDouble
      }
      val rec = opJobs.filter(_.recursion)
      r("streaming.recursion_jobs") = rec.size
      r("streaming.recursion_task_ms") = rec.flatMap(_.stages.values.asScala)
        .filter(_.completed).map(_.runMs).sum.toDouble
      def spanMs(n: String) = mine.filter(_.name == n).map(_.ms).sum
      r("server.decode_ms") = spanMs("decode")
      r("server.encode_ms") = spanMs("encode")
      r("engine.transact_ms") = spanMs("transact")
      r("engine.advance_ms") = spanMs("advance")
      r("engine.drain_ms") = spanMs("drain")
      r("engine.subscribe_ms") = spanMs("subscribe")
      r("spark.driver_gap_ms") =
        r("engine.advance_ms") + r("engine.subscribe_ms") - r("spark.job_busy_ms")
      // Self time: a span minus the part of it its children cover (child
      // spans for the root, attributed Spark jobs for the call spans).
      for (s <- mine) {
        val covered =
          if (s.parent == 0L) Tracer.unionMs(mine.filter(_.parent == s.id)
            .map(c => (c.startMs, c.endMs)))
          else Tracer.unionMs(opJobs.filter(j => j.span == s.id && j.endMs >= 0)
            .map(j => (math.max(j.startMs.toDouble, s.startMs),
              math.min(j.endMs.toDouble, s.endMs))))
        val key = if (s.parent == 0L) "self.root_ms" else s"self.${s.name}_ms"
        r(key) = r.getOrElse(key, 0.0) + math.max(0.0, s.ms - covered)
      }
      r("catalyst.executions") = (executions.get - base.exec).toDouble
      r("catalyst.analysis_ms") = analysisMs.sum - base.an
      r("catalyst.optimization_ms") = optimizationMs.sum - base.opt
      r("catalyst.planning_ms") = planningMs.sum - base.plan
      r("codegen.compiles") = (codegenCount - base.cg).toDouble
      r("codegen.compile_ms") = codegenMs.sum - base.cgMs
      val storage = sc.getRDDStorageInfo
      r("state.cached_mb") = storage.map(_.memSize).sum / 1e6
      r("state.disk_mb") = storage.map(_.diskSize).sum / 1e6
      r("jvm.gc_ms") = (gcMs - base.gc).toDouble
      r("jvm.heap_used_mb") =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      Some(r.toMap)
    }
  }

  /** All spans and attributed jobs, one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map(s =>
      f"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""") ++
      jobs.values.asScala.toSeq.sortBy(_.jobId).iterator.map(j =>
        s"""{"job":${j.jobId},"parent":${j.span},"module":"${j.module}","execution":"${j.execution}",""" +
          s""""site":"${Tracer.jsonEscape(j.site)}",""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${
            j.stages.values.asScala.count(_.completed)}}""")
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

object Tracer {
  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
