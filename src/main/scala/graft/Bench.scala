package graft
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The driver's timing harness: runs every bench cell once on a warmed
  * session and prints two JSON lines on stdout — a full-precision record
  * (per-cell seconds, per-cell Spark-side `layers`, host and
  * contamination probes) and a final driver-facing line ([[tailLine]]).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> [SPARK_GRAFT_ONLY=q_a,q_b]
  *        sbt "runMain graft.Bench"
  */
object Bench {
  /** Host contention probe: (1-min load average, count of OTHER java
    * processes). Emitted at window start and end so a reader of the
    * bench artifact can REJECT a contaminated capture without a re-run
    * (the round-15 adjudication: a driver window inflated unchanged
    * cells up to 37x; the artifact itself carried no evidence either
    * way). An sbt-launched run reports >=1 competing JVM (the sbt
    * parent) as its quiet-host baseline. */
  private def hostLoad(): (Double, Int) = {
    val load =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val self = ProcessHandle.current().pid()
    val jvms =
      try new java.io.File("/proc").listFiles((_, n) => n.forall(_.isDigit))
        .count { d =>
          try d.getName.toLong != self && {
            val src = scala.io.Source.fromFile(d.getPath + "/comm")
            try src.mkString.trim == "java" finally src.close()
          }
          catch { case _: Throwable => false }
        }
      catch { case _: Throwable => -1 }
    (load, jvms)
  }

  /** Fixed-work calibration probe: a pure-CPU xorshift spin and one
    * 8 MB fsync'd write to the tmp volume, each timed in wall seconds.
    * The WORK is identical every run, so a stalled window shows up
    * directly as an inflated calibration — even when load averages look
    * quiet (the round-17 finding: byte-identical code read 135 → 245 s
    * across one day, every window starting at load < 1.2; CPU-steal or
    * page-cache flush stalls are invisible to /proc/loadavg at window
    * start). Readers compare start/end calibration across captures the
    * way they compare host load. */
  private def calibrateCpu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val cpu = (System.nanoTime() - t0) / 1e9
    // Keep x observable so the spin cannot be eliminated.
    if (x == 42L) System.err.print("")
    cpu
  }

  /** Quiet-host baseline for the fixed-work CPU spin on the bench box,
    * committed so the mid-run stall gate has an absolute reference: ten
    * accepted r17/r18 captures read 0.095-0.122 s start AND end. The io
    * probe has NO usable quiet baseline (the same accepted captures span
    * 0.043-0.437 s — fsync latency legitimately swings with page-cache
    * state), which is why the stall gate is CPU-probe-based. */
  private val quietCpuBaseline = 0.10

  private def calibrate(): (Double, Double) = {
    val cpu = calibrateCpu()
    val t1 = System.nanoTime()
    val io =
      try {
        val f = java.io.File.createTempFile("graft-calib", ".bin")
        try {
          val ch = java.nio.channels.FileChannel.open(f.toPath,
            java.nio.file.StandardOpenOption.WRITE)
          try {
            ch.write(java.nio.ByteBuffer.wrap(new Array[Byte](8 << 20)))
            ch.force(true)
          } finally ch.close()
          (System.nanoTime() - t1) / 1e9
        } finally { val _ = f.delete() }
      } catch { case _: Throwable => -1.0 }
    (cpu, io)
  }

  /** ONE definition of a host-contaminated window — shared by the
    * pre-window wait loop and the published flag so the two can never
    * disagree on policy. Fails closed on probe sentinels. */
  private def hostContaminated(load: Double, jvms: Int): Boolean =
    load < 0.0 || jvms < 0 || load > 2.0 || jvms > 1

  /** One cell's Spark-side cost — the layer split its wall seconds
    * cannot show: jobs, completed stages and tasks, summed executor task
    * time and GC, shuffle bytes, and Janino codegen compiles. Wall time
    * minus task time over cores is driver time (planning, per-job
    * submission, checkpoint bookkeeping). */
  private[graft] final case class Layers(
      jobs: Long = 0L, stages: Long = 0L, tasks: Long = 0L,
      taskMs: Long = 0L, gcMs: Long = 0L,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      codegenCompiles: Long = 0L, codegenNs: Long = 0L) {
    def -(o: Layers): Layers = Layers(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
      shuffleReadBytes - o.shuffleReadBytes,
      shuffleWriteBytes - o.shuffleWriteBytes,
      codegenCompiles - o.codegenCompiles, codegenNs - o.codegenNs)
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""task_s":${ms3(taskMs)},"gc_s":${ms3(gcMs)},""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""codegen_compiles":$codegenCompiles,""" +
        s""""codegen_ms":${ms3(codegenNs / 1000L)}}"""
  }

  /** Monotone session-wide counters; a cell's [[Layers]] is the
    * difference of two reads taken around it. */
  private final class LayerListener extends SparkListener {
    private val jobs, stages, tasks, taskMs, gcMs, shR, shW = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
      ()
    }
    /** The counters once every event posted so far has been delivered
      * (a bus flush, not a sleep). Codegen counters are JVM-global:
      * local-mode executors compile in this JVM too. */
    def read(sc: SparkContext): Layers = {
      // A bus still busy after the flush's 10 s wait costs attribution
      // (late events land on the next cell), never the run.
      try org.apache.spark.GraftBus.flush(sc)
      catch { case _: java.util.concurrent.TimeoutException => () }
      Layers(jobs.get, stages.get, tasks.get, taskMs.get, gcMs.get,
        shR.get, shW.get,
        org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount,
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .compileTime)
    }
  }

  /** One measured cell: seconds (-1 when it failed), its failure
    * message, and its Spark-side layers. */
  private[graft] final case class Cell(
      name: String, secs: Double, error: Option[String], layers: Layers)

  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Integer milliseconds as a plain decimal count of seconds
    * ("1.234", "1.2", "0"); Locale-free, so always valid JSON. */
  private def ms3(ms: Long): String =
    BigDecimal(ms, 3).bigDecimal.stripTrailingZeros.toPlainString

  /** Upper bound on the driver-facing line: the driver parses the last
    * 2000 chars of stdout, and sbt may add a trailing line after it. */
  private[graft] val TailLimit = 1880

  /** Share of [[TailLimit]] the errors (with an empty `queries`) may
    * take; the rest is kept for per-cell seconds. */
  private val ErrorBudget = 1200

  /** The driver-facing last stdout line,
    * `{metric,value,unit,queries,errors,sf}`, at most [[TailLimit]]
    * chars. `queries` holds the slowest successful cells by full name
    * plus an `_other` sum of the rest; every value is a whole count of
    * milliseconds, so the printed values add up EXACTLY to `value`.
    * Failed cells count towards no value and are listed in `errors`,
    * whose messages shrink (60, 20, 0 chars, then a bare count) before
    * they may take more than [[ErrorBudget]] of the line. The host and
    * contamination block stays on the full-precision line. */
  private[graft] def tailLine(cells: Seq[Cell], sf: String): String = {
    val ok = cells.filter(_.error.isEmpty)
      .map(c => c.name -> math.round(c.secs * 1000.0))
      .sortBy { case (n, ms) => (-ms, n) }
    val totalMs = ok.map(_._2).sum
    val failed = cells.collect { case Cell(n, _, Some(m), _) => (n, m) }
    def line(top: Int, errs: String): String = {
      val kept = ok.take(top)
      val qs = (kept.map { case (n, ms) => jstr(n) + ":" + ms3(ms) } :+
        ("\"_other\":" + ms3(totalMs - kept.map(_._2).sum)))
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${ms3(totalMs)},"unit":"sec","queries":$qs,"errors":$errs,"sf":${jstr(sf)}}"""
    }
    val errs = (Iterator(60, 20, 0).map(k => failed.map { case (n, m) =>
      jstr(n) + ":" + jstr(m.take(k)) }.mkString("{", ",", "}")) ++
      Iterator(s"""{"_n":${failed.length}}"""))
      .find(e => line(0, e).length <= ErrorBudget)
      .getOrElse(s"""{"_n":${failed.length}}""")
    // The line grows with every kept cell: keep the longest prefix that fits.
    val top = (1 to ok.length).takeWhile(k => line(k, errs).length <= TailLimit)
      .lastOption.getOrElse(0)
    line(top, errs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Act on the flag BEFORE the window opens (r17 VERDICT #3): four
    // rounds running the driver's capture started under load and had to
    // be re-adjudicated from a builder re-run. Probe; if the window
    // would already read contaminated, wait and re-probe (bounded — at
    // most ~2.5 min) so the published artifact is clean on the first
    // driver attempt whenever the host quiets down at all.
    var (loadStart, jvmsStart) = hostLoad()
    var waits = 0
    while (loadStart >= 0.0 && jvmsStart >= 0 &&
        hostContaminated(loadStart, jvmsStart) && waits < 5) {
      System.err.println(
        s"[bench] contaminated window (load=$loadStart jvms=$jvmsStart); waiting 30s")
      Thread.sleep(30000L)
      val p = hostLoad(); loadStart = p._1; jvmsStart = p._2
      waits += 1
    }
    var (cpuStart, ioStart) = calibrate()
    // Same discipline for a CPU-starved start (steal with a quiet load
    // average — the r18 driver window): re-probe until the fixed-work
    // spin reads near its committed quiet baseline, bounded.
    var cwaits = 0
    while (cpuStart > 2.5 * quietCpuBaseline && cwaits < 5) {
      System.err.println(
        s"[bench] CPU-starved window (calib_cpu=$cpuStart); waiting 30s")
      Thread.sleep(30000L)
      val p = calibrate(); cpuStart = p._1; ioStart = p._2
      cwaits += 1
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Session conf posture lives in GraftSession (shared with Verify and
    // Plans — one definition, no per-entry-point drift); the GRAFT_CONF
    // A/B hook is parsed there and EMBEDDED in the output below so a
    // capture run with overrides is self-describing.
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new LayerListener
    spark.sparkContext.addSparkListener(meter)
    // Warm the session first (codegen compilation, parquet footer reads,
    // broadcast machinery, domain-catalog load for the bench SF) so startup
    // cost isn't attributed to whichever query happens to run first.
    // Warmup failures must not kill the run — the measured loop records
    // per-query errors; a broken warmup query will show up there.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    try SparkEntry.queries("q_match_ea")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Warm the bench-SF tables (parquet footers, scan codegen) so one-time
    // session costs aren't attributed to whichever query scans them first.
    Seq("lineitem", "orders", "customer", "documents", "embeddings", "events")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }

    // Optional comma-separated subset for local iteration, e.g.
    // SPARK_GRAFT_ONLY=q_dedup_jaccard,q_recursion_closure
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Name-sorted execution: hash-map iteration order would silently
    // reassign which query pays for shared checkpointed intermediates
    // (docsHp, LSH buckets, the fixpoint cache) between runs, making
    // per-query times incomparable across rounds.
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.contains(name))
    }
    // MID-RUN stall probes (r18 adjudication): the driver's 32-core r18
    // window read clean on every start/end gate yet its cells were 2-5x
    // inflated — the stall began after window start and recovered before
    // window end, exactly where the start/end calibrations cannot see.
    // One fixed-work CPU spin (~0.1 s quiet) runs BETWEEN cells, outside
    // every per-query timer, so the per-query seconds and their sum are
    // untouched; the gate below flags the window when the MEDIAN mid-run
    // probe exceeds 2.5x the committed quiet baseline (a majority-stalled
    // window cannot read clean, while a brief page-cache burp on a few
    // probes cannot flag a quiet one).
    val midCalib = scala.collection.mutable.ArrayBuffer.empty[Double]
    // A failing cell must be VISIBLE in the artifact: its seconds go
    // negative (-1, unmistakable as a timing) and its exception message
    // lands in the "errors" object — a broken query can never
    // masquerade as a fast one. The layer reads (bus flushes) sit
    // outside the timer.
    def measure(name: String)(body: => Unit): Cell = {
      midCalib += calibrateCpu()
      val before = meter.read(spark.sparkContext)
      val t0 = System.nanoTime()
      val err = try { body; None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      val secs = if (err.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0
      Cell(name, secs, err, meter.read(spark.sparkContext) - before)
    }
    // Shared cross-query artifacts (the corpus token-hash pass, LSH
    // bucket/pair tables, the digest-group family) are built once per
    // (session, SF) and read by many queries; building them under their
    // OWN named cell stops the cost landing on whichever consumer runs
    // first alphabetically (the q_dedup_clusters / q_contamination
    // attribution adjudications). The "a_" prefix sorts the cell first,
    // making the artifact line self-describing. Skipped for
    // SPARK_GRAFT_ONLY subsets (local iteration keeps raw attribution).
    val artRow: Seq[Cell] =
      if (only.nonEmpty) Seq.empty
      else Seq(measure("a_shared_artifacts")(
        graft.queries.PipelineQueries.prebuildSharedArtifacts(spark, sfDir)))
    val results = artRow ++ selected.map { case (name, fn) =>
      measure(name) { val _ = fn(spark, sfDir).count() }
    }
    val qs = results.map(c => jstr(c.name) + ":" + c.secs)
      .mkString("{", ",", "}")
    val errs = results.collect { case Cell(k, _, Some(m), _) =>
      jstr(k) + ":" + jstr(m.take(300)) }.mkString("{", ",", "}")
    val layers = results.map(c => jstr(c.name) + ":" + c.layers.json)
      .mkString("{", ",", "}")
    val total = results.collect { case c if c.error.isEmpty => c.secs }.sum
    val (loadEnd, jvmsEnd) = hostLoad()
    val (cpuEnd, ioEnd) = calibrate()
    def c3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", v: java.lang.Double)
    // Self-rejecting capture (r16 VERDICT #3): three rounds running the
    // driver window was contaminated and the comparison had to re-parse
    // host fields to discover it. A top-level flag makes the rejection
    // programmatic. Threshold: >1 competing JVM (an sbt launch always
    // sees its own parent) or a 1-min load already >2 at window START.
    // Probe failure (-1 sentinels) FAILS CLOSED on EVERY probe — host
    // load AND the calibration pair, start and end (r17 ADVICE: the
    // calibration sentinels were previously ignored): an unprobeable
    // window reads contaminated, not clean. The CPU calibration is
    // fixed work on one thread, so a 2x DIVERGENCE between its start
    // and end readings — in EITHER direction: a window can start
    // starved and quiet down just as it can degrade mid-run — can only
    // be CPU starvation (steal, competing spin) on one end, the stall
    // mode /proc/loadavg misses (SCALE_NOTES: 135 to 245 s on
    // identical code, every window opening below load 1.2). The IO
    // calibration stays reader-compared telemetry only: fsync latency
    // legitimately swings several-fold with page-cache state, so it
    // gates on probe FAILURE, not on inflation.
    val midSorted = midCalib.toSeq.sorted
    val midMed =
      if (midSorted.isEmpty) -1.0 else midSorted(midSorted.length / 2)
    val midMax = if (midSorted.isEmpty) -1.0 else midSorted.last
    // Mid-run stall gate: the median fixed-work spin across the window
    // must stay near the committed quiet baseline (see quietCpuBaseline).
    // 2.5x: accepted quiet captures read 0.095-0.122 start AND end, so
    // 0.25 is far above quiet-window variance but well below what a
    // window inflating cells 2-5x reads. Probe failure fails closed.
    val midStalled = midMed < 0.0 || midMed > 2.5 * quietCpuBaseline
    val contaminated = hostContaminated(loadStart, jvmsStart) ||
      cpuStart < 0.0 || ioStart < 0.0 || cpuEnd < 0.0 || ioEnd < 0.0 ||
      math.max(cpuStart, cpuEnd) > 2.0 * math.min(cpuStart, cpuEnd) ||
      midStalled
    // GRAFT_CONF overrides (if any) ride in the host block so a capture
    // taken with a non-default session conf can never masquerade as a
    // committed-defaults run (r18 ADVICE).
    val confStr =
      if (GraftSession.confOverrides.isEmpty) ""
      else GraftSession.confOverrides
        .map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString(""","conf_overrides":{""", ",", "}")
    val host = s""""contaminated":$contaminated,"host":{"load_start":$loadStart,"load_end":$loadEnd,"jvms_start":$jvmsStart,"jvms_end":$jvmsEnd,"calib_cpu_start":${c3(cpuStart)},"calib_io_start":${c3(ioStart)},"calib_cpu_end":${c3(cpuEnd)},"calib_io_end":${c3(ioEnd)},"calib_cpu_mid_med":${c3(midMed)},"calib_cpu_mid_max":${c3(midMax)},"calib_cpu_mid_n":${midCalib.length}}$confStr"""
    // Full-precision line first — the per-round capture files keep whole
    // stdout, so this is the builder/judge A/B and layer record.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"layers":$layers,$host,"sf":${jstr(sfDir)}}""")
    println(tailLine(results, sfDir))
    spark.stop()
  }
}
