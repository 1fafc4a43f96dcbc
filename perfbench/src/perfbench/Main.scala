package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.GraftSession

/** One benchmark run in one JVM: start a Spark session, set the workload up
  * `setupReps` times (median reported), serve warm-up epochs, then serve
  * timed epochs in a closed loop with one client until `seconds` have
  * passed and at least `minEpochs` epochs ran, then `subscribes` late
  * subscribers. With `--trace 1` the run serves `traceEpochs` traced
  * epochs interleaved with as many untraced ones instead, and reports
  * per-layer metrics.
  *
  * Writes one JSON object to `--out`; `run.py` adds host context
  * and prints the result line. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, launchMs: Long, out: String, spans: String,
      setupReps: Int, warmup: Int, minEpochs: Int, traceEpochs: Int,
      subscribes: Int, injectDrop: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("launch-ms").toLong, get("out"),
      m.getOrElse("spans", ""), get("setup-reps").toInt, get("warmup").toInt,
      get("min-epochs").toInt, get("trace-epochs").toInt,
      get("subscribes").toInt, m.get("inject-drop").contains("1"))
  }

  /** Nearest-rank median (NaN when empty). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply((xs.size - 1) / 2)

  private final case class Rec(kind: String, ms: Double, datoms: Int, traced: Boolean,
      layers: Option[Map[String, Double]])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = GraftSession.builder(o.cores.toString, "perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Tracer(spark)
    if (o.trace) tr.install()
    val sessionS = (System.currentTimeMillis() - o.launchMs) / 1e3

    var attempted, failed = 0
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      System.err.println(s"[perfbench] $what failed: $e")
      if (e != null) e.printStackTrace()
    }

    // Set-up, several times on fresh engines; the last one serves.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var wl: Workload = null
    for (r <- 0 until o.setupReps) {
      if (wl != null) {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
      }
      wl = Workload.make(o.workload, o.seed, spark, tr)
      attempted += 1
      val t0 = System.nanoTime()
      val ok = try wl.setup() catch { case NonFatal(e) => fail("setup", e); true }
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup $r ${setupS.last}%.3f s")
      if (!ok) fail("setup check", null)
    }
    if (o.injectDrop) wl.dropOne = true

    val recs = mutable.ArrayBuffer.empty[Rec]
    var opN = 0
    def run(kind: String, timed: Boolean, traced: Boolean): Unit = {
      val op = if (kind == "epoch") wl.nextEpoch() else wl.nextSubscribe()
      attempted += 1
      opN += 1
      tr.begin(opN, traced)
      val t0 = System.nanoTime()
      val served =
        try Some(tr.span(s"op.$kind")(wl.serve(op)))
        catch { case NonFatal(e) => fail(s"$kind $opN", e); None }
      val ms = (System.nanoTime() - t0) / 1e6
      System.err.println(f"[perfbench] $kind $opN%d ${if (timed) "timed" else "warm-up"} $ms%.1f ms")
      val layers = tr.end().map(_ ++ wl.stateStats ++ served.map(s => Map(
        "server.bytes_in" -> s.bytesIn.toDouble, "server.bytes_out" -> s.bytesOut.toDouble,
        "engine.diff_rows" -> s.rows.toDouble)).getOrElse(Map.empty))
      served.foreach { s =>
        val ok = try wl.check(op, s) catch { case NonFatal(e) => fail("check", e); true }
        if (!ok) fail(s"$kind $opN output check", null)
        if (timed) recs += Rec(kind, ms, op.datoms, traced, layers)
      }
      if (kind == "subscribe") wl.withdraw(op)
    }

    for (_ <- 0 until o.warmup) run("epoch", timed = false, traced = false)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var n = 0
    def more =
      if (o.trace) n < 2 * o.traceEpochs
      else n < o.minEpochs || elapsed < o.seconds
    while (more) {
      run("epoch", timed = true, traced = o.trace && n % 2 == 0)
      n += 1
    }
    for (_ <- 0 until o.subscribes) run("subscribe", timed = true, traced = o.trace)

    val epochs = recs.filter(_.kind == "epoch")
    val subs = recs.filter(_.kind == "subscribe")
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val counts = mutable.ArrayBuffer.empty[Seq[Double]]
    if (!o.trace) {
      val ms = epochs.map(_.ms).toSeq
      metrics("setup_s") = sessionS + median(setupS.toSeq)
      metrics("epoch_ms_p50") = median(ms)
      metrics("datoms_per_s") = epochs.map(_.datoms).sum / (ms.sum / 1e3)
      metrics("subscribe_ms_p50") = median(subs.map(_.ms).toSeq)
      wl.releaseModel()
      System.gc()
      System.gc()
      metrics("heap_retained_mb") = java.lang.management.ManagementFactory
        .getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    } else {
      val traced = epochs.filter(_.traced)
      val layers = traced.flatMap(_.layers)
      for (k <- layers.flatMap(_.keySet).distinct.sorted) {
        val xs = layers.map(_.getOrElse(k, 0.0)).toSeq
        metrics(k) = median(xs)
        metrics(s"$k.sum") = xs.sum
      }
      val subLayers = subs.flatMap(_.layers).toSeq
      metrics("engine.subscribe_ms") =
        median(subLayers.map(_.getOrElse("engine.subscribe_ms", 0.0)))
      for (k <- Seq("spark.jobs", "compile.task_ms", "codegen.compile_ms", "catalyst.analysis_ms"))
        metrics(s"sub.$k") = median(subLayers.map(_.getOrElse(k, 0.0)))
      val tracedP50 = median(traced.map(_.ms).toSeq)
      metrics("trace.epoch_ms_p50") = tracedP50
      metrics("trace.untraced_epoch_ms_p50") = median(epochs.filterNot(_.traced).map(_.ms).toSeq)
      metrics("trace.overhead_ms") = tracedP50 - metrics("trace.untraced_epoch_ms_p50")
      metrics("trace.epochs") = traced.size.toDouble
      layers.foreach(l => counts += Seq("spark.jobs", "spark.stages", "spark.tasks",
        "engine.diff_rows").map(l.getOrElse(_, 0.0)))
      if (o.spans.nonEmpty) tr.writeSpans(Paths.get(o.spans))
    }
    metrics("check.failed_frac") = failed.toDouble / attempted

    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val json = new StringBuilder
    json ++= s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"""
    json ++= s""""epochs":${epochs.size},"subscribes":${subs.size},"""
    json ++= s""""setup_reps_s":[${setupS.map(num).mkString(",")}],"session_s":${num(sessionS)},"""
    json ++= s""""counts":[${counts.map(_.map(num).mkString("[", ",", "]")).mkString(",")}],"""
    json ++= metrics.map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString(""""metrics":{""", ",", "}}")
    Files.writeString(Paths.get(o.out), json.toString)
    spark.stop()
  }
}
