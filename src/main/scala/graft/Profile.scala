package graft
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

/** Measurement harness for the optimization rounds (guide §1): runs the
  * named bench cells with a SparkListener attached and prints, per cell,
  * wall seconds next to the Spark-side job/stage/task counts and the
  * summed executor task time. The gap between wall time and task time /
  * cores is DRIVER time (planning, checkpoint bookkeeping, per-job
  * submission overhead) — the first thing to attribute on maintained
  * cells that run many small jobs per advance. Not part of the driver
  * bench contract; local iteration only.
  *
  * Usage: SPARK_GRAFT_ONLY=q_a,q_b sbt "runMain graft.Profile"
  */
object Profile {
  /** Job callsite label: the first `graft.*` frame of the stage details
    * (up to and including its `(File.scala:12)` position when the frame
    * has one), else `fallback` (the stage name). */
  private[graft] def siteLabel(details: String, fallback: String): String =
    details.linesIterator
      .find(l => l.contains("graft.") && !l.contains("Profile"))
      .map { l =>
        val frame = l.trim.stripPrefix("at ")
        val cut = frame.indexOf(')')
        if (cut < 0) frame else frame.substring(0, cut + 1)
      }
      .getOrElse(fallback)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shared session posture (incl. the GRAFT_CONF A/B hook) — see
    // GraftSession.
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val gcTimeMs = new AtomicLong(0L)
    val shuffleReadB = new AtomicLong(0L)
    val shuffleWriteB = new AtomicLong(0L)
    // Per-stage-callsite aggregation: name -> (stages, tasks, taskMs)
    val bySite = new java.util.concurrent.ConcurrentHashMap[
      String, (Int, Int, Long)]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[
      Int, String]()
    val stageWall = new java.util.concurrent.ConcurrentHashMap[
      Int, Long]()
    val jobSites = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // Dataset actions all share one SQLExecution thread-pool frame as
        // the stage NAME; the stage DETAILS carry the full callsite stack
        // — attribute the job to its first graft.* frame when one exists.
        val last = e.stageInfos.sortBy(_.stageId).lastOption
        val site = last.map(si => siteLabel(si.details, si.name)).getOrElse("?")
        jobSites.computeIfAbsent(site, _ => new AtomicLong()).incrementAndGet()
        ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stageNames.put(e.stageInfo.stageId, e.stageInfo.name)
        ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = e.stageInfo
        for (s <- si.submissionTime; c <- si.completionTime)
          stageWall.merge(si.stageId, c - s, (a, b) => a + b)
        ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          gcTimeMs.addAndGet(m.jvmGCTime)
          shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          val key = Option(stageNames.get(e.stageId)).getOrElse("?")
          bySite.merge(key, (0, 1, m.executorRunTime),
            (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // Same warmup as Bench so cell numbers are comparable.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    try SparkEntry.queries("q_match_ea")(spark, sfDir).count()
    catch { case _: Throwable => () }
    Seq("lineitem", "orders", "customer", "documents", "embeddings", "events")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }

    // In-process sampling profiler (GRAFT_PROFILE_STACKS=1): every 25 ms
    // aggregate RUNNABLE "Executor task launch worker" frames — local-mode
    // executors live in this JVM, so this is a poor-man's flame graph of
    // task-side work with zero external tooling.
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(false)
    if (sys.env.contains("GRAFT_PROFILE_STACKS")) {
      val t = new Thread(() => {
        while (true) {
          if (sampling.get()) {
            val all = Thread.getAllStackTraces()
            all.forEach { (th, frames) =>
              if (th.getName.startsWith("Executor task launch") &&
                  th.getState == Thread.State.RUNNABLE && frames.nonEmpty) {
                // Pick the deepest frame below generated/reflective glue,
                // qualified by one caller for context.
                val leaf = frames.take(12).map(f =>
                  f.getClassName + "." + f.getMethodName)
                  .mkString(" <- ")
                frameCounts.computeIfAbsent(leaf, _ => new AtomicLong())
                  .incrementAndGet()
              }
            }
          }
          Thread.sleep(25)
        }
      }, "graft-profile-sampler")
      t.setDaemon(true); t.start()
    }

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (name, _) => only.forall(_.contains(name))
    }
    println(f"${"cell"}%-28s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%7s " +
      f"${"tasks"}%7s ${"task_s"}%8s ${"gc_s"}%6s ${"shR_MB"}%7s ${"shW_MB"}%7s")
    selected.foreach { case (name, fn) =>
      // Let in-flight listener events settle, then zero the counters.
      Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0)
      taskTimeMs.set(0); gcTimeMs.set(0)
      shuffleReadB.set(0); shuffleWriteB.set(0)
      bySite.clear(); stageWall.clear(); jobSites.clear()
      frameCounts.clear(); sampling.set(true)
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      val wall = (System.nanoTime() - t0) / 1e9
      sampling.set(false)
      Thread.sleep(300)
      err match {
        case Some(m) => println(f"$name%-28s ERROR ${m.take(80)}")
        case None => println(
          f"$name%-28s $wall%8.2f ${jobs.get}%6d ${stages.get}%7d " +
          f"${tasks.get}%7d ${taskTimeMs.get / 1e3}%8.1f " +
          f"${gcTimeMs.get / 1e3}%6.1f " +
          f"${shuffleReadB.get / 1000000}%7d ${shuffleWriteB.get / 1000000}%7d")
      }
      if (sys.env.contains("GRAFT_PROFILE_JOBS")) {
        import scala.jdk.CollectionConverters._
        jobSites.asScala.toSeq.sortBy(-_._2.get).take(15).foreach {
          case (site, n) => println(f"    jobs ${n.get}%3d  $site")
        }
      }
      if (sys.env.contains("GRAFT_PROFILE_STACKS")) {
        import scala.jdk.CollectionConverters._
        val total = frameCounts.asScala.values.map(_.get).sum.max(1L)
        frameCounts.asScala.toSeq.sortBy(-_._2.get).take(12).foreach {
          case (fr, n) =>
            println(f"    ${n.get * 100.0 / total}%5.1f%% ${fr.take(420)}")
        }
      }
      if (sys.env.contains("GRAFT_PROFILE_SITES")) {
        // JVM-global Janino codegen counters: generated-class compile time
        // is a classic hidden per-advance cost when plan source text churns
        // (cache is keyed on source). Printed as cumulative deltas.
        val cm = org.apache.spark.metrics.source.CodegenMetrics
        val ct = cm.METRIC_COMPILATION_TIME
        println(f"    codegen(cum): compiles=${ct.getCount}" +
          f" meanMs=${ct.getSnapshot.getMean}%.1f" +
          f" ≈totalMs=${ct.getCount * ct.getSnapshot.getMean}%.0f")
        import scala.jdk.CollectionConverters._
        bySite.asScala.toSeq.sortBy(-_._2._3).take(15).foreach {
          case (site, (_, nTasks, ms)) =>
            println(f"    ${ms / 1e3}%8.2fs $nTasks%5d tasks  $site%s")
        }
      }
    }
    spark.stop()
  }
}
