package graft.streaming

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.kernel.Ckpt._

/** The reliable-checkpoint dial (`-Dgraft.checkpoint.dir`): every
  * lineage cut in the engine goes through `graftCheckpoint`, which is
  * `localCheckpoint` by default (fast, executor-local — a lost executor
  * on a real cluster fails the computation) and RELIABLE `checkpoint()`
  * into the dial's directory when set (recoverable; the trade is the
  * DFS write per cut). Pins: (1) the dial actually routes cuts into the
  * directory; (2) a maintained workload (DRed closure — StateCell
  * generations, fixpoint rounds, RddKernel cuts) produces IDENTICAL
  * results under either mode, i.e. the truncation points do not move. */
class CheckpointDialSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def withDial[A](dir: Path)(body: => A): A = {
    val prev = sys.props.get("graft.checkpoint.dir")
    sys.props("graft.checkpoint.dir") = dir.toString
    try body
    finally prev match {
      case Some(v) => sys.props("graft.checkpoint.dir") = v
      case None    => sys.props.remove("graft.checkpoint.dir")
    }
  }

  private def fileCount(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).count()
    finally s.close()
  }

  test("dataset and rdd cuts route into the reliable dir under the dial") {
    val dir = Files.createTempDirectory("graft-ckpt")
    withDial(dir) {
      import spark.implicits._
      val df = Seq(1L, 2L, 3L).toDF("x").graftCheckpoint(true)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
      val rdd = spark.sparkContext.parallelize(Seq(4L, 5L), 2).graftCheckpoint()
      assert(rdd.collect().sorted.toSeq == Seq(4L, 5L))
      assert(rdd.isCheckpointed, "RDD must be reliably checkpointed")
      assert(fileCount(dir) > 0, s"no checkpoint files written under $dir")
    }
  }

  test("maintained closure drains identically with the dial on (plans unchanged)") {
    def run(): Seq[(Long, Long, Long)] = {
      val inc = new IncrementalClosure(spark, partitions = 2)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      def drainOf(d: org.apache.spark.rdd.RDD[((Long, Long), Long)], t: Long): Unit =
        out ++= d.collect().map { case ((s, e), _) => (s, e, t) }
      def batch(deltas: ((Long, Long), Long)*) =
        spark.sparkContext.parallelize(deltas, 2)
      drainOf(inc.advanceSignedRdd(batch(((1L, 2L), 1L), ((2L, 3L), 1L))), 0L)
      drainOf(inc.advanceSignedRdd(batch(((3L, 4L), 1L))), 1L)
      drainOf(inc.advanceSignedRdd(batch(((2L, 3L), -1L))), 2L)
      out.toSeq.sorted
    }
    val base = run()
    val dir = Files.createTempDirectory("graft-ckpt-wl")
    val dialed = withDial(dir) { run() }
    assert(dialed == base,
      s"dial changed the maintained drain:\n off=$base\n on =$dialed")
    assert(base.nonEmpty)
    assert(fileCount(dir) > 0,
      "maintained workload wrote no reliable checkpoints under the dial")
  }

  private def rddDirCount(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("rdd-")).count()
    finally s.close()
  }

  test("the distributed bitemporal history survives a cache wipe under the dial") {
    // The integration drill for the round-14 checkpoint fix at the edge
    // it matters most: a CellBiStore history (StateCell-backed) must
    // recompute from its OWN reliable files after its cached blocks are
    // lost — the executor-loss scenario the dial exists for.
    import graft.model._
    val dir = Files.createTempDirectory("graft-ckpt-bi")
    val prevGate = sys.props.put("graft.bi.driver.bytes", "0")
    try withDial(dir) {
      val bm = new graft.streaming.BiMaintained(spark, partitions = 2)
      bm.createAttribute(":ck/x", AttributeConfig(InputSemantics.Raw))
      bm.register(Rule("q", Plan.MatchA(0, ":ck/x", 1)))
      bm.interest("q")
      import org.apache.spark.sql.functions.{col, lit, pmod}
      bm.transactFrame(spark.range(1000L).select(
        col("id").as("e"), lit(":ck/x").as("a"),
        pmod(col("id"), lit(7L)).as("v"),
        lit(0L).as("sys"), lit(0L).as("event"), lit(1L).as("diff")))
      bm.advance(1L)
      assert(bm.drain("q").map(_._3).sum == 1000L)
      // Executor-loss drill: wipe the live generation's cached blocks.
      bm.storeGenerationProbe.get.unpersist(blocking = true)
      // The next batch zips against the wiped state — it must recompute
      // from the generation's reliable checkpoint files, not fail or
      // silently restart from empty.
      import spark.implicits._
      bm.transactFrame(Seq((5000L, ":ck/x", 1L, 1L, 1L, 1L))
        .toDF("e", "a", "v", "sys", "event", "diff"))
      bm.advance(2L)
      val second = bm.drain("q")
      assert(second.map(_._3).sum == 1L,
        s"history lost after the cache wipe: $second")
      assert(bm.datomCountProbe == 1001L)
    } finally prevGate match {
      case Some(v) => sys.props("graft.bi.driver.bytes") = v
      case None    => sys.props.remove("graft.bi.driver.bytes")
    }
  }

  test("state generations are recoverable AND superseded ones deleted under the dial") {
    val dir = Files.createTempDirectory("graft-ckpt-gc")
    withDial(dir) {
      val sc = spark.sparkContext
      val cell = new StateCell[Map[Long, Long]](
        sc, 2, () => Map.empty, m => 64L * (1L + m.size))
      val advances = 6
      for (i <- 1 to advances) {
        val delta = sc.parallelize(Seq(i.toLong, i.toLong + 100L), 2)
        cell.advance1[Long, Long](delta) { (s, it) =>
          (it.foldLeft(s)((m, k) => m.updated(k, m.getOrElse(k, 0L) + 1L)),
            Array.empty[Long])
        }
        // The recoverability invariant the delete below relies on: the
        // LIVE generation must itself be reliably checkpointed (Spark
        // only checkpoints the job's last marked RDD — the ancestors
        // property in StateCell.commitCounted makes the generation
        // checkpoint too) before its predecessor's files are dropped.
        assert(cell.liveGeneration.isCheckpointed,
          s"live generation not reliably checkpointed after advance $i — " +
            "deleting superseded files would strand recovery")
      }
      // Executor-loss drill: wipe the live generation's cached blocks.
      // Recompute must come from its OWN reliable files — the superseded
      // generations' files (its old lineage) are deleted below/already.
      cell.liveGeneration.unpersist(blocking = true)
      val recovered = cell.rdd.collect()
      assert(recovered.map(_.size).sum == 2 * advances,
        s"state lost after cache wipe: ${recovered.toSeq}")
      // Retained checkpoint dirs = the LIVE generation + the per-advance
      // delta-output cuts (caller-held, GC-cleaned) + slack; every
      // superseded generation's dir must be gone. Without the explicit
      // dropCheckpoint this reads 2*advances + 1 (each advance leaves a
      // generation dir AND an output dir).
      val dirs = rddDirCount(dir)
      assert(dirs <= advances + 2,
        s"checkpoint dir grew unboundedly: $dirs rdd-* dirs after " +
          s"$advances advances (superseded generations not deleted)")
    }
  }
}
