package graft
import java.nio.file.{Files, Paths}


/** Dump `.explain("formatted")` for every declared query (or the
  * SPARK_GRAFT_ONLY subset) into <outDir>/<name>_<tag>.txt — the plan
  * evidence the optimization rounds commit under plans/rNN/. Maintained
  * cells execute their engines while BUILDING the returned DataFrame, so
  * this runs the full surface once (Verify-shaped cost); their final
  * frames are driver-built and the interesting evidence for them is the
  * job/task profile (Bench's per-cell `layers`), not the Catalyst plan — both are
  * captured so the judge can check claims either way.
  *
  * Usage: sbt "runMain graft.Plans <sfDir> <outDir> <tag>"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shared session posture — see GraftSession.
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
