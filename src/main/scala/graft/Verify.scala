package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The correctness dump runs the engine's own session posture only: a
    * `GRAFT_CONF` override would silently change what the oracle compare
    * checks, so any override is refused, naming it. */
  def requireNoOverrides(overrides: Seq[(String, String)]): Unit =
    if (overrides.nonEmpty) throw new IllegalStateException(
      "graft.Verify refuses to run with GRAFT_CONF overrides (" +
        overrides.map { case (k, v) => s"$k=$v" }.mkString(";") +
        "); unset GRAFT_CONF")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    requireNoOverrides(GraftSession.confOverrides)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shared session posture — see GraftSession.
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated subset for local iteration (same contract
    // as Bench); the driver sets no env, so it always gets the full dump.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
