package graft
import org.apache.spark.sql.SparkSession

/** ONE definition of the engine's default session-conf posture for every
  * local entry point (Bench, Verify, Plans). Before this factory the
  * builders were copy-pasted and drifted (one missed the sort-writer
  * setting for a round); any future default lands here once and every
  * surface measures the same engine.
  *
  * The settings and why (see the r18 optimization notes for evidence):
  *  - `spark.sql.shuffle.partitions = cpus`: the bulk-side dial follows
  *    the core count the driver asked for; state-sized work is dialed
  *    separately per engine (`partitions = …`).
  *  - sort shuffle writer always (`bypassMergeThreshold=1`): the bypass
  *    writer creates one file per reduce partition per map task —
  *    profiled at 36-75% of executor task time as file syscalls on
  *    control-sized shuffles; above 200 partitions Spark takes the sort
  *    path regardless, so this aligns local behavior with at-scale
  *    behavior rather than tuning for the box.
  *  - `nanosAsLong`: the events.parquet timestamp compatibility flag.
  *  - UTC session timezone: TIMESTAMP_NTZ casts must match DuckDB's
  *    naive reading in the oracle compare.
  *  - GC-clean reliable checkpoint files (must be set at SparkContext
  *    construction; see kernel.Ckpt).
  */
object GraftSession {

  /** GRAFT_CONF="k=v;k=v": extra session confs for same-window config
    * A/Bs. The driver sets no env, so driver captures always run the
    * committed defaults. Parsed once and exposed so entry points can
    * EMBED the applied overrides in their output — a capture taken in a
    * polluted environment must be self-describing (r18 ADVICE). */
  val confOverrides: Seq[(String, String)] =
    sys.env.get("GRAFT_CONF").toSeq.flatMap(_.split(";").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        (k, v)
      })

  def builder(cpus: String, appName: String = "graft"): SparkSession.Builder = {
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    if (confOverrides.nonEmpty) {
      System.err.println(s"[graft] GRAFT_CONF overrides: " +
        confOverrides.map { case (k, v) => s"$k=$v" }.mkString(";"))
      confOverrides.foreach { case (k, v) => b = b.config(k, v) }
    }
    b
  }
}
