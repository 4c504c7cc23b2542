package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session builder of the engine's mains (Bench, Verify, PlanDump,
 * ExplainMain): `local[SPARK_GRAFT_CPUS]` (default 4) with as many
 * shuffle partitions, UTC session time, no UI, and every `graft_*`
 * function installed by [[GraftExtensions]]. ANSI mode is off for
 * NumPy-faithful float semantics (x/0.0 -> inf, not an error) — the
 * engine also guards explicitly, but the oracle comparisons assume IEEE
 * behavior end to end.
 */
object GraftSession {
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }
}
