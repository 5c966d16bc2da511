package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine session is built: every main (Backtest, Live,
  * Verify, Bench and the side benches) and the test fixture go through
  * [[local]], so the house setup and the native SQL functions
  * (`vec_dot`, `norm_cdf`) come with every session and no operator has
  * to register anything itself.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS` when set, else `default` (the host's cores,
    * capped at 32, unless the caller fixes a width). */
  def cpus(default: Int = math.min(32, Runtime.getRuntime.availableProcessors)): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The builder settings for a session of `cpus` cores: the house
    * defaults (`local[cpus]`, `cpus` shuffle partitions, UTC, UI off),
    * overridden by the caller's `extra`, minus every key the deployment
    * already set as a system property (`deployed`) — spark-submit's
    * `spark.master` or shuffle width wins, and `local[cpus]` is only the
    * fallback. Pure, so the rule is testable without a SparkContext. */
  private[graft] def settings(cpus: Int, deployed: collection.Map[String, String],
      extra: Seq[(String, String)]): Map[String, String] =
    (Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ extra)
      .filter { case (k, _) => !deployed.contains(k) }

  /** Build (or fetch) the session, at `WARN` log level, with the engine's
    * native SQL functions registered. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val spark = settings(cpus, sys.props, extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
