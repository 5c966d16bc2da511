package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: dump only these queries (local iteration;
    // the driver always passes exactly two args and gets the full dump)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty)
      System.err.println(
        s"[verify] no such queries: ${unknown.toSeq.sorted.mkString(", ")}")
    // fixed default, unlike Bench: the correctness dump must reproduce
    // across machines, and float-sum reassociation under a different
    // partition count could cross the oracle's 9-digit rounding
    val cpus = Sessions.cpus(4)
    // config-invariance sweep knobs (tools/config_sweep.sh): the r14
    // property run re-dumps the whole board at shuffle partitions
    // {4, 200} × AQE {on, off} and requires every query to stay
    // oracle-green — the cheapest way to surface latent partition-count
    // nondeterminism the single-config driver gate can't see
    val spark = Sessions.local(cpus,
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString),
      "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a stale dump from a previous run must not masquerade as this
        // run's output — fail loudly as "no engine output" instead
        functions.Fs.deleteRecursively(new java.io.File(s"$outDir/$name"))
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
    // a filtered dump also filters the oracle list — otherwise a
    // driver-style compare over the partial dump would report every
    // unselected query as missing engine output
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
