package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{GraftExtensions, SparkEntry}

/** One benchmark process. `run.py` launches it in a fresh JVM per
  * workload and reads the JSON it writes to `out=`.
  *
  *   mode=setup|analytics|live data=<sf dir> work=<work dir>
  *   out=<json> trace=0|1 launched=<epoch ms the process was started>
  *   seed=<n> seconds=<n> [queries=a,b,...]
  *
  * Every call goes through the program's public entry points with the
  * program's defaults (no memo-cap override). */
object Worker {

  private val cpus = Runtime.getRuntime.availableProcessors

  def main(argv: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val mode = a("mode")
    val trace = new Tracer(a.getOrElse("trace", "0") == "1",
      s"$mode-${a.getOrElse("seed", "0")}-$enteredMs")
    val launched = a("launched").toLong
    val work = a("work")
    // Live.main builds its session with 4 shuffle partitions; the batch
    // entry points (Bench, Backtest.main) use one per core
    val parts = if (mode == "live") 4 else cpus
    val t0 = System.nanoTime()
    val spark = trace("session.build", "session")(session(parts, work))
    val buildS = (System.nanoTime() - t0) / 1e9
    val readyMs = System.currentTimeMillis()
    val meter = if (trace.on) Some(new Meter(spark)) else None
    val m = mutable.LinkedHashMap[String, Double](
      "session.jvm_start_s" -> (enteredMs - launched) / 1000.0,
      "session.build_s" -> buildS,
      "setup_s" -> (readyMs - launched) / 1000.0)
    val extra = mutable.LinkedHashMap[String, String]()
    if (mode == "analytics")
      writeOracles(s"$work/oracle_sql.json", a("queries").split(",").toSeq)
    if (mode == "setup") {
      // a set-up sample only: skip the orderly shutdown
      Files.writeString(Paths.get(a("out")), Json.obj(Seq("metrics" -> Json.nums(m))))
      Runtime.getRuntime.halt(0)
    }
    mode match {
      case "analytics" => analytics(spark, a, trace, meter, m, extra)
      case "live" => LiveRun(spark, a, trace, m, extra)
      case other => sys.error(s"unknown mode $other")
    }
    m("peak_rss_mb") = Meter.peakRssMb
    if (trace.on) {
      trace.selfSecondsByLayer.foreach { case (l, s) => m(s"self.${l}_s") = s }
      Files.writeString(Paths.get(a("out") + ".spans.json"), trace.toJson)
    }
    val json = Json.obj(Seq("metrics" -> Json.nums(m)) ++ extra)
    Files.writeString(Paths.get(a("out")), json)
    spark.stop()
  }

  def session(parts: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(s)
    s
  }

  /** The DuckDB twin of each named query, for `check.py`. */
  private def writeOracles(path: String, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(path), Json.obj(names.filter(sql.contains)
      .map(n => n -> Json.str(sql(n)))))
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `queryPlanning` -> `query_planning`. */
  def snake(s: String): String = s.flatMap(c =>
    if (c.isUpper) "_" + c.toLower else c.toString)

  private def putCounts(m: mutable.Map[String, Double], p: String,
      c: Counts): Unit = {
    m(s"$p.jobs") = c.jobs.toDouble
    m(s"$p.tasks") = c.tasks.toDouble
    m(s"$p.task_busy_share") = c.busyShare(cpus)
    m(s"$p.input_bytes") = c.inputBytes.toDouble
    m(s"$p.shuffle_bytes") = c.shuffleBytes.toDouble
    m(s"$p.spill_bytes") = c.spillBytes.toDouble
    m(s"$p.gc_s") = c.gcMs / 1000.0
  }

  // --------------------------------------------------------------- analytics

  /** Operator modules, in `SparkEntry`'s order: a query's family is the
    * module that registers it. */
  val Families: Seq[(String, Set[String])] = {
    import graft.operators._
    Seq("Flow" -> Flow.queries.keySet) ++ Seq[(String, graft.OpModule)](
      "Bars" -> Bars, "LongMemory" -> LongMemory, "Book" -> Book,
      "Relational" -> Relational, "TextAnalysis" -> TextAnalysis,
      "Dedup" -> Dedup, "Similarity" -> Similarity, "Scores" -> Scores,
      "Stateful" -> Stateful, "Scalars" -> Scalars,
      "Multimodal" -> Multimodal, "Trend" -> Trend, "Ingest" -> Ingest,
      "Keyed" -> Keyed, "Pipeline" -> Pipeline, "MultiSym" -> MultiSym,
      "Bpe" -> Bpe, "Opq" -> Opq, "Phash" -> Phash, "Sq8" -> Sq8,
      "Layout" -> Layout, "Audit" -> Audit, "Graph" -> Graph,
      "Regress" -> Regress).map { case (n, mod) => n -> mod.queries.keySet }
  }

  /** The mix in family blocks, block order permuted by the seed. */
  def blocks(queries: Seq[String], seed: Long): Seq[(String, Seq[String])] = {
    val fam = Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
    val grouped = queries.groupBy(q => fam.getOrElse(q, "Other")).toSeq
      .map { case (f, qs) => f -> qs.sorted }.sortBy(_._1)
    new scala.util.Random(seed).shuffle(grouped)
  }

  /** One fresh session runs the mix in family blocks whose order the seed
    * permutes. Every query runs attempt 1 (cold) then attempt 2 (warm),
    * each a builder call plus a `collect()` of the result. The cold rows
    * are written out for `check.py` to compare with the query's DuckDB
    * oracle; the warm rows must equal them. */
  private def analytics(spark: SparkSession, a: Map[String, String],
      trace: Tracer, meter: Option[Meter], m: mutable.Map[String, Double],
      extra: mutable.Map[String, String]): Unit = {
    val data = a("data")
    val qs = a("queries").split(",").toSeq
    val missing = qs.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    meter.foreach(_.watch(spark))
    val order = blocks(qs, a("seed").toLong)
    extra("order") = Json.obj(order.map { case (f, q) =>
      f -> q.map(Json.str).mkString("[", ",", "]") })
    val perQuery = mutable.ArrayBuffer[(String, String, Int, Double)]()
    val tot = Array.fill(3)(Counts.zero) // per attempt: counters
    // per family and attempt: builder, planning, execution seconds
    val split = mutable.LinkedHashMap[String, Array[Array[Double]]]()
    val fails = mutable.ArrayBuffer[String]()
    order.foreach { case (fam, names) =>
      trace(s"family:$fam", "app") {
        names.foreach { name =>
          val fn = SparkEntry.queries(name)
          var cold = Seq.empty[String]
          for (att <- 1 to 2) {
            val c0 = meter.map(_.snapshot())
            meter.foreach(_.actions.clear())
            val t0 = System.nanoTime()
            try {
              val (df, b) = time(trace(s"build:$name#$att", "operators")(
                fn(spark, data)))
              val (rows, e) = time(trace(s"collect:$name#$att", "spark.exec")(
                df.collect()))
              perQuery += ((name, fam, att, (System.nanoTime() - t0) / 1e9))
              // untimed: check the rows
              if (att == 1) {
                cold = canonRows(rows)
                spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
                  .coalesce(1).write.mode("overwrite")
                  .parquet(s"${a("work")}/analytics/$name")
              } else if (canonRows(rows) != cold)
                fails += s"$name: the warm attempt returned other rows than the cold one"
              meter.foreach { mt =>
                tot(att) = tot(att) + (mt.snapshot() - c0.get)
                val plan = mt.actions.toArray.collect {
                  case (f: String, ms: Long) if f == "collect" => ms }.sum / 1000.0
                val fs = split.getOrElseUpdate(fam, Array.fill(3, 3)(0.0))
                Seq(b, plan, e - plan).zipWithIndex.foreach { case (v, i) =>
                  fs(att)(i) += v }
              }
            } catch {
              case ex: Throwable =>
                fails += s"$name#$att: ${ex.getClass.getSimpleName}: ${ex.getMessage}"
            }
          }
        }
      }
    }
    for (att <- 1 to 2) {
      val k = if (att == 1) "cold" else "warm"
      val ts = perQuery.filter(_._3 == att)
      m(s"analytics_${k}_s") = ts.map(_._4).sum
      ts.groupBy(_._2).foreach { case (f, xs) =>
        m(s"analytics.$k.family.${f}_s") = xs.map(_._4).sum }
      if (trace.on) {
        Seq("build", "plan", "exec").zipWithIndex.foreach { case (p, i) =>
          m(s"analytics.$k.${p}_s") = split.values.map(_(att)(i)).sum }
        putCounts(m, s"analytics.$k", tot(att))
      }
    }
    if (trace.on)
      extra("family_split") = Json.obj(split.map { case (f, fs) =>
        f -> Json.obj(Seq("cold" -> fs(1), "warm" -> fs(2)).map { case (k, v) =>
          k -> v.map(Json.num).mkString("[", ",", "]") })
      })
    extra("per_query") = Json.obj(perQuery.map { case (q, _, att, s) =>
      s"$q#$att" -> Json.num(s) })
    extra("failures") = fails.map(Json.str).mkString("[", ",", "]")
  }
}

/** Rows as sorted strings, doubles rounded to 9 decimals (the check's
  * canon), so two executions that differ only in float summation order
  * compare equal. */
object canonRows {
  def apply(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double if d.isNaN || d.isInfinite => d.toString
      case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
      case f: Float => BigDecimal(f.toDouble).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("\u0001")).sorted
}

object Stats {
  /** Nearest-rank percentile of an ascending sequence. */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.size - 1,
      math.max(0, math.ceil(p * sorted.size).toInt - 1)))
}
