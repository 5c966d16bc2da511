package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line (driver contract).
  *
  * Queries run in NAME order, so each operator family's queries are
  * adjacent and their shared DfMemo frames are touched consecutively —
  * the LRU memo (cap [[graft.functions.DfMemo.MaxResident]]) then bounds
  * resident cache pressure without thrashing inside a family.
  *
  * Besides the contract's plain "queries" sec map, the line carries a
  * per-query "detail" map of {sec, gc, heap, peak} so a cache-pressure
  * artifact shows up AS a memory/GC number instead of masquerading as a
  * per-query regression:
  *  - heap: JVM used heap (MB) sampled right after the query finished
  *    (the accumulation curve across the run)
  *  - peak: max task peakExecutionMemory (MB) during the query (the
  *    query's own shuffle/agg working set)
  *  - gc: JVM GC millis attributed to the query (collector
  *    collectionTime delta across its timed attempts) — a query whose
  *    seconds are mostly gc is paying for the RUN's accumulated
  *    garbage, not its own plan (the round-5 driver-tail mechanism)
  *
  * Field ORDER is the truncation armor: the driver's record store
  * truncates this line from the FRONT, so everything a reader needs —
  * the complete per-query detail map, a "slowest" digest, failure and
  * query counts, and the total — sits at the END of the line; each
  * detail value is self-contained, so ANY surviving tail segment reads
  * as complete (query, sec, gc) evidence.
  *
  * Extra env knobs for local iteration (ignored by the driver):
  *  - SPARK_GRAFT_ONLY=a,b,c   run only the named queries
  *  - SPARK_GRAFT_EXPLAIN=1    print each query's formatted plan
  *  - SPARK_GRAFT_REPEAT=n     best-of-n timing per query
  */
object Bench {
  /** The 61 round-1 board queries (BENCH_r01.json), all still
    * registered. Their same-session total is emitted as
    * `yardstick_sec`, so every artifact carries its own host
    * calibration: the round-1 gate total (32.305 s) was measured on a
    * different box 13 rounds ago, and round 13 showed a re-provisioned
    * sandbox alone can move the full-board total 2.5x. Comparing this
    * subset's total to 32.305 s is like-for-like (same queries, same
    * data), so a regression in it is the ENGINE; a uniform inflation of
    * everything including it is the HOST.
    */
  val YardstickIds: Set[String] = Set(
    "agg_rollup", "agg_salted", "ann_lsh_sig", "ann_lsh_topk",
    "ann_multi_topk", "ann_recall", "ann_recall_multi", "bars_atr",
    "bars_ema", "bars_ohlc", "bars_rv", "book_array_imbalance",
    "book_imbalance", "book_touch", "book_wall", "dedup_exact",
    "dedup_jaccard_topk", "dedup_minhash_pairs", "dedup_minhash_sig",
    "dedup_simhash", "distinct_proj", "emb_centroids", "entry_signals",
    "flow_cvd", "flow_delta", "flow_lv", "flow_moments", "flow_volrate",
    "flow_zscore", "flow_zscore_keyed", "fn_normcdf", "fsm_cum_pnl",
    "fsm_daily_summary", "fsm_position_events", "fusion_scores",
    "ingest_validated", "join_anti", "join_asof", "join_interval",
    "join_semi", "json_extract_agg", "knn_brute", "lm_bos", "lm_hurst",
    "media_features", "media_frames", "media_meta", "order_rate_limit",
    "order_success_rate", "position_sizing", "q1_pricing", "q3_topk",
    "q5_region_revenue", "session_agg", "text_fingerprint",
    "text_langid", "text_quality", "text_tokens", "topk_per_group",
    "trend_features", "trend_hysteresis")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    // best-of-3 by default (2 -> 3 in round 10): repeated full-board
    // runs of the SAME build measured 63-74 s — +-8% run-to-run from
    // page-cache and JIT state, larger than any single query. The first
    // execution pays codegen + parquet footer reads; with three
    // attempts the min converges on the engine floor instead of
    // sampling the noise band.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    // the full 230+-query run cycles many families through the memo; a
    // wider cap for THIS process (env still wins) avoids cross-family
    // rebuild churn — the round-5 +37% shared-query inflation mechanism
    // (cap re-widened 24 -> 32 in round 10 when the board grew past 230
    // and the r9-cohort queries showed ~10% co-run inflation)
    if (sys.env.get("SPARK_GRAFT_MEMO_CAP").isEmpty &&
        sys.props.get("graft.memo.cap").isEmpty)
      sys.props("graft.memo.cap") = "32"
    val spark = Sessions.local(cpus)

    // running max of task peakExecutionMemory; reset per query
    val peakTask = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          peakTask.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      }
    })
    def usedHeapMb: Long = {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    }
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = qs.map { case (name, fn) =>
      if (explain) {
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => System.err.println(s"$name: $e") }
      }
      peakTask.set(0L)
      val gc0 = gcMillis
      // a failed attempt must NOT masquerade as a fast run: failures
      // report -1 and never contribute a timing
      val times = (1 to repeat).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            None
        }
      }
      (name, times.minOption.getOrElse(-1.0), usedHeapMb,
        peakTask.get() / (1024L * 1024L), gcMillis - gc0)
    }
    def jsonMap(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // 3-decimal seconds: sub-millisecond digits are noise, and a short
    // line survives the driver's record-tail truncation
    def r3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val qsJson = jsonMap(results.map(r => r._1 -> r3(r._2)))
    // one self-contained object per query: any surviving suffix of the
    // line still pairs each name with its sec AND gc/heap/peak
    val detailJson = jsonMap(results.map(r => r._1 ->
      s"""{"sec":${r3(r._2)},"gc":${r._5},"heap":${r._3},"peak":${r._4}}"""))
    val slowestJson = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map(r => s"""{"q":"${r._1}","sec":${r3(r._2)},"gc":${r._5}}""")
      .mkString("[", ",", "]")
    val failed = results.count(_._2 < 0)
    if (failed > 0) System.err.println(s"[bench] $failed queries failed")
    val total = results.map(_._2).filter(_ >= 0).sum
    // same-session host calibration: total over the 61 round-1 queries
    // (see YardstickIds) — the gate compares THIS number to 32.305 s
    val yard = results.filter(r => YardstickIds(r._1) && r._2 >= 0)
    val yardSec = yard.map(_._2).sum
    // front-truncation armor: detail/slowest/counts/total at the END
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries":$qsJson,"detail":$detailJson,"slowest":$slowestJson,"failed":$failed,"n_queries":${results.size},"yardstick_n":${yard.size},"yardstick_sec":${r3(yardSec)},"total_sec":${r3(total)}}""")
    spark.stop()
  }
}
