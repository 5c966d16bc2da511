package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Dataset
import graft.streaming.Streams
import graft.streaming.Streams.Trade

/** Streaming hot-path latency bench — measures the EP1 cascade
  * (tick burst -> windowed signal-bar aggregation -> the keyed
  * [[graft.state.Fusion]] fold incl. the position FSM) against the
  * reference's operating envelope (BASELINE.md: 20 Hz loop, <50 ms
  * tick-to-decision, `main.py:98,198`), and DECOMPOSES the
  * trigger-to-emit floor so "where do the milliseconds go" is
  * measured, not asserted:
  *
  *  - stage depth: stateless passthrough (planning + sink only) ->
  *    windowed agg only (one stateful operator) -> the full cascade
  *    (windowed agg + keyed fold = two stateful operators). The deltas
  *    price planning overhead and the per-stateful-operator commit.
  *  - shuffle partitions 1 vs 4: each micro-batch commits one state
  *    store per partition per stateful operator, so partition count is
  *    a direct floor lever at single-symbol scale.
  *  - checkpoint medium /tmp (disk) vs /dev/shm (tmpfs): prices the
  *    per-batch offset/commit-log fsyncs.
  *  - state-store provider heap vs RocksDB: prices the provider's
  *    commit cost at tiny state (the 100 TB deployment runs RocksDB;
  *    its per-batch snapshot overhead must not sink the trigger rate).
  *
  * Method: a MemoryStream of trades; each round lands one minute of
  * ticks for every symbol and `processAllAvailable()` drains it — the
  * measured wall time is data-available -> every derived row emitted.
  * The achievable trigger cadence is the reciprocal of this floor: a
  * 50/100/250 ms ProcessingTimeTrigger below the floor just queues
  * batches, so the floor IS the latency answer for micro-batch.
  *
  * Prints ONE JSON line; writes nothing durable. Not part of the
  * driver contract — run manually: `sbt "runMain graft.LatencyBench"`.
  * Results are recorded in PLANS.md §"EP1 latency".
  */
object LatencyBench {

  private def percentile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1).max(0))

  /** The cascade variants under test. `stateless` forces a real shuffle
    * (repartition by symbol) so the plan has the same exchange shape as
    * the stateful stages, minus any state store. */
  private def cascade(stage: String, in: Dataset[Trade]): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    stage match {
      case "stateless" =>
        in.repartition($"symbol")
          .select($"symbol", $"price", $"qty")
      case "bars" =>
        Streams.signalBars(in, watermark = "0 seconds").toDF()
      case "full" =>
        Streams.fusedStream(
          Streams.signalBars(in, watermark = "0 seconds")).toDF()
      case other => sys.error(s"unknown stage $other")
    }
  }

  /** Run `rounds` one-minute tick bursts through the cascade; return
    * post-warmup per-trigger wall millis. */
  private def measure(spark: SparkSession, stage: String, nSym: Int,
      ticksPerSym: Int, rounds: Int, warmup: Int,
      ckptBase: String): Seq[Double] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Trade]
    val out = cascade(stage, input.toDS())
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(ckptBase),
        s"graft_latbench_$stage$nSym").toString
    @volatile var emitted = 0L
    val q = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        emitted += b.count() // force full evaluation of every emitted row
        ()
      }
      .start()
    val base = 1700000000000L
    val durations = Vector.newBuilder[Double]
    try {
      (0 until rounds).foreach { r =>
        val minute = base + r * 60000L
        val burst = (0 until nSym).flatMap { s =>
          (0 until ticksPerSym).map { i =>
            val ts = minute + i * (60000L / ticksPerSym)
            // deterministic pseudo-walk: exercises z/EMA/trend/LV state
            val px = 100.0 + s % 7 + ((r * 31 + i * 7 + s * 13) % 17) * 0.25
            Trade(s"S$s", new Timestamp(ts), px,
              1.0 + (i % 5) * 0.5, isBuyerMaker = (r + i + s) % 3 == 0)
          }
        }
        val t0 = System.nanoTime()
        input.addData(burst)
        q.processAllAvailable()
        val ms = (System.nanoTime() - t0) / 1e6
        if (r >= warmup) durations += ms
      }
    } finally {
      q.stop()
      graft.functions.Fs.deleteRecursively(new java.io.File(ckpt))
    }
    require(emitted > 0, s"latency bench emitted no rows at stage=$stage")
    durations.result()
  }

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cpus(),
      // latency, not throughput: every micro-batch pays one state-store
      // commit per shuffle partition per stateful operator, so FEWER
      // partitions = less fixed per-trigger overhead (4 still spreads
      // 1000 symbols 250 keys/partition — each key is O(ring) state)
      "spark.sql.shuffle.partitions" -> "4",
      // windowed-agg finalization then rides the NEXT data batch instead
      // of a separate empty watermark-advance batch — one batch per
      // trigger, not two
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val ticksPerSym = 20 // ticks per symbol-minute in each burst
    val shm = new java.io.File("/dev/shm")
    val shmBase = if (shm.isDirectory && shm.canWrite) "/dev/shm" else "/tmp"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"

    def cell(name: String, stage: String, nSym: Int, parts: Int,
        ckptBase: String, provider: Option[String],
        rounds: Int, warmup: Int): (String, Seq[Double]) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      provider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
      // restore on EVERY exit: a cell that throws mid-measure must not
      // leak its provider/partition overrides into the remaining sweep
      try {
        val d = measure(spark, stage, nSym, ticksPerSym, rounds, warmup,
          ckptBase).sorted
        name -> d
      } finally {
        spark.conf.unset(providerKey)
        spark.conf.set("spark.sql.shuffle.partitions", "4")
      }
    }

    // one-dimension-at-a-time sweep from the base cell (full cascade,
    // 1 symbol, 4 partitions, disk checkpoint, heap store)
    val cells: Seq[(String, Seq[Double])] = Seq(
      cell("stateless_p4", "stateless", 1, 4, "/tmp", None, 50, 10),
      cell("bars_p4", "bars", 1, 4, "/tmp", None, 50, 10),
      cell("full_p4", "full", 1, 4, "/tmp", None, 70, 10),
      cell("full_p1", "full", 1, 1, "/tmp", None, 50, 10),
      cell("full_p4_shm", "full", 1, 4, shmBase, None, 50, 10),
      cell("full_p4_rocksdb", "full", 1, 4, "/tmp", Some(RocksDb), 50, 10),
      cell("full_p4_1000sym", "full", 1000, 4, "/tmp", None, 30, 5))
    def r1(x: Double) = math.round(x * 10.0) / 10.0
    val many = cells.toMap.apply("full_p4_1000sym")
    val one = cells.toMap.apply("full_p4")
    // p50 trigger ms -> microseconds per tick at 1000 symbols
    val perTick1000 = r1(percentile(many, 0.5) * 1000.0 / (1000.0 * ticksPerSym))
    val cellJson = cells.map { case (n, d) =>
      s""""$n":{"p50":${r1(percentile(d, 0.5))},"p99":${r1(percentile(d, 0.99))}}"""
    }.mkString(",")
    val json =
      s"""{"metric":"ep1_trigger_to_emit","unit":"ms",""" +
        s""""p50_ms_1sym":${r1(percentile(one, 0.5))},""" +
        s""""p99_ms_1sym":${r1(percentile(one, 0.99))},""" +
        s""""p50_ms_1000sym":${r1(percentile(many, 0.5))},""" +
        s""""p99_ms_1000sym":${r1(percentile(many, 0.99))},""" +
        s""""us_per_tick_1000sym":$perTick1000,""" +
        s""""ticks_per_trigger_1000sym":${1000 * ticksPerSym},""" +
        s""""cells":{$cellJson}}"""
    // ONE machine-readable line on stdout (same contract style as Bench)
    println(json)
    spark.stop()
  }
}
