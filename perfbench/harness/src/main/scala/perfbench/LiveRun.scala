package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.app.Live
import graft.streaming.Streams

/** The `live` workload's engine side: `Live.main`'s fused and trades
  * queries (trade-only, no book feed), over the directories
  * the open-loop generator (`livegen.py`) writes into. A benchmark-installed
  * `StreamingQueryListener` records every trigger's progress.
  *
  * Protocol with `run.py`: the generator has already written a short
  * backfill; this process starts the queries, waits until every query has
  * processed a batch (the startup time), touches `<live>/ready`, then
  * waits for `<live>/done` (the generator finished, including its final
  * flush), drains every query and stops them. It then writes, untimed:
  * the fused sink's (symbol, window, batch, commit time) rows, the fused
  * query's progress, the committed `fused` table and the batch reference
  * `fusedBatch(signalBars(all trades))` for `run.py` to compare. */
object LiveRun {
  final case class Prog(id: java.util.UUID, batch: Long, endMs: Long,
      inputRows: Long, dur: Map[String, Long], stateRows: Long,
      stateBytes: Long, stateCommitMs: Long, droppedLate: Long)

  def apply(spark: SparkSession, a: Map[String, String], trace: Tracer,
      m: mutable.Map[String, Double],
      extra: mutable.Map[String, String]): Unit = {
    val live = a("work") + "/live"
    val (trades, signals, out, ckpt) =
      (s"$live/trades", s"$live/signals", s"$live/out", s"$live/ckpt")
    val names = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    val progs = new java.util.concurrent.ConcurrentLinkedQueue[Prog]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val endMs = java.time.Instant.parse(p.timestamp).toEpochMilli +
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val ops = p.stateOperators.toSeq
        val pr = Prog(p.id, p.batchId, endMs, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum)
        progs.add(pr)
        val dNs = pr.dur.getOrElse("triggerExecution", 0L) * 1000000L
        val endNs = System.nanoTime()
        val table = Option(names.get(p.id)).getOrElse(p.id.toString)
        trace.record(s"trigger:$table#${p.batchId}", "streaming", endNs - dNs, endNs)
      }
    })

    val t0 = System.nanoTime()
    // two of Live.main's six queries, wired exactly as Live.main wires
    // them: the fused decision stream and the position FSM over the
    // signal feed (see spec.json for why not all six)
    val qs: Seq[(String, StreamingQuery)] = trace("Live.start", "app") {
      Seq(
        "fused" -> Live.fusedQuery(spark, trades, out, ckpt, None),
        "trades" -> Live.tradesQuery(spark, signals, out, ckpt))
    }
    qs.foreach { case (n, q) => names.put(q.id, n) }
    def failIfDead(): Unit = qs.foreach { case (n, q) =>
      q.exception.foreach(e => throw new IllegalStateException(s"$n died", e)) }
    // startup: every query has committed a batch over the backfill
    def started = qs.forall { case (_, q) =>
      progs.asScala.exists(p => p.id == q.id && p.inputRows > 0) }
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!started && System.nanoTime() < deadline) { failIfDead(); Thread.sleep(10) }
    require(started, "live queries did not start within 120 s")
    m("live.startup_s") = (System.nanoTime() - t0) / 1e9
    Files.writeString(Paths.get(s"$live/ready"), "")

    val done = new File(s"$live/done")
    val stop = System.nanoTime() + (a("seconds").toLong * 10 + 120) * 1000000000L
    while (!done.exists() && System.nanoTime() < stop) { failIfDead(); Thread.sleep(20) }
    require(done.exists(), "generator did not finish")
    val (_, drainS) = Worker.time(qs.foreach(_._2.processAllAvailable()))
    m("live.drain_s") = drainS
    qs.foreach(_._2.stop())

    // ---- untimed: what run.py needs for latency, backlog and the check
    val all = progs.asScala.toSeq
    def table(p: Prog) = names.get(p.id)
    def put(prefix: String, ps: Seq[Prog]): Unit = {
      val data = ps.filter(_.inputRows > 0)
      def med(f: Prog => Double) = Stats.pct(data.map(f).sorted, 0.5)
      Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
        "commitOffsets", "addBatch", "triggerExecution").foreach { k =>
        m(s"$prefix.${Worker.snake(k)}_ms") = med(_.dur.getOrElse(k, 0L).toDouble) }
      m(s"$prefix.state_commit_ms") = med(_.stateCommitMs.toDouble)
      m(s"$prefix.rows_per_trigger") = med(_.inputRows.toDouble)
      // state size at the last trigger of each query
      val last = ps.groupBy(_.id).values.map(_.maxBy(_.batch))
      m(s"$prefix.state_rows") = last.map(_.stateRows).sum.toDouble
      m(s"$prefix.state_bytes") = last.map(_.stateBytes).sum.toDouble
      m(s"$prefix.triggers") = ps.size.toDouble
    }
    put("live.fused", all.filter(table(_) == "fused"))
    put("live.all", all)
    m("live.rows_dropped_late") = all.map(_.droppedLate).sum.toDouble
    extra("fused_progress") = all.filter(table(_) == "fused").sortBy(_.batch)
      .map(p => s"[${p.batch},${p.endMs},${p.inputRows},${p.dur.getOrElse("triggerExecution", 0L)}]")
      .mkString("[", ",", "]")

    // the fused sink's rows with their batch and that batch's commit time
    val fusedDir = new File(s"$out/fused")
    val committed = Option(fusedDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("batch_id=") &&
        new File(f, "_SUCCESS").exists())
    val commitMs = committed.map(f =>
      f.getName.stripPrefix("batch_id=").toLong -> new File(f, "_SUCCESS").lastModified).toMap
    if (committed.nonEmpty) {
      val rows = spark.read.parquet(committed.map(_.getPath).toSeq: _*)
        .select(col("symbol"), (unix_micros(col("win_start")) / 1000).cast("long"),
          regexp_extract(input_file_name(), "batch_id=([0-9]+)", 1).cast("long"))
        .collect()
      extra("emits") = rows.map(r =>
        s"[${Json.str(r.getString(0))},${r.getLong(1)},${r.getLong(2)},${commitMs(r.getLong(2))}]")
        .mkString("[", ",", "]")
    } else extra("emits") = "[]"

    import spark.implicits._
    Live.readSink(spark, out, "fused").foreach(
      _.coalesce(1).write.mode("overwrite").parquet(s"$live/check_got"))
    val tradeDs = spark.read
      .schema(org.apache.spark.sql.Encoders.product[Streams.Trade].schema)
      .parquet(trades).as[Streams.Trade]
    Streams.fusedBatch(Streams.signalBars(tradeDs)).toDF()
      .coalesce(1).write.mode("overwrite").parquet(s"$live/check_ref")
  }
}
