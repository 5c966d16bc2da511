package graft.app

import org.apache.spark.sql.SparkSession
import graft.{Sessions, SparkEntry}

/** Batch replay entry point (SURVEY §7.1): one pass over a scale-factor
  * directory producing the engine's result tables — the signal frame
  * (Parameters-table analog), entry signals, position events
  * (Trades-table analog), daily summary, and cumulative P&L — as parquet
  * under the output directory.
  *
  *   sbt 'runMain graft.app.Backtest /root/testdata/sf0.01 /tmp/backtest'
  */
object Backtest {
  val ResultTables = Seq("fusion_scores", "entry_signals",
    "fsm_position_events", "fsm_daily_summary", "fsm_cum_pnl",
    "position_sizing", "trend_hysteresis")

  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    ResultTables.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // batch side of the order-placement leg: the identical event->order
    // mapping + rate limiter the live sink applies (Live.ordersOf)
    Live.ordersOf(SparkEntry.queries("fsm_position_events")(spark, sfDir))
      .write.mode("overwrite").parquet(s"$outDir/orders")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.cpus(4))
    run(spark, sfDir, outDir)
    spark.stop()
  }
}
