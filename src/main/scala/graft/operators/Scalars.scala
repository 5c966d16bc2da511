package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{ColFns, MomentsAgg}
import graft.sources.Tables
import graft.OpModule

/** The custom Catalyst surface as driver-checkable queries:
  *
  *  - `fn_normcdf`: the native codegen `NormCdfExpr` (registered as SQL
  *    `norm_cdf`) applied to a standardized column — hash-checked against
  *    the same A&S formula spelled out in DuckDB SQL, proving the three
  *    implementations (expression tree, codegen kernel, oracle SQL) are
  *    bitwise-identical.
  *  - `flow_moments`: one-pass population moments of the taker-delta
  *    series via the Welford-merge `MomentsAgg` Aggregator — the
  *    commutative-mergeable form of the reference's z-score population
  *    stats, checked against DuckDB's count/avg/stddev_pop.
  */
object Scalars extends OpModule {

  private def normcdfDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id", $"value")
      .withColumn("p", expr("norm_cdf((value - 50.0) / 25.0)"))
  }

  private val normcdfSql: String =
    s"""SELECT event_id, value,
       |  ${ColFns.normCdfSql("(value - 50.0) / 25.0")} AS p
       |FROM events""".stripMargin

  private def momentsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Flow.deltaDf(spark, dir)
      .select($"delta").as[Double]
      .select(MomentsAgg.toColumn) // typed select: Dataset[(n, mean, std)]
      .toDF("n", "mean", "std")
  }

  private val momentsSql: String =
    s"""SELECT count(*) AS n, avg(delta) AS mean, stddev_pop(delta) AS std
       |FROM (${Flow.deltaSql}) d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fn_normcdf" -> (normcdfDf(_, _)),
    "flow_moments" -> (momentsDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "fn_normcdf" -> normcdfSql,
    "flow_moments" -> momentsSql
  )
}
