package graft

import org.apache.spark.sql.functions._
import graft.functions.{ColFns, MomentsAgg, NormCdf}

/** The custom Catalyst surface: codegen expression vs expression tree vs
  * scalar kernel must agree bitwise; the Welford aggregator must match
  * Spark's built-in population stats. */
class ScalarsSpec extends SparkSpec {

  test("norm_cdf codegen expression == expression tree == scalar kernel, bitwise") {
    import spark.implicits._
    val xs = Seq(-4.0, -1.5, -0.0001, 0.0, 0.3, 1.96, 5.5)
    val rows = xs.toDF("x")
      .withColumn("native", expr("norm_cdf(x)"))
      .withColumn("tree", ColFns.normCdf($"x"))
      .collect()
    rows.foreach { r =>
      val x = r.getDouble(0)
      assert(r.getDouble(1) == r.getDouble(2),
        s"native != tree at $x")
      assert(r.getDouble(1) == NormCdf.compute(x), s"native != kernel at $x")
    }
  }

  test("norm_cdf expression survives whole-stage codegen and nulls") {
    import spark.implicits._
    // a real scan: local relations constant-fold before codegen
    val df = graft.sources.Tables.events(spark, sfDir())
      .selectExpr("value", "norm_cdf(value) AS p",
        "norm_cdf(cast(NULL as double)) AS pn")
    // "*(n)" prefixes mark WholeStageCodegen stages in this plan format
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("norm_cdf(value"),
      s"not codegen'd:\n$plan")
    val first = df.collect().head
    assert(first.getDouble(1) == NormCdf.compute(first.getDouble(0)))
    assert(first.isNullAt(2)) // null propagates
  }

  test("vec_dot equals the fold it replaced, handles nulls and short vectors") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)),
      (2L, Seq(0.5f, -1.5f), Seq(2f, 2f)))
      .toDF("id", "a", "b")
      .withColumn("native", expr("vec_dot(a, b)"))
      .withColumn("fold",
        aggregate(zip_with($"a", $"b",
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v))
    val rows = df.collect().map(r =>
      r.getLong(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(rows(1L)._1 == 32.0 && rows(1L)._1 == rows(1L)._2)
    assert(rows(2L)._1 == -2.0 && rows(2L)._1 == rows(2L)._2)
    // zip_with pads the shorter array with null, which nulls the fold —
    // the kernel propagates NULL for mismatched lengths the same way
    val mis = spark.sql(
      "SELECT vec_dot(array(float(1), float(1), float(1)), " +
        "array(float(1), float(1)))").collect().head
    assert(mis.isNullAt(0))
    // a null ELEMENT nulls the fold: the kernel must match
    val ne = spark.sql(
      "SELECT vec_dot(array(float(1), cast(null as float)), " +
        "array(float(1), float(1)))").collect().head
    assert(ne.isNullAt(0))
    val n = Seq((Seq(1f), Option.empty[Seq[Float]])).toDF("a", "b")
      .selectExpr("vec_dot(a, b)").collect().head
    assert(n.isNullAt(0))
  }

  test("MomentsAgg matches built-in count/avg/stddev_pop across partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val xs = (1 to 10001).map(_ => rnd.nextDouble() * 100 - 50)
    val ds = xs.toDS().repartition(7) // force non-trivial merges
    val (n, mean, std) = ds.select(MomentsAgg.toColumn).collect().head
    val exp = ds.agg(count(lit(1)), avg($"value"), stddev_pop($"value"))
      .collect().head
    assert(n == exp.getLong(0))
    assert(math.abs(mean - exp.getDouble(1)) < 1e-9)
    assert(math.abs(std - exp.getDouble(2)) < 1e-9)
  }

  test("MomentsAgg merge is associative-safe on empty/singleton buffers") {
    import graft.functions.MomentsBuf
    val a = MomentsAgg.reduce(MomentsAgg.zero, 3.0)
    assert(MomentsAgg.merge(MomentsAgg.zero, a) == a)
    assert(MomentsAgg.merge(a, MomentsAgg.zero) == a)
    val (n, mean, std) = MomentsAgg.finish(a)
    assert(n == 1L && mean == 3.0 && std == 0.0)
  }
}
