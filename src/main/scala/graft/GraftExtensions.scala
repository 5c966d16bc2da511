package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType
import graft.functions.{ArrayDotExpr, NormCdfExpr}

/** The engine's native expressions as SQL functions (`norm_cdf`,
  * `vec_dot`; SURVEY §7.3 optional surface). Engine sessions get them
  * from [[Sessions.local]]; an external session gets them with
  * `spark.sql.extensions=graft.GraftExtensions` or with `register`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  private val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("norm_cdf"),
      new ExpressionInfo(classOf[NormCdfExpr].getName, "norm_cdf"),
      (children: Seq[Expression]) => NormCdfExpr(Cast(children.head, DoubleType))),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[ArrayDotExpr].getName, "vec_dot"),
      (children: Seq[Expression]) => ArrayDotExpr(children(0), children(1))))

  /** Register on an already-built session, once: a function the session
    * already has (an earlier call, or `spark.sql.extensions`) is left as
    * it is, so repeat calls add no "function replaced" warnings. Runs
    * under the session's monitor, so a concurrent caller returns only
    * after the functions are in. */
  def register(spark: SparkSession): Unit = spark.synchronized {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, _, builder) =>
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
  }
}
