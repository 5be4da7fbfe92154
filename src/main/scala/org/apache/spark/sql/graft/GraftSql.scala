package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.spark._

/** Bridge inside org.apache.spark.sql so we can reach the session
  * FunctionRegistry directly (the usual pattern for native-expression
  * libraries; on a cluster prefer
  * `--conf spark.sql.extensions=graft.spark.GraftExtensions`). */
object GraftSql {
  /** Single source of truth for the native-function table — consumed
    * both here (live-session registration) and by
    * `graft.spark.GraftExtensions` (spark.sql.extensions cluster entry
    * point), so the two registration paths can never drift apart. Every
    * kernel row of [[KernelRegistry]], plus graft_attr_match_counts,
    * whose spec arrays are plan-time string literals. */
  def entries: Seq[(String, String, Seq[Expression] => Expression)] =
    KernelRegistry.rows.map(k => (k.name, classOf[KernelExpr].getName, k.build _)) :+
      (("graft_attr_match_counts", classOf[GraftAttrMatchCounts].getName,
        (args: Seq[Expression]) => GraftAttrMatchCounts(args(0),
          strArray(args(1)), strArray(args(2)), strArray(args(3)))))

  /** Evaluate a foldable array<string> argument (the plan-time spec
    * lists of graft_attr_match_counts) to plain strings. */
  private def strArray(e: Expression): Seq[String] =
    e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
      .toSeq

  /** Column from a raw Catalyst expression — for expressions whose
    * constructor carries plan-time constants a SQL literal can't express
    * cleanly (GraftNearestCentroids' k×dim matrix). */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Expression behind a Column (the inverse, for wrapping). */
  def expressionOf(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    entries.foreach { case (name, clazz, builder) =>
      registry.registerFunction(
        FunctionIdentifier(name), new ExpressionInfo(clazz, name), builder)
    }
  }
}
