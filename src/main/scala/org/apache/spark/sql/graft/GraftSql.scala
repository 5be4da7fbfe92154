package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.spark._

/** Bridge inside org.apache.spark.sql: Column <-> Expression (how
  * engine code builds native expressions without the session) and the
  * session FunctionRegistry (how SQL text finds them; on a cluster
  * prefer `--conf spark.sql.extensions=graft.spark.GraftExtensions`). */
object GraftSql {
  /** The SQL-name table, used only for SQL text — consumed both here
    * (live-session registration) and by `graft.spark.GraftExtensions`
    * (spark.sql.extensions cluster entry point), so the two
    * registration paths can never drift apart. Every kernel row of
    * [[KernelRegistry]], plus graft_attr_match_counts, whose spec
    * arrays are plan-time string literals. */
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

  /** Column from a raw Catalyst expression: every kernel call
    * ([[KernelRegistry.kernel]]) and the expressions whose constructor
    * carries plan-time constants (GraftNearestCentroids' k×dim matrix,
    * GraftAttrMatchCounts' spec lists). */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Expression behind a Column (the inverse, for wrapping). Spark
    * converts it only when a session uses the Column, so until then it
    * may be an unevaluable placeholder. */
  def expressionOf(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Expression behind a Column, converted now: for the literal
    * arguments a kernel checks and inlines when it is built. */
  def convertedNow(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over an RDD of internal rows laid out as `schema`, with
    * no per-row conversion (the RDD-built operators, e.g.
    * `Pack.concatChunk`). */
  def frame(spark: SparkSession, rows: org.apache.spark.rdd.RDD[InternalRow],
            schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Runs `f`, whose jobs run a plan's RDD outside a SQL execution, with
    * `spark`'s SQL conf visible in their tasks, as in Spark's own actions. */
  def withConfPropagated[T](spark: SparkSession)(f: => T): T =
    org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])(f)

  /** Adds one file's rows and bytes to the running task's output metrics
    * (their setters are private to Spark), where Spark's file writer puts
    * its own. */
  def recordOutput(rows: Long, bytes: Long): Unit = {
    val m = org.apache.spark.TaskContext.get().taskMetrics().outputMetrics
    m.setRecordsWritten(m.recordsWritten + rows)
    m.setBytesWritten(m.bytesWritten + bytes)
  }

  /** Register [[entries]] in `spark`'s function registry, for SQL
    * text. Re-registers (and logs a replacement warning per function)
    * when called again on the same session. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    entries.foreach { case (name, clazz, builder) =>
      registry.registerFunction(
        FunctionIdentifier(name), new ExpressionInfo(clazz, name), builder)
    }
  }
}
