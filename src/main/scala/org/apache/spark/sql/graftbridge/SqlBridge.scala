package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the `private[sql]` Expression ↔ Column converters —
  * the standard pattern for third-party Catalyst expressions (a tiny object
  * inside an `org.apache.spark.sql` subpackage) — and to the two
  * `private[spark]` calls the snapshot reader's file index needs; nothing
  * else lives here.
  */
object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** `StructType.asNullable`, as `DataSource` applies it to a file
    * relation's data schema. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Spark's hidden-file rule for file listings: `_*` and `.*` names
    * (except parquet's `_metadata`/`_common_metadata` and `k=v` dirs) and
    * in-flight `*._COPYING_` copies are not data. */
  def isHiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Standard WRONG_NUM_ARGS AnalysisException, as built-in functions raise
    * it — callers get a clean analysis error instead of an
    * IndexOutOfBoundsException from `exprs(i)`. */
  def wrongNumArgs(fn: String, expected: Seq[Any], actual: Int): Nothing =
    throw org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(fn, expected, actual)
}
