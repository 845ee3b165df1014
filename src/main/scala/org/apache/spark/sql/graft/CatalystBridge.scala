package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  * Spark 4 hides the Expression-backed Column constructor behind
  * `private[sql]` (columnNodeSupport.scala); extension libraries reach
  * it from a subpackage of org.apache.spark.sql — the standard pattern
  * for Catalyst-level extensions.
  */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rebind a DataFrame's logical plan to another session (sharing the
    * same SparkContext). Lets a streaming query run on an isolated
    * `newSession()` — with its own SQLConf, e.g. state-store-sized
    * shuffle partitioning — without mutating the conf of the session
    * the plan was built on. */
  def withSession(df: org.apache.spark.sql.DataFrame,
                  s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.logical)

  /** An isolated copy of the session carrying ALL its runtime conf
    * (unlike `newSession()`, which resets to initial options — dropping
    * e.g. legacy-parquet flags set at load time). Conf changes on the
    * clone are invisible to the original. */
  def isolatedCopy(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Streaming DataFrame over the parquet files `paths` under `schema`,
    * built the way Spark's FileStreamSource builds a micro-batch: a
    * streaming LogicalRelation over a file relation, so column pruning
    * and filter pushdown still reach the scan. */
  def streamingParquet(s: org.apache.spark.sql.SparkSession, paths: Seq[String],
                       schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val relation = org.apache.spark.sql.execution.datasources.DataSource(cs,
      className = "parquet", paths = paths, userSpecifiedSchema = Some(schema))
      .resolveRelation(checkFilesExist = false)
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.datasources.LogicalRelation(relation, isStreaming = true))
  }
}
