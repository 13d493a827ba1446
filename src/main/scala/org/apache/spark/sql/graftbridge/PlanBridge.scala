package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Bridge to `private[sql]` plan plumbing: building a DataFrame from a
  * custom LogicalPlan node (the standard extension-library pattern for
  * shipping custom operators — same trick as [[ColumnBridge]]). */
object PlanBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** A DataFrame over an RDD of rows already in Catalyst form. */
  def internalFrame(spark: SparkSession, rows: RDD[InternalRow],
                    schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Column → catalyst Expression via the classic converter — unlike
    * wrapping, this translates Spark-4 column NODES (sort orders,
    * functions) into real catalyst expressions. */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The memory manager's page size — what SortExec gives its sorter. */
  def pageSizeBytes: Long = org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** Column → SortOrder (honoring .asc/.desc; bare columns sort asc). */
  def sortOrder(c: Column): SortOrder = expression(c) match {
    case s: SortOrder => s
    case e => SortOrder(e, Ascending)
  }
}
