package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into the `private[sql]` Expression→Column constructor so graft
  * can expose native Catalyst expressions (with codegen) through the
  * public Column API without per-session function registration; into
  * the `private[sql]` non-blocking observation read; and into the
  * `private[sql]` construction of a Dataset over an RDD leaf. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def observedRow(o: Observation): Option[Row] = o.getRowOrEmpty

  /** A frame over `rows` whose plan is one `LogicalRDD` leaf with
    * `origin`'s output, statistics, partitioning and ordering; `rows`
    * are `origin`'s rows. */
  def leaf(rows: RDD[InternalRow], origin: DataFrame): DataFrame = {
    val ds = origin.asInstanceOf[Dataset[Row]]
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }
}
