package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Expression→Column constructor so graft
  * can expose native Catalyst expressions (with codegen) through the
  * public Column API without per-session function registration; and into
  * the `private[sql]` non-blocking observation read. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def observedRow(o: Observation): Option[Row] = o.getRowOrEmpty
}
