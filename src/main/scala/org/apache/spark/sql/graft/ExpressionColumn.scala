package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Converts between Catalyst expressions and DataFrame `Column`s. Spark 4
  * keeps both conversions `private[sql]`; this package is the narrow
  * bridge to them for graft's own expressions that are not SQL functions
  * (see [[graft.plans.BatchConstants]]).
  */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
