package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Catalyst helpers, the same shim pattern every
  * Spark-native library (Delta, Sedona, frameless, ...) uses to expose
  * custom Catalyst expressions as `Column`s on the classic runtime: the
  * two Column <-> Expression converters, and the float normalization
  * grouping applies to its keys (-0.0 as 0.0, one NaN). */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
