package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge for graft's native aggregates: the Column ⇄ Expression conversions
  * of the classic Column API are `private[sql]`.
  */
object GraftColumns {
  def aggregate(cols: Seq[Column])(build: Seq[Expression] => AggregateFunction): Column =
    ExpressionUtils.column(build(cols.map(ExpressionUtils.expression)).toAggregateExpression())
}
