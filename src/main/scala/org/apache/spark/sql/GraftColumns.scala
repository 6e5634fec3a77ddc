package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** Bridge for graft's native aggregates and SQL function table: the Column ⇄
  * Expression conversions of the classic Column API and the `ScalaUDF`
  * construction `UDFRegistration` uses are `private[sql]`.
  */
object GraftColumns {
  def aggregate(cols: Seq[Column])(build: Seq[Expression] => AggregateFunction): Column =
    ExpressionUtils.column(build(cols.map(ExpressionUtils.expression)).toAggregateExpression())

  /** The builder `UDFRegistration.register(name, f)` installs: `f` named
    * `name`, its argument count checked at analysis.
    */
  def scalaUdf(name: String, f: UserDefinedFunction): Seq[Expression] => Expression = {
    val named = f.withName(name).asInstanceOf[SparkUserDefinedFunction]
    val arity = named.inputEncoders.size
    children =>
      if (children.length != arity) {
        throw QueryCompilationErrors.wrongNumArgsError(name, Seq(arity.toString), children.length)
      }
      UserDefinedFunctionUtils.toScalaUDF(named, children)
  }
}
