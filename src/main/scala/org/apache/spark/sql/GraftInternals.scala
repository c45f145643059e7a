package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column internals, so graft's custom
  * Catalyst expressions (e.g. [[graft.functions.DotProduct]]) can be
  * exposed as user-facing `Column`s without a session-bound function
  * registry. Standard extension-library pattern; uses only the stable
  * classic-mode conversion helpers.
  */
object GraftInternals {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Full ColumnNode → Expression conversion (not the lazy wrapper):
    * what the analyzer runs when a DataFrame plan is built. Needed
    * where an actual Catalyst tree must exist OUTSIDE a plan — e.g.
    * surfacing a Column-composed kernel as a SQL function.
    */
  def toRealExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** `StructType.asNullable`: a file relation reads every column as
    * nullable, whatever the writer declared.
    */
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}
