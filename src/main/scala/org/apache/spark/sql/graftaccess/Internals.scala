package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Minimal access shim: Spark 4 made Column↔Expression conversion
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); custom
  * Catalyst expressions still need it to surface as `Column`s. This is the
  * only internals access in the codebase.
  */
object Internals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as a Catalyst tree now, for a SQL function builder: the analyzer
    * resolves the tree's functions, but never sees into the deferred
    * wrapper `expression` returns for a Column built from operators. */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
