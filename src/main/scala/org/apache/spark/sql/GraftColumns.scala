package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Catalyst expression ↔ `Column`, as Spark's own `functions` wrap their
  * internal expressions (`graft.plans.NativeFunctions`): a column built
  * here resolves on any classic session, with no function registry
  * lookup. `ExpressionUtils` is package-private, hence this package. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
