package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the sql-private Column ↔ Expression converters, so graft's
  * native expressions can be placed in a plan directly — no function
  * registration, no optimizer rule, correct on a vanilla session (Verify
  * builds a plain ANSI session). Its users: the vector kernels
  * (plans.DotProduct via VectorFunctions.dot, plans.L2Squared and
  * plans.LongDotProduct in Ann), the winnow and shingle kernels, and BPE. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
