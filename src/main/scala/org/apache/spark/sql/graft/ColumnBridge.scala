package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter,
  ExpressionUtils}

/** Bridge to the classic Column <-> catalyst Expression conversions, which
  * are `private[sql]` in Spark 4 (Column is backed by ColumnNode there).
  * Lives under org.apache.spark.sql to access them; the rest of graft uses
  * only this object.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c`'s whole expression tree. [[expression]] leaves a composed column
    * to the analyzer to convert; this converts it now, so the tree can be
    * inspected and rewritten. */
  def tree(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
