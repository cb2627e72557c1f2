package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the classic Column <-> catalyst Expression conversions, which
  * are `private[sql]` in Spark 4 (Column is backed by ColumnNode there).
  * Lives under org.apache.spark.sql to access them; the rest of graft uses
  * only this object.
  *
  * (A Catalyst `With`/CommonExpressionDef helper used to live here; it was
  * removed after the approach proved un-buildable pre-analysis — the
  * per-thread row memo in graft.xml serves that role instead.)
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
