package graft.xml

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-generating function (UDTF): one output row per matching depth-1
  * child of an XML string — `(pos, tag, xml, value)` in document order.
  *
  * This is the `Generator` half of SURVEY §2.2's UDAF/UDTF extension row
  * (the Aggregator half is functions.MinhashUnionAgg): a real Catalyst
  * generator planned into a `Generate` node, equivalent to
  * `posexplode(xml_children(...))` but emitting rows directly from the
  * extraction of [[XmlChildrenExpr.evalJava]] — no intermediate array
  * column in the plan.
  *
  * Scale: per-row generation, no state, no shuffle; document order is the
  * reference's array semantics (Parser.cs:272-277).
  */
case class XmlExplodeChildren(child: Expression, patterns: Seq[String],
    fromRoot: Boolean, needOuter: Boolean = true, needValue: Boolean = true)
  extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("xml", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  override def prettyName: String = "xml_explode_children"

  @transient private lazy val specKey: String =
    XmlChildrenExpr.siteKey(patterns, fromRoot, needOuter, needValue)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input)
    if (s == null) Nil
    else {
      val kids = XmlChildrenExpr.evalJava(s.asInstanceOf[UTF8String],
        patterns, fromRoot, specKey, needOuter, needValue)
      if (kids == null) Nil // malformed input: PERMISSIVE, zero rows
      else (0 until kids.numElements()).iterator.map { i =>
        val r = kids.getStruct(i, 4)
        InternalRow(i, r.getUTF8String(0), r.getUTF8String(1),
          r.getUTF8String(2))
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object XmlExplodeChildren {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column API: use in a select like `posexplode(...)`. needOuter /
    * needValue prune the per-child serialization (pruned fields read as
    * "") — pass false only when the query never reads that column. */
  def xml_explode_children(c: Column, patterns: Seq[String],
      fromRoot: Boolean, needOuter: Boolean = true,
      needValue: Boolean = true): Column =
    ColumnBridge.column(
      XmlExplodeChildren(ColumnBridge.expression(c), patterns, fromRoot,
        needOuter, needValue))
}
