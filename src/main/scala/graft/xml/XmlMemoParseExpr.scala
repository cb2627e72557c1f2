package graft.xml

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** Memoizing wrapper around a per-row XML parse ([[XmlFlatParseExpr]], or
  * `from_xml` for a read schema the fast scan cannot serve).
  *
  * The DSL's bound projection references the per-row parsed struct from
  * every member expression (often under `when` branches), and after column
  * pruning / constant propagation those references become IDENTICAL COPIES
  * of the parse in one Project — Spark's subexpression elimination does
  * not collapse them (measured: x1 evaluated the parse ~9x per row, ~6x
  * slower end-to-end). Wrapping the parse in this expression makes every
  * duplicate first evaluate the (cheap) xml-string child and look the result
  * up in the row memo ([[XmlRowMemo]], keyed by result type and xml bytes)
  * — the actual parse then runs once per row.
  *
  * The optimizer rule `graft.plans.DedupXmlParses` removes the wrapper
  * from every parse it can evaluate once per row: it pulls repeated parses
  * into a child Project and unwraps a parse referenced once. The wrapper
  * stays for the two cases the rule does not reach:
  *   - user sessions built without `GraftExtensions`, where the rule never
  *     runs (every main and test session here registers it through
  *     `graft.Sessions.local`; XmlGoldenSpec runs each case in a rule-off
  *     session as well, to keep this path tested);
  *   - parses of a `transform` lambda's element, such as an array element
  *     holding a nested obj: those read the lambda variable, so the rule
  *     cannot pull them into a child Project.
  *
  * CodegenFallback is deliberate: generating the child inline would run the
  * parse before this wrapper could intercept it. The fallback call keeps the
  * surrounding Project inside whole-stage codegen; the interpreted overhead
  * is noise next to the parse itself.
  */
case class XmlMemoParseExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "xml_memo_parse"

  /** The parse expression's own input — the raw xml string column. */
  @transient private lazy val strChild: Expression = child.children.head

  /** Site key, computed once per expression instance. Duplicated
    * references may be DISTINCT instances with distinct (equal) DataType
    * objects — identity keying would miss and StructType.equals per lookup
    * dominates (both measured) — so key by the schema string. */
  @transient private lazy val siteKey: String =
    "parse:" + dataType.catalogString

  override def eval(input: InternalRow): Any = {
    val s = strChild.eval(input)
    if (s == null) null
    else XmlRowMemo(siteKey, s.asInstanceOf[UTF8String])(child.eval(input))
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
