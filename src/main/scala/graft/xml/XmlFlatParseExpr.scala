package graft.xml

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `from_xml` replacement for native read schemas (attributes, repeated
  * scalar children, and repeated objs of the same shape to any depth —
  * everything `ObjSpec.nativeReadSchema` builds).
  *
  * Spark's `from_xml` creates a fresh Woodstox stream reader per row —
  * `SymbolTable.makeChild` dominates its profile on record-sized documents
  * (measured via jstack on the x4 struct path). This expression parses the
  * record with [[XmlFastScan.flatStruct]] (one pass over the UTF8 bytes,
  * values copied straight from the input buffer) and falls back PER ROW to
  * Spark's own `XmlToStructsEvaluator` for anything outside the
  * proven-equivalent subset (prolog, entities, mixed content, empty or
  * padded values, namespaces, malformed markup, …) — so the semantics are
  * from_xml's by construction, including mixed-content serialization (x6)
  * and PERMISSIVE handling of corrupt documents (x10).
  *
  * The expression itself keeps no per-row state: the DSL binds it inside
  * [[XmlMemoParseExpr]], whose row memo makes a bound projection's
  * duplicate references O(1), and `graft.plans.DedupXmlParses` pulls it
  * out of that wrapper into a Project that evaluates it once per row.
  */
case class XmlFlatParseExpr(child: Expression, schema: StructType)
  extends UnaryExpression {

  override def dataType: DataType = schema
  override def nullable: Boolean = true
  override def prettyName: String = "xml_flat_parse"

  @transient private lazy val spec: XmlFastScan.FlatSpec =
    XmlFastScan.FlatSpec.of(schema).getOrElse(
      throw new IllegalStateException(
        "xml_flat_parse on a schema the fast scan cannot serve: " +
          schema.catalogString))

  // Spark's real evaluator, created lazily per executor; the options are
  // the DSL's from_xml options, so fallback rows parse EXACTLY as the
  // from_xml path did. TimeZone only affects date/timestamp fields, which
  // a native read schema cannot contain.
  @transient private lazy val fallback = {
    val opts = Map.newBuilder[String, String]
    Bind.xmlOptions.forEach((k, v) => opts += (k -> v))
    def nullify(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(nullify(et), containsNull = true)
      case other => other
    }
    org.apache.spark.sql.catalyst.expressions.xml.XmlToStructsEvaluator(
      opts.result(), nullify(schema), "_corrupt_record", Some("UTC"),
      Literal(UTF8String.fromString(""), StringType))
  }

  def evalFlat(input: UTF8String): Any = {
    val fast = XmlFastScan.flatStruct(input, spec)
    if (!(fast eq XmlFastScan.Bail)) fast else fallback.evaluate(input)
  }

  override def nullSafeEval(input: Any): Any =
    evalFlat(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("expr", this, "graft.xml.XmlFlatParseExpr")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)
         |  $self.evalFlat($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
