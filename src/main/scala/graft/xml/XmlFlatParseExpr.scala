package graft.xml

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression,
  GenericInternalRow, Literal, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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
  * The DSL reads it through [[XmlTypedParseExpr]], which holds it as its
  * fallback and as the plan's record of the read schema; evaluated on its
  * own (a standalone replay of the parse) it returns the string struct.
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

  @transient private lazy val fallback = XmlFlatParseExpr.evaluator(schema)

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

object XmlFlatParseExpr {
  /** Spark's real evaluator for `schema`, with the DSL's from_xml options,
    * so a fallback row parses EXACTLY as from_xml parses it. TimeZone only
    * affects date/timestamp fields, which a read schema cannot contain. */
  def evaluator(schema: StructType)
      : org.apache.spark.sql.catalyst.expressions.xml.XmlToStructsEvaluator = {
    def nullify(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(nullify(et), containsNull = true)
      case other => other
    }
    org.apache.spark.sql.catalyst.expressions.xml.XmlToStructsEvaluator(
      Bind.xmlOptions, nullify(schema), "_corrupt_record", Some("UTC"),
      Literal(UTF8String.fromString(""), StringType))
  }
}

/** The DSL's per-row parse of a native spec, typed: one struct per record
  * whose scalar fields already hold what the members' parsers
  * ([[XmlValues]]) read from the first occurrence, so the projection above
  * reads plain fields (`spec` is [[ObjSpec.typedSpec]], its struct
  * `spec.schema`).
  *
  * `parse` is the string parse of the read schema ([[XmlFlatParseExpr]],
  * or from_xml for a schema the fast scan cannot serve); `cells` are the
  * parsers' Spark transforms ([[XmlValues.cell]]), one per parser in
  * `spec.parsersUsed` other than `str`. A record the kernel accepts is read
  * in one pass: [[XmlFastScan.typedStruct]] decodes each value from the
  * record's bytes and leaves only the cells its decoders cannot decide to
  * `cells`. A record it bails on takes today's path, evaluated only then,
  * like an `If` branch: `parse`'s from_xml evaluator, then each member's
  * first value through its parser's Spark transform — the per-member
  * `get(…, 0)` and `when`/`trim`/`cast` of an untyped bind. So the result
  * equals that bind's on every record. No parser here raises: a strict
  * one (`int`, `nullIntStrict`) reads the `str` field and casts at its
  * member ([[XmlValues.typedBy]]), so it runs only where the member is
  * read. `parse` itself is never evaluated: it holds the input, and it is
  * the plan's record of the read schema, which the benchmark harness
  * replays on its own. The generated code evaluates `parse`'s input only;
  * the cells read only their own variables, which are not inputs. */
case class XmlTypedParseExpr(parse: Expression, spec: XmlFastScan.FlatSpec,
    cells: Seq[Expression], timeZoneId: Option[String] = None)
  extends Expression with TimeZoneAwareExpression {

  override def children: Seq[Expression] = parse +: cells
  override def dataType: DataType = spec.schema
  override def nullable: Boolean = true
  override def prettyName: String = "xml_typed_parse"
  @transient override lazy val references: AttributeSet = parse.references

  private def input: Expression = parse.children.head

  override def withTimeZone(tz: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(tz))

  @transient private lazy val readSchema =
    parse.dataType.asInstanceOf[StructType]
  @transient private lazy val fast = parse.isInstanceOf[XmlFlatParseExpr]
  @transient private lazy val fallback =
    XmlFlatParseExpr.evaluator(readSchema)
  @transient private lazy val reader = new XmlValues.Cells(
    spec.parsersUsed.filter(_ != XmlValues.Str), cells, zoneId)

  def read(in: UTF8String): InternalRow = {
    if (fast) {
      val r = XmlFastScan.typedStruct(in, spec, reader)
      if (!(r eq XmlFastScan.Bail)) return r.asInstanceOf[InternalRow]
    }
    // a record from_xml reads as null binds like a struct of nulls: its
    // members read missing elements (0 for `int`)
    val r = fallback.evaluate(in).asInstanceOf[InternalRow]
    typed(spec, readSchema,
      if (r != null) r else new GenericInternalRow(readSchema.length))
  }

  /** The typed struct of `r`, a struct of `s`'s read schema `st`. */
  private def typed(s: XmlFastScan.FlatSpec, st: StructType,
      r: InternalRow): InternalRow =
    if (r == null) null
    else {
      val out = new Array[Any](s.schema.length)
      var slot = 0
      s.fields.zipWithIndex.foreach { case (f, i) =>
        val v = if (r.isNullAt(i)) null else r.get(i, st(i).dataType)
        def elem = st(i).dataType.asInstanceOf[ArrayType].elementType
          .asInstanceOf[StructType]
        f match {
          case XmlFastScan.ScalarF(_, ps) if ps.nonEmpty =>
            val text = first(v, StringType).asInstanceOf[UTF8String]
            ps.foreach { p =>
              out(slot) =
                if (p == XmlValues.Str) text else reader.spark(p, text)
              slot += 1
            }
          case XmlFastScan.ObjF(_, sub, true) =>
            out(slot) = typed(sub, elem, first(v, elem).asInstanceOf[InternalRow])
            slot += 1
          case XmlFastScan.ObjF(_, sub, false) if v != null =>
            val a = v.asInstanceOf[ArrayData]
            out(slot) = new GenericArrayData(Array.tabulate[Any](
              a.numElements())(j => if (a.isNullAt(j)) null
              else typed(sub, elem, a.getStruct(j, elem.length))))
            slot += 1
          case _ => out(slot) = v; slot += 1 // attributes, string arrays
        }
      }
      new GenericInternalRow(out)
    }

  /** `get(arr, 0)`: the first element, null for a null or empty array. */
  private def first(arr: Any, et: DataType): Any = arr match {
    case a: ArrayData if a.numElements() > 0 && !a.isNullAt(0) =>
      a.get(0, et)
    case _ => null
  }

  override def eval(row: InternalRow): Any = {
    val in = input.eval(row)
    if (in == null) null else read(in.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("expr", this, "graft.xml.XmlTypedParseExpr")
    val in = input.genCode(ctx)
    ev.copy(code = code"""
      |${in.code}
      |boolean ${ev.isNull} = ${in.isNull};
      |InternalRow ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $self.read(${in.value});
      |  ${ev.isNull} = ${ev.value} == null;
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(parse = c.head, cells = c.tail)
}
