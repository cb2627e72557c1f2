package graft.xml

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData,
  GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expression: extract matching depth-1 children of an XML string
  * as `array<struct<tag,xml,value,attrs>>`, in document order.
  *
  * This is the one custom operator the native XML source cannot express
  * (SURVEY.md §7.3): the reference's wildcard dispatch + `Tag()` capture +
  * per-child array emit (reference Parser.cs:166-187, 257-316). Evaluation is
  * one byte-level fast scan or one StAX pass per value
  * ([[XmlChildrenExpr.extract]]). Typed by `outType` before analysis, so the
  * DSL binds an extraction several members share once, in a Catalyst
  * `With`, and each member picks from it ([[XmlPickChildExpr]]).
  *
  * Scale: embarrassingly parallel per row; no state, no shuffle. The returned
  * children carry re-parsable outer XML so downstream exact-member binding
  * stays on the native parse (`xml_flat_parse`).
  */
case class XmlChildrenExpr(child: Expression, patterns: Seq[String],
    fromRoot: Boolean, needOuter: Boolean = true, needValue: Boolean = true)
  extends UnaryExpression {

  override def dataType: DataType = XmlChildrenExpr.outType
  override def nullable: Boolean = true
  override def prettyName: String = "xml_children"

  // computed once per instance, not per row
  @transient private lazy val specKey: String =
    XmlStax.specKey(patterns, fromRoot, needOuter, needValue)

  override def nullSafeEval(input: Any): Any =
    XmlChildrenExpr.extract(input.asInstanceOf[UTF8String], patterns,
      fromRoot, specKey, needOuter, needValue)

  // a real doGenCode (vs CodegenFallback) keeps the surrounding projection
  // inside whole-stage codegen; the generated code just calls the static
  // evaluator
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val pats = ctx.addReferenceObj("patterns", patterns,
      "scala.collection.immutable.Seq")
    val key = ctx.addReferenceObj("specKey", specKey, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.xml.XmlChildrenExpr.extract($c, $pats,
         |  $fromRoot, $key, $needOuter, $needValue);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object XmlChildrenExpr {
  val elemType: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("xml", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    // the child's own attributes, extracted in the same StAX pass —
    // attribute binds on array elements need no from_xml re-parse
    StructField("attrs", MapType(StringType, StringType,
      valueContainsNull = false), nullable = false)))
  val outType: DataType = ArrayType(elemType, containsNull = false)

  /** Static evaluator shared by interpreted eval and generated code, and
    * the one child extraction every expression reads: the byte-level fast
    * path (no decode, no StAX; values and outer XML written straight from
    * the input bytes) first, and anything outside its proven-equivalent
    * subset through the StAX walk. `specKey` ([[XmlStax.specKey]]) keys
    * the compiled patterns. */
  def extract(input: UTF8String, patterns: Seq[String], fromRoot: Boolean,
      specKey: String, needOuter: Boolean, needValue: Boolean): ArrayData = {
    val fast = XmlFastScan.children(input, patterns, specKey, fromRoot,
      needOuter, needValue)
    if (!(fast eq XmlFastScan.Bail)) fast.asInstanceOf[ArrayData]
    else build(XmlStax.children(input.toString, patterns, fromRoot, specKey,
      needOuter, needValue))
  }

  // pruned outer/value fields are "" for every child — share one constant
  private def utf8(s: String): UTF8String =
    if (s.isEmpty) UTF8String.EMPTY_UTF8 else UTF8String.fromString(s)

  // attribute-less children (the common case) share one immutable empty map
  private val emptyMap = new ArrayBasedMapData(
    new GenericArrayData(Array.empty[Any]),
    new GenericArrayData(Array.empty[Any]))

  /** One Child as the `elemType` struct row. */
  private def buildChildRow(c: XmlStax.Child): InternalRow = {
    val attrs = if (c.attrs.isEmpty) emptyMap else {
      val n = c.attrs.length
      val ks = new Array[Any](n)
      val vs = new Array[Any](n)
      var j = 0
      while (j < n) {
        val a = c.attrs(j)
        ks(j) = UTF8String.fromString(a._1)
        vs(j) = UTF8String.fromString(a._2)
        j += 1
      }
      new ArrayBasedMapData(new GenericArrayData(ks),
        new GenericArrayData(vs))
    }
    // direct GenericInternalRow: InternalRow.apply boxes through a varargs
    // Seq per child, measurable on million-child explodes
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(c.tag), utf8(c.outer),
        utf8(c.value), attrs))
  }

  private def build(res: Seq[XmlStax.Child]): ArrayData = {
    if (res == null) return null
    val out = new Array[Any](res.length)
    var i = 0
    while (i < res.length) {
      out(i) = buildChildRow(res(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Static evaluator for [[XmlChildrenAtExpr]]: the same fast scan,
    * else StAX, for the fused container descent. */
  def evalJavaAt(input: UTF8String, container: String,
      patterns: Seq[String], specKey: String, needOuter: Boolean,
      needValue: Boolean): ArrayData = {
    val fast = XmlFastScan.childrenAt(input, container, patterns, specKey,
      needOuter, needValue)
    if (!(fast eq XmlFastScan.Bail)) fast.asInstanceOf[ArrayData]
    else build(XmlStax.childrenAt(input.toString, container, patterns,
      specKey, needOuter, needValue))
  }
}

/** Fused container descent ([[XmlStax.childrenAt]]): matching children of
  * the first depth-1 child named `container`, extracted in ONE StAX pass
  * over the document. Replaces the two-pass
  * `xml_children(first_child(doc, container).xml, patterns)` shape, whose
  * intermediate step serializes the container's outer XML only to
  * re-tokenize it — the dominant cost of the nested-array bind (x3).
  * Null when the container is absent or the document malformed (the
  * two-pass form's semantics exactly). */
case class XmlChildrenAtExpr(child: Expression, container: String,
    patterns: Seq[String], needOuter: Boolean = true,
    needValue: Boolean = true) extends UnaryExpression {

  override def dataType: DataType = XmlChildrenExpr.outType
  override def nullable: Boolean = true
  override def prettyName: String = "xml_children_at"

  @transient private lazy val specKey: String =
    XmlStax.specKey(patterns, fromRoot = true, needOuter, needValue)

  override def nullSafeEval(input: Any): Any =
    XmlChildrenExpr.evalJavaAt(input.asInstanceOf[UTF8String], container,
      patterns, specKey, needOuter, needValue)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cont = ctx.addReferenceObj("container", container, "java.lang.String")
    val pats = ctx.addReferenceObj("patterns", patterns,
      "scala.collection.immutable.Seq")
    val key = ctx.addReferenceObj("specKey", specKey, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.xml.XmlChildrenExpr.evalJavaAt($c, $cont,
         |  $pats, $key, $needOuter, $needValue);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** First matching depth-1 child of an XML string as a nullable
  * `struct<tag,xml,value,attrs>`: [[XmlPickChildExpr]] over its own
  * extraction ([[XmlChildrenExpr.extract]]), evaluated per reference.
  *
  * The DSL no longer emits it: a StAX-path spec binds one extraction for
  * all its members and picks from it. It stays for the `xmlbench` harness,
  * which matches it as a fast-path site; ROADMAP item 8 deletes it with
  * that harness case. */
case class XmlFirstChildExpr(child: Expression, capturePatterns: Seq[String],
    fromRoot: Boolean, memberName: String, exactNames: Seq[String],
    laterGlobs: Seq[String], needOuter: Boolean = true,
    needValue: Boolean = true) extends UnaryExpression {

  override def dataType: DataType = XmlChildrenExpr.elemType
  override def nullable: Boolean = true
  override def prettyName: String = "xml_first_child"

  @transient private lazy val specKey: String =
    XmlStax.specKey(capturePatterns, fromRoot, needOuter, needValue)
  @transient private lazy val member =
    new XmlChildMatch(memberName, exactNames, laterGlobs)

  /** Instance evaluator referenced directly from the generated code. */
  def firstChild(input: UTF8String): InternalRow =
    member.first(XmlChildrenExpr.extract(input, capturePatterns, fromRoot,
      specKey, needOuter, needValue))

  override def nullSafeEval(input: Any): Any =
    firstChild(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("expr", this,
      "graft.xml.XmlFirstChildExpr")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $self.firstChild($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One member's first matching child ([[XmlChildMatch]]) in an extraction
  * already evaluated: `child` is the `array<struct<tag,xml,value,attrs>>`
  * of an [[XmlChildrenExpr]], in the DSL a ref to the extraction its spec
  * binds once. */
case class XmlPickChildExpr(child: Expression, memberName: String,
    exactNames: Seq[String], laterGlobs: Seq[String])
  extends UnaryExpression {

  override def dataType: DataType = XmlChildrenExpr.elemType
  override def nullable: Boolean = true
  override def prettyName: String = "xml_pick_child"

  @transient private lazy val member =
    new XmlChildMatch(memberName, exactNames, laterGlobs)

  def pick(kids: ArrayData): InternalRow = member.first(kids)

  override def nullSafeEval(input: Any): Any =
    pick(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("expr", this,
      "graft.xml.XmlPickChildExpr")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $self.pick($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Reference member dispatch over extracted children (Parser.cs:166-187):
  * an exact `memberName` matches by equality; a glob member matches
  * `prefix*suffix` minus any tag claimed by an exact member or by a
  * LATER-registered glob (last-glob-wins). Tags compare as UTF8 bytes. */
private[xml] final class XmlChildMatch(memberName: String,
    exactNames: Seq[String], laterGlobs: Seq[String]) {
  private def glob(g: String): (UTF8String, UTF8String) = {
    val i = g.indexOf('*')
    (UTF8String.fromString(g.substring(0, i)),
      UTF8String.fromString(g.substring(i + 1)))
  }
  private def hits(g: (UTF8String, UTF8String), t: UTF8String): Boolean =
    t.startsWith(g._1) && t.endsWith(g._2)

  private val exact = UTF8String.fromString(memberName)
  private val selfGlob = if (memberName.contains("*")) glob(memberName)
    else null
  private val exacts = exactNames.map(UTF8String.fromString).toSet
  private val later = laterGlobs.map(glob).toArray

  def matches(t: UTF8String): Boolean =
    if (selfGlob == null) t == exact
    else hits(selfGlob, t) && !exacts.contains(t) && !later.exists(hits(_, t))

  /** The first matching child's struct, or null. */
  def first(kids: ArrayData): InternalRow = {
    if (kids == null) return null
    var i = 0
    while (i < kids.numElements()) {
      val row = kids.getStruct(i, 4)
      if (matches(row.getUTF8String(0))) return row
      i += 1
    }
    null
  }
}

/** Reference `StringParser` semantics over a whole element string. */
case class XmlElementValueExpr(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "xml_element_value"
  override def nullSafeEval(input: Any): Any =
    XmlElementValueExpr.evalJava(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.xml.XmlElementValueExpr.evalJava($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object XmlElementValueExpr {
  def evalJava(input: UTF8String): UTF8String = {
    val v = XmlStax.elementValue(input.toString)
    if (v == null) null else UTF8String.fromString(v)
  }
}

object XmlFunctions {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column API over [[XmlChildrenExpr]]. needOuter/needValue prune the
    * per-child `xml`/`value` serialization (pruned fields read as "") —
    * pass false only when nothing downstream reads the field. */
  def xml_children(c: Column, patterns: Seq[String], fromRoot: Boolean,
      needOuter: Boolean = true, needValue: Boolean = true): Column =
    ColumnBridge.column(
      XmlChildrenExpr(ColumnBridge.expression(c), patterns, fromRoot,
        needOuter, needValue))

  def xml_element_value(c: Column): Column =
    ColumnBridge.column(XmlElementValueExpr(ColumnBridge.expression(c)))
}
