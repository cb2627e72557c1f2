package graft.xml

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import XmlFunctions._

/** The reference engine's declarative parser DSL (reference
  * XmlStreamProcessor/Parser.cs:501-514, `INode`), re-expressed Spark-first.
  *
  * A user function `XmlNode => Column` plays the role of the reference's
  * typed lambda (Parser.cs:335-345). Like the reference, it is compiled in
  * two phases:
  *
  *   1. '''record''' (≙ MarkupLambdaTraverser, Parser.cs:359-499): the
  *      function runs once against a recording node; every accessor call
  *      registers an element/attribute name, producing an extraction spec.
  *   2. '''bind''' (≙ Expression.Compile, Parser.cs:110-115): the function
  *      runs again against a binding node whose accessors return real
  *      Catalyst Columns over the parsed representation. Catalyst + Tungsten
  *      then do what the reference's compiled delegate did, distributed.
  *
  * The function must therefore be pure and deterministic — exactly the
  * constraint the reference documents for its lambdas (README.md:62-66).
  *
  * Compilation strategy (SURVEY.md §7.3): specs using only exact names,
  * scalars, structs, attributes and single-name arrays compile to the
  * '''native path''' — one native read schema per record, parsed by
  * `xml_flat_parse` (from_xml's semantics, a byte-level fast path in
  * front), first-wins duplicate handling via ArrayType + element_at.
  * Wildcard names, heterogeneous arrays and `custom` members route through
  * the '''StAX path''' (`xml_children`), with exact sub-members still bound
  * natively from each extracted child's outer XML.
  */
trait XmlNode {

  /** Reference `Int` — missing element -> 0, unparseable -> error. */
  def int(name: String): Column

  /** Reference `NullInt` — missing/empty -> null; unparseable garbage also
    * -> null (distributed-friendly default; see [[nullIntStrict]]). */
  def nullInt(name: String): Column

  /** Reference `NullInt` with full parity: non-empty unparseable text
    * throws (ANSI cast), exactly as the reference's Convert.ToInt32 does
    * (Parser.cs:58-67). */
  def nullIntStrict(name: String): Column

  /** Reference `NullBool`. */
  def nullBool(name: String): Column

  /** Reference `NullDecimal` -> DecimalType(38,18). */
  def nullDecimal(name: String): Column

  /** Reference `NullDate` -> TimestampType. */
  def nullDate(name: String): Column

  /** Reference `String` — mixed content keeps inline child markup. */
  def str(name: String): Column

  /** Reference `Attribute` — always a string. */
  def attribute(name: String): Column

  /** Reference `Tag()` — local name of the element being constructed. */
  def tag: Column

  /** Reference `Type(name, λ)` — nested object; absent element -> null. */
  def obj(name: String)(f: XmlNode => Column): Column

  /** Reference `Array(name, λ)` — one output per matching child of the
    * container, in document order; λ's accessors dispatch on each child's
    * own tag (alternatives), as in Test1.cs:187-209. */
  def array(name: String)(f: XmlNode => Column): Column

  /** Reference `Custom(name, f)` — f receives the child's outer XML. */
  def custom(name: String)(f: Column => Column): Column
}

// ---------------------------------------------------------------------------
// Spec model (the "extraction schema" of Parser.cs:348-366)
// ---------------------------------------------------------------------------

private[xml] sealed trait Member { def name: String }
private[xml] final case class ScalarM(name: String) extends Member
private[xml] final case class ObjM(name: String, f: XmlNode => Column,
    spec: ObjSpec) extends Member
private[xml] final case class ArrM(name: String, f: XmlNode => Column,
    spec: ObjSpec) extends Member
private[xml] final case class CustomM(name: String, f: Column => Column)
  extends Member

private[xml] final class ObjSpec {
  val members = mutable.LinkedHashMap.empty[String, Member]
  val attrs = mutable.LinkedHashSet.empty[String]
  var usesTag = false

  def exactNames: Seq[String] =
    members.keys.filterNot(_.contains("*")).toSeq
  def globNames: Seq[String] = members.keys.filter(_.contains("*")).toSeq

  /** Native single-name array: one exact alternative, itself native, no
    * container-attribute broadcast. */
  def arrayIsNative(m: ArrM): Boolean =
    m.spec.members.size == 1 && m.spec.attrs.isEmpty &&
      (m.spec.members.head match {
        case (n, ScalarM(_))     => !n.contains("*")
        case (n, o: ObjM)        => !n.contains("*") && o.spec.isNative
        case _                   => false
      })

  /** Whole spec expressible as one native read schema. */
  def isNative: Boolean = members.forall {
    case (n, ScalarM(_)) => !n.contains("*")
    case (n, o: ObjM)    => !n.contains("*") && o.spec.isNative
    case (n, a: ArrM)    => !n.contains("*") && arrayIsNative(a)
    case (_, _: CustomM) => false
  }

  /** Read-schema fields consumed natively (everything when isNative; the
    * exact scalar/struct/native-array subset plus attrs otherwise). */
  def nativeReadSchema: StructType = {
    val fields = mutable.ArrayBuffer.empty[StructField]
    attrs.foreach(a => fields += StructField("_" + a, StringType))
    members.foreach {
      case (n, ScalarM(_)) if !n.contains("*") =>
        fields += StructField(n, ArrayType(StringType))
      case (n, o: ObjM) if !n.contains("*") && o.spec.isNative =>
        fields += StructField(n, ArrayType(o.spec.nativeReadSchema))
      case (n, a: ArrM) if !n.contains("*") && arrayIsNative(a) =>
        val (en, et) = a.spec.members.head match {
          case (n2, ScalarM(_)) => (n2, StringType: DataType)
          case (n2, o: ObjM)    => (n2, o.spec.nativeReadSchema: DataType)
          case _ => throw new IllegalStateException("unreachable")
        }
        fields += StructField(n,
          ArrayType(StructType(Seq(StructField(en, ArrayType(et))))))
      case _ => // StAX-path member
    }
    StructType(fields.toSeq)
  }

  /** Child-name patterns the StAX extractor must capture. */
  def staxPatterns: Seq[String] = members.collect {
    case (n, ScalarM(_)) if n.contains("*") => n
    case (n, o: ObjM) if n.contains("*") || !o.spec.isNative => n
    case (n, a: ArrM) if n.contains("*") || !arrayIsNative(a) => n
    case (n, _: CustomM) => n
  }.toSeq

  /** Reference dispatch (Parser.cs:166-187): exact name wins over globs;
    * among globs, the LAST registered match wins. */
  def activeCond(memberName: String, tagC: Column): Column =
    if (!memberName.contains("*")) tagC === memberName
    else {
      val i = memberName.indexOf('*')
      val (p, sfx) = (memberName.substring(0, i), memberName.substring(i + 1))
      var cond = tagC.startsWith(p) && tagC.endsWith(sfx)
      val ex = exactNames
      if (ex.nonEmpty) cond = cond && !tagC.isin(ex: _*)
      val globs = globNames
      globs.drop(globs.indexOf(memberName) + 1).foreach { g =>
        val j = g.indexOf('*')
        cond = cond && !(tagC.startsWith(g.substring(0, j)) &&
          tagC.endsWith(g.substring(j + 1)))
      }
      cond
    }
}

// ---------------------------------------------------------------------------
// Phase 1: recording node
// ---------------------------------------------------------------------------

private[xml] final class RecNode(spec: ObjSpec) extends XmlNode {
  private def scalar(name: String): Column = {
    spec.members.getOrElseUpdate(name, ScalarM(name))
    lit(null).cast(StringType)
  }
  override def int(name: String): Column = scalar(name).cast("int")
  override def nullInt(name: String): Column = scalar(name).cast("int")
  override def nullIntStrict(name: String): Column = scalar(name).cast("int")
  override def nullBool(name: String): Column = scalar(name).cast("boolean")
  override def nullDecimal(name: String): Column =
    scalar(name).cast(DecimalType(38, 18))
  override def nullDate(name: String): Column = scalar(name).cast("timestamp")
  override def str(name: String): Column = scalar(name)
  override def attribute(name: String): Column = {
    spec.attrs += name
    lit(null).cast(StringType)
  }
  override def tag: Column = { spec.usesTag = true; lit(null).cast(StringType) }
  override def obj(name: String)(f: XmlNode => Column): Column = {
    val sub = new ObjSpec
    f(new RecNode(sub)) // recurse the recording
    spec.members.update(name, ObjM(name, f, sub))
    lit(null)
  }
  override def array(name: String)(f: XmlNode => Column): Column = {
    val sub = new ObjSpec
    f(new RecNode(sub))
    spec.members.update(name, ArrM(name, f, sub))
    lit(null)
  }
  override def custom(name: String)(f: Column => Column): Column = {
    spec.members.update(name, CustomM(name, f))
    lit(null)
  }
}

// ---------------------------------------------------------------------------
// Phase 2: binding nodes
// ---------------------------------------------------------------------------

private[xml] object Bind {
  val xmlOptions: java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("attributePrefix", "_")
    m.put("mode", "PERMISSIVE")
    m
  }

  /** The per-row record parse for a native read schema:
    * [[XmlFlatParseExpr]], a one-pass byte scanner with per-row fallback
    * to Spark's own XML evaluator, an order of magnitude cheaper than
    * from_xml's per-row Woodstox reader; from_xml itself only for a schema
    * the scanner cannot serve. Either is wrapped in the per-thread parse
    * memo — the DSL references the parsed struct once per bound member,
    * and those references survive as duplicate parses in the optimized
    * Project (see XmlMemoParseExpr). */
  def fx(c: Column, st: StructType): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val parse =
      if (XmlFastScan.FlatSpec.of(st).isDefined)
        XmlFlatParseExpr(ColumnBridge.expression(c), st)
      else ColumnBridge.expression(from_xml(c, st, xmlOptions))
    ColumnBridge.column(XmlMemoParseExpr(parse))
  }

  /** First element's local name of a document/fragment string — for rootless
    * (`fragment`) parsers, ≙ the reference's root-depth bootstrap tag
    * (Parser.cs:123-127). */
  def rootTagOf(xmlC: Column): Column =
    regexp_extract(xmlC, "<([A-Za-z_][A-Za-z0-9_.-]*)", 1)

  /** Bind an obj spec against its raw outer XML (document or extracted
    * child). Chooses native vs StAX path per spec. */
  def bindObj(outer: Column, tagC: Column, m: ObjM): Column = {
    val schema = m.spec.nativeReadSchema
    if (m.spec.isNative)
      m.f(new NativeBindNode(fx(outer, schema), tagC, m.spec))
    else {
      val parsed = if (schema.nonEmpty) fx(outer, schema) else lit(null)
      m.f(new StaxBindNode(outer, parsed, tagC, m.spec))
    }
    }

  /** Bind an obj member from an extracted child struct<tag,xml,value,attrs>.
    * Attr/tag-only specs bind straight off the child's `attrs` map captured
    * during the StAX pass — no from_xml re-parse of the child fragment.
    * Anything needing sub-elements re-parses the child's outer XML. */
  def bindKidObj(ch: Column, m: ObjM): Column =
    if (m.spec.members.isEmpty)
      m.f(new KidAttrBindNode(ch, m.spec))
    else bindObj(ch.getField("xml"), ch.getField("tag"), m)

  /** Which extracted-child fields an AltBindNode over `spec` can read:
    * (needOuter, needValue). Scalar alternatives read `value`; obj
    * alternatives with element members, arrays, and custom members
    * re-parse `xml`; attr/tag-only objs read neither — the extractor
    * then skips serialization entirely (tag+attrs + subtree skip). */
  private[xml] def altKidNeeds(spec: ObjSpec): (Boolean, Boolean) = {
    var needOuter = false
    var needValue = false
    spec.members.values.foreach {
      case _: ScalarM => needValue = true
      case o: ObjM    => if (o.spec.members.nonEmpty) needOuter = true
      case _: ArrM    => needOuter = true
      case _: CustomM => needOuter = true
    }
    (needOuter, needValue)
  }

  /** Same for the children a StaxBindNode pulls through firstKid — exact
    * scalars bind natively off the native parse (never from the
    * extraction), so only glob scalars pull `value`; the obj/array
    * conditions mirror the StaxBindNode dispatch exactly
    * (over-approximation is safe, an under-approximation would serve ""
    * to a live consumer). Arrays that bind natively OR through the fused
    * container descent ([[bindArrayAt]] — exact name, no container attrs)
    * never pull the container's outer through firstKid at all. */
  private[xml] def staxKidNeeds(spec: ObjSpec): (Boolean, Boolean) = {
    var needOuter = false
    var needValue = false
    spec.members.foreach {
      case (n, _: ScalarM) => if (n.contains("*")) needValue = true
      case (n, o: ObjM) =>
        if ((n.contains("*") || !o.spec.isNative) && o.spec.members.nonEmpty)
          needOuter = true
      case (n, a: ArrM) =>
        if (n.contains("*") || a.spec.attrs.nonEmpty) needOuter = true
      case (_, _: CustomM) => needOuter = true
    }
    (needOuter, needValue)
  }

  /** Array semantics over a container's outer XML: one combined value per
    * matching child, document order (Parser.cs:257-316). */
  def bindArray(containerOuter: Column, m: ArrM): Column = {
    val (needOuter, needValue) = altKidNeeds(m.spec)
    val kids = xml_children(containerOuter, m.spec.members.keys.toSeq,
      fromRoot = true, needOuter, needValue)
    val containerAttrs: Option[Column] =
      if (m.spec.attrs.isEmpty) None
      else Some(fx(containerOuter, StructType(
        m.spec.attrs.toSeq.map(a => StructField("_" + a, StringType)))))
    transform(kids,
      ch => m.f(new AltBindNode(ch, m.spec, containerAttrs)))
  }

  /** Fused form of `firstKid(container) -> bindArray(outer)`: the
    * container's matching children are extracted straight from the
    * document in ONE StAX pass ([[XmlChildrenAtExpr]]), never serializing
    * and re-parsing the container's outer XML. Valid whenever the
    * container name is exact and no container-attribute broadcast is
    * needed (attrs would require the container's own attributes, which
    * the descent does not capture). Null when the container is absent —
    * the `when(ch.isNotNull, …)` semantics of the two-pass form. */
  def bindArrayAt(docOuter: Column, m: ArrM): Column = {
    val (needOuter, needValue) = altKidNeeds(m.spec)
    val kids = xml_children_at(docOuter, m.name, m.spec.members.keys.toSeq,
      needOuter, needValue)
    transform(kids, ch => m.f(new AltBindNode(ch, m.spec, None)))
  }

  /** Native array member binding (single exact alternative). */
  def bindNativeArray(containerFirst: Column, m: ArrM): Column = {
    val (elemName, elemMember) = m.spec.members.head
    val elemType: DataType = elemMember match {
      case ScalarM(_) => StringType
      case o: ObjM    => o.spec.nativeReadSchema
      case _          => throw new IllegalStateException("unreachable")
    }
    val inner = containerFirst.getField(elemName)
    // absent container -> null; present-but-empty -> empty array
    // (Parser.cs:289-295, SURVEY.md §1.2)
    val elems = coalesce(inner, array().cast(ArrayType(elemType)))
    when(containerFirst.isNotNull,
      transform(elems, x => elemMember match {
        case ScalarM(_) =>
          // single scalar alternative: λ sees the element's own value
          m.f(new NativeAltScalarNode(elemName, x, m.spec))
        case o: ObjM =>
          m.f(new NativeAltObjNode(elemName, x, o, m.spec))
        case _ => throw new IllegalStateException("unreachable")
      }))
  }
}

private[xml] abstract class BaseBindNode(spec: ObjSpec) extends XmlNode {
  protected def scalarRaw(name: String): Column
  protected def attrRaw(name: String): Column
  protected def objBound(m: ObjM): Column
  protected def arrBound(m: ArrM): Column
  protected def customBound(m: CustomM): Column

  private def member[T <: Member](name: String): Member =
    spec.members.getOrElse(name, throw new IllegalStateException(
      s"graft.xml: '$name' not registered during recording — the parser " +
        "lambda must be deterministic (same accessor calls in both phases)"))

  override def int(name: String): Column = XmlValues.intStrict(scalarRaw(name))
  override def nullInt(name: String): Column = XmlValues.nullInt(scalarRaw(name))
  override def nullIntStrict(name: String): Column =
    XmlValues.nullIntStrict(scalarRaw(name))
  override def nullBool(name: String): Column =
    XmlValues.nullBool(scalarRaw(name))
  override def nullDecimal(name: String): Column =
    XmlValues.nullDecimal(scalarRaw(name))
  override def nullDate(name: String): Column =
    XmlValues.nullDate(scalarRaw(name))
  override def str(name: String): Column = XmlValues.str(scalarRaw(name))
  override def attribute(name: String): Column = attrRaw(name)
  override def obj(name: String)(f: XmlNode => Column): Column =
    objBound(member(name).asInstanceOf[ObjM])
  override def array(name: String)(f: XmlNode => Column): Column =
    arrBound(member(name).asInstanceOf[ArrM])
  override def custom(name: String)(f: Column => Column): Column =
    customBound(member(name).asInstanceOf[CustomM])
}

/** Fully-native binding: `parsed` is the struct the native parse
  * ([[Bind.fx]]) produces with this spec's nativeReadSchema. */
private[xml] final class NativeBindNode(parsed: Column, tagC: Column,
    spec: ObjSpec) extends BaseBindNode(spec) {
  override def tag: Column = tagC
  override protected def scalarRaw(name: String): Column =
    get(parsed.getField(name), lit(0)) // first-wins (Parser.cs:226-227)
  override protected def attrRaw(name: String): Column =
    parsed.getField("_" + name)
  override protected def objBound(m: ObjM): Column = {
    val sub = get(parsed.getField(m.name), lit(0))
    when(sub.isNotNull,
      m.f(new NativeBindNode(sub, lit(m.name), m.spec)))
  }
  override protected def arrBound(m: ArrM): Column =
    Bind.bindNativeArray(get(parsed.getField(m.name), lit(0)), m)
  override protected def customBound(m: CustomM): Column =
    throw new IllegalStateException(
      "graft.xml: custom() requires the StAX path (unreachable natively)")
}

/** StAX-path binding: exact members bind natively via the pre-built
  * `parsed` struct (the native parse of the outer XML); wildcard/custom/
  * heterogeneous members bind through the codegen'd first-match
  * expression ([[XmlFirstChildExpr]] — one extraction per row, through
  * [[XmlChildrenExpr.evalJava]] and the row memo, shared by every member;
  * no interpreted HOF filters). */
private[xml] final class StaxBindNode(outer: Column, parsed: Column,
    tagC: Column, spec: ObjSpec) extends BaseBindNode(spec) {

  // one extraction serves every member of this spec (shared memo key), so
  // the capture flags are the UNION of all members' needs
  private lazy val kidNeeds: (Boolean, Boolean) = Bind.staxKidNeeds(spec)

  private def firstKid(name: String): Column = {
    val globs = spec.globNames
    val later =
      if (name.contains("*")) globs.drop(globs.indexOf(name) + 1) else Nil
    org.apache.spark.sql.graft.ColumnBridge.column(
      XmlFirstChildExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(outer),
        spec.staxPatterns, fromRoot = true, name, spec.exactNames, later,
        kidNeeds._1, kidNeeds._2))
  }

  override def tag: Column = tagC
  override protected def scalarRaw(name: String): Column =
    if (name.contains("*")) firstKid(name).getField("value")
    else get(parsed.getField(name), lit(0))
  override protected def attrRaw(name: String): Column =
    parsed.getField("_" + name)
  override protected def objBound(m: ObjM): Column =
    if (!m.name.contains("*") && m.spec.isNative) {
      val sub = get(parsed.getField(m.name), lit(0))
      when(sub.isNotNull, m.f(new NativeBindNode(sub, lit(m.name), m.spec)))
    } else {
      val ch = firstKid(m.name)
      when(ch.isNotNull, Bind.bindKidObj(ch, m))
    }
  override protected def arrBound(m: ArrM): Column =
    if (!m.name.contains("*") && spec.arrayIsNative(m) && m.spec.attrs.isEmpty) {
      Bind.bindNativeArray(get(parsed.getField(m.name), lit(0)), m)
    } else if (!m.name.contains("*") && m.spec.attrs.isEmpty) {
      Bind.bindArrayAt(outer, m) // fused one-pass container descent
    } else {
      val ch = firstKid(m.name)
      when(ch.isNotNull, Bind.bindArray(ch.getField("xml"), m))
    }
  override protected def customBound(m: CustomM): Column = {
    val ch = firstKid(m.name)
    when(ch.isNotNull, m.f(ch.getField("xml")))
  }
}

/** Array-element ("alternatives") binding: accessors dispatch on the child's
  * OWN tag (Parser.cs:257-316, Test1.cs:187-209). `ch` is one
  * struct<tag,xml,value> from xml_children. */
private[xml] final class AltBindNode(ch: Column, spec: ObjSpec,
    containerAttrs: Option[Column]) extends BaseBindNode(spec) {
  private def active(name: String): Column =
    spec.activeCond(name, ch.getField("tag"))
  override def tag: Column = ch.getField("tag")
  override protected def scalarRaw(name: String): Column =
    when(active(name), ch.getField("value"))
  override protected def attrRaw(name: String): Column =
    containerAttrs match {
      // container attributes broadcast to every element (Parser.cs:284-287)
      case Some(a) => a.getField("_" + name)
      case None    => lit(null).cast(StringType)
    }
  override protected def objBound(m: ObjM): Column =
    when(active(m.name), Bind.bindKidObj(ch, m))
  override protected def arrBound(m: ArrM): Column =
    when(active(m.name), Bind.bindArray(ch.getField("xml"), m))
  override protected def customBound(m: CustomM): Column =
    when(active(m.name), m.f(ch.getField("xml")))
}

/** Attr/tag-only obj bind over an extracted child struct — reads the `attrs`
  * map the StAX pass already captured; no element members exist in the spec,
  * so no re-parse of the child fragment is needed. */
private[xml] final class KidAttrBindNode(ch: Column, spec: ObjSpec)
  extends BaseBindNode(spec) {
  override def tag: Column = ch.getField("tag")
  override protected def attrRaw(name: String): Column =
    try_element_at(ch.getField("attrs"), lit(name))
  override protected def scalarRaw(name: String): Column =
    throw new IllegalStateException("unreachable: attr-only spec")
  override protected def objBound(m: ObjM): Column =
    throw new IllegalStateException("unreachable: attr-only spec")
  override protected def arrBound(m: ArrM): Column =
    throw new IllegalStateException("unreachable: attr-only spec")
  override protected def customBound(m: CustomM): Column =
    throw new IllegalStateException("unreachable: attr-only spec")
}

/** Native array with a single scalar alternative: `x` is the element's raw
  * string content. */
private[xml] final class NativeAltScalarNode(elemName: String, x: Column,
    spec: ObjSpec) extends BaseBindNode(spec) {
  override def tag: Column = lit(elemName)
  override protected def scalarRaw(name: String): Column =
    if (name == elemName) x else lit(null).cast(StringType)
  override protected def attrRaw(name: String): Column =
    lit(null).cast(StringType)
  override protected def objBound(m: ObjM): Column =
    throw new IllegalStateException("unreachable: scalar-only native array")
  override protected def arrBound(m: ArrM): Column =
    throw new IllegalStateException("unreachable: scalar-only native array")
  override protected def customBound(m: CustomM): Column =
    throw new IllegalStateException("unreachable: scalar-only native array")
}

/** Native array with a single native-obj alternative: `x` is the element's
  * parsed struct. */
private[xml] final class NativeAltObjNode(elemName: String, x: Column,
    objM: ObjM, spec: ObjSpec) extends BaseBindNode(spec) {
  override def tag: Column = lit(elemName)
  override protected def scalarRaw(name: String): Column =
    lit(null).cast(StringType)
  override protected def attrRaw(name: String): Column =
    lit(null).cast(StringType)
  override protected def objBound(m: ObjM): Column =
    if (m.name == elemName)
      m.f(new NativeBindNode(x, lit(elemName), m.spec))
    else lit(null)
  override protected def arrBound(m: ArrM): Column =
    throw new IllegalStateException("unreachable: single-obj native array")
  override protected def customBound(m: CustomM): Column =
    throw new IllegalStateException("unreachable: single-obj native array")
}

// ---------------------------------------------------------------------------
// Public API
// ---------------------------------------------------------------------------

/** Compiled parser — ≙ the reference's `Func<XmlReader,T>` (Parser.cs:335-345)
  * but producing Catalyst Columns / DataFrames. */
final class CompiledXmlParser private[xml] (
    rootTag: Option[String],
    spec: ObjSpec,
    combine: XmlNode => Column,
    asArray: Option[ArrM]) {

  /** The native read schema (for inspection / the XML file source). */
  def readSchema: StructType = spec.nativeReadSchema

  /** True when the whole spec runs on the native XML source (no custom
    * expression in the plan). */
  def isFullyNative: Boolean = asArray.isEmpty && spec.isNative

  /** Parse a raw XML string column (whole document or element fragment).
    *
    * Duplicate evaluation note: the bound projection references the per-row
    * parses from several member expressions, often under `when` branches
    * where Spark's codegen subexpression elimination does not apply; the
    * parse and extraction expressions therefore share a per-thread row
    * memo ([[XmlRowMemo]]) that makes same-row re-evaluation O(1). */
  def parse(xmlCol: Column): Column = {
    val x = trim(xmlCol)
    val tagC = rootTag.map(lit(_)).getOrElse(Bind.rootTagOf(x))
    asArray match {
      case Some(m) => when(x.isNotNull, Bind.bindArray(x, m))
      case None =>
        when(x.isNotNull,
          Bind.bindObj(x, tagC,
            ObjM(rootTag.getOrElse("<fragment>"), combine, spec)))
    }
  }

  /** Batch table scan over XML files — one row per `rowTag` element
    * (≙ CreateArrayParser over a file, Parser.cs:341-345).
    *
    * Every spec reads through the `graft-xml` FileFormat — the splittable
    * rowTag scanner surfaced as a data source (the distributed form of the
    * reference's glob dispatch, Parser.cs:175-187; FileSourceScan sizes
    * splits as max(openCost, totalBytes/parallelism), so one big file fans
    * out across cores without manual split tuning) — then binds each
    * record via `parse()`: native specs parse with `xml_flat_parse`,
    * wildcard/custom specs with the StAX expressions. Returns one `parsed`
    * column. */
  def read(spark: SparkSession, path: String): DataFrame = {
    require(asArray.isEmpty, "read() needs a struct parser; array parsers " +
      "consume a container element — use parse() on a string column")
    require(rootTag.nonEmpty, "read() needs a rootTag (XmlParser.struct)")
    // ALL specs read through the graft-xml rowTag scan, then bind via
    // parse() — which itself picks the native parse path for native
    // specs, so per-record parsing stays codegen'd. Routing native specs
    // through Spark's built-in XML FILE source instead is NOT safe: with
    // multiple root-level records per file (the rootless shape our writer
    // emits and the reference parses, Test1.cs:128-133) it returns the
    // FIRST record plus one corrupt-record row for the remainder of the
    // file. The rowTag scanner handles rooted and rootless files alike
    // and keeps big files splittable.
    spark.read.format("graft-xml")
      .option("rowTag", rootTag.get)
      .load(path)
      .select(parse(col("value")).as("parsed"))
  }

  /** Structured-streaming variant of [[read]] — the incremental realization
    * of the reference's forward-only contract (SURVEY.md §7.1). Same
    * routing as [[read]]: the `graft-xml` scan splits files into rowTag
    * records, `parse()` binds each (native parse or StAX per spec); the
    * reference applies its glob dispatch to any input (Parser.cs:175-187),
    * so the streaming surface must too.
    *
    * MEMORY: the `graft-xml` FileFormat scans byte-range SPLITS — a 10 GB
    * drop file becomes ~80 independent 128 MB-split tasks holding one
    * record each at a time, never a wholetext string (the pre-round-5 OOM
    * ceiling). Compressed files decode through their codec as one split
    * per file. */
  def readStream(spark: SparkSession, path: String): DataFrame = {
    require(asArray.isEmpty && rootTag.nonEmpty,
      "readStream() has the same constraints as read()")
    // Same routing as read(), for the same reason: the built-in XML file
    // source mis-handles rootless multi-record files (first record + one
    // corrupt row per file); the rowTag scan is shape-agnostic. File
    // stream sources require an explicit schema; graft-xml's is fixed
    // (value: string), one row per rowTag element.
    spark.readStream.format("graft-xml")
      .option("rowTag", rootTag.get)
      .schema(org.apache.spark.sql.graft.XmlRowTagFileFormat.schema)
      .load(path)
      .select(parse(col("value")).as("parsed"))
  }
}

object XmlParser {

  /** ≙ `CreateParser(q => q.Type(rootTag, f))` (Test1.cs:43). */
  def struct(rootTag: String)(f: XmlNode => Column): CompiledXmlParser = {
    val spec = new ObjSpec
    f(new RecNode(spec))
    new CompiledXmlParser(Some(rootTag), spec, f, None)
  }

  /** Rootless parser (≙ `CreateParser` without a `Type` wrapper,
    * Test1.cs:128-133): applies to whatever element the input string roots.
    * `tag` binds to the actual root tag. */
  def fragment(f: XmlNode => Column): CompiledXmlParser = {
    val spec = new ObjSpec
    f(new RecNode(spec))
    new CompiledXmlParser(None, spec, f, None)
  }

  /** ≙ `CreateArrayParser` (Parser.cs:341-345): parse() returns an array
    * Column with one combined value per matching child of the input's root
    * element, in document order. */
  def array(f: XmlNode => Column): CompiledXmlParser = {
    val spec = new ObjSpec
    f(new RecNode(spec))
    val m = ArrM("<root>", f, spec)
    new CompiledXmlParser(None, spec, f, Some(m))
  }
}
