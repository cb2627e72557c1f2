package graft.xml

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CommonExpressionDef,
  CommonExpressionId, CommonExpressionRef, Expression,
  UnresolvedNamedLambdaVariable, With, XmlToStructs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.xml.XmlFastScan.{AttrF, FlatSpec, ObjF, ScalarF}

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
/** A scalar child, with the [[XmlValues]] parsers its accessors read it by. */
private[xml] final case class ScalarM(name: String,
    parsers: mutable.LinkedHashSet[Int] = mutable.LinkedHashSet.empty[Int])
  extends Member
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
        case (n, _: ScalarM)     => !n.contains("*")
        case (n, o: ObjM)        => !n.contains("*") && o.spec.isNative
        case _                   => false
      })

  /** Whole spec expressible as one native read schema. */
  def isNative: Boolean = members.forall {
    case (n, _: ScalarM) => !n.contains("*")
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
      case (n, _: ScalarM) if !n.contains("*") =>
        fields += StructField(n, ArrayType(StringType))
      case (n, o: ObjM) if !n.contains("*") && o.spec.isNative =>
        fields += StructField(n, ArrayType(o.spec.nativeReadSchema))
      case (n, a: ArrM) if !n.contains("*") && arrayIsNative(a) =>
        val (en, et) = a.spec.members.head match {
          case (n2, _: ScalarM) => (n2, StringType: DataType)
          case (n2, o: ObjM)    => (n2, o.spec.nativeReadSchema: DataType)
          case _ => throw new IllegalStateException("unreachable")
        }
        fields += StructField(n,
          ArrayType(StructType(Seq(StructField(en, ArrayType(et))))))
      case _ => // StAX-path member
    }
    StructType(fields.toSeq)
  }

  /** The typed parse of [[nativeReadSchema]]'s fields, in its order: each
    * exact scalar read by its parsers (a strict one as `str`,
    * [[XmlValues.typedBy]]), each native obj and each native
    * array's container as its first occurrence's struct (a container's
    * elements: all of them, scalars as strings). */
  def typedSpec: FlatSpec = FlatSpec(attrs.toSeq.map(AttrF(_)) ++
    members.toSeq.collect {
      case (n, s: ScalarM) if !n.contains("*") =>
        ScalarF(n, s.parsers.toSeq.map(XmlValues.typedBy).distinct)
      case (n, o: ObjM) if !n.contains("*") && o.spec.isNative =>
        ObjF(n, o.spec.typedSpec, first = true)
      case (n, a: ArrM) if !n.contains("*") && arrayIsNative(a) =>
        val elem = a.spec.members.head match {
          case (en, o: ObjM) => ObjF(en, o.spec.typedSpec)
          case (en, _)       => ScalarF(en)
        }
        ObjF(n, FlatSpec(Seq(elem)), first = true)
    })

  /** Child-name patterns the StAX extractor must capture. */
  def staxPatterns: Seq[String] = members.collect {
    case (n, _: ScalarM) if n.contains("*") => n
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
  private def scalar(name: String, parser: Int): Column = {
    spec.members.getOrElseUpdate(name, ScalarM(name)) match {
      case s: ScalarM => s.parsers += parser
      case _          =>
    }
    lit(null).cast(XmlValues.dataType(parser))
  }
  override def int(name: String): Column = scalar(name, XmlValues.IntStrict)
  override def nullInt(name: String): Column = scalar(name, XmlValues.NullInt)
  override def nullIntStrict(name: String): Column =
    scalar(name, XmlValues.NullIntStrict)
  override def nullBool(name: String): Column =
    scalar(name, XmlValues.NullBool)
  override def nullDecimal(name: String): Column =
    scalar(name, XmlValues.NullDecimal)
  override def nullDate(name: String): Column =
    scalar(name, XmlValues.nullDateParser)
  override def str(name: String): Column = scalar(name, XmlValues.Str)
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
  val xmlOptions: Map[String, String] =
    Map("attributePrefix" -> "_", "mode" -> "PERMISSIVE")

  /** The bindings of the `parse()` call being bound on this thread, so a
    * `custom` member's parser, called from inside it, joins them. */
  val current = new scala.util.DynamicVariable[Bind](null)

  /** First element's local name of a document/fragment string — for rootless
    * (`fragment`) parsers, ≙ the reference's root-depth bootstrap tag
    * (Parser.cs:123-127). */
  def rootTagOf(xmlC: Column): Column =
    regexp_extract(xmlC, "<([A-Za-z_][A-Za-z0-9_.-]*)", 1)

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
    * container descent ([[Bind.bindArrayAt]] — exact name, no container
    * attrs) never pull the container's outer through firstKid at all. */
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

  /** Native array member binding (single exact alternative);
    * `containerFirst` is the container's typed struct ([[ObjSpec.typedSpec]]). */
  def bindNativeArray(containerFirst: Column, m: ArrM): Column = {
    val (elemName, elemMember) = m.spec.members.head
    val elemType: DataType = elemMember match {
      case _: ScalarM => StringType
      case o: ObjM    => o.spec.typedSpec.schema
      case _          => throw new IllegalStateException("unreachable")
    }
    val inner = containerFirst.getField(elemName)
    // absent container -> null; present-but-empty -> empty array
    // (Parser.cs:289-295, SURVEY.md §1.2)
    val elems = coalesce(inner, array().cast(ArrayType(elemType)))
    when(containerFirst.isNotNull,
      transform(elems, x => elemMember match {
        case _: ScalarM =>
          // single scalar alternative: λ sees the element's own value
          m.f(new NativeAltScalarNode(elemName, x, m.spec))
        case o: ObjM =>
          m.f(new NativeAltObjNode(elemName, x, o, m.spec))
        case _ => throw new IllegalStateException("unreachable")
      }))
  }
}

/** The bindings of one `parse()` call. Each per-row parse, and each
  * extraction the members of a StAX-path spec share, is bound once: a
  * `CommonExpressionDef` that every member reads through a
  * `CommonExpressionRef`, typed before analysis by the read schema or by
  * the extraction's `outType`. [[close]] wraps the bound column in Catalyst
  * `With`s, and Spark's own "Rewrite With expression" batch evaluates each
  * def once per row in a Project below the one that reads it, in every
  * session, with or without `GraftExtensions`; a def read once is inlined
  * at its reference. */
private[xml] final class Bind {
  import org.apache.spark.sql.graft.ColumnBridge.{column, tree}

  private val defs = mutable.LinkedHashMap.empty[CommonExpressionId,
    CommonExpressionDef]

  /** `e`, bound once per row. An expression over a `transform` lambda's
    * element stays inline: it cannot be evaluated outside the lambda, so
    * each of its references evaluates it. */
  def once(e: Expression): Column =
    if (e.exists(_.isInstanceOf[UnresolvedNamedLambdaVariable])) column(e)
    else {
      val d = CommonExpressionDef(e)
      defs(d.id) = d
      column(new CommonExpressionRef(d))
    }

  /** `c` as the input of an XML expression. The refs it reads are bound
    * in a local `With` as well, so the expression also evaluates on its
    * own (the `xmlbench` harness replays each XML expression's input over
    * the records). Under the enclosing `With`s Spark has made those refs
    * attributes of a Project below by the time it reaches the local one,
    * which then binds nothing. */
  def input(c: Column): Expression = {
    val e = tree(c)
    val read = e.collect { case r: CommonExpressionRef => r.id }.toSet
    val local = defs.values.filter(d => read(d.id)).toSeq
    if (local.isEmpty) e else With(e, local)
  }

  /** An XML expression over `c` that may be referenced once: bound once
    * when its input reads a def. Inline, its local `With` could sit in a
    * `when` branch, where Spark inlines that `With` before the enclosing
    * one binds the def, and the def would run twice. */
  private def site(c: Column)(f: Expression => Expression): Column = {
    val in = input(c)
    if (in.isInstanceOf[With]) once(f(in)) else column(f(in))
  }

  /** `body` with this call's defs bound: one `With` per dependency level,
    * outermost first, since a def that reads another def's ref is
    * rewritten only once that ref is an attribute of the Project below. */
  def close(body: Column): Column = {
    val levels = mutable.HashMap.empty[CommonExpressionId, Int]
    def level(d: CommonExpressionDef): Int = levels.getOrElseUpdate(d.id,
      1 + d.child.collect {
        case r: CommonExpressionRef if defs.contains(r.id) => level(defs(r.id))
      }.maxOption.getOrElse(0))
    column(defs.values.toSeq.groupBy(level).toSeq.sortBy(-_._1)
      .foldLeft(tree(body)) { case (b, (_, ds)) => With(b, ds) })
  }

  /** The per-row record parse for a native read schema:
    * [[XmlFlatParseExpr]], a one-pass byte scanner with per-row fallback
    * to Spark's own XML evaluator, an order of magnitude cheaper than
    * from_xml's per-row Woodstox reader; from_xml (`XmlToStructs`) itself
    * only for a schema the scanner cannot serve. */
  private def parseOf(c: Column, st: StructType): Expression =
    if (XmlFastScan.FlatSpec.of(st).isDefined) XmlFlatParseExpr(input(c), st)
    else XmlToStructs(st, Bind.xmlOptions, input(c))

  /** The per-row typed parse of `spec`'s native fields, bound once
    * ([[XmlTypedParseExpr]]): the members read its fields as they are. */
  def typedParse(c: Column, spec: ObjSpec): Column = {
    val ts = spec.typedSpec
    once(XmlTypedParseExpr(parseOf(c, spec.nativeReadSchema), ts,
      ts.parsersUsed.filter(_ != XmlValues.Str).map(XmlValues.cell)))
  }

  /** Bind an obj spec against its raw outer XML (document or extracted
    * child). Chooses native vs StAX path per spec. */
  def bindObj(outer: Column, tagC: Column, m: ObjM): Column =
    if (m.spec.isNative)
      m.f(new NativeBindNode(typedParse(outer, m.spec), tagC, m.spec))
    else {
      val parsed =
        if (m.spec.nativeReadSchema.nonEmpty) typedParse(outer, m.spec)
        else lit(null)
      m.f(new StaxBindNode(outer, parsed, tagC, m.spec, this))
    }

  /** Bind an obj member from an extracted child struct<tag,xml,value,attrs>.
    * Attr/tag-only specs bind straight off the child's `attrs` map captured
    * during the StAX pass — no from_xml re-parse of the child fragment.
    * Anything needing sub-elements re-parses the child's outer XML. */
  def bindKidObj(ch: Column, m: ObjM): Column =
    if (m.spec.members.isEmpty)
      m.f(new KidAttrBindNode(ch, m.spec))
    else bindObj(ch.getField("xml"), ch.getField("tag"), m)

  /** Array semantics over a container's outer XML: one combined value per
    * matching child, document order (Parser.cs:257-316). */
  def bindArray(containerOuter: Column, m: ArrM): Column = {
    val (needOuter, needValue) = Bind.altKidNeeds(m.spec)
    val kids = site(containerOuter)(XmlChildrenExpr(_,
      m.spec.members.keys.toSeq, fromRoot = true, needOuter, needValue))
    def bound(containerAttrs: Option[Column]) = transform(kids,
      ch => m.f(new AltBindNode(ch, m.spec, containerAttrs, this)))
    if (m.spec.attrs.isEmpty) bound(None)
    else {
      // the container's attributes reach the elements as the variable of
      // a one-element transform, so their parse runs once per row: read in
      // the element lambda, a def read once is inlined there and runs per
      // element. The optimizer folds `array(x)[0]` back into `x`, and
      // PushLambdaThroughGetItem rewrites `get`; neither touches this form
      val attrsOnly = new ObjSpec
      attrsOnly.attrs ++= m.spec.attrs
      val attrs = typedParse(containerOuter, attrsOnly)
      element_at(transform(array_repeat(attrs, 1), a => bound(Some(a))), 1)
    }
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
    val (needOuter, needValue) = Bind.altKidNeeds(m.spec)
    val kids = site(docOuter)(XmlChildrenAtExpr(_, m.name,
      m.spec.members.keys.toSeq, needOuter, needValue))
    transform(kids, ch => m.f(new AltBindNode(ch, m.spec, None, this)))
  }
}

private[xml] abstract class BaseBindNode(spec: ObjSpec) extends XmlNode {
  /** The raw string of scalar `name`, for nodes over strings. */
  protected def scalarRaw(name: String): Column
  protected def attrRaw(name: String): Column
  protected def objBound(m: ObjM): Column
  protected def arrBound(m: ArrM): Column
  protected def customBound(m: CustomM): Column

  private def member[T <: Member](name: String): Member =
    spec.members.getOrElse(name, throw new IllegalStateException(
      s"graft.xml: '$name' not registered during recording — the parser " +
        "lambda must be deterministic (same accessor calls in both phases)"))

  /** Scalar `name` read by `parser`: the raw string through
    * [[XmlValues.parse]], unless the node reads a typed parse. */
  protected def scalar(name: String, parser: Int): Column =
    XmlValues.parse(parser, scalarRaw(name))

  /** Scalar `name` read by `parser` (which the recording registered) from
    * the typed parse `parsed`: its field, or for a strict parser the
    * string field through [[XmlValues.parse]]. */
  protected def typedField(parsed: Column, name: String,
      parser: Int): Column = member(name) match {
    case s: ScalarM if s.parsers.exists(XmlValues.current(_) == parser) =>
      val by = XmlValues.typedBy(parser)
      val f = parsed.getField(XmlFastScan.typedName(name, by))
      if (by == parser) f else XmlValues.parse(parser, f)
    case _ => throw new IllegalStateException(s"graft.xml: '$name' read as " +
      s"${XmlValues.parserNames(parser)} but not recorded so — the parser " +
      "lambda must be deterministic (same accessor calls in both phases)")
  }

  override def int(name: String): Column = scalar(name, XmlValues.IntStrict)
  override def nullInt(name: String): Column = scalar(name, XmlValues.NullInt)
  override def nullIntStrict(name: String): Column =
    scalar(name, XmlValues.NullIntStrict)
  override def nullBool(name: String): Column =
    scalar(name, XmlValues.NullBool)
  override def nullDecimal(name: String): Column =
    scalar(name, XmlValues.NullDecimal)
  override def nullDate(name: String): Column =
    scalar(name, XmlValues.nullDateParser)
  override def str(name: String): Column = scalar(name, XmlValues.Str)
  override def attribute(name: String): Column = attrRaw(name)
  override def obj(name: String)(f: XmlNode => Column): Column =
    objBound(member(name).asInstanceOf[ObjM])
  override def array(name: String)(f: XmlNode => Column): Column =
    arrBound(member(name).asInstanceOf[ArrM])
  override def custom(name: String)(f: Column => Column): Column =
    customBound(member(name).asInstanceOf[CustomM])
}

/** Fully-native binding: `parsed` is the typed struct
  * ([[Bind.typedParse]]) of this spec's [[ObjSpec.typedSpec]], whose
  * scalars, objs and array containers are already the first occurrence's
  * (first-wins, Parser.cs:226-227). */
private[xml] final class NativeBindNode(parsed: Column, tagC: Column,
    spec: ObjSpec) extends BaseBindNode(spec) {
  override def tag: Column = tagC
  override protected def scalarRaw(name: String): Column =
    throw new IllegalStateException("unreachable: typed scalars")
  override protected def scalar(name: String, parser: Int): Column =
    typedField(parsed, name, parser)
  override protected def attrRaw(name: String): Column =
    parsed.getField("_" + name)
  override protected def objBound(m: ObjM): Column = {
    val sub = parsed.getField(m.name)
    when(sub.isNotNull,
      m.f(new NativeBindNode(sub, lit(m.name), m.spec)))
  }
  override protected def arrBound(m: ArrM): Column =
    Bind.bindNativeArray(parsed.getField(m.name), m)
  override protected def customBound(m: CustomM): Column =
    throw new IllegalStateException(
      "graft.xml: custom() requires the StAX path (unreachable natively)")
}

/** StAX-path binding: exact members bind natively via the pre-built
  * `parsed` struct (the typed parse of the outer XML); wildcard/custom/
  * heterogeneous members each pick their first matching child
  * ([[XmlPickChildExpr]]) from one extraction of the outer XML
  * ([[XmlChildrenExpr]]) that `b` binds once for the whole spec — no
  * interpreted HOF filters. */
private[xml] final class StaxBindNode(outer: Column, parsed: Column,
    tagC: Column, spec: ObjSpec, b: Bind) extends BaseBindNode(spec) {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  // one extraction serves every member of this spec, so the capture flags
  // are the UNION of all members' needs
  private lazy val kids: Column = {
    val (needOuter, needValue) = Bind.staxKidNeeds(spec)
    b.once(XmlChildrenExpr(b.input(outer), spec.staxPatterns,
      fromRoot = true, needOuter, needValue))
  }

  private def firstKid(name: String): Column = {
    val globs = spec.globNames
    val later =
      if (name.contains("*")) globs.drop(globs.indexOf(name) + 1) else Nil
    column(XmlPickChildExpr(expression(kids), name, spec.exactNames, later))
  }

  override def tag: Column = tagC
  override protected def scalarRaw(name: String): Column =
    firstKid(name).getField("value")
  override protected def scalar(name: String, parser: Int): Column =
    if (name.contains("*")) super.scalar(name, parser)
    else typedField(parsed, name, parser)
  override protected def attrRaw(name: String): Column =
    parsed.getField("_" + name)
  override protected def objBound(m: ObjM): Column =
    if (!m.name.contains("*") && m.spec.isNative) {
      val sub = parsed.getField(m.name)
      when(sub.isNotNull, m.f(new NativeBindNode(sub, lit(m.name), m.spec)))
    } else {
      val ch = firstKid(m.name)
      when(ch.isNotNull, b.bindKidObj(ch, m))
    }
  override protected def arrBound(m: ArrM): Column =
    if (!m.name.contains("*") && spec.arrayIsNative(m) && m.spec.attrs.isEmpty) {
      Bind.bindNativeArray(parsed.getField(m.name), m)
    } else if (!m.name.contains("*") && m.spec.attrs.isEmpty) {
      b.bindArrayAt(outer, m) // fused one-pass container descent
    } else {
      val ch = firstKid(m.name)
      when(ch.isNotNull, b.bindArray(ch.getField("xml"), m))
    }
  override protected def customBound(m: CustomM): Column = {
    val ch = firstKid(m.name)
    when(ch.isNotNull, m.f(ch.getField("xml")))
  }
}

/** Array-element ("alternatives") binding: accessors dispatch on the child's
  * OWN tag (Parser.cs:257-316, Test1.cs:187-209). `ch` is one
  * struct<tag,xml,value,attrs> from xml_children. */
private[xml] final class AltBindNode(ch: Column, spec: ObjSpec,
    containerAttrs: Option[Column], b: Bind) extends BaseBindNode(spec) {
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
    when(active(m.name), b.bindKidObj(ch, m))
  override protected def arrBound(m: ArrM): Column =
    when(active(m.name), b.bindArray(ch.getField("xml"), m))
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
  * typed struct. */
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
    * The bound projection reads each per-row parse and shared extraction
    * from several member expressions, often under `when` branches where
    * Spark's subexpression elimination does not apply; the column binds
    * each of them once in a Catalyst `With` ([[Bind]]), so it runs once per
    * row. A parse over a `transform` lambda's element (an array element
    * holding a non-attribute obj) runs once per reference. */
  def parse(xmlCol: Column): Column = Bind.current.value match {
    case null =>
      val b = new Bind
      b.close(Bind.current.withValue(b)(bind(xmlCol, b)))
    // a `custom` member's parser: its parses join the enclosing call's
    case b => bind(xmlCol, b)
  }

  private def bind(xmlCol: Column, b: Bind): Column = {
    val x = trim(xmlCol)
    val tagC = rootTag.map(lit(_)).getOrElse(Bind.rootTagOf(x))
    asArray match {
      case Some(m) => when(x.isNotNull, b.bindArray(x, m))
      case None =>
        when(x.isNotNull,
          b.bindObj(x, tagC,
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
