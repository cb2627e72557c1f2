package graft.xml

import java.util.Arrays

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level fast path for XML record parsing (VERDICT r7 item 9:
  * "UTF8String-slice capture without String materialization").
  *
  * Both engine paths pay heavily per record-sized document: the StAX path a
  * full UTF8→UTF16 decode + SJSXP tokenization + StringBuilder capture +
  * UTF16→UTF8 re-encode; the `from_xml` path a fresh Woodstox stream reader
  * per row (`SymbolTable.makeChild` dominates its profile). For the common
  * machine-generated record shape none of that is needed: these scanners
  * walk the UTF8 bytes once and copy captured values straight out of the
  * input buffer (XML structural delimiters are ASCII, so byte scanning is
  * UTF-8-safe). Captured slices are COPIED, never aliased — upstream row
  * buffers can be reused by Spark between rows.
  *
  * Two entry points:
  *   - [[children]] / [[childrenAt]] — the `xml_children` alternatives
  *     capture (tag/outer/value/attrs per matching child). The outer XML,
  *     leaf or not, is written from the byte spans in the canonical form
  *     `XmlStax.captureChild` builds; a value is captured for leaf
  *     children only;
  *   - [[flatStruct]] — the native read-schema record shape (attributes,
  *     repeated scalar children and repeated objs of the same shape, to any
  *     depth), the `from_xml` replacement used by [[XmlFlatParseExpr]].
  *
  * Each handles exactly the subset it can prove equivalent to the engine
  * path it replaces and returns [[Bail]] for everything else (the caller
  * then runs the real engine, whose semantics decide). "Prove equivalent"
  * is deliberately strict — the scanners must never SUCCEED where the real
  * engine would reject the document (PERMISSIVE null / all-null row), so:
  *
  *   - element/attribute names must be ASCII `[A-Za-z_][A-Za-z0-9_.-]*`
  *     (colons — namespaces — bail);
  *   - any `&` anywhere bails (undefined entities reject the document);
  *   - control bytes outside tab/LF/CR bail (illegal XML characters);
  *   - `]]>` in character data bails;
  *   - `<!` / `<?` constructs bail (prolog, DTD, CDATA, comments, PIs);
  *   - markup must be properly nested and name-balanced (verified with an
  *     offset stack), with nothing but whitespace after the root's close;
  *   - duplicate attribute names bail, and so do tab, LF or CR in an
  *     attribute value (attribute-value normalization).
  *
  * Captured character data reads CR LF and a lone CR as LF, the line-end
  * normalization of XML 1.0 §2.11 that both engines apply.
  */
object XmlFastScan {

  /** Sentinel: this document/spec is outside the fast subset. */
  val Bail: AnyRef = new Object

  // ------------------------------------------------------------------
  // shared byte helpers
  // ------------------------------------------------------------------

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\n'

  private def nameStart(c: Byte): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || c == '_'

  private def nameChar(c: Byte): Boolean =
    nameStart(c) || (c >= '0' && c <= '9') || c == '.' || c == '-'

  /** Legal XML character-data byte: anything except control chars (minus
    * tab/LF/CR). Multi-byte UTF-8 continuation/lead bytes are negative and
    * pass. '<' and '&' are handled by the callers' scan loops. */
  private def textByte(c: Byte): Boolean =
    c < 0 || c >= 0x20 || c == '\t' || c == '\n' || c == '\r'

  private def regionEq(b: Array[Byte], s: Int, e: Int,
      pat: Array[Byte]): Boolean = {
    if (e - s != pat.length) return false
    var i = 0
    while (i < pat.length) {
      if (b(s + i) != pat(i)) return false
      i += 1
    }
    true
  }

  private def regionsEq(b: Array[Byte], s1: Int, e1: Int, s2: Int,
      e2: Int): Boolean = {
    if (e1 - s1 != e2 - s2) return false
    var i = 0
    while (i < e1 - s1) {
      if (b(s1 + i) != b(s2 + i)) return false
      i += 1
    }
    true
  }

  private def startsW(b: Array[Byte], s: Int, e: Int,
      pat: Array[Byte]): Boolean = {
    if (e - s < pat.length) return false
    var i = 0
    while (i < pat.length) {
      if (b(s + i) != pat(i)) return false
      i += 1
    }
    true
  }

  private def endsW(b: Array[Byte], s: Int, e: Int,
      pat: Array[Byte]): Boolean = {
    if (e - s < pat.length) return false
    var i = 0
    val off = e - pat.length
    while (i < pat.length) {
      if (b(off + i) != pat(i)) return false
      i += 1
    }
    true
  }

  private def slice(b: Array[Byte], s: Int, e: Int): UTF8String =
    if (e <= s) UTF8String.EMPTY_UTF8
    else UTF8String.fromBytes(Arrays.copyOfRange(b, s, e))

  /** Character data [s, e) as the engines report it; `cr`: the span holds
    * a CR, so its line ends need normalizing. */
  private def textSlice(b: Array[Byte], s: Int, e: Int,
      cr: Boolean): UTF8String =
    if (!cr) slice(b, s, e)
    else {
      val o = new Out
      o.text(b, s, e, Out.Plain)
      o.string()
    }

  private val emptyMap = new ArrayBasedMapData(
    new GenericArrayData(Array.empty[Any]),
    new GenericArrayData(Array.empty[Any]))

  private final val MaxDepth = 64
  private final val MaxAttrs = 8

  /** Growable byte buffer: a captured child's canonical outer XML. */
  private final class Out {
    var buf = new Array[Byte](256)
    var len = 0

    private def room(k: Int): Unit =
      if (len + k > buf.length)
        buf = Arrays.copyOf(buf, math.max(len + k, buf.length * 2))

    def put(c: Char): Unit = { room(1); buf(len) = c.toByte; len += 1 }

    def put(a: Array[Byte]): Unit = put(a, 0, a.length)

    def put(a: Array[Byte], s: Int, e: Int): Unit = {
      room(e - s)
      System.arraycopy(a, s, buf, len, e - s)
      len += e - s
    }

    /** Character data [s, e) of `a`, CR LF and a lone CR written as LF;
      * `esc` picks XmlStax's escapes (`&` and `<` never reach here). */
    def text(a: Array[Byte], s: Int, e: Int, esc: Int): Unit = {
      var run = s
      var j = s
      while (j < e) {
        val c = a(j)
        if (c == '\r' || (esc != Out.Plain && c == '>') ||
            (esc == Out.Attr && c == '"')) {
          put(a, run, j)
          if (c == '\r') {
            put('\n')
            if (j + 1 < e && a(j + 1) == '\n') j += 1
          } else put(if (c == '>') Out.Gt else Out.Quot)
          run = j + 1
        }
        j += 1
      }
      put(a, run, e)
    }

    def string(): UTF8String = UTF8String.fromBytes(Arrays.copyOf(buf, len))
  }

  private object Out {
    final val Plain = 0 // a captured value: no escapes
    final val Text = 1  // element text: `>` as `&gt;`
    final val Attr = 2  // attribute value: also `"` as `&quot;`
    val Gt: Array[Byte] = "&gt;".getBytes("US-ASCII")
    val Quot: Array[Byte] = "&quot;".getBytes("US-ASCII")
    val SelfClose: Array[Byte] = " />".getBytes("US-ASCII")
  }

  /** Mutable cursor state for one scan. A scan either completes or sets
    * `bail`; every helper checks/propagates it. */
  private final class Scan(val b: Array[Byte]) {
    val n: Int = b.length
    var i: Int = 0
    var bail: Boolean = false
    var selfClose: Boolean = false
    /** The last [[text]] run held a CR / a `>`. */
    var cr: Boolean = false
    var gt: Boolean = false
    /** Name and value spans of the last start tag's attributes. */
    val attrS, attrE, valS, valE = new Array[Int](MaxAttrs)
    var nAttrs: Int = 0
    // the open-element stack of [[content]], allocated on first use
    private var stackS, stackE: Array[Int] = null

    def fail(): Int = { bail = true; -1 }
    def no(): Boolean = { bail = true; false }

    /** [s, e) of a valid element/attribute name starting at i, advancing
      * i past it; -1 (+bail) on invalid names. */
    def name(): Int = {
      val s = i
      if (i >= n || !nameStart(b(i))) return fail()
      i += 1
      while (i < n && nameChar(b(i))) i += 1
      if (i >= n) return fail()
      // next byte must be a legal name terminator
      val c = b(i)
      if (!(isWs(c) || c == '>' || c == '/' || c == '=')) return fail()
      s
    }

    /** Consume attributes + the closing '>' of a start tag, starting just
      * after the element name. Sets selfClose and the attribute spans
      * (duplicate names bail). With `out`, writes each attribute as
      * ` name="value"`, escaped like XmlStax. Returns -1 on bail. */
    def tagTail(out: Out): Int = {
      selfClose = false
      nAttrs = 0
      while (i < n) {
        while (i < n && isWs(b(i))) i += 1
        if (i >= n) return fail()
        val c = b(i)
        if (c == '>') { i += 1; return i }
        if (c == '/') {
          if (i + 1 < n && b(i + 1) == '>') {
            selfClose = true; i += 2; return i
          }
          return fail()
        }
        // attribute
        val as = name()
        if (as < 0) return fail()
        val ae = i
        // xmlns declarations are not attributes in the engines' local view
        if (regionEq(b, as, ae, XmlnsBytes)) return fail()
        // duplicate attribute names make conforming parsers reject
        var d = 0
        while (d < nAttrs) {
          if (regionsEq(b, attrS(d), attrE(d), as, ae)) return fail()
          d += 1
        }
        if (nAttrs == MaxAttrs) return fail() // outside the fast subset
        while (i < n && isWs(b(i))) i += 1
        if (i >= n || b(i) != '=') return fail()
        i += 1
        while (i < n && isWs(b(i))) i += 1
        if (i >= n || (b(i) != '"' && b(i) != '\'')) return fail()
        val q = b(i)
        i += 1
        val vs = i
        while (i < n && b(i) != q) {
          val vc = b(i)
          if (vc == '&' || vc == '<' || !textByte(vc) || vc == '\t' ||
            vc == '\n' || vc == '\r') return fail() // normalization chars
          i += 1
        }
        if (i >= n) return fail()
        attrS(nAttrs) = as; attrE(nAttrs) = ae
        valS(nAttrs) = vs; valE(nAttrs) = i
        nAttrs += 1
        if (out != null) {
          out.put(' '); out.put(b, as, ae); out.put('='); out.put('"')
          out.text(b, vs, i, Out.Attr)
          out.put('"')
        }
        i += 1
      }
      fail()
    }

    /** The last start tag's attributes as a map<string,string>. */
    def attrMap(): ArrayBasedMapData =
      if (nAttrs == 0) emptyMap
      else {
        val ks = new Array[Any](nAttrs)
        val vs = new Array[Any](nAttrs)
        var a = 0
        while (a < nAttrs) {
          ks(a) = slice(b, attrS(a), attrE(a))
          vs(a) = slice(b, valS(a), valE(a))
          a += 1
        }
        new ArrayBasedMapData(new GenericArrayData(ks),
          new GenericArrayData(vs))
      }

    /** Scan character data up to the next '<', enforcing the strict text
      * rules ('&', control bytes, "]]>") and noting CR and `>`. Returns
      * the text start; i ends at the '<'. -1 on bail. */
    def text(): Int = {
      val s = i
      var brackets = 0
      cr = false
      gt = false
      while (i < n && b(i) != '<') {
        val c = b(i)
        if (c == '&' || !textByte(c)) return fail()
        if (c == ']') brackets += 1
        else {
          if (c == '>') {
            if (brackets >= 2) return fail()
            gt = true
          } else if (c == '\r') cr = true
          brackets = 0
        }
        i += 1
      }
      if (i >= n) return fail()
      s
    }

    /** [s, e) holds whitespace only. */
    def blank(s: Int, e: Int): Boolean = {
      var w = s
      while (w < e && isWs(b(w))) w += 1
      w == e
    }

    /** i is on '<' of an end tag ("</"); verify its name against [ns, ne)
      * and consume through '>'. -1 on bail. */
    def endTag(ns: Int, ne: Int): Int = {
      i += 2
      val es = name()
      if (es < 0) return fail()
      if (!regionsEq(b, es, i, ns, ne)) return fail()
      while (i < n && isWs(b(i))) i += 1
      if (i >= n || b(i) != '>') return fail()
      i += 1
      i
    }

    /** After the start tag (not self-closing) of the element named
      * [ns, ne): its content through the matching end tag, nesting and
      * names verified. With `out`, which holds the start tag up to its
      * `>`, writes the rest of the element as XmlStax.captureChild
      * serializes it: `>` and escaped text, nested start tags as
      * `<t a="v">`, an element with no content as `<t />`, end tags as
      * `</t>`. false on bail. */
    def content(ns: Int, ne: Int, out: Out): Boolean = {
      if (stackS == null) {
        stackS = new Array[Int](MaxDepth)
        stackE = new Array[Int](MaxDepth)
      }
      stackS(0) = ns; stackE(0) = ne
      var depth = 1
      var open = true // out's last start tag still lacks its '>'
      while (depth > 0) {
        val ts = text()
        if (ts < 0 || i + 1 >= n) return no()
        if (out != null && i > ts) {
          if (open) { out.put('>'); open = false }
          if (cr || gt) out.text(b, ts, i, Out.Text) else out.put(b, ts, i)
        }
        val c1 = b(i + 1)
        if (c1 == '!' || c1 == '?') return no()
        if (c1 == '/') {
          depth -= 1
          if (endTag(stackS(depth), stackE(depth)) < 0) return false
          if (out != null) {
            if (open) out.put(Out.SelfClose)
            else {
              out.put('<'); out.put('/')
              out.put(b, stackS(depth), stackE(depth)); out.put('>')
            }
          }
          open = false
        } else {
          if (depth >= MaxDepth) return no()
          i += 1
          val cs = name()
          if (cs < 0) return false
          stackS(depth) = cs; stackE(depth) = i
          if (out != null) {
            if (open) out.put('>')
            out.put('<'); out.put(b, cs, i)
          }
          if (tagTail(out) < 0) return false
          if (selfClose) {
            if (out != null) out.put(Out.SelfClose)
            open = false
          } else { depth += 1; open = true }
        }
      }
      true
    }

    /** i is on the '<' of a start tag; skip the whole element subtree with
      * name-balance verification. -1 on bail. */
    def skipElement(): Int = {
      i += 1
      val ns = name()
      if (ns < 0) return fail()
      val ne = i
      if (tagTail(null) < 0) return fail()
      if (!selfClose && !content(ns, ne, null)) return fail()
      i
    }

    /** Leading whitespace + the root start tag (name [rootS, rootE)). */
    var rootS: Int = 0
    var rootE: Int = 0
    def openRoot(): Boolean = {
      while (i < n && isWs(b(i))) i += 1
      if (i + 1 >= n || b(i) != '<') return no()
      val c1 = b(i + 1)
      if (c1 == '!' || c1 == '?' || c1 == '/') return no()
      i += 1
      rootS = name()
      if (rootS < 0) return false
      rootE = i
      tagTail(null) >= 0
    }

    /** Only whitespace may follow the root element. */
    def trailing(): Boolean = {
      while (i < n && isWs(b(i))) i += 1
      i == n || no()
    }

    /** i is on '<' of the root's end tag; verify and require only trailing
      * whitespace. */
    def closeRoot(): Boolean = endTag(rootS, rootE) >= 0 && trailing()
  }

  private val XmlnsBytes = "xmlns".getBytes("UTF-8")

  // ------------------------------------------------------------------
  // children() / childrenAt() — the xml_children alternatives capture
  // ------------------------------------------------------------------

  private final class Pats(val all: Boolean,
      val exacts: Array[Array[Byte]],
      val pre: Array[Array[Byte]], val suf: Array[Array[Byte]])

  private val compiledTL = new ThreadLocal[java.util.HashMap[String, Pats]] {
    override def initialValue() = new java.util.HashMap[String, Pats]()
  }

  private def compiled(patterns: Seq[String], key: String): Pats = {
    val m = compiledTL.get()
    var p = m.get(key)
    if (p == null) {
      val (globs, exacts) = patterns.partition(_.contains("*"))
      p = new Pats(patterns.isEmpty,
        exacts.map(_.getBytes("UTF-8")).toArray,
        globs.map(s => s.substring(0, s.indexOf('*')).getBytes("UTF-8"))
          .toArray,
        globs.map(s => s.substring(s.indexOf('*') + 1).getBytes("UTF-8"))
          .toArray)
      m.put(key, p)
    }
    p
  }

  /** Replicates XmlStax.Glob / exact-set dispatch at the byte level. */
  private def hit(b: Array[Byte], s: Int, e: Int, p: Pats): Boolean = {
    if (p.all) return true
    var i = 0
    while (i < p.exacts.length) {
      if (regionEq(b, s, e, p.exacts(i))) return true
      i += 1
    }
    i = 0
    while (i < p.pre.length) {
      if (startsW(b, s, e, p.pre(i)) && endsW(b, s, e, p.suf(i))) return true
      i += 1
    }
    false
  }

  /** Capture a matched child as a struct<tag,xml,value,attrs> row; the
    * scan sits just after its name [cs, ce). `out` (non-null iff
    * needOuter) receives the outer XML. A value is captured only from a
    * leaf (text-only) child. Returns null with sc.bail set when outside
    * the fast subset. */
  private def captureChild(sc: Scan, cs: Int, ce: Int, out: Out,
      needValue: Boolean): GenericInternalRow = {
    val b = sc.b
    if (out != null) { out.len = 0; out.put('<'); out.put(b, cs, ce) }
    if (sc.tagTail(out) < 0) return null
    val attrs = sc.attrMap()
    var value = UTF8String.EMPTY_UTF8
    if (sc.selfClose) { if (out != null) out.put(Out.SelfClose) }
    else if (needValue) {
      val ts = sc.text()
      if (ts < 0) return null
      val te = sc.i
      // a nested element: value capture is the StAX path's
      if (te + 1 >= sc.n || b(te + 1) != '/') { sc.bail = true; return null }
      value = textSlice(b, ts, te, sc.cr)
      if (sc.endTag(cs, ce) < 0) return null
      if (out != null) {
        if (te == ts) out.put(Out.SelfClose)
        else {
          out.put('>'); out.text(b, ts, te, Out.Text)
          out.put('<'); out.put('/'); out.put(b, cs, ce); out.put('>')
        }
      }
    } else if (!sc.content(cs, ce, out)) return null
    new GenericInternalRow(Array[Any](slice(b, cs, ce),
      if (out == null) UTF8String.EMPTY_UTF8 else out.string(), value,
      attrs))
  }

  /** The content of the element just opened (name [ns, ne), not
    * self-closing) through its end tag — for the root, through the
    * trailing whitespace — adding a row to `rows` for each child `pats`
    * hits and skipping the others. false on bail. */
  private def collect(sc: Scan, ns: Int, ne: Int, root: Boolean, pats: Pats,
      out: Out, needValue: Boolean,
      rows: java.util.ArrayList[AnyRef]): Boolean = {
    while (true) {
      if (sc.text() < 0 || sc.i + 1 >= sc.n) return sc.no()
      val c1 = sc.b(sc.i + 1)
      if (c1 == '!' || c1 == '?') return sc.no()
      if (c1 == '/')
        return if (root) sc.closeRoot() else sc.endTag(ns, ne) >= 0
      val save = sc.i
      sc.i += 1
      val cs = sc.name()
      if (cs < 0) return false
      if (hit(sc.b, cs, sc.i, pats)) {
        val row = captureChild(sc, cs, sc.i, out, needValue)
        if (row == null) return false
        rows.add(row)
      } else {
        sc.i = save
        if (sc.skipElement() < 0) return false
      }
    }
    false
  }

  /** Scan for matching depth-1 children. Returns a GenericArrayData of
    * struct<tag, xml, value, attrs> rows (a pruned field reads ""), or
    * [[Bail]]. A captured value needs a leaf child; the outer XML does
    * not. */
  def children(input: UTF8String, patterns: Seq[String], key: String,
      fromRoot: Boolean, needOuter: Boolean, needValue: Boolean): AnyRef = {
    if (!fromRoot) return Bail
    val sc = new Scan(input.getBytes)
    val pats = compiled(patterns, key)
    if (!sc.openRoot()) return Bail
    val rows = new java.util.ArrayList[AnyRef](4)
    val ok =
      if (sc.selfClose) sc.trailing()
      else collect(sc, sc.rootS, sc.rootE, root = true, pats,
        if (needOuter) new Out else null, needValue, rows)
    if (ok) new GenericArrayData(rows.toArray) else Bail
  }

  /** Fused container descent (the fast form of [[XmlStax.childrenAt]]):
    * matching children of the FIRST depth-1 child named `container`.
    * Returns [[Bail]], null (container absent — the two-pass form's
    * semantics), or a GenericArrayData of struct<tag,xml,value,attrs>
    * rows. The rest of the document is still walked with full
    * verification, so a malformation after the container bails to the
    * engine path exactly like the StAX walk nulls there. */
  def childrenAt(input: UTF8String, container: String,
      patterns: Seq[String], key: String, needOuter: Boolean,
      needValue: Boolean): AnyRef = {
    val sc = new Scan(input.getBytes)
    val pats = compiled(patterns, key)
    val cont = container.getBytes("UTF-8")
    if (!sc.openRoot()) return Bail
    if (sc.selfClose) return if (sc.trailing()) null else Bail
    val out = if (needOuter) new Out else null
    var rows: java.util.ArrayList[AnyRef] = null
    while (true) {
      if (sc.text() < 0 || sc.i + 1 >= sc.n) return Bail
      val c1 = sc.b(sc.i + 1)
      if (c1 == '!' || c1 == '?') return Bail
      if (c1 == '/') {
        if (!sc.closeRoot()) return Bail
        return if (rows == null) null else new GenericArrayData(rows.toArray)
      }
      val save = sc.i
      sc.i += 1
      val cs = sc.name()
      if (cs < 0) return Bail
      val ce = sc.i
      if (rows == null && regionEq(sc.b, cs, ce, cont)) {
        if (sc.tagTail(null) < 0) return Bail
        rows = new java.util.ArrayList[AnyRef](4)
        if (!sc.selfClose && !collect(sc, cs, ce, root = false, pats, out,
            needValue, rows)) return Bail
      } else {
        sc.i = save
        if (sc.skipElement() < 0) return Bail
      }
    }
    Bail
  }

  // ------------------------------------------------------------------
  // flatStruct() — the from_xml replacement for native read schemas
  // ------------------------------------------------------------------

  /** One field of a native read schema, in schema order. */
  sealed trait FlatField extends Serializable { def name: String }
  /** `_name: string` — an attribute of the element. */
  final case class AttrF(name: String) extends FlatField
  /** `name: array<string>` — every depth-1 child named `name`, leaf text. */
  final case class ScalarF(name: String) extends FlatField
  /** `name: array<struct<…>>` — one struct per depth-1 child named
    * `name`, parsed with `spec` by the same kernel (a reference `Type`
    * member, or a native array's container and its elements). */
  final case class ObjF(name: String, spec: FlatSpec) extends FlatField

  private final val AttrK = 0
  private final val ScalarK = 1
  private final val ObjK = 2

  /** The compiled byte-level form of one struct level: field names and
    * kinds, precomputed so the kernel never dispatches on field classes. */
  final class FlatSpec(val fields: Array[FlatField]) extends Serializable {
    private[XmlFastScan] val names: Array[Array[Byte]] =
      fields.map(_.name.getBytes("UTF-8"))
    private[XmlFastScan] val kinds: Array[Int] = fields.map {
      case _: AttrF   => AttrK
      case _: ScalarF => ScalarK
      case _: ObjF    => ObjK
    }
    private[XmlFastScan] val subs: Array[FlatSpec] = fields.map {
      case ObjF(_, s) => s
      case _          => null
    }
    private[XmlFastScan] val hasAttrs: Boolean = kinds.contains(AttrK)

    /** The element field named b[s, e), or -1. */
    private[XmlFastScan] def element(b: Array[Byte], s: Int, e: Int): Int = {
      var k = 0
      while (k < names.length) {
        if (kinds(k) != AttrK && regionEq(b, s, e, names(k))) return k
        k += 1
      }
      -1
    }
  }

  object FlatSpec {
    /** A native read schema this scanner can serve, or None: string
      * attributes, `array<string>` scalars, and `array<struct<…>>` objs
      * whose struct is non-empty and servable in turn. */
    def of(st: StructType): Option[FlatSpec] = {
      val fs = new Array[FlatField](st.fields.length)
      var i = 0
      while (i < fs.length) {
        val f = st.fields(i)
        fs(i) = f.dataType match {
          case StringType if f.name.startsWith("_") => AttrF(f.name.substring(1))
          case ArrayType(StringType, _)             => ScalarF(f.name)
          case ArrayType(s: StructType, _) if s.nonEmpty =>
            of(s) match {
              case Some(sub) => ObjF(f.name, sub)
              case None      => return None
            }
          case _ => return None
        }
        i += 1
      }
      Some(new FlatSpec(fs))
    }
  }

  /** The struct of `spec` for the element whose start tag (name [ns, ne))
    * the scan just read: its attributes, then its content through the end
    * tag — the root's, through the trailing whitespace. Semantics (proven
    * equivalent to from_xml's PERMISSIVE parse on the accepted subset):
    *   - absent attribute/element → null field; an attribute value with
    *     surrounding spaces bails (from_xml trims it);
    *   - scalar fields collect every matching depth-1 leaf child's text in
    *     document order; captured values must be non-empty with no
    *     surrounding whitespace and no attributes (trim/null-semantics
    *     ambiguity bails);
    *   - obj fields collect one struct per occurrence, attributes
    *     included; an empty obj (`<o/>`, `<o></o>`) is a struct of its
    *     attributes and nulls, and text other than whitespace inside an
    *     obj bails (the root's text is ignored, as from_xml ignores it);
    *   - unmatched elements are skipped like from_xml ignores them.
    * null on bail. */
  private def struct(sc: Scan, spec: FlatSpec, ns: Int, ne: Int,
      root: Boolean): GenericInternalRow = {
    val b = sc.b
    val nf = spec.names.length
    val out = new Array[Any](nf)
    if (spec.hasAttrs) {
      var k = 0
      while (k < nf) {
        if (spec.kinds(k) == AttrK) {
          var a = 0
          while (a < sc.nAttrs &&
            !regionEq(b, sc.attrS(a), sc.attrE(a), spec.names(k))) a += 1
          if (a < sc.nAttrs) {
            val vs = sc.valS(a)
            val ve = sc.valE(a)
            if (ve > vs && (b(vs) == ' ' || b(ve - 1) == ' ')) {
              sc.bail = true; return null
            }
            out(k) = slice(b, vs, ve)
          }
        }
        k += 1
      }
    }
    if (sc.selfClose) {
      if (root && !sc.trailing()) return null
      return new GenericInternalRow(out)
    }
    var acc: Array[java.util.ArrayList[AnyRef]] = null
    var done = false
    while (!done) {
      val ts = sc.text()
      if (ts < 0 || sc.i + 1 >= sc.n || (!root && !sc.blank(ts, sc.i))) {
        sc.bail = true; return null
      }
      val c1 = b(sc.i + 1)
      if (c1 == '!' || c1 == '?') { sc.bail = true; return null }
      if (c1 == '/') {
        if (root) { if (!sc.closeRoot()) return null }
        else if (sc.endTag(ns, ne) < 0) return null
        done = true
      } else {
        val save = sc.i
        sc.i += 1
        val cs = sc.name()
        if (cs < 0) return null
        val ce = sc.i
        val k = spec.element(b, cs, ce)
        if (k < 0) {
          sc.i = save
          if (sc.skipElement() < 0) return null
        } else {
          val v: AnyRef =
            if (spec.kinds(k) == ScalarK) leafValue(sc, cs, ce)
            else if (sc.tagTail(null) < 0) null
            else struct(sc, spec.subs(k), cs, ce, root = false)
          if (v == null) return null
          if (acc == null) acc = new Array[java.util.ArrayList[AnyRef]](nf)
          if (acc(k) == null) acc(k) = new java.util.ArrayList[AnyRef](2)
          acc(k).add(v)
        }
      }
    }
    if (acc != null) {
      var k = 0
      while (k < nf) {
        if (acc(k) != null) out(k) = new GenericArrayData(acc(k).toArray)
        k += 1
      }
    }
    new GenericInternalRow(out)
  }

  /** A scalar child's text; the scan sits just after its name [cs, ce).
    * The start tag must carry NO attributes (value-semantics ambiguity).
    * Returns the value or null (+bail via sc). */
  private def leafValue(sc: Scan, cs: Int, ce: Int): UTF8String = {
    val b = sc.b
    while (sc.i < sc.n && isWs(b(sc.i))) sc.i += 1
    // '>' must close the tag: an attribute, or `/>` (empty-value
    // ambiguity), bails
    if (sc.i >= sc.n || b(sc.i) != '>') { sc.bail = true; return null }
    sc.i += 1
    val ts = sc.text()
    if (ts < 0) return null
    val te = sc.i
    if (te == ts || isWs(b(ts)) || isWs(b(te - 1)) || // empty / padded
      te + 1 >= sc.n || b(te + 1) != '/') { // nested element
      sc.bail = true; return null
    }
    val cr = sc.cr
    if (sc.endTag(cs, ce) < 0) return null
    textSlice(b, ts, te, cr)
  }

  /** Parse a record with a native read schema. Returns a
    * GenericInternalRow in schema order, or [[Bail]] (see [[struct]] for
    * the accepted subset). */
  def flatStruct(input: UTF8String, spec: FlatSpec): AnyRef = {
    val sc = new Scan(input.getBytes)
    if (!sc.openRoot()) return Bail
    val row = struct(sc, spec, sc.rootS, sc.rootE, root = true)
    if (row == null) Bail else row
  }
}
