package graft.xml

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import java.io.StringReader
import scala.collection.mutable

/** Single-pass StAX child extraction — the JVM core behind the `xml_children`
  * Catalyst expression.
  *
  * Mirrors the reference engine's cursor loop (reference:
  * XmlStreamProcessor/Parser.cs:119-208): one forward pass, dispatch on
  * depth-1 child names (exact or `*`-glob, Parser.cs:166-187), skip unmatched
  * subtrees wholesale, O(depth) memory. Where the reference fills typed
  * slots, we emit `(tag, outerXml, value)` triples for Spark to project:
  *   - `tag`   — the child's local name (reference `INode.Tag()`,
  *               Parser.cs:402-405);
  *   - `outer` — re-serialized outer XML of the child, safely re-parsable by
  *               `from_xml` (escaped text/attrs, .NET-style `<t />` for empty
  *               elements);
  *   - `value` — the reference `StringParser` semantics (Parser.cs:34-56):
  *               unescaped direct text concatenated with serialized child
  *               elements, in document order.
  *
  * Internal DTD entities are expanded (reference Test1.cs:257); external
  * entity resolution is disabled (no XXE).
  */
object XmlStax {

  final case class Child(tag: String, outer: String, value: String,
      attrs: Seq[(String, String)])

  /** `prefix*suffix` glob per Parser.cs:175-187 (split on first '*',
    * startsWith && endsWith; bare "*" matches everything). */
  final case class Glob(prefix: String, suffix: String) {
    def matches(name: String): Boolean =
      name.startsWith(prefix) && name.endsWith(suffix)
  }

  def compilePatterns(patterns: Seq[String]): (Set[String], Seq[Glob]) = {
    val (globs, exacts) = patterns.partition(_.contains("*"))
    (exacts.toSet, globs.map { p =>
      val i = p.indexOf('*')
      Glob(p.substring(0, i), p.substring(i + 1))
    })
  }

  /** Per-thread factory with instance reuse: the JDK StAX reader allocates
    * multi-KB internal buffers per instance, which dominates the parse of
    * record-sized documents. `reuse-instance` (SJSXP) recycles the reader
    * across createXMLStreamReader calls — measured ~1.5x throughput on
    * 70-byte docs. Reuse makes the factory stateful, hence ThreadLocal;
    * XmlStax never nests two open readers on one thread (children() and
    * elementValue() each close theirs before returning). */
  private val factoryTL: ThreadLocal[XMLInputFactory] =
    new ThreadLocal[XMLInputFactory] {
      override def initialValue(): XMLInputFactory = {
        val f = XMLInputFactory.newInstance()
        f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
        f.setProperty(XMLInputFactory.IS_REPLACING_ENTITY_REFERENCES,
          java.lang.Boolean.TRUE)
        f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.TRUE)
        f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
          java.lang.Boolean.FALSE)
        // non-JDK implementations may not know the key — reuse is an
        // optimization, not a requirement
        try f.setProperty("reuse-instance", java.lang.Boolean.TRUE)
        catch { case _: IllegalArgumentException => }
        f
      }
    }
  private def factory: XMLInputFactory = factoryTL.get()

  /** The spec key names one (patterns, fromRoot, capture flags) spec; the
    * expressions compute it once per instance, and it keys their compiled
    * patterns. The needOuter/needValue flags are part of the key, so a
    * spec's cached state never crosses capture flags. */
  def specKey(patterns: Seq[String], fromRoot: Boolean, needOuter: Boolean,
      needValue: Boolean): String =
    patterns.mkString("\u0000") + "\u0001" + fromRoot + needOuter + needValue

  /** Extract matching depth-1 children of `xml`'s root element (fromRoot) or
    * of a rootless fragment. Empty `patterns` matches every child. Returns
    * null on malformed input (PERMISSIVE posture — the Spark layer turns that
    * into a null row value).
    */
  def children(xml: String, patterns: Seq[String],
      fromRoot: Boolean): Seq[Child] =
    children(xml, patterns, fromRoot,
      specKey(patterns, fromRoot, needOuter = true, needValue = true))

  /** `needOuter`/`needValue` prune the per-child serialization: a binding
    * that reads only tag+attrs (the attribute-projection shape) skips
    * building BOTH strings — the child walk degrades to tag+attrs capture
    * plus a subtree skip; a wildcard scalar bind keeps `value` but drops
    * `outer`. Pruned fields surface as "" (they are non-nullable in the
    * Spark schema). `key` keys the compiled patterns. */
  def children(xml: String, patterns: Seq[String], fromRoot: Boolean,
      key: String, needOuter: Boolean = true,
      needValue: Boolean = true): Seq[Child] = {
    val hit = matcher(patterns, key)
    val source = if (fromRoot) xml else s"<graft-wrap>$xml</graft-wrap>"
    var reader: XMLStreamReader = null
    try {
      reader = factory.createXMLStreamReader(new StringReader(source))
      // advance to the root element
      while (reader.getEventType != XMLStreamConstants.START_ELEMENT &&
          reader.hasNext) reader.next()
      if (reader.getEventType != XMLStreamConstants.START_ELEMENT) return Nil
      val out = mutable.ArrayBuffer.empty[Child]
      // iterate the root's direct children
      var ev = reader.next()
      while (ev != XMLStreamConstants.END_ELEMENT &&
          ev != XMLStreamConstants.END_DOCUMENT) {
        if (ev == XMLStreamConstants.START_ELEMENT) {
          val name = reader.getLocalName
          if (hit(name)) out += captureChild(reader, needOuter, needValue)
          else skipSubtree(reader)
        }
        ev = reader.next()
      }
      out.toSeq
    } catch {
      case _: Exception => null
    } finally {
      if (reader != null) try reader.close() catch { case _: Exception => }
    }
  }

  /** Compiled patterns, keyed by the caller's spec key: the per-row compile
    * (Set + Glob allocations) was a measurable slice of the 70-byte-document
    * hot path. */
  private val compiledTL = new ThreadLocal[
      java.util.HashMap[String, (Set[String], Array[Glob])]] {
    override def initialValue() =
      new java.util.HashMap[String, (Set[String], Array[Glob])]()
  }

  /** Child-name test for `patterns` (empty = every child). */
  private def matcher(patterns: Seq[String], key: String): String => Boolean = {
    val compiled = compiledTL.get()
    var pats = compiled.get(key)
    if (pats == null) {
      val (e, g) = compilePatterns(patterns)
      pats = (e, g.toArray)
      compiled.put(key, pats)
    }
    val (exacts, globs) = pats
    val all = patterns.isEmpty
    name => {
      if (all || exacts.contains(name)) true
      else {
        var i = 0
        while (i < globs.length && !globs(i).matches(name)) i += 1
        i < globs.length
      }
    }
  }

  /** Fused container descent — matching children of the FIRST depth-1
    * child named `container`, extracted in the SAME StAX pass as the
    * document walk. This is the one-pass form of
    * `children(children(doc, [container]).head.outer, patterns)`: the
    * two-pass form serializes the container's outer XML only to re-parse
    * it immediately, which doubles the tokenization cost of the
    * nested-array shape (x3: bind one glob child value inside an exact
    * container). Returns null when the container is absent OR the
    * document is malformed — exactly the two-pass form's result, since
    * there the whole-document extraction nulls on malformed input and
    * the container lookup misses on absence. The rest of the document is
    * still walked (skip-only) so malformations after the container null
    * the row the same way the two-pass walk did. */
  def childrenAt(xml: String, container: String, patterns: Seq[String],
      key: String, needOuter: Boolean, needValue: Boolean): Seq[Child] = {
    val hit = matcher(patterns, key)
    var reader: XMLStreamReader = null
    try {
      reader = factory.createXMLStreamReader(new StringReader(xml))
      while (reader.getEventType != XMLStreamConstants.START_ELEMENT &&
          reader.hasNext) reader.next()
      if (reader.getEventType != XMLStreamConstants.START_ELEMENT) return null
      var out: mutable.ArrayBuffer[Child] = null
      var ev = reader.next()
      while (ev != XMLStreamConstants.END_ELEMENT &&
          ev != XMLStreamConstants.END_DOCUMENT) {
        if (ev == XMLStreamConstants.START_ELEMENT) {
          if (out == null && reader.getLocalName == container) {
            out = mutable.ArrayBuffer.empty[Child]
            // descend: iterate the container's own children in place
            var ev2 = reader.next()
            while (ev2 != XMLStreamConstants.END_ELEMENT &&
                ev2 != XMLStreamConstants.END_DOCUMENT) {
              if (ev2 == XMLStreamConstants.START_ELEMENT) {
                if (hit(reader.getLocalName))
                  out += captureChild(reader, needOuter, needValue)
                else skipSubtree(reader)
              }
              ev2 = reader.next()
            }
          } else skipSubtree(reader)
        }
        ev = reader.next()
      }
      if (out == null) null else out.toSeq
    } catch {
      case _: Exception => null
    } finally {
      if (reader != null) try reader.close() catch { case _: Exception => }
    }
  }

  /** Skip the subtree of the element the reader is positioned on, leaving
    * the reader on its END_ELEMENT (≙ reader.Skip(), Parser.cs:194-202). */
  private def skipSubtree(reader: XMLStreamReader): Unit = {
    var depth = 0
    var done = false
    while (!done) {
      reader.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT =>
          if (depth == 0) done = true else depth -= 1
        case XMLStreamConstants.END_DOCUMENT => done = true
        case _ =>
      }
    }
  }

  /** Reference `StringParser` view of a whole element (text + serialized
    * children): parse `xml` as a document and return the value of its root.
    * Null on malformed input. */
  def elementValue(xml: String): String = {
    var reader: XMLStreamReader = null
    try {
      reader = factory.createXMLStreamReader(new StringReader(xml))
      while (reader.getEventType != XMLStreamConstants.START_ELEMENT &&
          reader.hasNext) reader.next()
      if (reader.getEventType != XMLStreamConstants.START_ELEMENT) return null
      captureChild(reader, needOuter = false, needValue = true).value
    } catch {
      case _: Exception => null
    } finally {
      if (reader != null) try reader.close() catch { case _: Exception => }
    }
  }

  /** Reader positioned ON the child's START_ELEMENT; consumes exactly its
    * subtree (reader ends on the child's END_ELEMENT). Builds the serialized
    * outer form and the reference-String `value` (unescaped direct text +
    * .NET-style serialized depth-1 elements, Parser.cs:34-56) in ONE pass.
    */
  private def captureChild(reader: XMLStreamReader, needOuter: Boolean,
      needValue: Boolean): Child = {
    val tag = reader.getLocalName
    // the child element's own attributes, captured in the same pass so
    // downstream attribute binds need no re-parse (local names, as the
    // reference's reader.GetAttribute does — Parser.cs:241-249)
    val ownAttrs: Seq[(String, String)] = {
      val n = reader.getAttributeCount
      if (n == 0) Nil
      else {
        val b = new Array[(String, String)](n)
        var i = 0
        while (i < n) {
          b(i) = (reader.getAttributeLocalName(i),
            reader.getAttributeValue(i))
          i += 1
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
      }
    }
    // attr/tag-only capture: no serialization at all — the subtree is
    // skipped exactly like an unmatched child (Parser.cs:194-202)
    if (!needOuter && !needValue) {
      skipSubtree(reader)
      return Child(tag, "", "", ownAttrs)
    }
    // pre-size past the 16-char default: record-sized children re-grow the
    // default builder 2-3 times, and the grow copies dominate tiny docs
    val outer = if (needOuter) new StringBuilder(64) else null
    val value = if (needValue) new StringBuilder(64) else null
    var depth = 0 // nesting below the child element; 0 = directly inside it
    var pendingOuter = false
    var pendingValue = false

    def closeOuter(selfClose: Boolean): Unit = if (pendingOuter) {
      if (outer != null) outer.append(if (selfClose) " />" else ">")
      pendingOuter = false
    }
    def closeValue(selfClose: Boolean): Unit = if (pendingValue) {
      if (value != null) value.append(if (selfClose) " />" else ">")
      pendingValue = false
    }
    // serialize PREFIXED names (getName.toString would render namespaced
    // nodes as '{uri}local' — malformed XML) and re-emit the xmlns
    // declarations appearing on the element itself; prefixes declared on
    // ancestors of the captured child are not re-declared (documented
    // limitation — the reference is namespace-oblivious, Parser.cs:241-249)
    def qual(prefix: String, local: String): String =
      if (prefix == null || prefix.isEmpty) local else prefix + ":" + local
    def writeStart(toValue: Boolean): Unit = {
      closeOuter(selfClose = false)
      if (toValue) closeValue(selfClose = false)
      val emitV = toValue && value != null
      if (outer != null || emitV) {
        val name = qual(reader.getPrefix, reader.getLocalName)
        if (outer != null) outer.append('<').append(name)
        if (emitV) value.append('<').append(name)
        // append the pieces directly — the intermediate " k=\"v\"" string
        // per attribute was pure allocation churn on attribute-heavy rows
        def piece(s: String): Unit = {
          if (outer != null) outer.append(s)
          if (emitV) value.append(s)
        }
        var j = 0
        while (j < reader.getNamespaceCount) {
          val p = reader.getNamespacePrefix(j)
          piece(" ")
          piece(if (p == null || p.isEmpty) "xmlns" else "xmlns:" + p)
          piece("=\"")
          piece(escapeAttr(reader.getNamespaceURI(j)))
          piece("\"")
          j += 1
        }
        var i = 0
        while (i < reader.getAttributeCount) {
          piece(" ")
          piece(qual(reader.getAttributePrefix(i),
            reader.getAttributeLocalName(i)))
          piece("=\"")
          piece(escapeAttr(reader.getAttributeValue(i)))
          piece("\"")
          i += 1
        }
      }
      pendingOuter = true
      if (toValue) pendingValue = true
    }
    def qualEnd(): String = qual(reader.getPrefix, reader.getLocalName)

    writeStart(toValue = false) // the child element's own start tag
    var done = false
    while (!done) {
      reader.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          writeStart(toValue = true)
        case XMLStreamConstants.END_ELEMENT =>
          val wasPending = pendingOuter
          closeOuter(selfClose = true)
          if (!wasPending && outer != null)
            outer.append("</").append(qualEnd()).append('>')
          if (depth == 0) done = true
          else {
            val wasPendingV = pendingValue
            closeValue(selfClose = true)
            if (!wasPendingV && value != null)
              value.append("</").append(qualEnd()).append('>')
            depth -= 1
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          closeOuter(selfClose = false)
          if (outer != null) outer.append(escapeText(reader.getText))
          if (value != null) {
            if (depth == 0) value.append(reader.getText) // unescaped direct
            else {
              closeValue(selfClose = false)
              value.append(escapeText(reader.getText))
            }
          }
        case XMLStreamConstants.END_DOCUMENT =>
          done = true
        case _ => // comments, PIs: ignored (reference Test1.cs:233-271)
      }
    }
    Child(tag, if (outer == null) "" else outer.toString,
      if (value == null) "" else value.toString, ownAttrs)
  }

  // escape fast path: most text/attr content contains no escapable chars —
  // return the original string untouched instead of rebuilding it
  private def needsEscape(s: String, quote: Boolean): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&' || c == '<' || c == '>' || (quote && c == '"'))
        return true
      i += 1
    }
    false
  }

  private def escapeText(s: String): String = {
    if (!needsEscape(s, quote = false)) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case c   => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def escapeAttr(s: String): String = {
    if (!needsEscape(s, quote = true)) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case c   => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
