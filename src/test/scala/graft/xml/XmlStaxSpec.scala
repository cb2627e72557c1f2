package graft.xml

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM tests of the StAX extraction core (no Spark session). */
class XmlStaxSpec extends AnyFunSuite {

  test("children: exact + glob filter, document order") {
    val xml = "<c><item1>1</item1><junk>x</junk><item2>2</item2>" +
      "<item1>3</item1></c>"
    val got = XmlStax.children(xml, Seq("item1", "item2"), fromRoot = true)
    assert(got.map(_.tag) == Seq("item1", "item2", "item1"))
    assert(got.map(_.value) == Seq("1", "2", "3"))
  }

  test("children: bare glob matches everything; skip unmatched subtrees") {
    val xml = "<c><a><deep><deeper/></deep></a><b>2</b></c>"
    assert(XmlStax.children(xml, Seq("*"), fromRoot = true)
      .map(_.tag) == Seq("a", "b"))
    assert(XmlStax.children(xml, Seq("b"), fromRoot = true)
      .map(_.outer) == Seq("<b>2</b>"))
  }

  test("children: prefix*suffix glob like the reference") {
    val xml = "<c><sub1/><sub2/><other/><subx_tail/></c>"
    assert(XmlStax.children(xml, Seq("sub*"), fromRoot = true)
      .map(_.tag) == Seq("sub1", "sub2", "subx_tail"))
    assert(XmlStax.children(xml, Seq("sub*tail"), fromRoot = true)
      .map(_.tag) == Seq("subx_tail"))
  }

  test("outer is re-parsable and escaped; value keeps raw text") {
    val xml = "<c><k a='q&amp;w'>x &lt; y<inner>3 &amp; 4</inner>t</k></c>"
    val Seq(k) = XmlStax.children(xml, Nil, fromRoot = true)
    assert(k.outer ==
      "<k a=\"q&amp;w\">x &lt; y<inner>3 &amp; 4</inner>t</k>")
    assert(k.value == "x < y<inner>3 &amp; 4</inner>t")
  }

  test("value: .NET-style self-closing serialization of inline children") {
    val xml = "<c><k><more/>text tail</k><k>lead <more/></k></c>"
    val got = XmlStax.children(xml, Seq("k"), fromRoot = true).map(_.value)
    assert(got == Seq("<more />text tail", "lead <more />"))
  }

  test("entities, CDATA, char refs, comments (Test1.cs:233-271 semantics)") {
    val xml =
      """<?xml version='1.0'?>
        |<!DOCTYPE Items [<!ENTITY number '123'>]>
        |<Items>
        |  <Item>Test with an entity: &number;</Item>
        |  <Item>Test with a CDATA section <![CDATA[<456>]]> def</Item>
        |  <Item>Test with a char entity: &#65;</Item>
        |  <!-- a comment -->
        |  <Item>1234567890ABCD</Item>
        |</Items>""".stripMargin
    val got = XmlStax.children(xml, Seq("Item"), fromRoot = true).map(_.value)
    assert(got == Seq(
      "Test with an entity: 123",
      "Test with a CDATA section <456> def",
      "Test with a char entity: A",
      "1234567890ABCD"))
  }

  test("childrenAt: fused container descent equals the two-pass " +
      "children(children(doc,[container]).outer, patterns) form") {
    val xml = "<r><id>7</id><vals><q_A>1.5</q_A><junk>x</junk>" +
      "<q_B>2.5</q_B></vals><tail>z</tail></r>"
    def key(p: Seq[String]) = "t:" + p.mkString(",")
    val fused = XmlStax.childrenAt(xml, "vals", Seq("q_*"),
      key(Seq("q_*")), needOuter = false, needValue = true)
    val twoPass = XmlStax.children(
      XmlStax.children(xml, Seq("vals"), fromRoot = true).head.outer,
      Seq("q_*"), fromRoot = true)
    assert(fused.map(c => (c.tag, c.value)) ==
      twoPass.map(c => (c.tag, c.value)))
    assert(fused.map(_.tag) == Seq("q_A", "q_B"))
    // absent container -> null (the two-pass firstKid miss)
    assert(XmlStax.childrenAt(xml, "nope", Seq("q_*"), key(Seq("nope")),
      needOuter = false, needValue = true) == null)
    // present-but-empty container -> empty seq, NOT null
    assert(XmlStax.childrenAt("<r><vals/></r>", "vals", Seq("q_*"),
      key(Seq("e")), needOuter = false, needValue = true) == Seq())
    // only the FIRST container counts (two-pass firstKid semantics)
    val dup = "<r><vals><q_A>1</q_A></vals><vals><q_B>2</q_B></vals></r>"
    assert(XmlStax.childrenAt(dup, "vals", Seq("q_*"), key(Seq("dup")),
      needOuter = false, needValue = true).map(_.tag) == Seq("q_A"))
    // malformed AFTER the container still nulls the row, like the
    // two-pass whole-document walk did
    val bad = "<r><vals><q_A>1</q_A></vals><broken"
    assert(XmlStax.childrenAt(bad, "vals", Seq("q_*"), key(Seq("bad")),
      needOuter = false, needValue = true) == null)
    // nested children keep full outer capture when asked
    val deep = "<r><vals><o i='1'><x>9</x></o></vals></r>"
    val d = XmlStax.childrenAt(deep, "vals", Seq("o"), key(Seq("deep")),
      needOuter = true, needValue = true)
    assert(d.head.outer == "<o i=\"1\"><x>9</x></o>")
    assert(d.head.attrs == Seq("i" -> "1"))
  }

  test("fragment mode (no root) wraps content") {
    val frag = "<a>1</a>text<b>2</b>"
    assert(XmlStax.children(frag, Nil, fromRoot = false)
      .map(_.tag) == Seq("a", "b"))
  }

  test("malformed input -> null (PERMISSIVE)") {
    assert(XmlStax.children("<a><b></a>", Nil, fromRoot = true) == null)
    assert(XmlStax.children("not xml at all <", Nil, fromRoot = true) == null)
  }

  test("empty element forms") {
    val xml = "<c><e/><e></e><e>x</e></c>"
    val got = XmlStax.children(xml, Seq("e"), fromRoot = true)
    assert(got.map(_.outer) == Seq("<e />", "<e />", "<e>x</e>"))
    assert(got.map(_.value) == Seq("", "", "x"))
  }

  test("namespaced children serialize prefixed names + declarations") {
    // dispatch/tag use LOCAL names (reference semantics); serialization
    // keeps prefixes and re-emits xmlns declared ON the element
    val xml = """<r><n:k xmlns:n="urn:u" a="1"><n:s>v</n:s></n:k></r>"""
    val Seq(c) = XmlStax.children(xml, Seq("k"), fromRoot = true).toList
    assert(c.tag == "k")
    assert(c.outer ==
      """<n:k xmlns:n="urn:u" a="1"><n:s>v</n:s></n:k>""")
    assert(c.value == "<n:s>v</n:s>")
    assert(c.attrs == Seq(("a", "1")))
    // default-namespace declaration round-trips too
    val xml2 = """<r><k xmlns="urn:d">t</k></r>"""
    val Seq(c2) = XmlStax.children(xml2, Seq("k"), fromRoot = true).toList
    assert(c2.outer == """<k xmlns="urn:d">t</k>""")
  }

  test("capture flags prune outer/value; pruned and full extractions " +
      "never share a memo entry") {
    val xml = "<r><k a='1'><s>v</s>txt</k><j/></r>"
    def run(o: Boolean, v: Boolean) =
      XmlStax.children(xml, Seq("k"), fromRoot = true,
        XmlStax.specKey(Seq("k"), fromRoot = true, o, v), o, v).head
    // pruned first, then fuller captures: each read sees its own fields
    val pruned = run(o = false, v = false)
    assert(pruned.tag == "k" && pruned.attrs == Seq(("a", "1")))
    assert(pruned.outer == "" && pruned.value == "")
    val valueOnly = run(o = false, v = true)
    assert(valueOnly.outer == "" && valueOnly.value == "<s>v</s>txt")
    val outerOnly = run(o = true, v = false)
    assert(outerOnly.outer == "<k a=\"1\"><s>v</s>txt</k>" &&
      outerOnly.value == "")
    val full = run(o = true, v = true)
    assert(full.outer == "<k a=\"1\"><s>v</s>txt</k>" &&
      full.value == "<s>v</s>txt")
  }

  test("StAX fallback: pruned and full extractions of one row keep their " +
      "fields") {
    // mixed content: the fast scan bails, so every read below goes through
    // the StAX fallback of XmlChildrenExpr.extract
    val row = UTF8String.fromString("<r><k a='1'><s>v</s>txt</k><j/></r>")
    def first(o: Boolean) = {
      val key = XmlStax.specKey(Seq("k"), fromRoot = true, o, true)
      assert(XmlFastScan.children(row, Seq("k"), key, fromRoot = true, o,
        needValue = true) eq XmlFastScan.Bail)
      val c = XmlChildrenExpr.extract(row, Seq("k"), fromRoot = true, key,
        o, needValue = true).getStruct(0, 4)
      (c.getUTF8String(1).toString, c.getUTF8String(2).toString)
    }
    assert(first(o = false) == ("", "<s>v</s>txt"))
    assert(first(o = true) == ("<k a=\"1\"><s>v</s>txt</k>", "<s>v</s>txt"))
  }

  test("a row over a reused buffer, overwritten in place, reads the new " +
      "document") {
    // the extraction and the flat parse keep no per-row state: a row that
    // aliases a reused buffer reads whatever the buffer holds now
    val docA = "<r><k a='1'><s>v</s>aaa</k></r>"
    val buf = docA.getBytes("UTF-8")
    val row = UTF8String.fromBytes(buf) // aliases buf, no copy
    val key = XmlStax.specKey(Seq("k"), fromRoot = true,
      needOuter = false, needValue = true)
    // the fast scan bails here, so the StAX fallback runs
    assert(XmlFastScan.children(row, Seq("k"), key, fromRoot = true,
      needOuter = false, needValue = true) eq XmlFastScan.Bail)
    def kids(u: UTF8String) = XmlChildrenExpr.extract(u, Seq("k"),
      fromRoot = true, key, needOuter = false, needValue = true)
    def value(a: org.apache.spark.sql.catalyst.util.ArrayData) =
      a.getStruct(0, 4).getUTF8String(2).toString
    val first = kids(row)
    assert(value(first) == "<s>v</s>aaa")
    System.arraycopy("<r><k a='1'><s>v</s>bbb</k></r>".getBytes("UTF-8"), 0,
      buf, 0, buf.length)
    assert(value(kids(row)) == "<s>v</s>bbb")
    // the flat parse, fast path included
    import org.apache.spark.sql.types._
    val flat = XmlFlatParseExpr(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        StringType, nullable = true),
      StructType(Seq(StructField("s", ArrayType(StringType)))))
    def parse(u: UTF8String): AnyRef =
      flat.eval(org.apache.spark.sql.catalyst.InternalRow(u))
        .asInstanceOf[AnyRef]
    val docC = "<r><s>ccc</s></r>"
    val buf2 = docC.getBytes("UTF-8")
    val row2 = UTF8String.fromBytes(buf2)
    def flatValue(r: Any) = r
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      .getArray(0).getUTF8String(0).toString
    val firstFlat = parse(row2)
    assert(flatValue(firstFlat) == "ccc")
    System.arraycopy("<r><s>ddd</s></r>".getBytes("UTF-8"), 0, buf2, 0,
      buf2.length)
    assert(flatValue(parse(row2)) == "ddd")
  }
}
