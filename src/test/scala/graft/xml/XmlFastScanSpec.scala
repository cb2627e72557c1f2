package graft.xml

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** [[XmlFastScan]] must be bit-equivalent to the StAX path on everything it
  * accepts, and must Bail (never diverge) on everything else. */
class XmlFastScanSpec extends AnyFunSuite {

  private def fast(xml: String, patterns: Seq[String],
      needValue: Boolean = true): AnyRef =
    XmlFastScan.children(UTF8String.fromString(xml), patterns,
      "spec:" + patterns.mkString(",") + needValue, fromRoot = true,
      needOuter = false, needValue = needValue)

  private def stax(xml: String, patterns: Seq[String],
      needValue: Boolean = true): Seq[XmlStax.Child] =
    XmlStax.children(xml, patterns, fromRoot = true,
      "specstax:" + patterns.mkString(",") + needValue, needOuter = false,
      needValue = needValue)

  private def rows(a: AnyRef): Seq[(String, String, Map[String, String])] = {
    val arr = a.asInstanceOf[GenericArrayData]
    (0 until arr.numElements()).map { i =>
      val r = arr.array(i).asInstanceOf[InternalRow]
      val m = r.getMap(3)
      val attrs = (0 until m.numElements()).map { j =>
        (m.keyArray.getUTF8String(j).toString,
          m.valueArray.getUTF8String(j).toString)
      }.toMap
      (r.getUTF8String(0).toString, r.getUTF8String(2).toString, attrs)
    }
  }

  private def staxRows(cs: Seq[XmlStax.Child])
      : Seq[(String, String, Map[String, String])] =
    cs.map(c => (c.tag, c.value, c.attrs.toMap))

  /** Fast result must exist and agree with StAX. */
  private def agreeFast(xml: String, patterns: Seq[String]): Unit = {
    val f = fast(xml, patterns)
    assert(f ne XmlFastScan.Bail, s"unexpected Bail for: $xml")
    assert(rows(f) == staxRows(stax(xml, patterns)), s"diverged on: $xml")
  }

  /** Fast path must refuse (the StAX path then decides). */
  private def mustBail(xml: String, patterns: Seq[String]): Unit =
    assert(fast(xml, patterns) eq XmlFastScan.Bail, s"no Bail for: $xml")

  test("x4 alternatives shape is handled and agrees with StAX") {
    agreeFast("<m><id>4011</id><v>17.00</v><v>20531.56</v>" +
      "<item1>1</item1></m>", Seq("item1", "item2"))
    agreeFast("<m><id>4012</id><v>36.00</v><v>48777.31</v>" +
      "<item2>2</item2></m>", Seq("item1", "item2"))
  }

  test("attributes, self-closing, empty values, whitespace, globs") {
    agreeFast("<r><a x='1' y=\"2\">v</a><b/><c></c></r>", Seq("a", "b", "c"))
    agreeFast("<r>\n  <item ln='1'>7</item>\n  <item ln='2'>9</item>\n</r>",
      Seq("item"))
    agreeFast("<r><q_A>1</q_A><zz>2</zz><q_B>3</q_B></r>", Seq("q_*"))
    agreeFast("<r><a>1</a></r>", Seq.empty) // empty patterns = all
    agreeFast("<root/>", Seq("a"))
    agreeFast("<r><skip><deep><deeper x='9'>t</deeper></deep></skip>" +
      "<a>1</a></r>", Seq("a")) // deep unmatched subtrees skip cleanly
  }

  test("bails on everything outside the proven subset") {
    mustBail("<?xml version='1.0'?><r><a>1</a></r>", Seq("a")) // prolog
    mustBail("<!DOCTYPE r [<!ENTITY e 'x'>]><r><a>&e;</a></r>", Seq("a"))
    mustBail("<r><a>one &amp; two</a></r>", Seq("a")) // entity in value
    mustBail("<r><a x='&lt;'>v</a></r>", Seq("a")) // entity in attr
    mustBail("<r><a><nested>1</nested></a></r>", Seq("a")) // non-leaf match
    mustBail("<r><a><![CDATA[v]]></a></r>", Seq("a")) // CDATA
    mustBail("<r><!-- c --><a>1</a></r>", Seq("a")) // comment
    mustBail("<ns:r><a>1</a></ns:r>", Seq("a")) // namespaces
    mustBail("<r xmlns='u'><a>1</a></r>", Seq("a"))
    mustBail("<r><ns:a>1</ns:a></r>", Seq("a"))
    mustBail("<rec><id>", Seq("id")) // truncated (x10 shape)
    mustBail("<r><a>1</b></r>", Seq("a")) // mismatched end tag
    mustBail("<r><x><a>1</a></z></r>", Seq("a")) // bad nesting in skip
    mustBail("<r><a>1</a>", Seq("a")) // unclosed root
    mustBail("<r><a>1</a></r>trailing", Seq("a")) // garbage after root
    // '&' ANYWHERE bails — an undefined entity would null the row in StAX
    mustBail("<r><skip>&amp;</skip><a>1</a></r>", Seq("a"))
    mustBail("<r><skip x='&amp;'>t</skip><a>1</a></r>", Seq("a"))
    mustBail("<r>&amp;<a>1</a></r>", Seq("a"))
  }

  test("needValue=false (tag/attrs-only) captures empty value like StAX") {
    val f = fast("<r><a x='1'>ignored</a></r>", Seq("a"), needValue = false)
    assert(f ne XmlFastScan.Bail)
    assert(rows(f) == Seq(("a", "", Map("x" -> "1"))))
    assert(rows(f) ==
      staxRows(stax("<r><a x='1'>ignored</a></r>", Seq("a"),
        needValue = false)))
  }

  test("childrenAt fused descent: agrees with StAX; absent container is " +
      "null; second container occurrence ignored; post-container " +
      "malformation bails") {
    def fastAt(xml: String, cont: String, pats: Seq[String]): AnyRef =
      XmlFastScan.childrenAt(UTF8String.fromString(xml), cont, pats,
        "specat:" + cont + pats.mkString(","), needOuter = false,
        needValue = true)
    def staxAt(xml: String, cont: String,
        pats: Seq[String]): Seq[XmlStax.Child] =
      XmlStax.childrenAt(xml, cont, pats,
        "specatstax:" + cont + pats.mkString(","), needOuter = false,
        needValue = true)
    val doc = "<r><id>7</id><vals><q_A>1.5</q_A><zz>x</zz>" +
      "<q_B>2.5</q_B></vals><tail>t</tail></r>"
    val f = fastAt(doc, "vals", Seq("q_*"))
    assert(f ne XmlFastScan.Bail)
    assert(rows(f) == staxRows(staxAt(doc, "vals", Seq("q_*"))))
    assert(rows(f).map(_._1) == Seq("q_A", "q_B"))
    // absent container -> null (both engines)
    assert(fastAt("<r><id>7</id></r>", "vals", Seq("q_*")) == null)
    assert(staxAt("<r><id>7</id></r>", "vals", Seq("q_*")) == null)
    // only the FIRST container occurrence is descended
    val two = "<r><vals><q_A>1</q_A></vals><vals><q_B>2</q_B></vals></r>"
    assert(rows(fastAt(two, "vals", Seq("q_*"))) ==
      staxRows(staxAt(two, "vals", Seq("q_*"))))
    // a malformation AFTER the container must not be silently accepted
    assert(fastAt("<r><vals><q_A>1</q_A></vals><bad>", "vals",
      Seq("q_*")) eq XmlFastScan.Bail)
    // empty and self-closing containers
    assert(rows(fastAt("<r><vals></vals></r>", "vals", Seq("q_*"))).isEmpty)
    assert(rows(fastAt("<r><vals/></r>", "vals", Seq("q_*"))).isEmpty)
  }

  test("flatStruct randomized sweep: whenever the fast path accepts, it " +
      "equals Spark's own XmlToStructsEvaluator") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("_a1", StringType),
      StructField("s", ArrayType(StringType)),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("zz", ArrayType(StringType))))))))
    val spec = XmlFastScan.FlatSpec.of(schema).get
    val evaluator = {
      val opts = Map.newBuilder[String, String]
      Bind.xmlOptions.forEach((k, v) => opts += (k -> v))
      org.apache.spark.sql.catalyst.expressions.xml.XmlToStructsEvaluator(
        opts.result(), schema, "_corrupt_record", Some("UTC"),
        org.apache.spark.sql.catalyst.expressions.Literal(
          UTF8String.fromString(""), StringType))
    }
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    val rnd = new scala.util.Random(4242)
    var accepted = 0
    (1 to 600).foreach { _ =>
      val attr = rnd.nextInt(3) match {
        case 0 => ""
        case 1 => s" a1='${rnd.nextInt(100)}'"
        case _ => s" a1=\"w${rnd.nextInt(10)}\""
      }
      val kids = (0 until rnd.nextInt(5)).map { _ =>
        rnd.nextInt(6) match {
          case 0 => s"<s>${rnd.nextInt(1000)}</s>"
          case 1 => s"<s>word${rnd.nextInt(10)}</s>"
          case 2 =>
            val zz = (0 until rnd.nextInt(3))
              .map(_ => s"<zz>${rnd.nextInt(50)}</zz>").mkString
            s"<arr>$zz</arr>"
          case 3 => s"<junk><deep>${rnd.nextInt(9)}</deep></junk>"
          case 4 => "<arr/>"
          case _ => s"<s>mixed &amp; entity</s>" // outside the subset
        }
      }.mkString
      val doc = s"<root$attr>$kids</root>"
      val fast = XmlFastScan.flatStruct(UTF8String.fromString(doc), spec)
      if (!(fast eq XmlFastScan.Bail)) {
        accepted += 1
        val viaSpark = evaluator.evaluate(UTF8String.fromString(doc))
        assert(toScala(fast) == toScala(viaSpark), s"diverged on: $doc")
      }
    }
    assert(accepted > 150) // the fast subset must actually trigger
  }

  test("randomized equivalence sweep: fast accepts => identical to StAX") {
    val rnd = new scala.util.Random(42)
    val tags = Seq("aa", "bb", "cc", "item1", "item2")
    var accepted = 0
    (1 to 500).foreach { _ =>
      val kids = (1 to rnd.nextInt(5)).map { _ =>
        val t = tags(rnd.nextInt(tags.length))
        val attr = if (rnd.nextBoolean()) s" k='${rnd.nextInt(10)}'" else ""
        val content = rnd.nextInt(4) match {
          case 0 => ""
          case 1 => rnd.nextInt(1000).toString
          case 2 => s"<inner>${rnd.nextInt(10)}</inner>"
          case _ => "text value"
        }
        if (content.isEmpty && rnd.nextBoolean()) s"<$t$attr/>"
        else s"<$t$attr>$content</$t>"
      }.mkString
      val doc = s"<root>$kids</root>"
      val pats = Seq(tags(rnd.nextInt(tags.length)), "item*")
      val f = fast(doc, pats)
      if (!(f eq XmlFastScan.Bail)) {
        accepted += 1
        assert(rows(f) == staxRows(stax(doc, pats)), s"diverged on: $doc")
      }
    }
    assert(accepted > 100) // the fast subset must actually trigger
  }

  // ---------------------------------------------------------------------
  // outer-XML capture, line ends, and the recursive kernel
  // ---------------------------------------------------------------------

  private type Full = (String, String, String, Seq[(String, String)])

  private def fullRows(a: AnyRef): Seq[Full] = {
    val arr = a.asInstanceOf[GenericArrayData]
    (0 until arr.numElements()).map { i =>
      val r = arr.array(i).asInstanceOf[InternalRow]
      val m = r.getMap(3)
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString,
        r.getUTF8String(2).toString,
        (0 until m.numElements()).map(j =>
          (m.keyArray.getUTF8String(j).toString,
            m.valueArray.getUTF8String(j).toString)))
    }
  }

  private def staxFull(cs: Seq[XmlStax.Child]): Seq[Full] =
    cs.map(c => (c.tag, c.outer, c.value, c.attrs))

  /** `children` with outer capture; Bail or the full rows. */
  private def fastOuter(xml: String, pats: Seq[String],
      needValue: Boolean): AnyRef =
    XmlFastScan.children(UTF8String.fromString(xml), pats,
      "outer:" + pats.mkString(",") + needValue, fromRoot = true,
      needOuter = true, needValue = needValue)

  private def staxOuter(xml: String, pats: Seq[String],
      needValue: Boolean): Seq[XmlStax.Child] =
    XmlStax.children(xml, pats, fromRoot = true,
      "outerstax:" + pats.mkString(",") + needValue, needOuter = true,
      needValue = needValue)

  /** Spark's own evaluator over `schema`, with the DSL's options. */
  private def sparkEval(schema: org.apache.spark.sql.types.StructType)
      : String => Any = {
    import org.apache.spark.sql.types.StringType
    val opts = Map.newBuilder[String, String]
    Bind.xmlOptions.forEach((k, v) => opts += (k -> v))
    val ev = org.apache.spark.sql.catalyst.expressions.xml
      .XmlToStructsEvaluator(opts.result(), schema, "_corrupt_record",
        Some("UTC"), org.apache.spark.sql.catalyst.expressions.Literal(
          UTF8String.fromString(""), StringType))
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    doc => toScala(ev.evaluate(UTF8String.fromString(doc)))
  }

  private def toScalaOf(schema: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)

  test("outer capture of leaf and non-leaf children agrees with StAX") {
    val docs = Seq(
      "<r><lines c='1'>\n  <item>1</item>\n <fee/><x></x><y> </y></lines></r>",
      "<r><a k=\"a>b\" q='say \"hi\"'>t>x</a><e/><e></e></r>",
      "<r><a  k = '1'  ><b  /><c x='y'></c ></a ><a>plain</a></r>",
      "<order id='1'><cust t='g'><name>C</name></cust><ship><city>X</city>" +
        "<zip>123</zip></ship><ext_red w='5'/></order>",
      "<r><a><b><c><d>deep</d></c></b>tail</a></r>")
    for (d <- docs; v <- Seq(false, true)) {
      val pats = Seq("lines", "a", "e", "ship", "ext_*", "cust")
      val f = fastOuter(d, pats, v)
      val want = staxFull(staxOuter(d, pats, v))
      // a value is captured from leaf children only
      if (f eq XmlFastScan.Bail) assert(v, s"unexpected Bail for: $d")
      else assert(fullRows(f) == want, s"diverged on: $d")
    }
    assert(fullRows(fastOuter(docs.head, Seq("lines"), needValue = false))
      .head._2 == "<lines c=\"1\">\n  <item>1</item>\n <fee /><x /><y> </y>" +
        "</lines>")
  }

  test("outer capture keeps the bail rules") {
    Seq("<r><a>one &amp; two</a></r>", "<r><a><![CDATA[v]]></a></r>",
      "<r><a><!-- c --><b/></a></r>", "<r><a><?pi x?></a></r>",
      "<r><a><ns:b/></a></r>", "<r><a><b xmlns='u'/></a></r>",
      "<r><a><b>1</c></a></r>", "<r><a><b>x]]>y</b></a></r>",
      "<r><a><b>1</b></r>").foreach { d =>
      assert(fastOuter(d, Seq("a"), needValue = false) eq XmlFastScan.Bail,
        s"no Bail for: $d")
    }
  }

  test("outer capture: randomized differential against StAX") {
    val rnd = new scala.util.Random(7)
    val tags = Seq("a", "b", "item", "x_1", "q")
    def attrs(): String = (0 until rnd.nextInt(3)).map { k =>
      val v = rnd.nextInt(6) match {
        case 0 => ""
        case 1 => "a>b"
        case 2 => " sp ace "
        case 3 => "w" + rnd.nextInt(9)
        case 4 => "&amp;" // bails
        case _ => "v\"q"
      }
      val q = if (v.contains("\"")) "'" else if (rnd.nextBoolean()) "'"
        else "\""
      val ws = if (rnd.nextInt(4) == 0) "  " else " "
      s"${ws}k$k=$q$v$q"
    }.mkString
    def text(): String = rnd.nextInt(9) match {
      case 0 => ""
      case 1 => " "
      case 2 => "x>y"
      case 3 => "l1\r\nl2"
      case 4 => "l1\rl2\r"
      case 5 => "\n  "
      case 6 => "t" + rnd.nextInt(100)
      case 7 => "<!-- c -->" // bails
      case _ => "caf\u00e9"
    }
    def elem(depth: Int): String = {
      val t = tags(rnd.nextInt(tags.length))
      val a = attrs()
      if (rnd.nextInt(4) == 0) s"<$t$a${if (rnd.nextBoolean()) " " else ""}/>"
      else {
        val kids = if (depth >= 3) "" else
          (0 until rnd.nextInt(3)).map(_ => text() + elem(depth + 1))
            .mkString
        val end = if (rnd.nextInt(5) == 0) s"</$t >" else s"</$t>"
        s"<$t$a>$kids${text()}$end"
      }
    }
    var accepted, nonLeaf = 0
    (1 to 1500).foreach { _ =>
      val doc = "<root>" + (0 until rnd.nextInt(4)).map(_ => elem(1))
        .mkString + "</root>"
      val pats = Seq(tags(rnd.nextInt(tags.length)), "x_*")
      val v = rnd.nextBoolean()
      val f = fastOuter(doc, pats, v)
      if (!(f eq XmlFastScan.Bail)) {
        accepted += 1
        val got = fullRows(f)
        if (got.exists(_._2.contains("</"))) nonLeaf += 1
        assert(got == staxFull(staxOuter(doc, pats, v)),
          s"diverged on: $doc")
      }
    }
    assert(accepted > 400 && nonLeaf > 60, s"$accepted / $nonLeaf")
  }

  test("childrenAt with outer capture agrees with StAX") {
    val doc = "<r><id>7</id><vals n='2'><q_A k='1'><v>1.5</v></q_A><zz>x</zz>" +
      "<q_B/></vals><tail>t</tail></r>"
    val f = XmlFastScan.childrenAt(UTF8String.fromString(doc), "vals",
      Seq("q_*"), "at-outer", needOuter = true, needValue = false)
    assert(f ne XmlFastScan.Bail)
    assert(fullRows(f) == staxFull(XmlStax.childrenAt(doc, "vals",
      Seq("q_*"), "at-outer-stax", needOuter = true, needValue = false)))
    assert(fullRows(f).map(_._2) ==
      Seq("<q_A k=\"1\"><v>1.5</v></q_A>", "<q_B />"))
  }

  test("line ends: CR LF and a lone CR read as LF, like StAX and from_xml") {
    import org.apache.spark.sql.types._
    val docs = Seq("<r><a>x\r\ny</a></r>", "<r><a>x\ry</a></r>")
    for (d <- docs) {
      agreeFast(d, Seq("a"))
      assert(rows(fast(d, Seq("a"))).head._2 == "x\ny")
      for (v <- Seq(false, true)) {
        val f = fastOuter(d, Seq("a"), v)
        assert(fullRows(f) == staxFull(staxOuter(d, Seq("a"), v)), d)
        assert(fullRows(f).head._2 == "<a>x\ny</a>", d)
      }
      val schema = StructType(Seq(StructField("a", ArrayType(StringType))))
      val flat = XmlFastScan.flatStruct(UTF8String.fromString(d),
        XmlFastScan.FlatSpec.of(schema).get)
      assert(flat ne XmlFastScan.Bail)
      assert(toScalaOf(schema)(flat) == sparkEval(schema)(d), d)
    }
  }

  // a nested read schema: root attribute and scalar, an obj with an
  // attribute, a scalar and a nested obj, and the native-array container
  private lazy val nestedSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("_a1", StringType),
      StructField("s", ArrayType(StringType)),
      StructField("o", ArrayType(StructType(Seq(
        StructField("_t", StringType),
        StructField("name", ArrayType(StringType)),
        StructField("sub", ArrayType(StructType(Seq(
          StructField("z", ArrayType(StringType)))))))))),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("zz", ArrayType(StringType))))))))
  }

  private def kernel(doc: String): AnyRef =
    XmlFastScan.flatStruct(UTF8String.fromString(doc),
      XmlFastScan.FlatSpec.of(nestedSchema).get)

  test("recursive kernel: obj shapes agree with from_xml; text inside an " +
      "obj and padded attributes bail") {
    val spark = sparkEval(nestedSchema)
    val toScala = toScalaOf(nestedSchema)
    Seq("<r><o/></r>", "<r><o></o></r>", "<r><o t='g'/></r>",
      "<r><o t='g'></o></r>", "<r><o t=''/></r>",
      "<r><o u='ignored'><name>n</name></o></r>",
      "<r>\n <o t='g'>\n  <name>a</name>\n  <name>b</name>\n </o>\n</r>",
      "<r><o><sub/><sub></sub><sub><z>1</z><z>2</z></sub></o><o t='h'/></r>",
      "<r a1='x'><s>1</s><o><junk><deep>1</deep></junk></o><arr/></r>",
      "<r><o><name>a</name><o><name>not a member</name></o></o></r>",
      "<r><arr attr='ignored'><zz>1</zz></arr></r>").foreach { d =>
      val f = kernel(d)
      assert(f ne XmlFastScan.Bail, s"unexpected Bail for: $d")
      assert(toScala(f) == spark(d), s"diverged on: $d")
    }
    Seq("<r><o>text</o></r>", "<r><o t='g'>text</o></r>",
      "<r><o><name>n</name>tail</o></r>", "<r><o><sub>z</sub></o></r>",
      "<r a1=' x '/>", "<r><o t='g '/></r>",
      "<r><o><name>a &amp; b</name></o></r>",
      "<r><o><!-- c --></o></r>").foreach { d =>
      assert(kernel(d) eq XmlFastScan.Bail, s"no Bail for: $d")
    }
  }

  test("recursive kernel: randomized differential against " +
      "XmlToStructsEvaluator") {
    val spark = sparkEval(nestedSchema)
    val toScala = toScalaOf(nestedSchema)
    val rnd = new scala.util.Random(99)
    def ws(): String = rnd.nextInt(4) match {
      case 0 => "\n  "
      case 1 => " "
      case _ => ""
    }
    def attr(n: String): String = rnd.nextInt(7) match {
      case 0 | 1 => ""
      case 2 => s" $n='${rnd.nextInt(100)}'"
      case 3 => s" $n=\"w${rnd.nextInt(10)}\""
      case 4 => s" $n=''"
      case 5 => s" $n=' pad'" // from_xml trims: bails
      case _ => s" other='${rnd.nextInt(5)}'"
    }
    def sub(): String = rnd.nextInt(4) match {
      case 0 => "<sub/>"
      case 1 => "<sub></sub>"
      case _ => "<sub>" + (0 until rnd.nextInt(3))
        .map(_ => ws() + s"<z>${rnd.nextInt(9)}</z>").mkString + ws() + "</sub>"
    }
    def obj(): String = {
      val a = attr("t")
      rnd.nextInt(8) match {
        case 0 => s"<o$a/>"
        case 1 => s"<o$a></o>"
        case 2 => s"<o$a>text</o>" // text inside an obj: bails
        case _ =>
          val members = (0 until rnd.nextInt(4)).map { _ =>
            rnd.nextInt(5) match {
              case 0 | 1 => s"<name>n${rnd.nextInt(50)}</name>"
              case 2 => sub()
              case 3 => "<junk><deep>1</deep></junk>"
              case _ => "<name>a&amp;b</name>" // entity: bails
            }
          }
          s"<o$a>" + members.map(ws() + _).mkString + ws() + "</o>"
      }
    }
    var accepted, withObj, withObjAttr, emptyObj, repeated = 0
    (1 to 1500).foreach { _ =>
      val kids = (0 until rnd.nextInt(5)).map { _ =>
        rnd.nextInt(5) match {
          case 0 => s"<s>${rnd.nextInt(1000)}</s>"
          case 1 => "<arr>" + (0 until rnd.nextInt(3))
            .map(_ => s"<zz>${rnd.nextInt(50)}</zz>").mkString + "</arr>"
          case _ => obj()
        }
      }
      val doc = s"<root${attr("a1")}>" + kids.map(ws() + _).mkString + "</root>"
      val f = kernel(doc)
      if (!(f eq XmlFastScan.Bail)) {
        accepted += 1
        if (doc.contains("<o")) withObj += 1
        if (doc.contains("<o t=")) withObjAttr += 1
        if (doc.contains("<o/>") || doc.contains("<o></o>")) emptyObj += 1
        if (kids.count(_.startsWith("<o")) > 1) repeated += 1
        assert(toScala(f) == spark(doc), s"diverged on: $doc")
      }
    }
    // the generator must exercise each obj shape on the accepted side
    assert(accepted > 300 && withObj > 200 && withObjAttr > 50 &&
      emptyObj > 50 && repeated > 50,
      s"$accepted $withObj $withObjAttr $emptyObj $repeated")
  }
}
