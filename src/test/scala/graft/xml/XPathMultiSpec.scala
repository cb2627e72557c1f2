package graft.xml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Parity pin for [[XPathMultiExpr]] against Spark's built-in `xpath_*`
  * family — the x13 gate's single-parse extraction must agree with the
  * per-call-DTM evaluator it replaces, on matched values, positional
  * predicates, text() node sets, and no-match behavior. The genuine
  * `xpath_*` calls live HERE, on spec-sized data, where their per-row
  * re-parse churn cannot hurt (VERDICT r10 What's-wrong #1).
  */
class XPathMultiSpec extends AnyFunSuite with SharedSpark {

  private val docs = Seq(
    // x13's exact shape
    "<r><id>420</id><vals><q_N>17.00</q_N></vals></r>",
    // multiple matches: positional [1] must take the first, text() all
    "<r><id>7</id><vals><q_A>1.50</q_A><q_R>2.25</q_R><q_N>3.00</q_N></vals></r>",
    // missing vals container -> no-match semantics
    "<r><id>9</id></r>",
    // empty container, empty element
    "<r><id>11</id><vals></vals></r>",
    "<r><id>12</id><vals><q_X></q_X></vals></r>",
    // entities and CDATA in values
    "<r><id>13</id><vals><q_E>a&amp;b</q_E><q_C><![CDATA[c<d]]></q_C></vals></r>",
    // nested children below the match: string-value concatenates descendants
    "<r><id>14</id><vals><q_M>1<inner>2</inner>3</q_M></vals></r>",
    // numeric text with surrounding whitespace
    "<r><id> 15 </id><vals><q_W> 4.5 </q_W></vals></r>")

  private def df = {
    import spark.implicits._
    docs.toDF("x")
  }

  test("single-parse multi-path extraction matches the xpath_* family") {
    val m = XPathMultiExpr.xpath_multi(col("x"),
      Seq("/r/id", "/r/vals/*[1]", "/r/vals/*/text()"))
    val mine = df.select(col("x"), m.as("m"))
      .select(
        col("x"),
        expr("try_cast(get(m.p0, 0) AS int)").as("id"),
        coalesce(get(col("m.p1"), lit(0)), lit("")).as("qty_s"),
        expr("try_cast(get(m.p1, 0) AS double)").as("qty"),
        size(col("m.p2")).as("n_vals"))
    val ref = df.select(
      col("x"),
      expr("xpath_int(x, '/r/id')").as("id"),
      expr("xpath_string(x, '/r/vals/*[1]')").as("qty_s"),
      expr("xpath_double(x, '/r/vals/*[1]')").as("qty"),
      expr("size(xpath(x, '/r/vals/*/text()'))").as("n_vals"))
    val mr = mine.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val rr = ref.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    for (d <- docs) {
      // xpath_int of a no-match/non-numeric is 0 (NaN.intValue); ours is a
      // null cast — compare through the same coalesce the built-in applies
      val List(mi, ms, md, mn) = mr(d).toList
      val List(ri, rs, rd, rn) = rr(d).toList
      val miN = if (mi == null) 0 else mi
      val mdN = md // xpath_double of no-match is NaN; ours null — both "no value"
      val rdN = if (rd != null && rd.asInstanceOf[Double].isNaN) null else rd
      assert(miN == ri, s"id mismatch on $d: $mi vs $ri")
      assert(ms == rs, s"qty_s mismatch on $d: '$ms' vs '$rs'")
      assert(mdN == rdN, s"qty mismatch on $d: $md vs $rd")
      assert(mn == rn, s"n_vals mismatch on $d: $mn vs $rn")
    }
  }

  test("path list semantics: document order, wildcards, deep steps") {
    val doc = "<a><b><c>1</c><d>2</d><c>3</c></b><b><c>4</c></b></a>"
    val m = XPathMultiExpr.xpath_multi(col("x"),
      Seq("/a/b/c", "/a/b[2]/c", "/a/*/*"))
    import spark.implicits._
    val r = Seq(doc).toDF("x").select(m.as("m")).select("m.*").head()
    assert(r.getSeq[String](0) == Seq("1", "3", "4"))
    assert(r.getSeq[String](1) == Seq("4"))
    assert(r.getSeq[String](2) == Seq("1", "2", "3", "4"))
    // built-in agreement on the same paths
    val ref = Seq(doc).toDF("x").select(
      expr("xpath(x, '/a/b/c/text()')"),
      expr("xpath(x, '/a/b[2]/c/text()')")).head()
    assert(ref.getSeq[String](0) == Seq("1", "3", "4"))
    assert(ref.getSeq[String](1) == Seq("4"))
  }

  test("malformed and null input -> null") {
    import spark.implicits._
    val m = XPathMultiExpr.xpath_multi(col("x"), Seq("/a/b"))
    val rows = Seq("<a><b>", null.asInstanceOf[String], "not xml")
      .toDF("x").select(m.as("m")).collect()
    assert(rows.forall(_.isNullAt(0)))
  }

  test("namespace parity: the built-in family resolves a bare node test " +
      "by LOCAL name (/r/b matches <n:b> too) — xpath_multi does the " +
      "same, first value and match count agreeing") {
    import spark.implicits._
    val doc = "<r xmlns:n='u'><n:b>1</n:b><b>2</b></r>"
    val m = XPathMultiExpr.xpath_multi(col("x"), Seq("/r/b"))
    val r = Seq(doc).toDF("x").select(m.as("m")).select(col("m.p0")).head()
    // local-name matching: BOTH elements, document order
    assert(r.getSeq[String](0) == Seq("1", "2"))
    val ref = Seq(doc).toDF("x").select(
      expr("xpath_string(x, '/r/b')"),
      expr("size(xpath(x, '/r/b'))")).head()
    assert(ref.getString(0) == "1")  // built-in first match is n:b's value
    assert(ref.getInt(1) == 2)       // and it too matches both
  }

  test("adjacent text and CDATA segments coalesce into ONE text node — " +
      "count parity with the built-in DTM pinned") {
    import spark.implicits._
    // xpath_multi parses with IS_COALESCING=true, so <a>x<![CDATA[y]]>z</a>
    // yields a single text node "xyz". Empirically the built-in family's
    // DTM coalesces the same way (size(xpath(...'text()')) == 1), so the
    // COUNT contract of the property test holds on CDATA-adjacent content
    // too; the built-in's LIST entry carries only the first segment ("x",
    // the Hive partial-getNodeValue quirk) while its string-value form
    // agrees with ours ("xyz") — the same value-vs-node divergence already
    // documented for element matches.
    val cases = Seq(
      ("<a>x<![CDATA[y]]></a>", "xy"),
      ("<a>x<![CDATA[y]]>z</a>", "xyz"),
      ("<a><![CDATA[y]]>z</a>", "yz"),
      ("<a><![CDATA[y]]></a>", "y"))
    val m = XPathMultiExpr.xpath_multi(col("x"), Seq("/a/text()"))
    val rows = cases.map(_._1).toDF("x").select(
      col("x"), m.as("m"),
      expr("size(xpath(x, '/a/text()'))").as("ref_n"),
      expr("xpath_string(x, '/a/text()')").as("ref_sv")).collect()
    val byDoc = rows.map(r => r.getString(0) ->
      (r.getStruct(1).getSeq[String](0), r.getInt(2), r.getString(3))).toMap
    for ((doc, want) <- cases) {
      val (mine, refN, refSv) = byDoc(doc)
      assert(mine == Seq(want), s"$doc: coalesced text $mine != Seq($want)")
      assert(refN == 1, s"$doc: built-in DTM count $refN != 1 — the " +
        "coalescing contract with the built-in family has CHANGED")
      assert(refSv == want, s"$doc: built-in string-value '$refSv' != '$want'")
    }
  }

  test("@attr steps: values in document order, absent attribute " +
      "contributes nothing, exact list parity with the built-in") {
    import spark.implicits._
    val adocs = Seq(
      "<r id='7'><v f='A' q='1.5'/><v q='2.5'/><v f='C'/></r>",
      "<r><v f='solo'>txt</v></r>",
      "<r id='x &amp; y'/>")
    val m = XPathMultiExpr.xpath_multi(col("x"),
      Seq("/r/@id", "/r/v/@f", "/r/v[2]/@q", "/r/v/@nope"))
    val rows = adocs.toDF("x").select(col("x"), m.as("m"),
      expr("xpath(x, '/r/v/@f')").as("ref_f"),
      expr("xpath_string(x, '/r/@id')").as("ref_id"),
      expr("size(xpath(x, '/r/v/@nope'))").as("ref_nope")).collect()
    val byDoc = rows.map(r => r.getString(0) -> (
      r.getStruct(1).getSeq[String](0), r.getStruct(1).getSeq[String](1),
      r.getStruct(1).getSeq[String](2), r.getStruct(1).getSeq[String](3),
      r.getSeq[String](2), r.getString(3), r.getInt(4))).toMap

    val (id1, f1, q1, n1, rf1, rid1, rn1) = byDoc(adocs(0))
    assert(id1 == Seq("7") && rid1 == "7")
    // middle <v> lacks f: node-set skips it — document order of the rest
    assert(f1 == Seq("A", "C"))
    assert(rf1 == Seq("A", "C"), "built-in list parity for @attr broke")
    assert(q1 == Seq("2.5")) // positional step composes with @
    assert(n1 == Seq.empty && rn1 == 0)

    val (id2, f2, _, _, rf2, rid2, _) = byDoc(adocs(1))
    assert(id2 == Seq.empty && rid2 == "")
    assert(f2 == Seq("solo") && rf2 == Seq("solo"))

    val (id3, _, _, _, _, rid3, _) = byDoc(adocs(2))
    assert(id3 == Seq("x & y") && rid3 == "x & y") // entity in attr value
  }

  test("@attr path validation: attr must terminate the path") {
    intercept[IllegalArgumentException] {
      XPathMini.compile("/a/@b/c")
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/a/text()/@b")
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/@a")
    }
  }

  test("a bad path fails when the EXPRESSION is constructed (driver-" +
      "side), not per-task at eval") {
    intercept[IllegalArgumentException] {
      XPathMultiExpr.xpath_multi(col("x"), Seq("/a/b[position()=1]"))
    }
  }

  test("unsupported path syntax rejected at construction") {
    // position() EQUALITY is spelled [k] in the subset
    intercept[IllegalArgumentException] {
      XPathMini.compile("/a/b[position()=1]")
    }
    // last() composes only as the whole predicate, not arithmetic
    intercept[IllegalArgumentException] {
      XPathMini.compile("/a/b[last()-1]")
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("relative/path")
    }
    // '///': empty step between two descendant markers
    intercept[IllegalArgumentException] {
      XPathMini.compile("///a")
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/a/b//")
    }
    // x29 made descendant terminals VALID — compile must accept them
    assert(XPathMini.compile("/a//text()").descTerm)
    assert(XPathMini.compile("/a//@b").descTerm)
    assert(XPathMini.compile("//@b").steps.isEmpty)
    assert(XPathMini.compile("//text()").steps.isEmpty)
  }

  test("union |: document-order interleave regardless of branch order, " +
      "identity dedup of overlapping branches, built-in count parity") {
    import spark.implicits._
    val doc = "<r><h>A</h><m><h>B</h></m><t>C</t></r>"
    val one = Seq(doc).toDF("x")
    val m = XPathMultiExpr.xpath_multi(col("x"), Seq(
      "/r/h | /r/t", // disjoint, doc order
      "/r/t | /r/h", // branch order reversed -> SAME result
      "//h | /r/h", // overlap: the top h reached twice, surfaces once
      "//h | /r/m", // container and its descendant both selected
      "/r/h | /r/h | /r/t")) // 3-branch, self-overlap
    val r = one.select(m.as("m")).select(
      col("m.p0"), col("m.p1"), col("m.p2"), col("m.p3"), col("m.p4"))
      .head()
    assert(r.getSeq[String](0) == Seq("A", "C"))
    assert(r.getSeq[String](1) == Seq("A", "C"),
      "union must normalize to document order, not branch order")
    assert(r.getSeq[String](2) == Seq("A", "B"),
      "a node reached by both branches must surface exactly once")
    // doc order: h(A) @1, m @2 (string-value 'B'), h(B) @3
    assert(r.getSeq[String](3) == Seq("A", "B", "B"))
    assert(r.getSeq[String](4) == Seq("A", "C"))
    // count parity with the built-in evaluator's union (Xalan dedups
    // and doc-orders the same way; element matches are NULL-valued in
    // its list form, so counts are the comparable surface)
    val ref = one.select(
      expr("size(xpath(x, '/r/h | /r/t'))"),
      expr("size(xpath(x, '//h | /r/h'))"),
      expr("size(xpath(x, '//h | /r/m'))")).head()
    assert(ref.getInt(0) == 2 && ref.getInt(1) == 2 && ref.getInt(2) == 3)
  }

  test("union subset rule: text() and mixed-terminal branches rejected " +
      "at construction; same-@attr unions accepted (x31); empty branch " +
      "rejected") {
    intercept[IllegalArgumentException] {
      XPathMini.compileAll("/a/b | /a/c/text()")
    }
    intercept[IllegalArgumentException] { // mixed element + attr
      XPathMini.compileAll("/a/@x | /a/b")
    }
    intercept[IllegalArgumentException] { // mixed attr names
      XPathMini.compileAll("/a/@x | /a/b/@y")
    }
    intercept[IllegalArgumentException] {
      XPathMini.compileAll("/a/b | | /a/c")
    }
    intercept[IllegalArgumentException] {
      XPathMini.compileAll("/a/b |")
    }
    // x31: same-attr branches compile, descendant terminals included
    assert(XPathMini.compileAll("/a/@x | /a/b/@x").length == 2)
    assert(XPathMini.compileAll("//c/@id | /r/a/@id").length == 2)
    // single path with selector stays fully supported through compileAll
    assert(XPathMini.compileAll("/a/b/text()").length == 1)
  }

  test("x31 attribute-terminal unions: owner-element document order, " +
      "cross-branch dedup, descendant-terminal branches expand their " +
      "subtrees, missing attributes contribute nothing — exact " +
      "built-in list parity") {
    import spark.implicits._
    val doc = "<r><a id='1'><c id='9'/></a><b id='2'/><a id='3'/>" +
      "<c id='4'/><b/></r>"
    val paths = Seq(
      "/r/a/@id | /r/b/@id",
      "/r/*/@id | /r/a/@id",
      "//c/@id | /r/a/@id",
      "//@id | /r/a/@id",
      "/r/nope/@id | /r/b/@id")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val r = Seq(doc).toDF("x").select(m.as("m")).select("m.*").head()
    assert(r.getSeq[String](0) == Seq("1", "2", "3"))
    assert(r.getSeq[String](1) == Seq("1", "2", "3", "4"))
    assert(r.getSeq[String](2) == Seq("1", "9", "3", "4"))
    assert(r.getSeq[String](3) == Seq("1", "9", "2", "3", "4"))
    assert(r.getSeq[String](4) == Seq("2"))
    val ref = Seq(doc).toDF("x")
      .select(paths.map(p => expr(s"xpath(x, '$p')")): _*).head()
    paths.indices.foreach(i => assert(
      r.getSeq[String](i) == ref.getSeq[String](i),
      s"built-in parity on ${paths(i)}"))
  }

  test("child-value predicates [q='v']: existential over multiple " +
      "children, string-value includes nested text, built-in parity, " +
      "composition with // and *") {
    import spark.implicits._
    val pdocs = Seq(
      // two candidates; the child VALUE selects the second
      "<r><it><k>a</k><q>1</q></it><it><k>b</k><q>2</q></it></r>",
      // existential: ONE it with two k children satisfies both tests
      "<r><it><k>a</k><k>b</k><q>3</q></it></r>",
      // nested text: string-value of k is 'xy', not 'y'
      "<r><it><k><b>x</b>y</k><q>4</q></it></r>",
      // no match anywhere
      "<r><it><k>z</k><q>5</q></it></r>",
      // depth-2 candidate via //
      "<r><s><it><k>b</k><q>6</q></it></s></r>")
    val m = XPathMultiExpr.xpath_multi(col("x"), Seq(
      "/r/it[k='b']/q", "/r/it[k='a']/q", "//it[k='b']/q",
      "/r/*[k='xy']/q"))
    val rows = pdocs.toDF("x").select(col("x"), m.as("m"),
      expr("xpath(x, \"/r/it[k='b']/q/text()\")").as("ref_b"),
      expr("xpath(x, \"//it[k='b']/q/text()\")").as("ref_desc"))
      .collect()
    val byDoc = rows.map(r => r.getString(0) -> (
      r.getStruct(1).getSeq[String](0), r.getStruct(1).getSeq[String](1),
      r.getStruct(1).getSeq[String](2), r.getStruct(1).getSeq[String](3),
      r.getSeq[String](2), r.getSeq[String](3))).toMap
    val d0 = byDoc(pdocs(0))
    assert(d0._1 == Seq("2") && d0._1 == d0._5, "value selects by child")
    val d1 = byDoc(pdocs(1))
    assert(d1._1 == Seq("3") && d1._2 == Seq("3"),
      "existential: one element satisfies BOTH [k='a'] and [k='b']")
    assert(d1._1 == d1._5, "built-in parity on the existential case")
    val d2 = byDoc(pdocs(2))
    assert(d2._4 == Seq("4"), "string-value concatenates nested text")
    val d3 = byDoc(pdocs(3))
    assert(d3._1 == Seq.empty && d3._3 == Seq.empty && d3._5 == Seq.empty)
    val d4 = byDoc(pdocs(4))
    assert(d4._1 == Seq.empty, "child axis stays at depth 1")
    assert(d4._3 == Seq("6") && d4._3 == d4._6, "// reaches depth 2")
    // x28: successive predicates are in the subset since round 15; '@' vs child stays distinguished
    XPathMini.compile("/r/it[k='a'][2]/q")
  }

  test("[last()] predicates: final sibling of the CONTEXT (per-parent " +
      "under //), built-in parity, composition with following steps") {
    import spark.implicits._
    val doc = "<r><v>1</v><v>2</v><v>3</v>" +
      "<it><q>a</q></it><it><q>b</q></it>" +
      "<s><v>9</v></s></r>"
    val one = Seq(doc).toDF("x")
    val m = XPathMultiExpr.xpath_multi(col("x"), Seq(
      "/r/v[last()]", "/r/it[last()]/q", "//v[last()]",
      "/r/s/v[last()]", "/r/zz[last()]"))
    val r = one.select(m.as("m"),
      expr("xpath_string(x, '/r/v[last()]')").as("ref_last"),
      expr("xpath_string(x, '/r/it[last()]/q')").as("ref_q"),
      expr("size(xpath(x, '//v[last()]'))").as("ref_n")).head()
    val st = r.getStruct(0)
    assert(st.getSeq[String](0) == Seq("3"), "last of the v run")
    assert(st.getSeq[String](1) == Seq("b"), "last composes with /q")
    // per-parent meaning: last v of <r> (3) AND last v of <s> (9)
    assert(st.getSeq[String](2) == Seq("3", "9"))
    assert(st.getSeq[String](3) == Seq("9"))
    assert(st.getSeq[String](4) == Seq.empty, "no match -> empty")
    // built-in evaluator agrees
    assert(r.getString(1) == "3" && r.getString(2) == "b" &&
      r.getInt(3) == 2)
  }

  test("union split is quote-aware: '|' inside a predicate value is the " +
      "value, not a union operator") {
    import spark.implicits._
    // one path, not a mis-split two-branch union
    assert(XPathMini.compileAll("/r/it[@t='a|b']/q").length == 1)
    // and a genuine union whose FIRST branch carries a quoted '|'
    assert(XPathMini.compileAll("/r/it[@t='a|b']/q | /r/it[@t='c']/q")
      .length == 2)
    val docs = Seq(
      "<r><it t='a|b'><q>1</q></it><it t='c'><q>2</q></it></r>",
      "<r><it t='a'><q>3</q></it></r>").toDF("x")
    val m = XPathMultiExpr.xpath_multi(col("x"), Seq(
      "/r/it[@t='a|b']/q",
      "/r/it[@t='a|b']/q | /r/it[@t='c']/q"))
    val rows = docs.select(col("x"), m.as("m")).collect()
      .map(r => r.getString(0) ->
        (r.getStruct(1).getSeq[String](0), r.getStruct(1).getSeq[String](1)))
      .toMap
    assert(rows(
      "<r><it t='a|b'><q>1</q></it><it t='c'><q>2</q></it></r>") ==
      (Seq("1"), Seq("1", "2")))
    assert(rows("<r><it t='a'><q>3</q></it></r>") ==
      (Seq.empty, Seq.empty))
  }

  test("descendant axis //: any-depth matches in document order, " +
      "per-parent sibling predicates, node-set dedup — parity with " +
      "the built-in") {
    import spark.implicits._
    val doc = "<r><x><a>1</a><a>2</a></x><a>3<a>4</a></a><b><a>5</a></b></r>"
    val m = XPathMultiExpr.xpath_multi(col("x"),
      Seq("//a", "//a[2]", "/r//a", "/r/x//a", "//x/a", "//nope"))
    val r = Seq(doc).toDF("x").select(m.as("m")).select("m.*").head()
    // string-values, document order, every depth
    assert(r.getSeq[String](0) == Seq("1", "2", "34", "4", "5"))
    // //a[2] = each a that is the SECOND a-child of ITS parent (XPath's
    // descendant-or-self expansion), NOT "2nd match in document order"
    assert(r.getSeq[String](1) == Seq("2"))
    assert(r.getSeq[String](2) == Seq("1", "2", "34", "4", "5"))
    assert(r.getSeq[String](3) == Seq("1", "2"))
    assert(r.getSeq[String](4) == Seq("1", "2"))
    assert(r.getSeq[String](5) == Seq.empty)
    // built-in agreement: counts and sibling-predicate semantics
    val ref = Seq(doc).toDF("x").select(
      expr("size(xpath(x, '//a'))"),
      expr("xpath_string(x, '//a')"),
      expr("size(xpath(x, '//a[2]'))"),
      expr("xpath_string(x, '//a[2]')"),
      expr("size(xpath(x, '/r/x//a'))")).head()
    assert(ref.getInt(0) == 5)
    assert(ref.getString(1) == "1")
    assert(ref.getInt(2) == 1)
    assert(ref.getString(3) == "2")
    assert(ref.getInt(4) == 2)

    // node-set dedup: //a//b reaches the same b through BOTH enclosing
    // a contexts — one node, once
    val nested = "<r><a><a><b>z</b></a></a></r>"
    val m2 = XPathMultiExpr.xpath_multi(col("x"), Seq("//a//b", "//a"))
    val r2 = Seq(nested).toDF("x").select(m2.as("m")).select("m.*").head()
    assert(r2.getSeq[String](0) == Seq("z"))
    assert(r2.getSeq[String](1) == Seq("z", "z")) // outer a, inner a
    val ref2 = Seq(nested).toDF("x")
      .select(expr("size(xpath(x, '//a//b'))"),
        expr("size(xpath(x, '//a'))")).head()
    assert(ref2.getInt(0) == 1)
    assert(ref2.getInt(1) == 2)

    // leading // matches the document element itself
    val m3 = XPathMultiExpr.xpath_multi(col("x"), Seq("//r"))
    val r3 = Seq("<r>top<c>x</c></r>").toDF("x")
      .select(m3.as("m")).select("m.*").head()
    assert(r3.getSeq[String](0) == Seq("topx"))

    // //a/text(): trailing text() composes after a descendant step
    val m4 = XPathMultiExpr.xpath_multi(col("x"), Seq("//a/text()"))
    val r4 = Seq(doc).toDF("x").select(m4.as("m")).select("m.*").head()
    assert(r4.getSeq[String](0) == Seq("1", "2", "3", "4", "5"))
    val ref4 = Seq(doc).toDF("x")
      .select(expr("xpath(x, '//a/text()')")).head()
    assert(ref4.getSeq[String](0) == Seq("1", "2", "3", "4", "5"))
  }

  test("x30 string-length/normalize-space predicates: built-in parity " +
      "incl. the absent-node length-0 case; normalize collapses tabs " +
      "and newlines; composition with and/not") {
    import spark.implicits._
    val doc = "<r><it a='abcd'><n>one</n></it>" +
      "<it a='ab'><q>  x \t\n y </q><n>two</n></it>" +
      "<it><q>xy</q><n>three</n></it>" +
      "<it a=' x '><n>four</n></it></r>"
    val paths = Seq(
      "/r/it[string-length(@a)>3]/n",
      "/r/it[string-length(@a)=0]/n",
      "/r/it[string-length(q)>=2]/n",
      "/r/it[normalize-space(q)='x y']/n",
      "/r/it[normalize-space(@a)='x']/n",
      "/r/it[string-length(@a)!=2]/n",
      "/r/it[string-length(n)=3 and not(string-length(@a)>=1)]/n")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val r = Seq(doc).toDF("x").select(m.as("m")).select("m.*").head()
    assert(r.getSeq[String](0) == Seq("one")) // ' x ' is len 3, not >3
    assert(r.getSeq[String](1) == Seq("three")) // absent -> '' -> 0
    assert(r.getSeq[String](2) == Seq("two", "three"))
    assert(r.getSeq[String](3) == Seq("two")) // tabs+newline collapse
    assert(r.getSeq[String](4) == Seq("four"))
    assert(r.getSeq[String](5) == Seq("one", "three", "four"))
    assert(r.getSeq[String](6) == Seq.empty) // 'three' has len 5
    // built-in parity, match counts + first string-values
    val cols = paths.map(p => expr(s"size(xpath(x, \"$p\"))")) ++
      paths.map(p => expr(s"xpath_string(x, \"$p\")"))
    val ref = Seq(doc).toDF("x").select(cols: _*).head()
    paths.indices.foreach { i =>
      assert(r.getSeq[String](i).size == ref.getInt(i),
        s"count parity on ${paths(i)}")
      assert(r.getSeq[String](i).headOption.getOrElse("") ==
        ref.getString(paths.length + i),
        s"first-value parity on ${paths(i)}")
    }
  }

  test("x29 descendant terminals //@attr and //text(): subtree " +
      "selection in document order, mixed-content interleave, " +
      "overlapping-context dedup, whole-document anchors — exact " +
      "list parity with the built-in") {
    import spark.implicits._
    // mixed content: t1 <b>t2</b> t3 — //text() must read t1,t2,t3
    // (the misorder a group-by-owner-element shortcut would produce);
    // attributes at three depths; <a> nests inside <a> for the
    // overlap-dedup case
    val doc = "<r k='0'>t1<a k='1'>x1<a k='2'>x2</a>x3</a>" +
      "<b><c k='3'>y</c></b>t4<a>x4</a></r>"
    val paths = Seq("//text()", "/r//text()", "/r/a//text()",
      "//a//text()", "//@k", "/r//@k", "/r/a//@k", "//a//@k",
      "/r/b//@k", "//nope//text()", "//nope//@k")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val r = Seq(doc).toDF("x").select(m.as("m")).select("m.*").head()
    assert(r.getSeq[String](0) ==
      Seq("t1", "x1", "x2", "x3", "y", "t4", "x4"))
    assert(r.getSeq[String](1) ==
      Seq("t1", "x1", "x2", "x3", "y", "t4", "x4"))
    assert(r.getSeq[String](2) == Seq("x1", "x2", "x3", "x4"))
    // //a//a overlap: inner <a>'s texts surface ONCE (node-set dedup)
    assert(r.getSeq[String](3) == Seq("x1", "x2", "x3", "x4"))
    assert(r.getSeq[String](4) == Seq("0", "1", "2", "3"))
    assert(r.getSeq[String](5) == Seq("0", "1", "2", "3"))
    assert(r.getSeq[String](6) == Seq("1", "2"))
    assert(r.getSeq[String](7) == Seq("1", "2"))
    assert(r.getSeq[String](8) == Seq("3"))
    assert(r.getSeq[String](9) == Seq.empty)
    assert(r.getSeq[String](10) == Seq.empty)
    // exact list parity: the built-in list form carries values for
    // BOTH text and attribute nodes
    val refCols = paths.map(p => expr(s"xpath(x, '$p')"))
    val ref = Seq(doc).toDF("x").select(refCols: _*).head()
    paths.indices.foreach { i =>
      assert(r.getSeq[String](i) == ref.getSeq[String](i),
        s"built-in parity on ${paths(i)}")
    }
  }

  test("property: xpath_multi == built-in xpath node-set form on random " +
      "trees x random paths (names, *, [k], //, text(), //text(), " +
      "no-match)") {
    import spark.implicits._
    // seeded so a failure replays; one DataFrame pass over all cases
    val rnd = new scala.util.Random(42)
    val tags = Array("a", "b", "c")
    def genElem(depth: Int): String = {
      val tag = tags(rnd.nextInt(tags.length))
      val nKids = if (depth >= 3) 0 else rnd.nextInt(4)
      val kids = (0 until nKids).map { _ =>
        if (depth < 3 && rnd.nextBoolean()) genElem(depth + 1)
        else s"t${rnd.nextInt(10)}"
      }
      s"<$tag>${kids.mkString}</$tag>"
    }
    val docs = (1 to 80).map(_ =>
      s"<r>${(0 until 1 + rnd.nextInt(4)).map(_ => genElem(1)).mkString}</r>")
    def genPath(): String = {
      // each element step randomly rides the child or descendant axis
      // ('//', 1 in 4)
      val steps = (1 to 1 + rnd.nextInt(3)).map { _ =>
        val nm = if (rnd.nextInt(4) == 0) "*" else tags(rnd.nextInt(tags.length))
        val pred = if (rnd.nextInt(3) == 0) s"[${1 + rnd.nextInt(3)}]" else ""
        val sep = if (rnd.nextInt(4) == 0) "//" else "/"
        sep + nm + pred
      }
      // terminal: none, child text(), or the x29 descendant //text()
      val txt = rnd.nextInt(6) match {
        case 0 | 1 => "/text()"
        case 2 => "//text()"
        case _ => ""
      }
      "/r" + steps.mkString + txt
    }
    val paths = (1 to 16).map(_ => genPath()).distinct
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    // Parity contract per path kind:
    //  - text() paths: exact list equality with the built-in xpath()
    //  - element paths: match COUNT equality with xpath() (whose entries
    //    are Hive-quirk nulls — DOM Element.getNodeValue — so the values
    //    themselves carry no information) + FIRST string-value equality
    //    with xpath_string (the value the scalar casts compose over)
    val cols = col("x") +:
      (paths.indices.map(i => col(s"m.p$i")) ++
        paths.zipWithIndex.map { case (p, i) => expr(s"xpath(x, '$p')") } ++
        paths.zipWithIndex.map { case (p, i) =>
          expr(s"xpath_string(x, '$p')") })
    val rows = docs.toDF("x").select(m.as("m"), col("x"))
      .select(cols: _*).collect()
    rows.foreach { r =>
      paths.indices.foreach { i =>
        val mine = r.getSeq[String](1 + i)
        val ref = r.getSeq[String](1 + paths.length + i)
        val refS = r.getString(1 + 2 * paths.length + i)
        val label = s"path ${paths(i)} on doc ${r.getString(0)}"
        assert(mine.length == ref.length,
          s"$label: match count ${mine.length} vs ${ref.length}")
        if (paths(i).endsWith("text()"))
          assert(mine == ref, s"$label: $mine vs $ref")
        else
          assert(mine.headOption.getOrElse("") == refS,
            s"$label: first value '${mine.headOption}' vs '$refS'")
      }
    }
  }

  test("property: value-predicate grammar == built-in xpath on random " +
      "attributed trees x random predicates (equality, numeric, " +
      "exists, contains/starts-with, not(), and/or)") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val tags = Array("a", "b", "c")
    val attrs = Array("k", "t")
    val vals = Array("1", "5", "17.00", "x", "", " 5 ", "-2")
    def genElem(depth: Int): String = {
      val tag = tags(rnd.nextInt(tags.length))
      val as = rnd.shuffle(attrs.toSeq).take(rnd.nextInt(3))
        .map(a => s" $a='${vals(rnd.nextInt(vals.length))}'").mkString
      val nKids = if (depth >= 3) 0 else rnd.nextInt(4)
      val kids = (0 until nKids).map { _ =>
        if (depth < 3 && rnd.nextBoolean()) genElem(depth + 1)
        else vals(rnd.nextInt(vals.length))
      }
      s"<$tag$as>${kids.mkString}</$tag>"
    }
    val docs = (1 to 60).map(_ =>
      s"<r>${(0 until 1 + rnd.nextInt(4)).map(_ => genElem(1)).mkString}</r>")
    val ops = Array(">", "<", ">=", "<=", "=", "!=")
    // no negative literals here: the BUILT-IN's compiler rejects the
    // spaceless 'c<-2' ('<' + unary minus — a Xalan lexer quirk); the
    // fixed x20/x23 parity cases pin negatives via the forms it does
    // accept
    val nums = Array("5", "17", "0.5", "0")
    val needles = Array("", "1", "x", "7")
    def atom(): String = rnd.nextInt(10) match {
      case 0 => s"@${attrs(rnd.nextInt(2))}='${vals(rnd.nextInt(vals.length))}'"
      case 1 => s"${tags(rnd.nextInt(3))}='${vals(rnd.nextInt(vals.length))}'"
      case 2 => s"@${attrs(rnd.nextInt(2))}${ops(rnd.nextInt(6))}${nums(rnd.nextInt(4))}"
      case 3 => s"${tags(rnd.nextInt(3))}${ops(rnd.nextInt(6))}${nums(rnd.nextInt(4))}"
      case 4 => s"@${attrs(rnd.nextInt(2))}"
      case 5 => tags(rnd.nextInt(3))
      case 6 =>
        val fn = if (rnd.nextBoolean()) "contains" else "starts-with"
        val arg = if (rnd.nextBoolean()) s"@${attrs(rnd.nextInt(2))}"
          else tags(rnd.nextInt(3))
        s"$fn($arg,'${needles(rnd.nextInt(4))}')"
      case 7 => // x30 string-length
        val arg = if (rnd.nextBoolean()) s"@${attrs(rnd.nextInt(2))}"
          else tags(rnd.nextInt(3))
        s"string-length($arg)${ops(rnd.nextInt(6))}${rnd.nextInt(6)}"
      case 8 => // x30 normalize-space (vals include ' 5 ' -> '5')
        val arg = if (rnd.nextBoolean()) s"@${attrs(rnd.nextInt(2))}"
          else tags(rnd.nextInt(3))
        s"normalize-space($arg)='${vals(rnd.nextInt(vals.length)).trim}'"
      case _ => s"not(${atomNoNot()})"
    }
    def atomNoNot(): String = {
      val a = atom()
      if (a.startsWith("not(")) a.substring(4, a.length - 1) else a
    }
    // grouped boolean expressions (round 15, x27): parentheses and
    // not() over connectives, nested up to depth 2
    def bexpr(depth: Int): String = rnd.nextInt(6) match {
      case 0 | 1 => atom()
      case 2 if depth < 2 =>
        s"(${bexpr(depth + 1)} or ${bexpr(depth + 1)})"
      case 3 if depth < 2 =>
        s"(${bexpr(depth + 1)} and ${bexpr(depth + 1)})"
      case 4 if depth < 2 => s"not(${bexpr(depth + 1)})"
      case _ => atom()
    }
    def pred(): String = rnd.nextInt(5) match {
      case 0 => s"[${atom()}]"
      case 1 => s"[${atom()} and ${atom()}]"
      case 2 => s"[${atom()} or ${atom()}]"
      case 3 => s"[${bexpr(0)} and ${bexpr(0)}]"
      case _ => s"[${bexpr(0)} or ${bexpr(0)}]"
    }
    def genPath(): String = {
      val steps = (1 to 1 + rnd.nextInt(2)).map { _ =>
        val nm = tags(rnd.nextInt(3))
        val sep = if (rnd.nextInt(4) == 0) "//" else "/"
        sep + nm + (if (rnd.nextInt(2) == 0) pred() else "")
      }
      // terminal: 1 in 4 paths ends in an attribute selector, half of
      // those on the x29 descendant axis (//@a) — attribute-node lists
      // carry values in the built-in, so the count+first contract holds
      val term = if (rnd.nextInt(4) == 0)
        (if (rnd.nextBoolean()) "//@" else "/@") + attrs(rnd.nextInt(2))
      else ""
      "/r" + steps.mkString + term
    }
    val paths = (1 to 24).map(_ => genPath()).distinct
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val cols = col("x") +:
      (paths.indices.map(i => col(s"m.p$i")) ++
        paths.map(p => expr(s"""xpath(x, "$p")""")) ++
        paths.map(p => expr(s"""xpath_string(x, "$p")""")))
    val rows = docs.toDF("x").select(m.as("m"), col("x"))
      .select(cols: _*).collect()
    var nonEmpty = 0
    rows.foreach { r =>
      paths.indices.foreach { i =>
        val mine = r.getSeq[String](1 + i)
        val ref = r.getSeq[String](1 + paths.length + i)
        val refS = r.getString(1 + 2 * paths.length + i)
        val label = s"path ${paths(i)} on doc ${r.getString(0)}"
        assert(mine.length == ref.length,
          s"$label: match count ${mine.length} vs ${ref.length}")
        assert(mine.headOption.getOrElse("") == refS,
          s"$label: first value '${mine.headOption}' vs '$refS'")
        if (mine.nonEmpty) nonEmpty += 1
      }
    }
    assert(nonEmpty > 100,
      s"only $nonEmpty non-empty matches — the generator collapsed " +
        "into no-match paths and the parity sweep proves nothing")
  }

  test("attribute-equality predicates [@a='v']: built-in parity, " +
      "data-dependent selection, wildcard/descendant composition, " +
      "first-attr-wins, grammar rejections") {
    import spark.implicits._
    val pdocs = Seq(
      // two candidates, attribute selects the SECOND (position cannot)
      "<r><it t='a'><q>1</q></it><it t='b'><q>2</q></it></r>",
      // no match at all
      "<r><it t='c'><q>3</q></it></r>",
      // nested: // + predicate reaches depth 2; depth-1 'b' also matches
      "<r><it t='b'><q>4</q></it><s><it t='b'><q>5</q></it></s></r>",
      // entity in the matched value; empty-string value match
      "<r><it t='x &amp; y'><q>6</q></it><it t=''><q>7</q></it></r>")
    val m = XPathMultiExpr.xpath_multi(col("x"), Seq(
      "/r/it[@t='b']/q", "//it[@t='b']/q", "/r/*[@t='b']/q",
      "/r/it[@t='x & y']/q", "/r/it[@t='']/q", "/r/it[@t='b']/@t"))
    val rows = pdocs.toDF("x").select(col("x"), m.as("m"),
      expr("xpath(x, \"/r/it[@t='b']/q/text()\")").as("ref_child"),
      expr("xpath(x, \"//it[@t='b']/q/text()\")").as("ref_desc"))
      .collect()
    val byDoc = rows.map(r => r.getString(0) -> (
      r.getStruct(1).getSeq[String](0), r.getStruct(1).getSeq[String](1),
      r.getStruct(1).getSeq[String](2), r.getStruct(1).getSeq[String](3),
      r.getStruct(1).getSeq[String](4), r.getStruct(1).getSeq[String](5),
      r.getSeq[String](2), r.getSeq[String](3))).toMap

    val d0 = byDoc(pdocs(0))
    assert(d0._1 == Seq("2"), "attribute selects by VALUE, not position")
    assert(d0._1 == d0._7, "built-in child parity")
    assert(d0._3 == Seq("2"), "wildcard composes with the predicate")
    assert(d0._6 == Seq("b"), "predicate + @attr emission")

    val d1 = byDoc(pdocs(1))
    assert(d1._1 == Seq.empty && d1._7 == Seq.empty)

    val d2 = byDoc(pdocs(2))
    assert(d2._1 == Seq("4"), "child axis stays at depth 1")
    assert(d2._2 == Seq("4", "5"), "descendant axis finds both, doc order")
    assert(d2._2 == d2._8, "built-in descendant parity")

    val d3 = byDoc(pdocs(3))
    assert(d3._4 == Seq("6"), "entity-bearing attribute value matches " +
      "against the UNESCAPED comparison string")
    assert(d3._5 == Seq("7"), "empty-string value is a real match")

    // x28: successive predicates are in the subset since round 15
    XPathMini.compile("/r/it[1][@t='b']")
    XPathMini.compile("/r/it[@t='b'][2]") // x28: now in the subset
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[@t=b]") // unquoted value
    }
    // root-element predicate applies to the document element itself
    val rm = XPathMultiExpr.xpath_multi(col("x"),
      Seq("/r[@k='1']/it/q"))
    val rr = Seq("<r k='1'><it><q>9</q></it></r>",
        "<r k='2'><it><q>8</q></it></r>")
      .toDF("x").select(rm.as("m"))
      .collect().map(_.getStruct(0).getSeq[String](0))
    assert(rr(0) == Seq("9") && rr(1) == Seq.empty)
  }

  test("numeric attribute comparisons [@a>5]: built-in parity on every " +
      "op, XPath number() whitespace/decimal/negative handling, NaN " +
      "makes != true and everything else false, absent attr never " +
      "matches") {
    import spark.implicits._
    // v values: numeric-with-decimals, non-numeric (NaN), negative,
    // whitespace-padded, ABSENT
    val doc = "<r><it v='17.00'><q>A</q></it><it v='x'><q>B</q></it>" +
      "<it v='-2'><q>C</q></it><it v=' 5 '><q>D</q></it>" +
      "<it><q>E</q></it></r>"
    val paths = Seq("/r/it[@v>5]/q", "/r/it[@v<5]/q", "/r/it[@v!=5]/q",
      "/r/it[@v=17]/q", "/r/it[@v>=17]/q", "/r/it[@v<=-2]/q",
      "/r/it[@v=5]/q", "/r/it[@v>=0.5]/q")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val refCols = paths.zipWithIndex.map { case (p, i) =>
      expr(s"""xpath(x, "$p/text()")""").as(s"ref$i")
    }
    val row = Seq(doc).toDF("x")
      .select((m.as("m") +: refCols): _*).collect()(0)
    val got = paths.indices.map(i => row.getStruct(0).getSeq[String](i))
    paths.indices.foreach { i =>
      assert(got(i) == row.getSeq[String](i + 1),
        s"built-in parity on ${paths(i)}")
    }
    assert(got(0) == Seq("A"), "> on decimal text")
    assert(got(1) == Seq("C"), "< catches only the negative")
    assert(got(2) == Seq("A", "B", "C"),
      "!=: NaN compares TRUE, exact 5 false, absent attr false")
    assert(got(3) == Seq("A") && got(4) == Seq("A"),
      "numeric = and >= treat '17.00' as 17")
    assert(got(6) == Seq("D"), "whitespace-padded ' 5 ' parses as 5")
    // grammar: numeric predicate composes with nothing else on the step
    XPathMini.compile("/r/it[@v>5][1]") // x28: now in the subset
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[@v>'5']") // quoted literal is not numeric
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[@v>1e3]") // exponents outside the subset
    }
  }

  test("position() range predicates: built-in parity on all four ops, " +
      "per-parent rank under //, root rank is 1, empty tails, grammar " +
      "rejections") {
    import spark.implicits._
    val doc = "<r><v>1</v><v>2</v><v>3</v><v>4</v>" +
      "<s><v>9</v><v>8</v></s></r>"
    val paths = Seq("/r/v[position()>1]", "/r/v[position()<=2]",
      "/r/v[position()>=4]", "/r/v[position()<2]", "/r/v[position()>9]",
      "//v[position()>1]", "/r/s/v[position()>1]",
      "/r[position()<=1]/v[position()>3]")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val refCols = paths.zipWithIndex.map { case (p, i) =>
      expr(s"""xpath(x, "$p/text()")""").as(s"ref$i")
    }
    val row = Seq(doc).toDF("x")
      .select((m.as("m") +: refCols): _*).collect()(0)
    val got = paths.indices.map(i => row.getStruct(0).getSeq[String](i))
    paths.indices.foreach { i =>
      assert(got(i) == row.getSeq[String](i + 1),
        s"built-in parity on ${paths(i)}")
    }
    assert(got(0) == Seq("2", "3", "4"), "> drops the leading rank")
    assert(got(1) == Seq("1", "2") && got(3) == Seq("1"))
    assert(got(2) == Seq("4") && got(4) == Seq.empty)
    // per-parent sibling rank under the descendant axis: the nested
    // <s> run contributes ITS second element, not a global rank
    assert(got(5) == Seq("2", "3", "4", "8"))
    assert(got(6) == Seq("8"))
    // the document element's rank is 1
    assert(got(7) == Seq("4"))
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/v[position()=1]") // spelled [1] in the subset
    }
    XPathMini.compile("/r/v[position()>1][2]") // x28: now in the subset
  }

  test("existence predicates [@a] / [q]: built-in parity, present-but-" +
      "EMPTY attribute satisfies [@a], child presence ignores value, " +
      "descendant-axis composition, grammar rejections") {
    import spark.implicits._
    // items: attributed+valued, bare (child only), EMPTY-attributed
    // with a different child, attributed with no children, nested
    val doc = "<r><it k='1'><q>A</q></it><it><q>B</q></it>" +
      "<it k=''><n>C</n></it><it k='9'/><s><it><q>D</q></it></s></r>"
    val paths = Seq("/r/it[@k]/q", "/r/it[q]/q", "/r/it[n]/q",
      "//it[q]/q", "/r/it[zz]/q")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val refCols = paths.zipWithIndex.map { case (p, i) =>
      expr(s"""xpath(x, "$p/text()")""").as(s"ref$i")
    }
    val row = Seq(doc).toDF("x")
      .select((m.as("m") +: refCols): _*).collect()(0)
    val got = paths.indices.map(i => row.getStruct(0).getSeq[String](i))
    paths.indices.foreach { i =>
      assert(got(i) == row.getSeq[String](i + 1),
        s"built-in parity on ${paths(i)}")
    }
    assert(got(0) == Seq("A"),
      "[@k] keeps attributed items (the empty-k item has no q; the " +
        "q-less attributed item contributes nothing)")
    assert(got(1) == Seq("A", "B"), "[q] ignores the attribute")
    assert(got(2) == Seq(), "[n] item has no q child")
    assert(got(3) == Seq("A", "B", "D"), "// composes with [q]")
    assert(got(4) == Seq(), "absent child name never matches")
    // the present-but-empty attribute IS selected by [@k] and its
    // value extracts as '' through the @k terminal
    val m2 = XPathMultiExpr.xpath_multi(col("x"), Seq("/r/it[@k]/@k"))
    val vals = Seq(doc).toDF("x").select(m2.as("m")).collect()(0)
      .getStruct(0).getSeq[String](0)
    assert(vals == Seq("1", "", "9"),
      "empty attribute value is present, not skipped")
    // x28: successive predicates parse; text() stays a terminal, not a
    // predicate name
    XPathMini.compile("/r/it[@k][q]")
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[text()]")
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[text()]")
    }
  }

  test("numeric child-value comparisons [q>5]: built-in parity, " +
      "existential over multiple q children, NaN != asymmetry, no-q " +
      "element never matches, grammar rejections") {
    import spark.implicits._
    val doc = "<r><it><q>17.00</q><q>zz</q><n>A</n></it>" +
      "<it><q>x</q><n>B</n></it><it><q>-2</q><n>C</n></it>" +
      "<it><q> 5 </q><n>D</n></it><w><n>E</n></w></r>"
    val paths = Seq("/r/it[q>5]/n", "/r/it[q<5]/n", "/r/it[q!=5]/n",
      "/r/it[q=17]/n", "/r/it[q>=17]/n", "/r/it[q<=-2]/n",
      "/r/it[q=5]/n", "/r/w[q>0]/n")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val refCols = paths.zipWithIndex.map { case (p, i) =>
      expr(s"""xpath(x, "$p/text()")""").as(s"ref$i")
    }
    val row = Seq(doc).toDF("x")
      .select((m.as("m") +: refCols): _*).collect()(0)
    val got = paths.indices.map(i => row.getStruct(0).getSeq[String](i))
    paths.indices.foreach { i =>
      assert(got(i) == row.getSeq[String](i + 1),
        s"built-in parity on ${paths(i)}")
    }
    assert(got(0) == Seq("A"),
      "existential: the numeric q accepts despite the NaN sibling q")
    assert(got(1) == Seq("C"), "< catches only the negative")
    assert(got(2) == Seq("A", "B", "C"),
      "!=: the NaN q makes items A and B match; exact 5 (item D) false")
    assert(got(3) == Seq("A") && got(4) == Seq("A"),
      "numeric = and >= treat '17.00' as 17")
    assert(got(6) == Seq("D"), "whitespace-padded ' 5 ' parses as 5")
    assert(got(7) == Seq(), "no q child never matches")
    XPathMini.compile("/r/it[q>5][1]") // x28: now in the subset
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[q>1e3]") // exponents outside the subset
    }
  }

  test("contains()/starts-with() predicates: built-in parity; string() " +
      "takes the FIRST child node (not existential); an absent " +
      "attribute converts to '' so contains(@a,'') is TRUE; " +
      "descendant composition; grammar rejections") {
    import spark.implicits._
    val doc = "<r><it t='pre-7'><n>first</n></it>" +
      "<it t=''><n>empty</n></it><it><n>noattr</n></it>" +
      "<it><q>17.00</q><q>zz</q><n>multi</n></it>" +
      "<it><q>zz</q><q>17.00</q><n>rev</n></it></r>"
    val paths = Seq(
      "/r/it[contains(@t,'-')]/n",
      "/r/it[starts-with(@t,'pre')]/n",
      "/r/it[contains(@t,'')]/n",
      "/r/it[contains(q,'.')]/n",
      "/r/it[starts-with(q,'z')]/n",
      "//it[contains(@t,'pre-')]/n",
      "/r/it[contains(q,'zz')]/n")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val refCols = paths.zipWithIndex.map { case (p, i) =>
      expr(s"""xpath(x, "$p/text()")""").as(s"ref$i")
    }
    val row = Seq(doc).toDF("x")
      .select((m.as("m") +: refCols): _*).collect()(0)
    val got = paths.indices.map(i => row.getStruct(0).getSeq[String](i))
    paths.indices.foreach { i =>
      assert(got(i) == row.getSeq[String](i + 1),
        s"built-in parity on ${paths(i)}")
    }
    assert(got(0) == Seq("first") && got(1) == Seq("first"))
    assert(got(2).size == 5,
      "string(absent @t) = '' and contains('','') is TRUE — every " +
        "item matches, attributed or not")
    assert(got(3) == Seq("multi"),
      "string(q) is the FIRST q child: 'zz'-first item does NOT " +
        "match despite a matching second q — function conversion, " +
        "not the existential comparison [q='v'] uses")
    assert(got(4) == Seq("rev") && got(6) == Seq("rev"))
    assert(got(5) == Seq("first"), "descendant-axis composition")
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[contains(@t,x)]") // unquoted argument
    }
    XPathMini.compile("/r/it[contains(@t,'a')][1]") // x28: in subset
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[ends-with(@t,'a')]") // not in XPath 1.0
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[contains(@t)]") // arity
    }
  }

  test("'and'/'or' predicate connectives: built-in parity, XPath " +
      "precedence (or binds loosest), quoted literals shield " +
      "connective tokens, composition with every atom form, grammar " +
      "rejections") {
    import spark.implicits._
    val doc = "<r><it k='1' v='9'><q>30</q><n>both</n></it>" +
      "<it k='2'><n>konly</n></it><it v='3'><n>vonly</n></it>" +
      "<it><n>none</n></it><it t='a and b'><n>quoted</n></it></r>"
    val paths = Seq(
      "/r/it[@k and @v]/n",
      "/r/it[@k or @v]/n",
      "/r/it[@k and @v and n]/n",
      "/r/it[@z or n]/n",
      "/r/it[@k and q>25]/n",
      "/r/it[@z and @k or n]/n",
      "/r/it[@t='a and b']/n",
      "/r/it[contains(@t,' and ') or @k='1']/n")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val refCols = paths.zipWithIndex.map { case (p, i) =>
      expr(s"""xpath(x, "$p/text()")""").as(s"ref$i")
    }
    val row = Seq(doc).toDF("x")
      .select((m.as("m") +: refCols): _*).collect()(0)
    val got = paths.indices.map(i => row.getStruct(0).getSeq[String](i))
    paths.indices.foreach { i =>
      assert(got(i) == row.getSeq[String](i + 1),
        s"built-in parity on ${paths(i)}")
    }
    assert(got(0) == Seq("both"))
    assert(got(1) == Seq("both", "konly", "vonly"))
    assert(got(2) == Seq("both"), "three-way and chain")
    assert(got(3).size == 5, "or with an absent-attr left operand")
    assert(got(4) == Seq("both"), "and composes exists with numeric")
    assert(got(5).size == 5,
      "precedence is (z and k) or n, NOT z and (k or n) — the wrong " +
        "associativity would match nothing")
    assert(got(6) == Seq("quoted"),
      "' and ' inside a quoted value is a value, not a connective")
    assert(got(7) == Seq("both", "quoted"),
      "connective token as a contains() argument stays quoted too")
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[2 and @k]") // positional is not a term
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[@k and]") // dangling connective
    }
    XPathMini.compile("/r/it[@k][@v]") // x28: now in the subset
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[true()]") // nullary fns outside subset
    }
  }

  test("x27 grouped predicates: parentheses override precedence, " +
      "not() over connectives and nested groups, quoted parens stay " +
      "literal; built-in parity; grammar rejections") {
    import spark.implicits._
    val doc = "<r><it k='1' t='ax'><q>30</q><n>one</n></it>" +
      "<it k='2' t='b' f='y'><n>two</n></it>" +
      "<it k='3' t='bx'><q>2</q><n>three</n></it>" +
      "<it t='c'><n>four</n></it>" +
      "<it t='(a or b)'><n>parens</n></it></r>"
    val paths = Seq(
      "/r/it[(@k='1' or @k='2') and @t='b']/n",
      "/r/it[@k='1' or @k='2' and @t='b']/n", // ungrouped: or binds loosest
      "/r/it[not(@k='1' or @k='3')]/n",
      "/r/it[not((@k='2' or @k='3') and not(q))]/n",
      "/r/it[(contains(@t,'x') or @f) and not(@k='3')]/n",
      "/r/it[@t='(a or b)']/n", // parens inside a quoted value
      "/r/it[((@k='1'))]/n") // redundant nesting
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val refCols = paths.zipWithIndex.map { case (p, i) =>
      expr(s"""xpath(x, "$p/text()")""").as(s"ref$i")
    }
    val row = Seq(doc).toDF("x").select((m.as("m") +: refCols): _*).head()
    val got = paths.indices.map(i => row.getStruct(0).getSeq[String](i))
    paths.indices.foreach { i =>
      assert(got(i) == row.getSeq[String](i + 1),
        s"built-in parity on ${paths(i)}")
    }
    assert(got(0) == Seq("two"), "grouped (or) then and")
    assert(got(1) == Seq("one", "two"),
      "without parens the and binds tighter — different answer than " +
        "got(0), which is the point of grouping")
    assert(got(2) == Seq("two", "four", "parens"))
    assert(got(3) == Seq("one", "three", "four", "parens"),
      "De Morgan audit: not((k2 or k3) and not(q))")
    assert(got(4) == Seq("one", "two"))
    assert(got(5) == Seq("parens"),
      "parens inside a quoted literal never group")
    assert(got(6) == Seq("one"))
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[(@k='1' or @k='2']") // unbalanced group
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[(@k) (@t)]") // juxtaposed groups
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[not(2 and @k)]") // positional in a group
    }
  }

  test("x28 successive predicates: [pred][k] re-ranks among survivors " +
      "while [k][pred] filters the k-th sibling — different answers; " +
      "per-parent semantics under //; quoted ][ stays a value; " +
      "built-in parity; rejections") {
    import spark.implicits._
    val doc = "<r><it k='1'><n>a</n></it><it><n>b</n></it>" +
      "<it k='2'><q>9</q><n>c</n></it><it k='3'><n>d</n></it>" +
      "<s><it k='9'><n>e1</n></it><it k='8'><n>e2</n></it></s>" +
      "<it t='x][y'><n>f</n></it></r>"
    val paths = Seq(
      "/r/it[@k][2]", // 2nd AMONG @k-bearers -> c
      "/r/it[2][@k]", // 2nd sibling (b) filtered by @k -> nothing
      "/r/it[@k][last()]", // last @k-bearer -> d
      "/r/it[@k][q>5]", // two value stages -> c
      "/r/it[position()>1][@k]", // range then filter -> c, d
      "//it[@k][2]", // per-parent: c (root level) + e2 (inside s)
      "/r/it[@t='x][y']", // ][ inside a quoted value is NOT a boundary
      "/r/it[@k][2][n='c']") // three stages
    val refCols = paths.zipWithIndex.map { case (p, i) =>
      expr(s"""xpath(x, "$p/n/text()")""").as(s"ref$i")
    }
    val both = Seq(doc).toDF("x")
      .select((XPathMultiExpr.xpath_multi(col("x"),
        paths.map(_ + "/n")).as("m") +: refCols): _*)
      .select((paths.indices.map(i => col(s"m.p$i")) ++
        paths.indices.map(i => col(s"ref$i"))): _*)
      .head()
    val got = paths.indices.map(i => both.getSeq[String](i))
    paths.indices.foreach { i =>
      assert(got(i) == both.getSeq[String](paths.length + i),
        s"built-in parity on ${paths(i)}")
    }
    assert(got(0) == Seq("c"), "[.@k][2]: 2nd among the @k survivors")
    assert(got(1) == Seq(), "[2][@k]: the 2nd sibling has no @k")
    assert(got(2) == Seq("d"))
    assert(got(3) == Seq("c"))
    assert(got(4) == Seq("c", "d"))
    assert(got(5) == Seq("c", "e2"),
      "per-parent survivor re-rank under the descendant axis")
    assert(got(6) == Seq("f"))
    assert(got(7) == Seq("c"))
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[@k]2]") // unbalanced
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[[@k]]") // empty/nested bracket body
    }
  }

  test("not() predicates: built-in parity; absent attribute makes " +
      "not(@k='v') TRUE; empty-but-present attribute fails not(@k); " +
      "double negation; composition with connectives and functions; " +
      "grammar rejections") {
    import spark.implicits._
    val doc = "<r><it k='1' t='ax'><q>Q</q><n>full</n></it>" +
      "<it k='' t='b'><n>emptyk</n></it>" +
      "<it t='x1'><q>Q2</q><n>nok</n></it><it><n>bare</n></it>" +
      "<s><it k='9'><n>nested</n></it></s></r>"
    val paths = Seq(
      "/r/it[not(@k)]/n",
      "/r/it[not(q)]/n",
      "/r/it[not(@k='1')]/n",
      "/r/it[not(contains(@t,'x'))]/n",
      "/r/it[@k and not(q)]/n",
      "/r/it[not(not(@k))]/n",
      "//it[not(@k)]/n")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val refCols = paths.zipWithIndex.map { case (p, i) =>
      expr(s"""xpath(x, "$p/text()")""").as(s"ref$i")
    }
    val row = Seq(doc).toDF("x")
      .select((m.as("m") +: refCols): _*).collect()(0)
    val got = paths.indices.map(i => row.getStruct(0).getSeq[String](i))
    paths.indices.foreach { i =>
      assert(got(i) == row.getSeq[String](i + 1),
        s"built-in parity on ${paths(i)}")
    }
    assert(got(0) == Seq("nok", "bare"),
      "EMPTY-but-present @k is present — not(@k) only matches the " +
        "genuinely attribute-less items")
    assert(got(1) == Seq("emptyk", "bare"))
    assert(got(2) == Seq("emptyk", "nok", "bare"),
      "absent/other @k makes the inner = false, so not() is TRUE")
    assert(got(3) == Seq("emptyk", "bare"),
      "absent @t converts to '' which does not contain 'x'")
    assert(got(4) == Seq("emptyk"), "not() composes inside and")
    assert(got(5) == Seq("full", "emptyk"), "not(not(p)) == p")
    assert(got(6) == Seq("nok", "bare"),
      "descendant axis: the nested attributed item stays excluded")
    // not() over a connective is IN the subset since round 15 (x27) —
    // the former rejection here is now the grouped-predicate feature
    XPathMini.compile("/r/it[not(@a and @b)]")
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[not()]") // arity
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/it[not(2)]") // positional is not a term
    }
  }

  test("x32 parent axis: sibling convergence dedups to one parent, " +
      "double step-up, attribute after '..', descendant+parent, " +
      "built-in parity, document-node reachability rejected") {
    import spark.implicits._
    val doc = "<r><g><it k='1'><n>alpha</n></it><it><n>beta</n></it>" +
      "</g><h><it k='7'><n>gamma</n></it></h><d q='9'><x/></d></r>"
    val paths = Seq(
      "/r/g/it/../it[2]/n", // two its converge on ONE g -> beta once
      "/r/g/it[1]/../it[1]/n", // round trip identity
      "/r/*/it/../../h/it/n", // double step-up converges on r
      "/r/d/x/../@q", // attribute terminal after '..'
      "/r//n/../@k", // descendant then parent: its OWNING each n
      "/r/g/it/../../d/@q")
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val r = Seq(doc).toDF("x").select(m.as("m")).select("m.*").head()
    assert(r.getSeq[String](0) == Seq("beta"),
      "convergence dedup: beta must appear ONCE")
    assert(r.getSeq[String](1) == Seq("alpha"))
    assert(r.getSeq[String](2) == Seq("gamma"))
    assert(r.getSeq[String](3) == Seq("9"))
    assert(r.getSeq[String](4) == Seq("1", "7"),
      "k-less it contributes nothing on the attribute axis")
    assert(r.getSeq[String](5) == Seq("9"))
    // built-in parity: match counts + first string-values on every
    // path; exact lists on the @attr ones (the built-in list form
    // carries attribute values)
    val cols = paths.map(p => expr(s"size(xpath(x, '$p'))")) ++
      paths.map(p => expr(s"xpath_string(x, '$p')")) ++
      Seq("/r/d/x/../@q", "/r//n/../@k").map(p =>
        expr(s"xpath(x, '$p')"))
    val ref = Seq(doc).toDF("x").select(cols: _*).head()
    paths.indices.foreach { i =>
      assert(r.getSeq[String](i).size == ref.getInt(i),
        s"count parity on ${paths(i)}")
      assert(r.getSeq[String](i).headOption.getOrElse("") ==
        ref.getString(paths.length + i),
        s"first-value parity on ${paths(i)}")
    }
    assert(r.getSeq[String](3) == ref.getSeq[String](2 * paths.length))
    assert(r.getSeq[String](4) ==
      ref.getSeq[String](2 * paths.length + 1))
    // document-node reachability is a compile-time rejection
    for (bad <- Seq("/r/..", "//n/..", "/r/g/../..", "/r//..", "/..")) {
      intercept[IllegalArgumentException] { XPathMini.compile(bad) }
    }
    // '..' with a predicate stays out of the grammar
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/g/it/..[@q]/n")
    }
  }

  test("x33 sibling axes: axis-order positions (preceding-sibling[1] " +
      "is the NEAREST), last() at the axis far end, chained axes, " +
      "wildcard + predicates, convergence dedup, built-in parity") {
    import spark.implicits._
    val doc = "<r><a k='1'>x1</a><b>bb</b><a k='2'>x2</a><c>cc</c>" +
      "<a k='3'>x3</a></r>"
    val paths = Seq(
      "/r/b/following-sibling::a/@k", // 2, 3
      "/r/c/preceding-sibling::a[1]/@k", // NEAREST preceding -> 2
      "/r/c/preceding-sibling::a[last()]/@k", // axis far end -> 1
      "/r/a[1]/following-sibling::*[2]", // 2nd following any -> x2
      "/r/b/following-sibling::c/preceding-sibling::b", // chain -> bb
      "/r/*/following-sibling::c", // 3 contexts converge -> one cc
      "/r/c/following-sibling::a[@k='3']", // predicate on the axis
      "/r/following-sibling::a") // root has no parent -> empty
    val m = XPathMultiExpr.xpath_multi(col("x"), paths)
    val r = Seq(doc).toDF("x").select(m.as("m")).select("m.*").head()
    assert(r.getSeq[String](0) == Seq("2", "3"))
    assert(r.getSeq[String](1) == Seq("2"))
    assert(r.getSeq[String](2) == Seq("1"))
    assert(r.getSeq[String](3) == Seq("x2"))
    assert(r.getSeq[String](4) == Seq("bb"))
    assert(r.getSeq[String](5) == Seq("cc"), "convergence dedup")
    assert(r.getSeq[String](6) == Seq("x3"))
    assert(r.getSeq[String](7) == Seq.empty)
    // built-in parity on every path (count + first string-value), and
    // exact lists on the @k paths
    val cols = paths.map(p => expr(s"""size(xpath(x, "$p"))""")) ++
      paths.map(p => expr(s"""xpath_string(x, "$p")""")) ++
      Seq(paths(0), paths(1), paths(2)).map(p =>
        expr(s"""xpath(x, "$p")"""))
    val ref = Seq(doc).toDF("x").select(cols: _*).head()
    paths.indices.foreach { i =>
      assert(r.getSeq[String](i).size == ref.getInt(i),
        s"count parity on ${paths(i)}")
      assert(r.getSeq[String](i).headOption.getOrElse("") ==
        ref.getString(paths.length + i),
        s"first-value parity on ${paths(i)}")
    }
    assert(r.getSeq[String](0) == ref.getSeq[String](2 * paths.length))
    assert(r.getSeq[String](1) ==
      ref.getSeq[String](2 * paths.length + 1))
    assert(r.getSeq[String](2) ==
      ref.getSeq[String](2 * paths.length + 2))
    // the descendant shorthand has no meaning on a sibling axis
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r//following-sibling::a")
    }
    intercept[IllegalArgumentException] {
      XPathMini.compile("/r/following-sibling::..")
    }
  }
}
