package graft.xml

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Ports of the reference's six NUnit tests
  * (XmlStreamProcessor.Test/UnitTests/Test1.cs) as golden tests over the
  * same XML literals — SURVEY.md §5's rebuild test plan item (a).
  */
object Golden {
  case class SubSub(someString: Option[String], tag: String)
  case class Sub(tag: String, someInt: Int, subSubclass: Option[SubSub])
  case class Samp(tag: String, someInt: Int, someString: String,
      subclasses: Seq[Sub])
}

class XmlGoldenSpec extends AnyFunSuite with SharedSpark {
  import Golden._

  /** Registers `body` twice: in the shared session, and in the rule-off
    * session, so results are checked not to depend on GraftExtensions. */
  private def golden(name: String)(body: SparkSession => Unit): Unit = {
    test(name)(body(spark))
    test(s"$name (rule-off session)")(ruleOff(body))
  }

  private def one(xml: String)(implicit spark: SparkSession) = {
    import spark.implicits._
    Seq(xml).toDS.toDF("x")
  }

  private val sample2Doc =
    """<sample2 attr1='z'>
      |  <a/>
      |  <a><b/></a>
      |  <a/>
      |  <someint>1</someint>
      |  <somestring>asd</somestring>
      |  <subclasses attr2='x'>
      |    <subclass/>
      |    <subclass>
      |      <someint>2</someint>
      |      <subsubclass>
      |        <somestring>zzz</somestring>
      |      </subsubclass>
      |    </subclass>
      |    <subanotherclass>
      |      <someint>3</someint>
      |      <subsubclass></subsubclass>
      |    </subanotherclass>
      |    <subclass>
      |    </subclass>
      |  </subclasses>
      |</sample2>""".stripMargin

  private val expectedSample = Samp("sample2", 1, "asd", Seq(
    Sub("subclass", 0, None),
    Sub("subclass", 2, Some(SubSub(Some("zzz"), "subsubclass"))),
    Sub("subanotherclass", 3, Some(SubSub(None, "subsubclass"))),
    Sub("subclass", 0, None)))

  golden("GenericTest (Test1.cs:14-97): nested " +
      "Type/Array/wildcard/Tag") { implicit spark =>
    import spark.implicits._
    val parser = XmlParser.struct("sample2") { a =>
      struct(
        a.tag.as("tag"),
        a.int("someint").as("someInt"),
        a.str("somestring").as("someString"),
        a.array("subclasses") { b =>
          b.obj("*") { c =>
            struct(
              c.tag.as("tag"),
              c.int("someint").as("someInt"),
              c.obj("subsubclass") { d =>
                struct(
                  d.str("somestring").as("someString"),
                  d.tag.as("tag"))
              }.as("subSubclass"))
          }
        }.as("subclasses"))
    }
    val got = one(sample2Doc).select(parser.parse(col("x")).as("r"))
      .select("r.*").as[Samp].head()
    assert(got == expectedSample)
  }

  golden("TestCompositeParser (Test1.cs:100-185): parser reuse via " +
      "custom") { implicit spark =>
    import spark.implicits._
    val subsubclassParser = XmlParser.fragment { a =>
      struct(a.str("somestring").as("someString"), a.tag.as("tag"))
    }
    val subclassArrayParser = XmlParser.array { y =>
      y.obj("*") { z =>
        struct(
          z.tag.as("tag"),
          z.int("someint").as("someInt"),
          z.custom("subsubclass")(subsubclassParser.parse).as("subSubclass"))
      }
    }
    val parser = XmlParser.struct("sample2") { x =>
      struct(
        x.tag.as("tag"),
        x.int("someint").as("someInt"),
        x.str("somestring").as("someString"),
        x.custom("subclasses")(subclassArrayParser.parse).as("subclasses"))
    }
    val got = one(sample2Doc).select(parser.parse(col("x")).as("r"))
      .select("r.*").as[Samp].head()
    assert(got == expectedSample)
  }

  golden("TestAlternatives (Test1.cs:187-209): heterogeneous children, " +
      "document order, coalesce arithmetic") { implicit spark =>
    import spark.implicits._
    val parser = XmlParser.array { c =>
      coalesce(c.nullInt("item1"), c.nullInt("item2") * 10)
    }
    val doc =
      """<items>
        |  <item1>1</item1>
        |  <item2>2</item2>
        |  <item1>3</item1>
        |</items>""".stripMargin
    val got = one(doc).select(parser.parse(col("x")).as("r"))
      .as[Seq[Int]].head()
    assert(got == Seq(1, 20, 3))
  }

  golden("TestAttributes (Test1.cs:211-231): attr capture + string " +
      "expr") { implicit spark =>
    import spark.implicits._
    val parser = XmlParser.struct("sample") { c =>
      concat(c.attribute("b"), c.attribute("a"))
    }
    val doc = "<sample a='zxc' b='qwe'>\n  123\n</sample>"
    val got = one(doc).select(parser.parse(col("x")).as("r"))
      .as[String].head()
    assert(got == "qwezxc")
  }

  golden("TestVariousContent (Test1.cs:233-271): entities, CDATA, char refs, " +
      "comments, mixed content") { implicit spark =>
    import spark.implicits._
    val parser = XmlParser.array(c => c.str("Item"))
    val doc =
      """<?xml version='1.0'?>
        |<!DOCTYPE Items [<!ENTITY number '123'>]>
        |<Items>
        |  <Item>Test with an entity: &number;</Item>
        |  <Item>Test with a CDATA section <![CDATA[<456>]]> def</Item>
        |  <Item>Test with a char entity: &#65;</Item>
        |  <Item><more/>Test with a child element stuff</Item>
        |  <Item>Test with a child element stuff <more/></Item>
        |  <Item>Test with a child element <more/> stuff</Item>
        |  <!-- Fourteen chars in this element.-->
        |  <Item>1234567890ABCD</Item>
        |</Items>""".stripMargin
    val got = one(doc).select(parser.parse(col("x")).as("r"))
      .as[Seq[String]].head()
    assert(got == Seq(
      "Test with an entity: 123",
      "Test with a CDATA section <456> def",
      "Test with a char entity: A",
      "<more />Test with a child element stuff",
      "Test with a child element stuff <more />",
      "Test with a child element <more /> stuff",
      "1234567890ABCD"))
  }

  golden("TestInnerLambda (Test1.cs:273-293): inner closures " +
      "traversed") { implicit spark =>
    import spark.implicits._
    val parser = XmlParser.struct("root") { b =>
      val inner: () => org.apache.spark.sql.Column = () => b.int("int")
      inner()
    }
    val doc = "<root>\n  <int>1</int>\n</root>"
    val got = one(doc).select(parser.parse(col("x")).as("r")).as[Int].head()
    assert(got == 1)
  }

  golden("scalar semantics table (SURVEY.md §1.2)") { implicit spark =>
    import spark.implicits._
    val parser = XmlParser.struct("r") { a =>
      struct(
        a.int("i").as("i"),
        a.nullInt("ni").as("ni"),
        a.nullBool("nb").as("nb"),
        a.nullDecimal("nd").as("nd"),
        a.nullDate("dt").as("dt"),
        a.str("s").as("s"),
        a.str("missing_s").as("missing_s"),
        a.nullInt("missing_ni").as("missing_ni"))
    }
    val doc = "<r><i>42</i><ni></ni><nb>true</nb><nd>1.5</nd>" +
      "<dt>2024-01-02 03:04:05</dt><s></s></r>"
    val row = one(doc).select(parser.parse(col("x")).as("r"))
      .select("r.*").head()
    assert(row.getInt(0) == 42)
    assert(row.isNullAt(1))                 // empty NullInt -> null
    assert(row.getBoolean(2))
    assert(row.getDecimal(3).doubleValue() == 1.5)
    assert(row.getTimestamp(4).toString == "2024-01-02 03:04:05.0")
    assert(row.getString(5) == "")          // empty String -> ""
    assert(row.isNullAt(6))                 // missing String -> null
    assert(row.isNullAt(7))                 // missing NullInt -> null
  }

  golden("nullInt vs nullIntStrict on garbage input " +
      "(Parser.cs:58-67)") { implicit spark =>
    import spark.implicits._
    // lenient default: unparseable non-empty text -> null
    val lenient = XmlParser.struct("r")(a => a.nullInt("v"))
    assert(one("<r><v>abc</v></r>").select(lenient.parse(col("x")).as("r"))
      .as[Option[Int]].head().isEmpty)
    // strict parity: same input THROWS like the reference's Convert.ToInt32
    val strict = XmlParser.struct("r")(a => a.nullIntStrict("v"))
    val err = intercept[Exception] {
      one("<r><v>abc</v></r>").select(strict.parse(col("x")).as("r"))
        .as[Option[Int]].head()
    }
    assert(err.getMessage.contains("CAST_INVALID_INPUT") ||
      Option(err.getCause).exists(
        _.getMessage.contains("CAST_INVALID_INPUT")))
    // strict still nulls the reference's null cases: empty and missing
    val ok = XmlParser.struct("r") { a =>
      struct(a.nullIntStrict("e").as("e"), a.nullIntStrict("m").as("m"),
        a.nullIntStrict("v").as("v"))
    }
    val row = one("<r><e></e><v> 7 </v></r>")
      .select(ok.parse(col("x")).as("r")).select("r.*").head()
    assert(row.isNullAt(0) && row.isNullAt(1) && row.getInt(2) == 7)
  }

  golden("first-wins duplicate elements " +
      "(Parser.cs:226-227)") { implicit spark =>
    import spark.implicits._
    val parser = XmlParser.struct("r")(a => a.nullInt("v"))
    val got = one("<r><v>5</v><v>7</v></r>")
      .select(parser.parse(col("x")).as("r")).as[Option[Int]].head()
    assert(got.contains(5))
  }

  golden("missing Int -> 0; array absent -> null; empty container -> " +
      "empty") { implicit spark =>
    import spark.implicits._
    val p1 = XmlParser.struct("r")(a => a.int("nope"))
    assert(one("<r><x>9</x></r>").select(p1.parse(col("x")).as("r"))
      .as[Int].head() == 0)

    val p2 = XmlParser.struct("r") { a =>
      a.array("arr")(c => c.nullInt("v"))
    }
    assert(one("<r></r>").select(p2.parse(col("x")).as("r"))
      .as[Option[Seq[Int]]].head().isEmpty)
    assert(one("<r><arr></arr></r>").select(p2.parse(col("x")).as("r"))
      .as[Option[Seq[Int]]].head().contains(Seq.empty[Int]))
  }

  golden("native file read with rowTag (CreateArrayParser ≙ table " +
      "scan)") { implicit spark =>
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftxml").toFile
    val f = new java.io.File(dir, "part.xml")
    val w = new java.io.PrintWriter(f)
    w.write("""<rows>
      |<rec id='1'><name>alpha</name><qty>3</qty></rec>
      |<rec id='2'><name>beta</name><qty></qty></rec>
      |<rec id='3'><name>gamma <b/> x</name><qty>7</qty></rec>
      |</rows>""".stripMargin)
    w.close()
    val parser = XmlParser.struct("rec") { a =>
      struct(
        a.attribute("id").cast("int").as("id"),
        a.str("name").as("name"),
        a.nullInt("qty").as("qty"))
    }
    assert(parser.isFullyNative)
    val got = parser.read(spark, f.getAbsolutePath)
      .select("parsed.*").orderBy("id")
      .as[(Int, String, Option[Int])].collect().toSeq
    assert(got == Seq(
      (1, "alpha", Some(3)),
      (2, "beta", None),
      (3, "gamma <b></b> x", Some(7))))
  }
}
