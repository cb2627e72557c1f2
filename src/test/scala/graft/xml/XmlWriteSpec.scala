package graft.xml

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The `graft-xml` WRITE path ([[org.apache.spark.sql.graft.XmlOutputWriter]])
  * and the culture-parity decimal parser — round-trip fidelity through the
  * sink + splittable scan + DSL extraction. */
class XmlWriteSpec extends AnyFunSuite with SharedSpark {

  private def tmp(): String =
    Files.createTempDirectory("graft-xmlwrite").toString

  test("scalar types, attribute, null omission round-trip") {
    import spark.implicits._
    val df = Seq(
      (1, Some("AA"), Some(BigDecimal("12.50")), Some("a & b <c>"), Some(true)),
      (2, None, None, None, None))
      .toDF("id", "_status", "total", "comment", "flag")
      .select(col("id"), col("_status"),
        col("total").cast(DecimalType(18, 2)).as("total"),
        col("comment"), col("flag"))
    val dir = tmp()
    df.write.mode("overwrite").format("graft-xml")
      .option("rowTag", "rec").save(dir)

    // raw text: attribute on the open tag, nulls omitted, text escaped
    val raw = spark.read.text(dir).as[String].collect().sorted
    assert(raw.exists(_.contains("<rec status='AA'>")))
    assert(raw.exists(_.contains("<comment>a &amp; b &lt;c&gt;</comment>")))
    assert(raw.exists(_.contains("<total>12.50</total>")))
    // row 2: all nullable fields null -> only id remains
    assert(raw.contains("<rec><id>2</id></rec>"))

    val parser = XmlParser.struct("rec") { a =>
      struct(a.int("id").as("id"), a.attribute("status").as("status"),
        a.nullDecimal("total").cast("double").as("total"),
        a.str("comment").as("comment"), a.nullBool("flag").as("flag"))
    }
    val back = parser.read(spark, dir).select("parsed.*")
      .orderBy("id").collect()
    assert(back(0) == Row(1, "AA", 12.5, "a & b <c>", true))
    assert(back(1) == Row(2, null, null, null, null))
  }

  test("arrays repeat in order; container via nested struct; date/ts") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(3, 1, 2), "2024-05-17", "2024-05-17 10:30:00"),
      (2, Seq.empty[Int], "1999-12-31", "1999-12-31 23:59:59.123456"))
      .toDF("id", "ln0", "d0", "t0")
      .select(col("id"), struct(col("ln0").as("ln")).as("lns"),
        col("d0").cast("date").as("d"), col("t0").cast("timestamp").as("t"))
    val dir = tmp()
    df.write.mode("overwrite").format("graft-xml")
      .option("rowTag", "rec").save(dir)

    val raw = spark.read.text(dir).as[String].collect()
    assert(raw.exists(_.contains("<lns><ln>3</ln><ln>1</ln><ln>2</ln></lns>")))
    assert(raw.exists(_.contains("<lns/>"))) // empty array -> empty container
    assert(raw.exists(_.contains("<d>2024-05-17</d>")))
    assert(raw.exists(_.contains("<t>2024-05-17T10:30</t>")))
    assert(raw.exists(_.contains("<t>1999-12-31T23:59:59.123456</t>")))

    val parser = XmlParser.struct("rec") { a =>
      struct(a.int("id").as("id"),
        a.array("lns")(c => c.nullInt("ln")).as("ln"),
        a.nullDate("d").cast("date").cast("string").as("d"),
        a.nullDate("t").cast("string").as("t"))
    }
    val back = parser.read(spark, dir).select("parsed.*")
      .orderBy("id").collect()
    assert(back(0) == Row(1, Seq(3, 1, 2), "2024-05-17",
      "2024-05-17 10:30:00"))
    assert(back(1) == Row(2, Seq(), "1999-12-31", "1999-12-31 23:59:59.123456"))
  }

  test("rootTag wrapping and gzip compression decode through the scan") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("id")
    val dir = tmp()
    df.coalesce(1).write.mode("overwrite").format("graft-xml")
      .option("rowTag", "rec").option("rootTag", "all")
      .option("compression", "gzip").save(dir)
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".xml.gz"))
    assert(files.nonEmpty, "expected .xml.gz part files")
    val parser = XmlParser.struct("rec")(a => struct(a.int("id").as("id")))
    assert(parser.read(spark, dir).select("parsed.id")
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("schema validation rejects unexpressible shapes at plan time") {
    import spark.implicits._
    val dir = tmp()
    // bad element name
    val e1 = intercept[Exception] {
      Seq(1).toDF("bad name").write.mode("overwrite").format("graft-xml")
        .option("rowTag", "r").save(dir)
    }
    assert(e1.getMessage.contains("not a valid XML name"))
    // nested array: no tag for the inner repetition
    val e2 = intercept[Exception] {
      Seq(Seq(Seq(1))).toDF("a").write.mode("overwrite").format("graft-xml")
        .option("rowTag", "r").save(dir)
    }
    assert(e2.getMessage.contains("un-taggable"))
    // map unsupported
    val e3 = intercept[Exception] {
      Seq(Map("k" -> 1)).toDF("m").write.mode("overwrite").format("graft-xml")
        .option("rowTag", "r").save(dir)
    }
    assert(e3.getMessage.contains("unsupported"))
    // attribute fields must be scalar
    val e4 = intercept[Exception] {
      Seq((1, Seq(1))).toDF("id", "_a").write.mode("overwrite").format("graft-xml")
        .option("rowTag", "r").save(dir)
    }
    assert(e4.getMessage.contains("must be scalar"))
  }

  test("nullDecimalCulture reproduces the Parser.cs:79 quirk") {
    import spark.implicits._
    val in = Seq("123.45", "1.2.3", "1,234", "1..2", "-1.5", ".5", "5.",
      "123", "abc", "", "12a.5").toDF("v")
    val out = in.select(col("v"),
      XmlValues.nullDecimalCulture(col("v")).cast("string").as("c"),
      XmlValues.nullDecimal(col("v")).cast("double").as("sane"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // '.' -> invariant group separator ',', TryParse strips separators:
    assert(out("123.45") == "12345.000000000000000000")
    assert(out("1.2.3") == "123.000000000000000000")
    assert(out("1,234") == "1234.000000000000000000") // ',' groups too
    assert(out("1..2") == "12.000000000000000000") // .NET allows ',,'
    assert(out("-1.5") == "-15.000000000000000000")
    assert(out(".5") == null) // leading separator -> TryParse fails
    assert(out("5.") == null) // trailing separator -> TryParse fails
    assert(out("123") == "123.000000000000000000")
    assert(out("abc") == null)
    assert(out("") == null)
    assert(out("12a.5") == null)
  }
}
