package graft.xml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The DSL's parse of a native spec against the bind it replaces: the
  * string parse of the read schema, then each member's first value through
  * its parser's Column transform (`XmlValues`), written out by hand. */
class XmlTypedParseSpec extends AnyFunSuite with SharedSpark {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  private val parser = XmlParser.struct("rec") { a =>
    struct(
      a.attribute("id").as("id"),
      a.int("seq").as("seq"),
      a.nullInt("qty").as("qty"),
      a.str("qty").as("qty_s"),
      a.nullBool("flag").as("flag"),
      a.nullDecimal("amt").as("amt"),
      a.nullDate("ts").as("ts"),
      a.str("status").as("status"),
      a.nullIntStrict("n2").as("n2"),
      a.nullInt("missing").as("missing"),
      a.obj("sub")(s => struct(s.attribute("k").as("k"),
        s.nullInt("v").as("v"), s.str("w").as("w"))).as("sub"),
      a.array("vals")(c => c.nullDecimal("d")).as("vals"))
  }

  private val readSchema = StructType(Seq(
    StructField("_id", StringType),
    StructField("seq", ArrayType(StringType)),
    StructField("qty", ArrayType(StringType)),
    StructField("flag", ArrayType(StringType)),
    StructField("amt", ArrayType(StringType)),
    StructField("ts", ArrayType(StringType)),
    StructField("status", ArrayType(StringType)),
    StructField("n2", ArrayType(StringType)),
    StructField("missing", ArrayType(StringType)),
    StructField("sub", ArrayType(StructType(Seq(
      StructField("_k", StringType),
      StructField("v", ArrayType(StringType)),
      StructField("w", ArrayType(StringType)))))),
    StructField("vals", ArrayType(StructType(Seq(
      StructField("d", ArrayType(StringType))))))))

  /** The untyped bind of `parser`, by hand. */
  private def reference(x: Column): Column = {
    val p = column(XmlFlatParseExpr(expression(x), readSchema))
    def first(c: Column) = get(c, lit(0))
    val sub = first(p.getField("sub"))
    val vals = first(p.getField("vals"))
    when(x.isNotNull, struct(
      p.getField("_id").as("id"),
      XmlValues.intStrict(first(p.getField("seq"))).as("seq"),
      XmlValues.nullInt(first(p.getField("qty"))).as("qty"),
      first(p.getField("qty")).as("qty_s"),
      XmlValues.nullBool(first(p.getField("flag"))).as("flag"),
      XmlValues.nullDecimal(first(p.getField("amt"))).as("amt"),
      XmlValues.nullDate(first(p.getField("ts"))).as("ts"),
      first(p.getField("status")).as("status"),
      XmlValues.nullIntStrict(first(p.getField("n2"))).as("n2"),
      XmlValues.nullInt(first(p.getField("missing"))).as("missing"),
      when(sub.isNotNull, struct(sub.getField("_k").as("k"),
        XmlValues.nullInt(first(sub.getField("v"))).as("v"),
        first(sub.getField("w")).as("w"))).as("sub"),
      when(vals.isNotNull, transform(
        coalesce(vals.getField("d"), array().cast(ArrayType(StringType))),
        d => XmlValues.nullDecimal(d))).as("vals")))
  }

  /** One record: members in a random order, some repeated or missing, with
    * planted garbage, padding, entities, CR and empty elements; with
    * `strictGarbage`, also in the strict members `seq` and `n2`. */
  private def record(rnd: scala.util.Random, id: Int,
      strictGarbage: Boolean = false): String = {
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    def pad(v: String) = pick("", "", "", " ", "\t", "\r\n") + v +
      pick("", "", "", " ", "\n")
    val ints = () => pick("12", "-7", "0", "007", "+3", "2147483647",
      "2147483648", "q12", "n/a", "1.5", "1e3", "٣", "", pad("42"), "4\r2")
    val members = Seq(
      () => s"<seq>${pick(Seq("1", "22", "-333", "0042", pad("9")) ++
        (if (strictGarbage) Seq("x1", "1.5", "", " ", "2147483648")
        else Nil): _*)}</seq>",
      () => s"<qty>${ints()}</qty>",
      () => s"<flag>${pick("true", "false", "T", "yes", "0", "TrUe",
        "maybe", pad("no"), "")}</flag>",
      () => s"<amt>${pick("12.50", "-0.5", ".5", "5.", "1e3", "n/a",
        "123456789012345678901", "0.1234567890123456789", pad("7.25"),
        "١.٢")}</amt>",
      () => s"<ts>${pick("2024-01-02T03:04:05", "2024-01-02 03:04:05.123",
        "2024-01-02", "2024-02-30", "2024-01-02T03:04:05Z", "garbage",
        "2024-1-2", pad("2023-06-01T00:00:00"))}</ts>",
      () => s"<status>${pick("open", "shipped", "r&amp;d", "a\r\nb",
        pad("held"))}</status>",
      () => s"<n2>${pick(Seq("5", "-6", "", " ", pad("8")) ++
        (if (strictGarbage) Seq("n/a", "7q", "1.5") else Nil): _*)}</n2>",
      () => s"<sub k='${pick("a", "b")}'><v>${ints()}</v>" +
        s"<w>${pick("x", "y z", "&lt;")}</w></sub>",
      () => pick("<sub/>", "<sub k='c'></sub>"),
      () => s"<vals>${(0 until rnd.nextInt(3)).map(_ =>
        s"<d>${pick("1.25", "n/a", "2", pad("3.5"), "1e2")}</d>").mkString}" +
        "</vals>",
      () => "<other><deep>1</deep></other>",
      () => pick("<qty/>", "<flag></flag>"))
    val kids = (0 until rnd.nextInt(9)).map(_ => members(
      rnd.nextInt(members.length))()).mkString
    s"<rec id='$id'>$kids</rec>"
  }

  test("typed parse equals the untyped bind on generated flat records " +
      "(garbage, padding, duplicates, missing members, fallback rows)") {
    val rnd = new scala.util.Random(20261020)
    val docs = (0 until 1600).map(i => record(rnd, i)) :+ "<rec/>" :+ ""
    val spec = XmlFastScan.FlatSpec.of(readSchema).get
    val accepted = docs.count(d => !(XmlFastScan.flatStruct(
      UTF8String.fromString(d), spec) eq XmlFastScan.Bail))
    // both paths are exercised
    assert(accepted > 400 && accepted < docs.length - 400, accepted)
    import spark.implicits._
    val df = (docs.map(Option(_)) :+ None).toDF("x").repartition(4)
    val x = col("x")
    val rows = df.select(x, parser.parse(x).as("ours"),
      reference(x).as("ref")).collect()
    assert(rows.length == docs.length + 1)
    rows.foreach(r => assert(r.get(1) == r.get(2), s"on ${r.getString(0)}"))
  }

  /** The rows `f` collects, or None when it raised Spark's
    * CAST_INVALID_INPUT (any other error fails the test). */
  private def rowsOrRaise(f: => Array[Row]): Option[Seq[Row]] = {
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    try Some(f.toSeq)
    catch {
      case e: Exception if chain(e).exists(t => t.getMessage != null &&
          t.getMessage.contains("CAST_INVALID_INPUT")) => None
    }
  }

  private def bails(d: String): Boolean = XmlFastScan.flatStruct(
    UTF8String.fromString(d), XmlFastScan.FlatSpec.of(readSchema).get) eq
    XmlFastScan.Bail

  test("garbage in a strict member raises exactly on the records the " +
      "untyped bind raises on, accepted and fallback alike") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 100).map(i => record(rnd, i, strictGarbage = true))
    import spark.implicits._
    val x = col("x")
    val seen = docs.map { d =>
      // one record per query: one raise stops the whole query
      def one(c: Column) =
        rowsOrRaise(Seq(d).toDF("x").repartition(1).select(c).collect())
      val ours = one(parser.parse(x))
      assert(ours == one(reference(x)), s"on $d")
      (bails(d), ours.isEmpty)
    }
    // raising and clean records on both paths
    assert(Seq((false, false), (false, true), (true, false), (true, true))
      .forall(seen.contains), seen.groupBy(identity).map(kv =>
        kv._1 -> kv._2.size))
  }

  /** Records whose `seq` and `n2` hold garbage exactly when `status` is
    * not "open"; an entity in a later `status`, or an empty or blank
    * `seq`, makes the kernel bail. */
  private def guardedDocs: Seq[String] = (0 until 240).map { i =>
    val ok = i % 3 != 0
    val bad = Seq("x1", "1.5", "", " ")(i % 4)
    s"<rec id='$i'><status>${if (ok) "open" else "bad"}</status>" +
      s"<seq>${if (ok) i.toString else bad}</seq>" +
      s"<n2>${if (ok) i.toString else "n/a"}</n2><qty>q$i</qty>" +
      (if (i % 4 == 1) "<status>r&amp;d</status>" else "") + "</rec>"
  }

  test("a pruned, filtered-away or guarded strict member with garbage " +
      "returns the untyped bind's rows") {
    import spark.implicits._
    val docs = guardedDocs
    val bailed = docs.count(bails)
    assert(bailed > 40 && bailed < 200, bailed) // both paths
    val df = docs.toDF("x").repartition(4)
    val x = col("x")
    def sorted(d: DataFrame) = d.collect().toSeq.sortBy(_.getString(0))
    // the data does raise where a strict member is read on every row
    assert(rowsOrRaise(df.select(parser.parse(x)).collect()).isEmpty)
    assert(rowsOrRaise(df.select(reference(x)).collect()).isEmpty)
    // pruned: a struct field other than the strict members
    val pruned = df.select(parser.parse(x).getField("qty"),
      reference(x).getField("qty")).collect()
    pruned.foreach(r => assert(r.get(0) == r.get(1)))
    // filtered: the strict members are read on the rows a filter on
    // another member keeps
    def kept(c: Column) = sorted(df.select(c.as("p"))
      .where(col("p.status") === "open")
      .select(col("p.id"), col("p.seq"), col("p.n2")))
    val ours = kept(parser.parse(x))
    assert(ours.length == 160 && ours == kept(reference(x)))
    // guarded: each strict member is read under a `when` on its text
    val digits = "^-?[0-9]{1,9}$"
    val guarded = XmlParser.struct("rec") { a =>
      struct(a.attribute("id").as("id"),
        when(a.str("seq").rlike(digits), a.int("seq")).as("seq"),
        when(trim(a.str("n2")).rlike(digits), a.nullIntStrict("n2"))
          .as("n2"))
    }
    val gs = StructType(Seq(StructField("_id", StringType),
      StructField("seq", ArrayType(StringType)),
      StructField("n2", ArrayType(StringType))))
    val p = column(XmlFlatParseExpr(expression(x), gs))
    val seq = get(p.getField("seq"), lit(0))
    val n2 = get(p.getField("n2"), lit(0))
    val expected = struct(p.getField("_id").as("id"),
      when(seq.rlike(digits), XmlValues.intStrict(seq)).as("seq"),
      when(trim(n2).rlike(digits), XmlValues.nullIntStrict(n2)).as("n2"))
    val rows = df.select(guarded.parse(x), expected).collect()
    assert(rows.length == 240)
    rows.foreach(r => assert(r.get(0) == r.get(1), r))
    assert(rows.count(_.getStruct(0).isNullAt(1)) == 80)
  }
}
