package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.xml.XmlFunctions.xml_children

/** Micro-benchmark isolating XML parse throughput (BASELINE.md; VERDICT r1
  * items 1 and 10): `from_xml` vs the custom `xml_children` expression, in a
  * plain projection vs beneath a `Generate` (explode); and the rowTag split
  * alone (`split`: [[graft.xml.XmlRecordScanner]] on one thread over a
  * rootless flat file of `nRows` records held in memory, in MB/s per core).
  *
  * Run: sbt "runMain graft.XmlMicroBench [nRows] [case]"
  * With a case name it loops that case forever (for jstack profiling).
  */
object XmlMicroBench {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val loopCase = if (args.length > 1) Some(args(1)) else None
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import spark.implicits._

    // ~70-byte docs, two <item> children each
    val df = spark.range(n).select(concat(
      lit("<o><item ln='1'>"), col("id").cast("string"),
      lit("</item><item ln='2'>"), (col("id") * 2).cast("string"),
      lit("</item></o>")).as("xml"))

    val schema = StructType(Seq(StructField("item", ArrayType(StringType))))

    // ~78-byte rootless flat records, built only if `split` runs
    lazy val flatFile: Array[Byte] = {
      val sb = new java.lang.StringBuilder
      for (i <- 0L until n) sb.append(s"""<rec id="$i"><name>n$i</name>""" +
        s"<qty>${i % 50}</qty><note>a &amp; b</note></rec>\n")
      sb.toString.getBytes("UTF-8")
    }

    def fxParsed(d: DataFrame) =
      d.select(from_xml(col("xml"), schema).as("p"))

    val cases: Seq[(String, () => Long)] = Seq(
      "split" -> (() => {
        val sc = new graft.xml.XmlRecordScanner(
          new java.io.ByteArrayInputStream(flatFile), "rec".getBytes("UTF-8"),
          0L)
        var k = 0L
        while (sc.nextRecord(Long.MaxValue) != null) k += 1
        k
      }),
      "fx_project" -> (() =>
        fxParsed(df).select(sum(get(col("p.item"), lit(0)).cast("long")))
          .first().getLong(0)),
      "fx_generate" -> (() =>
        fxParsed(df).select(explode(col("p.item")).as("v"))
          .agg(sum(col("v").cast("long"))).first().getLong(0)),
      "fx_generate_cached" -> (() => {
        val p = fxParsed(df).persist()
        val r = p.select(explode(col("p.item")).as("v"))
          .agg(sum(col("v").cast("long"))).first().getLong(0)
        p.unpersist(blocking = true)
        r
      }),
      "stax_project" -> (() =>
        df.select(xml_children(col("xml"), Seq("item"), fromRoot = true)
            .as("kids"))
          .select(sum(get(col("kids"), lit(0)).getField("value")
            .cast("long"))).first().getLong(0)),
      "stax_generate" -> (() =>
        df.select(explode(xml_children(col("xml"), Seq("item"),
            fromRoot = true)).as("k"))
          .agg(sum(col("k.value").cast("long"))).first().getLong(0)),
      // the pre-fix x13 shape: FOUR built-in xpath_* calls per row, each
      // re-parsing the document into its own DTM
      "xpath_builtin4" -> (() =>
        df.select(
            expr("xpath_int(xml, '/o/item[1]')").as("a"),
            expr("xpath_string(xml, '/o/item[1]')").as("b"),
            expr("xpath_double(xml, '/o/item[2]')").as("c"),
            expr("size(xpath(xml, '/o/item/text()'))").as("d"))
          .agg(sum(col("a") + col("c").cast("long") + col("d")))
          .first().getLong(0)),
      // the same four extractions through ONE parse (the x13 fix)
      "xpath_multi4" -> (() =>
        df.select(graft.xml.XPathMultiExpr.xpath_multi(col("xml"),
            Seq("/o/item[1]", "/o/item[2]", "/o/item/text()")).as("m"))
          .select(
            get(col("m.p0"), lit(0)).cast("long").as("a"),
            get(col("m.p0"), lit(0)).as("b"),
            get(col("m.p1"), lit(0)).cast("double").as("c"),
            size(col("m.p2")).as("d"))
          .agg(sum(col("a") + col("c").cast("long") + col("d")))
          .first().getLong(0)),
      // the real x2 shape: DSL array parser (transform over xml_children
      // with a nested from_xml per child) exploded, no persist
      "dsl_generate" -> (() => {
        val parser = graft.xml.XmlParser.array { c =>
          c.obj("item") { z =>
            struct(z.attribute("ln").cast("int").as("ln"), z.tag.as("tag"))
          }
        }
        df.select(parser.parse(col("xml")).as("items"))
          .select(posexplode(col("items")))
          .agg(sum(col("col.ln").cast("long"))).first().getLong(0)
      }),
      "dsl_project" -> (() => {
        val parser = graft.xml.XmlParser.array { c =>
          c.obj("item") { z =>
            struct(z.attribute("ln").cast("int").as("ln"), z.tag.as("tag"))
          }
        }
        df.select(parser.parse(col("xml")).as("items"))
          .select(sum(get(col("items"), lit(0)).getField("ln").cast("long")))
          .first().getLong(0)
      }),
      // the actual x2 gate query (whatever persist strategy it ships with)
      "x2_real" -> (() => {
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.01")
        graft.queries.XmlQueries.x2ArrayOrder(spark, sfDir).count()
      }),
      // gate queries under the bench's real materializing action
      "x1_noop" -> (() => {
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.01")
        graft.queries.XmlQueries.x1ScanCast(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); 0L
      }),
      "x3_noop" -> (() => {
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.01")
        graft.queries.XmlQueries.x3WildcardTag(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); 0L
      }),
      "x4_noop" -> (() => {
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.01")
        graft.queries.XmlQueries.x4FirstWinsAlt(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); 0L
      }),
      // x4 cost split: the same document through ONLY the native struct
      // parse vs ONLY the alternatives (xml_children) parse
      "x4_struct_noop" -> (() => {
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.01")
        graft.queries.XmlQueries.x4StructOnly(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); 0L
      }),
      "x4_alt_noop" -> (() => {
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.01")
        graft.queries.XmlQueries.x4AltOnly(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); 0L
      }),
      // x2 rebuilt inline with NO persist
      "x2_nopersist" -> (() => {
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.01")
        val li = Tables.lineitem(spark, sfDir)
        val docs = li
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_list(struct(
            col("l_linenumber"),
            Tables.dec(col("l_quantity")).as("qty")))).as("items"))
          .select(col("l_orderkey"),
            concat(lit("<o>"),
              concat_ws("", transform(col("items"), x =>
                concat(lit("<item ln='"),
                  x.getField("l_linenumber").cast("string"),
                  lit("'>"), x.getField("qty").cast("string"),
                  lit("</item>")))),
              lit("</o>")).as("xml"))
        val parser = graft.xml.XmlParser.array { c =>
          c.obj("item") { z =>
            struct(z.attribute("ln").cast("int").as("ln"), z.tag.as("tag"))
          }
        }
        docs.select(col("l_orderkey").as("okey"),
            parser.parse(col("xml")).as("items"))
          .select(col("okey"), posexplode(col("items")))
          .select(col("okey"), col("pos").cast("int").as("pos"),
            col("col.ln").as("ln"), col("col.tag").as("tag"))
          .orderBy("okey", "pos").count()
      }))

    val loop = args.length > 2 && args(2) == "loop"
    val selected = loopCase match {
      case Some(f) => cases.filter { case (n2, _) => f.split(",").contains(n2) }
      case None    => cases
    }
    if (loop) {
      val (name, fn) = selected.head
      println(s"looping $name forever; jstack me")
      while (true) fn()
    } else {
      // warm once, then time 3 reps each
      selected.foreach { case (_, fn) => fn() }
      val bytesPerRow = 70.0
      selected.foreach { case (name, fn) =>
        val reps = 3
        val t0 = System.nanoTime()
        var r = 0L
        (1 to reps).foreach(_ => r = fn())
        val sec = (System.nanoTime() - t0) / 1e9 / reps
        // MB/s only applies to the synthetic-doc cases; the x*_noop/x*_real
        // cases read testdata whose byte volume n*bytesPerRow doesn't model
        val mbs = n * bytesPerRow / sec / 1e6
        if (name == "split") println(f"$name%-20s ${sec}%8.3f s/rep  " +
          f"${flatFile.length / sec / 1e6}%8.1f MB/s/core  (r=$r)")
        else if (name.startsWith("fx_") || name.startsWith("stax_") ||
            name.startsWith("dsl_"))
          println(f"$name%-20s ${sec}%8.3f s/rep  ${mbs}%8.1f MB/s  (r=$r)")
        else println(f"$name%-20s ${sec}%8.3f s/rep  (r=$r)")
      }
    }
    spark.stop()
  }
}
