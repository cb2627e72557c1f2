package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.xml.{XmlMemoParseExpr, XmlParser}

class PlanSpec extends AnyFunSuite with SharedSpark {

  private def parseCount(plan: org.apache.spark.sql.catalyst.plans.logical
      .LogicalPlan): Int =
    plan.collect { case p =>
      p.expressions.map(_.collect { case _: XmlMemoParseExpr => 1 }.sum).sum
    }.sum

  // flat native specs parse via XmlFlatParseExpr instead of from_xml
  private def flatParseCount(plan: org.apache.spark.sql.catalyst.plans
      .logical.LogicalPlan): Int =
    plan.collect { case p =>
      p.expressions.map(_.collect {
        case _: graft.xml.XmlFlatParseExpr => 1
      }.sum).sum
    }.sum

  // parquet-backed (a local Seq would constant-fold into a LocalRelation
  // and optimize the parses away entirely)
  private def multiMemberQuery(sp: SparkSession) = {
    val parser = XmlParser.struct("r") { a =>
      org.apache.spark.sql.functions.struct(
        a.int("i").as("i"), a.nullInt("ni").as("ni"),
        a.str("s").as("s"), a.nullBool("nb").as("nb"))
    }
    sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(concat(lit("<r><i>"), (col("doc_id") % 10).cast("string"),
        lit("</i><ni>"), (col("doc_id") % 7).cast("string"),
        lit("</ni><s>"), substring(col("text"), 1, 3),
        lit("</s><nb>true</nb></r>")).as("x"))
      .select(parser.parse(col("x")).as("r")).select("r.*")
      .orderBy("i", "ni", "s")
  }

  private def rawParseCount(plan: org.apache.spark.sql.catalyst.plans
      .logical.LogicalPlan): Int =
    plan.collect { case p =>
      p.expressions.map(_.collect {
        case e if e.prettyName == "from_xml" => 1
      }.sum).sum
    }.sum

  test("DedupXmlParses rewrites duplicate parses to a single evaluation") {
    val before = ruleOff(multiMemberQuery(_).queryExecution.optimizedPlan)
    // the spec is flat (all scalars), so the parse is XmlFlatParseExpr;
    // every member reference duplicates it in the optimized Project
    assert(flatParseCount(before) > 1) // the duplication the rule exists for
    val after = DedupXmlParses(before)
    // exactly one parse per row survives, nothing behind a memo wrapper
    assert(flatParseCount(after) == 1)
    assert(parseCount(after) == 0)
    assert(rawParseCount(after) == 0)
    // the rule is idempotent (stable under the fixpoint batch)
    assert(DedupXmlParses(after).fastEquals(after))
  }

  test("extension-registered session: one parse in the plan, same results") {
    val baseline = ruleOff(multiMemberQuery(_).collect().toSeq)
    val df = multiMemberQuery(spark)
    assert(parseCount(df.queryExecution.optimizedPlan) == 0)
    assert(flatParseCount(df.queryExecution.optimizedPlan) == 1)
    assert(df.collect().toSeq == baseline)
  }

  test("DedupXmlParses leaves a nested parse inside a transform lambda " +
      "to the row memo; rows equal the rule-off result") {
    // array elements holding a nested obj: each element's parse is a
    // memo-wrapped from_xml over the lambda variable's outer XML
    val parser = XmlParser.array { c =>
      c.obj("item") { it =>
        struct(it.int("id").as("id"),
          it.obj("sub")(s => concat(s.str("v"), s.str("w"))).as("vw"))
      }
    }
    // a range, not a local Seq, so the parses are not constant-folded
    def query(sp: SparkSession) =
      sp.range(0, 200)
        .select(concat(lit("<r><item><id>"),
          (col("id") % 10).cast("string"), lit("</id><sub><v>"),
          (col("id") % 7).cast("string"), lit("</v><w>w</w></sub>" +
            "</item><item><id>7</id></item></r>")).as("x"))
        .select(parser.parse(col("x")).as("a"))
    val baseline = ruleOff(query(_).collect().map(_.toString).sorted.toSeq)
    // the nested parse really binds: every first item's sub reads "<v>w"
    assert(query(spark).select(col("a").getItem(0).getField("vw")).collect()
      .forall(r => r.getString(0) != null && r.getString(0).endsWith("w")))

    val df = query(spark)
    val plan = df.queryExecution.optimizedPlan
    // the rule ran and left nothing to pull ...
    assert(DedupXmlParses(plan).fastEquals(plan))
    // ... because every surviving memo-wrapped parse reads the lambda
    // variable
    val memos = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case m: XmlMemoParseExpr => m })
    assert(memos.nonEmpty, plan.treeString)
    assert(memos.forall(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.NamedLambdaVariable])))
    assert(df.collect().map(_.toString).sorted.toSeq == baseline)
  }

  test("x4 optimized plan: exactly one raw extraction per parser — the " +
      "struct and alternatives parsers never re-parse the row's XML") {
    // x4 runs TWO parsers over the same XML column; its bench reps showed
    // the widest spread (r5 verdict) — this pins the plan shape so a
    // regression to duplicate per-member parses can't land silently.
    val plan = graft.queries.XmlQueries
      .x4FirstWinsAlt(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    var fromXml, flat, stax, memo = 0
    plan.foreach(_.expressions.foreach(_.foreach {
      case _: XmlMemoParseExpr => memo += 1
      case _: graft.xml.XmlFlatParseExpr => flat += 1
      case _: graft.xml.XmlChildrenExpr => stax += 1
      case _: graft.xml.XmlFirstChildExpr => stax += 1
      case e if e.prettyName == "from_xml" => fromXml += 1
      case _ =>
    }))
    // one flat native parse feeds every struct member (x4's spec — id,
    // v, missing_arr — is flat, so no from_xml remains at all); one
    // extraction feeds the alternatives array; no memo wrappers
    assert(flat == 1, s"expected 1 flat parse, got $flat")
    assert(fromXml == 0, s"expected 0 from_xml, got $fromXml")
    assert(stax == 1, s"expected 1 extraction, got $stax")
    assert(memo == 0, s"expected 0 memo-wrapped parses, got $memo")
  }

  test("nested spec optimized plan: no from_xml, one extraction per " +
      "distinct spec, no row memo on any pulled site; rows equal the " +
      "rule-off result") {
    // shaped like the nested benchmark parser: root attributes, an obj
    // with an attribute, an array of two alternatives with a container
    // attribute, a glob obj, root scalars and a custom fragment member
    val ship = XmlParser.fragment { f =>
      struct(f.str("city").as("city"), f.nullInt("zip").as("zip"),
        f.tag.as("tag"))
    }
    val parser = XmlParser.struct("order") { a =>
      struct(
        a.attribute("id").cast("long").as("id"),
        a.attribute("region").as("region"),
        a.obj("cust") { c =>
          struct(c.attribute("tier").as("tier"), c.str("name").as("name"),
            c.nullInt("nk").as("nk"))
        }.as("cust"),
        a.array("lines") { l =>
          struct(l.tag.as("tag"), l.attribute("count").as("count"),
            l.nullInt("item").as("qty"), l.nullDecimal("fee").as("fee"))
        }.as("lines"),
        a.obj("ext_*")(e => struct(e.tag.as("tag"),
          e.attribute("w").as("w"))).as("ext"),
        a.str("note").as("note"),
        a.nullInt("qty").as("qty"),
        a.custom("ship")(ship.parse).as("ship"))
    }
    // every 5th note holds an entity and every 7th ship is malformed, so
    // the per-row fallbacks run too; a range, not a local Seq, so nothing
    // constant-folds
    def query(sp: SparkSession) = {
      val id = col("id").cast("string")
      sp.range(0, 300).select(concat(lit("<order id=\""), id,
        lit("\" region=\"r"), (col("id") % 3).cast("string"),
        lit("\"><cust tier=\"g\"><name>C"), id, lit("</name><nk>"),
        (col("id") % 25).cast("string"), lit("</nk></cust><lines count=\"2\">" +
          "<item>"), (col("id") % 9).cast("string"),
        lit("</item><fee>1.50</fee></lines><ext_red w=\""), id,
        lit("\"/><note>"),
        when(col("id") % 5 === 0, lit("a &amp; b")).otherwise(lit("n")),
        lit("</note><qty>"), id, lit("</qty><ship><city>X"),
        when(col("id") % 7 === 0, lit("</ship>")).otherwise(lit("</city>")),
        lit("<zip>12345</zip></ship></order>")).as("doc"))
        .select(parser.parse(col("doc")).as("p")).select(col("p.*"))
    }
    val baseline = ruleOff(query(_).collect().map(_.toString).sorted.toSeq)
    // the entity notes bind through the fallback, except where the
    // document is also malformed (ids divisible by 35: a null row)
    assert(baseline.count(_.contains("a & b")) == 60 - 9)

    val df = query(spark)
    val plan = df.queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case e => e })
    def count(f: PartialFunction[
        org.apache.spark.sql.catalyst.expressions.Expression, Boolean]) =
      exprs.count(e => f.applyOrElse(e, (_: Any) => false))
    assert(count { case e => e.prettyName == "from_xml" } == 0,
      plan.treeString)
    assert(count { case _: XmlMemoParseExpr => true } == 0, plan.treeString)
    assert(count { case _: graft.xml.XmlFirstChildExpr => true } == 0,
      plan.treeString)
    // one extraction per distinct spec: the document's [lines, ext_*,
    // ship] extraction and the lines container's alternatives
    val extractions = exprs.collect {
      case e: graft.xml.XmlChildrenExpr => e
    }
    assert(extractions.map(_.patterns.toSet).toSet ==
      Set(Set("lines", "ext_*", "ship"), Set("item", "fee")),
      plan.treeString)
    assert(extractions.size == 2, plan.treeString)
    assert(extractions.exists(e => !e.memo && e.needOuter))
    // one parse each: the root, the ship fragment and the lines
    // container's attribute (pulled out of the transform lambda)
    val parses = exprs.collect { case e: graft.xml.XmlFlatParseExpr => e }
    assert(parses.size == 3, plan.treeString)
    assert(parses.map(_.schema.fieldNames.toSet).toSet == Set(
      Set("_id", "_region", "cust", "note", "qty"), Set("city", "zip"),
      Set("_count")))
    assert(DedupXmlParses(plan).fastEquals(plan))
    assert(df.collect().map(_.toString).sorted.toSeq == baseline)
  }

  test("PushLambdaThroughGetItem: element-0 projection of a parsed array " +
      "is lambda-free and matches the unoptimized result") {
    // x3's shape: array member bound per child, query reads element 0
    def q(sp: SparkSession) = {
      val parser = XmlParser.struct("r") { a =>
        org.apache.spark.sql.functions.struct(
          a.int("id").as("id"),
          a.array("vals")(c => c.nullInt("q")).as("vals"))
      }
      sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(concat(lit("<r><id>"), (col("doc_id") % 97).cast("string"),
          lit("</id><vals><q>"), (col("doc_id") % 13).cast("string"),
          lit("</q></vals></r>")).as("x"))
        .select(parser.parse(col("x")).as("r"))
        .select(col("r.id").as("id"), get(col("r.vals"), lit(0)).as("v"))
        .orderBy("id")
    }
    val baseline = ruleOff(q(_).collect().toSeq)
    val df = q(spark)
    val lambdas = df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect {
        case _: org.apache.spark.sql.catalyst.expressions.ArrayTransform =>
          1
      }.sum).sum
    }.sum
    assert(lambdas == 0) // the interpreted transform is gone
    assert(df.collect().toSeq == baseline)
  }

  test("AsOfJoinExec: first-class operator matches union-and-carry; " +
      "merge semantics on edges") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_event"))
    val exec = graft.operators.AsOf.asOfJoinExec(
        purchases, signups, "user_id", "ts", Seq("signup_event"))
      .select(col("event_id"), col("__match.signup_event").as("se"))
    val carry = graft.operators.AsOf.asOfJoin(
        purchases, signups, "user_id", "ts", Seq("signup_event"))
      .select(col("event_id"), col("__match.signup_event").as("se"))
    // the custom physical operator is actually in the plan (physical nodes
    // print without the Exec suffix; '!' would mean missing attributes)
    val planStr = exec.queryExecution.executedPlan.toString
    assert(planStr.contains("AsOfJoin"), s"plan:\n$planStr")
    assert(!planStr.contains("!AsOfJoin"), s"plan:\n$planStr")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sortBy(identity).toSeq
    assert(canon(exec) == canon(carry))
    assert(canon(exec).nonEmpty)
    // edge semantics on a constructed table: tie at equal ts matches
    // (at-or-before), later right rows win, keys without a right row -> null
    import spark.implicits._
    val l = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L),
      (3L, 9L, 103L)).toDF("k", "t", "lid")
    val r = Seq((1L, 10L, 900L), (1L, 15L, 901L), (2L, 6L, 902L))
      .toDF("k", "t", "rid")
    val got = graft.operators.AsOf
      .asOfJoinExec(l, r, "k", "t", Seq("rid"))
      .select(col("lid"), col("__match.rid").as("rid"))
      .collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    assert(got == Map(100L -> Some(900L), 101L -> Some(901L),
      102L -> None, 103L -> None))
  }

  test("as-of direction + tolerance: forward picks the next row, " +
      "tolerance nulls far matches, exec stays one merge pass") {
    import spark.implicits._
    val l = Seq((1L, 10L, 100L), (1L, 14L, 101L), (1L, 20L, 102L),
      (2L, 5L, 103L)).toDF("k", "t", "lid")
    val r = Seq((1L, 10L, 900L), (1L, 15L, 901L), (2L, 1L, 902L))
      .toDF("k", "t", "rid")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lid"), col("__match.rid").as("rid")).collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    // forward, no tolerance: tie at equal ts matches (at-or-after); the
    // SAME right row serves several left rows; nothing after -> null
    val fwdExpect = Map(100L -> Some(900L), 101L -> Some(901L),
      102L -> None, 103L -> None)
    val fwdCarry = graft.operators.AsOf.asOfJoin(
      l, r, "k", "t", Seq("rid"), direction = "forward")
    val fwdExec = graft.operators.AsOf.asOfJoinExec(
      l, r, "k", "t", Seq("rid"), direction = "forward")
    assert(canon(fwdCarry) == fwdExpect)
    assert(canon(fwdExec) == fwdExpect)
    // backward + tolerance 3: lid=101 is 4 ticks past its nearest
    // predecessor (t=10) -> nulled; lid=103 is 4 past 902 -> nulled
    val tolExpect = Map(100L -> Some(900L), 101L -> None,
      102L -> None, 103L -> None)
    val tolCarry = graft.operators.AsOf.asOfJoin(
      l, r.filter(col("t") =!= 15L), "k", "t", Seq("rid"),
      tolerance = Some(lit(3L)))
    val tolExec = graft.operators.AsOf.asOfJoinExec(
      l, r.filter(col("t") =!= 15L), "k", "t", Seq("rid"),
      tolerance = Some(3L))
    assert(canon(tolCarry) == tolExpect)
    assert(canon(tolExec) == tolExpect)
    // the exec's plan shape is unchanged by direction/tolerance: one
    // AsOfJoin, no Window, both children sorted once
    val planStr = graft.operators.AsOf.asOfJoinExec(
        l, r, "k", "t", Seq("rid"), direction = "forward",
        tolerance = Some(3L))
      .queryExecution.executedPlan.toString
    assert(planStr.linesIterator.count(_.contains("AsOfJoin")) == 1,
      s"plan:\n$planStr")
    assert(!planStr.contains("Window"), s"plan:\n$planStr")
  }

  test("as-of null semantics: null right ts/key never matches, null left " +
      "ts/key gets a null match — carry and exec agree, both directions") {
    import spark.implicits._
    val l = Seq((Some(1L), Some(10L), 100L), (Some(1L), None, 101L),
      (None, Some(5L), 102L), (Some(2L), Some(7L), 103L))
      .toDF("k", "t", "lid")
    val r = Seq((Some(1L), Some(9L), 900L), (Some(1L), None, 901L),
      (None, Some(1L), 902L), (Some(2L), Some(8L), 903L))
      .toDF("k", "t", "rid")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lid"), col("__match.rid").as("rid")).collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    for (dir <- Seq("backward", "forward")) {
      val carry = canon(graft.operators.AsOf.asOfJoin(
        l, r, "k", "t", Seq("rid"), direction = dir))
      val exec = canon(graft.operators.AsOf.asOfJoinExec(
        l, r, "k", "t", Seq("rid"), direction = dir))
      assert(carry == exec, s"direction=$dir carry=$carry exec=$exec")
      // null left ts (101) and null left key (102) never match; the
      // null-ts right row 901 is never carried into anything
      assert(carry(101L).isEmpty && carry(102L).isEmpty, s"dir=$dir")
      assert(!carry.values.flatten.exists(_ == 901L), s"dir=$dir")
    }
    // sanity on the real rows: backward 100->900 (9<=10), forward
    // 103 -> 903 (8>=7)
    val back = canon(graft.operators.AsOf.asOfJoin(
      l, r, "k", "t", Seq("rid")))
    assert(back(100L) == Some(900L))
    val fwd = canon(graft.operators.AsOf.asOfJoin(
      l, r, "k", "t", Seq("rid"), direction = "forward"))
    assert(fwd(103L) == Some(903L))
  }

  test("PushLambdaThroughExplode: explode(transform) becomes a codegen'd " +
      "projection over the exploded elements, same results") {
    def query(sp: SparkSession) = {
      val parser = XmlParser.array { c =>
        c.obj("item") { z =>
          org.apache.spark.sql.functions.struct(
            z.attribute("ln").cast("int").as("ln"), z.tag.as("tag"))
        }
      }
      sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(50)
        .select(col("doc_id"), concat(lit("<o><item ln='1'>"),
          substring(col("text"), 1, 3),
          lit("</item><item ln='2'>x</item></o>")).as("xml"))
        .select(col("doc_id"), parser.parse(col("xml")).as("items"))
        .select(col("doc_id"), posexplode(col("items")))
        .select(col("doc_id"), col("pos"), col("col.ln").as("ln"),
          col("col.tag").as("tag"))
        .orderBy("doc_id", "pos")
    }
    def transformCount(plan: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Int =
      plan.collect { case n =>
        n.expressions.map(_.collect {
          case _: org.apache.spark.sql.catalyst.expressions
            .ArrayTransform => 1
        }.sum).sum
      }.sum
    val optimized = query(spark).queryExecution.optimizedPlan
    // the interpreted ArrayTransform is gone from the whole plan — the λ
    // body now runs as a whole-stage-codegen'd Project after the Generate
    assert(optimized.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.nonEmpty)
    assert(transformCount(optimized) == 0, optimized.treeString)
    // same rows as the un-rewritten plan (the rule-off session keeps the
    // transform)
    val got = query(spark).collect().map(_.toString).toSeq
    val baseline = ruleOff { sp =>
      assert(transformCount(query(sp).queryExecution.optimizedPlan) > 0,
        "baseline session unexpectedly rewrote too")
      query(sp).collect().map(_.toString).toSeq
    }
    assert(got == baseline)
  }

  test("SummaryRewrite: fires on the provable shape only — a filter " +
      "between aggregate and scan, or an unsupported aggregate, bails") {
    val sf = "/root/testdata/sf0.001"
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
    val sumDir = graft.Tables.scratchDir("graft-q34spec")
    base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_v"))
      .write.mode("overwrite").parquet(sumDir)
    SummaryRegistry.register(s"$sf/lineitem.parquet",
      SummaryRegistry.Entry(
        spark.read.parquet(sumDir).queryExecution.analyzed,
        groupCol = "l_returnflag", sumCol = "l_quantity"))
    try {
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
      // provable: rule rewrites, and the rewritten plan computes the
      // same answer as the original (read in the rule-off session, where
      // the registered summary cannot answer it too)
      val gPlan = agg(base).queryExecution.analyzed
      val rewritten = SummaryRewrite(gPlan)
      assert(!rewritten.fastEquals(gPlan), "expected a rewrite")
      assert(rewritten.toString.contains("sum_v"), rewritten.toString)
      val viaSummary = org.apache.spark.sql.graft.DatasetBridge
        .ofRows(spark, rewritten)
        .orderBy("l_returnflag").collect().map(_.toString).toSeq
      val direct = ruleOff(sp => agg(sp.read.parquet(s"$sf/lineitem.parquet"))
        .orderBy("l_returnflag").collect().map(_.toString).toSeq)
      assert(viaSummary == direct)
      // a filter between aggregate and scan changes the group contents ->
      // the summary is NOT valid -> no rewrite
      val filtered = agg(base.filter(col("l_quantity") > 10))
        .queryExecution.analyzed
      assert(SummaryRewrite(filtered).fastEquals(filtered))
      // an aggregate the summary cannot answer (un-cast min) -> no rewrite
      val unsupported = base.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), min(col("l_quantity")).as("m"))
        .queryExecution.analyzed
      assert(SummaryRewrite(unsupported).fastEquals(unsupported))
      // a FILTER clause restricts the aggregated rows -> no rewrite
      val filteredAgg = spark.sql(
        "SELECT l_returnflag, count(*) FILTER (WHERE l_quantity > 10) AS n" +
          ", SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s " +
          s"FROM parquet.`$sf/lineitem.parquet` GROUP BY l_returnflag")
        .queryExecution.analyzed
      assert(SummaryRewrite(filteredAgg).fastEquals(filteredAgg))
      // count of a NULL literal is 0, not the row count -> no rewrite
      val countNull = base.groupBy(col("l_returnflag"))
        .agg(count(lit(null)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
        .queryExecution.analyzed
      assert(SummaryRewrite(countNull).fastEquals(countNull))
      // a DIFFERENT cast (double) of the summed column changes the float
      // semantics -> no rewrite
      val wrongCast = base.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("double")).as("s"))
        .queryExecution.analyzed
      assert(SummaryRewrite(wrongCast).fastEquals(wrongCast))
    } finally SummaryRegistry.deregister(s"$sf/lineitem.parquet")
  }

  test("SummaryRewrite: registry matches the exact table path only — a " +
      "bare-suffix registration never fires") {
    val sf = "/root/testdata/sf0.001"
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
    val sumDir = graft.Tables.scratchDir("graft-q34spec-sfx")
    base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_v"))
      .write.mode("overwrite").parquet(sumDir)
    val entry = SummaryRegistry.Entry(
      spark.read.parquet(sumDir).queryExecution.analyzed,
      groupCol = "l_returnflag", sumCol = "l_quantity")
    val plan = base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
      .queryExecution.analyzed
    // a suffix-only key ("lineitem.parquet") would have matched under the
    // old endsWith rule and silently rewritten ANY table with that leaf
    // name; the exact-path registry must not fire on it
    SummaryRegistry.register("lineitem.parquet", entry)
    try assert(SummaryRewrite(plan).fastEquals(plan))
    finally SummaryRegistry.deregister("lineitem.parquet")
    // the full path (with or without a file: scheme) does fire
    SummaryRegistry.register(s"file:$sf/lineitem.parquet", entry)
    try {
      assert(!SummaryRewrite(plan).fastEquals(plan))
      // ... but only from the REGISTERING session: a concurrent session
      // scanning the same path must not inherit the rewrite
      val other = spark.newSession()
      org.apache.spark.sql.SparkSession.setActiveSession(other)
      try assert(SummaryRewrite(plan).fastEquals(plan))
      finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    } finally SummaryRegistry.deregister(s"file:$sf/lineitem.parquet")
  }

  test("SummaryRewrite: multi-column summary answers the full group-by " +
      "AND a subset group-by; two aggregates in one query get distinct " +
      "fresh summary instances") {
    val sf = "/root/testdata/sf0.001"
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
    val sumDir = graft.Tables.scratchDir("graft-q34spec-multi")
    base.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_v"))
      .write.mode("overwrite").parquet(sumDir)
    SummaryRegistry.register(s"$sf/lineitem.parquet",
      SummaryRegistry.Entry(
        spark.read.parquet(sumDir).queryExecution.analyzed,
        Seq("l_returnflag", "l_linestatus"), "l_quantity"))
    try {
      type DF = org.apache.spark.sql.DataFrame
      // the direct answer is read in the rule-off session, where the
      // registered summary cannot answer it too
      def direct[A](q: DF => A): A =
        ruleOff(sp => q(sp.read.parquet(s"$sf/lineitem.parquet")))
      def check(q: DF => DF, order: Seq[String]): Unit = {
        val plan = q(base).queryExecution.analyzed
        val rewritten = SummaryRewrite(plan)
        assert(!rewritten.fastEquals(plan), "expected a rewrite")
        val got = org.apache.spark.sql.graft.DatasetBridge
          .ofRows(spark, rewritten)
          .orderBy(order.map(col): _*).collect().map(_.toString).toSeq
        assert(got == direct(q(_).orderBy(order.map(col): _*).collect()
          .map(_.toString).toSeq))
      }
      // full group set
      check(_.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("s")),
        Seq("l_returnflag", "l_linestatus"))
      // SUBSET of the summary's group columns — re-aggregation collapses
      // the l_linestatus dimension
      check(_.groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("s")),
        Seq("l_linestatus"))
      // two rewritable aggregates in ONE query (union): each must get a
      // FRESH summary instance — shared exprIds across the two scans
      // would mis-resolve post-analysis
      def aggOn(b: DF, c: String) =
        b.groupBy(col(c)).agg(count(lit(1)).as("n")).select(col("n"))
      def union(b: DF) =
        aggOn(b, "l_returnflag").union(aggOn(b, "l_linestatus"))
      val uPlan = union(base).queryExecution.analyzed
      val uRewritten = SummaryRewrite(uPlan)
      assert(!uRewritten.fastEquals(uPlan), "expected both sides rewritten")
      val scans = uRewritten.collect {
        case r: org.apache.spark.sql.execution.datasources
            .LogicalRelation => r
      }
      assert(scans.size == 2)
      assert(scans(0).output.map(_.exprId).toSet
        .intersect(scans(1).output.map(_.exprId).toSet).isEmpty,
        "the two rewrites must not share summary exprIds")
      val got = org.apache.spark.sql.graft.DatasetBridge
        .ofRows(spark, uRewritten)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == direct(union(_).collect().map(_.getLong(0)).sorted.toSeq))
    } finally SummaryRegistry.deregister(s"$sf/lineitem.parquet")
  }

  test("column lineage: window, union positional merge, explode, " +
      "filter/join conditions don't taint, parquet source naming") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // window + arithmetic: rank over length(text), value from doc_id
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(length(col("text")))
    val b = docs.filter(col("source") =!= "zz")
      .select(col("doc_id"), (col("doc_id") * 2).as("v"),
        row_number().over(w).as("rk"))
    val linB = Lineage.columnLineage(b.select(col("v"), col("rk")))
    assert(linB.contains(("v", "documents", "doc_id")))
    assert(linB.contains(("rk", "documents", "text")))
    // the filter's `source` column must NOT appear anywhere
    assert(!linB.exists(_._3 == "source"))

    // union merges positionally across DIFFERENT source tables
    val e = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val u = docs.select(col("doc_id").as("id"))
      .union(e.select(col("vec_id").as("id")))
    val linU = Lineage.columnLineage(u)
    assert(linU.toSet == Set(
      ("id", "documents", "doc_id"), ("id", "embeddings", "vec_id")))

    // explode (Generate): output element traces to the array source
    val g = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val linG = Lineage.columnLineage(g.select(col("tok")))
    assert(linG == Seq(("tok", "documents", "text")))

    // totality: a constant-only Generate output still appears (<const>),
    // never silently vanishes from the audit report
    val gc = docs.select(explode(array(lit(1), lit(2))).as("x"))
    assert(Lineage.columnLineage(gc) == Seq(("x", "<const>", "<const>")))
    // and Expand via cube: the grouping-id machinery must not drop rows
    val cu = docs.cube(col("source")).count()
    assert(Lineage.columnLineage(cu).map(_._1).toSet ==
      Set("source", "count"))

    // join: keys don't taint, payloads trace to their own side
    val j = docs.select(col("doc_id"), col("text"))
      .join(e.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .select(col("text"), col("embedding"))
    val linJ = Lineage.columnLineage(j).toSet
    assert(linJ == Set(("text", "documents", "text"),
      ("embedding", "embeddings", "embedding")))
  }
}
