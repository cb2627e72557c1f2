package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class OperatorSpec extends AnyFunSuite with SharedSpark {

  /** All shuffle exchanges in a physical plan, descending through AQE
    * wrappers (AdaptiveSparkPlanExec / QueryStageExec are leaf-like, so a
    * plain collect — or a string match on "ShuffleExchange", which is not
    * even a node name — misses them). */
  private def collectShuffles(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case s: ShuffleExchangeLike => Seq(s)
      case _                      => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    self ++ kids.flatMap(collectShuffles)
  }

  private val sf = "/root/testdata/sf0.001"

  /** All FileSourceScanExec nodes, descending through AQE wrappers. */
  private def collectScans(p: SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val self = p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    self ++ kids.flatMap(collectScans)
  }

  test("partitioned write + read-back: partition filter prunes at " +
      "directory granularity — non-matching files are never read") {
    val dir = graft.Tables.scratchDir("graft-q20spec")
    spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    def parquetFiles(f: java.io.File): Int = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.count(k => k.isFile && k.getName.endsWith(".parquet")) +
        kids.filter(_.isDirectory).map(parquetFiles).sum
    }
    val totalFiles = parquetFiles(new java.io.File(dir))
    val yearDirs = Option(new java.io.File(dir).listFiles()).get
      .count(f => f.isDirectory && f.getName.startsWith("o_year="))
    assert(yearDirs > 1, "need several partitions for pruning to mean much")
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1995)
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s"))
    pruned.collect()
    val scan = collectScans(pruned.queryExecution.executedPlan).head
    // the predicate rides the scan as a partition filter, not a data filter
    assert(scan.partitionFilters.exists(_.references.exists(
      _.name == "o_year")), scan.toString)
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead > 0 && filesRead < totalFiles,
      s"expected pruning: read $filesRead of $totalFiles files")
    // pruned result equals the unpartitioned filter (values survive intact)
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .filter(year(col("o_orderdate")) === 1995)
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s"))
      .collect().toSeq
    assert(pruned.collect().toSeq == expected)
  }

  test("salted join result equals plain join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = spark.read.parquet(s"$sf/part.parquet")
    val salted = Skew.saltedJoin(li, p, "l_partkey", "p_partkey",
        col("l_orderkey") * 10 + col("l_linenumber"), salt = 8)
      .groupBy("p_brand").count().orderBy("p_brand").collect().toSeq
    val plain = li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand").count().orderBy("p_brand").collect().toSeq
    assert(salted == plain)
  }

  test("adaptiveSaltedJoin: uniform keys -> no replication; skewed keys " +
      "-> only hot keys salted; result always equals the plain join") {
    import spark.implicits._
    // uniform fact: every key appears exactly 10 times -> nothing is hot
    val uniformFact = spark.range(0, 2000)
      .select((col("id") % 200).as("k"), col("id").as("disc"))
    val dim = spark.range(0, 200)
      .select(col("id").as("dk"), concat(lit("d"), col("id")).as("dval"))
    val uni = Skew.adaptiveSaltedJoin(uniformFact, dim, "k", "dk",
      col("disc"), maxSalt = 8, hotThreshold = 50, sampleFraction = 1.0)
    assert(uni.count() == 2000L) // == plain join: replication factor 1
    // the dim-side explode produced exactly |dim| rows (no hot keys), which
    // the join consumes fully on uniform keys -> count check above suffices,
    // but also assert the hot probe found nothing by checking a skew case
    // differs: fact where key 7 holds half the rows
    val skewFact = spark.range(0, 2000)
      .select(when(col("id") < 1000, lit(7L)).otherwise(col("id") % 200)
        .as("k"), col("id").as("disc"))
    val sk = Skew.adaptiveSaltedJoin(skewFact, dim, "k", "dk",
      col("disc"), maxSalt = 8, hotThreshold = 50, sampleFraction = 1.0)
    val plain = skewFact.join(dim, col("k") === col("dk"))
    assert(sk.count() == plain.count())
    val skAgg = sk.groupBy("dval").count().orderBy("dval")
      .as[(String, Long)].collect().toSeq
    val plainAgg = plain.groupBy("dval").count().orderBy("dval")
      .as[(String, Long)].collect().toSeq
    assert(skAgg == plainAgg)
    // hot key 7 fanned out across several salt buckets: the salted fact for
    // key 7 must hit > 1 distinct salt (it holds 1000 rows, maxSalt = 8)
    val saltSpread = skewFact
      .withColumn("__salt", pmod(abs(hash(col("disc"))), lit(8)))
      .filter(col("k") === 7).select("__salt").distinct().count()
    assert(saltSpread > 1)
  }

  test("bucketed tables join without a shuffle exchange") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Seq("li_b", "o_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles.foreach(rm)
          f.delete(): Unit
        }
        rm(d)
      }
    }
    Bucketing.writeBucketed(li, "li_b", "l_orderkey", 4)
    Bucketing.writeBucketed(o, "o_b", "l_orderkey", 4)
    // force a sort-merge join so the test demonstrates bucket co-location
    // (a broadcast join would hide the shuffle question entirely)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.colocatedJoin(spark, "li_b", "o_b", "l_orderkey")
      assert(joined.count() == li.join(o, "l_orderkey").count())
      // inspect AFTER the action so AQE's final plan is in place
      val plan = joined.queryExecution.executedPlan
      val shuffles = collectShuffles(plan)
      assert(shuffles.isEmpty, s"unexpected shuffle:\n$plan")
      assert(plan.toString.contains("SortMergeJoin"))
      // sanity: the same join over non-bucketed parquet DOES shuffle —
      // proves the collector actually sees exchanges through AQE wrappers
      val unbucketed = li.join(o, "l_orderkey")
      unbucketed.count()
      assert(collectShuffles(unbucketed.queryExecution.executedPlan).nonEmpty)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q22: COUNT/MIN/MAX ride the parquet scan as PushedAggregation") {
    val df = graft.queries.Relational
      .q22AggPushdown(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(
      "PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]"),
      plan.linesIterator.filter(_.contains("Scan")).mkString("\n"))
    // and the footer-stats answer equals the row-scan answer
    val full = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey")))
      .collect()(0)
    assert(df.collect()(0) == full)
  }

  test("q23 compaction: many small files become the asked-for file count " +
      "with no rows lost") {
    val row = graft.queries.Relational
      .q23Compaction(spark, "/root/testdata/sf0.001").collect()(0)
    assert(row.getInt(0) == 48 && row.getInt(1) == 4,
      s"files ${row.getInt(0)} -> ${row.getInt(1)}")
    val n = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(row.getLong(2) == n)
  }

  test("simhash64: identical docs collide at hamming 0; cap drops hot buckets") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, "the quick brown fox jumps"))
      .toDF("id", "text")
    val pairs = Dedup.simhashPairs(docs, col("id"), col("text"),
      bandBits = 8, bands = 8, maxHamming = 0)
    assert(pairs.count() == 190) // C(20,2), all hamming 0
    // every band bucket holds all 20 docs; a cap of 10 drops them all
    val capped = Dedup.simhashPairs(docs, col("id"), col("text"),
      bandBits = 8, bands = 8, maxHamming = 0, maxBucket = 10)
    assert(capped.count() == 0)
    // cap above the bucket size changes nothing
    val uncapped = Dedup.simhashPairs(docs, col("id"), col("text"),
      bandBits = 8, bands = 8, maxHamming = 0, maxBucket = 20)
    assert(uncapped.count() == 190)
  }

  test("t50 budget apportionment: allocations sum EXACTLY to the " +
      "budget and extras land on the largest remainders") {
    val rows = graft.queries.ExtensionQueries
      .t50BudgetApportion(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getLong(5)).sum == 1000000L,
      "largest-remainder apportionment must hand out the whole budget")
    // alloc - floor_quota is 0 or 1, and every source granted an extra
    // has a remainder >= every source denied one
    assert(rows.forall(r => (r.getLong(5) - r.getLong(2)) == r.getLong(4)
      && (r.getLong(4) == 0L || r.getLong(4) == 1L)))
    val granted = rows.filter(_.getLong(4) == 1L).map(_.getLong(3))
    val denied = rows.filter(_.getLong(4) == 0L).map(_.getLong(3))
    if (granted.nonEmpty && denied.nonEmpty)
      assert(granted.min >= denied.max)
  }

  test("q51 joinDelta: the three delta terms exactly complete the " +
      "materialized base join under inserts on both sides") {
    import spark.implicits._
    import graft.operators.Ivm
    val L0 = Seq((1L, 10L), (2L, 20L)).toDF("k", "lv")
    val R0 = Seq((1L, 100L), (3L, 300L)).toDF("k", "rv")
    val dL = Seq((3L, 30L), (4L, 40L)).toDF("k", "lv")
    val dR = Seq((2L, 200L), (4L, 400L)).toDF("k", "rv")
    val maintained = L0.join(R0, "k")
      .unionByName(Ivm.joinDelta(L0, R0, dL, dR, "k"))
    val recomputed = L0.union(dL).join(R0.union(dR), "k")
    assert(maintained.count() == recomputed.count())
    assert(maintained.except(recomputed).isEmpty &&
      recomputed.except(maintained).isEmpty)
    // expected rows: (1,10,100) base; (3,30,300) dL x R; (2,20,200)
    // L x dR; (4,40,400) dL x dR — one from each term
    assert(maintained.as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 10L, 100L), (3L, 30L, 300L), (2L, 20L, 200L),
        (4L, 40L, 400L)))
    // every delta term is a broadcast join (delta-sized build sides)
    val plan = Ivm.joinDelta(L0, R0, dL, dR, "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "delta terms should broadcast the delta side")
  }

  test("q58 agg-over-join maintenance: stored state + delta-state merge " +
      "equals the full recompute, and the stored artifact is " +
      "group-sized") {
    import spark.implicits._
    import graft.operators.Ivm
    val L0 = Seq((1L, 10L), (2L, 20L), (1L, 11L)).toDF("k", "v")
    val R0 = Seq((1L, 7L), (2L, 7L), (3L, 9L)).toDF("k", "g")
    val dL = Seq((3L, 30L), (1L, 12L)).toDF("k", "v")
    val dR = Seq((4L, 9L)).toDF("k", "g")
    val stored = Ivm.aggState(L0.join(R0, "k"), col("g"), col("v"))
    val deltaState = Ivm.aggState(
      Ivm.joinDelta(L0, R0, dL, dR, "k"), col("g"), col("v"))
    val merged = Ivm.mergeStates(Seq(stored, deltaState))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val full = Ivm.aggState(
        L0.union(dL).join(R0.union(dR), "k"), col("g"), col("v"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(merged === full)
    // state-sized artifact: one row per group, not per joined row
    assert(stored.count() <= 2)
  }

  test("q59 joinRetractDelta: signed delta equals full recompute under " +
      "a mixed batch; each delete x delete intersection retracts " +
      "exactly once and an append to a deleted key contributes " +
      "nothing") {
    import spark.implicits._
    import graft.operators.Ivm
    // base: keys 1,2,5 on L; 1,2,5,9 on R (9 dangling)
    val L0 = Seq((1L, 10L), (2L, 20L), (5L, 50L), (5L, 51L))
      .toDF("k", "v")
    val R0 = Seq((1L, 7L), (2L, 7L), (5L, 9L), (9L, 9L)).toDF("k", "g")
    // batch: append L rows on keys 2 (live) and 5 (R-deleted);
    // delete L rows (1,10) [live R key] and (5,50) [R key ALSO
    // deleted — the intersection]; delete R keys 5 and 9
    val apL = Seq((2L, 21L), (5L, 52L)).toDF("k", "v")
    val delL = Seq((1L, 10L), (5L, 50L)).toDF("k", "v")
    val delR = Seq((5L, 9L), (9L, 9L)).toDF("k", "g")
    val stored = Ivm.aggState(L0.join(R0, "k"), col("g"), col("v"))
      .select(col("grp"), col("cnt"), col("sum_v"))
    val deltaState = Ivm.joinRetractDelta(L0, R0, apL, delL, delR, "k")
      .groupBy(col("g").as("grp"))
      .agg(sum(col("sign")).as("cnt_d"),
        sum(col("v") * col("sign")).as("sum_d"))
    val merged = stored.join(deltaState, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("cnt_d"), lit(0L)))
          .as("cnt"),
        (coalesce(col("sum_v"), lit(0L)) +
          coalesce(col("sum_d"), lit(0L))).as("s"))
      .filter(col("cnt") > 0)
      .as[(Long, Long, Long)].collect().toSet
    // full recompute over the post-batch tables
    val lPost = L0.except(delL).union(apL)
    val rPost = R0.except(delR)
    val full = Ivm.aggState(lPost.join(rPost, "k"), col("g"), col("v"))
      .select(col("grp"), col("cnt"), col("sum_v"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full)
    // group 9 vanished entirely (cnt reached 0 -> dropped); group 7
    // lost (1,10) and gained the key-2 append; key-5's append never
    // appears and its delete retracts once, not twice
    assert(merged === Set((7L, 2L, 41L)))
    // every signed term is delta-broadcast
    val plan = Ivm.joinRetractDelta(L0, R0, apL, delL, delR, "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "signed delta terms should broadcast the delta side")
  }

  test("q60 minReserve/reserveFastMin: a surviving reserve proves the " +
      "min without rescanning; exhausting it (and only that) forces " +
      "the recompute; new groups and below-ceiling appends stay fast") {
    import spark.implicits._
    import graft.operators.Ivm
    // group 1: [1,1,2,5]; group 2: [3,3,4,9,12] (4 distinct — one
    // beyond the k=3 reserve); group 3: [10]
    val base = Seq((1L, 1L), (1L, 1L), (1L, 2L), (1L, 5L),
      (2L, 3L), (2L, 3L), (2L, 4L), (2L, 9L), (2L, 12L),
      (3L, 10L)).toDF("g", "v")
    val reserve = Ivm.minReserve(base, col("g"), col("v"), 3)
    val rmap = reserve.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rmap === Map((1L, 1L) -> 2L, (1L, 2L) -> 1L, (1L, 5L) -> 1L,
      (2L, 3L) -> 2L, (2L, 4L) -> 1L, (2L, 9L) -> 1L, (3L, 10L) -> 1L),
      "3 smallest DISTINCT values with multiplicities; 12 stays out")
    // batch: delete ONE of group 1's 1s (reserve survives); delete
    // group 2's entire reserve; append group 3 a below-ceiling 2;
    // append NEW group 7 a 6
    val appends = Seq((3L, 2L), (7L, 6L)).toDF("g", "v")
    val deletes = Seq((1L, 1L), (2L, 3L), (2L, 3L), (2L, 4L), (2L, 9L))
      .toDF("g", "v")
    val fast = Ivm.reserveFastMin(reserve, appends, deletes,
        col("g"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === Map(1L -> 1L, 3L -> 2L, 7L -> 6L),
      "group 2 must be ABSENT (reserve exhausted -> recompute); " +
        "group 1 keeps min 1 through its surviving copy, group 3 " +
        "takes the below-ceiling append, new group 7 is provable " +
        "from its appends alone")
    // group 2's true post-batch min is the beyond-reserve 12 —
    // exactly the value the fast path could never prove, which is
    // why its absence (not a wrong answer) is the contract
  }

  test("q64 distinctState/distinctNet/distinctFastCount: multiset " +
      "netting maintains exact COUNT(DISTINCT) under mixed batches; " +
      "an unmatched delete nets negative and drops the group to the " +
      "recompute path; vanished values stop counting") {
    import spark.implicits._
    import graft.operators.Ivm
    // group 1: values [10,10,20,30]; group 2: [5,5]; group 3: [7]
    val base = Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 5L), (2L, 5L), (3L, 7L)).toDF("g", "v")
    val state = Ivm.distinctState(base, col("g"), col("v"))
    assert(state.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap ===
      Map((1L, 10L) -> 2L, (1L, 20L) -> 1L, (1L, 30L) -> 1L,
        (2L, 5L) -> 2L, (3L, 7L) -> 1L))
    // batch: group 1 deletes one 10 (copy survives -> distinct stays 3)
    // and its only 20 (vanishes -> 2), appends a NEW 40 (-> 3);
    // group 2 deletes BOTH 5s (distinct -> 0... appends a 6 -> 1);
    // group 3 gets an UNMATCHED delete (value 99 never stored);
    // group 9 is new, appends only
    val appends = Seq((1L, 40L), (2L, 6L), (9L, 1L)).toDF("g", "v")
    val deletes = Seq((1L, 10L), (1L, 20L), (2L, 5L), (2L, 5L),
      (3L, 99L)).toDF("g", "v")
    val net = Ivm.distinctNet(state, appends, deletes, col("g"),
      col("v"))
    // negative witness kept visible
    assert(net.filter(col("c") < 0).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((3L, 99L, -1L)))
    val fast = Ivm.distinctFastCount(net)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === Map(1L -> 3L, 2L -> 1L, 9L -> 1L),
      "group 3 must be ABSENT (unmatched delete -> recompute); " +
        "group 1: {10,30,40}; group 2's 5s vanished, 6 arrived; " +
        "new group 9 provable from appends alone")
  }

  test("t63 valueTupleState/sketchQuantiles: packed key decodes the " +
      "value back; exact regime (distinct domain under k) gives EXACT " +
      "weighted quantiles with the integer threshold rule") {
    import spark.implicits._
    // 100 values 0..99, value v appearing (v+1) times -> total 5050;
    // exact weighted quantile p: smallest v with cum(v) >= p%*5050
    val df = spark.range(5050).select(
      expr("CAST(floor((sqrt(8*id + 1) - 1) / 2) AS LONG)").as("v"))
    // sanity: multiplicity of v is v+1 under the triangular decode
    val mult = df.groupBy("v").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mult(0L) == 1L && mult(99L) == 100L && mult.size == 100)
    val st = Sketches.valueTupleState(df, col("v"), k = 4096)
    val dec = st.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dec.length == 100, "under k: the whole domain is the state")
    dec.foreach { case (h, v, w) =>
      assert(h % 4294967296L == v, "value must decode from the key")
      assert(w == v + 1, s"multiplicity of $v")
    }
    val q = Sketches.sketchQuantiles(st, k = 4096, Seq(25, 50, 75))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // exact: cum(v) = (v+1)(v+2)/2; p25 -> 5050*25/100 = 1262.5 ->
    // smallest v with (v+1)(v+2)/2*100 >= 25*5050: v=49 (1275);
    // p50 -> 2525: v=70 (2556); p75 -> 3787.5: v=86 (3828)
    assert(q === Map(25 -> 49L, 50 -> 70L, 75 -> 86L))
  }

  test("m30 DTMF bank: pinned Q14 coeffs match their cos derivation; " +
      "buildToneWav is a valid mono WAV whose on-bin powers dominate " +
      "the off bins for every digit") {
    import graft.operators.Multimodal
    Multimodal.DtmfBank.foreach { case (k, c) =>
      assert(c == math.round(
        math.cos(2 * math.Pi * k / 96.0) * 2 * 16384.0), s"bin $k")
    }
    for (d <- 0 to 3) {
      val wav = Multimodal.buildToneWav(d, 960)
      // header sanity via the shared decoder
      val st = Multimodal.wavStats(wav).get
      assert(st._1 == 8000 && st._2 == 1 && st._3 == 960)
      // windowed bank powers: the digit's (row, col) bins must beat
      // their siblings in EVERY window (exact-period orthogonality)
      import spark.implicits._
      val media = Seq(Multimodal.MediaRow(d.toLong, wav, "audio/wav",
        100)).toDS().toDF()
      val pows = Multimodal.DtmfBank.map { case (k, c) =>
        k -> Multimodal.goertzelEnergy(spark, media, 96, c)
          .collect().map(_.bin_power).sum
      }.toMap
      val (kr, kc) = (3 + d / 2, 6 + 2 * (d % 2))
      assert(pows(kr) > pows(7 - kr) * 10,
        s"digit $d row bin $kr not dominant: $pows")
      assert(pows(kc) > pows(14 - kc) * 10,
        s"digit $d col bin $kc not dominant: $pows")
    }
  }

  test("p40 Isotonic.pavFit: violators pool exactly (Long cross-mult, " +
      "no float decides), already-monotone input unchanged, all-equal " +
      "rates collapse to one pool, fit equals the max-min form") {
    import graft.operators.Isotonic
    // bins with rates 0.0, 0.75, 0.25, 0.5 -> bins 2,3 violate after 1:
    // PAV pools (3/4, 1/4, 1/2) -> (3+1+2)/(4+4+4)=6/12=1/2? stack:
    // 0/2; 3/4; then 1/4 arrives: 3*4 >= 1*4 -> pool (4/8); 2/4 arrives:
    // 4*4 >= 2*8 (16 >= 16, ties pool) -> (6/12)
    val got = Isotonic.pavFit(Seq(
      (0L, 2L, 0L), (1L, 4L, 3L), (2L, 4L, 1L), (3L, 4L, 2L)))
    assert(got === Seq(
      (0L, 2L, 0L, 0L, 2L), (1L, 4L, 3L, 6L, 12L),
      (2L, 4L, 1L, 6L, 12L), (3L, 4L, 2L, 6L, 12L)))
    // already monotone: identity pools
    val mono = Isotonic.pavFit(Seq(
      (0L, 3L, 0L), (1L, 3L, 1L), (2L, 3L, 2L)))
    assert(mono === Seq((0L, 3L, 0L, 0L, 3L), (1L, 3L, 1L, 1L, 3L),
      (2L, 3L, 2L, 2L, 3L)))
    // max-min characterization on the first fixture: fit_i =
    // max_{j<=i} min_{k>=i} avg(j..k) — the theorem the p40 oracle
    // replays in SQL; checked here in exact rationals
    val bins = Seq((2L, 0L), (4L, 3L), (4L, 1L), (4L, 2L))
    val cn = bins.scanLeft(0L)(_ + _._1)
    val cs = bins.scanLeft(0L)(_ + _._2)
    def avg(j: Int, k: Int) = // rational (num, den), j..k inclusive
      (cs(k + 1) - cs(j), cn(k + 1) - cn(j))
    def le(a: (Long, Long), b: (Long, Long)) = a._1 * b._2 <= b._1 * a._2
    val n = bins.length
    val maxmin = (0 until n).map { i =>
      (0 to i).map { j =>
        (i until n).map(k => avg(j, k))
          .reduce((a, b) => if (le(a, b)) a else b)
      }.reduce((a, b) => if (le(a, b)) b else a)
    }
    got.zip(maxmin).foreach { case ((_, _, _, s, c), (ms, mc)) =>
      assert(s * mc == ms * c, s"PAV $s/$c vs max-min $ms/$mc")
    }
  }

  test("q52 fingerprint: order-independent (shuffled copy matches), " +
      "single-row sensitive, count-carrying") {
    val r = graft.queries.Relational
      .q52SnapshotFingerprint(spark, "/root/testdata/sf0.001").collect()
    val byTag = r.map(x => x.getString(0) ->
      (x.getLong(1), x.getLong(2), x.getLong(3), x.getBoolean(4))).toMap
    // the round-trip copy is written/read in arbitrary partition order —
    // its matching fingerprint IS the order-independence witness
    assert(byTag("orders_roundtrip") == byTag("orders"))
    assert(byTag("orders_roundtrip")._4)
    // one mutated row in a thousand must move at least one lane
    val (nm, ma, mb, mok) = byTag("orders_mutated")
    val (n0, a0, b0, _) = byTag("orders")
    assert(nm == n0 && !mok && (ma != a0 || mb != b0))
  }

  test("m16 perceptual image near-dup: one-pixel-off twins land within a " +
      "small Hamming radius and the banded pass catches nearly all of " +
      "them; exact grouping (m5) cannot") {
    import graft.operators.Multimodal
    // plant mechanics: bump changes exactly one byte, keeps validity
    val bmp = Multimodal.buildBmp(5, 3,
      Array.tabulate[Byte](45)(i => (i * 7 % 251).toByte))
    val twin = Multimodal.bumpFirstPixelByte(bmp, 48).get
    assert(twin.length == bmp.length &&
      twin.zip(bmp).count { case (a, b) => a != b } == 1)
    assert(Multimodal.bumpFirstPixelByte(Array[Byte](1, 2, 3), 48).isEmpty)
    val h0 = Multimodal.bmpAverageHash(bmp).get
    val h1 = Multimodal.bmpAverageHash(twin).get
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 8,
      s"one-pixel twin drifted ${java.lang.Long.bitCount(h0 ^ h1)} bits")

    // gate-level recall: nearly every planted twin is caught (banding
    // recall < 1 by design — a twin loses only if its flipped bits touch
    // all 4 bands or its bucket is capped)
    val rows = graft.queries.ExtensionQueries
      .m16ImageNearDup(spark, "/root/testdata/sf0.001").collect()
    val planted = rows.filter(_.getBoolean(3))
    assert(planted.length >= 15,
      s"only ${planted.length} planted twins caught at sf0.001")
    assert(planted.forall(_.getInt(2) <= 8))
    // each caught pair is (src, src + 1e6)
    assert(planted.forall(r => r.getLong(1) == r.getLong(0) + 1000000L))
  }

  test("m29 DCT pHash: Q14 table matches its cos derivation and rows " +
      "k>=1 sum to zero; constant image -> all-AC-zero; unclamped " +
      "brightness shift leaves the hash invariant; gate catches " +
      "planted clamped twins, some of which aHash misses") {
    import graft.operators.Multimodal
    // pinned literals == the cos derivation (drift fails loudly here)
    for (k <- 0 until 8; n <- 0 until 8) {
      val c = math.round(
        math.cos((2 * n + 1) * k * math.Pi / 16.0) * 16384.0)
      assert(Multimodal.DctQ14(k)(n) == c, s"DctQ14($k)($n)")
    }
    // exact zero row sums for k >= 1 — the brightness-invariance lemma
    for (k <- 1 until 8)
      assert(Multimodal.DctQ14(k).sum == 0L, s"row $k sum")
    // constant image: every AC coefficient is exactly 0, so only the
    // DC bit can be set (median of the 63 zero ACs is 0, DC > 0)
    val flat = Multimodal.buildBmp(8, 8, Array.fill[Byte](192)(100))
    assert(Multimodal.bmpDctHash(flat).get == 1L)
    // unclamped brightness shift: bytes 40..103 stay in [0,255] under
    // +60, so the hash is bit-identical (only the DC row moves and DC's
    // bit stays set); aHash is also invariant here — the clamp is what
    // separates them
    val src = Multimodal.buildBmp(6, 5,
      Array.tabulate[Byte](96)(i => (40 + i * 63 % 64).toByte))
    val shifted = Multimodal.adjustBmpBrightness(src, 60).get
    assert(Multimodal.bmpDctHash(shifted).get ==
      Multimodal.bmpDctHash(src).get)
    assert(Multimodal.bmpAverageHash(shifted).get ==
      Multimodal.bmpAverageHash(src).get)
    assert(Multimodal.adjustBmpBrightness(Array[Byte](1, 2), 60).isEmpty)
    // gate level at sf0.001: planted clamped twins are caught within
    // Hamming 8, and at least one caught pair is an aHash miss
    val rows = graft.queries.ExtensionQueries
      .m29DctPhash(spark, "/root/testdata/sf0.001").collect()
    val planted = rows.filter(_.getBoolean(4))
    assert(planted.nonEmpty, "no planted twins caught")
    assert(planted.forall(_.getInt(2) <= 8))
    assert(planted.forall(r => r.getLong(1) == r.getLong(0) + 1000000L))
    assert(planted.exists(_.getBoolean(5)),
      "no caught twin had ahash_hamming > 8 — the aHash-miss gap " +
        "the gate exists to measure is absent")
  }

  test("ivfIndex: zero-shuffle assignment, equal to the join+window form") {
    import graft.functions.Vectors
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val index = Ann.ivfIndex(corpus, centroids)
    index.count()
    // the scale claim: NO exchange between the corpus scan and the cell
    // assignment — the argmin is a map-side expression
    val shuffles = collectShuffles(index.queryExecution.executedPlan)
    assert(shuffles.isEmpty,
      s"unexpected shuffle:\n${index.queryExecution.executedPlan}")
    // parity with the declarative crossJoin + row_number reference
    val cn = corpus.withColumn("__nv", Vectors.norm2(col("vec")))
    val cc = centroids.withColumn("__nc", Vectors.norm2(col("cvec")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("__cs").desc, col("cid"))
    val reference = cn.crossJoin(broadcast(cc))
      .withColumn("__cs",
        Vectors.dot(col("vec"), col("cvec")) / (col("__nv") * col("__nc")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("cid"))
    val got = index.select(col("id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = reference.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("ivfIndexMulti: na=1 equals ivfIndex, na=2 postings are a strict " +
      "superset containing every vector's top-2 cells, zero-shuffle") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val one = Ann.ivfIndexMulti(corpus, centroids, 1)
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val base = Ann.ivfIndex(corpus, centroids)
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(one.toSet === base.toSet, "na=1 degenerates to single-assignment")
    val two = Ann.ivfIndexMulti(corpus, centroids, 2)
    two.count()
    assert(collectShuffles(two.queryExecution.executedPlan).isEmpty,
      "multi-assignment must stay map-side")
    val twoSet = two.select("id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base.toSet.subsetOf(twoSet),
      "na=2 postings must contain every na=1 posting")
    assert(twoSet.size === 2 * base.length,
      "every vector posts to exactly 2 distinct cells")
  }

  test("kcenterSeeds: farthest-point order on a hand line, sel_dist " +
      "monotone, fixture radius bounded by the last selection") {
    import spark.implicits._
    // points on a line at 0, 1, 2, 10, 20 (dim-2 with a zero pad):
    // start at id 0, then 20 (d=400), 10 (maxmin 100), 2 (4), 1 (1)
    val pts = Seq(0f, 1f, 2f, 10f, 20f).zipWithIndex
      .map { case (x, i) => (i.toLong, Array(x, 0f)) }
      .toDF("id", "vec")
    val got = Ann.kcenterSeeds(pts, 5).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1, 0L, 0.0), (2, 4L, 400.0),
      (3, 3L, 100.0), (4, 2L, 4.0), (5, 1L, 1.0)))
    // fixture: sel_dist non-increasing after the first pick, and the
    // 6-seed coverage radius is what the 7th pick would be — no larger
    // than the 6th selection distance
    val rows = graft.queries.ExtensionQueries
      .queries("a29_kcenter_seeds")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val dists = rows.map(_._2).drop(1)
    assert(dists.zip(dists.tail).forall { case (a, b) => a >= b })
    assert(rows.head._3 <= dists.last)
  }

  test("minhashCandidates: maxBucket drops hot LSH buckets, plumbed E2E") {
    import spark.implicits._
    // 20 identical docs -> every band bucket holds all 20
    val docs = (0 until 20).map(i => (i.toLong, "alpha beta gamma delta eps"))
      .toDF("id", "text")
    val pairs = Dedup.minhashCandidates(docs, col("id"), col("text"),
      n = 3, k = 8, rows = 2)
    assert(pairs.count() == 190) // C(20,2)
    val capped = Dedup.minhashCandidates(docs, col("id"), col("text"),
      n = 3, k = 8, rows = 2, maxBucket = 10)
    assert(capped.count() == 0)
    val uncapped = Dedup.minhashCandidates(docs, col("id"), col("text"),
      n = 3, k = 8, rows = 2, maxBucket = 20)
    assert(uncapped.count() == 190)
    // the cap reaches the E2E pipeline: with all buckets dropped, every doc
    // survives (no candidates -> no confirmed pairs)
    val surv = Dedup.nearDupSurvivors(docs, col("id"), col("text"),
      n = 3, k = 8, rows = 2, threshold = 0.8, maxBucket = 10)
    assert(surv.filter(col("is_survivor")).count() == 20)
  }

  test("simhash64: one-pass expression equals the reference Column formula") {
    import graft.functions.Hashing
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(split(col("text"), " ").as("toks"))
    val m = transform(col("toks"), t => md5(t))
    val reference = Hashing.simhash64FromHashes(
      transform(m, d => Hashing.md5Word32(d, 0)),
      transform(m, d => Hashing.md5Word32(d, 1)))
    val mismatches = docs
      .select(Hashing.simhash64(col("toks")).as("fast"),
        reference.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mismatches == 0)
    // empty token array -> all-zero sketch in both forms
    val empty = Seq(Seq.empty[String]).toDF("toks")
      .select(Hashing.simhash64(col("toks"))).as[Long].head()
    assert(empty == 0L)
    // null tokens are SKIPPED (not zero-voted) by both forms: a null inside
    // the array must not change the sketch of the surviving tokens
    val withNulls = Seq(
      (Seq("alpha", null, "beta"), Seq("alpha", "beta")),
      (Seq[String](null), Seq.empty[String])).toDF("a", "b")
    def both(c: String) = {
      val m = transform(col(c), t => md5(t))
      struct(Hashing.simhash64(col(c)).as("fast"),
        Hashing.simhash64FromHashes(
          transform(m, d => Hashing.md5Word32(d, 0)),
          transform(m, d => Hashing.md5Word32(d, 1))).as("ref"))
    }
    val parity = withNulls.select(both("a").as("x"), both("b").as("y"))
      .filter(col("x.fast") =!= col("x.ref") ||
        col("y.fast") =!= col("y.ref") ||
        col("x.fast") =!= col("y.fast")).count()
    assert(parity == 0)
  }

  test("jaccard kernel equals size(array_intersect)/size(array_union)") {
    import spark.implicits._
    val cases = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("b", "b", "a")), // internal duplicates
      (Seq.empty[String], Seq.empty[String]),   // empty union -> 0.0
      (Seq("x"), Seq.empty[String]),
      (Seq("a", null), Seq(null, "b")),         // null as a set element
      (Seq("a", null), Seq("b")))
    val df = cases.toDF("a", "b")
    val reference = when(size(array_union(col("a"), col("b"))) === 0,
      lit(0.0)).otherwise(
      size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double"))
    val rows = df.select(
      graft.functions.JaccardExpr.jaccard(col("a"), col("b")).as("fast"),
      reference.as("ref")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("minhash_sig: one-pass expression equals the reference Column formula") {
    import graft.functions.{Hashing, MinhashSigExpr, Text}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text"))
    val reference = Hashing.minhashSig(
      array_distinct(Hashing.shingles(Text.tokens(col("text")), 3)), 8)
    val mismatches = docs
      .select(MinhashSigExpr.minhash_sig(Text.tokens(col("text")), 3, 8)
          .as("fast"),
        reference.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mismatches == 0)
    // short doc -> all-sentinel signature in both forms
    import spark.implicits._
    val sent = Seq("one two").toDF("text")
      .select(MinhashSigExpr.minhash_sig(Text.tokens(col("text")), 3, 8))
      .as[Seq[Long]].head()
    assert(sent == Seq.fill(8)(Hashing.MinhashP))
  }

  test("simhash64: band knobs must fit the 64-bit sketch") {
    import spark.implicits._
    val docs = Seq((1L, "a b c")).toDF("id", "text")
    assertThrows[IllegalArgumentException] {
      Dedup.simhashPairs(docs, col("id"), col("text"),
        bandBits = 16, bands = 5, maxHamming = 3)
    }
  }

  test("k-means refined IVF: recall@3 vs exact brute force") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    // 5 cells for 500 vectors (cells ~ sqrt(n) is the usual IVF sizing;
    // more cells on near-random synthetic embeddings fragments true
    // neighborhoods and recall collapses)
    val init = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val refined = Ann.kmeansRefine(corpus, init, iters = 2)
    assert(refined.count() == init.count()) // no cells lost
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "neighbor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Ann.bruteForceTopK(qs, corpus, 3))
    val approx = pairs(Ann.ivfTopK(qs, corpus, refined, k = 3, nprobe = 3))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@3 = $recall")
  }

  test("lshTopKJoin (query-table form): same answer as the broadcast " +
      "lshTopK; plan is a shuffle hash join with no broadcast of the " +
      "query side") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val planes: Seq[Seq[Double]] = e.filter(col("vec_id") < 4)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "neighbor", "sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
    for (mp <- Seq(false, true)) {
      val bc = Ann.lshTopK(qs, corpus, 3, planes, multiProbe = mp)
      val jn = Ann.lshTopKJoin(qs, corpus, 3, planes, multiProbe = mp)
      assert(rows(jn) == rows(bc), s"multiProbe=$mp mismatch")
      val phys = jn.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastExchange"),
        s"query side broadcast (multiProbe=$mp):\n$phys")
      assert(phys.contains("ShuffledHashJoin"),
        s"expected a shuffle hash join (multiProbe=$mp):\n$phys")
    }
  }

  test("MinhashUnionAgg: element-wise min across partitions, SQL form") {
    import spark.implicits._
    val data = (0 until 100).map(i =>
      (i % 5, Seq((i * 37 % 101).toLong, (i * 53 % 97).toLong)))
    val df = data.toDF("grp", "sig").repartition(7) // force partial merges
    val union = graft.functions.MinhashUnionAgg.minhashUnion(2)
    val got = df.groupBy("grp").agg(union(col("sig")).as("u"))
      .orderBy("grp").as[(Int, Seq[Long])].collect().toSeq
    val expect = data.groupBy(_._1).map { case (g, vs) =>
      (g, Seq(vs.map(_._2(0)).min, vs.map(_._2(1)).min))
    }.toSeq.sortBy(_._1)
    assert(got == expect)
    // SQL surface (k=8 registration)
    graft.Register.all(spark)
    (0 until 20).map(i => (i % 2, Seq.tabulate(8)(j => (i * 7 + j).toLong)))
      .toDF("grp", "sig").createOrReplaceTempView("sigs")
    val sqlGot = spark.sql(
      "SELECT grp, minhash_union8(sig) AS u FROM sigs GROUP BY grp " +
        "ORDER BY grp").as[(Int, Seq[Long])].collect()
    assert(sqlGot(0)._2 == Seq.tabulate(8)(j => j.toLong))
    assert(sqlGot(1)._2 == Seq.tabulate(8)(j => (7 + j).toLong))
  }

  test("xml_explode_children generator: document order, SQL lateral view") {
    import spark.implicits._
    graft.Register.all(spark)
    Seq((1L, "<r><a>x</a><junk/><a>y</a></r>"), (2L, "<r></r>"),
      (3L, "not xml <"))
      .toDF("id", "x").createOrReplaceTempView("gdocs")
    val got = spark.sql(
      "SELECT id, pos, tag, value FROM gdocs " +
        "LATERAL VIEW xml_explode_children(x, 'a', true) AS pos, tag, xml, value " +
        "ORDER BY id, pos").as[(Long, Int, String, String)].collect().toSeq
    // empty and malformed docs contribute zero rows (PERMISSIVE)
    assert(got == Seq((1L, 0, "a", "x"), (1L, 1, "a", "y")))
  }

  test("dedupClustersConverged collapses long chains the fixed rounds miss") {
    import spark.implicits._
    // a 30-node path graph: diameter 29, so 3 fixed rounds CANNOT finish
    val ids = (0L until 30L).toDF("id")
    val pairs = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val fixed = Dedup.dedupClusters(ids, pairs, iters = 3)
      .agg(countDistinct("cluster_id")).head().getLong(0)
    assert(fixed > 1) // honest: unrolled rounds bound the reach
    val conv = Dedup.dedupClustersConverged(ids, pairs)
    val labels = conv.select("cluster_id").distinct().as[Long].collect()
    assert(labels.toSeq == Seq(0L)) // one component, min label wins
    // disjoint components keep distinct minima
    val pairs2 = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val conv2 = Dedup.dedupClustersConverged(
        (0L until 12L).toDF("id"), pairs2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv2(2L) == 0L && conv2(11L) == 10L && conv2(5L) == 5L)
  }

  test("dedupClustersConverged: reliable materialization — survives a " +
      "full cache/RDD wipe (no executor-pinned lineage) and runs one " +
      "write + one count job per iteration") {
    import spark.implicits._
    // with AQE off AND broadcast joins off (async broadcast builds submit
    // their own jobs), one action = one job, so jobs are countable exactly
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // this test pins the PARQUET scratch mode's contract (durable
    // rounds, exact job count); the default `local` mode trades that
    // durability for speed — its row-identity is pinned separately in
    // "Tables.stage: local and parquet modes compute identical rows"
    spark.conf.set("spark.graft.scratch.mode", "parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // chain 0-1-2 plus edge 10-11: converges in exactly 3 rounds
      // (2 change rounds + 1 confirming round)
      val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
      val result =
        Dedup.dedupClustersConverged((0L until 12L).toDF("id"), pairs)
      assert(result.collect().length == 12)
      // the 100 TB reliability property the localCheckpoint form lacked:
      // wipe EVERY cached/checkpointed RDD block (what losing all
      // executors does to executor-pinned storage) — the result must
      // still recompute, because each round lives in scratch parquet,
      // not in block-manager memory
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      val byId = result.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byId(2L) == 0L && byId(11L) == 10L && byId(5L) == 5L)
      // listener bus is async — poll until the count settles
      val deadline = System.nanoTime() + 5e9.toLong
      var last = -1
      while (System.nanoTime() < deadline && jobs.get() != last) {
        last = jobs.get(); Thread.sleep(100)
      }
      // 5 materializations (edges, seed, 3 rounds) x 2 jobs each (the
      // write + the read-back's parquet footer/schema job) + 3 parquet
      // convergence counts + 2 final collects = 15: each round is
      // computed exactly once, and the convergence count reads the
      // materialized parquet, never re-running the join
      assert(jobs.get() == 15, s"expected 15 jobs, saw ${jobs.get()}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abj)
      spark.conf.unset("spark.graft.scratch.mode")
    }
  }

  test("Tables.stage: local and parquet modes compute identical rows, " +
      "and local mode truncates lineage (iterative plans stay flat)") {
    import spark.implicits._
    def run(): Array[(Long, Long)] = {
      val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
      Dedup.dedupClustersConverged((0L until 12L).toDF("id"), pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    spark.conf.set("spark.graft.scratch.mode", "parquet")
    val viaParquet =
      try run() finally spark.conf.unset("spark.graft.scratch.mode")
    spark.catalog.clearCache()
    val viaLocal = run() // default mode
    assert(viaLocal.toSeq == viaParquet.toSeq)
    // lineage truncation: a staged frame's logical plan is a leaf-ish
    // cache scan, not the full upstream pipeline (the property that
    // keeps round N's plan from containing rounds 1..N-1)
    val staged = graft.Tables.stage(
      Seq(1L, 2L).toDF("x").groupBy().sum("x"), "stage-spec")
    val planNodes = staged.queryExecution.optimizedPlan.collect {
      case p => p
    }.size
    assert(planNodes <= 3, s"staged plan should be flat, got $planNodes nodes")
    spark.catalog.clearCache()
  }

  test("RepetitionExpr kernel: bit-parity with the declarative " +
      "transform/array_distinct formula, incl. edge shapes") {
    import spark.implicits._
    val docs = Seq(
      "a b c a b c a b c",      // heavy repetition
      "all distinct words here entirely",
      "x",                      // shorter than n -> 0.0
      "",                       // empty string -> one empty token -> 0.0
      "a  b c",                 // double space = empty token (split -1)
      "a b a b a b a b a b a b" // alternating
    ) ++ (0 until 200).map(i => s"doc $i with some shared tail words " +
      ("lorem ipsum " * (i % 7)))
    val df = docs.zipWithIndex.map(_.swap).toDF("id", "text")
    val got = df.select(col("id"),
      graft.functions.Text.repetitionRatio(col("text"), 3).as("r"))
    val ref = df.select(col("id"),
      graft.functions.Text.repetitionRatioRef(col("text"), 3).as("r"))
    val g = got.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val w = ref.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(g == w, (g.toSeq.sorted zip w.toSeq.sorted)
      .filter { case (x, y) => x != y }.take(5).toString)
  }

  test("ShingleSetExpr kernel: bit-parity with array_distinct(shingles), " +
      "incl. ordering and edge shapes") {
    import spark.implicits._
    val docs = Seq(
      "a b c a b c a b c", "x", "", "a  b c",
      "one two three four five six seven"
    ) ++ (0 until 100).map(i => s"doc $i tail " + ("lorem ipsum " * (i % 5)))
    val df = docs.zipWithIndex.map(_.swap).toDF("id", "text")
    val g = df.select(col("id"),
        Dedup.shingleSet(col("text"), 3).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    val w = df.select(col("id"),
        Dedup.shingleSetRef(col("text"), 3).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(g == w) // element ORDER included (first-occurrence)
    // multiset form: duplicates kept, document order == the declarative
    // transform over token indices
    val m = df.select(col("id"),
        graft.functions.ShingleSetExpr.shingles(col("text"), 2).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    val mref = df.select(col("id"), expr(
        "CASE WHEN size(split(text, ' ', -1)) < 2 " +
          "THEN slice(split(text, ' ', -1), 1, 0) " +
          "ELSE transform(sequence(0, size(split(text, ' ', -1)) - 2), " +
          "i -> concat_ws(' ', slice(split(text, ' ', -1), i + 1, 2))) END")
        .as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(m == mref)
  }

  test("stratifiedSample: exact quota per stratum, deterministic, " +
      "partition-independent; threshold form approximates it sortlessly") {
    import spark.implicits._
    val df = (0L until 900L).map(i => (i, s"lang${i % 3}"))
      .toDF("id", "lang")
    val a = Sampling.stratifiedSample(df, col("lang"),
      col("id").cast("string"), 25)
    // exactly the quota from every (large-enough) stratum
    assert(a.groupBy("lang").count().collect()
      .forall(_.getLong(1) == 25L))
    // identical draw regardless of physical layout
    val b = Sampling.stratifiedSample(df.repartition(13), col("lang"),
      col("id").cast("string"), 25)
    assert(a.orderBy("id").collect().toSeq ==
      b.orderBy("id").collect().toSeq)
    // a stratum smaller than the quota survives whole
    val small = Sampling.stratifiedSample(
      df.filter(col("id") < 10), col("lang"), col("id").cast("string"), 25)
    assert(small.count() == 10)
    // threshold (scale) form: no window, approximately the quota, same
    // determinism
    val t = Sampling.stratifiedSampleThreshold(df, col("lang"),
      col("id").cast("string"), 25)
    val counts = t.groupBy("lang").count().collect()
      .map(_.getLong(1))
    assert(counts.forall(c => c >= 10 && c <= 45), counts.toSeq.toString)
    assert(!t.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("incrementalNearDups: base x increment only, twins flagged, " +
      "novel docs pass") {
    import spark.implicits._
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("id", "text")
    val inc = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // exact twin of 1
      (11L, "totally different words entirely here now"),
      (12L, "one two three four five six")) // exact twin of 2
      .toDF("id", "text")
    val got = Dedup.incrementalNearDups(base, inc, col("id"), col("text"),
        n = 3, k = 8, rows = 2, threshold = 0.8)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2)))
      .toMap
    assert(got(10L) == ((false, 1L)) && got(12L) == ((false, 1L)))
    assert(got(11L) == ((true, 0L)))
    assert(got.size == 3) // one row per increment doc, base never emitted
  }

  test("hashSplit: deterministic, partition-independent, bounds checked") {
    import spark.implicits._
    val df = spark.range(1000).select(col("id").cast("string").as("k"))
    val a = Sampling.hashSplit(df, col("k"), 80, 10)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // same assignment regardless of physical layout
    val b = Sampling.hashSplit(df.repartition(13), col("k"), 80, 10)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a.values.sum == 1000 && a.keySet == Set("train", "val", "test"))
    // roughly proportional (hash uniformity; generous band)
    assert(a("train") > 700 && a("test") < 200)
    assertThrows[IllegalArgumentException] {
      Sampling.hashSplit(df, col("k"), 90, 20)
    }
  }

  test("packingLayout sharded: per-shard offsets match, window parallelizes") {
    val df = spark.range(200).select(col("id").as("doc_id"),
      (col("id") % 17 + 1).as("n"))
    val sharded = Sampling.packingLayout(df, col("doc_id") % 4,
      col("doc_id"), col("n"), capacity = 64)
    // each shard's layout equals the global form run on that shard alone
    for (s <- 0 until 4) {
      val expect = Sampling.packingLayout(
          df.filter(col("doc_id") % 4 === s), col("doc_id"), col("n"), 64)
        .select("doc_id", "start_offset", "pack_id", "spans_boundary")
        .collect().toSeq.sortBy(_.getLong(0))
      val got = sharded.filter(col("shard") === s)
        .select("doc_id", "start_offset", "pack_id", "spans_boundary")
        .collect().toSeq.sortBy(_.getLong(0))
      assert(got == expect, s"shard $s")
    }
    // scale shape: the window exchanges on shard, never SinglePartition
    val plan = sharded.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"plan:\n$plan")
  }

  test("approxDistinct: estimate tracks exact count; saturation -> null") {
    import spark.implicits._
    val df = spark.range(2000).select((col("id") % 500).cast("string").as("v"))
    val row = Sketches.approxDistinct(df, col("v"), 4096).head()
    val est = row.getDouble(0)
    assert(math.abs(est - 500) / 500 < 0.15, s"est=$est")
    // m distinct values into m buckets: fully saturated -> ln(0) -> null
    val sat = spark.range(64).select(col("id").cast("string").as("v"))
    val satRow = Sketches.approxDistinct(sat, col("v"), 1).head()
    assert(satRow.isNullAt(0))
  }

  test("t58 bottomKState: k smallest DISTINCT hashes, ascending; " +
      "merge of split states equals the whole-corpus sketch; " +
      "thetaIntersect is exact when both sketches are under k") {
    import spark.implicits._
    val df = spark.range(300)
      .select(lit(1L).as("g"), (col("id") % 100).cast("string").as("v"))
    val k = 16
    val st = Sketches.bottomKState(df, col("g"), col("v"), k)
      .collect().map(_.getLong(1)).toSeq
    // reference: exact distinct hash domain, k smallest
    val all = df.select(
        graft.functions.Hashing.portableHash32(col("v")).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(st === all.take(k), "k smallest distinct, duplicates no-op")
    // mergeability: sketch(A) ++ sketch(B) folded == sketch(A ∪ B),
    // including hashes SHARED by both halves (collapse to one slot)
    val a = df.filter(col("v").cast("int") < 60)
    val b = df.filter(col("v").cast("int") >= 40) // overlap 40..59
    val merged = Sketches.mergeBottomKStates(Seq(
        Sketches.bottomKState(a, col("g"), col("v"), k),
        Sketches.bottomKState(b, col("g"), col("v"), k)), k)
      .collect().map(_.getLong(1)).toSeq
    assert(merged === all.take(k))
    // exact regime: both sides under k -> theta = 2^32, est == exact
    val sa = Sketches.bottomKState(
      df.filter(col("v").cast("int") < 10), col("g"), col("v"), k)
    val sb = Sketches.bottomKState(
      df.filter(col("v").cast("int").between(5, 12)), col("g"),
      col("v"), k)
    val r = Sketches.thetaIntersect(sa.select(col("h")),
      sb.select(col("h")), k).head()
    assert(r.getAs[Long]("theta") == 4294967296L)
    assert(r.getAs[Long]("n_common") == 5L) // values 5..9
    assert(r.getAs[Double]("est_intersection") == 5.0)
    // t59 set algebra, exact regime: A = {0..9}, B = {5..12} hashes —
    // every estimate must equal its exact set-algebra count, and the
    // ratio estimates the exact ratios
    val alg = Sketches.thetaSetAlgebra(sa.select(col("h")),
      sb.select(col("h")), k).head()
    assert(alg.getAs[Double]("est_a") == 10.0)
    assert(alg.getAs[Double]("est_b") == 8.0)
    assert(alg.getAs[Double]("est_union") == 13.0)
    assert(alg.getAs[Double]("est_intersection") == 5.0)
    assert(alg.getAs[Double]("est_diff_ab") == 5.0)
    assert(alg.getAs[Double]("jaccard_est") == 5.0 / 13.0)
    assert(alg.getAs[Double]("contamination_rate") == 0.5)
  }

  test("t62 weightedBottomKState: k smallest distinct hashes with EXACT " +
      "total weights; merge of overlapping split states sums weights; " +
      "thetaWeightedOverlap exact when both sketches are under k") {
    import spark.implicits._
    // 300 rows over 100 values -> value i arrives (3 or fewer) times;
    // weight per row = id+1 so per-value masses are distinct and exact
    val df = spark.range(300)
      .select(lit(1L).as("g"), (col("id") % 100).cast("string").as("v"),
        (col("id") + 1).as("w"))
    val k = 16
    val st = Sketches.weightedBottomKState(df, col("g"), col("v"),
        col("w"), k)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toSeq
    // reference: exact per-value mass over the whole corpus
    val exact = df.select(
        graft.functions.Hashing.portableHash32(col("v")).as("h"),
        col("w"))
      .groupBy("h").agg(org.apache.spark.sql.functions.sum("w").as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(st.map(_._1) === exact.take(k).map(_._1),
      "k smallest distinct hashes, ascending")
    assert(st === exact.take(k).toSeq,
      "weights must be the EXACT full-corpus masses (never clipped " +
        "by partial-buffer eviction)")
    // mergeability: DISJOINT row halves whose VALUE sets overlap (value
    // v sits at rows v, v+100, v+200 — split 2/1 across the halves), so
    // each half carries part of the mass and the merge must sum
    val a = df.filter(col("id") < 180)
    val b = df.filter(col("id") >= 180)
    val merged = Sketches.mergeWeightedBottomKStates(Seq(
        Sketches.weightedBottomKState(a, col("g"), col("v"), col("w"), k),
        Sketches.weightedBottomKState(b, col("g"), col("v"), col("w"), k)),
        k)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toSeq
    assert(merged === exact.take(k).toSeq)
    // exact regime: both sides under k -> theta = 2^32, mass estimates
    // equal the exact masses and the rates are exact ratios
    val one = lit(1L)
    val sa = Sketches.weightedBottomKState(
      df.filter(col("v").cast("int") < 10), col("g"), col("v"), one, k)
    val sb = Sketches.weightedBottomKState(
      df.filter(col("v").cast("int").between(5, 12)), col("g"),
      col("v"), one, k)
    val r = Sketches.thetaWeightedOverlap(
      sa.select(col("h"), col("w")), sb.select(col("h"), col("w")),
      k).head()
    assert(r.getAs[Long]("theta") == 4294967296L)
    assert(r.getAs[Long]("n_common") == 5L) // values 5..9
    // w=1 per arrival: each value 0..99 arrives 3x in range(300)
    assert(r.getAs[Long]("mass_a_sample") == 30L)
    assert(r.getAs[Long]("mass_b_sample") == 24L)
    assert(r.getAs[Long]("mass_common_a") == 15L)
    assert(r.getAs[Long]("mass_common_b") == 15L)
    assert(r.getAs[Double]("est_mass_a") == 30.0)
    assert(r.getAs[Double]("est_overlap_mass_a") == 15.0)
    assert(r.getAs[Double]("mass_rate_a") == 0.5)
    assert(r.getAs[Double]("mass_rate_b") == 15.0 / 24.0)
  }

  test("RangeJoin.binned equals the theta join; plan is equi-join, " +
      "no nested loop") {
    import spark.implicits._
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("value"))
    val bands = Seq((0L, 0.0, 50.0), (1L, 25.0, 100.0), (2L, 100.0, 300.0))
      .toDF("band_id", "lo", "hi")
    val binned = RangeJoin.binned(ev, col("value"), bands,
      col("lo"), col("hi"), binWidth = 40.0)
      .select("event_id", "band_id")
    val theta = ev.join(bands,
      col("value") >= col("lo") && col("value") < col("hi"))
      .select("event_id", "band_id")
    assert(binned.except(theta).isEmpty && theta.except(binned).isEmpty)
    // overlap region really produces two bands for one event
    assert(binned.groupBy("event_id").count().filter(col("count") > 1)
      .count() > 0)
    // physical plan: hash equi-join on the bin id, not BNLJ/cartesian
    val phys = binned.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"))
    assert(phys.contains("BroadcastHashJoin"))
  }

  test("BloomPrune: prefilter prunes before the shuffle, result is the " +
      "exact semi join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dim = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 400000.0).select("o_orderkey")
    val pruned = BloomPrune.prunedSemiJoin(li, col("l_orderkey"), dim,
      col("o_orderkey"), expectedItems = 100000L, fpp = 0.01,
      dimKeyName = "o_orderkey")
    val plain = li.join(dim, col("l_orderkey") === col("o_orderkey"),
      "left_semi")
    assert(pruned.count() == plain.count())
    assert(pruned.select("l_orderkey").except(plain.select("l_orderkey"))
      .isEmpty)
    // the bloom prefilter alone keeps all matches (no false negatives)
    // while dropping most of the fact table
    val bytes = BloomPrune.buildBloom(dim, "o_orderkey", 100000L, 0.01)
    val kept = li.filter(graft.functions.BloomMightContainExpr
      .might_contain(col("l_orderkey"), bytes)).count()
    assert(kept >= plain.count() && kept < li.count() / 2)
    // filter sits below the exchange: pruned rows never shuffle
    val phys = pruned.queryExecution.executedPlan.toString
    assert(phys.contains("bloom_might_contain"))
  }

  test("ZOrder: codegen interleave matches the declarative bit formula; " +
      "zorderBy yields disjoint per-partition z ranges") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
    // declarative twin: per-bit shift/mask sum
    val ref = (0 until 16).map { i =>
      (shiftleft(shiftright(col("x"), i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(col("y"), i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ + _)
    val mismatches = li
      .select(Layout.zvalue(col("x"), col("y")).as("z"), ref.as("zr"))
      .filter(col("z") =!= col("zr")).count()
    assert(mismatches == 0)
    // layout: range partitions carry disjoint, ordered z intervals
    val parts = Layout.zorderBy(li, col("x"), col("y"), 8)
      .select(Layout.zvalue(col("x"), col("y")).as("z"))
      .mapPartitions { it =>
        val zs = it.map(_.getLong(0)).toArray
        if (zs.isEmpty) Iterator.empty
        else Iterator((zs.min, zs.max, zs.sameElements(zs.sorted)))
      }.collect()
    assert(parts.forall(_._3)) // sorted within each partition
    val ordered = parts.sortBy(_._1)
    assert(ordered.sliding(2).forall {
      case Array((_, hi, _), (lo, _, _)) => hi <= lo
      case _ => true
    })
  }

  test("Vocab.contiguousIds: dense 0..V-1, sorted by token, stable " +
      "across partition counts") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
    val v4 = graft.operators.Vocab.contiguousIds(toks, col("t"), 4)
      .orderBy("id").collect()
    val v = v4.map(r => (r.getString(0), r.getLong(1)))
    assert(v.map(_._2).toSeq == (0L until v.length).toSeq) // dense
    assert(v.map(_._1).toSeq == v.map(_._1).sorted.toSeq) // token-ordered
    // ids depend only on token order, not the partition count
    val v7 = graft.operators.Vocab.contiguousIds(toks, col("t"), 7)
      .orderBy("id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(v7.toSeq == v.toSeq)
  }

  test("Vocab.contiguousIds: survives high partition counts — offset " +
      "lookup is an array literal, never an O(P) conditional chain") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
    val v256 = graft.operators.Vocab.contiguousIds(toks, col("t"), 256)
    // the per-partition offset must not expand into a CASE WHEN per
    // partition (codegen bloat / interpreted fallback at scale)
    val plan = v256.queryExecution.optimizedPlan.toString
    assert(!plan.contains("CASE WHEN"),
      "offset lookup expanded into a conditional chain")
    val ids = v256.orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(ids.map(_._2).toSeq == (0L until ids.length).toSeq) // dense
    assert(ids.map(_._1).toSeq == ids.map(_._1).sorted.toSeq) // ordered
    // same ids as the small-partition-count run: partitioning-invariant
    val v4 = graft.operators.Vocab.contiguousIds(toks, col("t"), 4)
      .orderBy("id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(ids.toSeq == v4.toSeq)
  }

  test("weightedSample: deterministic, seed-sensitive, biased toward " +
      "heavy rows") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    def ids(seed: String) = Sampling
      .weightedSample(docs, col("n_chars"), col("doc_id"), 40, seed)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids("s42")
    assert(a == ids("s42")) // reproducible
    assert(a != ids("other-seed")) // seed actually matters
    val sampleAvg = Sampling
      .weightedSample(docs, col("n_chars"), col("doc_id"), 40, "s42")
      .agg(avg("n_chars")).head().getDouble(0)
    val corpusAvg = docs.agg(avg("n_chars")).head().getDouble(0)
    assert(sampleAvg > corpusAvg) // P(select) ~ weight
  }

  test("CmsAgg: partial sketches merge losslessly; estimates never " +
      "undercount and respect the eps bound") {
    import graft.functions.{CmsAgg, CmsEstimateExpr}
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    // whole-corpus sketch vs merge of two half-corpus sketches: the UDAF
    // merge path is exactly what runs map-side, so the two must agree
    val whole = toks
      .agg(CmsAgg.cmsSketch(1e-3, 0.99, 7)(col("t"))).head().getAs[Array[Byte]](0)
    // merge via the sketch API directly (deterministic same-seed grids)
    val skA = toks.filter(col("doc_id") % 2 === 0)
      .agg(CmsAgg.cmsSketch(1e-3, 0.99, 7)(col("t"))).head().getAs[Array[Byte]](0)
    val skB = toks.filter(col("doc_id") % 2 =!= 0)
      .agg(CmsAgg.cmsSketch(1e-3, 0.99, 7)(col("t"))).head().getAs[Array[Byte]](0)
    val merged = {
      val a = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(skA))
      a.mergeInPlace(org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(skB)))
      a
    }
    val exact = toks.groupBy("t").count()
      .orderBy(col("count").desc).limit(20).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = toks.count()
    val wholeSk = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(whole))
    exact.foreach { case (t, c) =>
      assert(wholeSk.estimateCount(t) == merged.estimateCount(t))
      assert(wholeSk.estimateCount(t) >= c)
      assert(wholeSk.estimateCount(t) <= c + math.ceil(n * 1e-3).toLong)
    }
    // and the codegen probe matches the API
    val probed = spark.range(1).select(
      CmsEstimateExpr.cms_estimate(lit(exact.head._1), whole)).head().getLong(0)
    assert(probed == wholeSk.estimateCount(exact.head._1))
  }

  test("SQL registration: xml_children usable from spark.sql") {
    graft.Register.all(spark)
    import spark.implicits._
    Seq("<r><a>1</a><b>2</b><a>3</a></r>").toDF("x")
      .createOrReplaceTempView("t")
    val got = spark.sql(
      "SELECT transform(xml_children(x, 'a', true), c -> c.value) AS vs " +
        "FROM t").as[Seq[String]].head()
    assert(got == Seq("1", "3"))
    val ev = spark.sql(
      "SELECT xml_element_value('<k>hi <b/> there</k>')").as[String].head()
    assert(ev == "hi <b /> there")
    // NFC normalization from SQL: decomposed e + combining acute -> é
    val nfc = spark.sql(
      "SELECT nfc_normalize('cafe\u0301')").as[String].head()
    assert(nfc == "caf\u00e9")
    // Morton interleave from SQL: x=3 (bits 0,1), y=1 (bit 0) -> 0b111
    val z = spark.sql("SELECT zorder16(3L, 1L)").as[Long].head()
    assert(z == 7L)
    val ss = spark.sql("SELECT shingle_set('a b a b', 2)")
      .as[Seq[String]].head()
    assert(ss == Seq("a b", "b a"))
    val sm = spark.sql("SELECT shingles('a b a b', 2)")
      .as[Seq[String]].head()
    assert(sm == Seq("a b", "b a", "a b"))
  }

  test("dynamic partition pruning: a dim-side filter prunes fact " +
      "partitions at runtime (q26 shape)") {
    val factDir = graft.Tables.scratchDir("graft-q26spec-fact")
    val dimDir = graft.Tables.scratchDir("graft-q26spec-dim")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .withColumn("o_year", year(col("o_orderdate")))
    o.write.mode("overwrite").partitionBy("o_year").parquet(factDir)
    o.select(col("o_year").as("dyear")).distinct()
      .withColumn("era", when(col("dyear") <= 1997, "early")
        .otherwise("late"))
      .write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.parquet(factDir)
    val dim = spark.read.parquet(dimDir).filter(col("era") === "late")
    // decimal sum: order-independent, so the equality check below is exact
    val q = fact.join(broadcast(dim), fact("o_year") === dim("dyear"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
    q.collect()
    val plan = q.queryExecution.executedPlan
    // the fact scan carries a runtime partition filter injected by DPP
    assert(plan.toString.toLowerCase.contains("dynamicpruning"),
      "expected a dynamicpruningexpression in the fact scan:\n" + plan)
    // column pruning strips o_orderkey; the fact scan is the one carrying
    // the partition column o_year
    val factScan = collectScans(plan)
      .find(_.output.exists(_.name == "o_year")).get
    val yearDirs = Option(new java.io.File(factDir).listFiles()).get
      .count(f => f.isDirectory && f.getName.startsWith("o_year="))
    val lateYears = spark.read.parquet(dimDir)
      .filter(col("era") === "late").count()
    assert(lateYears < yearDirs, "need early years for pruning to bite")
    val filesRead = factScan.metrics("numFiles").value
    assert(filesRead > 0 && filesRead <= lateYears,
      s"expected <= $lateYears partition files read, got $filesRead " +
        s"of $yearDirs years")
    // and the result equals the statically-filtered aggregate
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .filter(year(col("o_orderdate")) >= 1998)
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
      .collect().toSeq
    assert(q.collect().toSeq == expected)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged; " +
      "null payloads compare null-safely") {
    import spark.implicits._
    val v1 = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, Some("c"), 30.0), (4L, None: Option[String], 40.0))
      .toDF("k", "v", "p")
    val v2 = Seq((2L, Some("b"), 20.0), (3L, Some("c"), 99.0),
      (4L, None: Option[String], 40.0), (5L, Some("e"), 50.0))
      .toDF("k", "v", "p")
    val d = Diff.snapshotDiff(v1, v2, "k", Seq("v", "p"))
      .select("k", "change_type").as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "unchanged", 5L -> "added"))
    val sum = Diff.diffSummary(
      Diff.snapshotDiff(v1, v2, "k", Seq("v", "p")), "k")
      .as[(String, Long, Long)].collect().toSeq
    assert(sum == Seq(("added", 1L, 5L), ("changed", 1L, 3L),
      ("removed", 1L, 1L), ("unchanged", 2L, 6L)))
    // null keys never join: a null-key row classifies by the side it is
    // on — v1-only null key is REMOVED (not 'added', the old-key bug)
    val n1 = Seq((Some(1L), "a"), (None: Option[Long], "x")).toDF("k", "v")
    val n2 = Seq((Some(1L), "a"), (None: Option[Long], "x")).toDF("k", "v")
    val nd = Diff.snapshotDiff(n1, n2, "k", Seq("v"))
      .select("change_type").as[String].collect().sorted.toSeq
    assert(nd == Seq("added", "removed", "unchanged"))
  }

  test("Expect: null check results count as violations; uniqueness " +
      "counts every row of a duplicated key; FK counts orphans") {
    import spark.implicits._
    val df = Seq((1L, Some(5.0)), (2L, None), (3L, Some(-1.0)),
      (3L, Some(7.0))).toDF("k", "x")
    val rows = Expect.rowChecks(df,
      Seq("x_nonneg" -> (col("x") >= 0.0)))
      .as[(String, Long)].collect().toSeq
    // -1.0 fails outright, the NULL is a violation too (unknown != pass)
    assert(rows == Seq(("x_nonneg", 2L)))
    val uniq = Expect.uniqueCheck(df, Seq("k"), "k_unique")
      .as[(String, Long)].head()
    assert(uniq == (("k_unique", 2L))) // both rows of key 3
    val parent = Seq(1L, 3L).toDF("pk")
    val fk = Expect.fkCheck(df, "k", parent, "pk", "k_fk")
      .as[(String, Long)].head()
    assert(fk == (("k_fk", 1L))) // key 2 is the orphan
    // SQL FK semantics: a NULL foreign key passes, only non-null orphans count
    val withNull = Seq(Some(1L), None, Some(9L)).toDF("k")
    val fkN = Expect.fkCheck(withNull, "k", parent, "pk", "n_fk")
      .as[(String, Long)].head()
    assert(fkN == (("n_fk", 1L))) // 9 is the only violation, not the null
    // constraint names with quotes survive (no SQL-string splicing)
    val quoted = Expect.rowChecks(df,
      Seq("x isn't negative" -> (col("x") >= 0.0)))
      .as[(String, Long)].head()
    assert(quoted == (("x isn't negative", 2L)))
    val rep = Expect.report(Seq(
      Expect.rowChecks(df, Seq("x_nonneg" -> (col("x") >= 0.0))),
      Expect.uniqueCheck(df, Seq("k"), "a_unique")))
      .as[(String, Long, String)].collect().toSeq
    assert(rep == Seq(("a_unique", 2L, "fail"), ("x_nonneg", 2L, "fail")))
  }

  test("funnel ordering: a click BEFORE the first view is not a funnel " +
      "step (q24 shape)") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val ev = Seq(
      // user 1: proper view -> click -> purchase
      (1L, at(0), "view"), (1L, at(5), "click"), (1L, at(9), "purchase"),
      // user 2: click precedes the only view; purchase precedes any click
      (2L, at(0), "click"), (2L, at(5), "view"), (2L, at(2), "purchase"))
      .toDF("user_id", "ts", "event_type")
    ev.createOrReplaceTempView("funnel_ev")
    def stage(t: String) = ev.filter(col("event_type") === t)
    val v = stage("view").groupBy(col("user_id"))
      .agg(min(col("ts")).as("t_view"))
    val c = stage("click").join(v, "user_id")
      .filter(col("ts") >= col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = stage("purchase").join(c, "user_id")
      .filter(col("ts") >= col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    assert(v.count() == 2 && c.count() == 1 && p.count() == 1)
    assert(c.select("user_id").as[Long].head() == 1L)
  }

  test("Fuzzy.qgrams: positional grams, short-string guard; fuzzyPairs " +
      "equals the brute-force join wherever blocking guarantees recall") {
    import spark.implicits._
    val g = Seq("abcdef", "ab", "abc", "")
      .toDF("s").select(Fuzzy.qgrams(col("s"), 3).as("g"))
      .as[Seq[String]].collect().toSeq
    assert(g == Seq(Seq("abc", "bcd", "cde", "def"), Nil, Seq("abc"), Nil))
    val names = Seq("cold rod", "cold bolt", "hot rod", "old rod",
      "blue gear", "blue gears", "old gear", "zzzz").toDF("n")
    val got = Fuzzy.fuzzyPairs(names, "n", q = 3, maxDist = 3)
      .select("name1", "name2", "dist")
      .as[(String, String, Int)].collect().toSet
    // brute force over all pairs, keeping only pairs that share a 3-gram
    // (the blocking contract) and pass the distance threshold
    val all = names.as[String].collect().toSeq
    def grams(s: String) = s.sliding(3).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- all; b <- all if a < b
      if grams(a).intersect(grams(b)).nonEmpty
      dist = lev(a, b) if dist <= 3
    } yield (a, b, dist)).toSet
    assert(got == want)
    assert(got.contains(("blue gear", "blue gears", 1)))
    assert(!got.exists(p => p._1 == "zzzz" || p._2 == "zzzz"))
    // gram-bucket cap: "cold rod"/"hot rod" share only the ' ro'/'rod'
    // grams, each held by 3 names (cold/hot/old rod); capping buckets at 2
    // severs that pair while pairs blocked through rarer grams survive
    // ("blue gear(s)" via 'blu', "cold rod"/"old rod" via 'd r')
    val capped = Fuzzy.fuzzyPairs(names, "n", q = 3, maxDist = 3,
      maxGramBucket = 2L)
      .select("name1", "name2", "dist")
      .as[(String, String, Int)].collect().toSet
    assert(capped.subsetOf(got))
    assert(!capped.contains(("cold rod", "hot rod", 3)))
    assert(capped.contains(("blue gear", "blue gears", 1)))
  }

  test("Hierarchy.flatten: roots/depths across a forest; isolated root; " +
      "cycle bounded by maxDepth") {
    import spark.implicits._
    // forest: 1 -> 2 -> 3 (root), 5 -> 3, 4 isolated root
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 3L)).toDF("node", "parent")
    val got = Hierarchy.flatten(nodes, edges)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 3L, 2), (2L, 3L, 1), (3L, 3L, 0),
      (4L, 4L, 0), (5L, 3L, 1)))
    // 2-cycle: loop must stop at maxDepth, surfacing the leftovers
    val cyc = Seq((7L, 8L), (8L, 7L)).toDF("node", "parent")
    val bounded = Hierarchy.flatten(Seq(7L, 8L).toDF("node"), cyc,
      maxDepth = 5)
    assert(bounded.count() == 2)
    assert(bounded.agg(max(col("depth"))).as[Int].head() == 5)
  }

  test("Ivm: merge(state(base), state(delta)) equals state(full), " +
      "including min/max and groups present on one side only") {
    import spark.implicits._
    val full = Seq(("a", 1), ("a", 5), ("b", 2), ("b", -3), ("c", 9))
      .toDF("g", "v")
    val base = full.filter(col("v") < 5) // c only in delta
    val delta = full.filter(col("v") >= 5)
    val merged = Ivm.mergeStates(Seq(
      Ivm.aggState(base, col("g"), col("v")),
      Ivm.aggState(delta, col("g"), col("v"))))
      .orderBy("grp").as[(String, Long, Long, Int, Int)].collect().toSeq
    val direct = Ivm.aggState(full, col("g"), col("v"))
      .orderBy("grp").as[(String, Long, Long, Int, Int)].collect().toSeq
    assert(merged == direct)
    assert(merged == Seq(("a", 2L, 6L, 1, 5), ("b", 2L, -1L, -3, 2),
      ("c", 1L, 9L, 9, 9)))
  }

  test("t53 unigram pruning: a smaller vocab can only LENGTHEN a " +
      "word's segmentation, changed rows are real, corpus totals agree") {
    val rows = graft.queries.ExtensionQueries
      .t53UnigramPrune(spark, "/root/testdata/sf0.001").collect()
    val (top, corpus) = rows.partition(_.getInt(0) <= 50)
    top.foreach { r =>
      assert(r.getString(3) != r.getString(4), "emitted rows must differ")
      assert(r.getLong(6) >= r.getLong(5),
        s"pruning lowered ${r.getString(1)}'s piece count")
    }
    assert(corpus.length == 1)
    val c = corpus.head
    assert(c.getLong(2) == top.length, "corpus row counts changed words")
    assert(c.getLong(6) >= c.getLong(5),
      "pruned corpus token total must not shrink")
  }

  test("q57 portable HLL registers: state bounded by m=1024, " +
      "register-wise max merge identical to single-pass, hash/bucket/" +
      "rho rule matches a hand computation, duplicates are free") {
    import spark.implicits._
    import graft.operators.Sketches
    val vals = (1 to 5000).map(i => ("g", s"tok$i")) ++
      (1 to 100).map(i => ("h", s"x$i")) ++ Seq(("solo", "pinned"))
    val df = vals.toDF("g", "v")
    val full = Sketches.portableHllState(df, col("g"), col("v"))
    // 5000 distinct values occupy at most m registers
    assert(full.filter(col("grp") === "g").count() <= 1024)
    // arbitrary split: merge(state(a), state(b)) == state(all), exactly
    val a = Sketches.portableHllState(
      df.filter(length(col("v")) % 2 === 0), col("g"), col("v"))
    val b = Sketches.portableHllState(
      df.filter(length(col("v")) % 2 =!= 0), col("g"), col("v"))
    val merged = Sketches.mergeHllStates(Seq(a, b))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
    // duplicates never move a register (max is idempotent)
    val dup = Sketches.portableHllState(df.unionByName(df), col("g"),
      col("v"))
    assert(dup.exceptAll(full).isEmpty && full.exceptAll(dup).isEmpty)
    // hand replay of the oracle's rule on a singleton group
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("pinned".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val expRho = 51 - java.lang.Long.toBinaryString(h >>> 10).length
    val solo = full.filter(col("grp") === "solo")
      .as[(String, Long, Int)].collect()
    assert(solo.toSeq == Seq(("solo", h & 1023L, expRho)))
  }

  test("m19 resizeBmpBilinear: hand-computed midpoint blend, identity " +
      "resize is byte-exact, 1-wide collapse, half-up rounding, " +
      "refusal cases") {
    import graft.operators.Multimodal
    // 2x1 source, pixels A=(10,10,10) B=(30,30,30); 3x1 target:
    // x=1 maps to fx=128 -> (10*128+30*128+128)/256 = 20 per channel
    val bmp = Multimodal.buildBmp(2, 1,
      Array[Byte](10, 10, 10, 30, 30, 30, 0, 0))
    val r3 = Multimodal.resizeBmpBilinear(bmp, 3, 1).get
    val px = (i: Int) => r3(54 + i) & 0xff
    assert((px(0), px(1), px(2)) == ((10, 10, 10)), "endpoint left")
    assert((px(3), px(4), px(5)) == ((20, 20, 20)), "midpoint blend")
    // 3x1 target row stride pads to 12; x=2 starts at byte 6
    assert((px(6), px(7), px(8)) == ((30, 30, 30)), "endpoint right")
    // half-UP rounding: A=10, B=11 at fx=128 blend exactly to 10.5;
    // +2^15 then >>16 rounds up: (10*128*256 + 11*128*256 + 32768)
    // >> 16 = 720896 >> 16 = 11
    val bmp2 = Multimodal.buildBmp(2, 1,
      Array[Byte](10, 10, 10, 11, 11, 11, 0, 0))
    val r32 = Multimodal.resizeBmpBilinear(bmp2, 3, 1).get
    assert((r32(54 + 3) & 0xff) == 11, "exact .5 rounds UP via +2^15")
    // identity resize reproduces every pixel byte (fx = 256x exactly)
    val src = Multimodal.buildBmp(5, 3, Array.tabulate[Byte](17)(i =>
      (i * 31 % 251).toByte))
    val id = Multimodal.resizeBmpBilinear(src, 5, 3).get
    assert(Multimodal.bmpPixelChecksum(id) ==
      Multimodal.bmpPixelChecksum(src))
    for (y <- 0 until 3; x <- 0 until 5; c <- 0 until 3) {
      val row = ((3 * 5 + 3) / 4) * 4
      assert(id(54 + y * row + x * 3 + c) == src(54 + y * row + x * 3 + c))
    }
    // 1-wide source and 1-wide target both collapse to column 0
    val one = Multimodal.buildBmp(1, 2, Array[Byte](5, 6, 7, 0))
    val up = Multimodal.resizeBmpBilinear(one, 4, 2).get
    assert((0 until 4).forall { x =>
      (up(54 + x * 3) & 0xff) == 5 && (up(54 + x * 3 + 1) & 0xff) == 6
    })
    assert(Multimodal.resizeBmpBilinear(Array[Byte](1, 2), 4, 4).isEmpty)
  }

  test("m20 letterboxBmp: wide source centers with gray pad, box bytes " +
      "equal the inner bilinear resize, aspect-matching source fills " +
      "the canvas exactly, refusal") {
    import graft.operators.Multimodal
    // 4x1 source into a 4x4 canvas: fit scale 256 -> box 4x1 at oy=1
    val wide = Multimodal.buildBmp(4, 1,
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
    val out = Multimodal.letterboxBmp(wide, 4, 4).get
    val hb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(hb.getInt(18) == 4 && hb.getInt(22) == 4)
    val row = 12 // 4px * 3B, already 4-aligned
    // box row y=1 is the identity resize of the source row
    for (i <- 0 until 12)
      assert(out(54 + 1 * row + i) == wide(54 + i), s"box byte $i")
    // every other row is the 128 pad
    for (y <- Seq(0, 2, 3); i <- 0 until 12)
      assert((out(54 + y * row + i) & 0xff) == 128, s"pad y=$y i=$i")
    // aspect-matching source fills the canvas: letterbox == bilinear
    val sq = Multimodal.buildBmp(2, 2, Array.tabulate[Byte](16)(i =>
      (i * 17 % 251).toByte))
    assert(java.util.Arrays.equals(
      Multimodal.letterboxBmp(sq, 8, 8).get,
      Multimodal.resizeBmpBilinear(sq, 8, 8).get))
    assert(Multimodal.letterboxBmp(Array[Byte](1, 2), 8, 8).isEmpty)
  }

  test("m21 equalizeBmp: hand-computed remap stretches to 0..255, " +
      "flat image maps to 0, already-equalized ramp is idempotent-ish, " +
      "refusal") {
    import graft.operators.Multimodal
    // 3x1 source, grays 10, 10, 30 (all channels equal): N=3,
    // cdf(10)=2=cdf_min, cdf(30)=3 -> eq(10)=0,
    // eq(30)=(3-2)*255/(3-2)=255
    val bmp = Multimodal.buildBmp(3, 1,
      Array[Byte](10, 10, 10, 10, 10, 10, 30, 30, 30, 0, 0, 0))
    val out = Multimodal.equalizeBmp(bmp).get
    val px = (i: Int) => out(54 + i) & 0xff
    assert((px(0), px(1), px(2)) == ((0, 0, 0)))
    assert((px(3), px(4), px(5)) == ((0, 0, 0)))
    assert((px(6), px(7), px(8)) == ((255, 255, 255)))
    // mixed channels use the integer luma: (0+10+20)/3 = 10
    val mixed = Multimodal.buildBmp(2, 1,
      Array[Byte](0, 10, 20, 90, 90, 90, 0, 0))
    val om = Multimodal.equalizeBmp(mixed).get
    // lumas 10, 90: cdf_min=1, N=2 -> eq(10)=0, eq(90)=255; output is
    // grayscale (all three channels equal)
    assert((om(54) & 0xff) == 0 && (om(55) & 0xff) == 0 &&
      (om(56) & 0xff) == 0)
    assert((om(57) & 0xff) == 255 && (om(58) & 0xff) == 255)
    // flat image: N == cdf_min -> all 0 by contract
    val flat = Multimodal.buildBmp(2, 2, Array.fill[Byte](16)(77))
    val of = Multimodal.equalizeBmp(flat).get
    assert((0 until 4).forall { i =>
      val row = 8; val y = i / 2; val x = i % 2
      (of(54 + y * row + x * 3) & 0xff) == 0
    })
    // a full 0..255-ish uniform ramp keeps its spread: min stays 0,
    // max stays 255 after the remap
    val rampFill = Array.tabulate[Byte](3 * 4)(i => (i / 3 * 85).toByte)
    val ramp = Multimodal.buildBmp(4, 1, rampFill)
    val or = Multimodal.equalizeBmp(ramp).get
    val vals = (0 until 4).map(x => or(54 + x * 3) & 0xff)
    assert(vals.head == 0 && vals.last == 255 &&
      vals == vals.sorted)
    assert(Multimodal.equalizeBmp(Array[Byte](1, 2)).isEmpty)
  }

  test("m22 sobelEnergyBmp: vertical step edge hand-computed, flat " +
      "image zero, no-interior degenerate, refusal") {
    import graft.operators.Multimodal
    // 4x3 image, step edge: columns 0-1 gray 0, columns 2-3 gray 90
    // (all channels equal). Interior pixels: (1,1) and (1,2).
    // luma row: 0 0 90 90
    // (1,1): gx = [r(-1,+1)+2r(0,+1)+r(1,+1)] - [..x-1..] = 4*90 - 0 =
    //   360; gy = 0 -> 360. (1,2): gx = 4*90 - 0 = 360; gy = 0.
    val fill = Array.tabulate[Byte](3 * 12) { i =>
      val x = (i % 12) / 3
      if (x < 2) 0 else 90
    }
    val bmp = Multimodal.buildBmp(4, 3, fill)
    val Some((w, h, n, e)) = Multimodal.sobelEnergyBmp(bmp)
    assert((w, h, n) === ((4, 3, 2L)))
    assert(e === 720L)
    // flat image: zero energy
    val flat = Multimodal.buildBmp(4, 3, Array.fill[Byte](36)(55))
    assert(Multimodal.sobelEnergyBmp(flat).get._4 === 0L)
    // 2-wide image: no interior
    val thin = Multimodal.buildBmp(2, 5, Array.fill[Byte](40)(9))
    assert(Multimodal.sobelEnergyBmp(thin).get === ((2, 5, 0L, 0L)))
    assert(Multimodal.sobelEnergyBmp(Array[Byte](1, 2)).isEmpty)
  }

  test("m23 normalizeWavPeak: hand gain math incl. negative samples " +
      "and floor landing at target-1, silent passthrough, clamp, " +
      "container still valid, refusal") {
    import graft.operators.Multimodal
    def s16le(vs: Seq[Int]): Array[Byte] = vs.flatMap { v =>
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    }.toArray
    def decode(m: Array[Byte], n: Int): Seq[Long] = {
      val st = Multimodal.wavStats(m).get
      assert(st._3 == n.toLong)
      // wavStats gives sum/energy; decode bytes directly for values
      val from = m.length - 2 * n
      (0 until n).map(k => (((m(from + 2 * k) & 0xff) |
        (m(from + 2 * k + 1) << 8)).toShort).toLong)
    }
    // peak 10000 -> g = 30000*65536/10000 = 196608 (exact 3x)
    val wav = Multimodal.buildWav(8000, 1, s16le(Seq(10000, -5000, 1)))
    val out = Multimodal.normalizeWavPeak(wav).get
    assert(decode(out, 3) === Seq(30000L, -15000L, 3L))
    // peak 7 -> g = 30000*65536/7 = 280878811 (floor);
    // 7*g/65536 = 29999 (floor gain undershoots by 1)
    val w2 = Multimodal.normalizeWavPeak(
      Multimodal.buildWav(8000, 1, s16le(Seq(7, -3)))).get
    assert(decode(w2, 2) === Seq(29999L, -12857L))
    // -32768 peak: |s| = 32768, g = 60000, -32768*60000/65536 = -30000
    val w3 = Multimodal.normalizeWavPeak(
      Multimodal.buildWav(8000, 1, s16le(Seq(-32768, 16384)))).get
    assert(decode(w3, 2) === Seq(-30000L, 15000L))
    // silence passes through
    val sil = Multimodal.buildWav(8000, 1, s16le(Seq(0, 0)))
    assert(java.util.Arrays.equals(
      Multimodal.normalizeWavPeak(sil).get, sil))
    assert(Multimodal.normalizeWavPeak(Array[Byte](1, 2)).isEmpty)
  }

  test("p30 burstiness formula: metronome gaps give B = -1, gate " +
      "matches an in-memory recompute on sf0.001") {
    // metronome identity: equal gaps -> D = n*n*g^2 - (n*g)^2 = 0 ->
    // B = (0 - Sg)/(0 + Sg) = -1 exactly
    val g = 7L; val n = 5L
    val sg = n * g; val sg2 = n * g * g
    val d = n * sg2 - sg * sg
    assert(d === 0L)
    assert((math.sqrt(d.toDouble) - sg) / (math.sqrt(d.toDouble) + sg)
      === -1.0)
    // gate vs reference on the fixture
    val sfDir = "/root/testdata/sf0.001"
    val rows = graft.Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = rows.groupBy(_._1).map { case (tpe, es) =>
      val gaps = es.groupBy(_._2).values.flatMap { ue =>
        val o = ue.sortBy(e => (e._4, e._3)).map(_._4)
        o.sliding(2).filter(_.length == 2)
          .map(p => (p(1) - p(0)) / 3600000000L)
      }.toSeq
      val nn = gaps.length.toLong
      val sgg = gaps.sum
      val sg2g = gaps.map(x => x * x).sum
      val dd = nn * sg2g - sgg * sgg
      tpe -> ((nn, sgg, sg2g, dd,
        (math.sqrt(dd.toDouble) - sgg) / (math.sqrt(dd.toDouble) + sgg)))
    }
    val got = graft.queries.ExtensionQueries
      .queries("p30_burstiness")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (t, wv) => assert(got(t) === wv, t) }
  }

  test("t51 unigram: Viterbi picks max-product boundaries, an exact " +
      "double tie prefers the longer piece, EM keeps the vocab spine " +
      "with Laplace floor, DataFrame seg byte-identical to the " +
      "in-memory reference") {
    import spark.implicits._
    val sc = Map("l" -> 0.01, "o" -> 0.01, "w" -> 0.01, "e" -> 0.01,
      "r" -> 0.01, "low" -> 0.2, "er" -> 0.1, "lo" -> 0.05)
    // low|er (0.2*0.1) beats lo|w|er (0.05*0.01*0.1) and the char split
    assert(Unigram.segment("lower", sc) == List("low", "er"))
    // 0.5*0.5 == 0.25 is an EXACT double tie: the longer piece wins
    assert(Unigram.segment("aa", Map("a" -> 0.5, "aa" -> 0.25)) ==
      List("aa"))
    // a strictly better split still beats the long piece
    assert(Unigram.segment("aa", Map("a" -> 0.6, "aa" -> 0.25)) ==
      List("a", "a"))
    // EM round: vocab spine fixed, unused pieces floor at Laplace 1
    val docs = Seq("spark spark scan", "spark scan scan span")
      .toDF("text")
    val words = Unigram.wordHistogram(docs, col("text"))
    val vocab = Unigram.seedPieces(words)
    val p2 = Unigram.emRound(words, vocab, vocab)
    assert(p2.count() == vocab.count())
    assert(p2.agg(min(col("cnt"))).as[Long].head() == 1L)
    // every DataFrame-produced segmentation is byte-identical to the
    // in-memory reference DP under the same scores
    val rows = vocab.select("piece", "cnt").collect()
    val t = rows.map(_.getLong(1)).sum.toDouble
    val ref = rows.map(r =>
      r.getString(0) -> (r.getLong(1).toDouble / t)).toMap
    Unigram.viterbiSeg(words, vocab).as[(String, Long, String)].collect()
      .foreach { case (w, _, seg) =>
        assert(seg == Unigram.segment(w, ref).mkString("|"))
      }
  }

  test("p28 mannWhitney: textbook small samples, midrank tie handling, " +
      "symmetry U1+U2 = 2·n1·n2, clear shift flags") {
    import spark.implicits._
    import graft.operators.Profile
    // g1 = {1,3,5}, g2 = {2,4}: ranks 1..5, R1 = 9, U1 = 3 (2U1 = 6)
    val a = Seq((true, 1.0), (true, 3.0), (true, 5.0), (false, 2.0),
      (false, 4.0)).toDF("a", "v")
    val r = Profile.mannWhitney(a, col("a"), col("v")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 2L, 18L, 6L, 6L)))
    assert(!r.getBoolean(5), "balanced tiny samples do not flag")
    // tie: g1 = {1,2}, g2 = {2}: midranks 1, 2.5, 2.5 -> R1 = 3.5,
    // U1 = 0.5 -> doubled 7 and 1
    val t = Seq((true, 1.0), (true, 2.0), (false, 2.0)).toDF("a", "v")
    val rt = Profile.mannWhitney(t, col("a"), col("v")).collect()(0)
    assert((rt.getLong(2), rt.getLong(3), rt.getLong(4)) ==
      ((7L, 1L, 3L)))
    // complete separation at n = 60: z well past 1.96 -> shifted
    val big = ((1 to 60).map(i => (true, i.toDouble)) ++
      (1 to 60).map(i => (false, 1000.0 + i))).toDF("a", "v")
    assert(Profile.mannWhitney(big, col("a"), col("v"))
      .collect()(0).getBoolean(5))
  }

  test("p35 rocAuc: perfect separation 1.0, reversed 0.0, all-tied 0.5, " +
      "mixed hand case with a tie pair, single-class NULL") {
    import spark.implicits._
    import graft.operators.Profile
    def auc(rows: Seq[(Boolean, Double)]) = {
      val r = Profile.rocAuc(rows.toDF("p", "s"), col("p"), col("s"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }
    // every positive above every negative
    assert(auc(Seq((true, 10.0), (true, 9.0), (false, 1.0),
      (false, 2.0))) == ((2L, 2L, 8L, 8L, Some(1.0))))
    // inverted ranking
    assert(auc(Seq((true, 1.0), (false, 9.0))) ==
      ((1L, 1L, 0L, 2L, Some(0.0))))
    // one shared value: every pair a tie -> exactly 0.5
    assert(auc(Seq((true, 5.0), (true, 5.0), (false, 5.0))) ==
      ((2L, 1L, 2L, 4L, Some(0.5))))
    // pos {3,1}, neg {2,1}: pairs 1+1+0+tie(.5) -> AUC = 2.5/4
    assert(auc(Seq((true, 3.0), (true, 1.0), (false, 2.0),
      (false, 1.0))) == ((2L, 2L, 5L, 8L, Some(0.625))))
    // no negatives -> denominator 0 -> NULL auc
    assert(auc(Seq((true, 1.0), (true, 2.0))) ==
      ((2L, 0L, 0L, 0L, None)))
  }

  test("p42 mutualInfo: identity copy NMI exactly 1.0 on power-of-two " +
      "counts, uniform independence MI 0, constant axis degenerate, " +
      "negative cell term, ref-kernel parity") {
    import spark.implicits._
    import graft.operators.{NaiveBayes, Profile}
    def mi(rows: Seq[(String, String)]) =
      Profile.mutualInfo(rows.toDF("x", "y"), "x", "y")
        .orderBy("x_val", "y_val").collect()
    // X == Y, counts powers of two: every log exact, NMI exactly 1.0
    val idr = mi(Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")))
    assert(idr.length == 2)
    assert(idr.forall(_.getDouble(10) == 1.0)) // nmi
    assert(idr.forall(_.getString(11) == "leaking"))
    assert(idr.forall(_.getDouble(7) == 1.0)) // MI = 1 bit exactly
    // uniform 2x2 independence: every cell term exactly 0
    val ind = mi(Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")))
    assert(ind.forall(_.getLong(5) == 0L))
    assert(ind.forall(_.getString(11) == "independent"))
    // constant X axis: H(X) = 0 -> degenerate, NULL nmi
    val deg = mi(Seq(("a", "u"), ("a", "v")))
    assert(deg.forall(r => r.isNullAt(10) &&
      r.getString(11) == "degenerate"))
    // skewed 2x2: off-diagonal cells rarer than independence -> negative
    // cell terms, positive total; pin every mi_num via the ref kernel
    val sk = mi(Seq.fill(3)(("a", "a")) ++ Seq(("a", "b"), ("b", "a")) ++
      Seq.fill(3)(("b", "b")))
    val l = NaiveBayes.log2Q16Ref _
    def cell(nxy: Long, nx: Long, ny: Long): Long =
      nxy * (l(8 * nxy) - l(nx * ny))
    assert(sk.map(r => (r.getString(0), r.getString(1), r.getLong(5)))
      .toSeq == Seq(("a", "a", cell(3, 4, 4)), ("a", "b", cell(1, 4, 4)),
        ("b", "a", cell(1, 4, 4)), ("b", "b", cell(3, 4, 4))))
    assert(cell(1, 4, 4) < 0L)
    val tot = sk.map(_.getLong(5)).sum
    assert(tot > 0L)
    assert(sk.forall(_.getDouble(7) == tot.toDouble / (8.0 * 65536.0)))
  }

  test("q67 coalesceIntervals: overlap merge, half-open touch merges, " +
      "gap splits, covered counts overlap once, per-key isolation") {
    import spark.implicits._
    import graft.operators.Sweep
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val iv = Seq(
      ("A", "2024-03-01 00:00:00", "2024-03-01 01:00:00"),
      ("A", "2024-03-01 00:30:00", "2024-03-01 02:00:00"), // overlap
      ("A", "2024-03-01 03:00:00", "2024-03-01 03:30:00"), // gap
      ("A", "2024-03-01 03:30:00", "2024-03-01 04:00:00"), // touch
      ("B", "2024-03-01 10:00:00", "2024-03-01 10:10:00"))
      .map { case (k, a, b) => (k, ts(a), ts(b)) }.toDF("k", "s", "e")
    val got = Sweep.coalesceIntervals(iv, col("k"), col("s"), col("e"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // A: island1 [0:00,2:00) 2h; island2 [3:00,4:00) 1h (touch merged)
    val h = 3600L * 1000000L
    assert(got("A") == ((4L, 2L, 3 * h, 4 * h, 2 * h)))
    assert(got("B") == ((1L, 1L, h / 6, h / 6, h / 6)))
  }

  test("p43 calibration integer formulas: collapsed Brier (y^2 = y) " +
      "and ECE numerators equal the brute per-item sums on a hand " +
      "distribution") {
    // bins: (b=0, n=4, s=1), (b=15, n=4, s=3); f_b = (2b+1)/32
    val bins = Seq((0L, 4L, 1L), (15L, 4L, 3L))
    val items = bins.flatMap { case (b, n, s) =>
      Seq.fill(s.toInt)((b, 1.0)) ++ Seq.fill((n - s).toInt)((b, 0.0))
    }
    val brute = items.map { case (b, y) =>
      val f = (2 * b + 1).toDouble / 32.0; (f - y) * (f - y)
    }.sum
    val bn = bins.map { case (b, n, s) =>
      (2 * b + 1) * (2 * b + 1) * n - 64 * (2 * b + 1) * s + 1024 * s
    }.sum
    assert(math.abs(bn.toDouble / (1024.0 * 8) - brute / 8) < 1e-12)
    val bruteEce = bins.map { case (b, n, s) =>
      n * math.abs((2 * b + 1).toDouble / 32.0 - s.toDouble / n)
    }.sum
    val eceNum = bins.map { case (b, n, s) =>
      math.abs((2 * b + 1) * n - 32 * s)
    }.sum
    assert(math.abs(eceNum.toDouble / 32.0 - bruteEce) < 1e-12)
  }

  test("p44 seasonal residuals: scaled residuals cancel to EXACTLY 0 " +
      "for any dow profile (pe = product of other dows' counts makes " +
      "mixed denominators common), planted spike flags at |z| >= 2") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val nDows = 1 + rnd.nextInt(7)
      val days = (0 until nDows).flatMap { d =>
        (0 to rnd.nextInt(5)).map(_ => (d.toLong, 1L + rnd.nextInt(40)))
      }
      val c = days.groupBy(_._1).map { case (d, xs) => d -> xs.size.toLong }
      val sd = days.groupBy(_._1)
        .map { case (d, xs) => d -> xs.map(_._2).sum }
      val p = c.values.map(BigInt(_)).product
      val r = days.map { case (d, n) =>
        BigInt(n * c(d) - sd(d)) * (p / c(d))
      }
      assert(r.sum == BigInt(0), s"residuals must cancel: ${r.sum}")
    }
    // single-dow planted spike: counts 10x5 + 40 -> only the spike flags
    val counts = Seq.fill(5)(10L) :+ 40L
    val s6 = counts.sum; val c6 = counts.size.toLong
    val rs = counts.map(n => n * c6 - s6) // pe = 1
    val dd = rs.size.toLong; val s = rs.sum; val q = rs.map(x => x * x).sum
    assert(s == 0L)
    val flags = rs.map(x =>
      BigInt(x * dd - s).pow(2) >= 4 * (BigInt(q) * dd - BigInt(s).pow(2)))
    assert(flags == Seq(false, false, false, false, false, true))
  }

  test("m32 flatness assembly: equal smoothed bins read exactly 0, a " +
      "dominant bin reads strongly negative; buildNoiseWav replays the " +
      "md5 sample formula and is spectrally balanced") {
    import graft.operators.{Multimodal, NaiveBayes}
    def fl(e: Seq[Long]): Double = {
      val s = e.sum + 4
      val num = e.map(x => NaiveBayes.log2Q16Ref(x + 1)).sum -
        4 * NaiveBayes.log2Q16Ref(s) + 8 * 65536L
      num.toDouble / (4.0 * 65536.0)
    }
    assert(fl(Seq(1L, 1L, 1L, 1L)) == 0.0)
    assert(fl(Seq(1000000L, 0L, 0L, 0L)) < -4.0)
    // buildNoiseWav: sample 0 of id 7 replays the md5 formula
    val w = Multimodal.buildNoiseWav(7L, 4)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("7:0".getBytes("UTF-8"))
    val h = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
      ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
    val want = (h % 4001L).toInt - 2000
    val got = ((w(44) & 0xff) | (w(45) << 8)).toShort.toInt
    assert(got == want)
  }

  test("a31 nnDescent: clustered corpus reaches >= 0.8 recall vs brute " +
      "truth (local-optimum convergence — exactness is not guaranteed " +
      "even here), deterministic across runs, non-contiguous ids seed " +
      "identically to a dense relabeling of nothing — i.e. just work") {
    import spark.implicits._
    import graft.operators.Ann
    // 10 tight clusters of 4 around distinct spike directions in R^16
    // (per-coordinate varied noise — non-degenerate geometry): cluster
    // size k + 1, the easy regime where the neighbor-of-neighbor
    // premise closes each cluster into a clique
    val vecs = (0 until 40).map { i =>
      val c = i % 10
      val base = Array.tabulate(16)(d => 0.05f * ((i * 7 + d * 3) % 5 - 2))
      base(c) = 10f + (i / 10) * 0.1f
      (i.toLong, base.toSeq)
    }
    val corpus = vecs.toDF("id", "vec")
    def run() = Ann.nnDescent(corpus, k = 3, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(identity).toSeq
    val got = run()
    assert(got == run(), "deterministic")
    val truth = Ann.bruteForceTopK(
        corpus.selectExpr("id AS qid", "vec AS qvec"), corpus, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = got.count(g => truth.contains((g._1, g._3)))
    assert(hits * 10 >= truth.size * 8,
      s"clustered recall must be >= 0.8: $hits of ${truth.size}")
    // non-contiguous / shifted ids are a first-class id space: the
    // same vectors under id*2+10^9 produce a valid graph of the same
    // size (bucket seeding hashes the id STRING, so the graph itself
    // differs — only validity and coverage are pinned here)
    val gapped = vecs.map { case (i, v) => (i * 2 + 1000000000L, v) }
      .toDF("id", "vec")
    val g2 = Ann.nnDescent(gapped, k = 3, rounds = 2).collect()
    assert(g2.nonEmpty && g2.forall(_.getLong(0) >= 1000000000L))
  }

  test("m31 bmpGrayLevels: two-level hand image reads exactly 1 bit, " +
      "constant image exactly 0, histogram counts exact, non-BMP empty") {
    import graft.operators.{Multimodal, NaiveBayes}
    // 2x1 BMP: pixel0 black (lum 0), pixel1 white (lum 255)
    val twoTone = Multimodal.buildBmp(2, 1,
      Array[Byte](0, 0, 0, -1, -1, -1, 0, 0)) // row padded to 8 bytes
    val lv = Multimodal.bmpGrayLevels(twoTone)
    assert(lv == Seq((0, 1L), (255, 1L)))
    // entropy assembly: n=2, counts {1,1}: h_num = 2*L(2) - 2*(1*L(1))
    val hNum = 2 * NaiveBayes.log2Q16Ref(2) - 2 * NaiveBayes.log2Q16Ref(1)
    assert(hNum.toDouble / (2 * 65536).toDouble == 1.0)
    // constant fill -> single level, entropy numerator exactly 0
    val flat = Multimodal.buildBmp(3, 2, Array[Byte](77, 77, 77))
    val lvf = Multimodal.bmpGrayLevels(flat)
    assert(lvf == Seq((77, 6L)))
    assert(6 * NaiveBayes.log2Q16Ref(6) - 6 * NaiveBayes.log2Q16Ref(6) == 0L)
    // non-BMP payload refuses with an empty histogram
    assert(Multimodal.bmpGrayLevels("RIFFxxxx".getBytes).isEmpty)
  }

  test("t64 sliding HLL: offset-expanded register merge identical to a " +
      "from-scratch pass over the window's raw union (semilattice proof " +
      "on a planted 3-day corpus)") {
    import spark.implicits._
    import graft.operators.Sketches
    val rows = (1 to 40).map(i => ("2024-03-01", s"u$i")) ++
      (25 to 70).map(i => ("2024-03-02", s"u$i")) ++
      (60 to 90).map(i => ("2024-03-03", s"u$i"))
    val ev = rows.toDF("ds", "u").select(to_date(col("ds")).as("d"),
      col("u"))
    val state = Sketches.portableHllState(ev, col("d"), col("u"))
    // window = 3 days ending 03-03: expansion merge of the 3 states
    val merged = state.groupBy(col("bucket"))
      .agg(max(col("rho")).as("rho"))
    val scratch = Sketches.portableHllState(
      ev.withColumn("g", lit(1)), col("g"), col("u"))
      .select(col("bucket"), col("rho"))
    val diff = merged.join(scratch.withColumnRenamed("rho", "rho2"),
        Seq("bucket"), "full_outer")
      .filter(!(col("rho") <=> col("rho2"))).count()
    assert(diff == 0L)
  }

  test("q66 peakConcurrency: staircase peak + argmin instant, hour- and " +
      "day-crossing carry, close-only day peaks at bod_open, coincident " +
      "boundaries net to 0, back-to-back half-open no double-count") {
    import spark.implicits._
    import graft.operators.Sweep
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def run(iv: Seq[(String, String)]) =
      Sweep.peakConcurrency(
          iv.map { case (a, b) => (ts(a), ts(b)) }.toDF("s", "e"),
          col("s"), col("e"))
        .orderBy("d").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
          r.getLong(3), r.getTimestamp(4).toString, r.getLong(5)))
    // nested triple: peak 3 at the third open; crosses hour buckets
    val r1 = run(Seq(
      ("2024-03-01 00:10:00", "2024-03-01 00:40:00"),
      ("2024-03-01 00:20:00", "2024-03-01 01:50:00"),
      ("2024-03-01 00:30:00", "2024-03-01 02:00:00")))
    assert(r1.toSeq == Seq(("2024-03-01", 6L, 0L, 3L,
      "2024-03-01 00:30:00.0", 0L)))
    // day-crossing: opens 23:50 day1, closes 00:20 day2 -> day2 only
    // CLOSES carried intervals: boundary max 0, bod_open carries the 1
    val r2 = run(Seq(
      ("2024-03-01 23:50:00", "2024-03-02 00:20:00"),
      ("2024-03-01 10:00:00", "2024-03-01 10:30:00")))
    assert(r2.toSeq == Seq(
      ("2024-03-01", 3L, 0L, 1L, "2024-03-01 10:00:00.0", 1L),
      ("2024-03-02", 1L, 1L, 0L, "2024-03-02 00:20:00.0", 0L)))
    // back-to-back [a,b) + [b,c): at b the close nets against the open
    // -> boundary stays with net 0, concurrency never reads 2
    val r3 = run(Seq(
      ("2024-03-01 09:00:00", "2024-03-01 09:30:00"),
      ("2024-03-01 09:30:00", "2024-03-01 10:00:00")))
    assert(r3.toSeq == Seq(("2024-03-01", 3L, 0L, 1L,
      "2024-03-01 09:00:00.0", 0L)))
    // earliest-instant tie-break: two disjoint singles both reach 1
    val r4 = run(Seq(
      ("2024-03-01 12:00:00", "2024-03-01 12:10:00"),
      ("2024-03-01 14:00:00", "2024-03-01 14:10:00")))
    assert(r4.head._5 == "2024-03-01 12:00:00.0")
  }

  test("g14 weightedSeededDistance: cheap detour beats expensive direct " +
      "hop, round-bounded monotonicity, parallel edges keep min weight, " +
      "unreached nodes absent") {
    import spark.implicits._
    // 1→2 costs 5 direct; 1→3→2 costs 1+1; 2→4 costs 10; 5 unreachable
    val edges = Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L),
      (2L, 4L, 10L), (1L, 2L, 7L)) // parallel 1→2, worse weight
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    def d(r: Int): Map[Long, Long] =
      Graph.weightedSeededDistance(edges, seeds, r)
        .as[(Long, Long)].collect().toMap
    val r1 = d(1)
    assert(r1 == Map(1L -> 0L, 2L -> 5L, 3L -> 1L),
      "one round: only direct hops, min of the parallel pair")
    val r2 = d(2)
    assert(r2(2L) == 2L, "two rounds: the cheap detour wins")
    assert(r2(4L) == 15L)
    val r3 = d(3)
    assert(r3(4L) == 12L, "detour improvement propagates")
    assert(!r3.contains(5L), "unreached nodes are absent")
    assert(r3.forall { case (k, v) => v <= r2.getOrElse(k, Long.MaxValue) },
      "distances are monotone non-increasing in rounds")
  }

  test("g13 sccBounded: planted 3-cycle ∪ dag resolves, direction kept " +
      "(vs undirected CC), horizon sweep is monotone non-increasing") {
    import spark.implicits._
    // 1→2→3→1 (cycle), 3→4, 4→5→6 (dag tail), plus 10→11→12→13→10
    // (4-cycle, needs h=3)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L))
      .toDF("src", "dst")
    def labels(h: Int): Map[Long, Long] =
      Graph.sccBounded(edges, h).as[(Long, Long)].collect().toMap
    val h3 = labels(3)
    // cycle nodes share the min label; every dag node is a singleton
    assert(h3(1L) == 1L && h3(2L) == 1L && h3(3L) == 1L)
    assert(h3(4L) == 4L && h3(5L) == 5L && h3(6L) == 6L)
    // the 4-cycle needs distances up to 3 in both directions
    assert(Seq(10L, 11L, 12L, 13L).forall(h3(_) == 10L))
    // undirected CC would merge EVERYTHING reachable: direction matters
    val cc = Graph.connectedComponents(edges).as[(Long, Long)]
      .collect().toMap
    assert(cc(6L) == 1L && h3(6L) == 6L)
    // horizon sweep: h=1 finds nothing (shortest back-path is 2); h=2
    // resolves the 3-cycle but not the 4-cycle; labels only DECREASE
    val h1 = labels(1)
    assert(Seq(1L, 2L, 3L, 10L, 11L).forall(id => h1(id) == id))
    val h2 = labels(2)
    assert(h2(1L) == 1L && h2(2L) == 1L && h2(3L) == 1L)
    assert(h2(10L) == 10L && h2(11L) == 11L)
    assert(h3.forall { case (id, l) => l <= h2(id) && h2(id) <= h1(id) })
  }

  test("Ivm retraction: signed count/sum absorb a mixed append+delete " +
      "batch, a group vanishes at count 0, min/max need the recompute " +
      "fallback, tombstones remove every matching join-view row") {
    import spark.implicits._
    val base = Seq(("a", 1), ("a", 5), ("b", 2), ("c", 9)).toDF("g", "v")
    val baseState = Ivm.aggState(base, col("g"), col("v"))
    // batch: append a=2 and d=4; delete a=5 (the CURRENT max) and c=9
    // (empties group c entirely)
    val appends = Seq(("a", 2), ("d", 4)).toDF("g", "v")
    val deletes = Seq(("a", 5), ("c", 9)).toDF("g", "v")
    val delta = Ivm.retractState(appends, deletes, col("g"), col("v"))
    val merged = baseState.join(delta, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("cnt_d"), lit(0L)))
          .as("n"),
        (coalesce(col("sum_v"), lit(0L)) + coalesce(col("sum_d"), lit(0L)))
          .as("s"))
      .filter(col("n") > 0)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // a lost its 5 and gained a 2; b untouched; c REMOVED; d brand new
    assert(merged == Map("a" -> ((2L, 3L)), "b" -> ((1L, 2L)),
      "d" -> ((1L, 4L))))
    // min/max are NOT retractable: the semilattice merge would keep the
    // deleted 5 as a's max (stale), the true max after the batch is 2 —
    // exactly why q55 recomputes affected groups from current rows
    val staleMax = Ivm.mergeStates(Seq(baseState,
      Ivm.aggState(appends, col("g"), col("v"))))
      .filter(col("grp") === "a").select(col("max_v")).as[Int].head()
    assert(staleMax == 5)
    val trueMax = base.unionByName(appends)
      .exceptAll(deletes).filter(col("g") === "a")
      .agg(max(col("v"))).as[Int].head()
    assert(trueMax == 2)
    // tombstones: every view row under a deleted key vanishes (key 2
    // matches TWO rows), survivors untouched, anti-join broadcasts
    val view = Seq((1L, "x"), (2L, "y"), (2L, "z"), (3L, "w"))
      .toDF("k", "p")
    val kept = Ivm.applyTombstones(view, Seq(2L).toDF("k"), Seq("k"))
    assert(kept.as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (3L, "w")))
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "tombstones should apply as a broadcast anti-join")
  }

  test("TopKPairsAgg: bounded state, reduce/merge associative, ties by id") {
    val agg = new graft.functions.TopKPairsAgg(3)
    // reduce 6 pairs in adversarial order; rank ties broken by id
    val in = Seq((5L, 50L), (1L, 99L), (1L, 10L), (9L, 1L), (2L, 7L),
      (1L, 11L))
    val all = in.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(all) == Seq((1L, 10L), (1L, 11L), (1L, 99L)))
    // state never exceeds k pairs
    assert(all(0) == 3L && all.length == 7)
    // split-and-merge equals single-pass for every split point
    for (cut <- 0 to in.length) {
      val (l, r) = in.splitAt(cut)
      val m = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(m) == agg.finish(all), s"split at $cut")
    }
  }

  test("domainQuota: equals the window form; bounded agg, no window sort") {
    import spark.implicits._
    // skewed: domain "big" has 40 rows, "small" has 2
    val df = ((1L to 40L).map(i => ("big", i)) ++
      Seq(("small", 100L), ("small", 101L))).toDF("source", "doc_id")
    val got = Sampling.domainQuota(df, col("source"), col("doc_id"), k = 5)
    val rows = got.orderBy("domain", "key")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // oracle: row_number over (hash, id) per domain
    import org.apache.spark.sql.expressions.Window
    val h = graft.functions.Hashing.portableHash32(
      col("doc_id").cast("string"))
    val want = df.withColumn("__h", h)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))))
      .filter(col("__rn") <= 5).orderBy("source", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == want)
    assert(rows.count(_._1 == "big") == 5 &&
      rows.count(_._1 == "small") == 2)
    // plan: hash aggregation with the UDAF, no window exec
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "quota must not use a window sort")
  }

  test("a18 filtered search: pre-filtered IVF returns only survivors, " +
      "equals filtered brute force, probe join stays a shuffle join") {
    val e = graft.Tables.embeddings(spark, sf)
    val cents = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val keep = graft.Tables.documents(spark, sf)
      .filter(col("lang") === "en").select(col("doc_id"))
    val corpus = e.join(keep, col("vec_id") === col("doc_id"), "left_semi")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = Ann.ivfTopKJoin(qs, corpus, cents, k = 3, nprobe = 2)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // every returned neighbor satisfies the predicate
    val en = keep.collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.forall { case (_, _, n) => en.contains(n) })
    // with nprobe = all cells, filtered IVF == filtered brute force (the
    // pre-filter loses nothing the index itself doesn't)
    val nCells = cents.count().toInt
    val full = Ann.ivfTopKJoin(qs, corpus, cents, k = 3, nprobe = nCells)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Ann.bruteForceTopK(qs, corpus, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full == brute)
    // the candidate join shuffles on cid; only the key+predicate dim (and
    // config-sized centroids riding in literals) may broadcast — the
    // corpus must never be on a BroadcastExchange's build side with qs
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"probe join must be a shuffle join:\n$plan")
  }

  test("p16 embedding drift: scaled slice reports cos 1 / ratio 2; " +
      "rotated slice reports cos 0 / ratio 1") {
    import spark.implicits._
    val dir = graft.Tables.scratchDir("graft-p16-spec")
    // vec_id parity = the two slices; label 0 drifts in NORM only (B = 2A),
    // label 1 drifts in DIRECTION only (B orthogonal to A, same norm)
    Seq(
      (0L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0), // A, label 0
      (1L, Seq(2.0f, 0.0f), 0), (3L, Seq(2.0f, 0.0f), 0), // B, label 0
      (4L, Seq(0.0f, 1.0f), 1), (6L, Seq(0.0f, 1.0f), 1), // A, label 1
      (5L, Seq(1.0f, 0.0f), 1), (7L, Seq(1.0f, 0.0f), 1)) // B, label 1
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.queries.ExtensionQueries.p16EmbeddingDrift(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == Seq((0, 2L, 2L, 1.0, 2.0), (1, 2L, 2L, 0.0, 1.0)))
  }

  test("t36 tokenizer fertility: merged word = 1 piece, unmergeable word " +
      "= 1 piece per char; occurrence counts weight the sums") {
    import spark.implicits._
    val dir = graft.Tables.scratchDir("graft-t36-spec")
    // 'the' fully merges under the t25 table ((t,h) then (th,e)) -> 1
    // piece; 'xy' has no applicable merge -> 2 single-char pieces
    Seq((1L, "the the", "en"), (2L, "xy", "zz"), (3L, "xy xy xy", "zz"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.ExtensionQueries
      .t36TokenizerFertility(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      ("en", 2L, 2L, 6L, 1.0, 3.0),   // 2 words, 1 piece each, 3 chars
      ("zz", 4L, 8L, 8L, 2.0, 1.0)))  // 4 occurrences of 'xy', 2 pieces
  }

  test("wordGrams: positions, overlap, short-doc empty; hash parity shape") {
    import spark.implicits._
    val df = Seq("a b c d", "a b", "x").toDF("text")
    val got = df.select(graft.functions.Text.wordGrams(col("text"), 3)
      .as("g")).as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("a b c", "b c d"), Seq(), Seq()))
  }

  test("GapFill.fillDaily: per-key spans, forward carry, is_gap flags") {
    import spark.implicits._
    import java.sql.Date
    val df = Seq(
      ("a", Date.valueOf("2024-01-01"), 5L),
      ("a", Date.valueOf("2024-01-04"), 7L),
      ("b", Date.valueOf("2024-02-10"), 1L)).toDF("key", "date", "v")
    val got = GapFill.fillDaily(df, "key", "date", "v")
      .orderBy("key", "date")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == Seq(
      ("a", "2024-01-01", 5L, false),
      ("a", "2024-01-02", 5L, true),
      ("a", "2024-01-03", 5L, true),
      ("a", "2024-01-04", 7L, false),
      ("b", "2024-02-10", 1L, false))) // b's span independent of a's
  }

  test("InvertedIndex: posting rows per (token, doc); phrase search " +
      "counts overlapping occurrences; absent term -> no rows") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b"), (2L, "a b a b"), (3L, "b b"))
      .toDF("doc_id", "text")
    val idx = InvertedIndex.build(docs, col("doc_id"), col("text"))
    // postings for token "a": doc1 tf=3, doc2 tf=2
    val aRows = idx.filter(col("token") === "a")
      .collect().map(r => (r.getLong(1), r.getSeq[Int](2), r.getInt(3)))
      .sortBy(_._1).toSeq
    assert(aRows == Seq((1L, Seq(0, 1, 2), 3), (2L, Seq(0, 2), 2)))
    // "a a" in doc1 twice (overlap), never in doc2/doc3
    val got = InvertedIndex.phraseSearch(idx, Seq("a", "a"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((1L, 2)))
    // "a b" in doc1 once, doc2 twice
    val ab = InvertedIndex.phraseSearch(idx, Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(ab == Seq((1L, 1), (2L, 2)))
    assert(InvertedIndex.phraseSearch(idx, Seq("zzz", "a")).count() == 0L)
  }

  test("SetSimJoin.jaccardJoin: equals the brute-force join (prefix " +
      "filter is lossless); empty sets dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")), // jac(1,2) = 3/5 = 0.6
      (3L, Seq("x", "y", "z")),      // disjoint from 1,2
      (4L, Seq("x", "y", "z", "w")), // jac(3,4) = 3/4 = 0.75
      (5L, Seq("a", "x")),           // below tau vs everything
      (6L, Seq.empty[String]))
      .toDF("id", "s")
    val got = SetSimJoin.jaccardJoin(df, col("id"), col("s"), tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    // brute force over all pairs at tau=0.5
    val sets = Map(1L -> Set("a","b","c","d"), 2L -> Set("a","b","c","e"),
      3L -> Set("x","y","z"), 4L -> Set("x","y","z","w"), 5L -> Set("a","x"))
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = (sets(a) & sets(b)).size
      j = i.toDouble / (sets(a) | sets(b)).size if j >= 0.5
    } yield (a, b, math.rint(j * 10000) / 10000)).toSeq.sortBy(p => (p._1, p._2))
    assert(got == want)
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L), (3L, 4L)))
  }

  test("BpeApplyExpr: greedy LTR pass per merge in rank order; " +
      "composes with trainMerges output") {
    import spark.implicits._
    import graft.functions.BpeApplyExpr.bpe_apply
    val merges = Seq(("t", "h"), ("th", "e"), ("a", "a"))
    val df = Seq("the", "than", "aaa", "xyz", "").toDF("w")
    val got = df.select(bpe_apply(col("w"), merges).as("p"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(
      Seq("the"),          // t+h then th+e chain across ranks
      Seq("th", "a", "n"), // rank order: th formed, (a,a) never fires
      Seq("aa", "a"),      // greedy LTR, no overlapping merge
      Seq("x", "y", "z"),
      Seq()))
    // code points, not chars: non-ASCII splits correctly with no merges
    val uni = Seq("aé").toDF("w")
      .select(bpe_apply(col("w"), Seq(("q", "q"))).as("p"))
      .as[Seq[String]].collect().head
    assert(uni == Seq("a", "é"))
    // train -> encode composition: the trained merge lands and applies
    val corpus = Seq("ab ab ab b").toDF("text")
    val trained = Bpe.trainMerges(corpus, col("text"), numMerges = 2)
      .filter(col("rhs") =!= "").orderBy("merge_rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(trained == Seq(("a", "b")))
    val enc = Seq("ab", "b").toDF("w")
      .select(bpe_apply(col("w"), trained).as("p"))
      .as[Seq[String]].collect().toSeq
    assert(enc == Seq(Seq("ab"), Seq("b")))
  }

  test("Tables.events is encoding-adaptive: int64-nanos, TIMESTAMP_NTZ " +
      "and TimestampType fixtures all load to identical instants") {
    // Round 7 lost 16 gates when the fixture flipped nanos -> micros; the
    // loader now branches on the bound footer type. Synthesize all three
    // encodings from the real fixture and require identical results.
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val real = graft.Tables.events(spark, "/root/testdata/sf0.001")
    def scratch(df: org.apache.spark.sql.DataFrame): String = {
      val dir = graft.Tables.scratchDir("graft-tsenc")
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val f = new java.io.File(dir)
      f.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(p => p.renameTo(new java.io.File(f, "events.parquet")))
      dir
    }
    // (a) TimestampType (UTC-adjusted micros on disk)
    val tsDir = scratch(real)
    // (b) TIMESTAMP_NTZ (micros, no UTC adjustment — the current fixture)
    val ntzDir = scratch(real.withColumn("ts",
      expr("cast(ts as timestamp_ntz)")))
    // (c) int64 nanoseconds bound as LongType (the pre-r7 legacy shape)
    val nanosDir = scratch(real.withColumn("ts",
      expr("unix_micros(ts) * 1000L")))
    val dirs = Seq(tsDir, ntzDir, nanosDir)
    val loaded = dirs.map(d => graft.Tables.events(spark, d))
    loaded.foreach(df => assert(df.schema("ts").dataType == TimestampType))
    // sanity: the synthesized encodings really are distinct on disk
    assert(spark.read.parquet(s"$nanosDir/events.parquet")
      .schema("ts").dataType == LongType)
    val sets = loaded.map(_.select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq)
    assert(sets(0) == sets(1) && sets(1) == sets(2))
    assert(sets(0) == real.select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq)
  }

  test("semanticNearDupPairs: pairs confined to k-means cells; " +
      "threshold respected") {
    import spark.implicits._
    // two orthogonal clusters in 2D; within-cluster cosine ~1, across ~0
    val corpus = Seq(
      (1L, Seq(1.0f, 0.01f)), (2L, Seq(1.0f, 0.02f)),
      (3L, Seq(0.01f, 1.0f)), (4L, Seq(0.02f, 1.0f)))
      .toDF("id", "vec")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    val got = Dedup.semanticNearDupPairs(corpus, cents, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(got == Seq((1L, 2L), (3L, 4L))) // never a cross-cell pair
    // tight threshold kills even same-cell pairs
    assert(Dedup.semanticNearDupPairs(corpus, cents, 0.9999999)
      .count() == 0L)
  }

  test("semanticNearDupPairs maxCell: a pathological centroid set that " +
      "dumps the corpus into one cell is capped, small cells still pair") {
    import spark.implicits._
    // cluster A: 3 near-identical docs; cluster B: 2 near-identical docs
    val corpus = Seq(
      (1L, Seq(1.0f, 0.01f)), (2L, Seq(1.0f, 0.02f)), (3L, Seq(1.0f, 0.03f)),
      (4L, Seq(0.01f, 1.0f)), (5L, Seq(0.02f, 1.0f)))
      .toDF("id", "vec")
    // PATHOLOGICAL: one centroid -> every doc lands in cell 0; uncapped,
    // the self-join would consider all C(5,2)=10 pairs in one cell
    val oneCent = Seq((0L, Seq(1.0, 1.0))).toDF("cid", "cvec")
    val uncapped = Dedup.semanticNearDupPairs(corpus, oneCent, 0.9)
    assert(uncapped.count() == 4L) // (1,2)(1,3)(2,3)(4,5) pass cosine>=0.9
    // maxCell below the blown cell's size drops it entirely: zero pairs
    assert(Dedup.semanticNearDupPairs(corpus, oneCent, 0.9, maxCell = 4L)
      .count() == 0L)
    // sane clustering + the same cap: both cells fit, nothing is lost
    val twoCents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    val capped = Dedup.semanticNearDupPairs(corpus, twoCents, 0.9,
        maxCell = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(capped == Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
  }

  test("containmentPairs: asymmetric — subset doc scores 1.0 toward its " +
      "superset, less back; df cap kills pairing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),            // 4 shingles, all inside doc 2
      (2L, "a b c d e f g h"),        // 6 shingles
      (3L, "x y z w")                 // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, col("doc_id"), col("text"),
        n = 3, dfCap = 50L, minCont = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set((1L, 2L), (2L, 1L)))
    assert(got((1L, 2L)) == ((4L, 4L, 1.0)))          // fully contained
    val (sh, szB, contB) = got((2L, 1L))
    assert(sh == 4L && szB == 6L && math.abs(contB - 4.0 / 6.0) < 1e-12)
    // dfCap = 1 drops every shared shingle (each has df 2) -> no pairs
    assert(Dedup.containmentPairs(docs, col("doc_id"), col("text"),
      n = 3, dfCap = 1L, minCont = 0.0).count() == 0L)
  }

  test("rpProject: column projection equals the driver-side rpSign sum; " +
      "l2sq equals the manual fold") {
    import spark.implicits._
    val v = (0 until 64).map(i => (i + 1).toDouble)
    val u = (0 until 64).map(i => (64 - i).toDouble)
    val df = Seq((v, u)).toDF("v", "u")
    val got = df.select(Ann.rpProject(col("v"), 64, 16).as("p"),
        graft.functions.Vectors.l2sq(col("v"), col("u")).as("d"))
      .collect().head
    val p = got.getSeq[Double](0)
    val expected = (0 until 16).map { j =>
      (0 until 64).map(i => v(i) * Ann.rpSign(j, i)).reduce(_ + _)
    }
    assert(p == expected)
    val d = (0 until 64).map(i => (v(i) - u(i)) * (v(i) - u(i))).sum
    assert(got.getDouble(1) == d)
  }

  test("activeSegments: islands merge, boundaries split, silent docs " +
      "are absent") {
    import spark.implicits._
    val en = Seq(
      (1L, 0, 10L), (1L, 1, 90L), (1L, 2, 95L), (1L, 3, 10L),
      (1L, 4, 80L), (1L, 5, 10L),
      (2L, 0, 5L), (2L, 1, 7L))
      .toDF("doc_id", "window_idx", "energy")
    val got = Multimodal.activeSegments(en, threshold = 50L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(1L -> ((2L, 2L, 3L)))) // runs [1,2] and [4]
  }

  test("histogram: exact equi-width bins, max value clamps into the top " +
      "bin, edges self-describe") {
    import spark.implicits._
    val df = (0 to 10).map(_.toDouble).toDF("x")
    val got = Profile.histogram(df, "x", 5)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == Map(
      0 -> ((2L, 0.0, 2.0)), 1 -> ((2L, 2.0, 4.0)), 2 -> ((2L, 4.0, 6.0)),
      3 -> ((2L, 6.0, 8.0)), 4 -> ((3L, 8.0, 10.0)))) // 10.0 clamped
  }

  test("q39 recursive CTE: runs through UnionLoop and matches the " +
      "Hierarchy.flatten closure trace") {
    // level 0 must cover every part key; each level's membership is the
    // nodes still >= 7 after k div-7 steps — replayed here in Scala
    val rows = graft.queries.Relational.q39RecursiveCte(spark, sf)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val keys = graft.Tables.part(spark, sf).select("p_partkey")
      .collect().map(_.getLong(0))
    var anc = keys.map(k => (k, k))
    var lvl = 0
    val exp = scala.collection.mutable.Map.empty[Int,
      (Long, Long, Long)]
    while (anc.nonEmpty) {
      exp(lvl) = ((anc.length.toLong, anc.map(_._1).sum, anc.map(_._2).sum))
      anc = anc.filter(_._2 >= 7).map { case (n, a) => (n, a / 7) }
      lvl += 1
    }
    assert(rows == exp.toMap)
    // the physical plan really is the native recursion, not a rewrite
    val plan = graft.queries.Relational.q39RecursiveCte(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("UnionLoop"))
  }

  test("q40 lateral top-n: <= 3 rows per nation, correct ranking, and " +
      "the decorrelated plan has no nested-loop join") {
    val df = graft.queries.Relational.q40LateralTopN(spark, sf)
    val rows = df.collect()
    val perNation = rows.groupBy(_.getString(0))
    assert(perNation.values.forall(_.length <= 3))
    // replay one nation's expected top-3 from the base table
    val nations = graft.Tables.nation(spark, sf)
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val cust = graft.Tables.customer(spark, sf)
      .select("c_nationkey", "c_custkey", "c_acctbal").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val byNation = cust.groupBy(_._1)
    for ((nk, name) <- nations.take(5)) {
      val exp = byNation.getOrElse(nk, Array.empty)
        .sortBy(c => (-c._3, c._2)).take(3).map(c => (c._2, c._3)).toSeq
      val got = perNation.getOrElse(name, Array.empty)
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(c => (-c._2, c._1))
      assert(got == exp, s"nation $name")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("p10 correlation: matches direct Pearson on the integerized " +
      "columns; perfectly correlated pair gives 1.0") {
    import spark.implicits._
    val rows = graft.queries.Relational.p10Correlation(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.keySet == Set(
      "quantity_price", "quantity_discount", "price_discount"))
    // the synthetic fixture draws the three columns independently, so no
    // sign is guaranteed — but every Pearson value is bounded and finite
    assert(rows.values.forall(v => !v.isNaN && v >= -1.0 && v <= 1.0))
    // exactness check on a constructed frame: y = 2x  =>  corr 1.0
    val li = Seq((1.0, 0.02, 2.0), (2.0, 0.04, 4.0), (3.0, 0.06, 6.0))
      .toDF("l_quantity", "l_discount", "l_extendedprice")
    li.createOrReplaceTempView("p10_exact_test")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = round(col("l_quantity")).cast("long")
    val p = round(col("l_extendedprice") * 100).cast("long")
    val st = li.agg(
      count(lit(1)).cast(d38).as("n"),
      sum(q.cast(d38)).as("sq"), sum(p.cast(d38)).as("sp"),
      sum((q * q).cast(d38)).as("sqq"), sum((p * p).cast(d38)).as("spp"),
      sum((q * p).cast(d38)).as("sqp")).collect()(0)
    def d(i: Int) = st.getDecimal(i).doubleValue()
    val corr = (d(0) * d(5) - d(1) * d(2)) /
      (math.sqrt(d(0) * d(3) - d(1) * d(1)) *
       math.sqrt(d(0) * d(4) - d(2) * d(2)))
    // sqrt(vx)*sqrt(vy) vs sqrt(vx*vy) differ by <= 1 ulp, so allow it
    assert(math.abs(corr - 1.0) < 1e-12)
  }

  test("a15 hamming top-k: bounded agg equals the window form at the " +
      "gate scale") {
    import org.apache.spark.sql.expressions.Window
    val sh = graft.Tables.documents(spark, sf).select(col("doc_id"),
      graft.functions.Hashing.simhash64(
        graft.functions.Text.tokens(col("text"))).as("sh"))
    val q = sh.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("sh").as("qsh"))
    val dist = sh.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        bit_count(col("sh").bitwiseXOR(col("qsh"))).cast("long").as("dist"))
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("doc_id"))
    val windowForm = dist.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("doc_id"), col("dist").cast("int").as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val aggForm = graft.queries.ExtensionQueries
      .a15HammingTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(aggForm == windowForm && aggForm.nonEmpty)
  }

  test("t32 sentence stats: crafted doc — splits on [.!?]+ runs, drops " +
      "blank segments, exact counts") {
    import spark.implicits._
    val docs = Seq((1L, "One two. Three!! Four five six?  "),
        (2L, "...")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("t32_docs")
    // replay the gate's expression tree on the crafted frame
    val segs = docs
      .select(col("doc_id"), explode(split(col("text"), "[.!?]+")).as("seg"))
      .select(col("doc_id"), trim(col("seg")).as("seg"))
      .filter(length(col("seg")) > 0)
      .select(col("doc_id"), col("seg")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(segs.toSet ==
      Set((1L, "One two"), (1L, "Three"), (1L, "Four five six")))
    // doc 2 is punctuation-only: no sentences at all
    assert(!segs.exists(_._1 == 2L))
  }

  test("t31 PMI: a bigram that always co-occurs outranks frequent " +
      "independent pairs on a crafted corpus") {
    import spark.implicits._
    // "aa bb" always adjacent (8x); "cc"/"dd" frequent but never adjacent
    val docs = (1 to 8).map(i =>
      (i.toLong, s"aa bb cc x$i dd cc y$i dd"))
      .toDF("doc_id", "text")
    val uni = docs.select(explode(
        graft.functions.Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val n = uni.agg(sum("c1")).collect()(0).getLong(0)
    val bi = docs.select(explode(graft.functions.ShingleSetExpr
        .shingles(col("text"), 2)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cxy"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val c1 = uni.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ratio(b: String, w1: String, w2: String): Double =
      (bi(b) * n).toDouble / (c1(w1) * c1(w2)).toDouble
    // aa bb: 8 joint over 8*8 marginals; dd cc: 8 joint over 16*16
    assert(ratio("aa bb", "aa", "bb") > ratio("dd cc", "dd", "cc"))
  }

  test("m7 scene cuts: gate output is internally consistent at sf0.001 " +
      "(frames-1 diffs, first_cut only when cuts exist)") {
    val rows = graft.queries.ExtensionQueries.m7SceneCuts(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nf, nc, fc) = (r.getInt(1), r.getInt(2), r.getInt(4))
      assert(nf >= 2)
      assert(nc <= nf - 1)
      assert((nc == 0) == (fc == -1), s"doc ${r.getLong(0)}")
      if (fc != -1) assert(fc >= 1 && fc <= nf - 1)
    }
  }

  test("q41 observe: piggybacked CollectMetrics equal a dedicated " +
      "aggregation pass") {
    val row = graft.queries.Relational.q41Observe(spark, sf).collect()(0)
    val direct = graft.Tables.lineitem(spark, sf).agg(
      count(lit(1)),
      sum(col("l_quantity").cast("decimal(18,2)")).cast("double"),
      count(when(col("l_discount") > 0.05, 1))).collect()(0)
    assert(row.getLong(0) == direct.getLong(0))
    assert(row.getDouble(1) == direct.getDouble(1))
    assert(row.getLong(2) == direct.getLong(2))
    val nGroups = graft.Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 25)
      .select(col("l_returnflag")).distinct().count()
    assert(row.getLong(3) == nGroups)
  }

  test("a16 MIPS: norm-augmentation reduction reproduces the exact " +
      "inner-product ranking through cosine") {
    val e = graft.Tables.embeddings(spark, sf)
    val qs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val mips = Ann.mipsTopK(qs, corpus, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // M^2 = max corpus squared norm (one scalar all-reduce)
    val m2 = corpus
      .select(graft.functions.Vectors.dot(col("vec"), col("vec")).as("n2"))
      .agg(max(col("n2"))).collect()(0).getDouble(0)
    val viaCosine = Ann.bruteForceTopK(
        Ann.augmentMips(qs, "qvec", m2, isQuery = true),
        Ann.augmentMips(corpus, "vec", m2, isQuery = false), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(mips == viaCosine && mips.nonEmpty)
  }

  test("q42 salted agg: equals the one-phase aggregation; the salt " +
      "phase is visible in the plan") {
    val salted = graft.queries.Relational.q42SaltedAgg(spark, sf)
    val got = salted.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val direct = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double"),
        min(col("l_quantity").cast("decimal(18,2)")).cast("double"),
        max(col("l_quantity").cast("decimal(18,2)")).cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == direct)
    // two aggregation phases = two shuffles beyond the final sort
    assert(collectShuffles(salted.queryExecution.executedPlan).size >= 2)
  }

  test("p12 gini: zero for uniform values, (n-1)/n for a single " +
      "concentrated value") {
    import spark.implicits._
    def gini(vals: Seq[Long]): Double = {
      import org.apache.spark.sql.expressions.Window
      val df = vals.zipWithIndex
        .map { case (v, i) => ("t", i.toLong, v) }
        .toDF("event_type", "event_id", "cents")
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))
      df.withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("i") * col("cents")).as("sic"))
        .select(((lit(2L) * col("sic") - (col("n") + 1) * col("s"))
          .cast("double") / (col("n") * col("s")).cast("double")).as("g"))
        .collect()(0).getDouble(0)
    }
    assert(gini(Seq(100L, 100L, 100L, 100L)) == 0.0)
    assert(gini(Seq(0L, 0L, 0L, 400L)) == 0.75) // (n-1)/n, n=4
  }

  test("m8 channel stats: hand-built BMP — padding excluded, channel " +
      "order B/G/R, exact sums") {
    // 2x2, fill cycles 0..5: rowSize=8 (2 pad bytes per row)
    val bmp = Multimodal.buildBmp(2, 2, Array[Byte](0, 1, 2, 3, 4, 5))
    val stats = Multimodal.channelStats(bmp).get
    // row0 bytes: px(0,0)=0,1,2 px(1,0)=3,4,5 pad=0,1; row1 starts at
    // offset 8 in the cycle -> 2,3,4 / 5,0,1, pad
    val exp = Map(
      0 -> ((0L + 3 + 2 + 5), 0, 5), // B: bytes 0,3 / 2,5
      1 -> ((1L + 4 + 3 + 0), 0, 4), // G: bytes 1,4 / 3,0
      2 -> ((2L + 5 + 4 + 1), 1, 5)) // R: bytes 2,5 / 4,1
    stats.foreach { s =>
      val (sum, mn, mx) = exp(s.channel)
      assert(s.n == 4 && s.sum == sum && s.min == mn && s.max == mx,
        s"channel ${s.channel}")
    }
    // non-BMP payload refuses
    assert(Multimodal.channelStats(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("t44 assoc pairMeasures: hand-computed support/confidence/lift, " +
      "top-V frequency cap, floor-division basis points") {
    import spark.implicits._
    val baskets = Seq(
      (1L, "x"), (1L, "y"),
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"),
      (4L, "y")).toDF("basket", "item")
    val got = Assoc.pairMeasures(baskets, topV = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.keySet == Set(("x", "y"), ("x", "z")))
    val xy = got(("x", "y"))
    // n=4, c_x=3, c_y=3, c_xy=2: support 5000, conf 6666 both ways,
    // lift 2*4*10000 // 9 = 8888
    assert(xy.getLong(2) == 4 && xy.getLong(3) == 3 &&
      xy.getLong(4) == 3 && xy.getLong(5) == 2)
    assert(xy.getLong(6) == 5000 && xy.getLong(7) == 6666 &&
      xy.getLong(8) == 6666 && xy.getLong(9) == 8888)
    val xz = got(("x", "z"))
    // c_z=1, c_xz=1: conf z->x = 10000, lift 1*4*10000 // 3 = 13333
    assert(xz.getLong(5) == 1 && xz.getLong(7) == 3333 &&
      xz.getLong(8) == 10000 && xz.getLong(9) == 13333)
    // topV=2 drops the rarest item entirely
    val capped = Assoc.pairMeasures(baskets, topV = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped == Set(("x", "y")))
  }

  test("m18 dropFramesAvi: kept frames byte-identical, rebuilt container " +
      "re-walks, odd counts keep the extra leading frame, composition") {
    import graft.operators.Multimodal
    // 1x1 24bpp frames: rowSize 4, fb 4; 5 frames with distinct fills
    val fill = Array.tabulate[Byte](20)(i => (i * 11 % 251).toByte)
    val avi = Multimodal.buildAvi(1, 1, 5, fill)
    val in = Multimodal.aviFrameSlices(avi)
    assert(in.length == 5)
    val out = Multimodal.dropFramesAvi(avi, 2).get
    val kept = Multimodal.aviFrameSlices(out)
    assert(kept.length == 3) // frames 0, 2, 4 of 5
    for ((fOut, fIn) <- kept.zip(Seq(0, 2, 4).map(in(_)))) {
      val a = java.util.Arrays.copyOfRange(out, fOut._1, fOut._1 + fOut._2)
      val b = java.util.Arrays.copyOfRange(avi, fIn._1, fIn._1 + fIn._2)
      assert(java.util.Arrays.equals(a, b), "kept frame bytes moved")
    }
    // header rebuilt: dims preserved, byte length exact
    assert(Multimodal.aviMainHeaderDims(out) == ((1, 1)))
    assert(out.length == 224 + 3 * (8 + 4))
    // frame clock SLOWED by the stride (not playback sped up): the
    // 25 fps / 40000 µs source rebuilds as dwScale 2 / dwRate 25 =
    // 12.5 fps, dwMicroSecPerFrame 80000
    assert(Multimodal.aviVideoScaleRate(avi).contains((1, 25)))
    assert(Multimodal.aviUsPerFrame(avi) == 40000)
    assert(Multimodal.aviVideoScaleRate(out).contains((2, 25)))
    assert(Multimodal.aviUsPerFrame(out) == 80000)
    // composition: downsample twice == stride 4 on the original —
    // including the header bytes (scale 2 then 2 == scale 4)
    val twice = Multimodal.dropFramesAvi(out, 2).get
    val four = Multimodal.dropFramesAvi(avi, 4).get
    assert(java.util.Arrays.equals(twice, four))
    assert(Multimodal.aviVideoScaleRate(four).contains((4, 25)))
    assert(Multimodal.aviUsPerFrame(four) == 160000)
    // non-AVI refused
    assert(Multimodal.dropFramesAvi(Array[Byte](1, 2, 3), 2).isEmpty)
  }

  test("m11 frameAbsDelta: hand bytes, unsigned-byte wraparound, " +
      "zero on identical frames, length refusal") {
    val a = Array[Byte](0, 10, -1)         // -1 reads as 255 unsigned
    val b = Array[Byte](5, 10, 0)
    // |0-5| + |10-10| + |255-0| = 260
    assert(Multimodal.frameAbsDelta(a, b) == 260L)
    assert(Multimodal.frameAbsDelta(b, a) == 260L) // symmetric
    assert(Multimodal.frameAbsDelta(a, a) == 0L)
    intercept[IllegalArgumentException] {
      Multimodal.frameAbsDelta(a, Array[Byte](1, 2))
    }
  }

  test("m10 cropBmp: exact storage-order window, edge clipping, " +
      "valid output headers, refusal cases") {
    // 3x2 source, fill cycles 0..11: rowSize=12 (3 pad bytes per row);
    // row0 px: (0,1,2)(3,4,5)(6,7,8) pad 9,10,11; row1 restarts the
    // cycle at offset 12 -> same bytes
    val bmp = Multimodal.buildBmp(3, 2,
      Array[Byte](0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11))
    // full-size crop is the identity on pixels
    val full = Multimodal.cropBmp(bmp, 0, 0, 3, 2).get
    assert(Multimodal.bmpPixelChecksum(full) ==
      Multimodal.bmpPixelChecksum(bmp))
    // 1x1 at (1,1): bytes 3,4,5 (row1 repeats the cycle)
    val c11 = Multimodal.cropBmp(bmp, 1, 1, 1, 1).get
    assert(Multimodal.bmpPixelChecksum(c11) == (3 + 4 + 5))
    val hb = java.nio.ByteBuffer.wrap(c11)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(hb.getInt(18) == 1 && hb.getInt(22) == 1 &&
      hb.getShort(28) == 24)
    // a 5x5 request at (2,0) clips to 1x2: column (6,7,8) both rows
    val clipped = Multimodal.cropBmp(bmp, 2, 0, 5, 5).get
    val cb = java.nio.ByteBuffer.wrap(clipped)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(cb.getInt(18) == 1 && cb.getInt(22) == 2)
    assert(Multimodal.bmpPixelChecksum(clipped) == 2L * (6 + 7 + 8))
    // the crop round-trips through the channel-stats decoder
    assert(Multimodal.channelStats(clipped).get.map(_.n).sum == 6)
    // anchor outside the source, or junk payload -> None
    assert(Multimodal.cropBmp(bmp, 3, 0, 1, 1).isEmpty)
    assert(Multimodal.cropBmp(bmp, 0, 2, 1, 1).isEmpty)
    assert(Multimodal.cropBmp(Array[Byte](1, 2, 3), 0, 0, 1, 1).isEmpty)
  }

  test("t33 zipf: rank ordering, ratio and product on a crafted corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    val counts = docs.select(explode(
        graft.functions.Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
  }

  test("pcmPeaks: hand-built WAV — exact peak |sample|, same data walk " +
      "as wavEnergy") {
    import spark.implicits._
    // samples LE: 1000, -3000, 200 (mono 16-bit) -> peak 3000
    val data = Array[Byte](
      (1000 & 0xff).toByte, (1000 >> 8).toByte,
      (-3000 & 0xff).toByte, ((-3000 >> 8) & 0xff).toByte,
      (200 & 0xff).toByte, (200 >> 8).toByte)
    val wav = Multimodal.buildWav(8000, 1, data)
    val media = Seq(Multimodal.MediaRow(7L, wav, "audio/wav", 100)).toDS()
    val got = Multimodal.pcmPeaks(spark, media.toDF()).collect()
    assert(got.length == 1 && got(0).doc_id == 7L && got(0).peak == 3000L)
    // non-WAV payload emits nothing
    val junk = Seq(Multimodal.MediaRow(8L, Array[Byte](1, 2, 3),
      "audio/wav", 100)).toDS()
    assert(Multimodal.pcmPeaks(spark, junk.toDF()).collect().isEmpty)
  }

  test("m27 goertzelEnergy: matched tone dominates an off-bin tone by " +
      "orders of magnitude; recurrence replayed by hand; short last " +
      "window; silence is zero; non-WAV refused") {
    import spark.implicits._
    import graft.operators.Multimodal
    def s16le(vs: Seq[Int]): Array[Byte] = vs.flatMap { v =>
      Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    }.toArray
    val coeff = 31164L // round(2*cos(2*pi*5/100) * 2^14) — bin 5 of 100
    // 100 samples of the EXACT bin-5 tone vs bin-17 (off-bin)
    def tone(cyclesPer100: Int): Seq[Int] = (0 until 100).map(i =>
      math.round(10000 * math.sin(2 * math.Pi * cyclesPer100 * i / 100.0))
        .toInt)
    def run(id: Long, samples: Seq[Int]) = {
      val wav = Multimodal.buildWav(8000, 1, s16le(samples))
      val media = Seq(Multimodal.MediaRow(id, wav, "audio/wav", 100))
        .toDS().toDF()
      Multimodal.goertzelEnergy(spark, media, window = 100, coeff = coeff)
        .collect()
    }
    val on = run(1L, tone(5))
    val off = run(2L, tone(17))
    assert(on.length == 1 && off.length == 1)
    assert(on(0).bin_power > 100L * off(0).bin_power,
      s"on=${on(0).bin_power} off=${off(0).bin_power}: the matched " +
        "bin must dominate")
    // hand replay of the recurrence on a tiny window
    val xs = Seq(1000, -2000, 3000)
    val got = run(3L, xs)(0)
    var s1 = 0L; var s2 = 0L
    xs.foreach { x =>
      val s = x + coeff * s1 / 16384 - s2; s2 = s1; s1 = s
    }
    assert(got.n_samples == 3 && got.s1 == s1 && got.s2 == s2 &&
      got.bin_power == s1 * s1 + s2 * s2 - coeff * s1 * s2 / 16384)
    // 150 samples -> two windows, second short (50)
    val two = run(4L, tone(5) ++ tone(5).take(50))
    assert(two.map(r => (r.window_idx, r.n_samples)).toSeq ===
      Seq((0, 100), (1, 50)))
    // silence -> zero state, zero power
    val sil = run(5L, Seq.fill(20)(0))(0)
    assert(sil.s1 == 0L && sil.s2 == 0L && sil.bin_power == 0L)
    // non-WAV refused
    val junk = Seq(Multimodal.MediaRow(6L, Array[Byte](9, 9),
      "audio/wav", 100)).toDS().toDF()
    assert(Multimodal.goertzelEnergy(spark, junk, 100, coeff)
      .collect().isEmpty)
  }

  test("q43 EXISTS subquery: decorrelated to semi/anti joins — no " +
      "nested loop in the plan; equals the DataFrame form") {
    val df = graft.queries.Relational.q43ExistsSubquery(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val o = graft.Tables.orders(spark, sf)
    val c = graft.Tables.customer(spark, sf)
    val hi = o.filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("c_custkey"))
    val lo = o.filter(col("o_totalprice") < 1000)
      .select(col("o_custkey").as("c_custkey"))
    val exp = c.join(hi, Seq("c_custkey"), "left_semi")
      .join(lo, Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == exp)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("q46 null-safe join: NULL keys match NULL keys; plain equality " +
      "drops them") {
    import spark.implicits._
    val a = Seq(Some(1), None, Some(2)).toDF("k")
    val b = Seq(Some(1), None, None).toDF("kb")
    val nullSafe = a.join(b, a("k") <=> b("kb")).count()
    val plain = a.join(b, a("k") === b("kb")).count()
    assert(nullSafe == 3L) // 1<->1 plus NULL matching two NULLs
    assert(plain == 1L)
    // the gate's NULL group aggregates the null-keyed cross matches
    val rows = graft.queries.Relational.q46NullSafeJoin(spark, sf)
      .collect()
    assert(rows.exists(_.isNullAt(0)), "no NULL-key group in the gate")
  }

  test("q45 scalar subquery: equals the join+agg form; order-less " +
      "customers get 0 not NULL") {
    val got = graft.queries.Relational.q45ScalarSubquery(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byKey = got.map(t => t._1 -> ((t._2, t._3))).toMap
    val agg = graft.Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val custs = graft.Tables.customer(spark, sf)
      .select("c_custkey").collect().map(_.getLong(0))
    custs.foreach { k =>
      assert(byKey(k) == agg.getOrElse(k, (0L, 0.0)), s"custkey $k")
    }
    // 0-not-NULL wing on a crafted pair (every sf0.001 customer has
    // orders, so the fixture can't exercise it)
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("ck", "nm")
      .createOrReplaceTempView("q45_c")
    Seq((1L, 5.0)).toDF("ok", "amt").createOrReplaceTempView("q45_o")
    val crafted = spark.sql("""
      SELECT ck, (SELECT count(*) FROM q45_o WHERE ok = ck) AS n,
        (SELECT coalesce(sum(amt), 0.0) FROM q45_o WHERE ok = ck) AS t
      FROM q45_c ORDER BY ck""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(crafted == Seq((1L, 1L, 5.0), (2L, 0L, 0.0)))
  }

  test("t35 KWIC: snippet window centers on the first hit and clamps " +
      "at the left edge") {
    import spark.implicits._
    val docs = Seq(
      (1L, "filter starts this document and goes on for a while longer"),
      (2L, "a doc where somewhere in the middle a filter term appears " +
        "and text continues after it for quite some time"))
      .toDF("doc_id", "text")
    val got = docs.filter(col("text").contains("filter"))
      .select(col("doc_id"), locate("filter", col("text")).as("pos"),
        col("text"))
      .withColumn("snippet", col("text")
        .substr(greatest(lit(1), col("pos") - 27), lit(60)))
      .select(col("doc_id"), col("pos"), col("snippet"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2))))
      .toMap
    assert(got(1L)._1 == 1)
    assert(got(1L)._2.startsWith("filter starts")) // clamped to 1
    val (p2, s2) = got(2L)
    assert(p2 == 39)
    assert(s2.length == 60 && s2.contains("filter"))
    // centered: the hit sits 27 chars into the unclamped window
    assert(s2.indexOf("filter") == 27)
  }

  test("p15 MAD: hand-computed median and deviation median on a small " +
      "group") {
    import spark.implicits._
    val ev = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0))
      .toDF("event_type", "value")
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val r = ev.join(broadcast(med), "event_type")
      .select(col("med"), abs(col("value") - col("med")).as("dev"))
      .groupBy(col("med"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
      .collect()(0)
    // median of 1,2,3,10 = 2.5; devs 1.5,0.5,0.5,7.5 -> median 1.0
    assert(r.getDouble(0) == 2.5 && r.getDouble(1) == 1.0)
  }

  test("q44 range frame: a gap in the date series shrinks the window " +
      "(value-based, not row-based)") {
    import spark.implicits._
    // days 1,2,3 then a jump to day 20: the trailing-7-day frame at day
    // 20 contains ONLY day 20 (a ROWS 6-preceding frame would not)
    val days = Seq(("2024-01-01", 10), ("2024-01-02", 20),
      ("2024-01-03", 30), ("2024-01-20", 40))
      .toDF("d", "v")
      .select(col("d").cast("date").as("day"), col("v"))
    days.createOrReplaceTempView("q44_gap")
    val got = spark.sql("""
      SELECT day, SUM(v) OVER (ORDER BY day
        RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS s
      FROM q44_gap ORDER BY day""")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got == Map("2024-01-01" -> 10L, "2024-01-02" -> 30L,
      "2024-01-03" -> 60L, "2024-01-20" -> 40L))
  }

  test("p14 CUSUM: argmax |cusum| lands on the level-shift boundary of " +
      "a step series") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 5 days at 10/day then 5 days at 30/day: the shift is after day 5
    val daily = ((1 to 5).map(d => (d, 10L)) ++
      (6 to 10).map(d => (d, 30L))).toDF("day", "n")
    val st = daily.agg(count(lit(1)).as("__d"), sum(col("n")).as("__s"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val top = daily.crossJoin(broadcast(st))
      .withColumn("cusum", sum(col("n") * col("__d") - col("__s")).over(w))
      .select(col("day"), abs(col("cusum")).as("a"))
      .orderBy(col("a").desc, col("day")).limit(1)
      .collect()(0)
    // mean*D = 200; days 1-5 each contribute 10*10-200 = -100 -> the
    // cumulative minimum (|cusum| max = 500) sits exactly at day 5
    assert(top.getInt(0) == 5 && top.getLong(1) == 500L)
  }

  test("t34 readability: hand-counted words/sentences/vowel groups on " +
      "a crafted doc") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat. on a mat!")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("t34_doc")
    val r = docs.select(
      graft.functions.Text.tokenCount(col("text")).cast("long").as("w"),
      size(filter(transform(split(col("text"), "[.!?]+"), x => trim(x)),
        x => length(x) > 0)).cast("long").as("s"),
      regexp_count(col("text"), lit("[aeiouAEIOU]+")).cast("long").as("y"))
      .collect()(0)
    // tokens: the cat sat. on a mat! -> whitespace split = 6
    // sentences: "the cat sat" / "on a mat" = 2
    // vowel groups: e,a,a,o,a,a = 6
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 2L, 6L)))
  }

  test("p13 chi-square: contributions are zero on an exactly " +
      "independent contingency table") {
    import spark.implicits._
    // 2x2 independent: O = R*C/T exactly for all cells
    val ev = (Seq.fill(4)(("a", 0)) ++ Seq.fill(4)(("a", 1)) ++
      Seq.fill(2)(("b", 0)) ++ Seq.fill(2)(("b", 1)))
      .toDF("event_type", "dow")
    val obs = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rows = obs.groupBy("event_type").agg(sum("o").as("r"))
    val cols = obs.groupBy("dow").agg(sum("o").as("c"))
    val tot = obs.agg(sum("o").as("t"))
    val contribs = obs.join(rows, "event_type").join(cols, "dow")
      .crossJoin(tot)
      .select(((col("o") * col("t") - col("r") * col("c")) *
        (col("o") * col("t") - col("r") * col("c"))).cast("double")
        ./((col("t") * col("r") * col("c")).cast("double")).as("x"))
      .collect().map(_.getDouble(0))
    assert(contribs.length == 4 && contribs.forall(_ == 0.0))
  }

  test("p11 benford: digit histogram is exact and flags replay; digits " +
      "cover 1-9 on a synthetic corpus") {
    import spark.implicits._
    val rows = graft.queries.Relational.p11Benford(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9))
    val total = rows.map(_.getLong(1)).sum
    // observed fractions sum to ~1 and each flag is consistent with its
    // own row's numbers
    rows.foreach { r =>
      val obs = r.getLong(1).toDouble / total.toDouble
      val benford = r.getDouble(2)
      assert(r.getBoolean(4) == (math.abs(obs - benford) > 0.02),
        s"digit ${r.getInt(0)}")
    }
  }

  test("url canonicalize: case/www/fragment/trailing-slash/utm variants " +
      "all collapse; surviving params sort; path case is preserved") {
    import spark.implicits._
    val urls = Seq(
      "https://WWW.Example.COM/Path/?utm_source=x&b=2&a=1#frag",
      "HTTPS://example.com/Path?a=1&b=2",
      "https://www.example.com/Path/?b=2&utm_campaign=z&a=1",
      "https://example.com/path?a=1&b=2", // different PATH case: distinct
      "https://example.com") // no path, no query
    val got = urls.toDF("u")
      .select(graft.functions.Text.urlCanonicalize(col("u")))
      .collect().map(_.getString(0)).toSeq
    assert(got(0) == "https://example.com/Path?a=1&b=2")
    assert(got(1) == got(0) && got(2) == got(0))
    assert(got(3) == "https://example.com/path?a=1&b=2" && got(3) != got(0))
    assert(got(4) == "https://example.com")
  }

  test("url canonicalize: scheme-less and relative urls pass through " +
      "unchanged (no shared degenerate key)") {
    import spark.implicits._
    val urls = Seq("example.com/page", "/relative/path?a=1",
      "page.html#frag", "ftp.example.com", "")
    val got = urls.toDF("u")
      .select(graft.functions.Text.urlCanonicalize(col("u")))
      .collect().map(_.getString(0)).toSeq
    // every non-absolute input keeps its own identity — distinct inputs
    // must NOT collapse into one '://'-keyed dedup group
    assert(got == urls)
  }

  test("p17 TVD drift: zero against itself, bounded by 1, and a " +
      "disjoint-support pair scores exactly 1") {
    import spark.implicits._
    // same rows in both slices -> every |na*Nb - nb*Na| term is 0
    val same = Seq.tabulate(40)(i => (2L * i, "x", (i % 7).toDouble)) ++
      Seq.tabulate(40)(i => (2L * i + 1, "x", (i % 7).toDouble))
    val dirSame = graft.Tables.scratchDir("graft-p17-same")
    same.toDF("event_id", "event_type", "value")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(dirSame + "/events.parquet")
    val r = graft.queries.ExtensionQueries.p17HistDrift(spark, dirSame)
      .collect()(0)
    assert(r.getDouble(3) == 0.0 && !r.getBoolean(4))
    // even ids all at low values, odd ids all at high -> no shared bin
    val split = Seq.tabulate(40)(i => (2L * i, "x", 0.0 + (i % 4) * 0.1)) ++
      Seq.tabulate(40)(i => (2L * i + 1, "x", 100.0 + (i % 4) * 0.1))
    val dirSplit = graft.Tables.scratchDir("graft-p17-split")
    split.toDF("event_id", "event_type", "value")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(dirSplit + "/events.parquet")
    val r2 = graft.queries.ExtensionQueries.p17HistDrift(spark, dirSplit)
      .collect()(0)
    assert(r2.getDouble(3) == 1.0 && r2.getBoolean(4))
  }

  test("t39 block extract: nav/ad/footer blocks fall under the length " +
      "floor; both content paragraphs survive in order") {
    val row = graft.queries.ExtensionQueries
      .t39BlockExtract(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") === 0).collect()(0)
    assert(row.getInt(1) == 6) // nav, h1, p, ad, p2, footer
    assert(row.getInt(2) == 2) // only the two content paragraphs
    val text = row.getString(3)
    assert(!text.contains("BUY NOW") && !text.contains("Home") &&
      !text.contains("(c) 2026"))
    // second kept block is the uppercased 80-char prefix, in order
    // the cleaned block is trimmed, so trim the expected prefix too
    val upperStart = text.indexWhere(_.isUpper)
    assert(upperStart > 0 && text.substring(upperStart) ==
      text.substring(0, 80).toUpperCase.trim)
  }

  test("a19 plan: the shortlist reattach is a broadcast join (the corpus " +
      "is never shuffled to meet a result-sized table)") {
    val df = graft.queries.ExtensionQueries.a19MmrRerank(spark, sf)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      "shortlist-vector reattach should broadcast the result-sized side")
    // shuffles: the brute top-k's qid rank window, the per-qid greedy's
    // groupByKey, the final orderBy — nothing corpus-shaped beyond those
    val shuffles =
      collectShuffles(df.queryExecution.executedPlan)
    assert(shuffles.size <= 3, s"unexpected extra shuffles:\n$phys")
  }

  test("t37 plan: one hash shuffle on shard feeds the per-shard greedy " +
      "(plus the gate's display orderBy)") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.Text.tokenCount(col("text")).as("n_tokens"))
    val packed = Sampling.ffdPacking(
      docs, col("doc_id") % 8, col("doc_id"), col("n_tokens"), 256L)
    val shuffles = collectShuffles(packed.queryExecution.executedPlan)
    assert(shuffles.size == 1,
      s"ffdPacking should shuffle exactly once (hash on shard), got " +
        s"${shuffles.size}")
  }

  test("mmr rerank: rank 1 is the pure-relevance pick, a near-duplicate " +
      "of it is deferred behind a diverse lower-relevance candidate") {
    import spark.implicits._
    // candidate b is almost collinear with a (cos ~ 1) but slightly less
    // relevant; c is orthogonal and much less relevant. Pure top-3 orders
    // a, b, c; MMR at lambda=0.7 must order a, c, b: after picking a,
    // b's penalty ~1 crushes its score (.7*.89 - .3*1 = .323) below c's
    // unpenalized .7*.60 = .42.
    val shortlist = Seq(
      (1L, 10L, 0.90, Seq(1.0, 0.0)),
      (1L, 11L, 0.89, Seq(0.999, 0.0447)),
      (1L, 12L, 0.60, Seq(0.0, 1.0))
    ).toDF("qid", "id", "rel", "vec")
    val got = Ann.mmrRerank(shortlist, lambda = 0.7, k = 3)
      .orderBy("mmr_rank")
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((1, 10L), (2, 12L), (3, 11L)))
  }

  test("mmr rerank: k capped by shortlist size and picks are distinct " +
      "per query") {
    import spark.implicits._
    val shortlist = Seq(
      (1L, 10L, 0.9, Seq(1.0, 0.0)), (1L, 11L, 0.8, Seq(0.0, 1.0)),
      (2L, 20L, 0.7, Seq(1.0, 1.0))
    ).toDF("qid", "id", "rel", "vec")
    val got = Ann.mmrRerank(shortlist, lambda = 0.7, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.count(_._1 == 1L) == 2) // only 2 candidates exist
    assert(got.count(_._1 == 2L) == 1)
    assert(got.map(g => (g._1, g._3)).distinct.length == got.length)
  }

  test("mmr rerank: degenerate inputs (zero-norm vectors, NaN rel) " +
      "neither crash nor get selected over finite candidates") {
    import spark.implicits._
    val shortlist = Seq(
      // zero-norm vector: cosine vs anything = 0, must not NaN the run
      (1L, 10L, 0.9, Seq(0.0, 0.0)),
      (1L, 11L, 0.8, Seq(1.0, 0.0)),
      // NaN rel: score is non-finite, never wins the argmax
      (1L, 12L, Double.NaN, Seq(0.0, 1.0)),
      // a query whose ONLY candidate has NaN rel emits nothing (stop,
      // not ArrayIndexOutOfBounds on active(-1))
      (2L, 20L, Double.NaN, Seq(1.0, 1.0))
    ).toDF("qid", "id", "rel", "vec")
    val got = Ann.mmrRerank(shortlist, lambda = 0.7, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.filter(_._1 == 1L).map(_._3).toSet == Set(10L, 11L))
    assert(got.forall(_._1 != 2L))
  }

  test("html strip: boilerplate gone, entities decoded, tag soup " +
      "survives leniently") {
    import spark.implicits._
    val soup = "<html><head><style>p{x:1}</style>" +
      "<script>if (a < b) { s = \"<i>\"; }</script></head>" +
      "<body><!-- 2 < 3 --><DIV CLASS=nav><a href=/x>Nav</a></DIV>" +
      "<p>keep &lt;this&gt; &amp; that&nbsp;too</p>" +
      "<p>maths: 1 < 2 stays</p><br><div class=footer>foot</div>" +
      "<p>unterminated <div tail"
    val got = Seq(soup).toDF("h")
      .select(graft.functions.Text.htmlStrip(col("h")))
      .collect()(0).getString(0)
    // script/style/comment bodies removed wholesale (incl. their '<'s),
    // tags (any case, unquoted attrs) stripped, entities decoded, the
    // literal "1 < 2" preserved, the unterminated trailing tag left as
    // text (lenient: no parse, no error)
    assert(got == "Nav keep <this> & that too maths: 1 < 2 stays foot " +
      "unterminated <div tail")
  }

  test("ffd packing: every bin within capacity, docs never split, " +
      "waste under 5% at gate scale, and FFD beats concat-chunk on " +
      "truncation") {
    // sf0.01: enough docs per shard (~62) that the per-shard tail bin
    // amortizes — the waste bound the verdict asked to gate
    val cap = 256L
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"),
        graft.functions.Text.tokenCount(col("text")).as("n_tokens"))
    val packed = Sampling.ffdPacking(
      docs, col("doc_id") % 8, col("doc_id"), col("n_tokens"), cap)
    val rows = packed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // each doc appears exactly once (never split across bins)
    assert(rows.map(_._1).distinct.length == rows.length)
    val byBin = rows.groupBy(r => (r._2, r._4))
      .map { case (k, g) => (k, g.map(_._3).sum) }
    // no bin over capacity (all docs here are < cap, so no oversize bins)
    assert(byBin.values.forall(_ <= cap), s"bin over capacity")
    // bin ids dense from 0 per shard
    rows.groupBy(_._2).foreach { case (_, g) =>
      val ids = g.map(_._4).distinct.sorted.toSeq
      assert(ids == (0L until ids.length).map(identity))
    }
    val total = rows.map(_._3).sum.toDouble
    val waste = 1.0 - total / (byBin.size * cap)
    assert(waste <= 0.05, f"padding waste $waste%.4f exceeds 5%%")
    // vs t8's concat-then-chunk at the same capacity: chunking splits
    // documents mid-sequence; FFD's whole-doc guarantee costs only the
    // padding measured above
    val chunked = Sampling.packingLayout(docs, col("doc_id") % 8,
      col("doc_id"), col("n_tokens"), cap.toInt)
    val nSplit = chunked.filter(col("spans_boundary")).count()
    assert(nSplit > 0, "fixture too small to exercise the comparison")
  }

  test("ffd packing: an oversize item opens its own bin and never " +
      "receives a second item") {
    import spark.implicits._
    val df = Seq((0L, 1L, 700L), (0L, 2L, 100L), (0L, 3L, 100L),
      (0L, 4L, 50L)).toDF("shard", "doc_id", "n_tokens")
    val packed = Sampling.ffdPacking(df, col("shard"), col("doc_id"),
        col("n_tokens"), 256L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // longest-first: doc 1 (700) opens bin 0 with negative remaining;
    // 100+100+50 pack together into bin 1 (remaining 56 >= 50)
    assert(packed == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("t41 corpus pipeline: every stage genuinely attrits, the audit " +
      "is monotone, every budget survivor is packed exactly once, and " +
      "no bin exceeds capacity") {
    val out = graft.queries.ExtensionQueries
      .t41CorpusPipeline(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val a = out.head
    val counts = Seq("n_input", "n_quality", "n_url", "n_content",
      "n_quota", "n_budget").map(c => a.getLong(a.fieldIndex(c)))
    // strictly decreasing: the fixture exercises EVERY stage (a stage
    // with zero attrition is a stage the gate is not actually testing)
    assert(counts.zip(counts.tail).forall { case (x, y) => x > y },
      s"stage counts not strictly decreasing: $counts")
    // the packed set IS the budget-mix survivor set, each doc once
    assert(out.length == counts.last.toInt)
    val ids = out.map(_.getLong(a.fieldIndex("doc_id")))
    assert(ids.distinct.length == ids.length)
    // packing invariant holds through the composed chain
    val byBin = out.groupBy(r => (r.getLong(a.fieldIndex("shard")),
        r.getLong(a.fieldIndex("bin_id"))))
      .map { case (k, g) =>
        (k, g.map(_.getLong(a.fieldIndex("n_tokens"))).sum) }
    assert(byBin.values.forall(_ <= 256L), "bin over capacity")
  }

  test("three-way merge: all four MERGE outcomes on a crafted snapshot " +
      "(update takes source values, insert lands, kept survives, " +
      "not-matched-by-source delete fires only on its condition)") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", -5.0), (3L, "c", 7.0))
      .toDF("k", "name", "bal")
    // k=1 matched (update), k=4 source-only (insert); k=2 base-only with
    // bal<0 (deleted), k=3 base-only with bal>=0 (kept)
    val src = Seq((1L, "a2", 99.0), (4L, "d", 1.0))
      .toDF("k", "name", "bal")
    val out = Merge.threeWayMerge(base, src, "k",
        deleteWhen = col("bal") < 0)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(out == Set(
      (1L, "a2", 99.0, "updated"),
      (3L, "c", 7.0, "kept"),
      (4L, "d", 1.0, "inserted")))
    // delete clause must NOT touch matched rows: a matched negative row
    // updates, it does not vanish
    val out2 = Merge.threeWayMerge(base, src.union(
        Seq((2L, "b2", -50.0)).toDF("k", "name", "bal")), "k",
        deleteWhen = col("bal") < 0)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(out2(2L) == "updated")
    // SQL NULL semantics: a NULL deleteWhen (null bal) must KEEP the
    // row (only TRUE deletes), and NULL keys never match — a NULL-key
    // base row is kept, a NULL-key source row is INSERTED with its
    // values intact, as two separate rows
    val baseN = Seq((java.lang.Long.valueOf(1L), "a", java.lang.Double.valueOf(1.0)),
      (null.asInstanceOf[java.lang.Long], "bn", null.asInstanceOf[java.lang.Double]))
      .toDF("k", "name", "bal")
    val srcN = Seq((null.asInstanceOf[java.lang.Long], "sn", java.lang.Double.valueOf(9.0)))
      .toDF("k", "name", "bal")
    val out3 = Merge.threeWayMerge(baseN, srcN, "k",
        deleteWhen = col("bal") < 0)
      .collect().map(r => (Option(r.get(0)), r.getString(1),
        Option(r.get(2)), r.getString(3))).toSet
    assert(out3 == Set(
      (Some(1L), "a", Some(1.0), "kept"),
      (None, "bn", None, "kept"),      // null bal => null condition => keep
      (None, "sn", Some(9.0), "inserted")))
  }

  test("p18 EWMA: the dyadic recurrence ewma_d == cents_d + ewma_{d-1}/2 " +
      "holds EXACTLY (==, not approx) on consecutive days — the " +
      "integer-scaled sum is bit-exact, not a float approximation") {
    val out = graft.queries.ExtensionQueries
      .p18Ewma(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val s = rows.sortBy(_._2.toEpochDay)
      val first = s.head._2.toEpochDay
      assert(s.head._4 == s.head._3.toDouble) // first day: ewma == cents
      s.sliding(2).foreach {
        // the pure recurrence only holds while nothing falls off the
        // 30-day horizon: past day first+30 the true identity gains a
        // -c_{d-31}/2^31 truncation term, so guard on the span (the
        // current fixture spans 30 days; a longer fixture must not turn
        // this exact-FP assertion into a false alarm)
        case Array((_, d1, _, e1), (_, d2, c2, e2))
            if d2.toEpochDay == d1.toEpochDay + 1 &&
              d2.toEpochDay - first <= 30 =>
          assert(e2 == c2.toDouble + e1 / 2.0,
            s"recurrence broken at $d2: $e2 != $c2 + $e1/2")
        case _ => ()
      }
    }
  }

  test("z3 pruning profile: both space-filling layouts strictly prune " +
      "the box query while the unsorted stripes read everything") {
    val rows = graft.queries.ExtensionQueries
      .z3PruningProfile(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("hilbert", "zorder", "unsorted"))
    val (nf, unsortedHit) = rows("unsorted")
    assert(rows.values.forall(_._1 == nf), "same file count per layout")
    assert(unsortedHit == nf,
      "unsorted files stripe the whole domain — all must hit")
    Seq("hilbert", "zorder").foreach { l =>
      assert(rows(l)._2 < unsortedHit,
        s"$l failed to prune anything vs unsorted")
      assert(rows(l)._2 > 0,
        s"$l pruned the populated box away — bbox logic suspect")
    }
  }

  test("a26 nprobe curve: recall is monotone non-decreasing in probe " +
      "depth and the curve genuinely moves on this fixture") {
    val rows = graft.queries.ExtensionQueries
      .a26NprobeCurve(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3),
        r.getBoolean(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4))
    assert(rows.forall(_._4), s"monotone_ok violated: ${rows.toSeq}")
    assert(rows.sliding(2).forall { case Array(a, b) => b._2 >= a._2 },
      "hits must be non-decreasing in nprobe (candidate superset)")
    assert(rows.last._3 > rows.head._3,
      "widening probes never helped — probe routing is suspect")
  }

  test("q49 erasure: the cascade is genuinely exercised (forgotten " +
      "customers own orders and line items) and the re-read snapshots " +
      "carry zero forget-set references") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Relational.q49Erasure(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set("customer", "orders", "lineitem"))
    rows.foreach { case (t, (nb, np, na, res)) =>
      assert(nb == np + na, s"$t: before != purged + after")
      assert(res == 0L, s"$t: residual forget-set references survive")
      assert(np > 0L,
        s"$t: cascade not exercised — fixture has no $t rows to purge")
    }
    // cross-table consistency: purged orders must equal the orders the
    // forgotten customers own, recomputed independently
    val forgetOrders = graft.Tables.orders(spark, sf)
      .join(graft.Tables.customer(spark, sf)
        .filter(col("c_custkey") % 29 === 3)
        .select(col("c_custkey").as("o_custkey")), Seq("o_custkey"),
        "left_semi").count()
    assert(rows("orders")._2 == forgetOrders)
  }

  test("p24 Benford: constants sum to exactly 10000, all nine digits " +
      "surface, counts reconcile with the corpus, shares are floor-bp") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.ExtensionQueries
      .p24Benford(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(out.map(_._1).toSeq == (1 to 9))
    assert(out.map(_._4).sum == 10000L, "expected-bp constants must sum")
    val total = out.map(_._2).sum
    val positives = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select((col("value").cast("decimal(18,2)") * 100).cast("long")
        .as("c"))
      .filter(col("c") > 0).count()
    assert(total == positives, "every positive amount lands in a bucket")
    out.foreach { case (_, n, share, _, dev) =>
      assert(share == n * 10000L / total) // floor semantics
      assert(dev >= 0)
    }
    // floor shares undershoot by at most 9 in total
    assert(out.map(_._3).sum > 10000L - 10 && out.map(_._3).sum <= 10000L)
  }

  test("d21 quality keeper: the election genuinely diverges from " +
      "keep-first, and every keeper's quality dominates its cluster's " +
      "min-id member (strictly when they differ)") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.ExtensionQueries
      .d21QualityKeeper(spark, "/root/testdata/sf0.001")
    // corpus quality, recrawl twins included (same construction as the
    // gate)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val corpus = docs.union(docs.select(
      (col("doc_id") + 1000000).as("doc_id"), col("text")))
    val q = corpus.select(col("doc_id"),
      graft.functions.Text.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).toSeq
    assert(rows.nonEmpty)
    // cluster_id IS the component's min member id (min-label
    // propagation), so keeper != cluster_id means the quality election
    // overrode keep-first — it must happen somewhere on this fixture,
    // or the gate degenerates into d11's rule
    assert(rows.exists { case (cid, n, kid, _) => n > 1 && kid != cid },
      "election never diverged from keep-first on this fixture")
    rows.foreach { case (cid, _, kid, kq) =>
      assert(kq == q(kid), s"keeper_q mismatch for $kid")
      if (kid == cid) assert(rows.nonEmpty) // trivially consistent
      else assert(kq > q(cid),
        s"cluster $cid: keeper $kid ($kq) must STRICTLY beat the " +
          s"min-id member (${q(cid)}) — ties break to the smaller id")
    }
  }

  test("p23 autocorr: the gate's exact-integer centering reproduces the " +
      "textbook r_k from an independent BigInt reference, |r| <= 1, " +
      "n_pairs = n - k") {
    import org.apache.spark.sql.functions._
    val daily = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(col("ts").cast("date").as("d"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("x"))
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay,
        r.getLong(1))).sortBy(_._1)
    val n = daily.length
    val s = daily.map(_._2).map(BigInt(_)).sum
    val y = daily.map { case (d, x) => d -> (BigInt(n) * x - s) }.toMap
    val den = y.values.map(v => v * v).sum
    def ref(k: Int): (Long, Double) = {
      val pairs = daily.flatMap { case (d, _) =>
        y.get(d + k).map(yk => y(d) * yk) }
      (pairs.length.toLong,
        pairs.sum.doubleValue / den.doubleValue)
    }
    val got = graft.queries.ExtensionQueries
      .p23Autocorr(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(_._1) == Seq(1, 7))
    got.foreach { case (k, nPairs, r) =>
      val (wantN, wantR) = ref(k)
      assert(nPairs == wantN && nPairs == n - k)
      // both sides divide the SAME exact integers cast to double, so
      // equality is exact, not approximate
      assert(r == wantR, s"lag $k: $r != $wantR")
      assert(math.abs(r) <= 1.0) // Cauchy-Schwarz
    }
  }

  test("s25 streaming curation: the quality floor genuinely attrits " +
      "in-flight, arm windows never leak into the readout, and window " +
      "totals account exactly for the passing sample docs") {
    val out = graft.queries.ExtensionQueries
      .s25StreamCuration(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val sample = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") % 4 === 0)
    val nSample = sample.count()
    val nPass = sample.filter(
      graft.functions.Text.qualityScore(col("text")) >= 0.3).count()
    val emitted = out.map(_.getLong(2)).sum
    assert(emitted == nPass, s"window totals $emitted != passing $nPass")
    assert(nPass < nSample, "quality floor dropped nothing — gate inert")
    // arm rows ride 30 days out; every emitted window is within the
    // sample's own time span (readout bound holds)
    val spanEnd = 1704067200L + 1000000L // epoch + generous sample bound
    assert(out.forall(_.getTimestamp(0).getTime / 1000 < spanEnd))
  }

  test("a20 RAG pipeline: 5 picks per query, greedy MMR scores " +
      "non-increasing, and — because sibling chunks share the parent " +
      "embedding — every pick from a DISTINCT parent document") {
    val out = graft.queries.ExtensionQueries
      .a20RagPipeline(spark, "/root/testdata/sf0.001").collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5),
        s"qid $q ranks not 1..5")
      // greedy argmax: penalties only grow, so each step's winning
      // score is <= the previous step's
      val scores = sorted.map(_.getDouble(4)).toSeq
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y },
        s"qid $q mmr scores not non-increasing: $scores")
      // the diversity contract MMR exists for: five distinct parents
      val parents = sorted.map(_.getLong(2) / 1000L).distinct
      assert(parents.length == 5,
        s"qid $q picked sibling chunks of one document: $parents")
    }
  }

  test("t47 gopher rules: every rule reconstructs from raw text, n_fail " +
      "and keep are consistent, and wc/stopword rules genuinely " +
      "discriminate on the fixture") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.ExtensionQueries
      .t47GopherRules(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getInt(6),
        r.getBoolean(7)))
    val texts = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == texts.size)
    val stops = Set("the", "a", "an", "of", "and", "to", "in", "is",
      "it", "that")
    out.foreach { case (id, wc, rWc, rMwl, rStop, rRep, nFail, keep) =>
      val toks = texts(id).split(" ", -1).toSeq
      assert(wc == toks.length, s"doc $id wc")
      assert(rWc == (wc >= 30 && wc <= 50000), s"doc $id r_wc")
      val sumChars = toks.map(_.length).sum
      assert(rMwl == (sumChars >= 3 * wc && sumChars <= 10 * wc),
        s"doc $id r_mwl")
      assert(rStop == (toks.distinct.count(stops) >= 2), s"doc $id r_stop")
      val sh = if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      val rep = if (sh.isEmpty) 0.0
        else BigDecimal(1.0 - sh.distinct.length.toDouble / sh.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rRep == (rep <= 0.2), s"doc $id r_rep")
      assert(nFail == Seq(rWc, rMwl, rStop, rRep).count(!_), s"doc $id")
      assert(keep == (nFail == 0), s"doc $id keep")
    }
    // independent-rule diagnosis only means something if rules fire
    assert(out.exists(!_._3) && out.exists(_._3), "r_wc never splits")
    assert(out.exists(!_._5) && out.exists(_._5), "r_stop never splits")
  }

  test("p25 key discovery: declared PKs verify as keys, known non-keys " +
      "fail, and excess/uniqueness arithmetic is exact") {
    val out = graft.queries.Relational
      .p25KeyDiscovery(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6))).toMap
    assert(out.size == 8)
    assert(out(("orders", "o_orderkey"))._5, "o_orderkey is the PK")
    assert(out(("customer", "c_custkey"))._5, "c_custkey is the PK")
    // the synthetic fixture does NOT honor TPC-H's composite lineitem
    // PK — (l_orderkey, l_linenumber) has duplicate tuples — and the
    // profiler's job is to DISCOVER that, not assume the spec sheet
    assert(!out(("lineitem", "l_orderkey,l_linenumber"))._5,
      "fixture fact: the composite is not unique here")
    assert(!out(("lineitem", "l_orderkey"))._5,
      "l_orderkey alone cannot be a key")
    assert(out(("lineitem", "l_orderkey,l_linenumber"))._4 >
      out(("lineitem", "l_orderkey"))._4,
      "adding a column must raise uniqueness")
    assert(!out(("customer", "c_nationkey"))._5)
    val nOrders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .count()
    out.foreach { case ((tbl, cand), (n, d, ex, bp, isKey)) =>
      assert(ex == n - d, s"$tbl/$cand excess")
      assert(bp == d * 10000L / n, s"$tbl/$cand bp floor")
      assert(isKey == (ex == 0L), s"$tbl/$cand verdict")
      if (tbl == "orders") assert(n == nOrders)
    }
  }

  test("q50 fk audit: the intact fixture pins every orphan at zero, " +
      "parent counts match the tables, and the lineitem->orders edge " +
      "reconciles against an independent distinct-key count") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val out = graft.queries.Relational.q50FkAudit(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out.size == 7)
    out.foreach { case (e, (nc, orph, nref, np, covBp, orphBp)) =>
      assert(orph == 0L, s"$e orphan rows on an intact schema")
      assert(orphBp == 0L, s"$e orphan bp")
      assert(nref <= np, s"$e cannot reference more parents than exist")
      assert(covBp == nref * 10000L / np, s"$e coverage floor")
    }
    val li = graft.Tables.lineitem(spark, d)
    val e = out("lineitem.l_orderkey->orders.o_orderkey")
    assert(e._1 == li.count())
    assert(e._3 == li.select(countDistinct(col("l_orderkey"))).head
      .getLong(0))
    assert(e._4 == graft.Tables.orders(spark, d).count())
    assert(out("customer.c_nationkey->nation.n_nationkey")._6 == 0L)
  }

  test("g11 modularity: hand graph — two triangles and a bridge — " +
      "yields the textbook per-community numerators, and the gate's " +
      "decomposition is internally consistent") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("id", "lab")
    val parts = Graph.modularityParts(edges, labels).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // m = 7 undirected edges, u_tot = 14; each triangle community:
    // degrees 2+2+3 = 7, intra2 = 6, q_num = 6*14 - 49 = 35
    assert(parts.keySet == Set(1L, 4L))
    parts.values.foreach { case (nNodes, degSum, intra2, uTot, qNum) =>
      assert(nNodes == 3L); assert(degSum == 7L); assert(intra2 == 6L)
      assert(uTot == 14L); assert(qNum == 35L)
    }
    // Q = 70/196 ~ 0.357 — communities are real, well inside (0, 1]
    val out = graft.queries.ExtensionQueries
      .g11Modularity(spark, sf).collect()
    val uTot = out.head.getLong(4)
    assert(out.forall(_.getLong(4) == uTot), "u_tot is a global")
    val q = out.map(_.getLong(5)).sum.toDouble / (uTot.toDouble * uTot)
    assert(q > -1.0 && q <= 1.0, s"modularity $q outside its range")
    // every community's intra edges are bounded by its degree mass
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2),
        "intra2 cannot exceed deg_sum")
    }
  }

  test("m14 grayscale: gate rows reconstruct from the blob-fill formula " +
      "independently (luma, extremes, histogram), and the decoder " +
      "refuses non-BMP bytes") {
    import org.apache.spark.sql.functions._
    assert(Multimodal.bmpLuminance("RIFFxxxxWAVE".getBytes).isEmpty)
    val rows = graft.queries.ExtensionQueries
      .m14GrayHist(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9))).toMap
    val texts = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == texts.keySet)
    texts.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val w = bytes.length % 31 + 1
      val h = (id % 7 + 1).toInt
      val rowSize = ((3 * w + 3) / 4) * 4
      var sum = 0L; var mn = 255; var mx = 0
      val hist = new Array[Long](4)
      for (y <- 0 until h; x <- 0 until w) {
        def b(c: Int) = bytes((y * rowSize + x * 3 + c) % bytes.length) & 0xff
        val lum = (299 * b(2) + 587 * b(1) + 114 * b(0)) / 1000
        sum += lum; mn = math.min(mn, lum); mx = math.max(mx, lum)
        hist(lum / 64) += 1
      }
      val (np, ls, lmn, lmx, h0, h1, h2, h3, bp) = rows(id)
      assert(np == w.toLong * h, s"doc $id n_pixels")
      assert(ls == sum, s"doc $id lum_sum")
      assert(lmn == mn && lmx == mx, s"doc $id extremes")
      assert(Seq(h0, h1, h2, h3) == hist.toSeq, s"doc $id histogram")
      assert(h0 + h1 + h2 + h3 == np, s"doc $id histogram total")
      assert(bp == sum * 10000L / np, s"doc $id mean bp")
    }
  }

  test("t48 ngram novelty: every row reconstructs from a first-principles " +
      "first-occurrence election over the corpus, and novelty is total " +
      "over documents") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val firstDoc = scala.collection.mutable.Map[String, Long]()
    val gramsByDoc = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val grams = if (toks.length < 3) Set.empty[String]
        else toks.sliding(3).map(_.mkString(" ")).toSet
      grams.foreach(g => if (!firstDoc.contains(g) || firstDoc(g) > id)
        firstDoc(g) = id)
      id -> grams
    }.toMap
    val out = graft.queries.ExtensionQueries
      .t48NgramNovelty(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out.keySet == gramsByDoc.keySet, "novelty must be total")
    gramsByDoc.foreach { case (id, grams) =>
      val (ng, nn, bp) = out(id)
      assert(ng == grams.size, s"doc $id n_grams")
      val novel = grams.count(g => firstDoc(g) == id)
      assert(nn == novel, s"doc $id n_novel")
      assert(bp == (if (ng == 0) 0L else novel * 10000L / ng),
        s"doc $id bp")
    }
    // doc 0 is all-novel by construction; SOME later doc must repeat a
    // gram or the novelty signal is vacuous on this fixture
    assert(out(docs.head._1)._3 == 10000L, "first doc is all-novel")
    assert(out.values.exists(_._3 < 10000L),
      "no doc ever repeated a gram — fixture cannot exercise novelty")
  }

  test("a27 ivf delete: no forgotten id survives anywhere in the purged " +
      "postings, survivors' cell assignments are untouched, and the " +
      "audit counts reconcile") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.ExtensionQueries.a27IvfDelete(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val forget = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 17 === 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(forget.nonEmpty, "fixture must have a non-empty forget set")
    out.foreach { r =>
      assert(!forget.contains(r.getLong(2)),
        s"forgotten vector ${r.getLong(2)} answered a query")
      assert(!r.getBoolean(4), "forgotten flag must be false everywhere")
    }
    val nDeleted = out.head.getLong(5)
    assert(nDeleted == forget.size,
      "every forget id had exactly one posting to delete")
    assert(out.head.getLong(7) <= out.head.getLong(6),
      "affected cells bounded by cell count")
    // rebuild both indexes the gate's way: purged == full minus forget,
    // with IDENTICAL cell assignment for every survivor
    val e = graft.Tables.embeddings(spark, sf)
    val cents = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val full = Ann.ivfIndex(
      e.select(col("vec_id").as("id"), col("embedding").as("vec")), cents)
      .select(col("cid"), col("id")).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val survivors = full.filterNot { case (id, _) => forget.contains(id) }
    assert(survivors.size == full.size - forget.size)
    // per-row assignment independence: purging cannot move a survivor
    val purgedAsg = Ann.ivfIndex(
      e.filter(col("vec_id") % 17 =!= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec")), cents)
      .select(col("cid"), col("id")).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(purgedAsg == survivors,
      "deleting rows must not re-assign any surviving vector")
  }

  test("m15 shard manifest: byte ranges tile each shard file exactly — " +
      "contiguous from zero, non-overlapping, capacity-respecting — and " +
      "every size matches the real blob") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.ExtensionQueries
      .m15ShardManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.length == 500)
    val realSizes = Multimodal.attachBlobs(
        graft.Tables.documents(spark, sf), frameSize = 100)
      .select(col("doc_id"), length(col("media")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, _, nb, _, _, _, fits) =>
      assert(nb == realSizes(id), s"doc $id manifest size vs real blob")
      assert(fits, s"doc $id placement broke capacity")
    }
    rows.groupBy { case (_, sh, _, bin, _, _, _) => (sh, bin) }
      .foreach { case ((sh, bin), members) =>
        val sorted = members.sortBy { case (id, _, nb, _, _, _, _) =>
          (-nb, id) }
        // FFD placement order IS the file order: offsets tile from 0
        var expect = 0L
        sorted.foreach { case (id, _, nb, _, off, sb, _) =>
          assert(off == expect, s"doc $id offset gap in shard $sh/$bin")
          expect += nb
          assert(sb == members.map(_._3).sum, "shard_bytes per member")
        }
        assert(expect <= 4096 || members.length == 1,
          s"shard $sh/$bin overfilled with ${members.length} members")
      }
    // FFD cannot beat the volume lower bound, and must be near it
    rows.groupBy(_._2).foreach { case (sh, ms) =>
      val bins = ms.map(_._4).distinct.length
      val lower = (ms.map(_._3).sum + 4095) / 4096
      assert(bins >= lower.toInt, s"shard $sh bin count below volume")
    }
  }

  test("p26 ab test: the 2x2 reconstructs from raw events, bp floors " +
      "hold, and the integer chi-square verdict equals an exact BigInt " +
      "evaluation of the same inequality") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.ExtensionQueries.p26AbTest(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(out.keySet == Set(0L, 1L))
    val perUser = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("np"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byArm = perUser.groupBy(_._1 % 2)
    val a = byArm(1L).count(_._2 >= 14).toLong
    val b = byArm(1L).size - a
    val c = byArm(0L).count(_._2 >= 14).toLong
    val d = byArm(0L).size - c
    assert(out(1L)._1 == a + b && out(1L)._2 == a)
    assert(out(0L)._1 == c + d && out(0L)._2 == c)
    assert(out(1L)._3 == a * 10000 / (a + b))
    assert(out(0L)._3 == c * 10000 / (c + d))
    val lift = a * 10000 / (a + b) - c * 10000 / (c + d)
    assert(out.values.forall(_._4 == lift), "lift rides both rows")
    val det = BigInt(a * d) - BigInt(b * c)
    val lhs = BigInt(a + b + c + d) * det * det * 10000
    val rhs = BigInt(38415) * BigInt(a + b) * BigInt(c + d) *
      BigInt(a + c) * BigInt(b + d)
    assert(out.values.forall(_._5 == (lhs >= rhs)),
      "chi-square verdict diverged from the exact inequality")
    assert(a > 0 && b > 0 && c > 0 && d > 0,
      "fixture must keep all four 2x2 cells live")
  }

  test("g12 degree histogram: buckets reconstruct from first-principles " +
      "degrees, extremes sit inside their power-of-two range, and " +
      "shares account for every node") {
    val out = graft.queries.ExtensionQueries.g12DegreeHist(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.nonEmpty)
    // independent degree recount over the same derived simple graph
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    val n = docs.length.toLong
    def h32(x: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      BigInt(md.digest(x.getBytes("UTF-8")).take(4).map("%02x".format(_))
        .mkString, 16).toLong
    }
    val und = scala.collection.mutable.Set[(Long, Long)]()
    docs.foreach { id =>
      val s0 = math.floorMod(h32(id.toString), n)
      (0 to 2).foreach { k =>
        val d0 = math.floorMod(h32(s"$id:$k"), n)
        if (s0 != d0) { und += ((s0, d0)); und += ((d0, s0)) }
      }
    }
    val deg = und.toSeq.groupBy(_._1).map { case (_, es) => es.size }
    val expect = deg.groupBy(d => 63 - java.lang.Long
        .numberOfLeadingZeros(d.toLong))
      .map { case (bkt, ds) => bkt.toInt ->
        (ds.size.toLong, ds.min.toLong, ds.max.toLong) }
    assert(out.map(_._1).toSet == expect.keySet)
    out.foreach { case (bkt, lo, hi, nn, dmin, dmax, share) =>
      val (en, emin, emax) = expect(bkt)
      assert(nn == en && dmin == emin && dmax == emax, s"bucket $bkt")
      assert(lo == (1L << bkt) && hi == (1L << (bkt + 1)) - 1)
      assert(dmin >= lo && dmax <= hi, s"bucket $bkt extremes escaped")
      assert(share == nn * 10000L / deg.size)
    }
    assert(out.map(_._4).sum == deg.size.toLong, "buckets partition nodes")
  }

  test("d22 lsh sweep: recall is monotone in band width, volume is " +
      "monotone in permissiveness, the 8x1 config catches every planted " +
      "twin, and caught pairs are real candidates") {
    val out = graft.queries.ExtensionQueries.d22LshSweep(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._2)
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((8, 1), (4, 2), (2, 4)))
    // the S-curve: stricter banding can only lose recall and volume
    assert(out(0)._4 >= out(1)._4 && out(1)._4 >= out(2)._4,
      "candidate volume must shrink as rows tighten")
    assert(out(0)._5 >= out(1)._5 && out(1)._5 >= out(2)._5,
      "recall must shrink as rows tighten")
    // 8x1 ORs eight independent hashes: half-overlap twins are caught
    // with overwhelming probability — recall 100% on this fixture
    assert(out(0)._5 == 100L && out(0)._7 == 10000L,
      "the permissive config should catch every planted twin")
    // the sweep only means something if the strict end genuinely loses
    assert(out(2)._5 < 100L, "4-row banding lost nothing — planted " +
      "twins are too similar to exercise the curve")
    out.foreach { case (_, _, _, nc, caught, planted, bp) =>
      assert(caught <= nc && caught <= planted)
      assert(bp == caught * 10000L / planted)
    }
  }

  test("m24 rotateBmp: hand 2x3 quarter-turn pixel map, four turns " +
      "reproduce the source byte-for-byte, a Wx1 row becomes a 1xW " +
      "column, refusal on non-BMP") {
    import graft.operators.Multimodal
    // 2 wide, 3 high (storage rows bottom-up); pixel (x, j) carries
    // value 10*j + x on all three channels; stride 8 = 6 px + 2 pad
    val bytes = Array.tabulate[Byte](24) { i =>
      val j = i / 8; val k = i % 8
      if (k >= 6) 0 else (10 * j + k / 3).toByte
    }
    val bmp = Multimodal.buildBmp(2, 3, bytes)
    val r = Multimodal.rotateBmp(bmp).get
    val rb = java.nio.ByteBuffer.wrap(r)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(rb.getInt(18) == 3 && rb.getInt(22) == 2, "dims swap")
    // dst(x', j') = src(W-1-j', x'): value 10*x' + (1 - j')
    val px = (x: Int, j: Int) => r(54 + j * 12 + 3 * x) & 0xff
    assert(Seq(px(0, 0), px(1, 0), px(2, 0)) == Seq(1, 11, 21))
    assert(Seq(px(0, 1), px(1, 1), px(2, 1)) == Seq(0, 10, 20))
    // content invariant, position moved
    assert(Multimodal.bmpPixelChecksum(r) ==
      Multimodal.bmpPixelChecksum(bmp))
    assert(Multimodal.bmpWeightedChecksum(r) !=
      Multimodal.bmpWeightedChecksum(bmp))
    // four quarter-turns are the identity, byte-for-byte
    val r4 = (1 to 4).foldLeft(bmp)((b, _) => Multimodal.rotateBmp(b).get)
    assert(java.util.Arrays.equals(r4, bmp))
    // 4x1 row -> 1x4 column: bottom dst row holds the RIGHTMOST
    // source pixel (dst(0, j') = src(3 - j', 0))
    val row = Multimodal.buildBmp(4, 1,
      Array[Byte](1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4))
    val col = Multimodal.rotateBmp(row).get
    val cb = java.nio.ByteBuffer.wrap(col)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(cb.getInt(18) == 1 && cb.getInt(22) == 4)
    assert((0 until 4).map(j => col(54 + j * 4) & 0xff) ==
      Seq(4, 3, 2, 1))
    assert(Multimodal.rotateBmp("not a bmp".getBytes("UTF-8")).isEmpty)
  }

  test("d24 sortedNeighborhoodPairs: pairs are exactly the rank-window " +
      "successors in (key, id) order, ties break by id, the tail has " +
      "no wraparound, and adjacent near-keys pair without any shared " +
      "block token") {
    import spark.implicits._
    import graft.operators.Dedup
    // keys sort as: aaa(5), aab(1), aab(9), bbb(2), zzz(7)
    val df = Seq((5L, "aaa"), (1L, "aab"), (9L, "aab"), (2L, "bbb"),
      (7L, "zzz")).toDF("id", "k")
    val got = Dedup.sortedNeighborhoodPairs(df, col("k"), col("id"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sorted order: 5, 1, 9, 2, 7 (tie aab -> id 1 before 9);
    // w=3 pairs each record with its 2 successors; no wraparound
    assert(got === Set((5L, 1L), (5L, 9L), (1L, 9L), (1L, 2L),
      (9L, 2L), (9L, 7L), (2L, 7L)))
    // the near-key pair (aaa, aab) formed although the keys are not
    // EQUAL — the property hash blocking cannot provide
    assert(got.contains((5L, 1L)))
    // w=2 is the adjacent-only degenerate
    assert(Dedup.sortedNeighborhoodPairs(df, col("k"), col("id"), 2)
      .collect().length === 4)
  }

  test("property: sortedNeighborhoodPairs equals the brute-force " +
      "rank-window pairs on random keys with heavy duplication, " +
      "w in {2, 4}") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(7)
    // small key pool -> many exact ties, the id tie-break carries them
    val rows = (0 until 200).map(i =>
      (i.toLong, s"k${rnd.nextInt(12)}"))
    val df = rnd.shuffle(rows).toDF("id", "k")
    val sortedIds = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
    for (w <- Seq(2, 4)) {
      val want = (for {
        i <- sortedIds.indices
        j <- (i + 1) until math.min(i + w, sortedIds.length)
      } yield (sortedIds(i), sortedIds(j))).toSet
      val got = Dedup.sortedNeighborhoodPairs(df, col("k"), col("id"), w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"w=$w")
    }
  }

  test("m26 otsuThreshold: hand bimodal split, exact-tie breaks to " +
      "the smallest t, three-level argmax, flat image and non-BMP " +
      "refuse") {
    import graft.operators.Multimodal
    def img(vals: Int*): Array[Byte] =
      Multimodal.buildBmp(vals.length, 1,
        vals.flatMap(v => Seq.fill(3)(v.toByte)).toArray)
    // bimodal {10,10,200,200}: one candidate t=10; d = 2*420-4*20=760
    assert(Multimodal.otsuThreshold(img(10, 10, 200, 200)).get ==
      ((10, 760L * 760L, 4L, 2, 2)))
    // {0,100,200,200}: t=0 ratio 250000/3, t=100 ratio 360000/4 wins
    assert(Multimodal.otsuThreshold(img(0, 100, 200, 200)).get ==
      ((100, 360000L, 4L, 2, 2)))
    // {0,100,100,200}: t=0 and t=100 tie exactly (160000/3 both) ->
    // smallest t wins
    assert(Multimodal.otsuThreshold(img(0, 100, 100, 200)).get ==
      ((0, 160000L, 3L, 1, 3)))
    // flat image has no valid cut; garbage is refused
    assert(Multimodal.otsuThreshold(img(7, 7, 7, 7)).isEmpty)
    assert(Multimodal.otsuThreshold("junk".getBytes("UTF-8")).isEmpty)
    // int64 domain guard (advisor, round 14): past 3451 px the d²
    // numerator can overflow — the operator REFUSES rather than rank
    // on a silently wrapped value. 3451 px is in-domain; 3452 is out.
    val big = Multimodal.buildBmp(3452, 1,
      Array.tabulate(3 * 3452)(i => if (i < 3 * 1726) 10.toByte
        else 200.toByte))
    assert(Multimodal.otsuThreshold(big).isEmpty)
    val edge = Multimodal.buildBmp(3451, 1,
      Array.tabulate(3 * 3451)(i => if (i < 3 * 1725) 10.toByte
        else 200.toByte))
    assert(Multimodal.otsuThreshold(edge).get._1 == 10)
  }

  test("q59b joinRetractDelta: R-deletes are KEY-level — one witness " +
      "row per deleted key retracts every stored R row of that key " +
      "(advisor round-14 granularity fix)") {
    import spark.implicits._
    import graft.operators.Ivm
    // baseR holds TWO rows under key 5; the delete batch carries only
    // ONE witness row for key 5 — the literal-row form diverged here.
    val L0 = Seq((5L, 50L), (5L, 51L), (2L, 20L)).toDF("k", "v")
    val R0 = Seq((5L, 9L), (5L, 8L), (2L, 7L)).toDF("k", "g")
    val apL = Seq((2L, 21L)).toDF("k", "v")
    val delL = Seq((5L, 50L)).toDF("k", "v")
    val delR = Seq((5L, 9L)).toDF("k", "g") // one witness, key 5
    val stored = Ivm.aggState(L0.join(R0, "k"), col("g"), col("v"))
      .select(col("grp"), col("cnt"), col("sum_v"))
    val deltaState = Ivm.joinRetractDelta(L0, R0, apL, delL, delR, "k")
      .groupBy(col("g").as("grp"))
      .agg(sum(col("sign")).as("cnt_d"),
        sum(col("v") * col("sign")).as("sum_d"))
    val merged = stored.join(deltaState, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("cnt_d"), lit(0L)))
          .as("cnt"),
        (coalesce(col("sum_v"), lit(0L)) +
          coalesce(col("sum_d"), lit(0L))).as("s"))
      .filter(col("cnt") > 0)
      .as[(Long, Long, Long)].collect().toSet
    // full recompute: key-level R delete removes BOTH key-5 R rows
    val rPost = R0.filter(col("k") =!= 5L)
    val lPost = L0.except(delL).union(apL)
    val full = Ivm.aggState(lPost.join(rPost, "k"), col("g"), col("v"))
      .select(col("grp"), col("cnt"), col("sum_v"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full)
    assert(merged === Set((7L, 2L, 41L)))
  }

  test("q60b minReserveAgg: window-free reserve build matches the " +
      "window form exactly and its physical plan carries no Window") {
    import spark.implicits._
    import graft.operators.Ivm
    val base = Seq((1L, 1L), (1L, 1L), (1L, 2L), (1L, 5L),
      (2L, 3L), (2L, 3L), (2L, 4L), (2L, 9L), (2L, 12L),
      (3L, 10L)).toDF("g", "v")
    val win = Ivm.minReserve(base, col("g"), col("v"), 3)
      .as[(Long, Long, Long)].collect().toSet
    val agg = Ivm.minReserveAgg(base, col("g"), col("v"), 3)
    assert(agg.as[(Long, Long, Long)].collect().toSet === win)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "reserve build must not sort any per-group domain")
  }

  test("m28 channelStats: hand 2x2 with distinct per-channel bytes, " +
      "padding excluded, mergeability identity, refusal on non-BMP") {
    import graft.operators.Multimodal
    // 2x2; pixel (x, j) channels (B, G, R) = (j*20+x, j*20+x+1,
    // j*20+x+2); stride 8 = 6 px bytes + 2 pad (pad bytes 99 — must
    // NOT count)
    val bytes = Array.tabulate[Byte](16) { i =>
      val j = i / 8; val k = i % 8
      if (k >= 6) 99 else (j * 20 + k / 3 + k % 3).toByte
    }
    val bmp = Multimodal.buildBmp(2, 2, bytes)
    val got = Multimodal.channelStats(bmp).get
      .map(s => (s.channel, s.n, s.sum, s.sumSq))
    // B values: 0,1,20,21 -> sum 42, sq 0+1+400+441=842
    // G: 1,2,21,22 -> 46, 1+4+441+484=930; R: 2,3,22,23 -> 50, 1026
    assert(got == Seq((0, 4L, 42L, 842L), (1, 4L, 46L, 930L),
      (2, 4L, 50L, 1026L)))
    // mergeability: stats of two images fold by plain addition —
    // the same image twice doubles every sum
    val twice = got.map(t => (t._1, t._2 * 2, t._3 * 2, t._4 * 2))
    assert(twice.map(_._3).sum == 2 * got.map(_._3).sum)
    assert(Multimodal.channelStats("nope".getBytes("UTF-8")).isEmpty)
  }

  test("m25 patchStats: hand 5x3 grid at p=2 with clipped edge " +
      "patches in row-major order, flat-image stats, p=1 is the " +
      "per-pixel identity, refusal on non-BMP") {
    import graft.operators.Multimodal
    // 5x3; pixel (x, j) luma = 10*j + x (all channels equal); stride
    // 16 = 15 px bytes + 1 pad per row
    val bytes = Array.tabulate[Byte](48) { i =>
      val j = i / 16; val k = i % 16
      if (k >= 15) 0 else (10 * j + k / 3).toByte
    }
    val bmp = Multimodal.buildBmp(5, 3, bytes)
    val got = Multimodal.patchStats(bmp, 2).get
    assert(got.map(t => (t._1, t._2)) ==
      Seq((0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)),
      "row-major patch order")
    val m = got.map(t => (t._1, t._2) -> ((t._3, t._4, t._5, t._6))).toMap
    assert(m((0, 0)) == ((4, 22L, 0, 11)), "full interior patch")
    assert(m((0, 2)) == ((2, 18L, 4, 14)), "x-clipped edge patch")
    assert(m((1, 0)) == ((2, 41L, 20, 21)), "y-clipped edge patch")
    assert(m((1, 2)) == ((1, 24L, 24, 24)), "corner patch, one pixel")
    // flat image: every patch min == max == fill
    val flat = Multimodal.buildBmp(2, 2, Array.fill[Byte](16)(77))
    assert(Multimodal.patchStats(flat, 4).get ==
      Seq((0, 0, 4, 308L, 77, 77)))
    // p=1: one patch per pixel, sum == luma == min == max
    val p1 = Multimodal.patchStats(bmp, 1).get
    assert(p1.size == 15 &&
      p1.forall(t => t._3 == 1 && t._4 == t._5 && t._5 == t._6))
    assert(p1.find(t => t._1 == 2 && t._2 == 3).get._4 == 23L)
    assert(Multimodal.patchStats("nope".getBytes("UTF-8"), 2).isEmpty)
  }
}
