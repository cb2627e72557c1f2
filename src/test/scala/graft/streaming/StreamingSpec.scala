package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class StreamingSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("streaming windowed agg equals its batch equivalent") {
    val streamed = graft.queries.ExtensionQueries
      .s1StreamWindow(spark, sf).collect().toSeq
    val batch = graft.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("wstart", "event_type")
      .collect().toSeq
    assert(streamed == batch)
  }

  test("secondary-sort sessionizer matches session_window") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"),
        (col("ts").cast("double") * 1000000).cast("long").as("ts"),
        col("value"))
      .as[Sessionize.Ev]
    val custom = Sessionize.sessionize(spark, ev, 10)
      .collect().toSeq
      .map(s => (s.user_id, s.session_start_us, s.n_events))
      .sorted
    val builtin = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        (col("session_window.start").cast("double") * 1000000)
          .cast("long").as("start_us"),
        col("n"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted
    assert(custom == builtin)
  }

  test("sessionizer plan: exactly one exchange and one sort") {
    import spark.implicits._
    // the mapPartitions form must consume the repartition +
    // sortWithinPartitions layout as-is — a second Exchange or Sort in the
    // plan means the planner re-shuffled (the groupByKey appended-key trap)
    // and the secondary-sort claim is false
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"),
        (col("ts").cast("double") * 1000000).cast("long").as("ts"),
        col("value"))
      .as[Sessionize.Ev]
    val plan = Sessionize.sessionize(spark, ev, 10)
      .queryExecution.executedPlan.toString
    def occurrences(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    assert(occurrences(plan, "Exchange") == 1, s"plan:\n$plan")
    assert(occurrences(plan, "Sort [") == 1, s"plan:\n$plan")
  }

  test("sessionizer streams one large skewed group without materializing") {
    import spark.implicits._
    // one hot user with 300k events: sessions of 3 events (1s apart) every
    // 20 minutes — the old toSeq.sortBy path would buffer all 300k
    val n = 300000
    val ev = spark.range(n).select(
      lit(7L).as("user_id"),
      (expr("id div 3") * 1200000000L + (col("id") % 3) * 1000000L).as("ts"),
      lit(1.0).as("value")).as[Sessionize.Ev]
    val sessions = Sessionize.sessionize(spark, ev, gapMinutes = 10)
      .collect()
    assert(sessions.length == n / 3)
    assert(sessions.forall(s => s.n_events == 3 && s.sum_value == 3.0))
    // disordered input arrives time-ordered via the secondary sort
    val shuffled = ev.orderBy(rand(42))
    val sessions2 = Sessionize.sessionize(spark, shuffled.as[Sessionize.Ev],
      gapMinutes = 10).collect()
    assert(sessions2.sortBy(_.session_start_us).toSeq ==
      sessions.sortBy(_.session_start_us).toSeq)
  }

  test("streaming session windows: append mode finalizes a session only " +
      "after the watermark passes its close") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val ev = in.toDF().toDF("ts", "user_id", "value")
    val agg = StreamOps.sessionAgg(ev, "10 minutes", "0 seconds")
    val name = "s6_spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      // batch 1: two events 5 min apart -> one open session for user 1
      in.addData((t(0), 1L, 1.0), (t(5), 1L, 2.0))
      q.processAllAvailable()
      assert(spark.table(name).count() == 0) // watermark still at 10:05
      // batch 2: an event far past the gap advances the watermark beyond
      // the first session's close (10:15) -> session finalizes and emits
      in.addData((t(50), 1L, 4.0))
      q.processAllAvailable()
      in.addData((java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 2L, 0.0))
      q.processAllAvailable()
      val done = spark.table(name)
        .select(col("user_id"), col("session_window.start").as("s"),
          col("n_events"), col("sum_value")).collect()
      assert(done.exists(r => r.getLong(0) == 1L &&
        r.getTimestamp(1) == t(0) && r.getLong(2) == 2 &&
        r.getDouble(3) == 3.0))
    } finally q.stop()
  }

  test("transformWithState: ValueState carries per-key totals across " +
      "micro-batches (update mode, RocksDB provider)") {
    // the Spark-4 arbitrary-state API (s22's gate path): same running-
    // totals contract as flatMapGroupsWithState's (s10), state must
    // survive batch boundaries, and the provider pin must actually
    // engage RocksDB (transformWithState rejects the default store).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Long)]
    val updates = StreamOps.runningTotalsTws(in.toDS())
      .toDF("key", "n_cum", "cents_cum")
    val name = "tws_spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = updates.writeStream.outputMode("update").format("memory")
      .queryName(name).start()
    try {
      in.addData((1L, 10L), (1L, 5L), (2L, 100L))
      q.processAllAvailable()
      in.addData((1L, 7L))
      q.processAllAvailable()
      val rows = s2.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // batch 1 emits the fold of its own rows; batch 2's emission only
      // reads (3, 22) if the (2, 15) state actually crossed the boundary
      assert(rows.contains((1L, 2L, 15L)))
      assert(rows.contains((1L, 3L, 22L)))
      assert(rows.contains((2L, 1L, 100L)))
      assert(q.recentProgress.map(_.json).exists(_.contains("rocksdb")),
        "no rocksdb metrics in progress - provider pin not applied")
    } finally q.stop()
  }

  test("transformWithState initial state: batch snapshot seeds per-key " +
      "totals; snapshot-only keys stay silent; unseeded keys start at " +
      "zero") {
    // the warm-start handoff (s30's gate path): handleInitialState runs
    // once per snapshot key BEFORE any stream row, so the first stream
    // emission already includes history; a key with history but no
    // stream rows must never emit; a key absent from the snapshot folds
    // from (0, 0) through the same code path.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    // key 1: history (2 events, 50 cents) + stream; key 2: history only;
    // key 3: stream only
    val snap = s2.createDataset(Seq((1L, 2L, 50L), (2L, 9L, 900L)))
    val in = MemoryStream[(Long, Long)]
    val updates = StreamOps.runningTotalsWarmStart(in.toDS(), snap)
      .toDF("key", "n_cum", "cents_cum")
    val name = "tws_warm_spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = updates.writeStream.outputMode("update").format("memory")
      .queryName(name).start()
    try {
      in.addData((1L, 10L), (3L, 7L))
      q.processAllAvailable()
      in.addData((1L, 1L))
      q.processAllAvailable()
      val rows = s2.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // first batch: key 1 folds ON TOP of the seeded (2, 50)
      assert(rows.contains((1L, 3L, 60L)),
        s"seed did not land before the first batch: $rows")
      // second batch proves seeded state persists like streamed state
      assert(rows.contains((1L, 4L, 61L)))
      // unseeded key starts from zero
      assert(rows.contains((3L, 1L, 7L)))
      // snapshot-only key holds state silently - no phantom emission
      assert(!rows.exists(_._1 == 2L),
        s"snapshot-only key emitted without input rows: $rows")
    } finally q.stop()
  }

  test("transformWithState token bucket: drain, event-time refill with " +
      "capacity clamp, no refill on non-increasing timestamps, state " +
      "across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    // capacity 2 tokens, 1 token per 10 seconds (P = 10^7 us)
    val P = 10L * 1000000L
    val out = StreamOps.tokenBucketTws(in.toDS(), capacity = 2L,
        periodUs = P)
      .toDF("key", "event_id", "admitted", "tokens_after")
    val name = "tb_spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName(name).start()
    try {
      // batch 1 (key 1): t=0,1,2 — bucket starts full (2 tokens), the
      // 1-2s refills are partial, so the third event REJECTS; a batch-
      // internal out-of-order pair must be processed in event-time order
      in.addData((1L, 10L, ts(1)), (1L, 9L, ts(0)), (1L, 11L, ts(2)))
      q.processAllAvailable()
      // batch 2: t=2 again (no refill — non-increasing) rejects with the
      // SAME residue; t=32 refills 3 tokens -> clamped at capacity 2,
      // admits; key 2's bucket is independent and starts full
      in.addData((1L, 12L, ts(2)), (1L, 13L, ts(32)), (2L, 20L, ts(5)))
      q.processAllAvailable()
      val rows = s2.table(name).collect()
        .map(r => r.getLong(1) -> ((r.getBoolean(2), r.getLong(3)))).toMap
      assert(rows(9L) == ((true, P)))          // full -> 1 token left
      assert(rows(10L) == ((true, 1000000L)))  // +1s refill, admit
      assert(rows(11L) == ((false, 2000000L))) // +1s refill, < P: reject
      assert(rows(12L) == ((false, 2000000L))) // same ts: zero refill
      // t=32: +30s = 3 tokens, clamp at 2P, admit -> P left
      assert(rows(13L) == ((true, P)))
      assert(rows(20L) == ((true, P)))         // fresh key, full bucket
    } finally q.stop()
  }

  test("transformWithState MapState: per-category counters survive " +
      "batch boundaries independently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, String)]
    val updates = StreamOps.categoryCountsTws(in.toDS())
      .toDF("key", "cat", "n")
    val name = "tws_map_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = updates.writeStream.outputMode("update").format("memory")
      .queryName(name).start()
    try {
      in.addData((1L, "a"), (1L, "a"), (1L, "b"))
      q.processAllAvailable()
      in.addData((1L, "b"), (1L, "c"))
      q.processAllAvailable()
      val rows = s2.table(name)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      // batch 1 snapshot: a=2, b=1; batch 2 snapshot must read a=2 back
      // from the map (untouched this batch), bump b, and add c
      assert(rows.contains((1L, "a", 2L)) && rows.contains((1L, "b", 1L)))
      assert(rows.contains((1L, "b", 2L)) && rows.contains((1L, "c", 1L)))
      assert(!rows.contains((1L, "a", 1L)) && !rows.contains((1L, "a", 3L)))
    } finally q.stop()
  }

  test("transformWithState event-time timers: a session emits exactly " +
      "once, when the watermark passes its re-armed timer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val ds = in.toDF().toDF("key", "cents", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(Long, Long, java.sql.Timestamp)]
    val out = StreamOps.sessionExpiryTws(ds, 10 * 60 * 1000L)
      .toDF("key", "n", "cents", "last_ms")
    val name = "tws_timer_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      // batch 1: key 1, two events 5 min apart -> timer armed at 10:15;
      // watermark is still 0 during the batch AND in its trailing
      // no-data batch (batch-1 data only lifts it to 10:05 < 10:15)
      in.addData((1L, 1L, t("10:00")), (1L, 2L, t("10:05")))
      q.processAllAvailable()
      assert(s2.table(name).count() == 0)
      // batch 2: key 2 at 10:50 lifts the watermark to 10:50; the
      // trailing NO-DATA batch (transformWithState runs one whenever the
      // watermark advances, precisely to fire timers) fires key 1's
      // 10:15 timer -> the finalized session emits exactly once and the
      // state clears; key 2's own 11:00 timer stays ahead
      in.addData((2L, 5L, t("10:50")))
      q.processAllAvailable()
      val rows1 = s2.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(rows1 == Set((1L, 2L, 3L, t("10:05").getTime)))
      // batch 3: watermark 12:00 -> key 2's 11:00 timer fires; key 3's
      // own 12:10 timer is still ahead of the watermark; key 1 emits
      // nothing again (its state was cleared on expiry)
      in.addData((3L, 9L, t("12:00")))
      q.processAllAvailable()
      val rows2 = s2.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(rows2 == Set(
        (1L, 2L, 3L, t("10:05").getTime),
        (2L, 1L, 5L, t("10:50").getTime)))
    } finally q.stop()
  }

  test("transformWithState in-flow split: two sessions delivered in ONE " +
      "micro-batch emit separately (batch boundaries are not session " +
      "boundaries)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val ds = in.toDF().toDF("key", "cents", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(Long, Long, java.sql.Timestamp)]
    val out = StreamOps.sessionExpiryTws(ds, 10 * 60 * 1000L)
      .toDF("key", "n", "cents", "last_ms")
    val name = "tws_split_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      // one batch, one key, three sessions: 10:00+10:05 | 11:00 | 11:30
      // (rows deliberately unordered — the processor sorts by event time)
      in.addData((1L, 2L, t("11:00")), (1L, 1L, t("10:00")),
        (1L, 4L, t("10:05")), (1L, 8L, t("11:30")))
      q.processAllAvailable()
      // the two in-flow splits emit NOW; the open 11:30 session does not
      val rows1 = s2.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(rows1 == Set(
        (1L, 2L, 5L, t("10:05").getTime),
        (1L, 1L, 2L, t("11:00").getTime)))
      // a far-future row lifts the watermark; the trailing no-data batch
      // fires the 11:40 timer and the last session emits via the timer
      in.addData((2L, 0L, t("23:00")))
      q.processAllAvailable()
      val rows2 = s2.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(rows2 == rows1 + ((1L, 1L, 8L, t("11:30").getTime)))
    } finally q.stop()
  }

  test("transformWithState state TTL evicts: a counter's state expires " +
      "after the TTL and restarts from zero; within the TTL it carries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Long)]
    // TTL must dominate micro-batch scheduling latency (a paced trigger
    // adds up to ~1 s between addData and the row's batch) or the "carry
    // inside TTL" phase races the clock — 5 s is safely above it
    val out = StreamOps.countsWithTtl(
      in.toDS(), java.time.Duration.ofSeconds(5)).toDF("key", "n")
    val name = "tws_ttl_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    // ProcessingTime time mode always reports "another batch may be
    // needed" (TTL can lapse at any wall-clock instant), so
    // processAllAvailable would never return and an unpaced trigger would
    // churn empty micro-batches continuously — pace the query and POLL
    // the sink instead (the countsWithTtl scaladoc documents this).
    val q = out.writeStream.outputMode("update").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .queryName(name).start()
    try {
      def latest(): Seq[(Long, Long)] = s2.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      def await(cond: => Boolean, msg: String): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (!cond) {
          assert(System.currentTimeMillis < deadline,
            s"$msg; sink rows = ${latest()}")
          Thread.sleep(100)
        }
      }
      in.addData((1L, 1L))
      await(latest().contains((1L, 1L)), "first row never counted")
      // immediately again: well inside the TTL, the count carries to 2
      in.addData((1L, 1L))
      await(latest().contains((1L, 2L)), "count did not carry inside TTL")
      // let the TTL lapse in processing time, then touch the key again:
      // the expired state must read as absent and the count restart at 1.
      // The update-mode memory sink ACCUMULATES rows, so the batch-1
      // (1,1) row is already present — eviction is only proven by a
      // SECOND (1,1) row arriving (count == 2); a carried count would
      // instead append (1,3)
      Thread.sleep(7000)
      in.addData((1L, 1L))
      await(latest().count { case (k, n) => k == 1L && n == 1L } == 2,
        "expected a second fresh count of 1 after TTL expiry")
    } finally q.stop()
  }

  test("ListState recent-events buffer: cross-batch merge by event " +
      "time, bounded trim, late row below the kept minimum ignored") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = StreamOps.recentEventsTws(in.toDS(), n = 3)
      .toDF("key", "n_seen", "recent")
    val name = "tws_rec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName(name).start()
    try {
      def state(): Map[Long, (Long, String)] = s2.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).map { case (k, rs) =>
          val last = rs.maxBy(_._2)
          k -> (last._2, last._3)
        }
      // one batch of four: buffer trims to the three LATEST by event time
      in.addData((1L, 1L, ts(10)), (1L, 2L, ts(20)),
        (1L, 3L, ts(30)), (1L, 4L, ts(40)))
      q.processAllAvailable()
      assert(state()(1L) ==
        (4L, "20000000:2,30000000:3,40000000:4"))
      // a LATE row below the kept minimum: counted, buffer unchanged;
      // a fresh row above it: rolls the window
      in.addData((1L, 9L, ts(5)), (1L, 5L, ts(50)))
      q.processAllAvailable()
      assert(state()(1L) ==
        (6L, "30000000:3,40000000:4,50000000:5"))
      // an independent key with fewer than n events keeps them all
      in.addData((2L, 7L, ts(100)))
      q.processAllAvailable()
      assert(state()(2L) == (1L, "100000000:7"))
    } finally q.stop()
  }

  test("phase-tagged TTL counts: the tag rides each emission, counts " +
      "carry inside the TTL across tags, and restart after expiry") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Long)]
    val out = StreamOps.countsWithTtlPhased(
      in.toDS(), java.time.Duration.ofSeconds(5))
      .toDF("key", "phase", "n")
    val name = "tws_ttlp_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.writeStream.outputMode("update").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .queryName(name).start()
    try {
      def latest(): Seq[(Long, Long, Long)] = s2.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      def await(cond: => Boolean, msg: String): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (!cond) {
          assert(System.currentTimeMillis < deadline,
            s"$msg; sink rows = ${latest()}")
          Thread.sleep(100)
        }
      }
      // two rows, one batch, tag 1: count 2 under tag 1 (max-of-batch)
      in.addData((1L, 1L), (1L, 1L))
      await(latest().contains((1L, 1L, 2L)), "tag-1 batch never counted")
      // INSIDE the TTL a new tag does NOT reset the count — the tag is a
      // label, eviction is the TTL's alone: tag 2 sees the carried 2+1
      in.addData((1L, 2L))
      await(latest().contains((1L, 2L, 3L)),
        "count did not carry into tag 2 inside TTL")
      // after the TTL lapses the same tag restarts from its own rows
      Thread.sleep(7000)
      in.addData((1L, 3L))
      await(latest().contains((1L, 3L, 1L)),
        "expected a fresh count of 1 under tag 3 after TTL expiry")
    } finally q.stop()
  }

  test("message-bus XML: the compiled DSL binds a MemoryStream value " +
      "column; append-mode windows emit only after the watermark passes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def msg(u: Long, ts: String, k: String, v: String): String = {
      val us = java.sql.Timestamp.valueOf(ts).getTime * 1000
      s"<msg u='$u'><t>$us</t><k>$k</k><v>$v</v></msg>"
    }
    val parser = graft.xml.XmlParser.struct("msg") { a =>
      struct(a.attribute("u").cast("long").as("u"),
        a.str("t").cast("long").as("tmicros"),
        a.str("k").as("k"),
        a.nullDecimal("v")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"))
    }
    val in = MemoryStream[String]
    val agg = in.toDF().toDF("value")
      .select(parser.parse(col("value")).as("p"))
      .select(timestamp_micros(col("p.tmicros")).as("ts"),
        col("p.k").as("k"), col("p.v").as("v"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("sv"))
    val name = "s19_spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      // batch 1: two messages inside the 10:00 window -> still open
      in.addData(msg(1, "2024-01-01 10:05:00", "click", "1.50"),
        msg(2, "2024-01-01 10:20:00", "click", "2.25"))
      q.processAllAvailable()
      assert(spark.table(name).count() == 0)
      // batches 2+3: advance the watermark past 11:00 (batch N's max event
      // time only governs batch N+1, hence two arm batches)
      in.addData(msg(9, "2024-01-01 12:00:00", "arm", "0"))
      q.processAllAvailable()
      in.addData(msg(9, "2024-01-01 14:00:00", "arm", "0"))
      q.processAllAvailable()
      val rows = spark.table(name).filter(col("k") === "click")
        .select(col("window.start"), col("n"), col("sv")).collect()
      assert(rows.length == 1)
      assert(rows(0).getTimestamp(0) ==
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
      assert(rows(0).getLong(1) == 2 && rows(0).getDouble(2) == 3.75)
    } finally q.stop()
  }

  test("streaming wildcard tag + alternatives: the StAX memo cache stays " +
      "row-local across micro-batch re-evaluation") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val parser = graft.xml.XmlParser.struct("rec") { a =>
      struct(
        a.array("vals") { c =>
          struct(c.tag.as("tag"),
            c.nullDecimal("q_*").cast("double").as("qty"))
        }.as("vals"),
        coalesce(a.nullInt("item1"), a.nullInt("item2") * 10).as("alt"))
    }
    val in = MemoryStream[String]
    val parsed = in.toDF().toDF("value")
      .select(parser.parse(col("value")).as("p"))
      .select(get(col("p.vals"), lit(0)).as("v"), col("p.alt").as("alt"))
      .select(col("v.tag").as("tag"), col("v.qty").as("qty"), col("alt"))
    val name = "s20_spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = parsed.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      // same glob, different data-derived tags, alternating alt branches —
      // fed as THREE separate micro-batches so the bound parses are
      // re-evaluated under fresh codegen'd projections each time
      in.addData("<rec><vals><q_A>1.5</q_A></vals><item1>3</item1></rec>")
      q.processAllAvailable()
      in.addData("<rec><vals><q_B>2.5</q_B></vals><item2>4</item2></rec>")
      q.processAllAvailable()
      in.addData("<rec><vals><q_A>9.0</q_A></vals><item2>5</item2></rec>",
        "<rec><vals><q_C>0.5</q_C></vals><item1>6</item1></rec>")
      q.processAllAvailable()
      val got = spark.table(name)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
        .sortBy(identity).toSeq
      assert(got == Seq(("q_A", 1.5, 3), ("q_A", 9.0, 50),
        ("q_B", 2.5, 40), ("q_C", 0.5, 6)))
    } finally q.stop()
  }

  test("streaming dedup drops duplicates within the watermark") {
    import spark.implicits._
    val ev = StreamOps.eventsStream(spark, sf)
      .withColumn("etype", col("event_type"))
    val dedup = StreamOps.streamingDedup(ev, Seq("user_id", "etype"),
      "10 minutes")
    val got = StreamOps.runToMemory(spark, dedup, "dedup_t", "append")
    // at most one row per (user, type) within any watermark horizon, and
    // strictly fewer rows than the input
    val n = got.count()
    val total = graft.Tables.events(spark, sf).count()
    assert(n > 0 && n < total)
  }

  test("multimodal resize keeps shape; frame sampling walks real AVIs") {
    import spark.implicits._
    val media = graft.operators.Multimodal.attachBlobs(
      graft.Tables.documents(spark, sf), frameSize = 100)
    val resized = graft.operators.Multimodal.resize(spark, media, 8, 8)
      .collect()
    // doc_id%3=0 (BMPs): REAL 8x8 24bpp resize -> valid BMP, re-decodable;
    // WAVs/AVIs: documented truncate/pad fallback to width*height bytes
    assert(resized.forall { r =>
      if (r.doc_id % 3 == 0) {
        val d = graft.operators.Multimodal.decodeBlob(
          graft.operators.Multimodal.MediaRow(r.doc_id, r.media, r.fmt, 1))
        r.media.length == 54 + 24 * 8 && d.width == 8 && d.height == 8
      } else r.media.length == 64
    })
    val frames = graft.operators.Multimodal.sampleFrames(spark, media, 2)
      .groupByKey(_.doc_id).count().collect().toMap
    // AVI blobs yield ceil(nFrames/2) REAL container frames; other blobs
    // keep the raw-byte fallback of ceil(ceil(len/frame_size)/2) slices
    val expect = media.as[graft.operators.Multimodal.MediaRow].collect()
      .map { m =>
        m.doc_id -> (if (m.doc_id % 3 == 2) (m.doc_id % 5 + 2 + 1) / 2
          else ((m.media.length + 99) / 100 + 1L) / 2L)
      }.toMap
    assert(frames == expect)
  }

  test("AVI builder round-trips through the container walk") {
    val M = graft.operators.Multimodal
    val fill = "framesample".getBytes("UTF-8")
    val avi = M.buildAvi(5, 2, 4, fill) // rowSize 16, fb 32
    val d = M.decodeBlob(M.MediaRow(8L, avi, "x", 10))
    assert(d.fmt == "video/avi" && d.width == 5 && d.height == 2 &&
      d.n_samples == 4)
    assert(d.n_bytes == 224 + 4 * (8 + 32))
    val slices = M.aviFrameSlices(avi)
    assert(slices.length == 4 && slices.forall(_._2 == 32))
    // frame f's byte i is fill((f+i) % len) — check frames 0 and 3
    for (f <- Seq(0, 3)) {
      val (off, len) = slices(f)
      val frame = java.util.Arrays.copyOfRange(avi, off, off + len)
      assert(frame.toSeq ==
        (0 until len).map(i => fill((f + i) % fill.length)).toSeq)
    }
    // a truncated payload yields the frames that still parse, no throw
    assert(M.aviFrameSlices(java.util.Arrays.copyOf(avi,
      avi.length - 10)).isEmpty) // RIFF size now overruns -> stop early
    assert(M.aviFrameSlices(Array[Byte]('R', 'I', 'F', 'F')).isEmpty)
  }

  test("streamStreamAntiJoin: each unmatched view emits exactly once, " +
      "only after both watermarks pass its window end") {
    val got = graft.SparkEntry.queries("s16_stream_anti_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // batch replay of the emission rule: an unmatched view may emit only
    // once min(max view ts, max click ts) - 1h passes ts + 6h
    val ev = graft.Tables.events(spark, sf)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_event"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val Array(mv, mc) = v.agg(max("ts")).collect() ++
      c.agg(max("cts")).collect()
    val horizon = new java.sql.Timestamp(
      math.min(mv.getTimestamp(0).getTime, mc.getTimestamp(0).getTime) -
        3600L * 1000)
    val want = v
      .join(c, col("user_id") === col("cu") && col("cts") >= col("ts") &&
        col("cts") <= col("ts") + expr("interval 6 hours"), "left_anti")
      .filter(col("ts") + expr("interval 6 hours") < lit(horizon))
      .select(col("user_id"), col("view_event"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.sorted == want.sorted && got.nonEmpty)
    assert(got.distinct.size == got.size) // exactly-once emission
  }

  test("eventsStream refuses a collapsed-timestamp corpus (tripwire)") {
    // Poisoned fixture: every ts within minutes of 1970-01-20 — exactly
    // what a double-divided micros corpus looks like. The source must
    // throw, never hand downstream gates a hashable wrong answer.
    import spark.implicits._
    val dir = graft.Tables.scratchDir("graft-poison-ev")
    (1L to 50L).map(i =>
        (i, new java.sql.Timestamp(1700000000L + i * 60000), i % 7,
          "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val f = new java.io.File(dir)
    f.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(p => p.renameTo(new java.io.File(f, "events.parquet")))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.eventsStream(spark, dir)
    }
    assert(e.getMessage.contains("implausible"))
    // and a plausible-but-flat corpus (all events in one hour) trips too
    (1L to 50L).map(i =>
        (i, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), i % 7,
          "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    f.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(p => p.renameTo(new java.io.File(f, "events.parquet")))
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.eventsStream(spark, dir)
    }
  }

  test("crafted chunk size near Int.MaxValue terminates the AVI walks") {
    // `off + 8 + size` overflows Int for this size; the additive bound
    // check wrongly passed and the walk ran off the array (or spun on a
    // negative offset). The subtraction-form guard must reject it cleanly.
    val M = graft.operators.Multimodal
    val b = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")); b.putInt(24)
    b.put("AVI ".getBytes("US-ASCII"))
    b.put("LIST".getBytes("US-ASCII")); b.putInt(Int.MaxValue - 5)
    b.put("movi".getBytes("US-ASCII"))
    val m = b.array()
    assert(M.aviFrameSlices(m).isEmpty)
    assert(M.aviMainHeaderDims(m) == ((0, 0)))
  }

  test("foreachBatch sink: streaming micro-batches land as parquet") {
    val out = java.nio.file.Files.createTempDirectory("graftfb").toString
    val ev = StreamOps.eventsStream(spark, sf)
    val q = ev.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        // the custom-sink escape hatch: arbitrary batch writes with the
        // micro-batch id available for idempotent upserts
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(out)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(out)
    assert(written.count() == graft.Tables.events(spark, sf).count())
    assert(written.columns.contains("batch_id"))
  }

  test("resizeBmp: identity keeps pixels; downsample picks nearest source") {
    val M = graft.operators.Multimodal
    val fill = "abcdefghij".getBytes
    val src = M.buildBmp(4, 2, fill) // rowSize 12, data 24 bytes, cycled fill
    // identity resize reproduces the exact pixel data
    val same = M.resizeBmp(src, 4, 2).get
    assert(M.bmpPixelChecksum(same) == M.bmpPixelChecksum(src))
    assert(same.drop(54).zipWithIndex.filter(_._2 % 12 < 12).map(_._1)
      .sameElements(src.drop(54)))
    // 2x1 downsample: dst(x,y) = src(2x, 2y) -> pixels 0 and 2 of row 0
    val down = M.resizeBmp(src, 2, 1).get
    val d = M.decodeBlob(M.MediaRow(0L, down, "x", 1))
    assert(d.width == 2 && d.height == 1)
    val expect = Seq(0, 1, 2, 6, 7, 8).map(i => fill(i % 10) & 0xff).sum
    assert(M.bmpPixelChecksum(down) == expect)
    // non-BMP payload -> None
    assert(M.resizeBmp(Array[Byte](1, 2, 3), 2, 2).isEmpty)
  }

  test("BMP/WAV builders round-trip through the header decoder") {
    val M = graft.operators.Multimodal
    val bmp = M.MediaRow(2L, M.buildBmp(13, 5, "hello".getBytes), "x", 10)
    val db = M.decodeBlob(bmp)
    assert(db.fmt == "image/bmp" && db.width == 13 && db.height == 5)
    assert(db.n_bytes == 54 + ((3 * 13 + 3) / 4) * 4 * 5)
    val wav = M.MediaRow(3L,
      M.buildWav(11000, 2, Array.fill(101)(7.toByte)), "x", 10)
    val dw = M.decodeBlob(wav)
    assert(dw.fmt == "audio/wav" && dw.sample_rate == 11000 &&
      dw.n_channels == 2 && dw.n_samples == 25) // 100 usable bytes / 4
    assert(dw.n_bytes == 44 + 100)
    // unknown payloads fall back to raw accounting, fmt from metadata
    val raw = M.decodeBlob(M.MediaRow(4L, Array[Byte](1, 2, 3), "app/x", 10))
    assert(raw.fmt == "app/x" && raw.n_bytes == 3 && raw.width == 0)
  }

  test("XML readStream parses rows incrementally") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftxmlstream")
    val w = new java.io.PrintWriter(dir.resolve("batch1.xml").toFile)
    w.write("<rows><rec><k>1</k><v>a</v></rec>" +
      "<rec><k>2</k><v>b</v></rec></rows>")
    w.close()
    val parser = graft.xml.XmlParser.struct("rec") { a =>
      struct(a.nullInt("k").as("k"), a.str("v").as("v"))
    }
    val stream = parser.readStream(spark, dir.toString + "/*.xml")
      .select("parsed.*")
    val got = StreamOps.runToMemory(spark, stream, "xmlstream_t", "append")
      .orderBy("k").as[(Option[Int], String)].collect().toSeq
    assert(got == Seq((Some(1), "a"), (Some(2), "b")))
  }

  test("XML readStream: wildcard spec streams through the rowTag splitter") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftxmlstreamw")
    val w = new java.io.PrintWriter(dir.resolve("batch1.xml").toFile)
    w.write("<rows><rec><id>1</id><q_a>x</q_a></rec>" +
      "<rec><id>2</id><q_b>y</q_b></rec></rows>")
    w.close()
    val parser = graft.xml.XmlParser.struct("rec") { a =>
      struct(a.nullInt("id").as("id"), a.str("q_*").as("v"),
        a.tag.as("tag"))
    }
    assert(!parser.isFullyNative) // glob member -> wholetext + splitter path
    val stream = parser.readStream(spark, dir.toString + "/*.xml")
      .select("parsed.*")
    val got = StreamOps.runToMemory(spark, stream, "xmlstreamw_t", "append")
      .orderBy("id").as[(Option[Int], String, String)].collect().toSeq
    assert(got == Seq((Some(1), "x", "rec"), (Some(2), "y", "rec")))
  }

  test("graft-xml FileFormat: batch read matches the splitter; streaming " +
      "a multi-record file is split-based, not wholetext") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftxmlfmt")
    val w = new java.io.PrintWriter(dir.resolve("big.xml").toFile)
    val n = 500
    val recs = (1 to n).map(i => s"<rec><id>$i</id><q_a>x$i</q_a></rec>")
    w.write("<rows>" + recs.mkString + "</rows>")
    w.close()
    // batch surface: one value row per rowTag element, identical to the
    // generator's records
    val batch = spark.read.format("graft-xml").option("rowTag", "rec")
      .load(dir.toString + "/*.xml").as[String].collect().toSeq
    assert(batch.sorted == recs.sorted)
    // streaming surface: the wildcard DSL path reads through the same
    // format (split-based — no wholetext string of the file is ever built)
    val parser = graft.xml.XmlParser.struct("rec") { a =>
      struct(a.nullInt("id").as("id"), a.str("q_*").as("v"))
    }
    assert(!parser.isFullyNative)
    val stream = parser.readStream(spark, dir.toString + "/*.xml")
      .select("parsed.*")
    val got = StreamOps.runToMemory(spark, stream, "xmlfmt_t", "append")
    assert(got.count() == n)
    assert(got.orderBy("id").limit(1).as[(Option[Int], String)].head() ==
      ((Some(1), "x1")))
  }

  test("graft-xml FileFormat: one big file splits into many tasks and " +
      "records straddling split boundaries stay intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftxmlsplit")
    val n = 5000
    val w = new java.io.PrintWriter(dir.resolve("one-big.xml").toFile)
    w.write("<rows>")
    // ~100-byte records -> ~500 KB file
    (1 to n).foreach(i => w.write(
      s"<rec><id>$i</id><pad>${"x" * 60}</pad></rec>"))
    w.write("</rows>")
    w.close()
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536") // 64 KB
    try {
      val df = spark.read.format("graft-xml").option("rowTag", "rec")
        .load(dir.toString)
      // genuinely split: many byte-range tasks over the single file
      assert(df.rdd.getNumPartitions > 4, s"${df.rdd.getNumPartitions}")
      // no record lost or duplicated at any of the split boundaries
      assert(df.count() == n)
      val ids = df.as[String]
        .map(s => s.substring(s.indexOf("<id>") + 4, s.indexOf("</id>")).toInt)
      assert(ids.distinct().count() == n)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  test("graft-xml FileFormat: gzipped files decode through the codec") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftxmlfmtgz")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(dir.resolve("a.xml.gz").toFile))
    out.write(("<rows>" +
      (1 to 20).map(i => s"<rec><id>$i</id></rec>").mkString +
      "</rows>").getBytes("UTF-8"))
    out.close()
    val vals = spark.read.format("graft-xml").option("rowTag", "rec")
      .load(dir.toString).as[String].collect()
    assert(vals.length == 20 && vals.exists(_.contains("<id>20</id>")))
  }

  test("checkpoint recovery: restarted query ingests ONLY the new files " +
      "yet the recovered state completes the aggregate") {
    val ev = graft.Tables.events(spark, sf)
    val inDir = graft.Tables.scratchDir("graft-s8spec-in")
    val ckpt = graft.Tables.scratchDir("graft-s8spec-ckpt")
    ev.filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(inDir)
    def agg = spark.readStream.schema(ev.schema).parquet(inDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    def drain(name: String): Long = {
      val q = agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    drain("s8spec_a")
    val oddCount = ev.filter(col("event_id") % 2 === 1).count()
    ev.filter(col("event_id") % 2 === 1)
      .write.mode("append").parquet(inDir)
    val ingested = drain("s8spec_b")
    // the file-source log in the checkpoint marks tranche 1 as committed:
    // a restart that re-read it (or double-counted it) fails here
    assert(ingested == oddCount, s"run2 ingested $ingested != $oddCount")
    // and the complete-mode output covers BOTH tranches — possible only if
    // the aggregation state survived the stop/restart
    val got = spark.table("s8spec_b").orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("flatMapGroupsWithState: cumulative counters carry state across " +
      "paced micro-batches") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
    val inDir = graft.Tables.scratchDir("graft-s10spec-in")
    ev.select(col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .repartition(8).write.mode("overwrite").parquet(inDir)
    val pairs = spark.readStream.schema("user_id LONG, cents LONG")
      .option("maxFilesPerTrigger", "4").parquet(inDir).as[(Long, Long)]
    val updates = StreamOps.runningTotals(pairs)
      .toDF("user_id", "n_cum", "cents_cum")
    val q = updates.writeStream.outputMode("update").format("memory")
      .queryName("s10spec").start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    val emitted = spark.table("s10spec")
    // users present in both batches emitted TWO updates (running totals) —
    // proof the emissions span batches, not one big fold
    assert(emitted.count() > emitted.select("user_id").distinct().count())
    // and the max cumulative per user equals the batch ground truth —
    // impossible if the second batch had started from empty state
    val got = emitted.groupBy("user_id")
      .agg(max(col("n_cum")).as("n")).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("bounded backfill: maxFilesPerTrigger paces the history into " +
      "multiple micro-batches") {
    val ev = graft.Tables.events(spark, sf)
    val inDir = graft.Tables.scratchDir("graft-s9spec-in")
    ev.repartition(8).write.mode("overwrite").parquet(inDir)
    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("s9spec").start()
    try q.processAllAvailable() finally q.stop()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 4, s"expected >= 4 paced batches, got $dataBatches")
    val got = spark.table("s9spec").orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("wavEnergy: windowed sum-of-squares matches a byte-level " +
      "reference; corrupt chunk sizes terminate, not spin") {
    import graft.operators.Multimodal
    import spark.implicits._
    // odd-length data -> buildWav truncates to whole 2-byte frames
    val data = Array.tabulate[Byte](37)(i => (i * 7 - 60).toByte)
    val wav = Multimodal.buildWav(8000, 1, data)
    val media = Seq(Multimodal.MediaRow(1L, wav, "audio/wav", 100))
      .toDS().toDF()
    val rows = Multimodal.wavEnergy(spark, media, window = 5)
      .collect().sortBy(_.window_idx)
    val dlen = data.length - data.length % 2
    val samples = (0 until dlen / 2).map(k =>
      (((data(2 * k) & 0xff) | (data(2 * k + 1) << 8)).toShort).toLong)
    val want = samples.grouped(5).zipWithIndex.map { case (w, i) =>
      (1L, i, w.length, w.map(s => s * s).sum) }.toSeq
    assert(rows.map(r =>
      (r.doc_id, r.window_idx, r.n_samples, r.energy)).toSeq == want)
    // negative chunk size (corrupt blob) must terminate with no rows
    val bad = wav.clone()
    bad(16) = -1; bad(17) = -1; bad(18) = -1; bad(19) = -1 // fmt size
    val badMedia = Seq(Multimodal.MediaRow(2L, bad, "audio/wav", 100))
      .toDS().toDF()
    assert(Multimodal.wavEnergy(spark, badMedia, 5).count() == 0)
    // a huge POSITIVE size near Int.MaxValue on a non-data chunk must be
    // treated as corrupt too: the word-aligned advance would overflow Int,
    // wrap the offset negative and crash the walk instead of skipping
    val big = wav.clone()
    big(16) = 0xec.toByte; big(17) = -1; big(18) = -1; big(19) = 0x7f
    val bigMedia = Seq(Multimodal.MediaRow(3L, big, "audio/wav", 100))
      .toDS().toDF()
    assert(Multimodal.wavEnergy(spark, bigMedia, 5).count() == 0)
    // a TRUNCATED data chunk (size overstates the payload) still decodes
    // the bytes that are present — truncation is tolerated on data
    val trunc = wav.clone()
    val dataOff = { // find the data chunk header
      var o = 12
      while (!(trunc(o) == 'd' && trunc(o + 1) == 'a' &&
        trunc(o + 2) == 't' && trunc(o + 3) == 'a')) {
        val sz = (trunc(o + 4) & 0xff) | ((trunc(o + 5) & 0xff) << 8) |
          ((trunc(o + 6) & 0xff) << 16) | ((trunc(o + 7) & 0xff) << 24)
        o += 8 + sz + (sz & 1)
      }
      o
    }
    trunc(dataOff + 4) = -1; trunc(dataOff + 5) = -1
    trunc(dataOff + 6) = -1; trunc(dataOff + 7) = 0x7f
    val truncMedia = Seq(Multimodal.MediaRow(4L, trunc, "audio/wav", 100))
      .toDS().toDF()
    val truncRows = Multimodal.wavEnergy(spark, truncMedia, 5)
      .collect().sortBy(_.window_idx)
    assert(truncRows.map(r =>
      (r.doc_id, r.window_idx, r.n_samples, r.energy)).toSeq ==
      want.map { case (_, w, n, e) => (4L, w, n, e) })
  }

  test("processing-time idle flush: state folds across batches before " +
      "ONE flush, a quiet period emits nothing more, and post-flush " +
      "input restarts from zero") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val in = MemoryStream[(Long, Long)]
    val idleMs = 4000L // >> paced batch latency (~1 s), TTL-spec margins
    val out = StreamOps.idleFlushTws(in.toDS(), idleMs)
      .toDF("key", "n", "cents")
    val name = "ptflush_spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.writeStream.outputMode("update").format("memory")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .queryName(name).start()
    def rows(): Seq[(Long, Long, Long)] = s2.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def awaitRows(want: Int): Unit = {
      val deadline = System.currentTimeMillis + 120000
      while (rows().length < want) {
        require(System.currentTimeMillis < deadline,
          s"flush never reached $want rows: ${rows()}")
        Thread.sleep(100)
      }
    }
    try {
      // two producer batches BEFORE any flush: the idle timer re-arms
      // (deleteTimer + registerTimer) and state crosses the batch
      // boundary, so the single flush must carry the combined fold
      in.addData((1L, 10L))
      Thread.sleep(500) // let batch 1 land well inside the idle window
      in.addData((1L, 5L), (1L, 7L))
      awaitRows(1)
      assert(rows() == Seq((1L, 3L, 22L)),
        s"flush must fold both batches: ${rows()}")
      // quiet period longer than idle: no phantom re-flush of cleared
      // state (the emit-exactly-once half of the contract)
      Thread.sleep(idleMs + 2000)
      assert(rows() == Seq((1L, 3L, 22L)),
        s"cleared state re-flushed: ${rows()}")
      // post-flush input restarts from zero — state really cleared
      in.addData((1L, 100L))
      awaitRows(2)
      assert(rows().toSet == Set((1L, 3L, 22L), (1L, 1L, 100L)),
        s"post-flush fold must restart from zero: ${rows()}")
    } finally q.stop()
  }

  test("cdcMergeSink: newer-wins guard makes replay idempotent; a " +
      "retained tombstone blocks out-of-order resurrection; a genuinely " +
      "newer upsert revives the key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // (user_id, ts, event_id, event_type, cents)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Long)]
    val stateRoot = graft.Tables.scratchDir("graft-s31spec")
    var cur: Option[String] = None
    val changes = in.toDS()
      .toDF("user_id", "ts", "event_id", "event_type", "cents")
    // drive batch-by-batch through the same foreachBatch body the sink
    // uses, so each addData is exactly one micro-batch
    val q = changes.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        cur = graft.streaming.StreamOps
          .applyCdcBatch(batch, "user_id", stateRoot, id, cur)
      }.start()
    def state(): Map[Long, (Long, String, Long)] =
      spark.read.parquet(cur.get).collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3),
          r.getLong(4))).toMap
    try {
      // batch 0: two keys born; key 1 has two in-batch versions (the
      // max-struct keeper must elect event 11)
      in.addData((1L, ts(10), 10L, "purchase", 100L),
        (1L, ts(20), 11L, "purchase", 150L),
        (2L, ts(10), 12L, "purchase", 200L))
      q.processAllAvailable()
      assert(state() == Map(1L -> (11L, "purchase", 150L),
        2L -> (12L, "purchase", 200L)))
      // batch 1: key 1 deleted (tombstone), key 2 stale update ignored
      in.addData((1L, ts(30), 20L, "error", 0L),
        (2L, ts(5), 21L, "purchase", 999L))
      q.processAllAvailable()
      assert(state() == Map(1L -> (20L, "error", 0L),
        2L -> (12L, "purchase", 200L)))
      // batch 2: out-of-order OLDER upsert for deleted key 1 — the
      // tombstone must block resurrection (this is the case a
      // drop-deletes compactor gets wrong in a loop)
      in.addData((1L, ts(25), 30L, "purchase", 300L))
      q.processAllAvailable()
      assert(state()(1L) == ((20L, "error", 0L)))
      // batch 3: exact replay of batch 1 — idempotent, no change
      in.addData((1L, ts(30), 20L, "error", 0L),
        (2L, ts(5), 21L, "purchase", 999L))
      q.processAllAvailable()
      assert(state() == Map(1L -> (20L, "error", 0L),
        2L -> (12L, "purchase", 200L)))
      // batch 4: genuinely newer upsert revives key 1
      in.addData((1L, ts(40), 40L, "purchase", 500L))
      q.processAllAvailable()
      assert(state()(1L) == ((40L, "purchase", 500L)))
    } finally q.stop()
  }

  test("flipBmp: exact mirrored bytes, double-flip identity, decoder " +
      "round-trip; weighted checksum discriminates where the plain sum " +
      "cannot") {
    import graft.operators.Multimodal
    // 3x2, asymmetric fill -> flip must move bytes
    val fill = Array.tabulate[Byte](64)(i => (i * 11 + 3).toByte)
    val bmp = Multimodal.buildBmp(3, 2, fill)
    val flipped = Multimodal.flipBmp(bmp).get
    // same dims through the real decoder
    val d = Multimodal.decodeBlob(
      Multimodal.MediaRow(1L, flipped, "image/bmp", 100))
    assert(d.width == 3 && d.height == 2)
    // row-level mirror: pixel x of the flip == pixel (w-1-x) of the src
    val buf = java.nio.ByteBuffer.wrap(bmp)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val off = buf.getInt(10)
    val row = ((3 * 3 + 3) / 4) * 4
    for (y <- 0 until 2; x <- 0 until 3; c <- 0 until 3)
      assert(flipped(off + y * row + 3 * x + c) ==
        bmp(off + y * row + 3 * (2 - x) + c), s"byte ($y,$x,$c)")
    // involution: flip of flip is byte-identical to the source
    assert(java.util.Arrays.equals(
      Multimodal.flipBmp(flipped).get, bmp))
    // the plain sum is flip-invariant (why it can't be the witness);
    // the weighted sum must move for this asymmetric image
    assert(Multimodal.bmpPixelChecksum(flipped) ==
      Multimodal.bmpPixelChecksum(bmp))
    assert(Multimodal.bmpWeightedChecksum(flipped) !=
      Multimodal.bmpWeightedChecksum(bmp))
    // non-BMP refused
    assert(Multimodal.flipBmp(Array[Byte](1, 2, 3)).isEmpty)
    // weighted checksum: documented 0-for-non-BMP behavior also covers
    // truncated payloads and non-24bpp headers (same validation as its
    // siblings — no executor-side ArrayIndexOutOfBounds)
    assert(Multimodal.bmpWeightedChecksum(Array[Byte](1, 2, 3)) == 0L)
    assert(Multimodal.bmpWeightedChecksum(
      java.util.Arrays.copyOf(bmp, bmp.length - 4)) == 0L)
    val mono = bmp.clone(); mono(28) = 1 // bpp 24 -> 1
    assert(Multimodal.bmpWeightedChecksum(mono) == 0L)
  }

  test("m17 decimateWav: per-channel boxcar (no L/R mixing), floorDiv " +
      "on negative sums, odd tail dropped, valid half-rate container") {
    import graft.operators.Multimodal
    // stereo frames (L,R): (100,-3),(200,-4),(7,9) — 3 frames, factor 2
    // keeps ONE output frame: L=(100+200)//2=150, R=(-3+-4)//2=-4
    // (floorDiv: -7/2 -> -4, truncation would give -3); frame 3 dropped
    def le(s: Short) = Array[Byte]((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)
    val data = Seq[Short](100, -3, 200, -4, 7, 9).flatMap(le).toArray
    val wav = Multimodal.buildWav(8000, 2, data)
    val dec = Multimodal.decimateWav(wav, 2).get
    val (rate, ch, n, sum, energy) = Multimodal.wavStats(dec).get
    assert(rate == 4000 && ch == 2)
    assert(n == 2 && sum == 150L - 4L &&
      energy == 150L * 150 + 4L * 4)
    // factor 1 is the identity on samples
    val id1 = Multimodal.decimateWav(wav, 1).get
    assert(Multimodal.wavStats(id1).get._5 ==
      Multimodal.wavStats(wav).get._5)
    // non-WAV refused
    assert(Multimodal.decimateWav(Array[Byte](1, 2, 3), 2).isEmpty)
  }

  test("wavZcr: crossings count flips around the per-window floorDiv " +
      "mean; boundary pairs belong to neither window") {
    import graft.operators.Multimodal
    import spark.implicits._
    // 9 samples, window 4: [10,-10,10,-10 | 5,5,-100,3 | 7]
    // w0: mean 0, flips at all 3 adjacent pairs
    // w1: sum -87 -> floorDiv mean -22 (truncation would give -21),
    //     (5,5) no, (5,-100) flip, (-100,3) flip -> 2
    // w2: single sample, no pairs; the (-10,5) and (3,7) straddling
    //     pairs must count nowhere
    val samples = Seq[Short](10, -10, 10, -10, 5, 5, -100, 3, 7)
    val data = samples.flatMap(s =>
      Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray
    val wav = Multimodal.buildWav(8000, 1, data)
    val media = Seq(Multimodal.MediaRow(1L, wav, "audio/wav", 100))
      .toDS().toDF()
    val rows = Multimodal.wavZcr(spark, media, window = 4)
      .collect().sortBy(_.window_idx)
      .map(r => (r.window_idx, r.n_samples, r.dc_mean, r.n_crossings))
    assert(rows.toSeq == Seq((0, 4, 0L, 3), (1, 4, -22L, 2),
      (2, 1, 7L, 0)))
    // same window grid as wavEnergy: features join per (doc, window)
    val e = Multimodal.wavEnergy(spark, media, window = 4)
      .collect().map(r => (r.window_idx, r.n_samples)).sorted.toSeq
    assert(e == rows.map(r => (r._1, r._2)).toSeq)
  }

  test("RocksDB state store: watermarked agg runs off-heap and matches " +
      "the batch result") {
    // At 100 TB of keyed state the default HDFS-backed in-memory store
    // OOMs the executor heap; RocksDB spills state to local disk with
    // changelog checkpointing. Same query, same answer, different store.
    val ev = graft.Tables.events(spark, sf)
    val ckpt = graft.Tables.scratchDir("graft-rocks-ckpt")
    // provider class is read from the SESSION conf at query start (a
    // writeStream option is silently ignored); a child session isolates
    // the setting from the rest of the suite
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    val stream = graft.streaming.StreamOps.eventsStream(s2, sf)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete").format("memory")
      .queryName("rocks_agg")
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    // prove RocksDB was actually engaged, not silently ignored: its
    // provider reports rocksdb-prefixed custom state metrics in progress
    val stateOps = q.recentProgress.flatMap(_.stateOperators)
    assert(stateOps.nonEmpty)
    assert(q.recentProgress.map(_.json).exists(_.contains("rocksdb")),
      "no rocksdb metrics in progress - provider option not applied")
    val got = s2.table("rocks_agg")
      .select(col("window.start").as("w"), col("event_type"), col("n"))
      .orderBy("w", "event_type").collect().toSeq
    val want = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("event_type"), col("n"))
      .orderBy("w", "event_type").collect().toSeq
    assert(got == want)
  }

  test("streaming graft-xml sink: commit log written; read-back equals " +
      "the streamed input; uncommitted files invisible") {
    import spark.implicits._
    val src = Seq((1, "A", "x <&> y"), (2, "B", "plain"))
      .toDF("id", "_status", "comment")
    val inDir = graft.Tables.scratchDir("graft-s15spec-in")
    src.write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(src.schema).parquet(inDir)
    val outDir = graft.Tables.scratchDir("graft-s15spec-out")
    graft.streaming.StreamOps.runToXmlSink(spark, stream, outDir, "r")
    // FileStreamSink's exactly-once commit log must exist
    assert(new java.io.File(outDir, "_spark_metadata").exists())
    // a stray uncommitted shard is ignored by the metadata-log read
    val stray = new java.io.File(outDir, "part-junk.xml")
    val w = new java.io.PrintWriter(stray)
    w.print("<r id='99'><id>99</id></r>"); w.close()
    val parser = graft.xml.XmlParser.struct("r") { a =>
      struct(a.int("id").as("id"), a.attribute("status").as("status"),
        a.str("comment").as("comment"))
    }
    val got = parser.read(spark, outDir)
      .select(col("parsed.id"), col("parsed.status"), col("parsed.comment"))
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1, "A", "x <&> y"), (2, "B", "plain")))
  }

  test("s18 full outer: inner rows equal the batch join; both null " +
      "wings emit") {
    val rows = graft.queries.ExtensionQueries
      .s18StreamFullOuter(spark, sf).collect()
    val inner = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = graft.Tables.events(spark, sf)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("ve"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
        col("event_id").as("ce"))
    val batchInner = v.join(c, col("user_id") === col("cu") &&
        col("cts") >= col("ts") &&
        col("cts") <= col("ts") + expr("interval 6 hours"))
      .select(col("user_id"), col("ve"), col("ce"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inner == batchInner)
    // full outer's distinguishing feature: BOTH unmatched wings appear
    assert(rows.exists(r => r.isNullAt(2)), "no unmatched-view wing")
    assert(rows.exists(r => r.isNullAt(1)), "no unmatched-click wing")
  }

  test("s17 late data: the armed watermark drops the day-1 replay — no " +
      "window before the cutoff, on-time windows intact") {
    val rows = graft.queries.ExtensionQueries.s17LateData(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val cutoff = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    assert(!rows.exists(_.getTimestamp(0).before(cutoff)),
      "late day-1 windows leaked past the watermark")
    // on-time slice equals the batch aggregation of ts >= cutoff
    val batch = graft.Tables.events(spark, sf)
      .filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getStruct(0).getTimestamp(0), r.getString(1),
        r.getLong(2))).toSet
    val got = rows
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == batch)
  }

  test("s33 dual-sink fan-out: the torn epoch replays under the same " +
      "batch id, both sinks converge to exactly-once content, and an " +
      "unreached failAt is a loud error") {
    import spark.implicits._
    val data = Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L), (2L, 9L),
      (1L, 1L), (3L, 3L), (4L, 100L))
      .toDF("user_id", "cents")
    val inDir = graft.Tables.scratchDir("graft-s33spec-in")
    data.repartition(4).write.mode("overwrite").parquet(inDir)
    val changes = spark.readStream.schema(data.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val (aDir, bDir) = StreamOps.dualSinkFanout(spark, changes,
      failAt = 2L)
    val a = spark.read.parquet(aDir)
    val b = spark.read.parquet(bDir)
    // every epoch present in BOTH sinks, including the torn one
    val batchesA = a.select("batch_id").distinct().as[Int].collect().toSet
    val batchesB = b.select("batch_id").distinct().as[Int].collect().toSet
    assert(batchesA == Set(0, 1, 2, 3) && batchesB == batchesA)
    // exactly-once content: sink totals equal the source, no double
    // count from the replayed epoch in either sink
    val totA = a.agg(sum("n"), sum("cents")).head
    assert(totA.getLong(0) == 8L && totA.getLong(1) == 155L)
    assert(b.count() == 8L)
    assert(b.agg(sum("cents")).head.getLong(0) == 155L)
    // per-user reconciliation across sinks
    val perA = a.groupBy("user_id").agg(sum("cents").as("c"))
      .as[(Long, Long)].collect().toMap
    val perB = b.groupBy("user_id").agg(sum("cents").as("c"))
      .as[(Long, Long)].collect().toMap
    assert(perA == perB)
    assert(perA == Map(1L -> 31L, 2L -> 14L, 3L -> 10L, 4L -> 100L))
    // a failAt that never fires must fail loudly, not silently pass
    val changes2 = spark.readStream.schema(data.schema)
      .option("maxFilesPerTrigger", "4").parquet(inDir)
    val e = intercept[IllegalArgumentException] {
      StreamOps.dualSinkFanout(spark, changes2, failAt = 99L)
    }
    assert(e.getMessage.contains("never fired"))
  }

  test("s35 dropDuplicatesWithinWatermark: live-state drop, post-" +
      "eviction re-emission, late-filter below watermark even for " +
      "unseen keys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val out = in.toDS().toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val name = "s35spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.writeStream.format("memory").outputMode("append")
      .queryName(name).start()
    try {
      // b1: intra-batch dup A dropped (one A emission)
      in.addData(Seq(("A", ts("2024-01-01 10:00:00")),
        ("B", ts("2024-01-01 10:00:00")),
        ("A", ts("2024-01-01 10:01:00"))))
      q.processAllAvailable()
      // b2: A alive (expiry 10:10 >= wm 9:51) -> dropped; C emits and
      // pushes the watermark to 11:50, evicting A and B
      in.addData(Seq(("C", ts("2024-01-01 12:00:00")),
        ("A", ts("2024-01-01 10:02:00"))))
      q.processAllAvailable()
      // b3: A re-occurs past eviction -> EMITS AGAIN; B below the
      // watermark -> late-dropped; D unseen but below watermark ->
      // ALSO dropped (the late filter precedes the dedup state)
      in.addData(Seq(("A", ts("2024-01-01 11:55:00")),
        ("B", ts("2024-01-01 09:00:00")),
        ("D", ts("2024-01-01 11:49:00"))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).as[(String, java.sql.Timestamp)]
      .collect().map { case (k, t) => (k, t.toString) }.toSet
    assert(got == Set(
      ("A", "2024-01-01 10:00:00.0"),
      ("B", "2024-01-01 10:00:00.0"),
      ("C", "2024-01-01 12:00:00.0"),
      ("A", "2024-01-01 11:55:00.0")))
  }

  test("s34 streaming IVF ingest: per-epoch postings partitions, torn " +
      "epoch absorbed by overwrite (no doubled postings), streamed " +
      "index row-identical to the batch rebuild") {
    import spark.implicits._
    import graft.operators.Ann
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = e
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 400)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val inc = e.filter(col("vec_id") >= 400)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val nInc = inc.count()
    val inDir = graft.Tables.scratchDir("graft-s34spec-in")
    inc.repartition(6).write.mode("overwrite").parquet(inDir)
    val idxDir = graft.Tables.scratchDir("graft-s34spec-idx")
    val changes = spark.readStream.schema(inc.schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)
    StreamOps.ivfIngestSink(changes, centroids, idxDir, failAt = 1L)
    val postings = spark.read.parquet(idxDir)
    // 3 epochs (6 files / 2), the torn one exactly once
    assert(postings.select("batch_id").distinct().count() == 3)
    // no doubled postings from the replay: one row per increment vector
    assert(postings.count() == nInc)
    assert(postings.select("id").distinct().count() == nInc)
    // streamed-in assignments == the one-shot batch assignment
    val rebuilt = Ann.ivfIndex(inc, centroids)
      .select(col("id"), col("cid").cast("int").as("cid"))
    val streamed = postings
      .select(col("id"), col("cid").cast("int").as("cid"))
    assert(streamed.except(rebuilt).isEmpty &&
      rebuilt.except(streamed).isEmpty)
  }

  test("dimRefreshEnrich: a dimension published between micro-batches " +
      "takes effect at the next epoch; unmatched keys survive the " +
      "left join as NULL until coverage arrives") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val dimDir = graft.Tables.scratchDir("graft-s40spec-dim")
    val outDir = graft.Tables.scratchDir("graft-s40spec-out")
    Seq((1L, "A")).toDF("dim_dk", "tier")
      .write.mode("overwrite").parquet(dimDir)
    val in = MemoryStream[(Long, Long)]
    val ds = in.toDF().toDF("event_id", "dk")
    val q = StreamOps.dimRefreshEnrichStart(ds, dimDir, "dk", "dim_dk",
      outDir)
    try {
      in.addData((10L, 1L), (11L, 2L)); q.processAllAvailable()
      // publish v2: key 1 changes tier, key 2 gains coverage
      Seq((1L, "B"), (2L, "C")).toDF("dim_dk", "tier")
        .write.mode("overwrite").parquet(dimDir)
      in.addData((12L, 1L), (13L, 2L)); q.processAllAvailable()
    } finally q.stop()
    val got = s2.read.parquet(outDir)
      .select(col("event_id"), col("batch_id").cast("int"), col("tier"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), Option(r.getString(2))))).toMap
    assert(got === Map(
      10L -> ((0, Some("A"))), // v1 tier in epoch 0
      11L -> ((0, None)),      // uncovered key: NULL, not dropped
      12L -> ((1, Some("B"))), // the publish took effect next epoch
      13L -> ((1, Some("C")))))
  }
}
