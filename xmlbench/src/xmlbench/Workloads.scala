package xmlbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.xml.{CompiledXmlParser, XmlFastScan, XmlParser, XmlRecordScanner}

/** A workload: set-up (its inputs), then whole rounds of the same
  * operations, each checked against the generator's own aggregates. */
abstract class Workload(val ctx: Ctx) {
  protected def spark = ctx.spark
  def opsPerRound: Int
  /** Untimed rounds between input generation and the timed phase. */
  def warmRounds: Int
  /** Generates the inputs (and starts what the rounds need). */
  def setup(): Unit
  def round(): Seq[Op]
  def endToEnd(good: Seq[Op]): Map[String, Double]
  def perLayer(good: Seq[Op]): Map[String, Double]
  /** False when an isolated layer job of the traced run miscounted. */
  var layerChecksOk = true
  def close(): Unit = ()

  protected def attempt(what: String)(f: => Op): Op =
    try f
    catch { case e: Exception =>
      Op(ok = false, timed = false, 0, 0,
        s"$what: $e${Option(e.getCause).map(" / " + _).getOrElse("")}"
          .take(600)) }

  /** Runs `df` with `fold` over every partition of its typed rows, merges
    * the partition summaries and compares them with `expected`. The wall
    * time covers building, planning and running the query. */
  protected def batchOp[S <: AnyRef: ClassTag](what: String, bytes: Long,
      build: () => DataFrame, fold: Iterator[InternalRow] => Iterator[S],
      merge: (S, S) => S, check: S => Option[String],
      nullCells: S => Long): Op = attempt(what) {
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val qe = build().queryExecution
    val planMs =
      if (!ctx.traced) Double.NaN
      else {
        val p0 = System.nanoTime()
        qe.executedPlan
        (System.nanoTime() - p0) / 1e6
      }
    val parts = qe.toRdd.mapPartitions(fold).collect()
    val wall = (System.nanoTime() - t0) / 1e6
    val e1 = System.currentTimeMillis()
    val stats = ctx.opStats()
    if (parts.isEmpty) throw new IllegalStateException("no partitions")
    val all = parts.reduce(merge)
    val err = check(all)
    Op(err.isEmpty, timed = true, wall, bytes, err.map(what + ": " + _)
      .getOrElse(""), stats, planMs,
      stats.map(_.outsideJobsMs(e0, e1)).getOrElse(Double.NaN),
      Map("null_cells" -> nullCells(all).toDouble))
  }

  protected def mbPerS(bytes: Long, ms: Double): Double = bytes / 1e3 / ms

  protected def med(xs: Seq[Double]): Double = Stats.median(xs)

  /** Per-layer figures that come from the timed operations themselves. */
  protected def opLayers(good: Seq[Op]): Map[String, Double] = {
    val st = good.flatMap(_.stats)
    def m(f: OpStats => Double) = med(st.map(f))
    // many operations see no collection, so a median would often read 0
    def mean(f: OpStats => Double) = st.map(f).sum / st.length
    Map(
      "plan.build_ms" -> med(good.map(_.planMs)),
      "plan.outside_jobs_ms" -> med(good.map(_.outsideMs)),
      "parse.null_cells" -> med(good.map(_.extra("null_cells"))),
      "spark.jobs" -> m(_.jobs), "spark.stages" -> m(_.stages),
      "spark.tasks" -> m(_.tasks), "spark.task_cpu_ms" -> m(_.taskCpuMs),
      "spark.gc_ms" -> mean(_.gcMs), "spark.task_skew" -> m(_.taskSkew),
      "spark.shuffle_write_bytes" -> m(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> m(_.spillBytes.toDouble),
      "spark.peak_exec_mem_mb" -> m(_.peakExecMemMb))
  }

  /** Batch end-to-end figures: medians over the timed operations. */
  protected def batchEndToEnd(good: Seq[Op]): Map[String, Double] = {
    val p50 = med(good.map(_.wallMs))
    Map("throughput_mb_s" -> med(good.map(o => mbPerS(o.bytes, o.wallMs))),
      "job_p50_ms" -> p50,
      // the whole input is in place when a batch operation starts, so its
      // ingest latency is its wall time
      "ingest_latency_p50_ms" -> p50)
  }

  protected def xmlFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".xml"))
      .toList.sortBy(_.getFileName.toString)
    finally s.close()
  }
}

object Parsers {
  val flatCols: Seq[String] =
    Seq("id", "seq", "qty", "flag", "amt", "ts", "status", "missing")

  /** A root attribute, one child for each of the six scalar parsers, and a
    * member that no record has. */
  def flat: CompiledXmlParser = XmlParser.struct("rec") { a =>
    struct(
      a.attribute("id").cast("long").as("id"),
      a.int("seq").as("seq"),
      a.nullInt("qty").as("qty"),
      a.nullBool("flag").as("flag"),
      a.nullDecimal("amt").as("amt"),
      a.nullDate("ts").as("ts"),
      a.str("status").as("status"),
      a.nullInt("missing").as("missing"))
  }

  def probe: CompiledXmlParser = XmlParser.struct("rec") { a =>
    struct(a.attribute("a").as("a"), a.int("id").as("id"))
  }

  /** obj, an array of two alternative child tags in document order with a
    * container attribute, a `*` wildcard with `tag`, root attributes, one
    * `custom` member and `nullInt` over planted garbage. */
  def nested: CompiledXmlParser = {
    val ship = XmlParser.fragment { f =>
      struct(f.str("city").as("city"), f.nullInt("zip").as("zip"),
        f.tag.as("tag"))
    }
    XmlParser.struct("order") { a =>
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
        a.obj("ext_*") { e =>
          struct(e.tag.as("tag"), e.attribute("w").as("w"))
        }.as("ext"),
        a.str("note").as("note"),
        a.nullInt("qty").as("qty"),
        a.custom("ship")(ship.parse).as("ship"))
    }
  }
}

/** The isolated layer jobs of the traced run, over one workload's inputs:
  * the rowTag split alone, the parse alone over records already split and
  * cached, the write alone, and single-threaded baselines of the first
  * two. Each timed job runs `reps` times; the median counts. */
final class LayerSuite(ctx: Ctx, rowTag: String, parser: CompiledXmlParser,
    sinkCols: Column => Seq[Column], reps: Int = 3) {
  private val spark = ctx.spark
  var ok = true

  private def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }
  private def medianMs(f: => Unit): Double =
    Stats.median(Seq.fill(reps)(timeMs(f)))

  private def check(what: String, cond: Boolean): Unit = if (!cond) {
    ok = false
    System.err.println(s"xmlbench: layer check failed: $what")
  }

  private def bytesOf(files: Seq[Path]): Long = files.map(Files.size).sum

  /** `scan.*`: `graft-xml` read of `xmlDir` with a noop write, and the
    * scanner alone on one thread over `oneFile` held in memory. */
  def scan(xmlDir: Path, files: Seq[Path], expectRecords: Long,
      oneFile: Path, oneFileRecords: Long): Map[String, Double] = {
    val read = () => spark.read.format("graft-xml").option("rowTag", rowTag)
      .load(xmlDir.toString)
    ctx.listener.foreach(_.take())
    val ms = medianMs(read().write.format("noop").mode("overwrite").save())
    val recs = ctx.opStats().map(_.recordsRead / reps).getOrElse(0L)
    check(s"split records $recs != $expectRecords", recs == expectRecords)
    val buf = Files.readAllBytes(oneFile)
    val tag = rowTag.getBytes("UTF-8")
    var n1 = 0L
    val ms1 = medianMs {
      val in = new java.io.ByteArrayInputStream(buf)
      val sc = new XmlRecordScanner(() => in.read(), tag, 0L)
      n1 = 0
      while (sc.nextRecord(Long.MaxValue) != null) n1 += 1
    }
    check(s"1-core split records $n1 != $oneFileRecords", n1 == oneFileRecords)
    Map("scan.split_mb_s" -> bytesOf(files) / 1e3 / ms,
      "scan.split_mb_s_1core" -> buf.length / 1e3 / ms1,
      "scan.records" -> recs.toDouble)
  }

  /** `parse.*`: parse and project over cached records (`value` column);
    * the single-thread figure runs one task over `subset`; the fast-path
    * counts replay the engine's byte-level calls ([[FastSites]]) on every
    * record. */
  def parse(records: DataFrame, subset: DataFrame): Map[String, Double] = {
    val recs = records.persist(StorageLevel.MEMORY_ONLY)
    val sub = subset.coalesce(1).persist(StorageLevel.MEMORY_ONLY)
    try {
      def bytes(df: DataFrame): Long =
        df.agg(sum(octet_length(col("value")))).head().getLong(0)
      val (b, b1) = (bytes(recs), bytes(sub))
      val parsed = (df: DataFrame) =>
        df.select(parser.parse(col("value")).as("p")).select(col("p.*"))
          .write.format("noop").mode("overwrite").save()
      val ms = medianMs(parsed(recs))
      val ms1 = medianMs(parsed(sub))
      val (acc, bail) = FastSites.count(recs,
        recs.select(parser.parse(col("value"))).queryExecution.analyzed)
      Map("parse.mb_s" -> b / 1e3 / ms, "parse.mb_s_1core" -> b1 / 1e3 / ms1,
        "parse.fast_accept_rows" -> acc.toDouble,
        "parse.fast_bail_rows" -> bail.toDouble)
    } finally { recs.unpersist(); sub.unpersist() }
  }

  /** `write.*`: the parsed rows of `records`, cached, written alone. */
  def write(records: DataFrame, out: Path): Map[String, Double] = {
    val rows = records.select(parser.parse(col("value")).as("p"))
      .select(sinkCols(col("p")): _*).persist(StorageLevel.MEMORY_ONLY)
    try {
      rows.count()
      val ms = medianMs(rows.write.format("graft-xml")
        .option("rowTag", rowTag).mode("overwrite").save(out.toString))
      val s = Files.list(out)
      val written = try s.iterator().asScala.filter(p =>
          p.getFileName.toString.endsWith(".xml")).map(Files.size).sum
        finally s.close()
      check("write produced no bytes", written > 0)
      Map("write.mb_s" -> written / 1e3 / ms, "write.bytes" -> written.toDouble)
    } finally rows.unpersist()
  }

  /** `stream.*` for a batch workload: a short closed-loop stream of
    * `files` through `readStream` and the `graft-xml` sink. */
  def streamProbe(dir: Path, files: Seq[Path]): Map[String, Double] = {
    val rig = new StreamRig(spark, dir, parser, rowTag, sinkCols(col("parsed")))
    rig.start()
    try {
      val progress = files.map { f =>
        Files.copy(f, rig.stage.resolve(f.getFileName))
        rig.roundTrip(f.getFileName.toString)._4
      }
      StreamLayers.of(progress.map(_.durationMs.asScala.toMap
        .map { case (k, v) => k -> v.toDouble }))
    } finally rig.stop()
  }
}

/** The engine's byte-level fast path as a parse plan uses it. Every
  * distinct expression in the plan that first tries `XmlFastScan`
  * (`XmlFlatParseExpr`, `XmlChildrenExpr`, `XmlChildrenAtExpr`,
  * `XmlFirstChildExpr`) is a site; its input is evaluated over the
  * records, and the site's own fast-scan call, with the site's patterns
  * and capture flags, is made on each non-null input. */
object FastSites {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.graft.ColumnBridge
  import graft.xml.{XmlChildrenAtExpr, XmlChildrenExpr, XmlFirstChildExpr,
    XmlFlatParseExpr, XmlStax}

  private def call(e: Expression): Option[UTF8String => AnyRef] = e match {
    case x: XmlFlatParseExpr =>
      val spec = XmlFastScan.FlatSpec.of(x.schema).get
      Some(u => XmlFastScan.flatStruct(u, spec))
    case x: XmlChildrenExpr =>
      val key = XmlStax.specKey(x.patterns, x.fromRoot, x.needOuter,
        x.needValue)
      Some(u => XmlFastScan.children(u, x.patterns, key, x.fromRoot,
        x.needOuter, x.needValue))
    case x: XmlChildrenAtExpr =>
      val key = "at:" + x.container + ":" + XmlStax.specKey(x.patterns,
        fromRoot = true, x.needOuter, x.needValue)
      Some(u => XmlFastScan.childrenAt(u, x.container, x.patterns, key,
        x.needOuter, x.needValue))
    case x: XmlFirstChildExpr =>
      val key = XmlStax.specKey(x.capturePatterns, x.fromRoot, x.needOuter,
        x.needValue)
      Some(u => XmlFastScan.children(u, x.capturePatterns, key, x.fromRoot,
        x.needOuter, x.needValue))
    case _ => None
  }

  /** (accepted, bailed) fast-scan calls over `records`, summed over the
    * sites of `plan`, whose inputs must read only `records`' columns. */
  def count(records: DataFrame, plan: LogicalPlan): (Long, Long) = {
    val sites = scala.collection.mutable.LinkedHashMap.empty[Expression,
      (Expression, UTF8String => AnyRef)]
    plan.expressions.foreach(_.foreach { e =>
      call(e).foreach(f => sites.getOrElseUpdate(e.canonicalized, (e, f)))
    })
    sites.values.toSeq.map { case (site, f) =>
      val in = records.select(ColumnBridge.column(site.children.head))
      val parts = in.queryExecution.toRdd.mapPartitions { it =>
        var acc, bail = 0L
        while (it.hasNext) {
          val r = it.next()
          if (!r.isNullAt(0)) {
            if (f(r.getUTF8String(0)) eq XmlFastScan.Bail) bail += 1
            else acc += 1
          }
        }
        Iterator.single((acc, bail))
      }.collect()
      (parts.map(_._1).sum, parts.map(_._2).sum)
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}

object StreamLayers {
  private val keys = Seq(
    "stream.trigger_ms" -> "triggerExecution",
    "stream.latest_offset_ms" -> "latestOffset",
    "stream.get_batch_ms" -> "getBatch",
    "stream.query_planning_ms" -> "queryPlanning",
    "stream.add_batch_ms" -> "addBatch",
    "stream.wal_commit_ms" -> "walCommit",
    "stream.commit_offsets_ms" -> "commitOffsets")

  /** Per-batch means of the progress durations, plus the batch count.
    * Spark reports whole milliseconds; a median of a few of them would
    * often repeat exactly from run to run. */
  def of(batches: Seq[Map[String, Double]]): Map[String, Double] =
    keys.map { case (name, k) =>
      name -> batches.map(_.getOrElse(k, 0.0)).sum / batches.length
    }.toMap + ("stream.batches" -> batches.length.toDouble)
}

/** `xml_flat_scan`: a directory of rootless flat-record files read with
  * `XmlParser.struct("rec")…read`, every typed column materialized; plus,
  * every round, the splitter probe. */
final class FlatScan(c: Ctx) extends Workload(c) {
  val FileCount = 8
  val PerFile = 15000
  private val n = FileCount * PerFile
  private val dir = ctx.work.resolve("flat")
  private val probeDir = ctx.work.resolve("probe")
  private val parser = Parsers.flat
  private val probeParser = Parsers.probe
  private val expected = new FlatSummary(n)
  private var bytes = 0L
  val opsPerRound = 2
  val warmRounds = 6

  def setup(): Unit = {
    bytes = Corpus.writeFlat(dir, ctx.seed, FileCount, PerFile, expected)
    Corpus.write(probeDir.resolve("probe.xml"), Corpus.ProbeXml)
  }

  private def scanOp(): Op = batchOp[FlatSummary]("flat scan", bytes,
    () => parser.read(spark, dir.toString)
      .select(Parsers.flatCols.map(f => col("parsed." + f)): _*),
    new Checks.Flat(n), _ merge _, expected.diff, _.nullCells)

  /** Reads the probe file; the rowTag split must give its two records. */
  private def probeOp(): Op = attempt("splitter probe") {
    val got = probeParser.read(spark, probeDir.toString)
      .select(col("parsed.a"), col("parsed.id")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    val ok = got.length == 2 && got.toSet == Corpus.ProbeExpected
    ctx.opStats()
    Op(ok, timed = false, 0, 0,
      if (ok) "" else s"splitter probe: expected ${Corpus.ProbeExpected}, " +
        s"got ${got.mkString("[", ", ", "]")}")
  }.copy(probe = true)

  def round(): Seq[Op] = Seq(scanOp(), probeOp())

  def endToEnd(good: Seq[Op]): Map[String, Double] = batchEndToEnd(good)

  def perLayer(good: Seq[Op]): Map[String, Double] = {
    val layers = new LayerSuite(ctx, "rec", parser,
      p => Parsers.flatCols.map(f => p.getField(f).as(if (f == "id") "_id" else f)))
    val files = xmlFiles(dir)
    val records = spark.read.format("graft-xml").option("rowTag", "rec")
      .load(dir.toString)
    val subset = spark.read.format("graft-xml").option("rowTag", "rec")
      .load(files.head.toString)
    val out = opLayers(good) ++
      layers.scan(dir, files, n.toLong, files.head, PerFile.toLong) ++
      layers.parse(records, subset) ++
      layers.write(records, ctx.work.resolve("layer-write")) ++
      layers.streamProbe(ctx.work.resolve("layer-stream"), files)
    layerChecksOk = layers.ok
    out
  }
}

/** `xml_nested_parse`: XML documents in a string column of parquet files
  * written at set-up, parsed with `CompiledXmlParser.parse` and a nested
  * spec. The rowTag splitter does no work here. */
final class NestedParse(c: Ctx) extends Workload(c) {
  val Docs = 48000
  /** Rootless XML files holding the same documents (traced run only). */
  val XmlParts = 8
  private val dir = ctx.work.resolve("nested-parquet")
  private val xmlDir = ctx.work.resolve("nested-xml")
  private val parser = Parsers.nested
  private val expected = new NestedSummary(Docs)
  private var bytes = 0L
  val opsPerRound = 1
  val warmRounds = 7

  def setup(): Unit = {
    // expected aggregates and byte count here; the parquet files
    // from the same generator, one slice of ids per task
    val xml = if (ctx.traced) Array.fill(XmlParts)(new java.lang.StringBuilder)
      else null
    val sb = new java.lang.StringBuilder(1024)
    var id = 0
    while (id < Docs) {
      sb.setLength(0)
      Corpus.nestedDoc(sb, ctx.seed, id, expected)
      bytes += sb.toString.getBytes("UTF-8").length
      if (xml != null) xml(id % XmlParts).append(sb).append('\n')
      id += 1
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("doc", StringType)))
    spark.createDataFrame(NestedParse.docs(spark, ctx.seed, Docs), schema)
      .write.parquet(dir.toString)
    // the same documents as rootless XML files, for the split layer
    if (xml != null) xml.zipWithIndex.foreach { case (b, p) =>
      Corpus.write(xmlDir.resolve(f"part-$p%03d.xml"), b)
    }
  }

  def round(): Seq[Op] = Seq(batchOp[NestedSummary]("nested parse", bytes,
    () => spark.read.parquet(dir.toString)
      .select(parser.parse(col("doc")).as("p")).select(col("p.*")),
    new Checks.Nested(Docs), _ merge _, expected.diff, _.nullCells))

  def endToEnd(good: Seq[Op]): Map[String, Double] = batchEndToEnd(good)

  def perLayer(good: Seq[Op]): Map[String, Double] = {
    val layers = new LayerSuite(ctx, "order", parser, p =>
      Seq("id", "region", "cust", "lines", "ext", "note", "qty", "ship")
        .map(f => p.getField(f).as(f)))
    val files = xmlFiles(xmlDir)
    val docs = spark.read.parquet(dir.toString)
    val records = docs.select(col("doc").as("value"))
    val subset = docs.where(col("id") % 8 === 0).select(col("doc").as("value"))
    val out = opLayers(good) ++
      layers.scan(xmlDir, files, Docs.toLong, files.head,
        (Docs / XmlParts).toLong) ++
      layers.parse(records, subset) ++
      layers.write(records, ctx.work.resolve("layer-write")) ++
      layers.streamProbe(ctx.work.resolve("layer-stream"), files)
    layerChecksOk = layers.ok
    out
  }
}

object NestedParse {
  /** The documents as rows (id, doc), generated in four tasks. */
  def docs(spark: org.apache.spark.sql.SparkSession, seed: Long,
      n: Int): org.apache.spark.rdd.RDD[Row] =
    spark.sparkContext.parallelize(0 until 4, 4).flatMap { p =>
      val sb = new java.lang.StringBuilder(1024)
      val scratch = new NestedSummary(n)
      Iterator.range(p * n / 4, (p + 1) * n / 4).map { id =>
        sb.setLength(0)
        Corpus.nestedDoc(sb, seed, id, scratch)
        Row(id.toLong, sb.toString)
      }
    }
}

/** `xml_stream_roundtrip`: one closed-loop client places flat-record files
  * one at a time into a directory watched by `XmlParser.readStream`; the
  * query writes to a `graft-xml` file sink, and the next file is placed
  * only after the previous file's rows are committed. The sink output of
  * each file is read back with the JDK's StAX reader and must hold every
  * id of that file exactly once, with every typed value intact. */
final class StreamRoundTrip(c: Ctx) extends Workload(c) {
  val PerFile = 5000
  private val parser = Parsers.flat
  private val sinkCols = (p: Column) => Parsers.flatCols.map(f =>
    p.getField(f).as(if (f == "id") "_id" else f))
  private val rig = new StreamRig(spark, ctx.work.resolve("stream"), parser,
    "rec", sinkCols(col("parsed")))
  private var next = 0
  val opsPerRound = 1
  val warmRounds = 16

  def setup(): Unit = rig.start()

  def round(): Seq[Op] = Seq(attempt("stream round trip") {
    val k = next
    next += 1
    val lo = k.toLong * PerFile
    val expected = new FlatSummary(PerFile, lo)
    val name = f"f-$k%06d.xml"
    val bytes = Corpus.write(rig.stage.resolve(name),
      Corpus.flatText(ctx.seed, lo, lo + PerFile, expected))
    ctx.listener.foreach(_.take())
    val (latNs, e0, e1, progress) = rig.roundTrip(name)
    val stats = ctx.opStats()
    val observed = new FlatSummary(PerFile, lo)
    SinkReader.flat(rig.newSinkFiles(), observed)
    val err =
      if (progress.numInputRows != PerFile)
        Some(s"batch read ${progress.numInputRows} rows, expected $PerFile")
      else expected.diff(observed)
    val planMs =
      if (!ctx.traced) Double.NaN
      else {
        // the same read, parse and projection as one batch, planned alone
        val qe = parser.read(spark, rig.in.resolve(name).toString)
          .select(sinkCols(col("parsed")): _*).queryExecution
        val p0 = System.nanoTime()
        qe.executedPlan
        (System.nanoTime() - p0) / 1e6
      }
    val durations = progress.durationMs.asScala.toMap
      .map { case (k, v) => k -> v.toDouble }
    Op(err.isEmpty, timed = true, latNs / 1e6, bytes,
      err.map("stream round trip " + name + ": " + _).getOrElse(""), stats,
      planMs, stats.map(_.outsideJobsMs(e0, e1)).getOrElse(Double.NaN),
      durations + ("null_cells" -> observed.nullCells.toDouble))
  })

  def endToEnd(good: Seq[Op]): Map[String, Double] = Map(
    "throughput_mb_s" -> med(good.map(o => mbPerS(o.bytes, o.wallMs))),
    "ingest_latency_p50_ms" -> med(good.map(_.wallMs)),
    // the engine-side wall time of one data batch
    "job_p50_ms" -> med(good.map(_.extra("triggerExecution"))))

  def perLayer(good: Seq[Op]): Map[String, Double] = {
    // the layer jobs run over a fixed copy of the first placed files
    val layerDir = Files.createDirectories(ctx.work.resolve("stream-layer"))
    xmlFiles(rig.in).take(8).foreach(f =>
      Files.copy(f, layerDir.resolve(f.getFileName)))
    val files = xmlFiles(layerDir)
    val layers = new LayerSuite(ctx, "rec", parser, sinkCols)
    val read = (p: Path) => spark.read.format("graft-xml")
      .option("rowTag", "rec").load(p.toString)
    val out = opLayers(good) ++ StreamLayers.of(good.map(_.extra)) ++
      layers.scan(layerDir, files, files.length.toLong * PerFile,
        files.head, PerFile.toLong) ++
      layers.parse(read(layerDir), read(files.head)) ++
      layers.write(read(layerDir), ctx.work.resolve("layer-write"))
    layerChecksOk = layers.ok
    out
  }

  override def close(): Unit = rig.stop()
}
