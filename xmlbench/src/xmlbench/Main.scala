package xmlbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One attempted operation. `wallMs`/`bytes` count only when `ok`.
  * `probe` marks the splitter probe, the one operation that may fail
  * without making the run incorrect. */
final case class Op(ok: Boolean, timed: Boolean, wallMs: Double,
    bytes: Long, error: String = "", stats: Option[OpStats] = None,
    planMs: Double = Double.NaN, outsideMs: Double = Double.NaN,
    extra: Map[String, Double] = Map.empty, probe: Boolean = false)

/** Command line: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --t0-ms EPOCH_MS`. Prints progress to stderr and, as the last line of
  * stdout, one JSON object with `correct`, `attempted`, `failed` and
  * `metrics`. `--t0-ms` is when the launcher started the JVM, so set-up
  * time covers JVM start too. */
object Main {

  def main(args: Array[String]): Unit = {
    exitWithParent()
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val t0Ms = opt("t0-ms").toLong

    val spark = session(work)
    phase(t0Ms, "session")
    val ctx = new Ctx(spark, work, seed, traced, t0Ms)
    val wl = try workloadOf(workload, ctx)
      catch { case e: Exception => spark.stop(); throw e }
    try {
      wl.setup()
      phase(t0Ms, "inputs")
      // warm-up: enough rounds for the JIT to reach steady code; the
      // counts were chosen from per-operation time series (README)
      (1 to wl.warmRounds).foreach(_ => wl.round())
      phase(t0Ms, "warm-up")
      val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
      // timed phase: whole rounds until `seconds` have passed
      ctx.listener.foreach(_.take())
      val ops = ArrayBuffer.empty[Op]
      val start = System.nanoTime()
      while ((System.nanoTime() - start) / 1e9 < seconds) ops ++= wl.round()
      val rounds = ops.length / wl.opsPerRound
      ops.filter(!_.ok).map(_.error).distinct.take(3).foreach(e =>
        System.err.println(s"xmlbench: failed operation: $e"))
      val good = ops.filter(o => o.ok && o.timed)
      System.err.println("xmlbench: op ms " +
        good.map(o => f"${o.wallMs}%.0f").mkString(" "))
      val e2e = wl.endToEnd(good.toSeq) ++ Map(
        "setup_s" -> setupS, "peak_rss_mb" -> Stats.peakRssMb())
      System.err.println(s"xmlbench: $workload seed=$seed rounds=$rounds " +
        s"timed_samples=${good.length} attempted=${ops.length} " +
        s"failed=${ops.count(!_.ok)}")
      val metrics =
        if (!traced) e2e
        else {
          // end-to-end figures of the traced run, for the tracing overhead
          println("xmlbench traced end_to_end " + Json.metrics(e2e))
          wl.perLayer(good.toSeq)
        }
      // every operation but the splitter probe must pass its check
      val correct = wl.layerChecksOk && good.nonEmpty &&
        ops.forall(o => o.ok || o.probe)
      println(Json.result(correct, ops.length, ops.count(!_.ok), metrics))
    } finally {
      wl.close()
      spark.stop()
    }
  }

  def workloadOf(name: String, ctx: Ctx): Workload = name match {
    case "xml_flat_scan"        => new FlatScan(ctx)
    case "xml_nested_parse"     => new NestedParse(ctx)
    case "xml_stream_roundtrip" => new StreamRoundTrip(ctx)
    case other => throw new IllegalArgumentException("unknown workload " + other)
  }

  def phase(t0Ms: Long, what: String): Unit =
    System.err.println(f"xmlbench: $what done at " +
      f"${(System.currentTimeMillis() - t0Ms) / 1000.0}%.2f s")

  /** Ends this JVM when the launcher that started it is gone, so a killed
    * run leaves no process behind. */
  private def exitWithParent(): Unit =
    ProcessHandle.current().parent().ifPresent { parent =>
      val t = new Thread(() => {
        while (parent.isAlive) Thread.sleep(500)
        Runtime.getRuntime.halt(3)
      })
      t.setDaemon(true)
      t.start()
    }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .appName("xmlbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What every workload shares: the session, its scratch directory, the
  * seed, and in the traced run the per-operation listener. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val traced: Boolean, val t0Ms: Long) {
  val listener: Option[OpListener] =
    if (traced) {
      val l = new OpListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  /** Listener figures of the operation that just ended (traced run). */
  def opStats(): Option[OpStats] = listener.map { l =>
    org.apache.spark.xmlbench.ListenerDrain(spark.sparkContext)
    l.take()
  }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private val units = Map(
    "setup_s" -> "s", "throughput_mb_s" -> "MB/s", "job_p50_ms" -> "ms",
    "ingest_latency_p50_ms" -> "ms", "peak_rss_mb" -> "MB")

  /** Unit of a metric, from its name. */
  def unit(name: String): String = units.getOrElse(name,
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("mb_s") || name.endsWith("mb_s_1core")) "MB/s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("bytes")) "bytes"
    else if (name == "spark.task_skew") "ratio"
    else "count")

  def metrics(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "${unit(k)}"}"""
    }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
      m: Map[String, Double]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${metrics(m)}}"""
}
