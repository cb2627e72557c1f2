package xmlbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.xml.CompiledXmlParser

/** Progress events of batches that read input, stamped on arrival. The
  * event is posted after the batch's sink commit and offset commit, so its
  * arrival marks the moment the batch's rows are committed. */
final class ProgressQueue extends StreamingQueryListener {
  val events = new LinkedBlockingQueue[(Long, Long, StreamingQueryProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      events.put((System.nanoTime(), System.currentTimeMillis(), e.progress))
}

/** A closed-loop client of one streaming query: `XmlParser.readStream`
  * over a watched directory, written to a `graft-xml` file sink. Files are
  * written to a staging directory and renamed into the watched one, one at
  * a time; [[roundTrip]] returns when that file's batch is committed. */
final class StreamRig(spark: SparkSession, dir: Path,
    parser: CompiledXmlParser, rowTag: String, sinkCols: Seq[Column]) {
  val in: Path = Files.createDirectories(dir.resolve("in"))
  val stage: Path = Files.createDirectories(dir.resolve("stage"))
  val out: Path = dir.resolve("out")
  private val progress = new ProgressQueue
  private val seen = scala.collection.mutable.HashSet.empty[String]
  private var query: StreamingQuery = _

  def start(): Unit = {
    spark.streams.addListener(progress)
    query = parser.readStream(spark, in.toString)
      .select(sinkCols: _*)
      .writeStream.format("graft-xml").option("rowTag", rowTag)
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start(out.toString)
  }

  /** Renames the staged `name` into the watched directory and waits for
    * its batch. Returns (latency ns, rename epoch ms, commit epoch ms,
    * progress). */
  def roundTrip(name: String): (Long, Long, Long, StreamingQueryProgress) = {
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    Files.move(stage.resolve(name), in.resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
    val ev = progress.events.poll(120, TimeUnit.SECONDS)
    if (ev == null) {
      val why = Option(query.exception.orNull).map(_.toString).getOrElse("")
      throw new IllegalStateException(s"no commit for $name in 120 s $why")
    }
    (ev._1 - t0, e0, ev._2, ev._3)
  }

  /** Sink files that appeared since the previous call. */
  def newSinkFiles(): Seq[Path] = {
    val s = Files.list(out)
    try {
      val fresh = s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".xml") && !n.startsWith(".") && !n.startsWith("_") &&
          !seen.contains(n)
      }.toList
      fresh.foreach(p => seen += p.getFileName.toString)
      fresh.sortBy(_.getFileName.toString)
    } finally s.close()
  }

  def stop(): Unit = {
    if (query != null) { query.stop(); query = null }
    spark.streams.removeListener(progress)
  }
}

/** Reads `graft-xml` sink files back with the JDK's own StAX reader (not
  * the engine's, nor the Woodstox reader on Spark's class path). */
object SinkReader {
  private val factory = javax.xml.stream.XMLInputFactory.newDefaultFactory()

  /** Folds every flat `rec` element of `files` into `into`. */
  def flat(files: Seq[Path], into: FlatSummary): Unit = files.foreach { f =>
    import javax.xml.stream.XMLStreamConstants._
    val body = new java.io.SequenceInputStream(java.util.Collections
      .enumeration(java.util.Arrays.asList[java.io.InputStream](
        new java.io.ByteArrayInputStream("<all>".getBytes("UTF-8")),
        Files.newInputStream(f),
        new java.io.ByteArrayInputStream("</all>".getBytes("UTF-8")))))
    val r = factory.createXMLStreamReader(body, "UTF-8")
    try {
      var fields = Map.empty[String, String]
      var id: java.lang.Long = null
      var depth = 0
      while (r.hasNext) {
        r.next() match {
          case START_ELEMENT =>
            depth += 1
            if (depth == 2) {
              fields = Map.empty
              id = Option(r.getAttributeValue(null, "id"))
                .map(s => java.lang.Long.valueOf(s.toLong)).orNull
            } else if (depth == 3) {
              val name = r.getLocalName
              fields += name -> r.getElementText
              depth -= 1 // getElementText consumed the end tag
            }
          case END_ELEMENT =>
            if (depth == 2) {
              def num[T](k: String)(f: String => T): Option[T] =
                fields.get(k).map(f)
              into.add(id,
                num("seq")(_.toInt).getOrElse(Int.MinValue),
                num("qty")(s => Integer.valueOf(s.toInt)).orNull,
                num("flag")(s => java.lang.Boolean.valueOf(s.toBoolean)).orNull,
                num("amt")(s => java.lang.Long.valueOf(new java.math.BigDecimal(s)
                  .movePointRight(2).longValueExact())).orNull,
                num("ts")(s => java.lang.Long.valueOf(
                  java.time.LocalDateTime.parse(s)
                    .toEpochSecond(java.time.ZoneOffset.UTC))).orNull,
                fields.getOrElse("status", null),
                num("missing")(s => Integer.valueOf(s.toInt)).orNull)
            }
            depth -= 1
          case _ =>
        }
      }
    } finally { r.close(); body.close() }
  }
}
