package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.util.CompressionCodecs
import org.apache.spark.sql.execution.datasources.{CodecStreams, FileFormat,
  OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.xml.XmlRecordScanner

/** `graft-xml`: a splittable FileFormat that emits one `value: string` row
  * per `rowTag` XML element — the byte-range scan of
  * [[graft.xml.XmlRecordScanner]], surfaced as a first-class Spark data
  * source so it works in BOTH `spark.read` and
  * `spark.readStream` (the file stream source reads through a FileFormat's
  * buildReader, so streaming XML is now split-based and memory-bounded:
  * a 10 GB drop file becomes ~80 independent 128 MB-split tasks instead of
  * one wholetext string).
  *
  * Usage: `spark.read.format("graft-xml").option("rowTag", "rec")
  * .load(dir)`; streaming likewise with an explicit `value string` schema
  * (file stream sources require one). Compressed files decode through
  * their Hadoop codec as a single split each. The scanner reads the file
  * stream (or the codec's stream) directly in 64 KiB blocks, so no
  * buffering wrapper sits in between.
  *
  * The write side ([[XmlOutputWriter]]) makes the format symmetric:
  * `df.write.format("graft-xml").option("rowTag", "rec").save(dir)` emits
  * one rowTag element per row, attributes via `attributePrefix`-named
  * struct fields, arrays as repeated elements — every shape the read DSL
  * extracts, so data round-trips write -> scan -> parse.
  *
  * Lives in the `org.apache.spark.sql.graft` bridge package because
  * `SerializableConfiguration` (the standard way to ship the Hadoop conf
  * to executors) is `private[spark]`. */
class XmlRowTagFileFormat extends FileFormat with DataSourceRegister
    with Serializable {

  override def shortName(): String = "graft-xml"

  override def toString: String = "GraftXml"

  override def inferSchema(sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    Some(XmlRowTagFileFormat.schema)

  /** Write side: `df.write.format("graft-xml").option("rowTag", "rec")
    * .save(dir)` — see [[XmlOutputWriter]] for the row->XML mapping.
    * Schema validation happens here (plan time), not mid-write. */
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val rowTag = options.getOrElse("rowTag",
      throw new IllegalArgumentException(
        "graft-xml requires the rowTag option"))
    require(rowTag.nonEmpty, "rowTag must be non-empty")
    val rootTag = options.get("rootTag").filter(_.nonEmpty)
    val attrPrefix = options.getOrElse("attributePrefix", "_")
    require(attrPrefix.nonEmpty, "attributePrefix must be non-empty")
    XmlOutputWriter.validateSchema(dataSchema, attrPrefix)
    options.get("compression").foreach { c =>
      CompressionCodecs.setCodecConfiguration(job.getConfiguration,
        CompressionCodecs.getCodecClassName(c))
    }
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String =
        ".xml" + CodecStreams.getCompressionExtension(context)
      override def newInstance(path: String, dataSchema: StructType,
          context: TaskAttemptContext): OutputWriter =
        new XmlOutputWriter(path, dataSchema, rowTag, rootTag, attrPrefix,
          context)
    }
  }

  override def isSplitable(sparkSession: SparkSession,
      options: Map[String, String], path: Path): Boolean =
    new CompressionCodecFactory(
      sparkSession.sessionState.newHadoopConfWithOptions(options))
      .getCodec(path) == null

  override def buildReader(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val rowTag = options.getOrElse("rowTag",
      throw new IllegalArgumentException(
        "graft-xml requires the rowTag option"))
    require(rowTag.nonEmpty, "rowTag must be non-empty")
    val broadcastConf = sparkSession.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf))
    val emitValue = requiredSchema.fieldNames.contains("value")
    val requiredOut = requiredSchema

    (file: PartitionedFile) => {
      val conf = broadcastConf.value.value
      val path = file.toPath
      val fs = path.getFileSystem(conf)
      val fsin = fs.open(path)
      val codec = new CompressionCodecFactory(conf).getCodec(path)
      var start = file.start
      var end = file.start + file.length
      val in: java.io.InputStream =
        if (codec != null) {
          // non-splittable: this single split covers the whole file; scan
          // the decompressed stream to its end
          start = 0L
          end = Long.MaxValue
          codec.createInputStream(fsin)
        } else {
          fsin.seek(file.start)
          fsin
        }
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] {
        _ => try in.close() catch { case _: Exception => }
      })
      val scanner = new XmlRecordScanner(in, rowTag.getBytes("UTF-8"), start)
      val proj = UnsafeProjection.create(requiredOut)
      val row = new GenericInternalRow(requiredOut.length)

      new Iterator[InternalRow] {
        private var rec: (Long, Array[Byte]) = scanner.nextRecord(end)
        override def hasNext: Boolean = rec != null
        override def next(): InternalRow = {
          val bytes = rec._2
          rec = scanner.nextRecord(end)
          if (rec == null) { try in.close() catch { case _: Exception => } }
          if (emitValue) row.update(0, UTF8String.fromBytes(bytes))
          proj(row)
        }
      }
    }
  }
}

object XmlRowTagFileFormat {
  /** Fixed schema, mirroring the `text` source. */
  val schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = true)))
}
