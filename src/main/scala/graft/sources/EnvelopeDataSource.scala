package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriterFactory, PartitionedFile, TextBasedFileFormat}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, StreamSourceProvider}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one reader for envelope drop zones: line files whose every line is
  * one base64 envelope body (the wire format API Gateway's VTL template
  * emits in the reference — stack.py:273-316). `format("graft-envelope")
  * .load(dir)` yields `(file, line_no, recordId, data)` with
  * `recordId = <basename>:<line_no>`: a position, so byte-identical lines
  * in one file keep distinct ids, and a replay rebuilds the same ids.
  *
  * A read-only Spark `FileFormat`; Spark supplies the rest:
  *   - batch reads list the directory once (hidden `_`/`.` names skipped),
  *     and a filter on `_metadata.file_name` or `_metadata.file_path`
  *     prunes whole files at planning time;
  *   - `readStream` is Spark's `FileStreamSource` (no `.schema` needed): a
  *     batch-id offset, a seen-files log that still admits a late file with
  *     an early name, exactly-once across a restart, and the
  *     `maxBytesPerTrigger` admission cap.
  * Files are never split (line numbers are positions in the whole file)
  * and are opened with the session's Hadoop configuration. Only the
  * required columns are filled; every filter stays with Spark.
  */
class EnvelopeDataSource extends TextBasedFileFormat
    with DataSourceRegister with StreamSourceProvider {
  import EnvelopeDataSource.SCHEMA

  override def shortName(): String = "graft-envelope"

  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = Some(SCHEMA)

  override def isSplitable(spark: SparkSession, options: Map[String, String],
      path: Path): Boolean = false

  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("graft-envelope is read-only")

  override def buildReader(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val value = StructType(Seq(StructField("value", StringType)))
    val lines = new TextFileFormat().buildReader(spark, value,
      StructType(Nil), value, Nil, options, hadoopConf)
    val fields = requiredSchema.fieldNames.toSeq
    (file: PartitionedFile) => {
      val path = file.toPath
      val name = UTF8String.fromString(path.toString)
      var n = 0L
      lines(file).map { row =>
        n += 1
        InternalRow.fromSeq(fields.map {
          case "file" => name
          case "line_no" => n
          case "recordId" => UTF8String.fromString(s"${path.getName}:$n")
          case "data" => row.getUTF8String(0).copy()
        })
      }
    }
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), SCHEMA)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new FileStreamSource(
      sqlContext.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      parameters("path"), getClass.getName, SCHEMA, Nil, metadataPath, parameters)
}

object EnvelopeDataSource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("line_no", LongType, nullable = false),
    StructField("recordId", StringType, nullable = false),
    StructField("data", StringType, nullable = false)))
}
