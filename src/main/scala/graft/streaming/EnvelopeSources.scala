package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adapters from concrete stream sources to the engine's envelope contract
  * (`recordId` string, `data` base64 string) — the role API Gateway's VTL
  * mapping template plays in the reference (stack.py:273-316: wrap the HTTP
  * body as a base64 record and hand it to the delivery stream).
  */
object EnvelopeSources {

  /** Kafka-shaped frame (`key`/`value` binary, `topic`, `partition`,
    * `offset`) → envelope. recordId is the (topic, partition, offset)
    * coordinate — unique and replay-stable, like the Firehose recordId.
    * Use on `spark.readStream.format("kafka")...load()` in production;
    * works identically on a static frame for tests. */
  def fromKafka(kafka: DataFrame): DataFrame =
    kafka.select(
      concat_ws("-", col("topic"), col("partition"), col("offset"))
        .as("recordId"),
      // Kafka values are the raw HTTP bodies; the envelope carries base64
      // (VTL $util.base64Encode, stack.py:277)
      base64(col("value")).as("data"))

  /** Line-file drop zone (`spark.readStream.text(dir)`): each line is
    * already a base64 body; ids are (source file, content hash).
    *
    * Caveat (unlike Kafka offsets, text lines carry no position): two
    * IDENTICAL lines in the SAME file share a recordId and collapse in any
    * per-recordId step. Producers needing exact re-delivery semantics must
    * embed their own ids in the body; this adapter is for drop zones where a
    * byte-identical duplicate in one file IS a duplicate. */
  def fromTextLines(lines: DataFrame): DataFrame =
    lines.select(
      concat_ws("-", lit("file"),
        abs(xxhash64(input_file_name())), abs(xxhash64(col("value"))))
        .as("recordId"),
      col("value").as("data"))

  /** Live network push — the closest sandbox-runnable analog of the
    * reference's API Gateway POST → Firehose front door (stack.py:283-316):
    * Spark's socket source (`readStream.format("socket")`) connects to a
    * device-gateway TCP endpoint and reads one base64 envelope body per
    * line, entering the SAME decode path as every other adapter.
    *
    * Contract caveats, inherited from the socket source itself: it is
    * NOT replayable (no offsets — a restart re-reads nothing), so it is a
    * demo/dev front door, not the production one (that's Kafka via
    * [[fromKafka]], which has real coordinates); and lines carry no stable
    * position, so recordId is a content hash — byte-identical lines
    * collapse, as in [[fromTextLines]]. */
  def fromSocket(spark: SparkSession, host: String, port: Int): DataFrame =
    fromSocketLines(
      spark.readStream.format("socket")
        .option("host", host).option("port", port).load())

  /** The projection half of [[fromSocket]], testable without a live
    * endpoint: a socket-shaped frame (`value` string lines) → envelope. */
  def fromSocketLines(lines: DataFrame): DataFrame =
    lines.select(
      concat_ws("-", lit("sock"), abs(xxhash64(col("value")))).as("recordId"),
      col("value").as("data"))

  /** Streaming file-drop reader with the reference's SIZE buffer cap: the
    * Firehose buffer flushes at 60 s OR 64 MB, whichever first
    * (stack.py:165-168). `Trigger.ProcessingTime` in
    * [[StreamingIngest.start]] mirrors the time cap; this reader mirrors
    * the size cap — `maxBytesPerTrigger` bounds how much backlog one
    * micro-batch admits (file granularity: at least one file per batch),
    * so a burst drains as several bounded batches instead of one giant one.
    * The byte cap is a plain positive integer (no "64m" suffixes — the
    * option rejects them); default = the reference's 64 MB. */
  def textLineStream(spark: SparkSession, dir: String,
      maxBytesPerTrigger: Option[Long] = Some(64L * 1024 * 1024)): DataFrame = {
    val r0 = spark.readStream
    val r1 = maxBytesPerTrigger.fold(r0)(b => r0.option("maxBytesPerTrigger", b.toString))
    fromTextLines(r1.text(dir))
  }
}
