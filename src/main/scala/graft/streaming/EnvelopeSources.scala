package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adapters from concrete stream sources to the engine's envelope contract
  * (`recordId` string, `data` base64 string) — the role API Gateway's VTL
  * mapping template plays in the reference (stack.py:273-316: wrap the HTTP
  * body as a base64 record and hand it to the delivery stream). Drop zones
  * and the push spool need no adapter: `graft-envelope`
  * ([[graft.sources.EnvelopeDataSource]]) reads them with positional ids.
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
}
