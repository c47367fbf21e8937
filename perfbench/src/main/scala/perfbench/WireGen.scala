package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Seeded NMEA-0183 device traffic: the HTTP bodies devices POST to the
  * front door, replayed from the committed `events` corpus and wrapped the
  * way `IngestParity.envelopeFrom` wraps it (FIXTURES.md §2-§4).
  *
  * Each stream replays the corpus in event-time order from a seeded start
  * row, one row per record, wrapping around at the end. Each record follows
  * IngestParity's routing by `event_type`: purchase → `$PIMD8` sensor,
  * error → unknown NMEA, anything else → SOH. So the class shares, the event
  * times and their pace (about 330 events a corpus day, over 30 days), the
  * device ids and the share of heartbeats below an alert threshold are the
  * corpus's, not chosen here.
  *
  *   - soh:     header JSON whose `data` is base64 of the telemetry JSON;
  *   - sensor:  header JSON whose `data` is base64(base64(`$PIMD8,...`));
  *   - unknown: header JSON whose `data` is base64(base64(other NMEA));
  *   - error:   header JSON whose `data` is not base64 (undecodable).
  *
  * The corpus holds no undecodable record, so the malformed share
  * ([[MalformedPm]]) is an assumption: it sizes the error sink.
  *
  * Each record is a pure function of (seed, stream, index). SOH identity
  * (deviceId, packetId) is unique per (stream, index): the packet id is the
  * record's own, not IngestParity's `event_id % 100000`, because a row can
  * be replayed by more than one stream.
  */
final class WireGen(events: IndexedSeq[WireGen.Event]) {
  import WireGen._
  require(events.nonEmpty, "empty events corpus")

  def rec(seed: Long, stream: Int, index: Long): Rec = {
    require(index >= 0 && index < StreamSpan, s"index $index out of range")
    val r = new java.util.SplittableRandom(
      splitmix(splitmix(seed) ^ (stream.toLong << 40) ^ index))
    val malformed = r.nextInt(1000) < MalformedPm
    val start = java.lang.Math.floorMod(splitmix(seed ^ (stream.toLong << 32)), events.size.toLong)
    val e = events(((start + index) % events.size).toInt)
    val u = e.userId
    val fv = math.floor(e.value).toLong
    val cls =
      if (malformed) Malformed
      else e.eventType match {
        case "purchase" => Sensor
        case "error" => Unknown
        case _ => Soh
      }
    val packetId = (stream * StreamSpan + index).toInt
    val data = cls match {
      case Soh =>
        b64(s"""{"ln":${(u % 360 - 180).toDouble},"lt":${(u % 120 - 60).toDouble},""" +
          s""""si":$fv,"bi":${fv - 1},"sv":${fv + 10},"bv":${(u % 6).toDouble},""" +
          s""""d":${e.ts},"n":${e.eventId % 100},"a":${fv * 2},"s":${(u % 50).toDouble},""" +
          s""""c":${(u % 360).toDouble},"r":${-(u % 100)},"ti":${fv / 2.0}}""")
      case Sensor =>
        b64(b64(Seq("$PIMD8", u.toString, "1", "866", "65098",
          (u % 89 + 1).toDouble.toString, if (u % 2 == 1) "S" else "N",
          (u % 179 + 1).toDouble.toString, if (u % 3 == 0) "W" else "E", "*4F")
          .mkString(",")))
      case Unknown =>
        b64(b64("$GPGGA,4807.038,N,junk"))
      case _ =>
        s"!corrupt-${r.nextInt(1 << 20)}!"
    }
    val rx = java.time.Instant.ofEpochSecond(e.ts).toString
    val body = s"""{"packetId":$packetId,"deviceType":1,"deviceId":$u,""" +
      s""""userApplicationId":65002,"organizationId":${u % 1000},""" +
      s""""len":${data.length},"status":0,"hiveRxTime":"$rx","data":"$data"}"""
    Rec(cls, u.toInt, packetId, body.getBytes(UTF_8))
  }
}

object WireGen {
  // Class tags as IngestTransforms emits them.
  val Soh = "soh"
  val Sensor = "sensor"
  val Unknown = "unknown"
  val Malformed = "error"

  /** Per-mille share of undecodable records: an assumption, see above. */
  val MalformedPm = 50

  /** Packet ids of one stream: stream * StreamSpan + index. */
  val StreamSpan = 20000000L

  final case class Event(eventId: Long, ts: Long, userId: Long, eventType: String,
      value: Double)

  final case class Rec(cls: String, deviceId: Int, packetId: Int, body: Array[Byte])

  /** The generator over `events` of the corpus in `sfDir`, read through
    * `Tables.load` (which normalizes the timestamp's physical form); rows in
    * event-time order, ties by event id. */
  def load(spark: SparkSession, sfDir: String): WireGen =
    new WireGen(graft.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts").cast("long"), col("user_id"),
        col("event_type"), col("value"))
      .collect().toIndexedSeq
      .map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.ts, e.eventId)))

  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def b64(s: String): String = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  /** The envelope `data` the front door spools for a body (its VTL wrap). */
  def envelopeData(body: Array[Byte]): String = Base64.getEncoder.encodeToString(body)
}
