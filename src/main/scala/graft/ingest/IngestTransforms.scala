package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Schemas

/** The reference's record transform (hello.py:26-199) as a declarative column
  * pipeline — one narrow, whole-stage-codegen'd plan instead of a per-record
  * interpreted loop. No UDFs: every step is a Catalyst built-in, so the same
  * plan runs identically in batch and Structured Streaming and scales without
  * serialization overhead.
  *
  * Stages (SURVEY.md §2.2):
  *   O1/O2   envelope base64 decode + JSON parse       (hello.py:66-67)
  *   O3/O4   inner decode + double-encoding detection  (hello.py:68-69, 13-17)
  *   O5/O6   $PIMD8/9 dispatch + three-way router      (hello.py:73-128)
  *   O7-O10  NMEA split / positional extract / sign    (hello.py:81-96)
  *   O11-O13 flatten + rename + geo enrichment         (hello.py:140-175)
  *   O14     alert predicates                          (hello.py:181-192)
  *   O15     event-time partition keys                 (stack.py:227-238)
  */
object IngestTransforms {

  /** Record classes (SURVEY.md §1.2). Unlike the reference — where sensor and
    * unknown records silently vanish from the output contract (§2.8.4) — every
    * record carries an explicit class tag. */
  val ClassSoh = "soh"
  val ClassSensor = "sensor"
  val ClassUnknown = "unknown"
  val ClassError = "error"

  /** Strict canonical-base64 shape test. The reference's isBase64
    * (hello.py:13-17) is decode-then-reencode equality, which requires
    * canonical padding/alphabet; the regex captures the same accepted set
    * while keeping `unbase64` off non-base64 input (ANSI mode throws on
    * malformed input, and the reference relies on the failure path too). */
  def isCanonicalBase64(c: Column): Column =
    c.isNotNull && length(c) % 4 === 0 && length(c) > 0 &&
      c.rlike("^[A-Za-z0-9+/]+={0,2}$")

  /** base64 → string, applied only where [[isCanonicalBase64]] already held. */
  def decodeB64(c: Column): Column = unbase64(c).cast("string")

  /** Materialization barrier: evaluate `exprs` exactly once per row.
    *
    * Catalyst's CollapseProject happily inlines a projected expression into
    * every downstream reference — for an expensive chain (from_json over
    * unbase64) referenced by 20+ output fields that multiplies the whole
    * decode cost per field (measured 300 s vs 3 s at sf0.1). A Generate node
    * (`inline(array(struct(...)))`) is a projection barrier: generator
    * expressions are evaluated once per input row and later projections
    * cannot collapse into them, so downstream field accesses are cheap struct
    * reads. */
  private def materialize(df: DataFrame, exprs: (String, Column)*): DataFrame =
    df.select(col("*"),
      inline(array(struct(exprs.map { case (n, c) => c.as(n) }: _*))))

  /** O1-O6: decode the envelope and classify every record.
    *
    * Input: [[Schemas.envelope]] rows (`recordId`, `data` = base64 JSON).
    * Output: input + `payload` (header struct), `inner` (once-decoded inner
    * data), `sentence` (twice-decoded, sensor branch), `cls` tag.
    */
  def classify(envelope: DataFrame): DataFrame = {
    val payloadS = decodeB64(col("data"))
    // each stage materializes one expensive decode exactly once per row
    val s1 = materialize(envelope,
      "payload" -> when(isCanonicalBase64(col("data")),
        from_json(payloadS, Schemas.sohHeader)))
    // hello.py:68 — the inner `data` field decoded once more
    val s2 = materialize(s1.withColumn("inner_b64", col("payload.data")),
      "inner" -> when(isCanonicalBase64(col("inner_b64")),
        decodeB64(col("inner_b64"))))
    // hello.py:73 strips a trailing newline before the $PIMD sniff
    val s3 = materialize(s2,
      "sentence" -> when(isCanonicalBase64(trim(col("inner"), "\n")),
        decodeB64(trim(col("inner"), "\n"))))
    s3.withColumn("cls",
      when(col("payload").isNull || col("inner").isNull, ClassError)
        .when(col("sentence").isNotNull &&
          (col("sentence").contains("$PIMD8") || col("sentence").contains("$PIMD9")),
          ClassSensor)
        .when(col("sentence").isNotNull, ClassUnknown)
        .otherwise(ClassSoh))
  }

  /** O7-O10: parse a `$PIMD8` sentence into signed (longitude, latitude).
    *
    * Positional contract (hello.py:81-89): field[5]=lat, field[6]=N|S,
    * field[7]=lon, field[8]=E|W (0-based). The hemisphere signs are applied
    * independently — deliberately fixing the reference's `elif` quirk
    * (SURVEY.md §2.8.1) where W was skipped whenever lat was S.
    */
  def parseNmea(sentence: Column): (Column, Column) = {
    val f = split(sentence, ",")
    val lat0 = try_element_at(f, lit(6)).cast("double")
    val ns = substring(try_element_at(f, lit(7)), 1, 1)
    val lon0 = try_element_at(f, lit(8)).cast("double")
    val ew = substring(try_element_at(f, lit(9)), 1, 1)
    val lat = when(ns === "S", -lat0).otherwise(lat0)
    val lon = when(ew === "W", -lon0).otherwise(lon0)
    (lon, lat)
  }

  /** Coarse geo lookup key: 0.25°×0.25° grid cell, the broadcast-joinable
    * stand-in for the reference's per-record nearest-neighbor HTTP call
    * (J1, hello.py:28-45; deviation documented in SURVEY.md §7.3). Pure
    * built-ins — codegen'd, no UDF. */
  def gridKey(lon: Column, lat: Column): Column =
    concat_ws(":", floor(lat / 0.25).cast("long"), floor(lon / 0.25).cast("long"))

  /** O11-O13 minus geo: flatten a classified SOH record to the stage schema
    * (hello.py:140-175), with the inner telemetry JSON parsed against the
    * declared schema (never inferred). Keeps `recordId` for sink contracts. */
  def flattenSoh(soh: DataFrame): DataFrame = {
    // parse the inner telemetry exactly once (see [[materialize]]), then the
    // 13 field reads below are cheap struct accesses
    val parsed = materialize(soh, "t" -> from_json(col("inner"), Schemas.sohInner))
    val inner = col("t")
    parsed.select(
      col("recordId"),
      col("payload.packetId").as("packetid"),
      col("payload.deviceType").as("devicetype"),
      col("payload.deviceId").as("deviceid"),
      col("payload.userApplicationId").as("userapplicationid"),
      col("payload.organizationId").as("organizationid"),
      col("payload.len").as("len"),
      col("payload.status").as("status"),
      col("payload.hiveRxTime").as("hiverxtime"),
      inner.getField("ln").as("longitude"),
      inner.getField("lt").as("latitude"),
      inner.getField("si").as("solar_panel_current"),
      inner.getField("bi").as("battery_current"),
      inner.getField("sv").as("solar_panel_voltage"),
      inner.getField("bv").as("battery_voltage"),
      inner.getField("d").as("date_time"),
      inner.getField("n").as("no_messages_sent_since_last_power_cycle"),
      inner.getField("a").as("altitude"),
      inner.getField("s").as("speed"),
      inner.getField("c").as("course"),
      inner.getField("r").as("last_rssi_value"),
      inner.getField("ti").as("modem_current"))
  }

  /** J1/O13: geo-enrich via broadcast join on the grid key. `geoDim` must be
    * bounded (it replaces a managed place index); broadcast keeps the fact
    * side shuffle-free at any scale. Missing cells yield null geo columns —
    * same observable as a failed geocode in the reference. */
  def geoEnrich(flat: DataFrame, geoDim: DataFrame): DataFrame = {
    val keyed = flat.withColumn("gh", gridKey(col("longitude"), col("latitude")))
    keyed.join(broadcast(geoDim), Seq("gh"), "left").drop("gh")
  }

  /** J1 with nearest-neighbor semantics and an ESCALATING bounded search
    * ring (`MaxResults=1`, hello.py:34-43 — the managed index's
    * `SearchPlaceIndexForPosition` always returns the nearest place):
    * candidates come from the 3×3 neighborhood of the record's grid cell
    * first; a record whose neighborhood holds NO place retries against the
    * cells at Chebyshev ring 2, then 3, … up to `maxRadiusCells`. Each pass
    * is a broadcast join over the strictly shrinking unmatched slice, so
    * the fact side never shuffles and the pass count is a small constant —
    * the 100 TB cost model is unchanged from the single-pass form. Within
    * the matched ring the nearest by squared degree distance wins
    * (cell-granular), deterministic tie-break on place coordinates.
    *
    * With `globalFallback` (the default) the semantics exactly match
    * hello.py:28-45 — the managed index ALWAYS answers the nearest place:
    * records still unmatched after the bounded ring loop take one final
    * pass against the whole broadcast places dim with a global arg-min
    * distance. The ring loop is the cost model (virtually every record
    * resolves within it); the fallback touches only the residual slice, so
    * its all-places fan-out is bounded × tiny. `globalFallback = false`
    * restores the previous bounded contract (null geo beyond the max
    * ring) for pipelines that prefer a coverage cutoff to a far match.
    * Requires a `places` frame that still carries `longitude`/`latitude`
    * (see [[GeoDim.withNeighborCells]] / [[GeoDim.ringCells]]). */
  def geoEnrichNearest(flat: DataFrame, places: DataFrame,
      maxRadiusCells: Int = 1, globalFallback: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d2 = (col("longitude") - col("p_lon")) * (col("longitude") - col("p_lon")) +
      (col("latitude") - col("p_lat")) * (col("latitude") - col("p_lat"))
    val w = Window.partitionBy("recordId")
      .orderBy(d2.asc, col("p_lat").asc, col("p_lon").asc)
    // one escalation pass: left-join candidates (on the grid key, or
    // globally for the final fallback), keep the nearest per record;
    // `__hit` marks records that found any candidate. The global form is a
    // LEFT join on TRUE, not an inner cross join, so records survive even
    // an empty places dim (null geo, like a failed geocode).
    def pass(records: DataFrame, candidates: DataFrame,
        global: Boolean = false): DataFrame = {
      val cand = broadcast(candidates
        .withColumnRenamed("longitude", "p_lon")
        .withColumnRenamed("latitude", "p_lat")
        .withColumn("__hit", lit(1)))
      (if (global) records.join(cand, lit(true), "left")
       else records.join(cand, Seq("gh"), "left"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "p_lon", "p_lat")
    }
    def stripMiss(df: DataFrame): DataFrame =
      // unmatched rows carry only null geo attrs from the failed join —
      // strip them back to the bare fact columns for the next pass
      df.filter(col("__hit").isNull).drop("__hit" +: GeoDim.attrCols: _*)
    val keyed = flat.withColumn("gh", gridKey(col("longitude"), col("latitude")))
    var current = pass(keyed, GeoDim.withNeighborCells(places))
    var matched = current.filter(col("__hit") === 1)
    var r = 2
    while (r <= maxRadiusCells) {
      current = pass(stripMiss(current), GeoDim.ringCells(places, r))
      matched = matched.unionByName(current.filter(col("__hit") === 1))
      r += 1
    }
    if (globalFallback) {
      current = pass(stripMiss(current), places, global = true)
      matched = matched.unionByName(current.filter(col("__hit") === 1))
    }
    matched.unionByName(current.filter(col("__hit").isNull))
      .drop("__hit", "gh")
  }

  /** O15: event-time partition keys — zero-padded strings from epoch seconds,
    * exactly the JQ strftime tokens (stack.py:233), UTC. */
  def withPartitionKeys(df: DataFrame, epochSeconds: Column): DataFrame = {
    val ts = to_utc_timestamp(from_unixtime(epochSeconds), "UTC")
    df.withColumn("year", date_format(ts, "yyyy"))
      .withColumn("month", date_format(ts, "MM"))
      .withColumn("day", date_format(ts, "dd"))
  }

  /** Full SOH path: classify → filter soh → flatten → enrich → partition
    * keys → stage30 column order (+ recordId, year, month, day). */
  def sohToStage(envelope: DataFrame, geoDim: DataFrame): DataFrame =
    stageFromClassified(classify(envelope), geoDim)

  /** Same, starting from an already-[[classify]]'d frame (so a multi-sink
    * caller classifies once and fans out). */
  def stageFromClassified(classified: DataFrame, geoDim: DataFrame): DataFrame = {
    val flat = flattenSoh(classified.filter(col("cls") === ClassSoh))
    val enriched = geoEnrich(flat, geoDim)
    val cols = Schemas.stage30.fieldNames.map(col).toSeq
    withPartitionKeys(enriched, col("date_time"))
      .select(col("recordId") +: cols :+ col("year") :+ col("month") :+ col("day"): _*)
  }

  /** O14's predicate over a stage row: low solar or low battery voltage. */
  def alertCondition: Column =
    col("solar_panel_voltage") < 12 || col("battery_voltage") < 4

  /** O14: alert predicates (hello.py:181-192 — present but commented out in
    * the reference; README claims the capability, so it ships here). */
  def alerts(stage: DataFrame): DataFrame =
    stage.filter(alertCondition)
      .select(col("deviceid"), col("date_time"),
        col("solar_panel_voltage"), col("battery_voltage"),
        when(col("solar_panel_voltage") < 12, "low_solar_voltage")
          .otherwise("low_battery_voltage").as("alert_type"))

  /** Sensor path: NMEA positions + geo enrichment (hello.py:79-108). */
  def sensorPositions(envelope: DataFrame, geoDim: DataFrame): DataFrame = {
    val sensors = classify(envelope)
      .filter(col("cls") === ClassSensor && col("sentence").contains("$PIMD8"))
    val (lon, lat) = parseNmea(col("sentence"))
    val pos = sensors.select(col("recordId"), col("sentence"),
      lon.as("longitude"), lat.as("latitude"))
    pos.withColumn("gh", gridKey(col("longitude"), col("latitude")))
      .join(broadcast(geoDim), Seq("gh"), "left").drop("gh")
  }
}
