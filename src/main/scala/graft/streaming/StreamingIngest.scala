package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.IngestTransforms._

/** Structured-Streaming ingest: the reference's Firehose→Lambda→S3 dataflow
  * (SURVEY.md §3.1) as ONE streaming plan with multi-sink `foreachBatch`.
  *
  * Per micro-batch (= Firehose buffer flush, stack.py:165-168):
  *   - `stage/`   flattened+enriched SOH rows, Parquet, **event-time**
  *                partitioned year/month/day (stack.py:214, 233)
  *   - `raw/soh|sensor|unknown/` once-decoded payload JSON text,
  *                **processing-time** partitioned (hello.py:52-53, 207-229)
  *   - `error/`   undecodable records (stack.py:213 — but explicit, not via
  *                record-id omission; fixes §2.8.4)
  *   - `alerts/`  voltage alert rows (hello.py:181-192 / S14)
  *
  * Late data (ST3): append-only event-time partitioning lands late rows in
  * old partitions with no state to invalidate — no watermark required.
  *
  * Delivery (ST5): foreachBatch invocations are at-least-once across
  * restarts, so every sink write is keyed on `batchId` to make replays
  * idempotent — observable content is then effectively exactly-once:
  *   - `stage/` partitions by (year,month,day,batch_id) and OVERWRITES in
  *     dynamic-partition mode: a replayed batch recomputes the identical
  *     rows (deterministic transforms) and replaces exactly its own
  *     partitions, never appending duplicates;
  *   - raw/error zones write each batch under a `batch=<id>` directory with
  *     full-overwrite, so a replay wipes any partial output of the crashed
  *     attempt before rewriting (including across a processing-date
  *     boundary);
  *   - `alerts/` partitions by batch_id and dynamic-overwrites.
  * This strictly dominates the reference's at-least-once Firehose contract
  * (stack.py:213 routes failures to error/ and can re-deliver).
  *
  * Scale: the whole per-batch plan is narrow (decode/classify/flatten are
  * row-local; geo enrichment broadcasts) — no shuffle on the hot path, so
  * throughput scales linearly with executors.
  */
object StreamingIngest {

  /** Zone layout + per-pipeline options. `stageCompression`: the reference
    * writes UNCOMPRESSED parquet (stack.py:174); we default to snappy (the
    * sane scan/storage tradeoff at 100 TB) and expose strict parity as a
    * per-pipeline choice (SURVEY.md §4). */
  final case class Paths(root: String, stageCompression: String = "snappy") {
    val stage = s"$root/stage"
    val rawSoh = s"$root/raw/soh"
    val rawSensor = s"$root/raw/sensor"
    val rawUnknown = s"$root/raw/unknown"
    val error = s"$root/error"
    val alerts = s"$root/alerts"
    val checkpoint = s"$root/_checkpoint"
  }

  /** Push delivery for alert rows (S14) — the SNS publish the reference
    * sketches but leaves commented out (hello.py:181-192) while README.md:8
    * still claims "near-real-time alerting"; this hook completes that
    * letter. Implementations must be Serializable: `publish` runs
    * EXECUTOR-side (foreachPartition), so delivery fan-out scales with the
    * cluster instead of funneling every alert through the driver.
    *
    * Delivery contract: AT-LEAST-ONCE. Publication happens inside the
    * micro-batch after the batchId-keyed alerts-table write; a batch
    * replayed after a crash re-publishes its alerts while the table write
    * stays idempotent. Rows carry `batch_id`, so receivers needing
    * exactly-once EFFECTS dedup on (deviceid, date_time, alert_type,
    * batch_id) — the standard split between delivery and effect. */
  trait AlertNotifier extends Serializable {
    def publish(alert: org.apache.spark.sql.Row): Unit
  }

  /** Wire the ingest pipeline onto a streaming envelope source
    * (`recordId`, `data`): the push spool ([[HttpPushServer.envelopeStream]]),
    * any drop zone read through `graft-envelope`, Kafka via
    * [[EnvelopeSources.fromKafka]], or a MemoryStream in tests.
    * `trigger` defaults to the reference's 60 s buffer interval;
    * `notifier` opts into push delivery of alert rows (see
    * [[AlertNotifier]]). */
  def start(
      spark: SparkSession,
      envelope: DataFrame,
      geoDim: DataFrame,
      paths: Paths,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      notifier: Option[AlertNotifier] = None): StreamingQuery = {

    envelope.writeStream
      .queryName("graft-ingest")
      .option("checkpointLocation", paths.checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, geoDim, paths, batchId, notifier)
      }
      .start()
  }

  /** One micro-batch: classify once, fan out to the five sinks. Every write
    * is batchId-keyed (see delivery notes above) so a replayed batch lands
    * idempotently. Also directly usable for batch backfill over archived
    * envelopes (pick distinct batchIds per backfill slice).
    *
    * Scale note: one `batch_id=` leaf per micro-batch per event-date is the
    * same file count the plain append produced; the extra directory level
    * costs nothing at scan time (partition pruning never filters on it) and
    * is what StageCompactor folds away. */
  def writeBatch(batch: DataFrame, geoDim: DataFrame, paths: Paths,
      batchId: Long, notifier: Option[AlertNotifier] = None): Unit = {
    // Classify once; persist so the five sinks don't re-decode the batch.
    val classified = classify(batch).persist()
    try {
      // Processing-time partition for the raw zones (hello.py:52-53) — the
      // wall clock of this batch, NOT event time (ST2). Carried as columns
      // so the batch-scoped overwrite below can partition by them.
      val now = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
      val procCols = Seq(
        lit(f"${now.getYear}%04d").as("year"),
        lit(f"${now.getMonthValue}%02d").as("month"),
        lit(f"${now.getDayOfMonth}%02d").as("day"))

      // One pass over the cached batch decides which classes are present —
      // the reference's per-class upload flags (hello.py:56-58, 203-227) as
      // a single aggregation, instead of one isEmpty job per sink (4 extra
      // jobs of micro-batch latency at a 60 s trigger).
      val present = classified.groupBy("cls").count()
        .collect().map(_.getString(0)).toSet

      // Raw/error zones: `zone/batch=<id>/year=…/month=…/day=…`. The
      // batch-scoped root + full overwrite is the idempotence unit: a replay
      // deletes the whole `batch=<id>` tree (partial files of a crashed
      // attempt included, even if the wall-clock date moved on) and
      // rewrites it.
      def writeRaw(cls: String, dir: String): Unit =
        if (present(cls))
          classified.filter(col("cls") === cls)
            .select((decodeB64(col("data")).as("value") +: procCols): _*)
            .write.mode("overwrite")
            .partitionBy("year", "month", "day")
            .text(s"$dir/batch=$batchId")
      writeRaw(ClassSoh, paths.rawSoh)
      writeRaw(ClassSensor, paths.rawSensor)
      writeRaw(ClassUnknown, paths.rawUnknown)

      if (present(ClassError))
        classified.filter(col("cls") === ClassError)
          .select((col("recordId") +: col("data") +: procCols): _*)
          .write.mode("overwrite")
          .partitionBy("year", "month", "day")
          .json(s"${paths.error}/batch=$batchId")

      // Event-time partitioned analytic zone (stack.py:214, 233), batch_id
      // as the LAST partition level: pruning on year/month/day cuts the
      // directory tree at the top exactly as before, and a replay's dynamic
      // overwrite replaces precisely the (y,m,d,batch_id) leaves this batch
      // produces — deterministic transforms make the rewrite identical.
      // A string literal, as stageReadSchema reads it back: a Long literal
      // is inlined into the generated code, so every batch would compile
      // fresh classes; a string one is passed by reference.
      val stage = stageFromClassified(classified, geoDim)
      stage.withColumn("batch_id", lit(batchId.toString))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", paths.stageCompression)
        .partitionBy("year", "month", "day", "batch_id")
        .parquet(paths.stage)

      val alertRows = alerts(stage)
      if (!alertRows.isEmpty) {
        val withId = alertRows.withColumn("batch_id", lit(batchId))
        withId.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(paths.alerts)
        // push AFTER the durable sink: a crash between the two replays the
        // batch and re-publishes (at-least-once), never publishes alerts
        // that were lost from the table. Executor-side fan-out.
        notifier.foreach { n =>
          withId.foreachPartition((rows: Iterator[org.apache.spark.sql.Row]) =>
            rows.foreach(n.publish))
        }
      }
    } finally classified.unpersist()
  }

  /** Register the landed stage zone as a queryable table — the Glue-catalog
    * role (stack.py:320-345): partition discovery is Spark's built-in
    * directory inference; `basePath` keeps the partition columns. */
  /** Full landed-zone schema: recordId + the declared stage30 contract +
    * string partition tokens (zero-padded JQ strftime, stack.py:233) +
    * batch_id (string: micro-batch ids land as `42`, compacted leaves as
    * `compacted-<ts>` — see StageCompactor). */
  val stageReadSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("recordId",
        org.apache.spark.sql.types.StringType) +:
        (graft.Schemas.stage30.fields ++
          Seq("year", "month", "day", "batch_id").map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.StringType))))

  /** The engine's catalog entry point for the landed zone. Two disciplines:
    *   - schema-on-write (SURVEY.md §1.5): the declared schema is bound, so
    *     partition tokens stay strings and an empty zone reads as an empty
    *     frame instead of UNABLE_TO_INFER_SCHEMA;
    *   - manifest visibility (StageManifest): the table-level versioned
    *     snapshot decides which leaves count, which is what makes
    *     compaction atomic — across every partition one commit touches.
    *     Reading the directory tree directly (plain spark.read.parquet)
    *     bypasses the manifest and can see a mid-compaction double image —
    *     same contract as any table format.
    * The listing walks year/month/day dirs on the driver — the same
    * directory walk Spark's own InMemoryFileIndex performs for a
    * partitioned read, plus ONE snapshot read for the whole table.
    */
  def stageTable(spark: SparkSession, paths: Paths): DataFrame =
    stageTableAt(spark, paths, asOfVersion = None)

  /** TIME-TRAVEL read: the stage table as of snapshot `asOfVersion`
    * (None = current). Version 0 is pre-history (all ingest leaves, no
    * compaction). Valid while the leaves that version references are still
    * on disk — i.e. for compactions run with `lazyDeletes = true`, until a
    * cleanup pass removes them (the same retention contract as any table
    * format's VACUUM). A read beyond retention fails loudly when the
    * current manifest still records the missing leaf as retired; once a
    * later commit has pruned that record AND the leaf is deleted, the gap
    * is no longer detectable — shorten travel distance, not trust. */
  def stageTableAt(spark: SparkSession, paths: Paths,
      asOfVersion: Option[Long]): DataFrame = {
    val files = stageFilesAt(spark, paths, asOfVersion)
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stageReadSchema)
    else
      spark.read.schema(stageReadSchema)
        .option("basePath", paths.stage).parquet(files: _*)
  }

  /** The snapshot's parquet leaf files (the listing half of
    * [[stageTableAt]], shared with the SQL `VERSION AS OF` path through
    * [[graft.sources.StageTimeTravelCatalog]]): walk year/month/day dirs,
    * apply the manifest version's visibility, and enforce the retention
    * check for travelling reads. */
  def stageFilesAt(spark: SparkSession, paths: Paths,
      asOfVersion: Option[Long]): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(paths.stage)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def children(p: org.apache.hadoop.fs.Path, prefix: String) =
      if (!fs.isDirectory(p)) Seq.empty
      else fs.listStatus(p)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .map(_.getPath).toSeq
    val current = StageManifest.read(fs, root)
    val snapshot = asOfVersion match {
      case Some(v) if v != current.version =>
        StageManifest.readVersion(fs, root, v).getOrElse(
          throw new IllegalArgumentException(
            s"no stage snapshot version $v (current is ${current.version})"))
      case _ => current
    }
    val travelling = snapshot.version != current.version
    // Leaves are exclusively `batch_id=*` DIRS: mixing leaf-dir files with
    // loose day-level files under one basePath would make Spark's partition
    // inference see conflicting depths ({y,m,d} vs {y,m,d,batch_id}) and
    // reject the read, so anything else at the day level is not data.
    val files = for {
      y <- children(root, "year=")
      m <- children(y, "month=")
      d <- children(m, "day=")
      rel = s"${y.getName}/${m.getName}/${d.getName}"
      state = snapshot.day(rel)
      leaves = children(d, "batch_id=")
      _ = if (travelling) {
        // retention check: a leaf this snapshot reads but the current one
        // has retired must still exist, or the travel silently loses rows
        val present = leaves.map(_.getName).toSet
        val lost = current.day(rel).retired
          .filter(state.includes).diff(present)
        require(lost.isEmpty,
          s"time travel to version ${snapshot.version} is beyond retention: " +
            s"day $rel leaves already deleted: ${lost.mkString(", ")}")
      }
      leaf <- leaves
        if state.includes(leaf.getName)
      f <- fs.listStatus(leaf).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).toSeq
    } yield f.toString
    files
  }
}
