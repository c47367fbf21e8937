package graft.streaming

import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
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
  * The stage write runs first and observes which of the others have rows;
  * those then run concurrently (see [[StreamingIngest.writeBatch]]).
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
  * row-local; geo enrichment broadcasts) — no shuffle on the hot path. A
  * batch's partition count follows its bytes by Spark's own file-split rule
  * ([[StreamingIngest.sizedToBytes]]): a small batch runs one task per sink
  * and writes one file per leaf, a large one spreads over the cores the
  * split rule gives it.
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
        writeBatch(batch, geoDim, paths, batchId, notifier): Unit
      }
      .start()
  }

  /** What one micro-batch held, observed on its stage write: records per
    * class (every class a key, 0 when absent) and alert rows. */
  final case class BatchCounts(byClass: Map[String, Long], alerts: Long)

  /** One micro-batch: classify once, write the stage, then fan out to the
    * other sinks concurrently. Every write is batchId-keyed (see delivery
    * notes above) so a replayed batch lands idempotently. Also directly
    * usable for batch backfill over archived envelopes (pick distinct
    * batchIds per backfill slice).
    *
    * Order within a batch:
    *   0. the batch is coalesced to the partitions its bytes justify
    *      ([[sizedToBytes]]), so a small batch is one task per sink;
    *   1. the stage write runs alone. It fills the persisted `classified`
    *      cache, and two `Observation`s ride it: records per class, counted
    *      before the SOH filter, and alert rows. No job only checks
    *      presence;
    *   2. the observations pick the sinks that have rows: raw soh, sensor and
    *      unknown, error, and alerts (the notifier after its table, on the
    *      same thread). No directory is created for an empty class, and none
    *      for a batch without alerts (the reference's per-class upload flags,
    *      hello.py:56-58, 203-227);
    *   3. those sinks run concurrently, one fresh thread each (see
    *      [[runConcurrently]]). All are joined before the cache is dropped;
    *      the first failure is rethrown after every sink has finished.
    *
    * Scale note: one `batch_id=` leaf per micro-batch per event-date is the
    * same file count the plain append produced; the extra directory level
    * costs nothing at scan time (partition pruning never filters on it) and
    * is what StageCompactor folds away. */
  def writeBatch(batch: DataFrame, geoDim: DataFrame, paths: Paths,
      batchId: Long, notifier: Option[AlertNotifier] = None): BatchCounts = {
    // Classify once, over as many partitions as the batch's bytes justify;
    // persist so the sinks don't re-decode the batch. The geo dimension is
    // sized the same way: each broadcast of it is a job, and a local
    // relation would run that job as one task per core.
    val classified = classify(sizedToBytes(batch)).persist()
    val geo = sizedToBytes(geoDim)
    try {
      // Processing-time partition for the raw zones (hello.py:52-53) — the
      // wall clock of this batch, NOT event time (ST2). Carried as columns
      // so the batch-scoped overwrite below can partition by them.
      val now = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
      val procCols = Seq(
        lit(f"${now.getYear}%04d").as("year"),
        lit(f"${now.getMonthValue}%02d").as("month"),
        lit(f"${now.getDayOfMonth}%02d").as("day"))

      // Event-time partitioned analytic zone (stack.py:214, 233), batch_id
      // as the LAST partition level: pruning on year/month/day cuts the
      // directory tree at the top exactly as before, and a replay's dynamic
      // overwrite replaces precisely the (y,m,d,batch_id) leaves this batch
      // produces — deterministic transforms make the rewrite identical.
      // batch_id is a string literal here and in the alerts sink: a Long
      // literal is inlined into the generated code, so every batch would
      // compile fresh classes; a string one is passed by reference.
      val classes = Seq(ClassSoh, ClassSensor, ClassUnknown, ClassError)
      val perClass = Observation()
      val alertRows = Observation()
      val counters = classes.map(c => count_if(col("cls") === c).as(c))
      stageFromClassified(
          classified.observe(perClass, counters.head, counters.tail: _*), geo)
        .observe(alertRows, count_if(alertCondition).as("alerts"))
        .withColumn("batch_id", lit(batchId.toString))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", paths.stageCompression)
        .partitionBy("year", "month", "day", "batch_id")
        .parquet(paths.stage)
      val byClass = perClass.get
      val counts = BatchCounts(classes.map(c => c -> byClass(c).asInstanceOf[Long]).toMap,
        alertRows.get("alerts").asInstanceOf[Long])

      // Raw/error zones: `zone/batch=<id>/year=…/month=…/day=…`. The
      // batch-scoped root + full overwrite is the idempotence unit: a replay
      // deletes the whole `batch=<id>` tree (partial files of a crashed
      // attempt included, even if the wall-clock date moved on) and
      // rewrites it.
      def raw(cls: String, dir: String): () => Unit = () =>
        classified.filter(col("cls") === cls)
          .select((decodeB64(col("data")).as("value") +: procCols): _*)
          .write.mode("overwrite")
          .partitionBy("year", "month", "day")
          .text(s"$dir/batch=$batchId")
      val errors: () => Unit = () =>
        classified.filter(col("cls") === ClassError)
          .select((col("recordId") +: col("data") +: procCols): _*)
          .write.mode("overwrite")
          .partitionBy("year", "month", "day")
          .json(s"${paths.error}/batch=$batchId")
      val alertSink: () => Unit = () => {
        val rows = alerts(stageFromClassified(classified, geo))
        rows.withColumn("batch_id", lit(batchId.toString))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(paths.alerts)
        // push AFTER the durable sink: a crash between the two replays the
        // batch and re-publishes (at-least-once), never publishes alerts
        // that were lost from the table. Executor-side fan-out; the Long
        // batch_id is appended per row, outside the generated code.
        notifier.foreach { n =>
          val schema = rows.schema.add("batch_id", LongType, nullable = false)
          rows.foreachPartition((it: Iterator[Row]) => it.foreach(r =>
            n.publish(new GenericRowWithSchema((r.toSeq :+ batchId).toArray, schema))))
        }
      }
      runConcurrently(Seq(
        ClassSoh -> raw(ClassSoh, paths.rawSoh),
        ClassSensor -> raw(ClassSensor, paths.rawSensor),
        ClassUnknown -> raw(ClassUnknown, paths.rawUnknown),
        ClassError -> errors).filter { case (cls, _) => counts.byClass(cls) > 0 } ++
        Seq("alerts" -> alertSink).filter(_ => counts.alerts > 0))
      counts
    } finally classified.unpersist()
  }

  /** `df` coalesced to the partition count its bytes justify: the count
    * Spark's split rule (`FilePartition.maxSplitBytes`) gives one file of
    * the frame's optimized-plan size. A file stream batch of one file per
    * POST is otherwise spread as if each file weighed
    * `spark.sql.files.openCostInBytes`, and every task of every sink job
    * pays a fixed cost (the job's Hadoop conf is deserialized per task) and
    * writes its own file per leaf. A coalesce never adds partitions; a
    * frame of unknown size (stats at `defaultSizeInBytes`: Kafka,
    * RDD-backed frames) is left as it is. */
  private[streaming] def sizedToBytes(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val bytes = ds.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= ds.sparkSession.sessionState.conf.defaultSizeInBytes) df
    else {
      val split = FilePartition.maxSplitBytes(ds.sparkSession, bytes.toLong)
      df.coalesce(((bytes + split - 1) / split).max(1).min(Int.MaxValue).toInt)
    }
  }

  /** Run each named sink on a fresh thread and wait for all of them. Fresh
    * threads, never a shared pool: Spark's local properties — the query's
    * job group (which `stop()` cancels), `streaming.sql.batchId` and the SQL
    * execution id — are inheritable thread-locals, copied when a thread is
    * created, so only a thread made inside the batch carries that batch's.
    * The first failure is rethrown once every sink has finished, later ones
    * suppressed onto it; an interrupt (`stop()`) is passed on to the sinks
    * and rethrown after they have ended. */
  private def runConcurrently(sinks: Seq[(String, () => Unit)]): Unit = {
    val failure = new AtomicReference[Throwable]()
    val threads = sinks.map { case (name, body) =>
      val t = new Thread(() =>
        try body() catch {
          case e: Throwable =>
            if (!failure.compareAndSet(null, e)) failure.get.addSuppressed(e)
        }, s"graft-ingest-sink-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted: InterruptedException = null
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch {
        case e: InterruptedException if interrupted == null =>
          interrupted = e
          threads.foreach(_.interrupt())
        case _: InterruptedException =>
      }
    }
    if (interrupted != null) throw interrupted
    Option(failure.get).foreach(e => throw e)
  }

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
    * The leaves come from the zone's one walk
    * ([[StageManifest.leavesAt]]: year/month/day dirs on the driver plus ONE
    * snapshot read for the whole table) and the table's file index is built
    * from that walk ([[stageIndex]]), so nothing is listed twice and
    * building the frame runs no Spark job.
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
      asOfVersion: Option[Long]): DataFrame =
    stageFrame(spark, stageIndexAt(spark, paths, asOfVersion))

  /** The file index over snapshot `asOfVersion`'s visible leaves — what
    * both [[stageTableAt]] and SQL `graft_stage` ([[graft.sources
    * .StageTimeTravelCatalog]]) scan. */
  private[graft] def stageIndexAt(spark: SparkSession, paths: Paths,
      asOfVersion: Option[Long]): InMemoryFileIndex = {
    val root = new Path(paths.stage)
    stageIndex(spark, paths, StageManifest.leavesAt(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, asOfVersion))
  }

  /** The one index builder for stage reads: an `InMemoryFileIndex` over
    * leaves the walk has already listed, with the declared schema. It lists
    * nothing itself (a plain read of the files would list them all again,
    * past 32 paths in a parallel listing job). Over no leaves it infers no
    * partition columns and reads as an empty frame with [[stageReadSchema]];
    * it then gets no `basePath`, which must name an existing dir. */
  private[streaming] def stageIndex(spark: SparkSession, paths: Paths,
      leaves: Seq[StageManifest.Leaf]): InMemoryFileIndex =
    new InMemoryFileIndex(spark, leaves.map(_.dir),
      if (leaves.isEmpty) Map.empty else Map("basePath" -> paths.stage),
      Some(stageReadSchema), new ListedLeaves(leaves))

  /** A V1 frame over a stage index: data columns, then the partition
    * columns the index inferred. */
  private[streaming] def stageFrame(spark: SparkSession,
      index: InMemoryFileIndex): DataFrame = {
    val parts = index.partitionSchema
    val data = StructType(stageReadSchema.filterNot(f => parts.fieldNames.contains(f.name)))
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.baseRelationToDataFrame(HadoopFsRelation(index, parts, data, None,
      new ParquetFileFormat, Map.empty)(classic))
  }

  /** A file-status cache holding given leaf-directory listings: an
    * `InMemoryFileIndex` over those leaves reads them from here instead of
    * listing. Private to one index, never the session's shared cache, so a
    * replay that rewrites a leaf cannot serve a later read a stale listing;
    * `invalidateAll` (a refresh) drops them and the next listing is real. */
  private final class ListedLeaves(leaves: Seq[StageManifest.Leaf])
      extends FileStatusCache {
    private val byDir = new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()
    leaves.foreach(l => byDir.put(l.dir, l.files))
    override def getLeafFiles(dir: Path): Option[Array[FileStatus]] = Option(byDir.get(dir))
    override def putLeafFiles(dir: Path, files: Array[FileStatus]): Unit = byDir.put(dir, files)
    override def invalidateAll(): Unit = byDir.clear()
  }
}
