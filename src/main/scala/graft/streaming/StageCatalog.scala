package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.ingest.SchemaDrift

/** Explicit partition registration for the landed stage zone — the library
  * counterpart of the reference's Glue table + nightly crawler
  * (stack.py:320-345: the crawler's one data-path job is discovering new
  * `stage/<y>/<m>/<d>/` partitions and registering them in the catalog,
  * update/delete behavior LOG-only).
  *
  * Spark-first shape: the zone is registered once as an EXTERNAL partitioned
  * datasource table (schema-on-write — the declared [[StreamingIngest
  * .stageReadSchema]] contract is bound, never inferred) and partition
  * discovery is `ALTER TABLE ... RECOVER PARTITIONS` (what `MSCK REPAIR
  * TABLE` plans to), so catalog SQL over the zone prunes partitions exactly
  * like [[StreamingIngest.stageTable]]'s directory walk does. At 100 TB the
  * recover pass is a driver-side listing of partition DIRECTORIES (not
  * files) — the same cost class as any metastore repair — and queries never
  * re-list: they read the registered partition index.
  *
  * Drift posture matches the crawler's LOG-only contract: [[register]]
  * surfaces observed-vs-declared schema differences in its result; it never
  * mutates the declared contract.
  */
object StageCatalog {

  /** Partition spec of the landed zone, outermost first (event-time tokens
    * from the JQ-strftime layout, stack.py:233, plus the writer's
    * micro-batch id — see StreamingIngest.writeBatch). */
  val partitionCols: Seq[String] = Seq("year", "month", "day", "batch_id")

  final case class Registration(table: String, partitions: Seq[String],
      drift: Seq[SchemaDrift.Drift])

  private def dataFields =
    StreamingIngest.stageReadSchema.fields
      .filterNot(f => partitionCols.contains(f.name))

  /** (Re)register the zone at `paths.stage` as external partitioned table
    * `table`, register every on-disk partition the stage manifest shows,
    * and report LOG-only schema drift of the landed files against the
    * declared contract. Idempotent: DROP + CREATE + RECOVER, so a re-run
    * after new days/batches land (the crawler's nightly role) converges to
    * the visible on-disk state. */
  def register(spark: SparkSession, paths: StreamingIngest.Paths,
      table: String = "stage"): Registration = {
    graft.Graft.ensureConfigured(spark)
    val colsDdl = (dataFields.map(f => s"`${f.name}` ${f.dataType.sql}") ++
      partitionCols.map(c => s"`$c` STRING")).mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"""CREATE TABLE `$table` ($colsDdl)
      |USING parquet
      |PARTITIONED BY (${partitionCols.map(c => s"`$c`").mkString(", ")})
      |LOCATION '${paths.stage}'""".stripMargin)
    recoverVisible(spark, table)
    Registration(table, listPartitions(spark, table), driftReport(spark, paths))
  }

  /** Incremental discovery on an already-registered table: re-scan the
    * zone's directories and return only the partitions that became visible
    * in this pass — the crawler's "N partitions added" signal. */
  def recoverPartitions(spark: SparkSession, table: String): Seq[String] = {
    val before = listPartitions(spark, table).toSet
    recoverVisible(spark, table)
    listPartitions(spark, table).filterNot(before)
  }

  /** `RECOVER PARTITIONS` registers every `batch_id=*` directory on disk;
    * drop the ones the stage manifest hides (ingest leaves retired by a
    * compaction whose deletes are still pending, compacted leaves not yet
    * committed), so catalog SQL reads exactly what
    * [[StreamingIngest.stageTable]] reads. The table is EXTERNAL, so
    * dropping a partition keeps its files. */
  private def recoverVisible(spark: SparkSession, table: String): Unit = {
    spark.catalog.recoverPartitions(table)
    val root = new Path(spark.sql(s"DESCRIBE TABLE EXTENDED `$table`")
      .filter(col("col_name") === "Location").head().getString(1))
    val snapshot = StageManifest.read(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    val hidden = listPartitions(spark, table).filterNot { spec =>
      val cut = spec.lastIndexOf('/')
      snapshot.day(spec.take(cut)).includes(spec.drop(cut + 1))
    }
    if (hidden.nonEmpty) {
      val specs = hidden.map(_.split('/').map { kv =>
        val Array(k, v) = kv.split("=", 2)
        s"`$k` = '$v'"
      }.mkString("PARTITION (", ", ", ")"))
      spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS ${specs.mkString(", ")}")
    }
  }

  /** Registered partition specs, `year=…/month=…/day=…/batch_id=…`, sorted. */
  def listPartitions(spark: SparkSession, table: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS `$table`")
      .collect().map(_.getString(0)).toSeq.sorted

  /** LOG-only drift of the landed files against the declared data contract
    * (partition tokens excluded — they live in the directory layout). An
    * empty or unreadable zone reports no drift rather than failing: the
    * crawler's posture is to log what it sees, not to gate. */
  def driftReport(spark: SparkSession,
      paths: StreamingIngest.Paths): Seq[SchemaDrift.Drift] =
    try {
      val observed = spark.read
        .option("basePath", paths.stage).parquet(paths.stage).schema
      SchemaDrift.check(observed, StructType(dataFields),
        ignore = partitionCols.toSet)
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
}
