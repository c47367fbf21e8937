package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
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
  * discovery is the zone's one walk ([[StageManifest.leavesAt]], the same
  * one [[StreamingIngest.stageTable]] reads): exactly its visible leaves are
  * registered with `ALTER TABLE ... ADD PARTITION ... LOCATION`, so catalog
  * SQL over the zone reads what `stageTable` reads and prunes partitions
  * the same way. At 100 TB the sync is a driver-side walk of the partition
  * directories — the same cost class as any metastore repair — and queries
  * never re-list: they read the registered partition index.
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
    * `table`, register exactly the leaves the stage manifest shows, and
    * report LOG-only schema drift of the landed files against the declared
    * contract. Idempotent: DROP + CREATE + sync, so a re-run after new
    * days/batches land (the crawler's nightly role) converges to the
    * visible on-disk state. */
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
    val leaves = syncVisible(spark, table)
    Registration(table, listPartitions(spark, table), driftReport(spark, leaves))
  }

  /** Incremental discovery on an already-registered table: re-walk the
    * zone and return only the partitions that became visible in this
    * pass — the crawler's "N partitions added" signal. */
  def recoverPartitions(spark: SparkSession, table: String): Seq[String] = {
    val before = listPartitions(spark, table).toSet
    syncVisible(spark, table)
    listPartitions(spark, table).filterNot(before)
  }

  /** Make the registered partitions exactly the zone's visible leaves (the
    * walk every stage reader uses): add the visible ones not yet
    * registered, drop the registered ones the manifest now hides (ingest
    * leaves retired by a compaction whose deletes are still pending, leaves
    * since deleted). Catalog SQL then reads exactly what
    * [[StreamingIngest.stageTable]] reads, and never sees a hidden leaf.
    * The table is EXTERNAL, so dropping a partition keeps its files. */
  private def syncVisible(spark: SparkSession, table: String): Seq[StageManifest.Leaf] = {
    val root = new Path(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTableMetadata(TableIdentifier(table)).location)
    val leaves = StageManifest.leavesAt(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, None)
    val visible = leaves.map(l => s"${l.dayRel}/${l.dir.getName}" -> l.dir).toMap
    val registered = listPartitions(spark, table)
    def spec(rel: String) = rel.split('/').map { kv =>
      val Array(k, v) = kv.split("=", 2)
      s"`$k` = '$v'"
    }.mkString("PARTITION (", ", ", ")")
    val added = visible.keys.toSeq.filterNot(registered.contains).sorted
    if (added.nonEmpty)
      spark.sql(s"ALTER TABLE `$table` ADD IF NOT EXISTS " +
        added.map(rel => s"${spec(rel)} LOCATION '${visible(rel)}'").mkString(" "))
    val hidden = registered.filterNot(visible.contains)
    if (hidden.nonEmpty)
      spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS ${hidden.map(spec).mkString(", ")}")
    leaves
  }

  /** Registered partition specs, `year=…/month=…/day=…/batch_id=…`, sorted. */
  def listPartitions(spark: SparkSession, table: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS `$table`")
      .collect().map(_.getString(0)).toSeq.sorted

  /** LOG-only drift of the landed files against the declared data contract
    * (partition tokens live in the directory layout, not the files). The
    * observed schema is the footer schema Spark's parquet inference reads
    * from the visible leaves the walk listed. An empty or unreadable zone
    * reports no drift rather than failing: the crawler's posture is to log
    * what it sees, not to gate. */
  private def driftReport(spark: SparkSession,
      leaves: Seq[StageManifest.Leaf]): Seq[SchemaDrift.Drift] =
    try {
      new ParquetFileFormat().inferSchema(spark, Map.empty, leaves.flatMap(_.files))
        .map(observed => SchemaDrift.check(observed, StructType(dataFields),
          ignore = partitionCols.toSet))
        .getOrElse(Seq.empty)
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
}
