package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.StreamingIngest

/** SQL-level time travel for the manifest-versioned stage zone (round-10
  * verdict #5): a read-only V2 [[TableCatalog]] that makes every
  * [[graft.streaming.StageManifest]] snapshot reachable
  * from SQL —
  *
  * {{{
  *   SELECT … FROM graft_stage.mystage                  -- current version
  *   SELECT … FROM graft_stage.mystage VERSION AS OF 2  -- any snapshot
  * }}}
  *
  * Catalyst's time-travel resolution calls the `loadTable(ident, version)`
  * overload; this catalog resolves the version through the SAME manifest
  * walk + retention check as the programmatic `stageTableAt`, and returns
  * Spark's own [[ParquetTable]] whose file index is that read's index
  * (`StreamingIngest.stageIndexAt`, over the leaves the walk already
  * listed) — so the SQL path keeps every scan capability of a native
  * parquet read (column pruning, filter pushdown, partition pruning)
  * without a custom scan, and plans without listing anything again. An
  * empty snapshot is an index over no leaves: an empty frame with the
  * declared schema, like `stageTableAt`.
  *
  * Failure contract is inherited, loud, and test-pinned: an unknown
  * version raises (no silent empty frame), and travel beyond retention —
  * a snapshot whose leaves a later compaction already deleted — raises
  * the same "beyond retention" error as the programmatic API.
  *
  * Stage roots are registered programmatically (`register(name, paths)`)
  * because a stage table is created by an ingest pipeline, not by DDL —
  * mirroring how Delta/Iceberg tables enter a catalog by writer commit,
  * not CREATE TABLE from the reader. The registry is JVM-wide for the
  * same reason MemoryRowCatalog's is: one metastore per process.
  */
class StageTimeTravelCatalog extends TableCatalog {
  private var catalogName: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    StageTimeTravelCatalog.stages.keySet().asScala
      .map(n => Identifier.of(Array.empty, n)).toArray

  override def loadTable(ident: Identifier): Table = tableAt(ident, None)

  /** SQL `VERSION AS OF <v>` lands here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft_stage versions are manifest numbers; got '$version'")
      }
    tableAt(ident, Some(v))
  }

  /** SQL `TIMESTAMP AS OF t` — Catalyst hands the instant in MICROSECONDS
    * since epoch; the manifest's per-commit walltimes (committedAtMs)
    * resolve it to the latest version committed at or before t, then the
    * read delegates to the same snapshot path as `VERSION AS OF`. Edge
    * instants are loud (before-history, no-commits) — see
    * [[graft.streaming.StageManifest.versionAtTime]]. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val paths = Option(StageTimeTravelCatalog.stages.get(ident.name))
      .getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(paths.stage)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = graft.streaming.StageManifest.versionAtTime(
      fs, root, math.floorDiv(timestamp, 1000L))
    tableAt(ident, Some(v))
  }

  private def tableAt(ident: Identifier, asOf: Option[Long]): Table = {
    val paths = Option(StageTimeTravelCatalog.stages.get(ident.name))
      .getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    val index = StreamingIngest.stageIndexAt(spark, paths, asOf)
    // `paths` is the snapshot's exact file list, so tables over two
    // different snapshots never compare equal
    new ParquetTable(ident.name + asOf.map(v => s"@v$v").getOrElse(""), spark,
        new CaseInsensitiveStringMap(util.Map.of("basePath", paths.stage)),
        index.inputFiles.toList, Some(StreamingIngest.stageReadSchema),
        classOf[ParquetFileFormat]) {
      override lazy val fileIndex: PartitioningAwareFileIndex = index
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft_stage tables are created by ingest pipelines (register), not DDL")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("ALTER TABLE on graft_stage")

  override def dropTable(ident: Identifier): Boolean =
    StageTimeTravelCatalog.stages.remove(ident.name) != null

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE on graft_stage")
}

object StageTimeTravelCatalog {
  private val stages =
    new ConcurrentHashMap[String, StreamingIngest.Paths]()

  /** Expose an ingest pipeline's stage zone as `graft_stage.<name>`. */
  def register(name: String, paths: StreamingIngest.Paths): Unit = {
    stages.put(name, paths); ()
  }
}
