package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction for the stage zone.
  *
  * Streaming file sinks write one file per task per micro-batch — at a 60 s
  * trigger that is ~1.4k files/partition/day, and parquet scan cost is
  * dominated by per-file open/footer overhead long before data volume. The
  * compactor rewrites event-time partitions into `filesPerPartition`
  * files clustered by `deviceid` (scan locality for per-device queries).
  *
  * Safety model — a manifest-committed swap (StageManifest), atomic on a
  * plain filesystem, across ALL partitions of one run:
  *   - each rewrite reads EXACTLY its snapshotted input file list, so files
  *     appended by live ingest during compaction are neither duplicated nor
  *     deleted;
  *   - compacted leaves land first but stay INVISIBLE to stageTable
  *     readers (compacted leaves need a live-manifest entry); ONE atomic
  *     snapshot-version rename then retires the originals and activates
  *     the replacements for every rewritten partition in the same instant —
  *     no read, at any crash point, mixes old and new across partitions;
  *   - every rename/delete return value is CHECKED (fs.rename reports
  *     failure by returning false on s3a/cross-FS — an unchecked false
  *     would delete originals whose replacement never arrived), and each
  *     compacted leaf is verified complete before the commit;
  *   - original deletes happen last and are LAZY: a crash anywhere leaves
  *     a table that reads consistently (originals before the commit,
  *     compacted after), never duplicated and never lossy;
  *   - all I/O goes through the Hadoop FileSystem of the stage path, so
  *     hdfs:///s3a:// roots work the same as local.
  */
object StageCompactor {

  /** One landed-but-uncommitted rewrite (the crash-window unit). */
  private[streaming] final case class Rewrite(
      dayRel: String, replaced: Set[String], compacted: String,
      filesBefore: Int)

  /** Rewrite one partition's visible leaves into a single new compacted
    * leaf, verified on disk but NOT yet visible — visibility comes from the
    * caller's manifest commit. */
  private[streaming] def rewriteDay(spark: SparkSession,
      paths: StreamingIngest.Paths, year: String, month: String, day: String,
      filesPerPartition: Int, zorder: Boolean): Rewrite = {
    val stageRoot = new Path(paths.stage)
    val dayRel = s"year=$year/month=$month/day=$day"
    val dir = new Path(paths.stage, dayRel)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.isDirectory(dir), s"no such partition: $dir")
    // snapshot the VISIBLE leaves (the zone's one walk, same as the reader)
    val leaves = StageManifest.visible(fs,
      Seq(StageManifest.day(fs, stageRoot, dayRel)), StageManifest.read(fs, stageRoot))
    require(leaves.nonEmpty, s"nothing to compact under $dir")

    // Rewrite exactly the snapshot — concurrent appends stay untouched. The
    // index is the one the reader uses, over the leaves just listed, so
    // nothing is listed again nor a footer read to infer the schema; the
    // compacted DATA files carry only the declared data columns, and the
    // landed zone stays uniformly partition-encoded.
    val tmp = new Path(dir, s".compact-${System.currentTimeMillis}")
    val clusterKeys: Seq[Column] =
      if (zorder)
        Seq(graft.functions.ZOrder.morton2(col("deviceid"),
          (col("date_time") / 60).cast("long")))
      else Seq(col("deviceid"), col("date_time"))
    val dataCols = StreamingIngest.stageReadSchema.fieldNames
      .filterNot(StageCatalog.partitionCols.contains).map(col).toSeq
    StreamingIngest.stageFrame(spark, StreamingIngest.stageIndex(spark, paths, leaves))
      .select(dataCols: _*)
      .repartition(filesPerPartition)
      .sortWithinPartitions(clusterKeys: _*)
      .write.mode("overwrite")
      .option("compression", paths.stageCompression)
      .parquet(tmp.toString)
    def parquetFilesIn(p: Path): Int =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    val nCompacted = parquetFilesIn(tmp)

    // land the leaf — checked rename; still INVISIBLE (not live yet) —
    // then verify it holds everything the rewrite produced
    val target = new Path(dir, s"batch_id=compacted-${System.currentTimeMillis}")
    require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
    val published = parquetFilesIn(target)
    require(published == nCompacted && published > 0,
      s"compacted leaf $target incomplete: $published of $nCompacted files")
    Rewrite(dayRel, leaves.map(_.dir.getName).toSet, target.getName,
      leaves.map(_.files.length).sum)
  }

  /** Compact several year/month/day partitions as ONE atomic commit: all
    * rewrites land invisible, then a single manifest version flips every
    * partition together. Returns per-day (filesBefore, filesAfter) counted
    * over visible leaves.
    *
    * `lazyDeletes = true` stops after the manifest commit, leaving the
    * retired originals on disk — the crash-window state the manifest makes
    * readable; a later run (or any cleanup pass) removes them. */
  def compactDays(spark: SparkSession, paths: StreamingIngest.Paths,
      days: Seq[(String, String, String)], filesPerPartition: Int = 1,
      lazyDeletes: Boolean = false, zorder: Boolean = false): Seq[(Int, Int)] = {
    val stageRoot = new Path(paths.stage)
    val fs = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rewrites = days.map { case (y, m, d) =>
      rewriteDay(spark, paths, y, m, d, filesPerPartition, zorder)
    }
    // THE commit: one snapshot version retires all originals + activates
    // all new leaves — the atomic multi-partition visibility flip
    val committed = StageManifest.commit(fs, stageRoot,
      rewrites.map(r => r.dayRel -> StageManifest.DayChange(
        r.replaced, r.compacted)).toMap)
    // lazy cleanup — re-running the compactor is the repair procedure:
    // every retired leaf still on disk goes (the just-replaced ones plus
    // any a crashed run left), and so do orphaned .compact-* rewrite
    // dirs from crashes before their rename
    rewrites.map { r =>
      val dir = new Path(paths.stage, r.dayRel)
      if (!lazyDeletes) {
        committed.day(r.dayRel).retired
          .map(n => new Path(dir, n)).filter(fs.exists)
          .foreach(p => require(fs.delete(p, true), s"delete retired $p failed"))
        StageManifest.day(fs, stageRoot, r.dayRel).orphans
          .foreach(p => require(fs.delete(p, true), s"delete orphan $p failed"))
      }
      val after = StageManifest.visible(fs,
        Seq(StageManifest.day(fs, stageRoot, r.dayRel)), committed)
      (r.filesBefore, after.map(_.files.length).sum)
    }
  }

  /** What one [[vacuum]] run reclaimed — the audit unit (q343). */
  final case class VacuumReport(
      floorVersion: Long,
      nVersionsRetained: Int,
      nVersionsPruned: Int,
      nLeavesDeleted: Int,
      bytesReclaimed: Long)

  /** VACUUM: make lazy deletes a first-class, bounded retention operation.
    *
    * Keeps the newest `retainVersions` manifest snapshots readable and
    * reclaims everything only older history referenced: snapshot files
    * below the new floor, plus every `batch_id=*` leaf visible in NO
    * retained snapshot (compaction's lazily-retired originals). Order is
    * crash-safe — the retention FLOOR publishes first (atomic write-once
    * marker), so at every instant a read either succeeds with full data
    * or fails loudly ("beyond retention"); a crash mid-delete leaves
    * extra files, never missing ones. Any vacuum ends pre-history
    * (`VERSION AS OF 0`) access: version 0 sees every ingest leaf,
    * including the retired ones this run deletes.
    *
    * `retainMs` adds the AGE-based contract real retention policies are
    * written in ("keep 7 days"): every snapshot whose `committedAtMs` is
    * within `retainMs` of `nowMs` is retained IN ADDITION to the newest
    * `retainVersions` — the count is the safety floor (at least the
    * newest snapshot always survives), the age widens it; a snapshot is
    * reclaimed only when it is BOTH beyond the count floor AND older
    * than the cut, exactly Delta/Iceberg's combined semantics. Commit
    * times are normally monotone in version (single-writer contract),
    * but a backwards clock step between maintenance runs can break that
    * — so the retained set is explicitly SUFFIX-CLOSED (everything at
    * or above the oldest version either axis kept survives); otherwise
    * a cut middle version would sit ABOVE the published floor with its
    * manifest deleted, and `VERSION AS OF` on it would return a silent
    * "never committed" instead of the loud beyond-retention error.
    * Negative `retainMs` (the default) disables the age axis; `nowMs`
    * is injectable for deterministic fixtures.
    *
    * Same single-maintainer contract as compaction (one maintenance
    * writer at a time); safe against live ingest — ingest leaves land
    * outside the manifest and are visible in every retained snapshot, so
    * the keep-set always includes them. */
  def vacuum(spark: SparkSession, paths: StreamingIngest.Paths,
      retainVersions: Int = 1, retainMs: Long = -1L,
      nowMs: Long = System.currentTimeMillis()): VacuumReport = {
    require(retainVersions >= 1, s"retainVersions must be >= 1")
    val stageRoot = new Path(paths.stage)
    val fs = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = StageManifest.committedVersions(fs, stageRoot).sorted
    require(vs.nonEmpty,
      "vacuum on a stage zone with no committed snapshots — nothing is " +
        "lazily retired until a compaction commits")
    // a crashed prior vacuum can leave version files BELOW the published
    // floor; they are already unreadable (readVersion is loud there), so
    // they must only ever be PRUNED — excluded from BOTH retention axes
    // (count included: with a leftover below-floor v in `byCount`,
    // retained.head would feed writeFloor a value below the current
    // floor and the monotone require would wedge vacuum until manual
    // cleanup)
    val curFloor = StageManifest.readFloor(fs, stageRoot)
    val (belowFloor, live) = vs.partition(_ < curFloor)
    require(live.nonEmpty, // floor always points at a retained version
      s"published floor $curFloor exceeds every committed version — " +
        "corrupted retention state")
    val byCount = live.takeRight(retainVersions).toSet
    val youngEnough: Long => Boolean =
      if (retainMs < 0L) _ => false
      else v => StageManifest.readVersion(fs, stageRoot, v)
        .exists(_.committedAtMs > nowMs - retainMs)
    // SUFFIX-CLOSE the retained set (see Scaladoc): a backwards clock
    // step can make the age axis keep an old version while cutting a
    // newer one; every pruned version must sit strictly below the new
    // floor, so keep everything >= the oldest version either axis kept
    val keepFrom = live.filter(v => byCount.contains(v) || youngEnough(v)).min
    val (prunedLive, retained) = live.partition(_ < keepFrom)
    val pruned = belowFloor ++ prunedLive
    val floor = retained.head
    val snaps = retained.map(v =>
      StageManifest.readVersion(fs, stageRoot, v).get)

    // 1. publish the floor FIRST: from here on, below-floor reads fail
    //    loudly while every file they would have needed still exists
    StageManifest.writeFloor(fs, stageRoot, floor)

    // 2. prune below-floor snapshot files
    val manifestDir = new Path(stageRoot, StageManifest.DirName)
    pruned.foreach { v =>
      val f = new Path(manifestDir, f"v$v%020d.json")
      if (fs.exists(f)) require(fs.delete(f, false), s"delete $f failed")
    }

    // 3. delete leaves no retained snapshot can see, plus orphaned
    //    .compact-* rewrite dirs from crashed compactions; foreign dirs
    //    are not ours to touch
    var nDeleted = 0
    var bytes = 0L
    for {
      d <- StageManifest.days(fs, stageRoot)
      leaf <- d.leaves.filterNot(l => snaps.exists(_.day(d.rel).includes(l.getName))) ++
        d.orphans
    } {
      bytes += fs.getContentSummary(leaf).getLength
      require(fs.delete(leaf, true), s"delete vacuumed leaf $leaf failed")
      nDeleted += 1
    }
    VacuumReport(floor, retained.length, pruned.length, nDeleted, bytes)
  }

  /** Single-partition convenience form of `compactDays`. */
  def compactPartition(spark: SparkSession, paths: StreamingIngest.Paths,
      year: String, month: String, day: String,
      filesPerPartition: Int = 1, lazyDeletes: Boolean = false,
      zorder: Boolean = false): (Int, Int) =
    compactDays(spark, paths, Seq((year, month, day)), filesPerPartition,
      lazyDeletes, zorder).head
}
