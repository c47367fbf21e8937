package graft.streaming

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Versioned TABLE-LEVEL commit manifest — the table-format kernel that
  * makes compaction ATOMIC on a plain filesystem, across any number of
  * partitions at once.
  *
  * One snapshot file per table version lives under `stage/_manifest/`:
  *
  *   _manifest/v00000000000000000001.json
  *   _manifest/v00000000000000000002.json   <- current = highest version
  *
  * Each snapshot holds, per day partition (keyed by its relative path
  * `year=Y/month=M/day=D`), two sets of leaf names:
  *
  *   - `retired`: ingest leaves REPLACED by compaction — readers skip them
  *     even while they still exist (deletes are lazy);
  *   - `live`: compacted leaves readers may include — a compacted leaf NOT
  *     in this set is invisible, even though it already sits in the
  *     directory.
  *
  * Visibility rule (StreamingIngest.stageTable): ingest leaves
  * (`batch_id=<n>`) count unless retired; compacted leaves
  * (`batch_id=compacted-*`) count only while listed live. A commit writes
  * the WHOLE next snapshot (previous state merged with the new changes,
  * which may span many days) as a NEW version file, published by one
  * atomic temp→rename. So:
  *
  *   crash before the version file lands → compacted leaves exist but are
  *     not live → readers see exactly the originals, in EVERY partition;
  *   after it lands → originals are retired everywhere the commit touched
  *     → readers see exactly the compacted leaves, in EVERY partition;
  *   there is no instant at which one partition reads new and another
  *     old for the same commit — the round-2 per-day-manifest gap.
  *
  * A half-written temp (`.v…json.tmp`) is never read: readers take the
  * highest committed `v*.json` only. Writer concurrency: version claims
  * are exists-checked, so racing maintenance jobs fail fast rather than
  * fork history — the maintenance contract is one compactor at a time
  * (ingest never writes the manifest; only compaction does).
  *
  * Consequence: every reader and maintainer of the stage zone takes its
  * leaves from ONE walk ([[days]], [[visible]], [[leavesAt]]), which
  * applies this rule and, for travelling reads, the retention check.
  * `stageTable`, SQL `graft_stage` and the compactor scan through
  * `StreamingIngest.stageIndex` over that walk's listing, and
  * `StageCatalog` registers exactly its leaves — as any table format
  * requires readers to honor its manifest rather than `ls`.
  */
object StageManifest {
  val DirName = "_manifest"

  final case class DayState(retired: Set[String], live: Set[String]) {
    /** Leaf visibility under this day's state. */
    def includes(leafName: String): Boolean =
      if (leafName.startsWith("batch_id=compacted-")) live.contains(leafName)
      else !retired.contains(leafName)
  }
  val EmptyDay: DayState = DayState(Set.empty, Set.empty)

  /** `committedAtMs` is the commit's wall-clock (epoch millis) — what SQL
    * `TIMESTAMP AS OF` resolves against. 0 marks the pre-history empty
    * snapshot (version 0), which has no commit instant. */
  final case class Snapshot(version: Long, days: Map[String, DayState],
      committedAtMs: Long = 0L) {
    def day(rel: String): DayState = days.getOrElse(rel, EmptyDay)
  }
  val Empty: Snapshot = Snapshot(0L, Map.empty)

  /** One day's commit payload: originals leaving the visible set and the
    * compacted leaf entering it. */
  final case class DayChange(replaced: Set[String], compacted: String)

  /** One `year=/month=/day=` directory of the zone: its manifest key
    * (`year=Y/month=M/day=D`) and the directories under it, listed once.
    * Leaves are exclusively `batch_id=*` DIRS: mixing leaf-dir files with
    * loose day-level files under one basePath would make Spark's partition
    * inference see conflicting depths ({y,m,d} vs {y,m,d,batch_id}) and
    * reject the read, so anything else at the day level is not data. */
  final case class Day(rel: String, dirs: Seq[Path]) {
    /** Its `batch_id=` leaves, visible or not. */
    def leaves: Seq[Path] = dirs.filter(_.getName.startsWith("batch_id="))
    /** `.compact-*` rewrite dirs left by a compaction that crashed before
      * renaming them into a leaf. */
    def orphans: Seq[Path] = dirs.filter(_.getName.startsWith(".compact-"))
  }

  /** A visible leaf: its day's manifest key, its dir and its parquet files. */
  final case class Leaf(dayRel: String, dir: Path, files: Array[FileStatus])

  /** The zone's one directory walk: every `year=/month=/day=` dir under
    * `stageRoot`, each with its subdirectories. */
  def days(fs: FileSystem, stageRoot: Path): Seq[Day] = {
    def children(p: Path, prefix: String) =
      if (!fs.isDirectory(p)) Seq.empty
      else fs.listStatus(p)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .map(_.getPath).toSeq
    for {
      y <- children(stageRoot, "year=")
      m <- children(y, "month=")
      d <- children(m, "day=")
    } yield day(fs, stageRoot, s"${y.getName}/${m.getName}/${d.getName}")
  }

  /** One day of the walk, by manifest key; no dirs if it does not exist. */
  def day(fs: FileSystem, stageRoot: Path, rel: String): Day = {
    val dir = new Path(stageRoot, rel)
    Day(rel,
      if (!fs.isDirectory(dir)) Seq.empty
      else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath).toSeq)
  }

  /** The leaves of `days` that `snapshot` shows, each with its parquet
    * files; leaves holding none are left out. */
  def visible(fs: FileSystem, days: Seq[Day], snapshot: Snapshot): Seq[Leaf] =
    for {
      d <- days
      leaf <- d.leaves if snapshot.day(d.rel).includes(leaf.getName)
      files = fs.listStatus(leaf).filter(_.getPath.getName.endsWith(".parquet"))
      if files.nonEmpty
    } yield Leaf(d.rel, leaf, files)

  /** The visible leaves of the whole zone as of snapshot `asOfVersion`
    * (None = current): what every stage read scans. A travelling read
    * (an older version) is checked against retention: a leaf that snapshot
    * shows but the current one has retired must still exist, or the travel
    * would silently lose rows. */
  def leavesAt(fs: FileSystem, stageRoot: Path,
      asOfVersion: Option[Long]): Seq[Leaf] = {
    val current = read(fs, stageRoot)
    val snapshot = asOfVersion match {
      case Some(v) if v != current.version =>
        readVersion(fs, stageRoot, v).getOrElse(
          throw new IllegalArgumentException(
            s"no stage snapshot version $v (current is ${current.version})"))
      case _ => current
    }
    val all = days(fs, stageRoot)
    if (snapshot.version != current.version) all.foreach { d =>
      val present = d.leaves.map(_.getName).toSet
      val lost = current.day(d.rel).retired
        .filter(snapshot.day(d.rel).includes).diff(present)
      require(lost.isEmpty,
        s"time travel to version ${snapshot.version} is beyond retention: " +
          s"day ${d.rel} leaves already deleted: ${lost.mkString(", ")}")
    }
    visible(fs, all, snapshot)
  }

  private def versionFile(root: Path, v: Long) =
    new Path(new Path(root, DirName), f"v$v%020d.json")

  /** Current snapshot = the highest committed version file (temps and
    * foreign names ignored); an absent/empty `_manifest/` dir reads as the
    * empty snapshot. */
  def read(fs: FileSystem, stageRoot: Path): Snapshot = {
    val vs = committedVersions(fs, stageRoot)
    if (vs.isEmpty) Empty else readFile(fs, stageRoot, vs.max)
  }

  /** All committed version numbers, unsorted (empty for a fresh table). */
  def committedVersions(fs: FileSystem, stageRoot: Path): Seq[Long] = {
    val dir = new Path(stageRoot, DirName)
    try fs.listStatus(dir).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLongOption
      }.flatten
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** A SPECIFIC committed snapshot — the time-travel entry point. Version 0
    * is the pre-history empty snapshot (all ingest leaves visible, nothing
    * compacted); later versions read their retained `v*.json`. None if the
    * version was never committed. Versions below the VACUUM floor fail
    * LOUDLY rather than return None: their version files and unreferenced
    * leaves are gone, and "no such version" would misdiagnose a retention
    * cut as a caller typo. */
  def readVersion(fs: FileSystem, stageRoot: Path, v: Long): Option[Snapshot] = {
    val floor = readFloor(fs, stageRoot)
    require(v >= floor,
      s"time travel to version $v is beyond retention: VACUUM pruned " +
        s"history below version $floor")
    if (v == 0L) Some(Empty)
    else if (committedVersions(fs, stageRoot).contains(v))
      Some(readFile(fs, stageRoot, v))
    else None
  }

  private def legacyFloorFile(root: Path) =
    new Path(new Path(root, DirName), "floor")
  private def floorMarker(root: Path, v: Long) =
    new Path(new Path(root, DirName), f"floor-$v%020d")

  /** The VACUUM retention floor: the lowest version still readable. 0 (the
    * pre-history snapshot) until the first vacuum writes a marker. The
    * floor is the MAX over all `floor-<v>` marker names (plus the single
    * pre-round-14 `floor` file's body, for zones written by older code) —
    * markers are append-only, so no read ever observes a floor LOWER than
    * one previously published. */
  def readFloor(fs: FileSystem, stageRoot: Path): Long = {
    val dir = new Path(stageRoot, DirName)
    val markers =
      try fs.listStatus(dir).map(_.getPath.getName).toSeq
        .collect { case n if n.startsWith("floor-") =>
          n.stripPrefix("floor-").toLongOption
        }.flatten
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val legacy =
      try {
        val in = fs.open(legacyFloorFile(stageRoot))
        val body = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 256, false)
          new String(out.toByteArray, StandardCharsets.UTF_8).trim
        } finally in.close()
        body.toLongOption.toSeq
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    (markers ++ legacy :+ 0L).max
  }

  /** Publish a new retention floor. Monotone: vacuum never lowers the
    * floor. Crash-safe WITHOUT a delete window (round-13 ADVICE): the
    * round-13 form deleted the single `floor` file before renaming the
    * replacement in, and a crash in that window reverted the floor to 0
    * on a zone whose below-floor leaves a PRIOR vacuum already deleted —
    * `VERSION AS OF 0` then read a silently partial frame. Markers are
    * write-once files named by their version (`floor-<v>`, atomic
    * temp→rename, never deleted before a HIGHER marker is durable), and
    * [[readFloor]] takes the max — at every crash point the max over
    * surviving markers is a floor some vacuum legitimately published.
    * Lower markers and the legacy file are pruned only AFTER the new
    * marker lands, purely to keep the dir small. */
  def writeFloor(fs: FileSystem, stageRoot: Path, v: Long): Unit = {
    val cur = readFloor(fs, stageRoot)
    require(v >= cur, s"retention floor must be monotone: $v < current $cur")
    val dir = new Path(stageRoot, DirName)
    fs.mkdirs(dir)
    val target = floorMarker(stageRoot, v)
    if (!fs.exists(target)) {
      val tmp = new Path(dir, s".floor-$v.tmp")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // a concurrent writer publishing the SAME version is benign — the
      // marker content is its name; any surviving copy is correct
      if (!fs.rename(tmp, target))
        require(fs.exists(target), s"floor publish failed: $tmp -> $target")
    }
    // cleanup AFTER the durable publish: removing a LOWER marker can
    // never lower the max, so a crash anywhere in here is harmless
    try {
      fs.listStatus(dir).map(_.getPath).foreach { p =>
        val n = p.getName
        val lower = n.startsWith("floor-") &&
          n.stripPrefix("floor-").toLongOption.exists(_ < v)
        if (lower || n == "floor") fs.delete(p, false)
      }
    } catch { case _: java.io.FileNotFoundException => () }
  }

  private def readFile(fs: FileSystem, stageRoot: Path, v: Long): Snapshot = {
    val file = versionFile(stageRoot, v)
    val in = fs.open(file)
    val body = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val snap = parse(v, body)
    // Pre-committedAtMs manifests (or hand-copied fixtures): fall back to
    // the version file's own modification time — weaker (copies reset it)
    // but monotone enough for TIMESTAMP AS OF over a live table.
    if (snap.committedAtMs > 0L) snap
    else snap.copy(committedAtMs = fs.getFileStatus(file).getModificationTime)
  }

  /** The snapshot in effect at epoch-millis `tMs` — the latest committed
    * version whose commit walltime is <= tMs (commit times are monotone in
    * version by the single-writer contract). Loud at the edges, mirroring
    * Delta/Iceberg: a table with no commits has no timestamp axis at all,
    * and a timestamp before the first commit is before the table's
    * history (resolving it to version 0 would silently show ingest
    * leaves that MAY have landed after tMs — ingest is manifest-free, so
    * pre-first-commit instants are genuinely unresolvable). */
  def versionAtTime(fs: FileSystem, stageRoot: Path, tMs: Long): Long = {
    val vs = committedVersions(fs, stageRoot).sorted
    require(vs.nonEmpty,
      "TIMESTAMP AS OF on a stage zone with no committed snapshots — " +
        "the timestamp axis starts at the first manifest commit " +
        "(VERSION AS OF 0 reads the pre-compaction state)")
    val stamped = vs.map(v => v -> readFile(fs, stageRoot, v).committedAtMs)
    require(tMs >= stamped.head._2,
      s"TIMESTAMP AS OF $tMs ms is before this stage zone's history " +
        s"(first commit at ${stamped.head._2} ms)")
    stamped.filter(_._2 <= tMs).map(_._1).max
  }

  /** Publish one commit covering any number of day partitions: for each
    * day, `replaced` leaves leave the visible set and `compacted` enters
    * it — all days flip in the SAME atomic version-file rename. Retired
    * entries whose leaves no longer exist are pruned so the snapshot stays
    * O(live leaves). Returns the committed snapshot. */
  def commit(fs: FileSystem, stageRoot: Path,
      changes: Map[String, DayChange]): Snapshot = {
    val prev = read(fs, stageRoot)
    val nextDays = changes.foldLeft(prev.days) { case (acc, (dayRel, ch)) =>
      val cur = acc.getOrElse(dayRel, EmptyDay)
      val dayDir = new Path(stageRoot, dayRel)
      acc.updated(dayRel, DayState(
        retired = (cur.retired ++ ch.replaced - ch.compacted)
          .filter(n => fs.exists(new Path(dayDir, n))),
        live = (cur.live -- ch.replaced) + ch.compacted))
    }
    val next = Snapshot(prev.version + 1, nextDays,
      committedAtMs = System.currentTimeMillis())
    val dir = new Path(stageRoot, DirName)
    fs.mkdirs(dir)
    val target = versionFile(stageRoot, next.version)
    require(!fs.exists(target),
      s"manifest version ${next.version} already exists — concurrent " +
        "maintenance writer detected; re-run after it finishes")
    val tmp = new Path(dir, s".v${next.version}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(render(next).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, target), s"manifest commit $tmp -> $target failed")
    next
  }

  private def esc(n: String): String =
    "\"" + n.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def renderArr(s: Set[String]): String =
    s.toSeq.sorted.map(esc).mkString("[", ",", "]")

  private def render(m: Snapshot): String = {
    val days = m.days.toSeq.sortBy(_._1).map { case (d, st) =>
      s"""${esc(d)}:{"retired":${renderArr(st.retired)},"live":${renderArr(st.live)}}"""
    }.mkString(",")
    s"""{"version":${m.version},"committedAtMs":${m.committedAtMs},"days":{$days}}"""
  }

  private def parseArr(body: String): Set[String] =
    if (body.trim.isEmpty) Set.empty
    else body.trim.split("\",\\s*\"").map(_.stripPrefix("\"").stripSuffix("\"")
      .replace("\\\"", "\"").replace("\\\\", "\\")).toSet

  /** Strict subset of JSON we produce: day keys are partition-path
    * segments, leaf names are `batch_id=…` dir names. */
  private def parse(version: Long, s: String): Snapshot = {
    val dayEntry =
      """"([^"]+)":\{"retired":\[([^\]]*)\],"live":\[([^\]]*)\]\}""".r
    val days = dayEntry.findAllMatchIn(s).map { m =>
      m.group(1) -> DayState(parseArr(m.group(2)), parseArr(m.group(3)))
    }.toMap
    val at = """"committedAtMs":(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(0L)
    Snapshot(version, days, at)
  }
}
