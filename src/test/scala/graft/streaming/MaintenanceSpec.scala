package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField}
import org.scalatest.funsuite.AnyFunSuite
import graft.{Schemas, SparkTestSession}
import graft.ingest.GeoDim

/** Session windows (streaming form of q39) and stage-zone compaction. */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("session_window closes after the gap and merges in-gap events") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, Long, Double)]
    // user 1: two events 10 min apart (one session), then one 2h later
    // (second session); the final far-future event advances the watermark
    source.addData(
      (ts("2024-01-01 10:00:00"), 1L, 1.0),
      (ts("2024-01-01 10:10:00"), 1L, 2.0),
      (ts("2024-01-01 13:00:00"), 1L, 5.0))
    val agg = StreamingAnalytics.sessionCounts(
      source.toDF().toDF("ts", "user_id", "value"),
      gap = "30 minutes", watermark = "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable()
    source.addData((ts("2024-01-02 09:00:00"), 9L, 0.0))
    q.processAllAvailable()
    source.addData((ts("2024-01-03 09:00:00"), 9L, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .select("user_id", "session_start", "n_events", "sum_value")
      .as[(Long, Timestamp, Long, Double)].collect()
      .filter(_._1 == 1L).sortBy(_._2.getTime)
    assert(rows.map(r => (r._3, r._4)).toSeq == Seq((2L, 3.0), (1L, 5.0)),
      s"two sessions expected, got ${rows.toSeq}")
  }

  test("compaction collapses micro-batch files and preserves data, sorted by device") {
    val root = Files.createTempDirectory("graft-compact").toString
    val paths = StreamingIngest.Paths(root)
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes)
    def env(dev: Int) = {
      val inner = s"""{"ln":1.0,"lt":2.0,"bv":4.5,"d":1678759166}"""
      (s"r$dev", b64(s"""{"packetId":1,"deviceType":1,"deviceId":$dev,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""))
    }
    // three micro-batches on one query -> at least 3 files in the partition
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[(String, String)]
    val q = StreamingIngest.start(spark, s.toDF().toDF("recordId", "data"),
      GeoDim.empty(spark), paths, Trigger.ProcessingTime(0))
    (1 to 3).foreach { i =>
      s.addData(env(i * 10), env(i * 10 + 1))
      q.processAllAvailable()
    }
    q.stop()
    val before = StreamingIngest.stageTable(spark, paths)
      .select("deviceid").as[Int].collect().sorted.toSeq
    val (nBefore, nAfter) = StageCompactor.compactPartition(
      spark, paths, "2023", "03", "14", filesPerPartition = 1)
    assert(nBefore >= 3 && nAfter == 1, s"$nBefore -> $nAfter")
    val after = StreamingIngest.stageTable(spark, paths)
    assert(after.select("deviceid").as[Int].collect().sorted.toSeq == before)
    // clustered: single file, rows sorted by deviceid
    assert(after.select("deviceid").as[Int].collect().toSeq == before)
  }

  test("compacting a day of more than 32 leaf files reads it through the stage index: no listing or footer-inference job") {
    val paths = StreamingIngest.Paths(Files.createTempDirectory("graft-compact-wide").toString)
    // 40 leaves of one day, two rows each: at least 40 leaf files
    SyntheticStage.write(spark, paths, 80, day = lit("14"),
      batchId = (col("id") % 40).cast("string"),
      fill = Map("date_time" -> col("id") * 7 % 13, "battery_voltage" -> col("id") / 10))
    def rows = StreamingIngest.stageTable(spark, paths).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    val before = rows

    // a metadata job (parallel listing, parquet footer inference) runs over
    // a driver-side parallelize, unlike the scan and write jobs
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.add(j); () }
    }
    org.apache.spark.sql.graftx.ListenerBusFlush.flush(spark)
    spark.sparkContext.addSparkListener(listener)
    val (nBefore, nAfter) = try {
      val counts = StageCompactor.compactPartition(spark, paths, "2023", "03", "14")
      org.apache.spark.sql.graftx.ListenerBusFlush.flush(spark)
      counts
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(nBefore >= 40 && nAfter == 1, s"$nBefore -> $nAfter")
    val metadata = jobs.asScala.toSeq.filter(_.stageInfos.exists(
      _.rddInfos.exists(_.name == "ParallelCollectionRDD")))
    assert(metadata.size == 0, s"listing/inference jobs of ${jobs.size} compaction jobs: " +
      metadata.map(_.stageInfos.map(_.name).mkString(",")).mkString("; "))

    val leaf = new Path(paths.stage, "year=2023/month=03/day=14")
    val fs = leaf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val compacted = fs.listStatus(leaf).map(_.getPath)
      .filter(_.getName.startsWith("batch_id=compacted-")).toSeq
    assert(compacted.size == 1, compacted)
    val footer = spark.read.parquet(compacted.head.toString).schema
    assert(footer.map(f => f.name -> f.dataType) ==
      (StructField("recordId", StringType) +: Schemas.stage30.fields.toSeq)
        .map(f => f.name -> f.dataType))
    assert(rows == before)
  }

  test("snapshot versions: commits stack, half-written temps are invisible, version claims are exclusive") {
    val root = new Path(Files.createTempDirectory("graft-mver").toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val day = "year=2023/month=03/day=14"
    // v1: leaf A replaces batch 1 (nonexistent originals prune from retired)
    val s1 = StageManifest.commit(fs, root,
      Map(day -> StageManifest.DayChange(Set("batch_id=1"), "batch_id=compacted-A")))
    assert(s1.version == 1 && s1.day(day).live == Set("batch_id=compacted-A"))
    // a crash mid-write leaves only a temp — readers must still see v1
    val tmp = new Path(new Path(root, StageManifest.DirName), ".v2.json.tmp")
    val out = fs.create(tmp, true)
    out.write("""{"version":2,"days":{}}""".getBytes("UTF-8")); out.close()
    assert(StageManifest.read(fs, root) == s1,
      "a half-written temp must be invisible to readers")
    // v2 commits on top: A retires in the same day (exists-check pruning
    // drops it from `retired` since it is not on disk in this synthetic dir)
    val s2 = StageManifest.commit(fs, root,
      Map(day -> StageManifest.DayChange(Set("batch_id=compacted-A"), "batch_id=compacted-B")))
    assert(s2.version == 2 && s2.day(day).live == Set("batch_id=compacted-B"))
    assert(StageManifest.read(fs, root).version == 2)
    // another writer's committed v3 is picked up as the base, never
    // clobbered: our next commit reads it and lands as v4 (a claim lost in
    // the read→rename race would instead fail the exists-check fast)
    val claimed = new Path(new Path(root, StageManifest.DirName),
      f"v${3L}%020d.json")
    val out2 = fs.create(claimed, true)
    out2.write("""{"version":3,"days":{}}""".getBytes("UTF-8")); out2.close()
    val s4 = StageManifest.commit(fs, root,
      Map(day -> StageManifest.DayChange(Set.empty, "batch_id=compacted-C")))
    assert(s4.version == 4, s"commit must build on the foreign v3, got ${s4.version}")
    // v3 emptied the day map, so only C is live in the rebuilt day state
    assert(s4.day(day).live == Set("batch_id=compacted-C"))
  }

  test("a compaction spanning two day partitions flips atomically: all-old before the commit, all-new after") {
    val root = Files.createTempDirectory("graft-multiday").toString
    val paths = StreamingIngest.Paths(root)
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes)
    def env(dev: Int, epoch: Long) = {
      val inner = s"""{"ln":1.0,"lt":2.0,"bv":4.5,"d":$epoch}"""
      (s"r$dev-$epoch", b64(s"""{"packetId":1,"deviceType":1,"deviceId":$dev,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""))
    }
    // two batches, each writing into BOTH event days (2023-03-14, 2023-03-15)
    Seq(1, 2).foreach { i =>
      StreamingIngest.writeBatch(
        Seq(env(i, 1678759166L), env(i + 10, 1678845566L)).toDF("recordId", "data"),
        GeoDim.empty(spark), paths, i.toLong)
    }
    val expect = StreamingIngest.stageTable(spark, paths)
      .select("deviceid").as[Int].collect().sorted.toSeq
    assert(expect == Seq(1, 2, 11, 12))
    val stageRoot = new Path(paths.stage)
    val fs = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // land BOTH days' rewrites without committing — the multi-partition
    // crash window. Readers must see the originals everywhere (all-old):
    // with per-day manifests this is the state where one day could already
    // have flipped while the other had not.
    val rewrites = Seq(("2023", "03", "14"), ("2023", "03", "15")).map {
      case (y, m, d) =>
        StageCompactor.rewriteDay(spark, paths, y, m, d,
          filesPerPartition = 1, zorder = false)
    }
    assert(StreamingIngest.stageTable(spark, paths)
      .select("deviceid").as[Int].collect().sorted.toSeq == expect,
      "uncommitted rewrites must be invisible in every partition")
    assert(StreamingIngest.stageTable(spark, paths)
      .select("batch_id").distinct().count() == 2,
      "readers must still see the original micro-batch leaves")

    // ONE commit covers both days — both flip in the same instant
    StageManifest.commit(fs, stageRoot,
      rewrites.map(r => r.dayRel -> StageManifest.DayChange(
        r.replaced, r.compacted)).toMap)
    val after = StreamingIngest.stageTable(spark, paths)
    assert(after.select("deviceid").as[Int].collect().sorted.toSeq == expect)
    assert(after.select("batch_id").distinct().as[String].collect()
      .forall(_.startsWith("compacted-")),
      "after the commit every visible leaf is a compacted one, in both days")
  }

  test("manifest commit makes the compaction swap atomic: the crash window reads consistently") {
    val root = Files.createTempDirectory("graft-manifest").toString
    val paths = StreamingIngest.Paths(root)
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes)
    def env(dev: Int) = {
      val inner = s"""{"ln":1.0,"lt":2.0,"bv":4.5,"d":1678759166}"""
      (s"r$dev", b64(s"""{"packetId":1,"deviceType":1,"deviceId":$dev,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""))
    }
    // two committed micro-batches
    Seq(1, 2).foreach { i =>
      StreamingIngest.writeBatch(
        Seq(env(i)).toDF("recordId", "data"), GeoDim.empty(spark), paths, i.toLong)
    }
    val expect = StreamingIngest.stageTable(spark, paths)
      .select("deviceid").as[Int].collect().sorted.toSeq
    assert(expect == Seq(1, 2))

    // compact but CRASH before the lazy deletes: retired originals remain
    StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
      lazyDeletes = true)
    val dayDir = new Path(s"${paths.stage}/year=2023/month=03/day=14")
    val fs = dayDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = fs.listStatus(dayDir).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted
    assert(leaves.count(_.startsWith("batch_id=compacted-")) == 1)
    assert(leaves.contains("batch_id=1") && leaves.contains("batch_id=2"),
      s"originals must still be on disk (lazy deletes), got ${leaves.toSeq}")
    // ...but the reader sees exactly the compacted content, no double image
    val got = StreamingIngest.stageTable(spark, paths)
      .select("deviceid").as[Int].collect().sorted.toSeq
    assert(got == expect, s"crash window must read consistently, got $got")

    // a later compaction run folds the visible leaf and cleans up fully —
    // including the retired leftovers of the crashed run (z-order variant
    // doubles as the clustering integration path)
    val (_, nAfter) = StageCompactor.compactPartition(
      spark, paths, "2023", "03", "14", zorder = true)
    assert(nAfter == 1)
    assert(StreamingIngest.stageTable(spark, paths)
      .select("deviceid").as[Int].collect().sorted.toSeq == expect)
    val leftover = fs.listStatus(dayDir).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
    assert(leftover.count(_.startsWith("batch_id=compacted-")) == 1)
    assert(!leftover.contains("batch_id=1") && !leftover.contains("batch_id=2"),
      s"repair run must vacuum retired leaves, got ${leftover.toSeq}")
  }

  test("time travel reads any retained snapshot version; beyond retention fails loudly") {
    val root = Files.createTempDirectory("graft-travel").toString
    val paths = StreamingIngest.Paths(root)
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes)
    def env(dev: Int) = {
      val inner = s"""{"ln":1.0,"lt":2.0,"bv":4.5,"d":1678759166}"""
      (s"r$dev", b64(s"""{"packetId":1,"deviceType":1,"deviceId":$dev,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""))
    }
    Seq(1, 2).foreach { i =>
      StreamingIngest.writeBatch(
        Seq(env(i)).toDF("recordId", "data"), GeoDim.empty(spark), paths, i.toLong)
    }
    // v1: compact with retained originals (lazy deletes = retention window)
    StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
      lazyDeletes = true)
    val stageRoot = new Path(paths.stage)
    val fs = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(StageManifest.read(fs, stageRoot).version == 1L)

    def devicesAt(v: Option[Long]): Seq[Int] =
      StreamingIngest.stageTableAt(spark, paths, v)
        .select("deviceid").as[Int].collect().sorted.toSeq
    // current and v1 read the compacted image; v0 reads the pre-compaction
    // micro-batch leaves — same rows, different physical layout
    assert(devicesAt(None) == Seq(1, 2))
    assert(devicesAt(Some(1L)) == Seq(1, 2))
    assert(devicesAt(Some(0L)) == Seq(1, 2))
    assert(StreamingIngest.stageTableAt(spark, paths, Some(0L))
      .select("batch_id").distinct().as[String].collect().sorted.toSeq ==
      Seq("1", "2"), "v0 must read the original micro-batch leaves")
    assert(StreamingIngest.stageTableAt(spark, paths, Some(1L))
      .select("batch_id").distinct().as[String].collect()
      .forall(_.startsWith("compacted-")), "v1 must read the compacted leaf")
    // unknown versions are an explicit error
    assertThrows[IllegalArgumentException](devicesAt(Some(7L)))

    // vacuum one retired original: v0 is now beyond retention → loud
    // failure (the current manifest still records the leaf as retired);
    // the current read is unaffected
    val dayDir = new Path(s"${paths.stage}/year=2023/month=03/day=14")
    assert(fs.delete(new Path(dayDir, "batch_id=1"), true))
    assert(devicesAt(None) == Seq(1, 2))
    val e = intercept[IllegalArgumentException](devicesAt(Some(0L)))
    assert(e.getMessage.contains("beyond retention"), e.getMessage)
  }

  test("VACUUM floors history, reclaims unreferenced leaves, keeps current reads intact") {
    val root = Files.createTempDirectory("graft-vacuum").toString
    val paths = StreamingIngest.Paths(root)
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes)
    def env(dev: Int) = {
      val inner = s"""{"ln":1.0,"lt":2.0,"bv":4.5,"d":1678759166}"""
      (s"r$dev", b64(s"""{"packetId":1,"deviceType":1,"deviceId":$dev,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""))
    }
    Seq(1, 2).foreach { i =>
      StreamingIngest.writeBatch(
        Seq(env(i)).toDF("recordId", "data"), GeoDim.empty(spark), paths, i.toLong)
    }
    StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
      lazyDeletes = true) // v1
    StreamingIngest.writeBatch(
      Seq(env(3)).toDF("recordId", "data"), GeoDim.empty(spark), paths, 3L)
    StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
      lazyDeletes = true) // v2
    val stageRoot = new Path(paths.stage)
    val fs = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(StageManifest.read(fs, stageRoot).version == 2L)
    // nothing vacuumed yet: v0/v1/v2 all readable (lazy deletes retained)
    def devicesAt(v: Option[Long]): Seq[Int] =
      StreamingIngest.stageTableAt(spark, paths, v)
        .select("deviceid").as[Int].collect().sorted.toSeq
    assert(devicesAt(Some(0L)) == Seq(1, 2, 3))
    assert(devicesAt(Some(1L)) == Seq(1, 2, 3))

    val rep = StageCompactor.vacuum(spark, paths, retainVersions = 1)
    assert(rep.floorVersion == 2L && rep.nVersionsRetained == 1 &&
      rep.nVersionsPruned == 1, rep.toString)
    // 3 ingest originals + the superseded compacted-1 leaf
    assert(rep.nLeavesDeleted == 4 && rep.bytesReclaimed > 0L, rep.toString)

    // current reads are untouched; the one surviving leaf is compacted
    assert(devicesAt(None) == Seq(1, 2, 3))
    assert(devicesAt(Some(2L)) == Seq(1, 2, 3))
    assert(StreamingIngest.stageTableAt(spark, paths, None)
      .select("batch_id").distinct().as[String].collect()
      .forall(_.startsWith("compacted-")))
    // below-floor reads fail LOUDLY with the vacuum diagnosis — v1 (its
    // snapshot file is pruned) and v0 (pre-history) alike
    Seq(0L, 1L).foreach { v =>
      val e = intercept[IllegalArgumentException](devicesAt(Some(v)))
      assert(e.getMessage.contains("beyond retention") &&
        e.getMessage.contains("VACUUM"), e.getMessage)
    }
    // the timestamp axis floors too: instants before the retained commit
    // are before readable history now
    val keptAt = StageManifest.read(fs, stageRoot).committedAtMs
    assert(StageManifest.versionAtTime(fs, stageRoot, keptAt) == 2L)
    assertThrows[IllegalArgumentException](
      StageManifest.versionAtTime(fs, stageRoot, keptAt - 1L))

    // idempotent: a second vacuum finds nothing to reclaim
    val rep2 = StageCompactor.vacuum(spark, paths, retainVersions = 1)
    assert(rep2.floorVersion == 2L && rep2.nVersionsPruned == 0 &&
      rep2.nLeavesDeleted == 0 && rep2.bytesReclaimed == 0L, rep2.toString)
    // the floor is monotone even if a later run retains more versions
    val rep3 = StageCompactor.vacuum(spark, paths, retainVersions = 5)
    assert(rep3.floorVersion == 2L, rep3.toString)
    assertThrows[IllegalArgumentException](
      StageManifest.writeFloor(fs, stageRoot, 1L))
  }

  test("age-based VACUUM: retainMs widens the count floor; old-and-beyond-count is reclaimed") {
    val root = Files.createTempDirectory("graft-vacuum-age").toString
    val paths = StreamingIngest.Paths(root)
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes)
    def env(dev: Int) = {
      val inner = s"""{"ln":1.0,"lt":2.0,"bv":4.5,"d":1678759166}"""
      (s"r$dev", b64(s"""{"packetId":1,"deviceType":1,"deviceId":$dev,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""))
    }
    Seq(1, 2).foreach { i =>
      StreamingIngest.writeBatch(
        Seq(env(i)).toDF("recordId", "data"), GeoDim.empty(spark), paths, i.toLong)
    }
    StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
      lazyDeletes = true) // v1
    Thread.sleep(15) // commit stamps have ms resolution; force t2 > t1
    StreamingIngest.writeBatch(
      Seq(env(3)).toDF("recordId", "data"), GeoDim.empty(spark), paths, 3L)
    StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
      lazyDeletes = true) // v2
    val stageRoot = new Path(paths.stage)
    val fs = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t1 = StageManifest.readVersion(fs, stageRoot, 1L).get.committedAtMs
    val t2 = StageManifest.readVersion(fs, stageRoot, 2L).get.committedAtMs
    assert(t2 > t1, s"distinct commit instants required: $t1 vs $t2")

    // v1 still inside the window: the age axis HOLDS it above the count
    // floor (retainVersions=1 alone would prune it) — floor stays 1,
    // no snapshot pruned; only the pre-history-only leaves (the two
    // originals retired in BOTH retained snapshots) are reclaimed
    val hold = StageCompactor.vacuum(spark, paths, retainVersions = 1,
      retainMs = (t2 - t1) + 1000L, nowMs = t2)
    assert(hold.floorVersion == 1L && hold.nVersionsPruned == 0 &&
      hold.nVersionsRetained == 2, hold.toString)
    def devicesAt(v: Option[Long]): Seq[Int] =
      StreamingIngest.stageTableAt(spark, paths, v)
        .select("deviceid").as[Int].collect().sorted.toSeq
    assert(devicesAt(Some(1L)) == Seq(1, 2, 3),
      "an age-held snapshot must stay fully readable")

    // window shrinks below t2-t1: v1 is now old AND beyond the count
    // floor -> reclaimed; v2 survives on the count floor even though the
    // window excludes it too (the count is the safety floor)
    val cut = StageCompactor.vacuum(spark, paths, retainVersions = 1,
      retainMs = (t2 - t1) - 1L, nowMs = t2 + (t2 - t1))
    assert(cut.floorVersion == 2L && cut.nVersionsPruned == 1, cut.toString)
    assert(devicesAt(None) == Seq(1, 2, 3))
    val e = intercept[IllegalArgumentException](devicesAt(Some(1L)))
    assert(e.getMessage.contains("beyond retention"), e.getMessage)
  }

  test("VACUUM suffix-closes retention under a backwards clock step: nothing above the floor is ever pruned") {
    val root = Files.createTempDirectory("graft-vacuum-clock").toString
    val paths = StreamingIngest.Paths(root)
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes)
    def env(dev: Int) = {
      val inner = s"""{"ln":1.0,"lt":2.0,"bv":4.5,"d":1678759166}"""
      (s"r$dev", b64(s"""{"packetId":1,"deviceType":1,"deviceId":$dev,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""))
    }
    Seq(1, 2, 3).foreach { i =>
      StreamingIngest.writeBatch(
        Seq(env(i)).toDF("recordId", "data"), GeoDim.empty(spark), paths, i.toLong)
      StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
        lazyDeletes = true) // v1, v2, v3
    }
    val stageRoot = new Path(paths.stage)
    val fs = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t3 = StageManifest.readVersion(fs, stageRoot, 3L).get.committedAtMs
    // simulate a backwards clock step BETWEEN maintenance runs: v1's
    // commit stamp lands above v2's and v3's (the single-writer contract
    // orders versions, not wall clocks)
    val v1File = new Path(new Path(stageRoot, StageManifest.DirName),
      f"v${1L}%020d.json")
    val in = fs.open(v1File)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val patched = raw.replaceFirst(""""committedAtMs":\d+""",
      s""""committedAtMs":${t3 + 10000L}""")
    val out = fs.create(v1File, true)
    try out.write(patched.getBytes("UTF-8")) finally out.close()

    // age axis (window 5 s around t3+10 s) keeps v1 (patched stamp) but
    // not v2/v3; the count floor keeps v3 alone. A naive partition would
    // retain {v1, v3} and DELETE v2's manifest ABOVE the floor v1 —
    // VERSION AS OF 2 would then report "never committed" with its
    // exclusively-visible leaves gone. Suffix-closure must keep all three.
    val rep = StageCompactor.vacuum(spark, paths, retainVersions = 1,
      retainMs = 5000L, nowMs = t3 + 10001L)
    assert(rep.floorVersion == 1L && rep.nVersionsPruned == 0 &&
      rep.nVersionsRetained == 3, rep.toString)
    def devicesAt(v: Option[Long]): Seq[Int] =
      StreamingIngest.stageTableAt(spark, paths, v)
        .select("deviceid").as[Int].collect().sorted.toSeq
    assert(devicesAt(Some(2L)) == Seq(1, 2, 3),
      "the middle version must stay readable — it is above the floor")
  }

  test("VACUUM prunes a crashed run's below-floor manifest leftover instead of wedging the count axis") {
    val root = Files.createTempDirectory("graft-vacuum-leftover").toString
    val paths = StreamingIngest.Paths(root)
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes)
    def env(dev: Int) = {
      val inner = s"""{"ln":1.0,"lt":2.0,"bv":4.5,"d":1678759166}"""
      (s"r$dev", b64(s"""{"packetId":1,"deviceType":1,"deviceId":$dev,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""))
    }
    Seq(1, 2).foreach { i =>
      StreamingIngest.writeBatch(
        Seq(env(i)).toDF("recordId", "data"), GeoDim.empty(spark), paths, i.toLong)
      StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
        lazyDeletes = true) // v1, v2
    }
    val stageRoot = new Path(paths.stage)
    val fs = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1File = new Path(new Path(stageRoot, StageManifest.DirName),
      f"v${1L}%020d.json")
    val in = fs.open(v1File)
    val v1Bytes = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(StageCompactor.vacuum(spark, paths, retainVersions = 1)
      .floorVersion == 2L)
    // simulate the crash ordering: floor 2 published, but the v1 manifest
    // delete never ran (vacuum publishes the floor FIRST by design)
    val out = fs.create(v1File, false)
    try out.write(v1Bytes.getBytes("UTF-8")) finally out.close()

    // a count axis computed over ALL version files would put the leftover
    // v1 in byCount (retainVersions=2), feed writeFloor(1), and trip the
    // monotone require — wedging vacuum until manual cleanup. Below-floor
    // files must be prune-only.
    val rep = StageCompactor.vacuum(spark, paths, retainVersions = 2)
    assert(rep.floorVersion == 2L && rep.nVersionsPruned == 1, rep.toString)
    assert(!fs.exists(v1File), "the leftover must be reclaimed")
  }

  test("retention floor survives every crash point: markers are write-once, max wins") {
    val root = Files.createTempDirectory("graft-floor").toString
    val stageRoot = new Path(root)
    val fs = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(StageManifest.readFloor(fs, stageRoot) == 0L)

    // legacy single-file layout (pre-round-14 zones) still reads
    val dir = new Path(stageRoot, StageManifest.DirName)
    fs.mkdirs(dir)
    val legacy = new Path(dir, "floor")
    val out = fs.create(legacy, true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    assert(StageManifest.readFloor(fs, stageRoot) == 2L)

    // publishing a higher floor retires the legacy file and lower markers
    StageManifest.writeFloor(fs, stageRoot, 3L)
    assert(StageManifest.readFloor(fs, stageRoot) == 3L)
    assert(!fs.exists(legacy),
      "legacy floor file must be pruned after the marker publish")

    // the round-13 crash window (delete old, crash, rename never happens)
    // cannot recur: a half-published NEXT floor is only a stray temp, and
    // the durable v3 marker still answers — the floor NEVER reverts to 0
    // on a zone whose below-floor leaves a prior vacuum already deleted
    val strayTmp = new Path(dir, ".floor-9.tmp")
    val out2 = fs.create(strayTmp, true)
    try out2.write("9".getBytes("UTF-8")) finally out2.close()
    assert(StageManifest.readFloor(fs, stageRoot) == 3L)

    // re-publishing the current floor is idempotent; lower is loud
    StageManifest.writeFloor(fs, stageRoot, 3L)
    assert(StageManifest.readFloor(fs, stageRoot) == 3L)
    assertThrows[IllegalArgumentException](
      StageManifest.writeFloor(fs, stageRoot, 2L))

    // crash AFTER a higher marker lands but BEFORE cleanup: both markers
    // on disk, max wins (simulated by planting the lower marker back)
    val low = new Path(dir, f"floor-${1L}%020d")
    val out3 = fs.create(low, true)
    try out3.write("1".getBytes("UTF-8")) finally out3.close()
    assert(StageManifest.readFloor(fs, stageRoot) == 3L)
  }
}
