package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ingest.GeoDim
import graft.streaming.{StageCompactor, StreamingIngest, SyntheticStage}

/** SQL-level time travel over the manifest-versioned stage zone
  * (round-10 verdict #5): `graft_stage.<name> VERSION AS OF v` must reach
  * every retained manifest snapshot through plain SQL with the same
  * semantics as the programmatic `stageTableAt` — current vs historical
  * images across a compaction, loud unknown-version errors, and the loud
  * beyond-retention failure once a vacuum deletes a travelled-to leaf. */
class TimeTravelSqlSpec extends AnyFunSuite {
  lazy val spark = graft.Graft.ensureConfigured(SparkTestSession.spark)
  import spark.implicits._

  private def b64(s: String) =
    java.util.Base64.getEncoder.encodeToString(s.getBytes)
  private def env(dev: Int) = {
    val inner = s"""{"ln":1.0,"lt":2.0,"bv":4.5,"d":1678759166}"""
    (s"r$dev", b64(s"""{"packetId":1,"deviceType":1,"deviceId":$dev,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""))
  }

  test("VERSION AS OF reads snapshots across a compaction; errors are loud") {
    val root = Files.createTempDirectory("graft-sqltravel").toString
    val paths = StreamingIngest.Paths(root)
    Seq(1, 2).foreach { i =>
      StreamingIngest.writeBatch(
        Seq(env(i)).toDF("recordId", "data"), GeoDim.empty(spark), paths,
        i.toLong)
    }
    // v1 = compacted image; v0 = pre-compaction micro-batch leaves,
    // retained on disk by lazyDeletes
    StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
      lazyDeletes = true)
    StageTimeTravelCatalog.register("trv", paths)

    def devices(sql: String): Seq[Int] =
      spark.sql(sql).as[Int].collect().sorted.toSeq
    assert(devices("SELECT deviceid FROM graft_stage.trv") == Seq(1, 2))
    assert(devices(
      "SELECT deviceid FROM graft_stage.trv VERSION AS OF 1") == Seq(1, 2))
    assert(devices(
      "SELECT deviceid FROM graft_stage.trv VERSION AS OF 0") == Seq(1, 2))
    // the two snapshots read DIFFERENT physical leaves for the same rows
    assert(spark.sql(
      "SELECT DISTINCT batch_id FROM graft_stage.trv VERSION AS OF 0")
      .as[String].collect().sorted.toSeq == Seq("1", "2"))
    assert(spark.sql(
      "SELECT DISTINCT batch_id FROM graft_stage.trv VERSION AS OF 1")
      .as[String].collect().forall(_.startsWith("compacted-")))
    // partition pruning survives the catalog path: a day filter must
    // reach the scan as a partition filter, not a post-scan predicate
    val plan = spark.sql(
      "SELECT deviceid FROM graft_stage.trv WHERE day = '14'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"day filter must prune partitions, plan:\n$plan")

    // unknown / malformed versions: explicit errors
    val unknown = intercept[Exception](devices(
      "SELECT deviceid FROM graft_stage.trv VERSION AS OF 7"))
    assert(unknown.getMessage.contains("no stage snapshot version 7"),
      unknown.getMessage)
    val malformed = intercept[Exception](devices(
      "SELECT deviceid FROM graft_stage.trv VERSION AS OF 'xyz'"))
    assert(malformed.getMessage.contains("manifest numbers"),
      malformed.getMessage)

    // TIMESTAMP AS OF (round-11 verdict #4): commit walltimes from the
    // manifest resolve an instant to the latest version committed <= t.
    val fs0 = new Path(paths.stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1at = graft.streaming.StageManifest
      .read(fs0, new Path(paths.stage)).committedAtMs
    assert(v1at > 0L, "commit must stamp committedAtMs")
    def atMs(ms: Long): String =
      s"SELECT deviceid FROM graft_stage.trv TIMESTAMP AS OF timestamp_millis(${ms}L)"
    // exactly at v1's commit instant, and well after it → both resolve v1
    assert(devices(atMs(v1at)) == Seq(1, 2))
    assert(devices(atMs(v1at + 3600L * 1000)) == Seq(1, 2))
    assert(spark.sql(
      s"SELECT DISTINCT batch_id FROM graft_stage.trv TIMESTAMP AS OF timestamp_millis(${v1at}L)")
      .as[String].collect().forall(_.startsWith("compacted-")))
    // before the first commit → before the table's history, loud (ingest
    // is manifest-free, so pre-commit instants are unresolvable)
    val early = intercept[Exception](devices(atMs(v1at - 1L)))
    assert(early.getMessage.contains("before this stage zone's history"),
      early.getMessage)
    // between two commits → the EARLIER version. The second compaction
    // re-compacts v1's single leaf; 50 ms sleep separates the walltimes.
    Thread.sleep(50)
    StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
      lazyDeletes = true)
    val v2at = graft.streaming.StageManifest
      .read(fs0, new Path(paths.stage)).committedAtMs
    assert(v2at > v1at, s"v2 commit time $v2at must follow v1's $v1at")
    assert(devices(atMs(v2at - 1L)) == Seq(1, 2))
    assert(spark.sql(
      s"SELECT DISTINCT batch_id FROM graft_stage.trv TIMESTAMP AS OF timestamp_millis(${v2at - 1L}L)")
      .as[String].collect().toSeq ==
      spark.sql(
        "SELECT DISTINCT batch_id FROM graft_stage.trv VERSION AS OF 1")
        .as[String].collect().toSeq,
      "an instant between commits must read the earlier snapshot")

    // a zone with NO commits has no timestamp axis at all → loud
    val freshRoot = Files.createTempDirectory("graft-sqltravel-fresh").toString
    val freshPaths = StreamingIngest.Paths(freshRoot)
    StreamingIngest.writeBatch(
      Seq(env(9)).toDF("recordId", "data"), GeoDim.empty(spark), freshPaths, 1L)
    StageTimeTravelCatalog.register("trv_fresh", freshPaths)
    val noCommits = intercept[Exception](devices(
      "SELECT deviceid FROM graft_stage.trv_fresh TIMESTAMP AS OF current_timestamp()"))
    assert(noCommits.getMessage.contains("no committed snapshots"),
      noCommits.getMessage)

    // empty-zone contract parity (round-11 ADVICE): a registered zone with
    // no leaves reads as an EMPTY frame through SQL, exactly like the
    // programmatic stageTableAt
    val emptyRoot = Files.createTempDirectory("graft-sqltravel-empty").toString
    StageTimeTravelCatalog.register("trv_empty", StreamingIngest.Paths(emptyRoot))
    val sqlEmpty = spark.sql("SELECT * FROM graft_stage.trv_empty")
    assert(sqlEmpty.count() == 0L)
    assert(sqlEmpty.schema ==
      StreamingIngest.stageTable(spark, StreamingIngest.Paths(emptyRoot)).schema,
      "SQL and programmatic empty-zone reads must agree on schema")

    // vacuum one retired original: v0 is beyond retention → loud failure;
    // the current SQL read is unaffected
    val dayDir = new Path(s"${paths.stage}/year=2023/month=03/day=14")
    val fs = dayDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(dayDir, "batch_id=1"), true))
    assert(devices("SELECT deviceid FROM graft_stage.trv") == Seq(1, 2))
    val gone = intercept[Exception](devices(
      "SELECT deviceid FROM graft_stage.trv VERSION AS OF 0"))
    assert(gone.getMessage.contains("beyond retention"), gone.getMessage)
  }

  test("graft_stage over more than 32 visible files plans and reads with no listing job, as stageTableAt does") {
    val paths = StreamingIngest.Paths(
      Files.createTempDirectory("graft-sqltravel-wide").toString)
    // 60 leaves over three days, two rows each; compacting day 16 commits
    // v1, which shows 41 leaves, while v0 still shows all 60
    SyntheticStage.write(spark, paths, 120,
      day = (col("id") % 3 + 14).cast("string"),
      batchId = (col("id") % 60).cast("string"))
    StageCompactor.compactPartition(spark, paths, "2023", "03", "16",
      lazyDeletes = true)
    StageTimeTravelCatalog.register("trv_wide", paths)

    val planJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listingJobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var planning = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        if (planning) planJobs.incrementAndGet()
        if (Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files"))) listingJobs.incrementAndGet()
      }
    }
    def flush(): Unit = org.apache.spark.sql.graftx.ListenerBusFlush.flush(spark)
    Seq("" -> None, " VERSION AS OF 0" -> Some(0L), " VERSION AS OF 1" -> Some(1L))
      .foreach { case (travel, version) =>
        flush()
        spark.sparkContext.addSparkListener(listener)
        val (df, rows) = try {
          planning = true
          val df = spark.sql(s"SELECT * FROM graft_stage.trv_wide$travel")
          df.queryExecution.executedPlan
          flush()
          planning = false
          val rows = df.collect()
          flush()
          (df, rows)
        } finally spark.sparkContext.removeSparkListener(listener)
        assert(planJobs.get == 0, s"planning$travel ran ${planJobs.get} jobs")
        assert(listingJobs.get == 0, s"reading$travel ran ${listingJobs.get} listing jobs")

        val ref = StreamingIngest.stageTableAt(spark, paths, version)
        assert(df.inputFiles.length > 32)
        assert(df.schema == ref.schema)
        assert(df.inputFiles.sorted.toSeq == ref.inputFiles.sorted.toSeq)
        assert(rows.map(_.toString).sorted.toSeq ==
          ref.collect().map(_.toString).sorted.toSeq)
      }
  }
}
