package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, StructField}
import org.scalatest.funsuite.AnyFunSuite
import graft.{Schemas, SparkTestSession}
import graft.ingest.{GeoDim, SchemaDrift}

/** The query half over the landed stage zone: partition pruning (P1) and
  * crawler-style schema-drift detection (S12). */
class StageZoneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  def sohEnvelope(deviceId: Int, epoch: Long): (String, String) = {
    val inner =
      s"""{"ln":-122.4,"lt":37.7,"si":0.4,"bi":-0.1,"sv":13.8,"bv":4.1,"d":$epoch,"n":1,"a":1.0,"s":0.1,"c":1.0,"r":-91,"ti":0.1}"""
    val header =
      s"""{"packetId":1,"deviceType":1,"deviceId":$deviceId,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""
    (s"r-$deviceId-$epoch", b64(header))
  }

  test("queries over the landed stage zone prune partitions (P1)") {
    val root = Files.createTempDirectory("graft-prune").toString
    val paths = StreamingIngest.Paths(root)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    source.addData(
      sohEnvelope(1, 1678759166L),  // 2023-03-14
      sohEnvelope(2, 1678845566L),  // 2023-03-15
      sohEnvelope(3, 1577836800L))  // 2020-01-01
    val q = StreamingIngest.start(spark,
      source.toDF().toDF("recordId", "data"), GeoDim.empty(spark), paths,
      Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()

    val stage = StreamingIngest.stageTable(spark, paths)
    val pruned = stage.filter(col("year") === "2023" && col("month") === "03" &&
      col("day") === "14")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { pruned.explain() }
    val plan = out.toString
    assert(plan.contains("PartitionFilters: [isnotnull(year"),
      s"partition filters must bind to the directory layout:\n$plan")
    assert(pruned.count() == 1)
    assert(pruned.select("deviceid").as[Int].collect().toSeq == Seq(1))
  }

  test("catalog DDL over the landed zone: CREATE TABLE + recoverPartitions + pruned SQL (S11/S12)") {
    val root = Files.createTempDirectory("graft-catalog").toString
    val paths = StreamingIngest.Paths(root)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    source.addData(
      sohEnvelope(1, 1678759166L),  // 2023-03-14
      sohEnvelope(2, 1678845566L))  // 2023-03-15
    val q = StreamingIngest.start(spark,
      source.toDF().toDF("recordId", "data"), GeoDim.empty(spark), paths,
      Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()

    // the reference's Glue table + crawler (stack.py:320-511) via the
    // library entry point: EXTERNAL partitioned table, partitions
    // discovered by RECOVER PARTITIONS (MSCK), drift LOG-only
    val reg = StageCatalog.register(spark, paths, table = "stage_cat")
    assert(reg.partitions.size == 2 &&
      reg.partitions.forall(_.startsWith("year=2023/month=03/day=1")),
      s"both landed days must register: ${reg.partitions}")
    assert(reg.drift.isEmpty, s"landed zone matches contract: ${reg.drift}")
    val got = spark.sql(
      """SELECT deviceid FROM stage_cat
        |WHERE year = '2023' AND month = '03' AND day = '14'""".stripMargin)
    assert(got.as[Int].collect().toSeq == Seq(1))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(year"),
      s"catalog scan must prune partitions:\n$plan")

    // incremental crawl: a later micro-batch lands a NEW day; a recover
    // pass surfaces exactly that partition without re-registering
    source.addData(sohEnvelope(4, 1586000000L)) // 2020-04-04
    val q2 = StreamingIngest.start(spark,
      source.toDF().toDF("recordId", "data"), GeoDim.empty(spark), paths,
      Trigger.AvailableNow())
    q2.processAllAvailable(); q2.stop()
    val added = StageCatalog.recoverPartitions(spark, "stage_cat")
    assert(added.size == 1 && added.head.startsWith("year=2020/month=04/day=04"),
      s"the new day must be the only added partition: $added")
    assert(spark.sql("SELECT deviceid FROM stage_cat WHERE year = '2020'")
      .as[Int].collect().toSeq == Seq(4))
    spark.sql("DROP TABLE stage_cat")
  }

  test("catalog registration honours the stage manifest: hidden leaves are not registered") {
    val root = Files.createTempDirectory("graft-catalog-manifest").toString
    val paths = StreamingIngest.Paths(root)
    Seq(0, 1).foreach { i =>
      StreamingIngest.writeBatch(
        Seq(sohEnvelope(i, 1678759166L)).toDF("recordId", "data"),
        GeoDim.empty(spark), paths, i.toLong)
    }
    def sqlCount = spark.sql("SELECT count(*) FROM stage_mf").head().getLong(0)
    // a compacted leaf that landed but was never committed stays hidden
    val dayDir = new Path(s"${paths.stage}/year=2023/month=03/day=14")
    val fs = dayDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileUtil.copy(fs, new Path(dayDir, "batch_id=0"), fs,
      new Path(dayDir, "batch_id=compacted-1"), false,
      spark.sparkContext.hadoopConfiguration)
    val reg = StageCatalog.register(spark, paths, table = "stage_mf")
    assert(reg.partitions.map(_.split('/').last) == Seq("batch_id=0", "batch_id=1"))
    assert(sqlCount == StreamingIngest.stageTable(spark, paths).count())

    // a committed compaction whose deletes are pending retires the originals
    StageCompactor.compactPartition(spark, paths, "2023", "03", "14",
      lazyDeletes = true)
    val added = StageCatalog.recoverPartitions(spark, "stage_mf")
    val visible = StreamingIngest.stageTable(spark, paths).count()
    assert(visible == 2)
    assert(sqlCount == visible,
      s"catalog must read what stageTable reads: ${StageCatalog.listPartitions(spark, "stage_mf")}")
    assert(added.size == 1 && added.head.contains("batch_id=compacted-"), s"$added")
    // the table is EXTERNAL: dropping the hidden partitions kept their files
    assert(fs.exists(new Path(dayDir, "batch_id=0")))
    spark.sql("DROP TABLE stage_mf")
  }

  test("stageTable over more than 32 leaves lists them once: building it runs no job, rows equal a plain read") {
    val paths = StreamingIngest.Paths(
      Files.createTempDirectory("graft-leaves").toString)
    // 40 visible leaves over two days, two rows each
    SyntheticStage.write(spark, paths, 80,
      day = when(col("id") % 2 === 0, "14").otherwise("15"),
      batchId = (col("id") % 40).cast("string"))
    // plus a landed but uncommitted compacted leaf, which the manifest hides
    val dayDir = new Path(s"${paths.stage}/year=2023/month=03/day=14")
    val fs = dayDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileUtil.copy(fs, new Path(dayDir, "batch_id=0"), fs,
      new Path(dayDir, "batch_id=compacted-1"), false,
      spark.sparkContext.hadoopConfiguration)

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftx.ListenerBusFlush.flush(spark)
    spark.sparkContext.addSparkListener(listener)
    val stage = try {
      val built = StreamingIngest.stageTable(spark, paths)
      org.apache.spark.sql.graftx.ListenerBusFlush.flush(spark)
      built
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"building stageTable ran ${jobs.get} jobs")

    // the reference listing, walked here with plain Hadoop calls: every
    // parquet file of every leaf except the uncommitted compacted one
    val files = for {
      day <- Seq("14", "15")
      leaf <- fs.listStatus(new Path(s"${paths.stage}/year=2023/month=03/day=$day")).toSeq
      if leaf.isDirectory && leaf.getPath.getName != "batch_id=compacted-1"
      file <- fs.listStatus(leaf.getPath).toSeq
      if file.getPath.getName.endsWith(".parquet")
    } yield file.getPath.toString
    assert(files.map(f => new Path(f).getParent.toString).distinct.size == 40)
    assert(!files.exists(_.contains("compacted")))
    val plain = spark.read.schema(StreamingIngest.stageReadSchema)
      .option("basePath", paths.stage).parquet(files: _*)
    assert(stage.schema == plain.schema)
    assert(stage.inputFiles.sorted.toSeq == plain.inputFiles.sorted.toSeq)
    assert(stage.collect().map(_.toString).sorted.toSeq ==
      plain.collect().map(_.toString).sorted.toSeq)
    assert(stage.count() == 80)
    assert(stage.filter(col("day") === "14").select("batch_id").distinct().count() == 20)
  }

  test("lint: the stage zone is walked in StageManifest only and never read with read.parquet") {
    // the zone's layout and visibility rule live in one walk
    // (StageManifest.days/leavesAt); every reader scans through
    // StreamingIngest.stageIndex over that walk's listing
    val prefixFilter = """"(batch_id|year)="|startsWith\("(batch_id|year)=""".r
    val stageRead = """\bread\s*(\.\s*\w+\([^()]*\)\s*)*\.\s*parquet\(""".r
    val touchesStage = """paths\.stage\b|StageManifest|stageTable""".r
    val offenders = Files.walk(java.nio.file.Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "StageManifest.scala")
      .flatMap { p =>
        val src = Files.readString(p)
        prefixFilter.findFirstIn(src).map(m => s"$p: $m") ++
          (if (touchesStage.findFirstIn(src).isEmpty) None
           else stageRead.findFirstIn(src).map(m => s"$p: $m"))
      }.toSeq
    assert(offenders.isEmpty,
      "stage leaves come from StageManifest's walk and are read through " +
        s"StreamingIngest.stageIndex, never listed or read again: $offenders")
  }

  test("schema drift against the declared stage contract is detected, LOG-only (S12)") {
    val root = Files.createTempDirectory("graft-drift").toString
    val paths = StreamingIngest.Paths(root)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    source.addData(sohEnvelope(1, 1678759166L))
    val q = StreamingIngest.start(spark,
      source.toDF().toDF("recordId", "data"), GeoDim.empty(spark), paths,
      Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()

    val landed = StreamingIngest.stageTable(spark, paths)
    // engine-added columns aside, the landed zone matches the contract
    val drift = SchemaDrift.check(landed.schema, Schemas.stage30,
      ignore = Set("recordId", "year", "month", "day", "batch_id"))
    assert(drift.isEmpty, drift.mkString("; "))

    // a contract change (new int column) is reported but nothing mutates
    val widened = Schemas.stage30.copy(fields =
      Schemas.stage30.fields :+ StructField("new_metric", IntegerType))
    val drift2 = SchemaDrift.check(landed.schema, widened,
      ignore = Set("recordId", "year", "month", "day", "batch_id"))
    assert(drift2 == Seq(SchemaDrift.Drift("removed", "new_metric",
      "declared type int")))
  }
}
