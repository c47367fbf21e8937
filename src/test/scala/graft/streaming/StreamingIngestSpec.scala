package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.ingest.{GeoDim, IngestTransforms}

/** Streaming-semantics tests (SURVEY.md §5.2.5): multi-sink micro-batch,
  * event-time vs processing-time partitioning (ST2), late data (ST3),
  * restart-from-checkpoint replay (ST5). */
class StreamingIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  /** An SOH record; a battery voltage `bv` below 4 raises an alert. */
  def sohEnvelope(deviceId: Int, epoch: Long, bv: Double = 4.05): (String, String) = {
    val inner =
      s"""{"ln":-122.4194,"lt":37.7749,"si":0.42,"bi":-0.11,"sv":13.8,"bv":$bv,"d":$epoch,"n":12,"a":16.0,"s":0.3,"c":184.2,"r":-91,"ti":0.07}"""
    val header =
      s"""{"packetId":1,"deviceType":1,"deviceId":$deviceId,"userApplicationId":65002,"organizationId":10842,"len":173,"status":0,"hiveRxTime":"x","data":"${b64(inner)}"}"""
    (s"rec-$deviceId-$epoch", b64(header))
  }

  def sensorEnvelope(id: String, sentence: String): (String, String) = {
    val header =
      s"""{"packetId":2,"deviceType":1,"deviceId":7,"userApplicationId":1,"organizationId":1,"len":9,"status":0,"hiveRxTime":"x","data":"${b64(b64(sentence))}"}"""
    (id, b64(header))
  }

  lazy val geo = GeoDim.fromPlaces(Seq(
    (-122.4194, 37.7749, "410", "Townsend St", "San Francisco", "California",
      "San Francisco County", "94107", "USA", "America/Los_Angeles", -25200)
  ).toDF("longitude", "latitude", "addressnumber", "street", "municipality",
    "region", "subregion", "postalcode", "country", "timezone_name",
    "timezone_offset"))

  test("multi-sink micro-batch: stage/raw/error zones land; late event lands in old partition") {
    val root = Files.createTempDirectory("graft-stream").toString
    val paths = StreamingIngest.Paths(root)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    // batch 1: current-ish event + a LATE event (2020) + sensor + unknown + garbage
    // (enqueued before start — AvailableNow latches offsets at query start)
    source.addData(
      sohEnvelope(1, 1678759166L),           // 2023-03-14
      sohEnvelope(2, 1577836800L),           // 2020-01-01 — late arrival
      sensorEnvelope("s1", "$PIMD8,1,1,866,65098,37.7749,N,122.4194,W,*4F"),
      sensorEnvelope("u1", "$GPGGA,123519,4807.038,N"),
      ("bad1", "!!! not base64 !!!"))
    val q = StreamingIngest.start(spark,
      source.toDF().toDF("recordId", "data"), geo, paths,
      Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()

    // stage: event-time partitioned, late row in its own old partition (ST3)
    val stage = StreamingIngest.stageTable(spark, paths)
    assert(stage.count() == 2)
    val parts = stage.select("year", "month", "day")
      .as[(String, String, String)].collect().toSet
    assert(parts == Set(("2023", "03", "14"), ("2020", "01", "01")))
    assert(stage.filter($"street" === "Townsend St").count() == 2)

    // raw zones: batch-scoped root, processing-time partitioned JSON text
    // (batch=<id>/year=/month=/day=/)
    def rawCount(dir: String) =
      spark.read.textFile(dir + "/*/*/*/*").count()
    assert(rawCount(paths.rawSoh) == 2)
    assert(rawCount(paths.rawSensor) == 1)
    assert(rawCount(paths.rawUnknown) == 1)
    assert(spark.read.json(paths.error + "/*/*/*/*")
      .filter($"recordId" === "bad1").count() == 1)
  }

  test("stageCompression=uncompressed gives byte-level parity with the reference's parquet (S4)") {
    // the reference's Firehose conversion writes UNCOMPRESSED parquet
    // (stack.py:174); the engine defaults snappy (the sane 100 TB scan/
    // storage tradeoff) and exposes strict parity as a per-pipeline conf —
    // this pins that the conf actually lands on disk, closing the loop on
    // the documented deviation: footer metadata must show UNCOMPRESSED
    // column chunks, and the same batch under the default must show SNAPPY.
    implicit val sqlCtx = spark.sqlContext
    def stageFiles(paths: StreamingIngest.Paths): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(paths.stage))
    }
    def codecs(paths: StreamingIngest.Paths): Set[String] = {
      val conf = spark.sparkContext.hadoopConfiguration
      stageFiles(paths).flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.toString)).toSet
        finally r.close()
      }.toSet
    }
    def run(paths: StreamingIngest.Paths): Unit = {
      val source = MemoryStream[(String, String)]
      source.addData(sohEnvelope(1, 1678759166L))
      val q = StreamingIngest.start(spark,
        source.toDF().toDF("recordId", "data"), geo, paths,
        Trigger.AvailableNow())
      q.processAllAvailable(); q.stop()
    }
    val parity = StreamingIngest.Paths(
      Files.createTempDirectory("graft-uncomp").toString,
      stageCompression = "uncompressed")
    run(parity)
    assert(codecs(parity) == Set("UNCOMPRESSED"),
      "parity mode must write UNCOMPRESSED column chunks like stack.py:174")
    val default = StreamingIngest.Paths(
      Files.createTempDirectory("graft-snappy").toString)
    run(default)
    assert(codecs(default) == Set("SNAPPY"),
      "the engine default stays snappy — the documented 100 TB tradeoff")
  }

  test("a batch with only unparseable records routes everything to error/ and writes no empty zone files") {
    val root = Files.createTempDirectory("graft-errbatch").toString
    val paths = StreamingIngest.Paths(root)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    source.addData(("bad-1", "!!!"), ("bad-2", "also not base64"))
    val q = StreamingIngest.start(spark,
      source.toDF().toDF("recordId", "data"), geo, paths,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()
    assert(spark.read.json(paths.error + "/*/*/*/*").count() == 2)
    // no raw-zone dirs for empty classes (the reference's per-class upload
    // flags, hello.py:203-227), and stage holds zero rows but stays readable
    assert(!new java.io.File(paths.rawSoh).exists())
    assert(!new java.io.File(paths.rawSensor).exists())
    assert(!new java.io.File(paths.rawUnknown).exists())
    assert(StreamingIngest.stageTable(spark, paths).count() == 0)
  }

  test("a replayed micro-batch lands idempotently in every zone (ST5)") {
    val root = Files.createTempDirectory("graft-replay").toString
    val paths = StreamingIngest.Paths(root)
    val batch = Seq(
      sohEnvelope(1, 1678759166L),
      sohEnvelope(2, 1678759167L),
      sensorEnvelope("s1", "$PIMD8,1,1,866,65098,37.7749,N,122.4194,W,*4F"),
      ("bad1", "!!! not base64 !!!")).toDF("recordId", "data")

    // same batchId twice = foreachBatch replay after a crash-before-commit
    StreamingIngest.writeBatch(batch, geo, paths, batchId = 7L)
    StreamingIngest.writeBatch(batch, geo, paths, batchId = 7L)
    assert(StreamingIngest.stageTable(spark, paths).count() == 2,
      "stage replay must overwrite, not append")
    assert(spark.read.textFile(paths.rawSoh + "/*/*/*/*").count() == 2)
    assert(spark.read.textFile(paths.rawSensor + "/*/*/*/*").count() == 1)
    assert(spark.read.json(paths.error + "/*/*/*/*").count() == 1)

    // a DIFFERENT batch with the same content is new data and appends
    StreamingIngest.writeBatch(batch, geo, paths, batchId = 8L)
    assert(StreamingIngest.stageTable(spark, paths).count() == 4)
    assert(StreamingIngest.stageTable(spark, paths)
      .select("batch_id").distinct().count() == 2)
  }

  test("file-drop source end-to-end through graft-envelope") {
    // The closest sandbox analog of the reference's live push front door
    // (stack.py:283-316): an unbounded directory source with checkpointed
    // offsets, not a MemoryStream. FileStreamSource tracks seen files in the
    // checkpoint, so a restart must process exactly the files dropped while
    // the query was down — no reprocessing, no loss. Record ids are line
    // positions, so two byte-identical lines stay two records.
    val base = Files.createTempDirectory("graft-filedrop").toString
    val drop = new java.io.File(base, "drop"); drop.mkdirs()
    val paths = StreamingIngest.Paths(s"$base/lake")
    def dropFile(name: String, lines: Seq[String]): Unit = {
      // write-then-rename: the atomic drop protocol a producer must follow
      // so the source never lists a half-written file
      val tmp = new java.io.File(base, s"$name.tmp")
      Files.write(tmp.toPath, lines.mkString("\n").getBytes("UTF-8"))
      assert(tmp.renameTo(new java.io.File(drop, name)))
    }
    def run(): Unit = {
      val env = spark.readStream.format("graft-envelope").load(drop.toString)
        .select("recordId", "data")
      val q = StreamingIngest.start(spark, env, geo, paths, Trigger.AvailableNow())
      q.processAllAvailable(); q.stop()
    }

    dropFile("a.txt", Seq(
      sohEnvelope(1, 1678759166L)._2,
      sensorEnvelope("ignored", "$PIMD8,1,1,866,65098,37.7749,N,122.4194,W,*4F")._2,
      "!!! not base64 !!!"))
    run()
    assert(StreamingIngest.stageTable(spark, paths).count() == 1)
    assert(spark.read.textFile(paths.rawSensor + "/*/*/*/*").count() == 1)
    assert(spark.read.json(paths.error + "/*/*/*/*").count() == 1)

    // files dropped between runs are exactly what the restart processes
    dropFile("b.txt", Seq(sohEnvelope(2, 1678759200L)._2))
    dropFile("c.txt", Seq(sohEnvelope(3, 1678759300L)._2))
    run()
    val stage = StreamingIngest.stageTable(spark, paths)
    assert(stage.count() == 3, "restart must add exactly the new files' rows")
    assert(stage.select("deviceid").as[Int].collect().toSet == Set(1, 2, 3))

    // a third restart with nothing new is a no-op
    run()
    assert(StreamingIngest.stageTable(spark, paths).count() == 3)

    // two byte-identical lines in one file land as two stage rows
    val twin = sohEnvelope(4, 1678759400L)._2
    dropFile("d.txt", Seq(twin, twin))
    run()
    val twins = StreamingIngest.stageTable(spark, paths)
      .filter($"deviceid" === 4).select("recordId").as[String].collect()
    assert(twins.sorted.toSeq == Seq("d.txt:1", "d.txt:2"))
  }

  test("restart from checkpoint does not reprocess delivered batches (ST5)") {
    val root = Files.createTempDirectory("graft-restart").toString
    val paths = StreamingIngest.Paths(root)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    val df = source.toDF().toDF("recordId", "data")

    source.addData(sohEnvelope(1, 1678759166L))
    val q1 = StreamingIngest.start(spark, df, geo, paths, Trigger.AvailableNow())
    q1.processAllAvailable()
    q1.stop()
    assert(StreamingIngest.stageTable(spark, paths).count() == 1)

    // restart on the same checkpoint; add one new record only
    source.addData(sohEnvelope(2, 1678759200L))
    val q2 = StreamingIngest.start(spark, df, geo, paths, Trigger.AvailableNow())
    q2.processAllAvailable()
    q2.stop()
    val stage = StreamingIngest.stageTable(spark, paths)
    assert(stage.count() == 2, "no duplicate rows after restart")
    assert(stage.select("deviceid").as[Int].collect().toSet == Set(1, 2))
  }

  test("same-shape micro-batches compile no new classes, alert or not") {
    // A Long literal is inlined into generated code, so each batchId would
    // compile fresh classes; the stage and alerts sinks write batch_id as a
    // string literal, passed by reference, and no job checks presence
    // (a LIMIT's generated code names its counter from a JVM-wide sequence,
    // so an `isEmpty` check compiled 2 classes every batch). Batches 2 and
    // 3 differ from their predecessor only in batchId and record ids and
    // raise no alert; batch 5 does the same for batch 4, which carries one.
    val paths = StreamingIngest.Paths(
      Files.createTempDirectory("graft-codegen").toString)
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val after = (1L to 5L).map { id =>
      val bv = if (id >= 4) 3.2 else 4.05
      val batch = Seq(sohEnvelope(id.toInt, 1678759166L + id, bv),
        ("bad-" + id, "!!! not base64 !!!")).toDF("recordId", "data")
      StreamingIngest.writeBatch(batch, geo, paths, batchId = id)
      compiles
    }
    assert(after(2) - after(1) == 0,
      s"batch 3 compiled ${after(2) - after(1)} classes; counter after each batch: $after")
    assert(after(4) - after(3) == 0,
      s"alert-bearing batch 5 compiled ${after(4) - after(3)} classes; counter after each batch: $after")
    assert(StreamingIngest.stageTable(spark, paths)
      .select("batch_id").as[String].collect().sorted.toSeq == Seq("1", "2", "3", "4", "5"))
    assert(spark.read.parquet(paths.alerts).select($"batch_id".cast("string"))
      .as[String].collect().sorted.toSeq == Seq("4", "5"))
  }

  test("observed class and alert counts equal a driver recount, empty and errors-only batches included") {
    // The stage write's observations decide which sinks run; they must
    // equal a separate recount, and must arrive for a batch with no SOH
    // row (errors only) and for one with no row at all.
    val paths = StreamingIngest.Paths(
      Files.createTempDirectory("graft-observe").toString)
    val mixed = Seq(
      sohEnvelope(1, 1678759166L),
      sohEnvelope(2, 1678759167L, bv = 3.2),
      sohEnvelope(3, 1577836800L, bv = 3.9),
      sensorEnvelope("s1", "$PIMD8,1,1,866,65098,37.7749,N,122.4194,W,*4F"),
      sensorEnvelope("u1", "$GPGGA,123519,4807.038,N"),
      ("bad1", "!!! not base64 !!!"))
    val errorsOnly = Seq(("bad-1", "!!!"), ("bad-2", "also not base64"))
    val batches = Seq(mixed, errorsOnly, Seq.empty[(String, String)])
      .map(_.toDF("recordId", "data"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val observed = batches.zipWithIndex.map { case (b, i) =>
      Await.result(Future(StreamingIngest.writeBatch(b, geo, paths, batchId = i.toLong)),
        3.minutes)
    }
    batches.zip(observed).foreach { case (b, counts) =>
      val recount = IngestTransforms.classify(b).groupBy("cls").count()
        .as[(String, Long)].collect().toMap
      val classes = Seq(IngestTransforms.ClassSoh, IngestTransforms.ClassSensor,
        IngestTransforms.ClassUnknown, IngestTransforms.ClassError)
      assert(counts.byClass == classes.map(c => c -> recount.getOrElse(c, 0L)).toMap)
      assert(counts.alerts ==
        IngestTransforms.alerts(IngestTransforms.sohToStage(b, geo)).count())
    }
    assert(observed.map(_.alerts) == Seq(2L, 0L, 0L))
    assert(observed.map(_.byClass.values.sum) == Seq(6L, 2L, 0L))
  }

  test("a sink that fails mid-batch is replayed from the checkpoint: zones exact, alerts at least once") {
    // The notifier throws once, after the alerts table and beside the other
    // sinks; the batch is not committed, so the restarted query replays it.
    StreamingIngestSpec.published.clear()
    StreamingIngestSpec.failNext.set(true)
    val paths = StreamingIngest.Paths(
      Files.createTempDirectory("graft-crash").toString)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    val df = source.toDF().toDF("recordId", "data")
    source.addData(
      sohEnvelope(1, 1678759166L),
      sohEnvelope(2, 1678759167L, bv = 3.2),
      sohEnvelope(3, 1678759168L, bv = 3.1),
      sensorEnvelope("s1", "$PIMD8,1,1,866,65098,37.7749,N,122.4194,W,*4F"),
      sensorEnvelope("u1", "$GPGGA,123519,4807.038,N"),
      ("bad1", "!!! not base64 !!!"), ("bad2", "also not base64"))
    def run() = StreamingIngest.start(spark, df, geo, paths, Trigger.AvailableNow(),
      notifier = Some(new StreamingIngestSpec.FailOnce))
    val q1 = run()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.processAllAvailable())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("notifier down")), e)
    assert(!StreamingIngestSpec.failNext.get)

    val q2 = run()
    q2.processAllAvailable(); q2.stop()
    val stage = StreamingIngest.stageTable(spark, paths)
    assert(stage.count() == 3, "stage holds each SOH record once")
    assert(stage.select("deviceid").as[Int].collect().toSet == Set(1, 2, 3))
    def rawCount(dir: String) = spark.read.textFile(dir + "/*/*/*/*").count()
    assert(rawCount(paths.rawSoh) == 3)
    assert(rawCount(paths.rawSensor) == 1)
    assert(rawCount(paths.rawUnknown) == 1)
    assert(spark.read.json(paths.error + "/*/*/*/*").select("recordId").as[String]
      .collect().sorted.toSeq == Seq("bad1", "bad2"))
    assert(spark.read.parquet(paths.alerts).count() == 2)
    assert(StreamingIngestSpec.published.asScala.map(_._2).toSet == Set(2, 3),
      "each alert is published at least once")
  }

  /** Data files (Spark's `part-` outputs) per directory under `root`. */
  def dataFilesPerDir(root: String): Map[String, Int] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(root)).filter(_.getName.startsWith("part-"))
      .groupBy(_.getParentFile.getPath.stripPrefix(root + "/"))
      .map { case (dir, files) => dir -> files.size }
  }

  test("a small file-stream batch runs one task per job and writes one file per leaf") {
    // One file per POST: 28 one-record files (a few KB) are one batch. By
    // Spark's split rule each file weighs `openCostInBytes` (4 MB), which
    // would spread the batch over 4 partitions; sized to its bytes it is
    // one partition, so every job of the batch runs one task and every
    // zone leaf holds one data file.
    val base = Files.createTempDirectory("graft-small").toString
    val drop = new java.io.File(base, "drop"); drop.mkdirs()
    val paths = StreamingIngest.Paths(s"$base/lake")
    val lines = (1 to 24).map(i =>
      sohEnvelope(i, 1678759166L + i, bv = if (i % 8 == 0) 3.2 else 4.05)._2) ++ Seq(
      sensorEnvelope("s", "$PIMD8,1,1,866,65098,37.7749,N,122.4194,W,*4F")._2,
      sensorEnvelope("u", "$GPGGA,123519,4807.038,N")._2,
      "!!! not base64 !!!", "also not base64")
    lines.zipWithIndex.foreach { case (line, i) =>
      Files.write(new java.io.File(drop, f"rec-$i%02d.txt").toPath, line.getBytes("UTF-8"))
    }
    // the geo dimension as a local relation of several rows, as a caller
    // that collected it would hold it
    val places = GeoDim.fromPlaces((0 until 8).map(i =>
      (-122.4194 + i, 37.7749, "410", s"Street $i", "San Francisco", "California",
        "San Francisco County", "94107", "USA", "America/Los_Angeles", -25200)
    ).toDF("longitude", "latitude", "addressnumber", "street", "municipality",
      "region", "subregion", "postalcode", "country", "timezone_name",
      "timezone_offset"))
    val localGeo = spark.createDataFrame(places.collect().toSeq.asJava, places.schema)
    val batchJobs = scala.collection.mutable.Set.empty[Int]
    val jobOfStage = scala.collection.mutable.Map.empty[Int, Int]
    val tasks = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("streaming.sql.batchId") != null)) {
          batchJobs += j.jobId
          j.stageIds.foreach(jobOfStage(_) = j.jobId)
        }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        jobOfStage.get(t.stageId).foreach(j => tasks(j) += 1)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val env = spark.readStream.format("graft-envelope").load(drop.toString)
        .select("recordId", "data")
      val q = StreamingIngest.start(spark, env, localGeo, paths, Trigger.AvailableNow())
      q.processAllAvailable(); q.stop()
      assert(q.recentProgress.map(_.numInputRows).sum == 28)
      org.apache.spark.sql.graftx.ListenerBusFlush.flush(spark)
    } finally spark.sparkContext.removeSparkListener(listener)

    // stage, raw soh/sensor/unknown, error and alerts
    assert(batchJobs.size >= 6, batchJobs)
    val perJob = batchJobs.toSeq.sorted.map(j => j -> tasks(j))
    assert(perJob.forall(_._2 == 1), s"tasks per job: $perJob")
    val leaves = dataFilesPerDir(paths.root)
    Seq("stage/", "raw/soh/", "raw/sensor/", "raw/unknown/", "error/", "alerts/")
      .foreach(zone => assert(leaves.keys.count(_.startsWith(zone)) == 1, s"$zone in $leaves"))
    assert(leaves.values.forall(_ == 1), leaves)
    assert(StreamingIngest.stageTable(spark, paths).count() == 24)
  }

  test("a batch keeps the partitions its bytes justify, capped at what it has; unknown sizes and empty batches are left alone") {
    def parts(df: org.apache.spark.sql.DataFrame): Int =
      StreamingIngest.sizedToBytes(df).rdd.getNumPartitions
    // 40,000 bytes at a 4,000-byte split size is 10 splits
    val file = new java.io.File(Files.createTempDirectory("graft-sized").toFile, "in.txt")
    Files.write(file.toPath, ("x" * 39999 + "\n").getBytes("UTF-8"))
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "4000")
    try {
      val text = spark.read.text(file.toString)
      assert(parts(text.repartition(16)) == 10)
      assert(parts(text.repartition(6)) == 6)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // a few KB is one split under the default split rule
    val small = (1 to 20).map(i => sohEnvelope(i, 1678759166L + i)).toDF("recordId", "data")
    assert(parts(small.repartition(8)) == 1)

    // an RDD-backed frame has no known size: left as it is
    val rdd = spark.sparkContext.parallelize(Seq(sohEnvelope(1, 1678759166L)), 5)
      .map { case (id, data) => org.apache.spark.sql.Row(id, data) }
    val unknown = spark.createDataFrame(rdd, small.schema)
    assert(StreamingIngest.sizedToBytes(unknown) eq unknown)
    assert(parts(unknown) == 5)

    // an empty batch writes no data file and counts nothing
    val paths = StreamingIngest.Paths(Files.createTempDirectory("graft-empty").toString)
    val counts = StreamingIngest.writeBatch(
      Seq.empty[(String, String)].toDF("recordId", "data"), geo, paths, batchId = 0L)
    assert(counts.alerts == 0 && counts.byClass.values.forall(_ == 0), counts)
    assert(counts.byClass.size == 4)
    assert(dataFilesPerDir(paths.root).isEmpty, dataFilesPerDir(paths.root))
  }

  test("sink jobs carry their batch's id and the query's job group; a failing sink fails the batch after the others finish") {
    // Sink threads are made inside the batch, so they inherit its local
    // properties: every job submitted while a batch runs carries that
    // batch's `streaming.sql.batchId` and the query's job group, which
    // `stop()` cancels.
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(j.properties).getOrElse(new java.util.Properties)
        jobs.add((j.time, p.getProperty("streaming.sql.batchId"),
          p.getProperty("spark.jobGroup.id")))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val paths = StreamingIngest.Paths(
      Files.createTempDirectory("graft-props").toString)
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    val q = StreamingIngest.start(spark, source.toDF().toDF("recordId", "data"),
      geo, paths, Trigger.ProcessingTime(0L))
    try {
      Seq(1, 2).foreach { i =>
        source.addData(sohEnvelope(i, 1678759166L + i, bv = 3.2),
          sensorEnvelope(s"s$i", "$PIMD8,1,1,866,65098,37.7749,N,122.4194,W,*4F"),
          sensorEnvelope(s"u$i", "$GPGGA,123519,4807.038,N"),
          (s"bad$i", "!!! not base64 !!!"))
        q.processAllAvailable()
      }
    } finally q.stop()
    // fence: listener events arrive in order, so once this job is seen,
    // every job of the query has been recorded
    spark.sparkContext.setJobGroup("fence", "fence")
    try spark.sparkContext.parallelize(Seq(1)).count()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000
    while (!jobs.asScala.exists(_._3 == "fence") && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.map(_.batchId).toSeq == Seq(0L, 1L))
    batches.foreach { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      val t1 = t0 + p.durationMs.get("triggerExecution").longValue
      val inBatch = jobs.asScala.filter { case (t, _, _) => t >= t0 && t <= t1 }.toSeq
      assert(inBatch.size >= 5, s"batch ${p.batchId}: $inBatch")
      inBatch.foreach { case (_, batchId, group) =>
        assert(batchId == p.batchId.toString && group == q.runId.toString,
          s"batch ${p.batchId} ran a job with batchId=$batchId group=$group")
      }
    }

    // A sink that fails (raw/soh's root is a file) fails the batch, but only
    // after the others have landed, and leaves no sink thread behind.
    StreamingIngestSpec.published.clear()
    val broken = StreamingIngest.Paths(
      Files.createTempDirectory("graft-broken").toString)
    new java.io.File(broken.rawSoh).getParentFile.mkdirs()
    assert(new java.io.File(broken.rawSoh).createNewFile())
    val batch = Seq(sohEnvelope(1, 1678759166L, bv = 3.2),
      sensorEnvelope("s1", "$PIMD8,1,1,866,65098,37.7749,N,122.4194,W,*4F"),
      sensorEnvelope("u1", "$GPGGA,123519,4807.038,N"),
      ("bad1", "!!! not base64 !!!")).toDF("recordId", "data")
    val e = intercept[Exception](StreamingIngest.writeBatch(batch, geo, broken,
      batchId = 9L, notifier = Some(new StreamingIngestSpec.FailOnce)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("raw/soh")), e)
    assert(spark.read.textFile(broken.rawSensor + "/*/*/*/*").count() == 1)
    assert(spark.read.textFile(broken.rawUnknown + "/*/*/*/*").count() == 1)
    assert(spark.read.json(broken.error + "/*/*/*/*").count() == 1)
    assert(spark.read.parquet(broken.alerts).count() == 1)
    assert(StreamingIngestSpec.published.asScala.toSeq == Seq((9L, 1)))
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-ingest-sink-") && t.isAlive)
    assert(alive.isEmpty, alive)
  }
}

/** Executor-side notifier state: local mode runs `publish` in this JVM. */
object StreamingIngestSpec {
  val published = java.util.Collections.synchronizedList(
    new java.util.ArrayList[(Long, Int)]())
  val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Records each alert; throws instead while `failNext` is set, once. */
  class FailOnce extends StreamingIngest.AlertNotifier {
    def publish(alert: org.apache.spark.sql.Row): Unit = {
      if (failNext.compareAndSet(true, false))
        throw new IllegalStateException("notifier down")
      published.add((alert.getAs[Long]("batch_id"), alert.getAs[Int]("deviceid")))
    }
  }
}
