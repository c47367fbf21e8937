package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.ingest.GeoDim

/** Streaming-semantics tests (SURVEY.md §5.2.5): multi-sink micro-batch,
  * event-time vs processing-time partitioning (ST2), late data (ST3),
  * restart-from-checkpoint replay (ST5). */
class StreamingIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  def sohEnvelope(deviceId: Int, epoch: Long): (String, String) = {
    val inner =
      s"""{"ln":-122.4194,"lt":37.7749,"si":0.42,"bi":-0.11,"sv":13.8,"bv":4.05,"d":$epoch,"n":12,"a":16.0,"s":0.3,"c":184.2,"r":-91,"ti":0.07}"""
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

  test("a same-shape micro-batch recompiles only the alerts check: the stage batch_id is not inlined") {
    // A Long literal is inlined into generated code, so each batchId would
    // compile fresh classes; the stage sink's string literal is passed by
    // reference. Batches 2 and 3 differ only in batchId and record ids and
    // raise no alert. What batch 3 still compiles is the alerts check
    // (`alertRows.isEmpty`): Spark names a LIMIT's counter from a JVM-wide
    // sequence (`_limit_counter_N`), so that plan's code differs every time
    // (2 classes). A Long stage batch_id costs 2 more.
    val paths = StreamingIngest.Paths(
      Files.createTempDirectory("graft-codegen").toString)
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val after = (1L to 3L).map { id =>
      val batch = Seq(sohEnvelope(id.toInt, 1678759166L + id),
        ("bad-" + id, "!!! not base64 !!!")).toDF("recordId", "data")
      StreamingIngest.writeBatch(batch, geo, paths, batchId = id)
      compiles
    }
    val limitClasses = 2
    assert(after(2) - after(1) == limitClasses,
      s"batch 3 compiled ${after(2) - after(1)} classes; counter after each batch: $after")
    assert(StreamingIngest.stageTable(spark, paths)
      .select("batch_id").as[String].collect().sorted.toSeq == Seq("1", "2", "3"))
  }
}
