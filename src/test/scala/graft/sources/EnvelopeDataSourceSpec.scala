package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class EnvelopeDataSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fixture(): String = {
    val dir = Files.createTempDirectory("graft_envsrc").toString
    Files.write(Paths.get(dir, "a.txt"),
      java.util.Arrays.asList("AAA=", "BBB=", "AAA="))
    Files.write(Paths.get(dir, "b.txt"),
      java.util.Arrays.asList("CCC=", "DDD="))
    Files.write(Paths.get(dir, "_hidden.txt"),
      java.util.Arrays.asList("ZZZ="))
    dir
  }

  test("reads all visible lines with positionally-unique replay-stable ids") {
    val dir = fixture()
    val df = spark.read.format("graft-envelope").load(dir)
    val rows = df.orderBy("recordId").collect()
    assert(rows.length == 5, "hidden files must be skipped")
    val ids = rows.map(_.getAs[String]("recordId"))
    assert(ids.toSet.size == 5,
      "duplicate lines in one file must still get distinct ids " +
        "(a content hash would collapse them)")
    assert(ids.contains("a.txt:1") && ids.contains("a.txt:3"))
    val dup = df.filter(col("data") === "AAA=").select("line_no")
      .collect().map(_.getLong(0)).sorted
    assert(dup.toSeq == Seq(1L, 3L))
  }

  test("file-only filters prune whole partitions at planning time") {
    val dir = fixture()
    val one = spark.read.format("graft-envelope").load(dir)
      .filter(col("_metadata.file_name") === "b.txt")
    assert(one.collect().map(_.getAs[String]("data")).sorted.toSeq ==
      Seq("CCC=", "DDD="))
    val scan = one.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metrics("numFiles").value == 1,
      s"the a.txt file must never be planned:\n${one.queryExecution.executedPlan}")
    assert(one.rdd.getNumPartitions == 1)
  }

  test("micro-batch stream delivers each file exactly once across a restart") {
    val dir = Files.createTempDirectory("graft_envstream").toString
    val ckpt = Files.createTempDirectory("graft_envstream_ckpt").toString
    val out = Files.createTempDirectory("graft_envstream_out").toString
    def drop(name: String, lines: String*): Unit =
      Files.write(Paths.get(dir, name), lines.toSeq.asJava)
    // parquet sink (memory sink can't recover from a checkpoint)
    def start() = spark.readStream.format("graft-envelope").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    def ids(): Seq[String] = spark.read.parquet(out)
      .select("recordId").collect().map(_.getString(0)).toSeq

    drop("f1.txt", "A1=", "A2=")
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(ids().length == 2)
      drop("f2.txt", "B1=")
      // a late file sorting BEFORE already-delivered ones — the set-diff
      // offset must still pick it up
      drop("a_late.txt", "L1=")
      q1.processAllAvailable()
      val after = ids().sorted
      assert(after.length == 4, s"got $after")
      assert(after.contains("a_late.txt:1") && after.contains("f2.txt:1"))
    } finally q1.stop()

    // restart from the checkpoint: old files must NOT replay, new ones must
    drop("f3.txt", "C1=", "C2=")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val all = ids()
      assert(all.count(_.startsWith("f3.txt")) == 2, s"f3 must arrive: $all")
      assert(all.count(_ == "f1.txt:1") == 1,
        s"checkpointed files must not replay after restart: $all")
    } finally q2.stop()
  }

  test("unsupported predicates stay residual and still evaluate correctly") {
    val dir = fixture()
    val q = spark.read.format("graft-envelope").load(dir)
      .filter(length(col("data")) === 4 && col("line_no") >= 2L)
    // length() is not a source-evaluable Filter -> Spark keeps it; line_no
    // range is pushed. Either way the result is exact.
    assert(q.select("data").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("AAA=", "BBB=", "DDD="))
  }

  test("lint: drop zones are read through graft-envelope only") {
    val pattern = """readStream\.text|format\("socket"\)|input_file_name\(\)""".r
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(p => pattern.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString).toSeq
    assert(offenders.isEmpty,
      "line files are read through graft-envelope, whose ids are positions; " +
        "a text, socket or input_file_name reader gives identical lines one id")
  }
}
