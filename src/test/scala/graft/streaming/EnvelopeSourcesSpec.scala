package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.ingest.IngestTransforms

class EnvelopeSourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  /** One fixed-length `HttpURLConnection` POST, the shape device clients
    * use; reads the response fully so the connection is kept alive. */
  def postFixed(port: Int, path: String, body: Array[Byte]): (Int, String) = {
    val c = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setFixedLengthStreamingMode(body.length)
    val out = c.getOutputStream
    out.write(body)
    out.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    try (code, new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  val headerJson =
    s"""{"packetId":1,"deviceType":1,"deviceId":5,"userApplicationId":1,"organizationId":1,"len":1,"status":0,"hiveRxTime":"x","data":"${b64("""{"ln":1.0,"lt":2.0,"d":1678759166}""")}"}"""

  test("kafka frames map to the envelope contract and classify") {
    val kafka = Seq(
      ("ingest", 0, 41L, "k1".getBytes, headerJson.getBytes))
      .toDF("topic", "partition", "offset", "key", "value")
    val env = EnvelopeSources.fromKafka(kafka)
    assert(env.columns.toSeq == Seq("recordId", "data"))
    val row = env.collect().head
    assert(row.getString(0) == "ingest-0-41")
    val cls = IngestTransforms.classify(env).select("cls").as[String].collect()
    assert(cls.toSeq == Seq("soh"))
  }

  test("HTTP POST /{stream-name} lands a body through the VTL wrap into the stage row (S1)") {
    // the reference's exact front door, loopback: POST a RAW JSON body (the
    // device speaks plain JSON; the VTL template does the base64 wrap,
    // stack.py:273-316), then consume the spool with the buffered envelope
    // stream and assert the record classifies — the full wire-to-stage path
    val spool = java.nio.file.Files.createTempDirectory("graft-httppush")
    val srv = new HttpPushServer(spool.toString)
    val port = srv.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(path: String, body: String) = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val ok = post("/ingest-stream", headerJson)
      assert(ok.statusCode() == 200 && ok.body().contains("recordId"))
      assert(post("/", "x").statusCode() == 404, "stream name is required")
      val get = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/ingest-stream")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405, "the front door is POST-only")
      val env = srv.envelopeStream(spark, "ingest-stream")
      val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val q = env.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          IngestTransforms.classify(b).select("recordId", "cls")
            .collect().foreach(r =>
              rows.synchronized { rows += ((r.getString(0), r.getString(1))) })
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-httppush-ckpt").toString)
        .start()
      q.awaitTermination(60000)
      q.stop()
      assert(rows.map(_._2).toSeq == Seq("soh"),
        "the POSTed body must classify as a SOH stage row")
    } finally srv.stop()
  }

  test("HTTP push restart seeds past spooled records — no rec-N collisions (durability)") {
    // review finding, round 6: a fresh instance restarting seq at 1 would
    // ATOMIC_MOVE-replace rec-1.txt, losing the old record, and a file-source
    // checkpoint that already saw that path would never read the new one.
    // The server must seed its sequence past everything already on disk.
    val spool = java.nio.file.Files.createTempDirectory("graft-httppush-restart")
    val srv1 = new HttpPushServer(spool.toString)
    val port1 = srv1.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def post(port: Int, body: String) = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/s1"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    try {
      assert(post(port1, "first").statusCode() == 200)
      assert(post(port1, "second").statusCode() == 200)
    } finally srv1.stop()
    // "process restart": a new instance over the SAME spool dir
    val srv2 = new HttpPushServer(spool.toString)
    val port2 = srv2.start()
    try {
      assert(post(port2, "third").statusCode() == 200)
    } finally srv2.stop()
    val files = Option(spool.resolve("s1").toFile.listFiles())
      .getOrElse(Array.empty).map(_.getName).sorted.toSeq
    assert(files.size == 3, s"all three records must be on disk, got $files")
    val bodies = files.map(f => new String(java.nio.file.Files.readAllBytes(
      spool.resolve("s1").resolve(f)), "UTF-8").trim)
      .map(b => new String(java.util.Base64.getDecoder.decode(b), "UTF-8"))
    assert(bodies.toSet == Set("first", "second", "third"),
      "no record may be overwritten by a post-restart name collision")
  }

  test("size-capped file stream splits a backlog into bounded micro-batches (S2 64 MB analog)") {
    // four one-line drop files; a byte cap far below one file's size forces
    // one file per micro-batch (file granularity: at least one file always
    // admits), while the uncapped reader drains the backlog in one batch —
    // the Firehose 64 MB buffer-flush analog (stack.py:165-168), which
    // HttpPushServer.envelopeStream sets through the same option.
    val dir = java.nio.file.Files.createTempDirectory("graft-sizecap")
    (1 to 4).foreach { i =>
      java.nio.file.Files.write(dir.resolve(s"drop-$i.txt"),
        (b64(headerJson) + "\n").getBytes("UTF-8"))
    }
    def runAndCountBatches(maxBytes: Option[Long]): (Int, Long) = {
      val reader = spark.readStream.format("graft-envelope")
      val env = maxBytes.fold(reader)(reader.option("maxBytesPerTrigger", _))
        .load(dir.toString).select("recordId", "data")
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = env.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count()
          if (n > 0) sizes.synchronized { sizes += n }
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-sizecap-ckpt").toString)
        .start()
      q.awaitTermination(60000)
      q.stop()
      (sizes.size, sizes.sum)
    }
    val (cappedBatches, cappedRows) = runAndCountBatches(Some(1L))
    assert(cappedRows == 4, "every dropped record is delivered exactly once")
    assert(cappedBatches == 4, "1-byte cap admits exactly one file per batch")
    val (openBatches, openRows) = runAndCountBatches(None)
    assert(openRows == 4)
    assert(openBatches == 1, "uncapped reader drains the backlog in one batch")
  }

  test("HTTP push acknowledges sequential POSTs on one connection without the delayed-ACK stall") {
    // Headers and body go out as two writes; without TCP_NODELAY, Nagle
    // holds the body until the client's delayed ACK, ≈40 ms per POST. The
    // median, not the sum, so one GC pause cannot fail the bound.
    val spool = java.nio.file.Files.createTempDirectory("graft-httppush-nodelay")
    val srv = new HttpPushServer(spool.toString)
    val port = srv.start()
    try {
      val body = headerJson.getBytes("UTF-8")
      val ms = (1 to 40).map { _ =>
        val t0 = System.nanoTime()
        val (code, _) = postFixed(port, "/s1", body)
        assert(code == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val median = (ms(19) + ms(20)) / 2
      assert(median < 20.0, f"median round trip $median%.1f ms")
    } finally srv.stop()
  }

  test("HTTP push rejects a body over PutRecord's 1,000 KiB limit with 413 and spools nothing") {
    val spool = java.nio.file.Files.createTempDirectory("graft-httppush-413")
    val srv = new HttpPushServer(spool.toString)
    val port = srv.start()
    def spooled() = Option(spool.resolve("s1").toFile.list())
      .getOrElse(Array.empty[String]).toSet
    try {
      val max = HttpPushServer.MaxRecordBytes
      assert(postFixed(port, "/s1", Array.fill(max)('a'.toByte))._1 == 200)
      val before = spooled()
      assert(before.size == 1)
      val (code, msg) = postFixed(port, "/s1", Array.fill(max + 1)('a'.toByte))
      assert(code == 413)
      assert(msg == """{"message":"record larger than 1000 KiB"}""")
      assert(spooled() == before, "a rejected record must leave no spool file")
    } finally srv.stop()
  }
}
