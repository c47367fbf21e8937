package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The reference's exact wire entrance, loopback-runnable: an HTTP front
  * door accepting `POST /{stream-name}` whose body is base64-wrapped into a
  * delivery record — what the API Gateway REST resource + VTL mapping
  * template do before handing to Firehose
  * (cdk_datalake_mvp/cdk_datalake_mvp_stack.py:273-316: `"Data":
  * "$util.base64Encode($input.body)"`, stream name from the path).
  *
  * Architecture mirrors the reference's buffering split, Spark-first:
  * the server SPOOLS (one base64 line per record, atomic tmp+rename into
  * `<spoolDir>/<stream>/`), and [[envelopeStream]] plays Firehose: the one
  * envelope reader (`graft-envelope`, [[graft.sources.EnvelopeDataSource]])
  * on Spark's file stream source, admitting the spool into micro-batches of
  * at most 64 MB. Durable and replayable: records are on disk before the
  * 200 returns, the file source's offsets make re-reads exact, and record
  * ids are spool positions (`rec-N.txt:1`), so a replay rebuilds the same
  * ids and identical bodies never share one.
  *
  * JDK-only (`com.sun.net.httpserver`), no added dependency. A dev/demo
  * front door; the production entrance stays Kafka
  * ([[EnvelopeSources.fromKafka]]) — a single JVM endpoint is not a 100 TB
  * ingress, but the envelope contract downstream of it is identical, which
  * is the semantic the reference defines.
  *
  * Response mirrors the PutRecord surface: 200 + `{"recordId": "..."}`;
  * non-POST → 405; missing/nested stream path → 404; a body over
  * PutRecord's 1,000 KiB data limit → 413, with nothing spooled.
  *
  * Accepted sockets run with TCP_NODELAY. The JDK server writes a response
  * as two small writes (headers, then body); under Nagle the second waits
  * for the client's ACK of the first, which the client delays, so every
  * POST would stall ≈40 ms and one connection would acknowledge ≈22 POST/s.
  * The JDK reads the switch, `sun.net.httpserver.nodelay`, once per JVM, so
  * it is JVM-wide: it holds for every `com.sun.net.httpserver` server in the
  * process, and only if none was created before this class's first
  * instance. An explicit `-Dsun.net.httpserver.nodelay=false` still wins.
  */
final class HttpPushServer(spoolDir: String) {
  import HttpPushServer.MaxRecordBytes

  private val server = HttpPushServer.bindLoopback()
  // Seed past any record already on disk: a fresh instance over an existing
  // spool must NOT restart at 1 — rec-N.txt collisions would atomically
  // REPLACE spooled records, and a file-source checkpoint that has already
  // seen the path would never re-read it (silent data loss behind a 200).
  private val seq = new AtomicLong(maxSpooledSeq())

  private def maxSpooledSeq(): Long = {
    val root = Paths.get(spoolDir).toFile
    val streams = Option(root.listFiles()).getOrElse(Array.empty)
    val recs = streams.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
    val Rec = "rec-(\\d+)\\.txt".r
    recs.map(_.getName).collect { case Rec(n) => n.toLong }
      .foldLeft(0L)(math.max)
  }

  server.createContext("/", (ex: HttpExchange) => {
    try handle(ex)
    catch {
      // Spool I/O failure (disk full, permissions): the client must see a
      // 5xx it can retry on, not a reset connection.
      case _: Exception =>
        try respond(ex, 500, """{"message":"internal error"}""")
        catch { case _: Exception => () }
    }
    finally ex.close()
  })

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def handle(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST")
      return respond(ex, 405, """{"message":"POST only"}""")
    val stream = ex.getRequestURI.getPath.stripPrefix("/")
    if (stream.isEmpty || stream.contains("/") || stream.contains(".."))
      return respond(ex, 404,
        """{"message":"expected POST /{stream-name}"}""")
    // bounded read: an oversized or endless body must not fill the heap
    val body = ex.getRequestBody.readNBytes(MaxRecordBytes + 1)
    if (body.length > MaxRecordBytes)
      return respond(ex, 413, """{"message":"record larger than 1000 KiB"}""")
    // the VTL wrap, verbatim: the record's data IS base64 of the raw body
    val data = java.util.Base64.getEncoder.encodeToString(body)
    val n = seq.incrementAndGet()
    val dir = Paths.get(spoolDir, stream)
    Files.createDirectories(dir)
    // one record per file, written tmp-then-rename so the streaming reader
    // can never observe a torn line; the dot prefix keeps the tmp name out
    // of the file source's glob until the atomic move publishes it
    val tmp = dir.resolve(s".rec-$n.tmp")
    try {
      Files.write(tmp, (data + "\n").getBytes(UTF_8))
      Files.move(tmp, dir.resolve(s"rec-$n.txt"),
        StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Exception =>
        // don't leave a half-written tmp behind — the dot prefix hides it
        // from the glob, so it would otherwise linger invisibly forever
        try Files.deleteIfExists(tmp) catch { case _: Exception => () }
        throw e
    }
    respond(ex, 200, s"""{"recordId":"$stream-$n"}""")
  }

  /** Bind and serve; returns the ephemeral port. */
  def start(): Int = { server.start(); server.getAddress.getPort }

  def stop(): Unit = server.stop(0)

  /** The Spark side of the contract: the envelope stream (`recordId`,
    * `data`) over this server's spool for `stream`. The 64 MB cap per
    * micro-batch is the reference's Firehose size buffer
    * (stack.py:165-168); the trigger interval is its time buffer. */
  def envelopeStream(spark: org.apache.spark.sql.SparkSession,
      stream: String): org.apache.spark.sql.DataFrame =
    spark.readStream.format("graft-envelope")
      .option("maxBytesPerTrigger", 64L * 1024 * 1024)
      .load(Paths.get(spoolDir, stream).toString)
      .select("recordId", "data")
}

object HttpPushServer {
  /** Firehose `PutRecord`'s data limit, 1,000 KiB: the reference's own bound
    * on one record. */
  val MaxRecordBytes: Int = 1000 * 1024

  // TCP_NODELAY (see the class doc). sun.net.httpserver.ServerConfig reads
  // this once per JVM, on the first HttpServer.create, so it is set here,
  // before bindLoopback's first call, and only when unset so that an
  // explicit -Dsun.net.httpserver.nodelay=false wins.
  sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")

  private def bindLoopback(): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
}
