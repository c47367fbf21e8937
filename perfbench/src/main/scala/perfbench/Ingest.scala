package perfbench

import java.net.HttpURLConnection
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.ingest.{GeoDim, IngestTransforms}
import graft.streaming.{HttpPushServer, StreamingIngest}

/** The ingest workload, ingest-push, driven through the public ingest entry
  * points and fed by [[WireGen]]. Open loop: a generator POSTs device
  * records to `HttpPushServer` over at most `Connections` connections on a
  * fixed schedule of rate steps; `StreamingIngest.start` runs on the
  * server's envelope stream with a short trigger; one reader polls
  * `StreamingIngest.stageTable` after each micro-batch and finds each SOH
  * record by its
  * (deviceId, packetId) identity. Latencies run from each POST's due time,
  * so a stall is charged to every record queued behind it.
  *
  * The base step runs first and is drained (every SOH record it sent seen by
  * the reader) before the higher steps start, so its latencies never share a
  * micro-batch with the overload backlog. Afterwards the landed zones are
  * reconciled by identity and count. */
object Ingest {
  val Connections = 3
  val TriggerMs = 500L
  /** Rate steps of the push schedule: (records/s, share of the run). The
    * first is the base rate the latency metrics are read at; the last is
    * above what this tree sustains. */
  val Steps: Seq[(Double, Double)] = Seq((20.0, 0.9), (40.0, 0.04), (90.0, 0.06))
  /** The freshness tail reported: the base step of a 20 s run yields about
    * 210 SOH records, so p90 keeps about 21 samples beyond it. */
  val TailPercentile = 90.0
  /** A step is sustained when the generator kept its schedule and the
    * step's freshness tail stayed under this limit (reported in the run
    * record; the headline throughput is the front door's capacity at the
    * last step, see [[push]]). */
  val FreshLimitMs = 10000.0
  val LateLimitMs = 250.0
  /** How long the reader may take to see every SOH record of a phase once
    * its last POST is acknowledged; a record it has not seen by then is a
    * failed operation. */
  val DrainTimeoutMs = 30000L
  /** The reader polls as soon as a micro-batch completes, and at the
    * latest this long after its last poll. */
  val PollIntervalMs = 2000L
  /** Warm-up traffic: this many records at the base rate, all landed
    * before the timed window opens. */
  val WarmRecords = 60
  val CheckRecords = 1000

  private val WarmStream = 1
  private val MeasureStream = 2
  private val CheckStream = 4

  private def key(deviceId: Int, packetId: Int): Long =
    (deviceId.toLong << 32) | (packetId.toLong & 0xffffffffL)

  /** A small seeded places table turned into the broadcast geo dimension,
    * held as a local relation so each batch joins it without a job. */
  private def geoDim(spark: SparkSession, seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    val places = (0 until 2000).map { i =>
      Row(-180 + r.nextDouble() * 360, -60 + r.nextDouble() * 120, s"${i % 900}",
        s"Street $i", s"Town ${i % 211}", s"Region ${i % 37}", s"Sub ${i % 71}",
        f"${10000 + i}%05d", "USA", "UTC", 0)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "longitude double, latitude double, addressnumber string, street string, " +
        "municipality string, region string, subregion string, postalcode string, " +
        "country string, timezone_name string, timezone_offset int")
    val dim = GeoDim.fromPlaces(spark.createDataFrame(places.asJava, schema))
    spark.createDataFrame(dim.collect().toSeq.asJava, dim.schema)
  }

  /** Generator self-check: a generated corpus must split into the intended
    * class counts under `IngestTransforms.classify`. */
  private def classifyCheck(ctx: Run, gen: WireGen): Unit = {
    val spark = ctx.spark
    val recs = (0L until CheckRecords).map(i => gen.rec(ctx.seed, CheckStream, i))
    val env = spark.createDataFrame(recs.zipWithIndex.map { case (r, i) =>
      Row(s"check-$i", WireGen.envelopeData(r.body))
    }.asJava, graft.Schemas.envelope)
    val got = IngestTransforms.classify(env).groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = recs.groupBy(_.cls).map { case (c, rs) => c -> rs.size.toLong }
    if (got != want)
      ctx.failMsg("generator-classify", "ClassMismatch", s"classify=$got generator=$want")
  }

  private final case class Sent(rec: WireGen.Rec, step: Int, dueNs: Long,
      sendNs: Long, ackNs: Long, code: Int)

  private def post(port: Int, body: Array[Byte]): Int = {
    val c = java.net.URI.create(s"http://127.0.0.1:$port/devices").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setFixedLengthStreamingMode(body.length)
    val os = c.getOutputStream
    os.write(body)
    os.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    if (in != null) { in.readAllBytes(); in.close() }
    code
  }

  /** Identities visible in the stage zone and how often each appears. */
  private def stageIdentities(spark: SparkSession, paths: StreamingIngest.Paths): Map[Long, Int] =
    StreamingIngest.stageTable(spark, paths).select("deviceid", "packetid").collect()
      .groupBy(r => key(r.getInt(0), r.getInt(1))).map { case (k, rs) => k -> rs.length }

  /** Lines in the data files of a raw/error zone (one record a line). */
  private def zoneCount(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val files = Files.walk(root)
      try files.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.map { p =>
        val lines = Files.lines(p)
        try lines.count() finally lines.close()
      }.sum
      finally files.close()
    }
  }

  /** Reconcile the raw and error zones against what was sent: each holds
    * exactly the records of its class. */
  private def reconcile(ctx: Run, paths: StreamingIngest.Paths, sent: Seq[WireGen.Rec]): Unit =
    Seq(WireGen.Soh -> paths.rawSoh, WireGen.Sensor -> paths.rawSensor,
      WireGen.Unknown -> paths.rawUnknown, WireGen.Malformed -> paths.error)
      .foreach { case (cls, dir) =>
        val have = zoneCount(dir)
        val want = sent.count(_.cls == cls).toLong
        if (have != want)
          ctx.failMsg(s"zone:$cls", "ZoneCountMismatch", s"landed=$have sent=$want",
            math.abs(have - want))
      }

  // ---------------------------------------------------------------- push

  def push(ctx: Run): Unit = {
    val spark = ctx.spark
    val paths = StreamingIngest.Paths(ctx.workDir.resolve("lake").toString)
    // The stream's file source needs the spool directory to exist.
    Files.createDirectories(ctx.workDir.resolve("spool").resolve("devices"))
    val server = new HttpPushServer(ctx.workDir.resolve("spool").toString)
    val port = server.start()
    val tr = ctx.tracer
    try {
      // Set-up: the generator and its self-check (repeated for a median),
      // the run's traffic, then the stream and a warm-up burst that must
      // land. Each schedule entry is (record, step, seconds after the start
      // of its phase): phase 0 is the base step, phase 1 the higher steps.
      val measureSecs = ctx.seconds.toDouble
      var gen: WireGen = null
      var schedule: IndexedSeq[(WireGen.Rec, Int, Double)] = IndexedSeq.empty
      ctx.fixture { () =>
        gen = WireGen.load(spark, ctx.dataDir.toString)
        classifyCheck(ctx, gen)
        var t = 0.0
        var i = 0L
        val b = IndexedSeq.newBuilder[(WireGen.Rec, Int, Double)]
        Steps.zipWithIndex.foreach { case ((rate, share), s) =>
          if (s == 1) t = 0.0
          val n = math.round(rate * share * measureSecs).toInt
          (0 until n).foreach { k =>
            b += ((gen.rec(ctx.seed, MeasureStream, i), s, t + k / rate))
            i += 1
          }
          t += share * measureSecs
        }
        schedule = b.result()
      }
      ctx.phase("fixtures done")
      val geo = geoDim(spark, ctx.seed)
      // Register before the stream starts: its micro-batches run in a
      // session cloned at start, which keeps the listeners registered then.
      tr.register(spark)
      // Wakes the reader when a micro-batch completes, so a record's
      // freshness is the batch that lands it plus one stage-table read, not
      // the phase of a poll clock against the batches.
      val batchDone = new java.util.concurrent.Semaphore(0)
      val batchListener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          batchDone.release()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(batchListener)
      val query = StreamingIngest.start(spark, server.envelopeStream(spark, "devices"),
        geo, paths, Trigger.ProcessingTime(TriggerMs))
      try {
        val warm = (0L until WarmRecords).map(i => gen.rec(ctx.seed, WarmStream, i))
        val warmStart = System.nanoTime()
        warm.zipWithIndex.foreach { case (r, i) =>
          val wait = warmStart + (i / Steps.head._1 * 1e9).toLong - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L)
          post(port, r.body)
        }
        val warmKeys = warm.filter(_.cls == WireGen.Soh).map(r => key(r.deviceId, r.packetId)).toSet
        val warmDeadline = System.nanoTime() + DrainTimeoutMs * 1000000L
        while (!warmKeys.subsetOf(stageIdentities(spark, paths).keySet) &&
            System.nanoTime() < warmDeadline) Thread.sleep(100)
        ctx.phase("warm-up landed")

        val sent = new ConcurrentHashMap[Int, Sent]()
        val firstSeen = new ConcurrentHashMap[Long, java.lang.Long]()
        val polls = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Int)]()
        val stopReader = new AtomicBoolean(false)
        val reader = new Thread(() => {
          while (!stopReader.get()) {
            try tr.span("stage.poll") { _ =>
              val df = StreamingIngest.stageTable(spark, paths)
              val files = df.inputFiles.length
              val rows = df.select("deviceid", "packetid").collect()
              val now = System.nanoTime()
              rows.foreach(r => firstSeen.putIfAbsent(key(r.getInt(0), r.getInt(1)), now))
              polls.add(((System.nanoTime() - now) / 1e6, files))
            } catch {
              case scala.util.control.NonFatal(e) => ctx.fail("stage.poll", e)
            }
            batchDone.tryAcquire(PollIntervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
            // The next poll covers every batch completed before it starts.
            batchDone.drainPermits()
          }
        }, "perfbench-reader")

        /** POST the schedule entries of one phase on `Connections` threads,
          * each at its due time from the phase's start. */
        def send(phase: IndexedSeq[Int]): Unit = {
          val start = System.nanoTime()
          val next = new AtomicInteger(0)
          val senders = (0 until Connections).map { c =>
            val th = new Thread(() => {
              var k = next.getAndIncrement()
              while (k < phase.size) {
                val i = phase(k)
                val (rec, step, at) = schedule(i)
                val due = start + (at * 1e9).toLong
                val wait = due - System.nanoTime()
                if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
                val s0 = System.nanoTime()
                val code = tr.span("push.post") { _ =>
                  try post(port, rec.body)
                  catch { case scala.util.control.NonFatal(e) => ctx.fail("push.post", e); -1 }
                }
                sent.put(i, Sent(rec, step, due, s0, System.nanoTime(), code))
                k = next.getAndIncrement()
              }
            }, s"perfbench-sender-$c")
            th.start()
            th
          }
          senders.foreach(_.join())
        }
        /** Wait until the reader has seen every SOH record of `phase` that
          * was acknowledged, or the drain times out. */
        def drain(phase: IndexedSeq[Int]): Unit = {
          val want = phase.flatMap(i => Option(sent.get(i)))
            .filter(s => s.rec.cls == WireGen.Soh && s.code >= 200 && s.code <= 299)
            .map(s => key(s.rec.deviceId, s.rec.packetId))
          val deadline = System.nanoTime() + DrainTimeoutMs * 1000000L
          while (!want.forall(firstSeen.containsKey) && System.nanoTime() < deadline)
            Thread.sleep(50)
        }
        val (basePhase, highPhase) = schedule.indices.partition(i => schedule(i)._2 == 0)

        ctx.measure { _ =>
          reader.start()
          send(basePhase)
          drain(basePhase)
          send(highPhase)
        }
        // Drain the higher steps (not timed), then stop the reader.
        drain(highPhase)
        stopReader.set(true)
        reader.join()
        query.processAllAvailable()
        query.stop()
        ctx.phase("drained")

        val all = schedule.indices.flatMap(i => Option(sent.get(i)))
        all.foreach { s =>
          ctx.attempt()
          // code -1: the POST threw, already recorded with its exception
          if (s.code != -1 && (s.code < 200 || s.code > 299))
            ctx.failMsg("push.post", "Non2xx", s"HTTP ${s.code} for packet ${s.rec.packetId}")
        }
        val landed = stageIdentities(spark, paths)
        val sentRecs = warm ++ all.map(_.rec)
        sentRecs.filter(_.cls == WireGen.Soh).foreach { r =>
          landed.getOrElse(key(r.deviceId, r.packetId), 0) match {
            case 1 =>
            case 0 => ctx.failMsg("stage", "LostRecord", s"packet ${r.packetId} never landed")
            case n => ctx.failMsg("stage", "DuplicateRecord", s"packet ${r.packetId} landed $n times")
          }
        }
        val extra = landed.keySet -- sentRecs.map(r => key(r.deviceId, r.packetId))
        if (extra.nonEmpty)
          ctx.failMsg("stage", "UnexpectedRecord", s"${extra.size} identities never sent", extra.size)
        reconcile(ctx, paths, sentRecs)

        // Freshness: an SOH record the reader never saw within the drain is
        // a failed operation (when it landed at all; a lost one is counted
        // above), never a sample dropped from the percentiles.
        def fresh(s: Sent): Option[Double] =
          Option(firstSeen.get(key(s.rec.deviceId, s.rec.packetId))).map(t => (t - s.dueNs) / 1e6)
        val soh = all.filter(_.rec.cls == WireGen.Soh)
        soh.filter(s => fresh(s).isEmpty && landed.contains(key(s.rec.deviceId, s.rec.packetId)))
          .foreach(s => ctx.failMsg("stage.poll", "NotSeen",
            s"packet ${s.rec.packetId} (step ${s.step}) not seen within ${DrainTimeoutMs} ms"))

        // Metrics.
        val stepStats = Steps.indices.map { st =>
          val ss = all.filter(_.step == st)
          val fr = soh.filter(_.step == st).flatMap(fresh)
          val late = ss.map(s => (s.sendNs - s.dueNs) / 1e6)
          // Achieved rate: acknowledged records over the time from the
          // step's first due POST to its last acknowledgement.
          val ok = ss.filter(s => s.code >= 200 && s.code <= 299)
          val span = if (ok.isEmpty) 1.0 else (ok.map(_.ackNs).max - ss.map(_.dueNs).min) / 1e9
          (st, ok.size / span, Json.tail(fr)._2, Json.quantile(late, 0.99), fr.size,
            Json.tail(ss.map(s => (s.ackNs - s.dueNs) / 1e6))._2)
        }
        val baseFresh = soh.filter(_.step == 0).flatMap(fresh)
        ctx.metric("latency_p50_ms", Json.median(baseFresh), "ms")
        ctx.metric("latency_tail_ms", Json.quantile(baseFresh, TailPercentile / 100), "ms")
        ctx.note("latency_samples", baseFresh.size.toDouble)
        ctx.note("latency_supported_tail_percentile", Json.tail(baseFresh)._1)
        // Throughput: acknowledged POSTs per second at the last step, whose
        // schedule is above what the front door accepts, so the generator
        // falls behind and the rate is the front door's capacity. The
        // highest sustained step (schedule kept, freshness tail under the
        // limit) is a step function of the schedule, so it is recorded as a
        // note rather than gated.
        ctx.metric("throughput_per_s", stepStats.last._2, "1/s")
        val sustained = stepStats.filter { case (_, _, fTail, late, _, _) =>
          fTail <= FreshLimitMs && late <= LateLimitMs
        }
        ctx.note("push_sustained_rps", sustained.lastOption.map(_._2).getOrElse(0.0))
        stepStats.foreach { case (st, r, fTail, late, n, ackTail) =>
          ctx.note(s"step$st.acked_rps", r)
          ctx.note(s"step$st.fresh_tail_ms", fTail)
          ctx.note(s"step$st.late_ms_p99", late)
          ctx.note(s"step$st.fresh_samples", n.toDouble)
          ctx.note(s"step$st.ack_tail_ms", ackTail)
        }
        ctx.note("ack_tail_ms", stepStats.head._6)

        if (tr.traced) Layers.push(ctx, all.map(s => (s.sendNs, s.ackNs, s.dueNs, s.code, s.step)),
          polls.asScala.toSeq, paths, ctx.workDir.resolve("spool"))
      } finally {
        if (query.isActive) query.stop()
        spark.streams.removeListener(batchListener)
      }
    } finally server.stop()
  }
}
