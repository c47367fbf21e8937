package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the tracer, the clock, and the
  * record the run reports (metrics, failures, attempts). */
final class Run(val spark: SparkSession, val tracer: Tracer, val workload: String,
    val seed: Long, val seconds: Int, val benchDir: Path, val dataDir: Path,
    val workDir: Path, startMs: Long) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics of a traced run, preset to 0 for layers the
    * workload does not exercise. */
  val layers = mutable.LinkedHashMap.from(Layers.Spec.map { case (n, u, _) => n -> (0.0, u) })
  val notes = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private val fixtureMs = mutable.ArrayBuffer.empty[Double]
  var setupS = Double.NaN
  var measuredSeconds = Double.NaN
  /** Wall-clock start of the timed window. */
  var measureStartMs = 0L

  def attempt(): Unit = synchronized { attempted += 1 }
  def attempts: Long = synchronized(attempted)
  def failedOps: Long = synchronized(failed)

  /** A failed operation, kept with its cause; `n` operations when one
    * check covers several records. */
  def failMsg(op: String, cls: String, msg: String, n: Long = 1L): Unit = synchronized {
    failed += n
    val first = Option(msg).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
    failures += s"""{"workload":${Json.str(workload)},"op":${Json.str(op)},""" +
      s""""exception":${Json.str(cls)},"message":${Json.str(first.take(300))},"count":$n}"""
    System.err.println(s"[perfbench] FAIL $workload $op: $cls: ${first.take(300)}")
  }

  def fail(op: String, e: Throwable): Unit = failMsg(op, e.getClass.getName, e.getMessage)

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double): Unit = {
    require(layers.contains(name), s"undeclared layer metric $name")
    layers(name) = (if (v.isNaN) 0.0 else v, layers(name)._2)
  }
  def note(name: String, v: Double): Unit = notes(name) = v

  /** Log a phase boundary with the time since launch. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - startMs) / 1000.0}%.2fs $name")

  /** A repeatable part of set-up: run three times, and only the median
    * counts toward `setup_s`. */
  def fixture(f: () => Unit): Unit = (1 to 3).foreach { _ =>
    val t0 = System.nanoTime()
    f()
    fixtureMs += (System.nanoTime() - t0) / 1e6
  }

  /** The timed part of the run. Set-up ends here: `setup_s` runs from the
    * launch of the benchmark process to this point. `body` gets the
    * deadline (System.nanoTime) of the `seconds`-long window. */
  def measure(body: Long => Unit): Unit = {
    val extra = if (fixtureMs.isEmpty) 0.0 else fixtureMs.sum - Json.median(fixtureMs.toSeq)
    setupS = (System.currentTimeMillis() - startMs - extra) / 1000.0
    phase("measure start")
    measureStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body(t0 + seconds * 1000000000L)
    measuredSeconds = (System.nanoTime() - t0) / 1e9
    phase("measure end")
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --bench-dir <dir> --work-dir <dir> --start-ms <epoch ms>`. Prints the run
  * record, then the result line (see run.py). */
object Main {
  val Workloads = Seq("ingest-push", "iterative-ml")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val benchDir = Paths.get(opt("bench-dir")).toAbsolutePath
    val workDir = Paths.get(opt("work-dir")).toAbsolutePath
    val traced = opt("trace") == "1"
    Files.createDirectories(workDir)
    val spark = graft.Graft.sessionBuilder("local[4]", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", workDir.resolve("checkpoints").toString)
      .getOrCreate()
    graft.Graft.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Run(spark, new Tracer(spark.sparkContext, traced), workload,
      opt("seed").toLong, opt("seconds").toInt, benchDir,
      benchDir.resolve("data").resolve("sf0.01"), workDir, opt("start-ms").toLong)
    ctx.phase("session ready")
    try {
      workload match {
        case "ingest-push" => Ingest.push(ctx)
        case _ if opt.get("pin").contains("1") =>
          Queries.pin(spark, ctx.dataDir.toString, benchDir, opt("queries").split(',').toSeq)
          return
        case _ => Queries.run(ctx)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        ctx.attempt()
        ctx.fail("run", e)
        e.printStackTrace()
    }
    // After the workload's own checks, with every stream stopped.
    ctx.note("heap_live_mb", heapLiveMb())
    ctx.tracer.drain()
    // The traced run's own median latency: over the untraced median it is
    // the tracing overhead.
    if (ctx.tracer.traced)
      ctx.layer("trace.op_p50_ms", ctx.metrics.get("latency_p50_ms").fold(0.0)(_._1))
    ctx.metric("setup_s", ctx.setupS, "s")
    ctx.note("rss_peak_mb", rssPeakMb())
    if (ctx.tracer.traced)
      ctx.tracer.write(benchDir.getParent.resolve(".bench_build").resolve("traces")
        .resolve(s"$workload-seed${ctx.seed}.json"))
    ctx.phase("checks done")
    spark.stop()
    ctx.phase("session stopped")

    val attempted = ctx.attempts.max(1L)
    ctx.note("fail_ratio", ctx.failedOps.toDouble / attempted)
    val shown = if (ctx.tracer.traced) ctx.layers else ctx.metrics
    def kv(m: Iterable[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")
    val record = s"""{"workload":${Json.str(workload)},"seed":${ctx.seed},""" +
      s""""trace":$traced,"metrics":{${kv(ctx.metrics)}},"layers":{${kv(ctx.layers)}},"notes":{""" +
      ctx.notes.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",") +
      s"""},"failures":[${ctx.failures.mkString(",")}]}"""
    println("RECORD " + record)
    println(s"""RESULT {"correct":${ctx.failedOps == 0},"attempted":$attempted,""" +
      s""""failed":${ctx.failedOps},"metrics":{${kv(shown)}}}""")
    System.out.flush()
    // Engine code may leave non-daemon pool threads behind that hold the JVM
    // open for their keep-alive time; the run is over.
    System.exit(0)
  }

  /** Heap in use after a full collection: the live set the run retains
    * (session state, memos, and Spark's status store, which grows with the
    * number of jobs run). */
  def heapLiveMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
