package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import graft.queries._

/** The query workload, iterative-ml: closed loop, one client, each query
  * timed from `fn(spark, sfDir)` through collecting every output column to
  * the client (a `count()` would let Catalyst prune columns a user pays
  * for). Its cohort is the driver-loop surface, where eager jobs inside `fn`
  * dominate; each query runs first with cold and then with warm session
  * memos (pair mine, KMeans and product-quantizer fits, bigram LM). The
  * bigram LM is reached only from the training-prep queries, so that module
  * joins the cohort for it.
  *
  * The queries a run times are those pinned in `pins/iterative-ml.tsv`,
  * with the row count and order-insensitive digest each must return. */
object Queries {
  /** (module, its queries) of the cohort the pins are drawn from. */
  val Cohort: Seq[(String, Seq[QueryDef])] = Seq("GraphQueries" -> GraphQueries.defs,
    "SimilarityQueries" -> SimilarityQueries.defs, "MlQueries" -> MlQueries.defs,
    "DedupQueries" -> DedupQueries.defs, "TokenizerQueries" -> TokenizerQueries.defs,
    "TrainingPrepQueries" -> TrainingPrepQueries.defs)

  /** The tail reported. A run times each pinned query twice (see [[run]]),
    * too few samples for a percentile with ten beyond it. p90 falls among
    * the memo fills of the first pass, the slowest queries of every run,
    * and is read over the same queries in every run. */
  val TailPercentile = 90.0

  /** Threads of the warm-up pass. */
  val WarmThreads = 4

  final case class Pin(name: String, module: String, rows: Long, digest: String)

  def pinFile(benchDir: Path): Path = benchDir.resolve("pins").resolve("iterative-ml.tsv")

  def readPins(f: Path): Seq[Pin] =
    Files.readAllLines(f, UTF_8).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split('\t')).map(a => Pin(a(0), a(1), a(2).toLong, a(3)))

  private def defs: Map[String, (String, QueryDef)] =
    Cohort.flatMap { case (m, ds) => ds.map(d => d.name -> (m -> d)) }.toMap

  /** Order-insensitive digest over every column of every row: the sum of
    * per-row hashes, so row order never matters and duplicates do. Doubles
    * are compared at 12 significant digits, inside the DuckDB oracle's
    * 1e-9 relative tolerance. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def norm(v: Any): String = v match {
      case null => "∅"
      case d: Double => normD(d)
      case f: Float => normD(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
      case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString
      case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("<", ",", ">")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case other => other.toString
    }
    def normD(d: Double): String =
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new java.math.MathContext(12))
        .stripTrailingZeros.toString
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(norm(r).getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    f"$sum%016x"
  }

  /** Writes `pins/iterative-ml.tsv` for the named queries from this tree's
    * results (the DuckDB oracle cross-check is documented in the README). */
  def pin(spark: SparkSession, sfDir: String, benchDir: Path, names: Seq[String]): Unit = {
    val byName = defs
    val lines = names.map { n =>
      val (m, d) = byName(n)
      val rows = d.fn(spark, sfDir).collect()
      graft.Graft.clearSessionMemos()
      s"$n\t$m\t${rows.length}\t${digest(rows)}"
    }
    Files.write(pinFile(benchDir),
      (s"# name\tmodule\trows\tdigest (${new java.io.File(sfDir).getName})\n" +
        lines.mkString("", "\n", "\n")).getBytes(UTF_8))
  }

  /** Compare a result with its pin; a mismatch is a failed operation. */
  private def check(ctx: Run, p: Pin, rows: Array[Row]): Boolean = {
    val (n, dg) = (rows.length.toLong, digest(rows))
    val ok = n == p.rows && dg == p.digest
    if (!ok) ctx.failMsg(p.name, "WrongResult",
      s"rows=$n digest=$dg, pinned rows=${p.rows} digest=${p.digest}")
    ok
  }

  final case class Outcome(name: String, module: String, first: Boolean,
      spanId: Long, ms: Double, ok: Boolean)

  def run(ctx: Run): Unit = {
    val spark = ctx.spark
    val sfDir = ctx.dataDir.toString
    val pins = readPins(pinFile(ctx.benchDir))
    val byName = defs
    val tr = ctx.tracer

    // Set-up: per-session table registration, repeated to take a median;
    // then one warm-up pass over the pinned queries, so the timed loop
    // measures warm queries rather than first-touch JIT and codegen costs
    // (a fresh JVM runs them two to three times slower). The warm-up runs
    // the queries on WarmThreads threads at once, which overlaps their
    // driver-side compile and planning work and shortens set-up; its
    // results are checked like any other. The memos it fills are cleared,
    // so each memo is still paid once in the timed loop.
    ctx.fixture { () =>
      val s = spark.newSession()
      graft.Graft.configure(s)
      graft.Tables.registerAll(s, sfDir)
    }
    ctx.phase("fixtures done")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    try {
      pins.map { p =>
        pool.submit(new Runnable {
          def run(): Unit = {
            ctx.attempt()
            try check(ctx, p, byName(p.name)._2.fn(spark, sfDir).collect())
            catch { case scala.util.control.NonFatal(e) => ctx.fail(p.name, e) }
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    ctx.phase("warm-up done")
    graft.Graft.clearSessionMemos()
    tr.register(spark)

    val out = scala.collection.mutable.ArrayBuffer.empty[Outcome]
    val rnd = new scala.util.Random(ctx.seed)
    ctx.measure { deadline =>
      // Whole passes over the pinned set, each in a seeded order: the first
      // right after the memos were cleared, so every memo is filled once;
      // the later ones hit them. At least two passes, so every run times
      // each query once with cold and once with warm memos whatever the
      // seed, and the percentiles are read over the same queries.
      var pass = 0
      while (pass < 2 || System.nanoTime() < deadline) {
        rnd.shuffle(pins).foreach { p =>
          val (module, d) = byName(p.name)
          var ok = false
          var rows: Array[Row] = null
          val t0 = System.nanoTime()
          val id = tr.span("query", attrs = Map("query" -> p.name, "module" -> module,
              "first" -> (pass == 0).toString)) { qid =>
            try {
              val df = tr.span("query.build", qid)(_ => d.fn(spark, sfDir))
              rows = tr.span("query.materialize", qid)(_ => df.collect())
              ok = true
            } catch {
              case scala.util.control.NonFatal(e) => ctx.fail(p.name, e)
            }
            qid
          }
          val ms = (System.nanoTime() - t0) / 1e6
          if (ok) ok = check(ctx, p, rows)
          out += Outcome(p.name, module, pass == 0, id, ms, ok)
          ctx.attempt()
          // Iterative operators leave localCheckpoint'd blocks behind; drop
          // them between queries so early queries do not tax later ones.
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        }
        pass += 1
      }
      ctx.note("passes", pass.toDouble)
    }

    val lat = out.filter(_.ok).map(_.ms).toSeq
    ctx.metric("latency_p50_ms", Json.median(lat), "ms")
    ctx.metric("latency_tail_ms", Json.quantile(lat, TailPercentile / 100), "ms")
    ctx.note("latency_samples", lat.size.toDouble)
    ctx.note("latency_supported_tail_percentile", Json.tail(lat)._1)
    ctx.metric("throughput_per_s", out.count(_.ok) / ctx.measuredSeconds, "1/s")
    ctx.note("queries_per_min", out.count(_.ok) * 60.0 / ctx.measuredSeconds)

    if (tr.traced) Layers.queries(ctx, out.toSeq)
  }
}
