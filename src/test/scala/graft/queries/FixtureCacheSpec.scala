package graft.queries

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession, Tables}

/** Pins the on-disk fixture cache ([[cachedFixture]]): its key sees a
  * source rewritten with its mtime kept and tells two same-named corpora
  * apart (as do the sketches of q218 and q242), one key builds once under
  * concurrent callers, a failed build publishes nothing, and params split
  * the key. A query's frame outlives the query's next call. Cases over
  * queries run only through query entry points, on copies of the smoke
  * corpus under a temp directory. A source lint keeps the cache the only
  * place that stamps files or retires /tmp entries. */
class FixtureCacheSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = graft.Graft.ensureConfigured(SparkTestSession.spark)
  private val small = "/root/testdata/sf0.001"
  private val large = "/root/testdata/sf0.01"
  private lazy val root = Files.createTempDirectory("graft-fixture-spec")

  /** A writable copy of the smoke corpus at `<root>/<parent>/sfx`,
    * optionally with its events taken from the larger corpus. */
  private def corpus(parent: String, bigEvents: Boolean = false): String = {
    val dir = Files.createDirectories(root.resolve(parent).resolve("sfx"))
    new File(small).listFiles().foreach { f =>
      Files.copy(f.toPath, dir.resolve(f.getName),
        StandardCopyOption.REPLACE_EXISTING)
    }
    if (bigEvents) replaceEvents(dir)
    dir.toString
  }

  private def replaceEvents(dir: Path): Unit =
    Files.copy(new File(large, "events.parquet").toPath,
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

  private def run(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Sorted rows, doubles rounded at 6 dp (summation order may differ). */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)
      case v => v
    }).sortBy(_.mkString("|"))

  /** /tmp entries (published or in-progress) of one fixture name. */
  private def tmpEntries(name: String): Seq[String] =
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty).toSeq
      .map(_.getName).filter(_.contains(s"graft_${name}_"))

  override def afterAll(): Unit = {
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.contains("_sfx_") ||
        f.getName.contains("graft_spec_"))
      .foreach(rmTree)
    rmTree(root.toFile)
  }

  test("a source rewritten with its mtime kept rebuilds the fixture (q208)") {
    val dir = corpus("rw")
    run("q208_format_roundtrip", dir).collect()
    val events = new File(dir, "events.parquet")
    val mtime = events.lastModified()
    replaceEvents(events.toPath.getParent)
    assert(events.setLastModified(mtime))
    val n = Tables.events(spark, dir).count()
    val byFormat = run("q208_format_roundtrip", dir)
      .groupBy("format").agg(sum("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFormat.keySet === Set("csv", "json", "orc"))
    byFormat.foreach { case (format, m) =>
      assert(m === n, s"$format copy served a stale fixture")
    }
  }

  test("same-named corpora keep separate fixtures (q213)") {
    val (a, b) = (corpus("a"), corpus("b", bigEvents = true))
    val filesA = run("q213_partition_prune", a).inputFiles
    assert(filesA.nonEmpty)
    val fromB = run("q213_partition_prune", b)
    filesA.foreach { f =>
      assert(new File(new java.net.URI(f)).exists(),
        s"B's call retired A's fixture file $f")
    }
    val direct = Tables.events(spark, b)
      .filter(col("ts") >= lit("2024-01-15").cast("timestamp") &&
        col("ts") < lit("2024-01-16").cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"),
        countDistinct("user_id").as("n_users"))
    assert(rows(fromB) === rows(direct))
  }

  test("q267 over a same-named second corpus joins that corpus") {
    val (a, b) = (corpus("a"), corpus("b", bigEvents = true))
    run("q267_bucketed_join", a).collect()
    val ev = Tables.events(spark, b)
    val plain = ev.join(ev.groupBy("user_id").agg(count(lit(1)).as("n_total")),
        "user_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"),
        sum("n_total").as("weight"))
    assert(rows(run("q267_bucketed_join", b)) === rows(plain))
  }

  test("sketch queries over same-named corpora keep separate sketch dirs (q218, q242)") {
    val (a, b) = (corpus("a"), corpus("b", bigEvents = true))
    Seq("q218_sketch_rollup", "q242_kll_quantiles").foreach { q =>
      val fromA = run(q, a)
      run(q, b)
      assert(rows(fromA) === rows(run(q, a)), s"$q: B's call replaced A's sketches")
    }
  }

  test("a frame built before its query is called again still collects") {
    Seq("q218_sketch_rollup", "q242_kll_quantiles", "q342_stream_decode_parity",
        "q345_stream_audio_parity", "q346_stream_video_parity").foreach { q =>
      val dir = corpus("reuse")
      val first = run(q, dir)
      val second = rows(run(q, dir))
      assert(rows(first) === second, s"$q: the second call broke the first frame")
    }
  }

  test("concurrent callers of one key build once") {
    val dir = corpus("once")
    val builds = new AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val dirs = Await.result(Future.sequence((1 to 4).map(_ => Future(
        cachedFixture(dir, "spec_once", 1L) { tmp =>
          builds.incrementAndGet()
          Thread.sleep(300)
          Files.writeString(new File(tmp, "payload").toPath, "x")
        }))), 1.minute)
      assert(builds.get === 1)
      assert(dirs.distinct.size === 1)
      assert(new File(dirs.head, "payload").exists())
      assert(new File(dirs.head, "_READY").exists())
    } finally pool.shutdown()
  }

  test("a build that throws publishes nothing and leaves no temp dir") {
    val dir = corpus("fail")
    val e = intercept[IllegalStateException] {
      cachedFixture(dir, "spec_fail", 1L) { tmp =>
        Files.writeString(new File(tmp, "partial").toPath, "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage === "build failed")
    assert(tmpEntries("spec_fail").isEmpty)
  }

  test("different params give different directories") {
    val dir = corpus("params")
    def at(p: Int) = cachedFixture(dir, "spec_params", 1L,
      params = Seq(p)) { _ => () }
    val (one, two) = (at(1), at(2))
    assert(one !== two)
    assert(new File(two, "_READY").exists())
  }

  test("lint: only cachedFixture stamps files or lists /tmp") {
    import scala.jdk.CollectionConverters._
    val pattern = "lastModified|getModificationTime|File\\(\"/tmp\"\\)".r
    val offenders = Seq("src/main/scala/graft/queries",
        "src/main/scala/graft/multimodal")
      .flatMap(d => Files.walk(java.nio.file.Paths.get(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .filter(p => pattern.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString).toSet
    assert(offenders === Set("src/main/scala/graft/queries/package.scala"),
      "file stamps and /tmp retirement belong to cachedFixture only")
  }
}
