package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into the system. `parent` is 0 for a
  * root span. Wall-clock bounds (`startMs`/`endMs`) let listener events,
  * which carry wall-clock times, be matched to the span they fell in. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long, attrs: Map[String, String]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A Spark job as seen from outside: the span that submitted it (through
  * the `perfbench.span` local property, which Spark copies onto every job
  * the submitting thread starts), its final stage's call site, the SQL
  * execution and streaming batch it ran under. */
final case class JobRec(id: Int, startMs: Long, site: String, execId: Long,
    batchId: Long, spanId: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  def ms: Long = if (endMs < 0) 0L else endMs - startMs
}

final case class StageRec(tasks: Int, cpuNs: Long, runMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** Catalyst planning phases of a finished Dataset action
  * (QueryExecutionListener), placed in time by its analysis start. */
final case class QeRec(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Spans plus the outside-in view of Spark: SparkListener (jobs, stages),
  * QueryExecutionListener (planning phases) and
  * StreamingQueryListener (per-trigger durations). Spans are always timed
  * (the workloads read their measurements from them); the listeners are
  * registered only for a traced run. Everything stays in memory until
  * [[write]] at the end of the run. */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  import Tracer.SpanProp

  private val nextId = new AtomicLong(0L)
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  /** Wall-clock milliseconds of a System.nanoTime reading. */
  def wallMs(ns: Long): Long = originMs + (ns - originNs) / 1000000L
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execDesc = new ConcurrentHashMap[Long, String]()
  /** Output path of SQL executions that write files, from their plan. */
  val execOutput = new ConcurrentHashMap[Long, String]()
  val execStartMs = new ConcurrentHashMap[Long, Long]()
  val execEndMs = new ConcurrentHashMap[Long, Long]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  /** Time `body` as a span; jobs it submits from this thread carry its id. */
  def span[T](name: String, parent: Long = 0L,
      attrs: Map[String, String] = Map.empty)(body: Long => T): T = {
    val id = nextId.incrementAndGet()
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, parent, name, t0, t1, w0, System.currentTimeMillis(), attrs))
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  def spansNamed(name: String): Seq[Span] =
    spans.asScala.filter(_.name == name).toSeq.sortBy(_.startNs)

  def register(spark: SparkSession): Unit = if (traced) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val site = if (e.stageInfos.isEmpty) ""
          else e.stageInfos.maxBy(_.stageId).name
        jobs.put(e.jobId, JobRec(e.jobId, e.time, site,
          prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
          prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
          prop(SpanProp).map(_.toLong).getOrElse(0L),
          e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        if (m != null)
          stages.put(i.stageId, StageRec(i.numTasks, m.executorCpuTime,
            m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execDesc.put(s.executionId, s.description)
          execStartMs.put(s.executionId, s.time)
          Tracer.InsertPath.findFirstMatchIn(s.physicalPlanDescription)
            .foreach(m => execOutput.put(s.executionId, m.group(1)))
        case e: SparkListenerSQLExecutionEnd =>
          execEndMs.put(e.executionId, e.time)
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def phase(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption
          .getOrElse(System.currentTimeMillis() - durationNs / 1000000L)
        qes.add(QeRec(start, phase("analysis"), phase("optimization"), phase("planning")))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Let the asynchronous listener bus deliver every event posted so far. */
  def drain(): Unit = if (traced) org.apache.spark.PerfbenchAccess.drainListeners(sc)

  /** Module a job belongs to, read from outside: the source file of its
    * final stage's call site; for SQL jobs whose final stage shows only an
    * async site (`... at CompletableFuture.java`), the call site recorded as
    * the SQL execution's description. A site inside the benchmark's own
    * files is the query being materialized: it is charged to `harnessAs`,
    * the module that defined the query. None = unattributed. */
  def moduleOf(j: JobRec, harnessAs: Option[String]): Option[String] = {
    def file(site: String): Option[String] =
      Tracer.SiteFile.findFirstMatchIn(site).map(_.group(1))
    val f =
      if (!j.site.contains(".scala") && j.execId >= 0)
        Option(execDesc.get(j.execId)).flatMap(file)
      else file(j.site)
    f.flatMap { name =>
      if (Tracer.HarnessFiles(name)) harnessAs else Some(name)
    }
  }

  def stageTotals(js: Iterable[JobRec]): StageRec = {
    val ss = js.flatMap(_.stageIds).toSeq.distinct.flatMap(i => Option(stages.get(i)))
    StageRec(ss.map(_.tasks).sum, ss.map(_.cpuNs).sum, ss.map(_.runMs).sum,
      ss.map(_.shuffleRead).sum, ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum)
  }

  /** Jobs submitted under `span` or any span below it. */
  def jobsUnder(spanIds: Set[Long]): Seq[JobRec] =
    jobs.values.asScala.filter(j => spanIds(j.spanId)).toSeq.sortBy(_.id)

  /** Spans and jobs as one JSON document (jobs become child spans of the
    * span that submitted them). */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    val t0 = spans.asScala.map(_.startMs).minOption.getOrElse(0L)
    val all = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      val a = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs - t0},"dur_ms":${Json.num(s.ms)},"attrs":{$a}}"""
    } ++ jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val st = stageTotals(Seq(j))
      s"""{"id":"job-${j.id}","parent":${j.spanId},"name":"job",""" +
        s""""start_ms":${j.startMs - t0},"dur_ms":${j.ms},"attrs":{"site":${Json.str(j.site)},""" +
        s""""exec_id":${j.execId},"batch_id":${j.batchId},"tasks":${st.tasks},""" +
        s""""cpu_ms":${st.cpuNs / 1000000L}}}"""
    }
    sb.append(all.mkString(",\n")).append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** The output path in a write's formatted plan: the first argument of
    * its `Execute InsertIntoHadoopFsRelationCommand` node details. */
  private val InsertPath =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.(?:scala|java)""".r
  val HarnessFiles: Set[String] =
    Set("Main", "Queries", "Ingest", "Trace", "WireGen", "Json")
}
