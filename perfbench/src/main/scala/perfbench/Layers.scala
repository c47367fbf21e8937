package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingIngest

/** Per-layer metrics of a traced run, read from the spans the workloads
  * record and the listener events the [[Tracer]] collects. Layers are named
  * after modules under `src/main/scala/graft/`; every workload reports every
  * metric, 0 where it does not exercise the layer. */
object Layers {
  /** Modules whose job counts are reported by name; the rest sum to
    * `other`. */
  val Modules: Seq[String] = Seq("Tables", "StreamingIngest", "GraphQueries",
    "SimilarityQueries", "MlQueries", "DedupQueries", "TokenizerQueries",
    "TrainingPrepQueries", "KMeans", "ProductQuantizer", "TextModels", "Pca", "other")

  /** (name, unit, better) of every per-layer metric. */
  val Spec: Seq[(String, String, String)] = Seq(
    ("push_server.ack_ms_p50", "ms", "lower"),
    ("push_server.ack_tail_ms", "ms", "lower"),
    ("push_server.non_2xx", "count", "lower"),
    ("push_server.spool_files", "count", "lower"),
    ("envelope_source.latest_offset_ms_p50", "ms", "lower"),
    ("envelope_source.get_batch_ms_p50", "ms", "lower"),
    ("envelope_source.rows_per_batch_p50", "count", "higher"),
    ("envelope_source.backlog_files_max", "count", "lower"),
    ("streaming_ingest.batches", "count", "lower"),
    ("streaming_ingest.trigger_ms_p50", "ms", "lower"),
    ("streaming_ingest.add_batch_ms_p50", "ms", "lower"),
    ("streaming_ingest.wal_commit_ms_p50", "ms", "lower"),
    ("streaming_ingest.jobs_per_batch", "count", "lower"),
    ("streaming_ingest.sink_ms.classify", "ms", "lower"),
    ("streaming_ingest.sink_ms.present", "ms", "lower"),
    ("streaming_ingest.sink_ms.raw", "ms", "lower"),
    ("streaming_ingest.sink_ms.error", "ms", "lower"),
    ("streaming_ingest.sink_ms.stage", "ms", "lower"),
    ("streaming_ingest.sink_ms.alerts", "ms", "lower"),
    ("streaming_ingest.files_written", "count", "lower"),
    ("ingest_transforms.cpu_ms_per_1k", "ms", "lower"),
    ("stage_table.read_ms_p50", "ms", "lower"),
    ("stage_table.files_listed", "count", "lower"),
    ("stage_table.listing_jobs", "count", "lower"),
    ("tables.load_calls", "count", "lower"),
    ("tables.load_ms_per_call", "ms", "lower"),
    ("tables.load_share", "ratio", "lower"),
    ("planning.analysis_ms", "ms", "lower"),
    ("planning.optimization_ms", "ms", "lower"),
    ("planning.planning_ms", "ms", "lower"),
    ("query_build.share", "ratio", "lower"),
    ("query_build.jobs", "count", "lower"),
    ("execution.jobs", "count", "lower"),
    ("execution.stages", "count", "lower"),
    ("execution.tasks", "count", "lower"),
    ("execution.executor_cpu_s", "s", "lower"),
    ("execution.executor_run_s", "s", "lower"),
    ("execution.shuffle_read_mb", "MB", "lower"),
    ("execution.shuffle_write_mb", "MB", "lower"),
    ("execution.spill_mb", "MB", "lower"),
    ("memo.repeat_jobs_ratio", "ratio", "lower"),
    ("generator.late_ms_p99", "ms", "lower"),
    ("attribution.unattributed_jobs_share", "ratio", "lower"),
    ("attribution.unattributed_cpu_share", "ratio", "lower"),
    ("trace.op_p50_ms", "ms", "lower"),
    ("trace.spans", "count", "lower")) ++
    Modules.map(m => (s"execution.jobs_by_module.$m", "count", "lower"))

  private val MB = 1024.0 * 1024.0

  /** Execution totals, per-module job counts and the unattributed shares
    * over `jobs`; `harnessAs` names the module a job materializing a query
    * from the benchmark's own files is charged to. */
  private def execution(ctx: Run, jobs: Seq[JobRec], harnessAs: JobRec => Option[String]): Unit = {
    val tr = ctx.tracer
    val st = tr.stageTotals(jobs)
    ctx.layer("execution.jobs", jobs.size.toDouble)
    ctx.layer("execution.stages", jobs.flatMap(_.stageIds).distinct
      .count(i => tr.stages.containsKey(i)).toDouble)
    ctx.layer("execution.tasks", st.tasks.toDouble)
    ctx.layer("execution.executor_cpu_s", st.cpuNs / 1e9)
    ctx.layer("execution.executor_run_s", st.runMs / 1e3)
    ctx.layer("execution.shuffle_read_mb", st.shuffleRead / MB)
    ctx.layer("execution.shuffle_write_mb", st.shuffleWrite / MB)
    ctx.layer("execution.spill_mb", st.spill / MB)
    val mod = jobs.map(j => j -> tr.moduleOf(j, harnessAs(j)))
    mod.groupBy { case (_, m) => m.map(x => if (Modules.contains(x)) x else "other") }
      .foreach { case (m, js) => m.foreach(x =>
        ctx.layer(s"execution.jobs_by_module.$x", js.size.toDouble)) }
    val un = mod.filter(_._2.isEmpty).map(_._1)
    ctx.layer("attribution.unattributed_jobs_share", un.size.toDouble / jobs.size.max(1))
    val unCpu = tr.stageTotals(un).cpuNs.toDouble
    ctx.layer("attribution.unattributed_cpu_share", if (st.cpuNs == 0) 0.0 else unCpu / st.cpuNs)
    ctx.layer("trace.spans", tr.spans.size.toDouble)
    ctx.note("attribution.unattributed_jobs", un.size.toDouble)
  }

  /** Job count of every module seen, named or not, for the run record. */
  private def moduleNotes(ctx: Run, jobs: Seq[JobRec], harnessAs: JobRec => Option[String]): Unit =
    jobs.flatMap(j => ctx.tracer.moduleOf(j, harnessAs(j))).groupBy(identity)
      .foreach { case (m, xs) => ctx.note(s"jobs_by_module_all.$m", xs.size.toDouble) }

  def queries(ctx: Run, out: Seq[Queries.Outcome]): Unit = {
    val tr = ctx.tracer
    tr.drain()
    val spans = tr.spans.asScala.toSeq
    val children = spans.groupBy(_.parent)
    val bySpan = spans.map(s => s.id -> s).toMap
    // Counts are read over each pinned query's first occurrence: one full
    // pass, the same work in every run whatever the seed's order.
    val firsts = out.filter(_.first)
    def ids(q: Long): Set[Long] = Set(q) ++ children.getOrElse(q, Nil).map(_.id)
    val rootOf: Map[Long, Long] = out.flatMap(o => ids(o.spanId).map(_ -> o.spanId)).toMap
    val moduleOfRoot = out.map(o => o.spanId -> o.module).toMap
    val firstIds = firsts.flatMap(o => ids(o.spanId)).toSet
    val jobs = tr.jobsUnder(firstIds)
    val harnessAs = (j: JobRec) => rootOf.get(j.spanId).flatMap(moduleOfRoot.get)
    execution(ctx, jobs, harnessAs)
    moduleNotes(ctx, jobs, harnessAs)

    val tables = jobs.filter(j => tr.moduleOf(j, None).contains("Tables"))
    val queryMs = firsts.map(_.ms).sum
    ctx.layer("tables.load_calls", tables.size.toDouble)
    ctx.layer("tables.load_ms_per_call",
      if (tables.isEmpty) 0.0 else tables.map(_.ms).sum.toDouble / tables.size)
    ctx.layer("tables.load_share", tables.map(_.ms).sum / queryMs.max(1e-9))

    val builds = firsts.flatMap(o => children.getOrElse(o.spanId, Nil).filter(_.name == "query.build"))
    ctx.layer("query_build.share", builds.map(_.ms).sum / queryMs.max(1e-9))
    ctx.layer("query_build.jobs", tr.jobsUnder(builds.map(_.id).toSet).size.toDouble)

    // Planning phases of every Dataset action inside a query, per query.
    val qes = tr.qes.asScala.toSeq
    val perQuery = firsts.map { o =>
      val s = bySpan(o.spanId)
      qes.filter(q => q.startMs >= s.startMs && q.startMs <= s.endMs)
    }
    ctx.layer("planning.analysis_ms", Json.median(perQuery.map(_.map(_.analysisMs).sum.toDouble)))
    ctx.layer("planning.optimization_ms", Json.median(perQuery.map(_.map(_.optimizationMs).sum.toDouble)))
    ctx.layer("planning.planning_ms", Json.median(perQuery.map(_.map(_.planningMs).sum.toDouble)))

    // Session memos: jobs of a repeated query over jobs of its first run.
    val firstJobs = firsts.map(o => o.name -> tr.jobsUnder(ids(o.spanId)).size).toMap
    val reps = out.filterNot(_.first)
    val repJobs = reps.map(o => tr.jobsUnder(ids(o.spanId)).size).sum
    val baseJobs = reps.map(o => firstJobs.getOrElse(o.name, 0)).sum
    ctx.layer("memo.repeat_jobs_ratio", if (baseJobs == 0) 0.0 else repJobs.toDouble / baseJobs)
    ctx.note("memo.repeats", reps.size.toDouble)
  }

  private def dataFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
          !p.toString.contains("_checkpoint")
      }.toLong
      finally s.close()
    }

  /** Per-batch sink costs from the SQL executions that ran inside the
    * micro-batches `batches`: writes are told apart by the output path in
    * their plan. */
  private def sinks(ctx: Run, batches: Set[Long], paths: StreamingIngest.Paths,
      rows: Long): Unit = {
    val tr = ctx.tracer
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => batches(j.batchId))
    val inBatch = jobs.filter(_.execId >= 0).groupBy(_.execId).toSeq.map { case (e, js) =>
      (js.head.batchId, e, js)
    }
    val nBatches = batches.size.max(1)
    // The only actions in a batch that write nothing are its first (the
    // class-presence aggregation) and the alerts emptiness check.
    val firstOfBatch = inBatch.groupBy(_._1).values.map(_.map(_._2).min).toSet
    def zone(e: Long): String = Option(tr.execOutput.get(e)).map { p =>
      if (p.contains("/raw/")) "raw" else if (p.contains("/error")) "error"
      else if (p.contains("/alerts")) "alerts" else if (p.contains("/stage")) "stage" else "other"
    }.getOrElse(if (firstOfBatch(e)) "present" else "alerts")
    def ms(e: Long): Double = (for {
      a <- Option(tr.execStartMs.get(e)); b <- Option(tr.execEndMs.get(e))
    } yield (b - a).toDouble).getOrElse(0.0)
    val byZone = inBatch.groupBy { case (_, e, _) => zone(e) }
    Seq("present", "raw", "error", "stage", "alerts").foreach { z =>
      ctx.layer(s"streaming_ingest.sink_ms.$z", byZone.getOrElse(z, Nil).map(x => ms(x._2)).sum / nBatches)
    }
    // Decode and classify run inside the first action of a batch (the
    // `present` aggregation fills the batch cache): its executor time.
    val pt = tr.stageTotals(byZone.getOrElse("present", Nil).flatMap(_._3))
    ctx.layer("streaming_ingest.sink_ms.classify", pt.runMs.toDouble / nBatches)
    ctx.layer("ingest_transforms.cpu_ms_per_1k", pt.cpuNs / 1e6 / rows.max(1) * 1000)
    ctx.layer("streaming_ingest.jobs_per_batch",
      Json.median(jobs.groupBy(_.batchId).values.map(_.size.toDouble).toSeq))
    ctx.layer("streaming_ingest.files_written", dataFiles(java.nio.file.Paths.get(paths.root)).toDouble)
  }

  /** `sent` holds (send, ack, due, HTTP code, step) of every POST; the
    * front door's ack figures and the generator's lateness are read over the
    * base step (step 0), whose schedule the front door keeps up with. */
  def push(ctx: Run, sent: Seq[(Long, Long, Long, Int, Int)], polls: Seq[(Double, Int)],
      paths: StreamingIngest.Paths, spool: Path): Unit = {
    val tr = ctx.tracer
    tr.drain()
    val base = sent.filter(_._5 == 0)
    ctx.layer("push_server.ack_ms_p50", Json.median(base.map { case (s, a, _, _, _) => (a - s) / 1e6 }))
    ctx.layer("push_server.ack_tail_ms", Json.tail(base.map { case (_, a, d, _, _) => (a - d) / 1e6 })._2)
    ctx.layer("push_server.non_2xx", sent.count { case (_, _, _, c, _) => c < 200 || c > 299 }.toDouble)
    ctx.layer("push_server.spool_files", dataFiles(spool).toDouble)
    ctx.layer("generator.late_ms_p99", Json.quantile(base.map { case (s, _, d, _, _) => (s - d) / 1e6 }, 0.99))

    // The listeners are registered before the stream starts; count from
    // the timed window on.
    val t0 = ctx.measureStartMs
    val prog = tr.progress.asScala.toSeq.map(_.progress).filter(p =>
      p.numInputRows > 0 && java.time.Instant.parse(p.timestamp).toEpochMilli >= t0)
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    ctx.layer("streaming_ingest.batches", prog.size.toDouble)
    ctx.layer("streaming_ingest.trigger_ms_p50", Json.median(dur("triggerExecution")))
    ctx.layer("streaming_ingest.add_batch_ms_p50", Json.median(dur("addBatch")))
    ctx.layer("streaming_ingest.wal_commit_ms_p50", Json.median(dur("walCommit")))
    ctx.layer("envelope_source.latest_offset_ms_p50", Json.median(dur("latestOffset")))
    ctx.layer("envelope_source.get_batch_ms_p50", Json.median(dur("getBatch")))
    ctx.layer("envelope_source.rows_per_batch_p50", Json.median(prog.map(_.numInputRows.toDouble)))
    // Backlog at each trigger: files acknowledged to a device by the
    // trigger's start and not yet admitted by an earlier batch.
    val acks = sent.filter { case (_, _, _, c, _) => c >= 200 && c <= 299 }
      .map { case (_, a, _, _, _) => tr.wallMs(a) }.sorted
    var admitted = 0L
    val backlog = prog.sortBy(_.batchId).map { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      val b = acks.count(_ <= t) - admitted
      admitted += p.numInputRows
      b.toDouble
    }
    ctx.layer("envelope_source.backlog_files_max", if (backlog.isEmpty) 0.0 else backlog.max)

    val jobs = tr.jobs.values.asScala.toSeq.filter(_.startMs >= t0)
    sinks(ctx, prog.map(_.batchId).toSet, paths, prog.map(_.numInputRows).sum)

    val pollSpans = tr.spansNamed("stage.poll")
    ctx.layer("stage_table.read_ms_p50", Json.median(pollSpans.map(_.ms)))
    ctx.layer("stage_table.files_listed", if (polls.isEmpty) 0.0 else polls.map(_._2).max.toDouble)
    val pollJobs = tr.jobsUnder(pollSpans.map(_.id).toSet)
    ctx.layer("stage_table.listing_jobs",
      pollJobs.count(j => tr.moduleOf(j, None).contains("StreamingIngest")).toDouble)
    // The reader's own collect is the stage-table read it polls.
    val pollIds = pollSpans.map(_.id).toSet
    val harnessAs = (j: JobRec) => if (pollIds(j.spanId)) Some("StreamingIngest") else None
    execution(ctx, jobs, harnessAs)
    moduleNotes(ctx, jobs, harnessAs)
  }
}
