package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall seconds over the full
  * judge-facing surface at SPARK_GRAFT_SF_DIR. Queries run in sorted name
  * order after a session warmup (codegen + file-index priming), so numbers
  * reflect the plans, not first-touch JVM costs. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.sessionBuilder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Graft.configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    // The inter-query unpersist loop below makes RDD.scala WARN ("block …
    // truncated and cannot be recomputed after unpersisting") once per
    // localCheckpointed block. The driver parses the LAST 2000 chars of
    // stdout — a WARN after the JSON line un-parses the whole round — so
    // drop that one logger to ERROR (round-6 verdict item #4).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.RDD", org.apache.logging.log4j.Level.ERROR)
    // Warmup (excluded from timings): prime codegen, shuffle machinery, and
    // the parquet footers/page cache of every table.
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }
    // Optional comma-separated name-prefix filter for local iteration
    // (e.g. SPARK_GRAFT_BENCH_FILTER=q97,q104); unset = full surface.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    // SPARK_GRAFT_BENCH_INGEST_ONLY=1: measure ONLY the ingest row (debug
    // aid — the resulting JSON carries ok=0 and must not be recorded)
    val ingestOnly = sys.env.get("SPARK_GRAFT_BENCH_INGEST_ONLY").contains("1")
    val selected = if (ingestOnly) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
        filter.forall(_.exists(n.startsWith))
      }
    // Drift resistance: single-pass numbers on this machine spread up to
    // 1.9× between idle and loaded states on UNCHANGED code (BASELINE.md's
    // round-4/5 evidence). Run the whole surface k times (full passes, not
    // per-query repeats, so cache state between queries matches a normal
    // run) and report the per-query MIN as the number of record — the min
    // over passes is the capable-machine figure; the mean captures the
    // drift that a single sample can't distinguish from a plan regression.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0)
      catch { case _: Throwable => "-1" }
    // Machine-state guard (round-10 verdict #1b, tightened round 13):
    // BENCH_r10 was measured at loadavg 37.67 under a leftover 29-core
    // oracle process and its numbers were garbage; BENCH_r12 then showed
    // the cpus/4=8 ceiling still admits a machine running ~7 busy threads
    // (per-query means 32% over mins, round-12 verdict #5). The start
    // ceiling is now cpus/16 (=2 at the driver's 32 — the repo's own idle
    // runs start <=2.2), and instead of immediately stamping a busy start
    // as contaminated, the bench WAITS for idle: loadavg is a 1-minute
    // EMA, so a just-finished sweep drains through the gate within a few
    // polls. If the budget (default 600 s, SPARK_GRAFT_BENCH_IDLE_WAIT_S)
    // expires still busy, the record carries load_ok:false and
    // BENCH_LOCAL.json is not overwritten — a loaded run must not become
    // the committed reference number.
    val idleCeiling = cpus.toInt / 16.0
    val idleWaitS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_IDLE_WAIT_S", "600").toLong
    val idleDeadline = System.nanoTime() + idleWaitS * 1000000000L
    var loadStart = loadavg()
    def busy(l: String): Boolean =
      try l.toDouble > idleCeiling catch { case _: Throwable => false }
    while (busy(loadStart) && System.nanoTime() < idleDeadline) {
      System.err.println(s"[bench] loadavg $loadStart > $idleCeiling — " +
        "waiting for the machine to drain before measuring")
      Thread.sleep(15000L)
      loadStart = loadavg()
    }
    val loadOk = !busy(loadStart)
    if (!loadOk)
      System.err.println(s"[bench] loadavg $loadStart exceeds $idleCeiling" +
        s" after ${idleWaitS}s of waiting — numbers are contaminated " +
        "(load_ok:false)")
    // Per-query forensics (round-13 verdict #6): BENCH_r13 carried one
    // query at 9.34 s on a gate-passing start while the same tree at idle
    // measures 2.64 s, and nothing in the record let a reader attribute
    // that without re-running. Each pass now also samples loadavg right
    // after the query; BENCH_LOCAL.json carries the per-pass times AND
    // the samples (query_passes / query_loads), and bench_diff.py marks
    // queries whose pass-to-pass spread exceeds 2x as machine-suspect.
    //
    // Per-query EXECUTOR TASK TIME (round-16 verdict #4): the driver's
    // core-scaling heuristic tripped on the remaining tails because wall
    // time alone can't distinguish "serial plan" from "latency-bound
    // sequential driver jobs". Sum of executorRunTime over the query's
    // window makes it legible: a latency-bound query shows task-secs ≪
    // wall × cores; a serial plan shows task-secs ≈ wall. Listener events
    // drain asynchronously (ms-scale lag), so attribution is forensic,
    // not exact — fine for a ratio read. Additions-only: stdout unchanged,
    // BENCH_LOCAL gains query_task_secs.
    val taskMillis = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) { taskMillis.addAndGet(m.executorRunTime); () }
        }
      })
    def runPass(): Seq[(String, Double, Double, Double)] = {
      // Session memos (pair mine, KMeans/PQ fits, bigram LM) are same-JVM
      // CSE and survive a pass boundary, so pass 2 would be memo-warm for
      // every memoized query and min-over-passes would exclude the mine
      // from the recorded numbers (round-16 verdict #3). Clear them so
      // each pass pays one honest mine/fit per corpus.
      Graft.clearSessionMemos()
      selected.map { case (name, fn) =>
        val tt0 = taskMillis.get()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch {
            case scala.util.control.NonFatal(e) =>
              val msg = Option(e.getMessage)
                .flatMap(_.linesIterator.nextOption()).getOrElse("")
              System.err.println(
                s"[bench] FAIL $name: ${e.getClass.getName}: $msg")
              false
          }
        // A throwing pass must NOT contribute its (fast-fail) elapsed time —
        // min over passes would otherwise report a crash as a speedup. NaN
        // marks the pass; min/mean below skip NaNs and emit -1 only when a
        // query failed in EVERY pass.
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
        // Queries are independent, but iterative ops (PageRank, CC, k-means)
        // leave persisted/localCheckpoint'd blocks behind by design (they are
        // the result's truncated lineage). Drop them between timings so block-
        // manager pressure from early queries doesn't tax later ones' shuffles.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        val load = try loadavg().toDouble catch { case _: Throwable => -1.0 }
        val taskSecs = (taskMillis.get() - tt0) / 1e3
        (name, dt, load, taskSecs)
      }
    }
    // Ingest-throughput row (round-7 verdict #3): records/s through the
    // full decode→classify→parse→flatten→geo→partition-key derivation —
    // the ETL half the reference actually implements — so the streaming
    // half is regression-gated by the driver, not prose in BASELINE.md.
    // The envelope corpus is persisted and counted OUTSIDE the timed
    // window (fixture construction isn't pipeline work); the timed job
    // drives the final plan via toRdd so every output column is actually
    // produced — a count() would let Catalyst prune the decode chain.
    // Measured BEFORE the query passes with ≥ 8 warmup-absorbing passes:
    // the decode chain C2-warms slowly (measured: 84k rec/s pass 1 →
    // ~420k by pass 8 at 32 threads), so a 2-pass min reports warmup, not
    // throughput. NOTE the number scales with SPARK_GRAFT_CPUS (~125k at
    // the local default of 4, ~420k at the driver's 32) — comparisons
    // against BENCH_r*/BASELINE must be at cpus=32, which is also how
    // BENCH_LOCAL is recorded. -1 on failure.
    val (ingestRps: Long, pipelineRps: Long) =
      if (filter.nonEmpty) (-1L, -1L) else try {
      val env = graft.queries.IngestParity.envelopeFromEvents(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nRec = env.count()
        val ingestPasses = passes.max(8)
        val secs = (1 to ingestPasses).map { i =>
          val stage = graft.ingest.IngestTransforms
            .sohToStage(env, graft.ingest.GeoDim.empty(spark))
          val t0 = System.nanoTime()
          stage.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
            .queryExecution.toRdd.count()
          val dt = (System.nanoTime() - t0) / 1e9
          // stderr only — the driver parses stdout's tail
          System.err.println(f"[bench-ingest] pass $i: $dt%.3f s")
          dt
        }.min
        // Full-pipeline micro-batch throughput (round-10 verdict #7):
        // ONE complete writeBatch — classify + decode + flatten + geo +
        // alerts + the FIVE parquet sinks (stage/raw-soh/raw-sensor/
        // raw-unknown/errors) + the manifest-visible stage layout — i.e.
        // the exact foreachBatch body StreamingIngest.start runs per
        // trigger, timed end to end including the disk writes the
        // decode-only ingest_rps row excludes. 3 passes to fresh temp
        // dirs (writes can't be cached), min = the capable-machine
        // figure; the decode chain is already C2-warm from the passes
        // above, so 3 is enough here.
        val pipeSecs = (1 to 3).map { i =>
          val dir = java.nio.file.Files
            .createTempDirectory("graft-bench-pipe").toString
          val t0 = System.nanoTime()
          graft.streaming.StreamingIngest.writeBatch(env,
            graft.ingest.GeoDim.empty(spark),
            graft.streaming.StreamingIngest.Paths(dir), i.toLong)
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench-pipeline] pass $i: $dt%.3f s")
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(); ()
          }
          rm(new java.io.File(dir))
          dt
        }.min
        ((nRec / secs).toLong, (nRec / pipeSecs).toLong)
      } finally env.unpersist(blocking = false)
    } catch { case _: Throwable => (-1L, -1L) }
    // Regression floor (round-9 verdict #6): the ≥8-pass warm-up envelope
    // absorbs C2-compilation variance, so a decode-chain regression could
    // hide inside it. 250k rec/s at cpus=32 is ~30% under the worst
    // recorded warm measurement (358k, BASELINE.md protocol note); scale
    // linearly for other cpu counts with 2x slack (local default is 4).
    val ingestFloor = (250000.0 * cpus.toInt / 32.0 *
      (if (cpus.toInt >= 32) 1.0 else 0.5)).toLong
    val ingestOk = ingestRps < 0 || ingestRps >= ingestFloor
    if (!ingestOk)
      System.err.println(s"[bench-ingest] REGRESSION: ingest_rps=$ingestRps" +
        s" below floor $ingestFloor at cpus=$cpus")
    // Conservative full-pipeline floor: measured ~10.3k rec/s at
    // sf0.1/cpus=32 (100k-record batch through all five sinks + dynamic
    // partition overwrite commits — ~8 sequential write jobs dominate,
    // not decode). 4k is ~2.5x slack for write-path variance, scaled
    // like the ingest floor.
    val pipelineFloor = (4000.0 * cpus.toInt / 32.0 *
      (if (cpus.toInt >= 32) 1.0 else 0.5)).toLong
    val pipelineOk = pipelineRps < 0 || pipelineRps >= pipelineFloor
    if (!pipelineOk)
      System.err.println(s"[bench-pipeline] REGRESSION: pipeline_rps=" +
        s"$pipelineRps below floor $pipelineFloor at cpus=$cpus")
    val allPasses = (1 to passes).map(_ => runPass())
    val loadEnd = loadavg()
    // End-of-run contamination gate (round-11 ADVICE): a load spike that
    // BEGINS mid-run passed the start gate but still poisons the numbers.
    // The bench's own 32 worker threads legitimately push the 1-minute
    // loadavg toward `cpus` by the end, so the end threshold is cpus*1.5 —
    // above anything this process alone can sustain, below the start-gate
    // failure mode (an external 29-core oracle drove loadavg to 37+ on top
    // of the bench, round-10 evidence).
    val loadEndOk =
      try loadEnd.toDouble <= cpus.toInt * 1.5 catch { case _: Throwable => true }
    if (!loadEndOk)
      System.err.println(s"[bench] loadavg $loadEnd at END exceeds " +
        s"${cpus.toInt * 1.5} — a mid-run load spike contaminated the " +
        "numbers (load_ok:false)")
    val loadAllOk = loadOk && loadEndOk
    def okTimes(i: Int): Seq[Double] =
      allPasses.map(p => p(i)._2).filterNot(_.isNaN)
    def passTimes(i: Int): Seq[Double] = allPasses.map(p => p(i)._2)
    def passLoads(i: Int): Seq[Double] = allPasses.map(p => p(i)._3)
    // task-secs paired with the pass that achieved the min wall time, so
    // the (wall, task) pair reads as one measurement
    def minPassTaskSecs(i: Int): Double = {
      val ps = allPasses.map(p => (p(i)._2, p(i)._4)).filterNot(_._1.isNaN)
      if (ps.isEmpty) -1.0 else ps.minBy(_._1)._2
    }
    val results = selected.map(_._1).zipWithIndex.map { case (name, i) =>
      val ts = okTimes(i); name -> (if (ts.isEmpty) -1.0 else ts.min)
    }
    val means = selected.map(_._1).zipWithIndex.map { case (name, i) =>
      val ts = okTimes(i); name -> (if (ts.isEmpty) -1.0 else ts.sum / ts.size)
    }
    // Keep the line SHORT: the driver captures only the LAST 2000 chars of
    // stdout (measured from BENCH_r01.json's tail field), and sbt appends a
    // ~55-char [success] line after ours. Round 1's unrounded doubles
    // pushed the line past the window — the JSON never parsed
    // (parsed:null). Defenses: qNN-prefix keys (the contract's own example
    // uses "q1") and TWO-decimal per-query seconds — at 144 queries the
    // 3-decimal form hit ~1915 of the 2000-char window; 2dp (~1770 chars)
    // buys ~15 more queries of headroom, and 10 ms granularity is below
    // this machine's ±25% run-to-run noise anyway.
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def qmap(rs: Seq[(String, Double)]): String = rs.map { case (k, v) =>
      s"\"" + k.takeWhile(_ != '_') + "\":" + f2(v)
    }.mkString("{", ",", "}")
    // Stdout gets a COMPACT per-query map: the full 239-entry map grew past
    // the driver's 2000-char stdout tail, truncating the FRONT of the line
    // — BENCH_r08.json came back parsed:null (round-8 verdict #2). The
    // stdout map now carries only the slowest `StdoutTopK` queries (failed
    // ones, at -1, always included — a crash must stay driver-visible);
    // the full map + means live in BENCH_LOCAL.json, which has no window.
    val StdoutTopK = 20
    val stdoutQs = {
      val failed = results.filter(_._2 < 0)
      val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(StdoutTopK)
      qmap((failed ++ slowest).sortBy(_._1))
    }
    val qs = qmap(results)
    // totals sum the succeeded queries only; a -1.0 stays visible per-query
    // in the map but must not subtract from the headline
    val total = results.map(_._2).filter(_ >= 0).sum
    val meanTotal = means.map(_._2).filter(_ >= 0).sum
    // Explicit success/failure counts (round-6 ADVICE): a total over fewer
    // queries is NOT comparable to a full-coverage total — "ok"/"fail" let
    // any reader of the JSON see coverage before comparing headline numbers.
    val nFail = results.count(_._2 < 0)
    val nOk = results.size - nFail
    // `value`/`queries` are per-query MIN over the k passes; mean_total and
    // loadavg let the reader judge machine state without per-query means
    // (those live in BENCH_LOCAL.json — stdout must stay under the driver's
    // 2000-char tail window, see comment above).
    val line = s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":$stdoutQs,"sf":"$sfDir","passes":$passes,"ok":$nOk,"fail":$nFail,"mean_total":${f2(meanTotal)},"ingest_rps":$ingestRps,"ingest_ok":$ingestOk,"pipeline_rps":$pipelineRps,"pipeline_ok":$pipelineOk,"load_ok":$loadAllOk,"load":"$loadStart;$loadEnd"}"""
    // Belt and braces for the driver's tail parser: persist to a well-known
    // file (build.sbt strips the [info] prefix and [success] banner so the
    // println IS the last stdout line, but a file can't lose). The file gets
    // the EXTENDED record (per-query mean too — no length limit there).
    // Filtered local-iteration runs must NOT clobber the full-surface
    // mirror with a partial record, and a run with ANY failures must not
    // clobber it either (its total is incomparable) unless forced.
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    // ingest-only debug runs carry no query coverage — never record them
    if (filter.isEmpty && !ingestOnly && ((nFail == 0 && loadAllOk) || force)) {
      // per-pass arrays (NaN -> -1) + per-pass loadavg samples: the
      // forensic record that lets a reader attribute an outlier to
      // machine state without re-running (no stdout-window pressure here)
      def arr(vs: Seq[Double]): String =
        vs.map(v => f2(if (v.isNaN) -1.0 else v)).mkString("[", ",", "]")
      def qarr(get: Int => Seq[Double]): String =
        selected.map(_._1).zipWithIndex.map { case (name, i) =>
          s"\"" + name.takeWhile(_ != '_') + "\":" + arr(get(i))
        }.mkString("{", ",", "}")
      val taskSecs = selected.map(_._1).zipWithIndex.map { case (name, i) =>
        name -> minPassTaskSecs(i)
      }
      val fileLine = s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","passes":$passes,"ok":$nOk,"fail":$nFail,"mean_total":${f2(meanTotal)},"ingest_rps":$ingestRps,"pipeline_rps":$pipelineRps,"load_ok":$loadAllOk,"query_means":${qmap(means)},"query_passes":${qarr(passTimes)},"query_loads":${qarr(passLoads)},"query_task_secs":${qmap(taskSecs)},"load":"$loadStart;$loadEnd"}"""
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (fileLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () }
    } else if (filter.isEmpty && !ingestOnly) {
      val why = if (nFail > 0) s"$nFail queries failed"
        else if (!loadOk) s"start loadavg $loadStart too high"
        else s"end loadavg $loadEnd too high (mid-run spike)"
      System.err.println(s"[bench] $why — NOT overwriting " +
        "BENCH_LOCAL.json (set SPARK_GRAFT_BENCH_FORCE=1 to force)")
    }
    println(line)
    spark.stop()
  }
}
