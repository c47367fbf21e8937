package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.GraftExtensions

/** Library entry point: a SparkSession preconfigured for the engine.
  *
  * Encapsulates every conf the correctness and performance posture depends
  * on, so adopters cannot miss one:
  *   - UTC session time (the reference's strftime-on-epoch is tz-naive UTC)
  *   - canonical (unchunked) base64 producers
  *   - nanos-parquet reads as long (Tables.load truncates to µs)
  *   - string partition tokens on read
  *   - AQE on (runtime coalesce/skew handling)
  *   - native expressions registered for SQL (cosine_similarity, …)
  */
object Graft {

  val confs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.chunkBase64String.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // Let AQE re-plan the partitioning of CACHED frames too (off by
    // default): iterative operators (connectedComponents) persist small
    // intermediate frames every round, and without this each round's cache
    // materializes at the full shuffle-partition count — task-scheduling
    // overhead dominates tiny iterations.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Auto range-join rewrite is per-query opt-in (q99 sets its width just
    // before building its plan); pinning 0 here means every Tables.load —
    // i.e. every other query's build — resets it, so the conf can never
    // leak across the surface.
    "spark.graft.rangeJoin.bucketWidth" -> "0",
    // Same opt-in discipline for the global-window rewrite (q173 enables
    // it just before building its plan; the next Tables.load resets it).
    "spark.graft.globalWindow.rewrite" -> "false",
    // ... and for the materialized-summary rewrite (q202).
    "spark.graft.summary.rewrite" -> "false",
    // q216 flips parquet onto the V2 reader to get footer-statistics
    // aggregate pushdown; pinning the defaults here means the next
    // Tables.load restores the V1 posture the rest of the surface is
    // planned (and PlanSpec-pinned) against.
    "spark.sql.parquet.aggregatePushdown" -> "false",
    "spark.sql.sources.useV1SourceList" ->
      "avro,csv,json,kafka,orc,parquet,text",
    // v2 catalog with row-level-operation tables: gives the session the
    // declarative MERGE INTO / UPDATE / DELETE verbs (q276, MergeSpec).
    // Registering by conf is idempotent — re-applying on every query entry
    // (ensureConfigured) never changes the value.
    "spark.sql.catalog.graft_cat" -> "graft.sources.MemoryRowCatalog",
    // read-only v2 catalog over the manifest-versioned stage zone: SQL
    // `VERSION AS OF` time travel (StageTimeTravelCatalog, round-10
    // verdict #5)
    "spark.sql.catalog.graft_stage" -> "graft.sources.StageTimeTravelCatalog")

  /** Builder with engine confs applied; caller picks master/shuffle size
    * (match partitions to cores on local mode, not the 200 default). */
  def sessionBuilder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  /** Build (or reuse) the session and register the SQL-facing native
    * expressions. */
  def session(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val spark = sessionBuilder(master, shufflePartitions).getOrCreate()
    configure(spark)
    spark
  }

  /** Apply runtime-settable confs + function registration to an existing
    * session (for driver-built sessions the builder path can't reach). */
  def configure(spark: SparkSession): SparkSession = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    GraftExtensions.register(spark)
    spark.conf.set(configuredMarker, "true")
    spark
  }

  private val configuredMarker = "graft.session.configured"

  /** Drop every session-lifetime memo of deterministic sub-results (pair
    * mine, KMeans/PQ fits, bigram LM — see [[SessionMemo]]). Bench calls
    * this between passes so each pass's per-query times include one honest
    * mine/fit per corpus — without it, pass 2 is memo-warm for every
    * memoized query and the min-over-passes accounting excludes the mine
    * entirely (round-16 verdict #3). Harness-only; no query path calls
    * this. */
  def clearSessionMemos(): Unit = SessionMemo.clear()

  /** Per-query-entry [[configure]]: Tables.load calls this, so a session
    * the DRIVER built itself — non-UTC timezone, MIME-chunked base64 —
    * still evaluates every query under the engine's confs. The confs are
    * RE-APPLIED on every call (a handful of map puts): a host that flips
    * one between queries must not silently change results. Only the
    * function registration hides behind the marker — it walks the registry
    * and is the only non-trivial part. */
  def ensureConfigured(spark: SparkSession): SparkSession = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    if (spark.conf.get(configuredMarker, "false") != "true") configure(spark)
    spark
  }
}
