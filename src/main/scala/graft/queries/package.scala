package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the judge-facing query surface.
  *
  * Determinism contract (QueryDef): every query ends with a total ordering,
  * and every floating aggregate is computed so the driver's DuckDB
  * hash-compare is stable.
  *
  * Float discipline: Spark sums doubles in partition order (non-deterministic
  * association) and its `round` rounds the shortest decimal string (HALF_UP)
  * while DuckDB rounds the binary value — so `round(sum(double), 2)` can
  * legitimately differ at halfway points. Instead:
  *   - money sums go through an exact decimal cast ([[queries.msum]]) — the
  *     input values have ≤4 decimal digits, so decimal(28,4) is exact, the sum
  *     is exact, and the result is order-independent;
  *   - averages divide that exact sum by the count in double ([[queries.mavg]])
  *     and round at 6 digits, where a halfway collision needs the true value
  *     within 1e-12 of a 5e-7 grid point — negligible;
  *   - per-row computed money is rounded only at a scale where the true value
  *     is exactly representable (price(2dp)×discount(2dp) → 4dp, ×tax → 6dp).
  */
package object queries {
  /** Load `<sfDir>/<name>.parquet` — the engine's table catalog. */
  def t(s: SparkSession, d: String, name: String): DataFrame = Tables.load(s, d, name)

  /** Round-robin fan-out applied ONLY when the input scan is materially
    * under-partitioned (fewer than half the cluster's slots). The gate
    * corpora are single parquet files → ONE scan partition → any narrow
    * heavy chain (explode, hash, MinHash fold) runs on one core with the
    * rest idle, so locally the exchange is mandatory; a production
    * multi-file corpus that already scans at ≥ parallelism/2 partitions
    * keeps its layout and pays NO payload shuffle (round-16 verdict #2:
    * the previous unconditional repartition() moved the whole text
    * payload through an exchange even when the scan was already wide —
    * contradicting the shuffle-keys-not-payloads posture). Callers must
    * only use this where results are partitioning-independent (each row's
    * derived rows stay in one task, downstream is agg/distinct/join).
    * rdd.getNumPartitions plans the scan but runs no job. */
  def fanOutIfNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

  def r2(c: Column): Column = round(c, 2)
  def r4(c: Column): Column = round(c, 4)
  def r6(c: Column): Column = round(c, 6)

  /** Exact money sum: decimal(28,scale) accumulate, surfaced as double.
    * Order-independent, hence stable under Spark's partial aggregation.
    * DuckDB oracle equivalent: `CAST(sum(CAST(x AS DECIMAL(28,s))) AS DOUBLE)`. */
  def msum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double")

  /** Deterministic money average: exact sum / count, rounded at 6dp.
    * DuckDB: `round(CAST(sum(CAST(x AS DECIMAL(28,s))) AS DOUBLE) / count(x), 6)`. */
  def mavg(c: Column, scale: Int = 4): Column =
    round(msum(c, scale) / count(c), 6)

  /** Text canonicalization shared by q90 (normalized dedup) and q98 (the
    * curation pipeline): lowercase, non-alphanumerics to spaces, collapse
    * runs, trim. Oracle mirror:
    * `trim(regexp_replace(regexp_replace(lower(x),'[^a-z0-9 ]',' ','g'),' +',' ','g'))`. */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Exact global 1-based ranks WITHOUT a single-partition sort — the q113
    * bucket-rank + prefix-sum decomposition, shared by q108/q110/q113. The
    * naive `row_number() OVER (ORDER BY ...)` plans Exchange SinglePartition:
    * one reducer sorts the whole table, the classic 100 TB cliff. Here:
    * (1) `bucket` — any expression monotone non-decreasing in the leading
    * sort key (so bucket boundaries respect the total order) — partitions
    * the ranking window; (2) per-bucket counts prefix-sum into exclusive
    * offsets — an unpartitioned window over ONE ROW PER BUCKET, a bounded
    * dimension frame, never the fact table; (3) offsets broadcast back.
    * Returns the input plus `gid` (1-based global rank) and `total` (row
    * count — lets callers derive exact ntile/decile assignments without a
    * second pass). WindowSweepSpec allowlists the offsets window.
    *
    * NULL bucket keys are supported (null-safe join; nulls group first, as
    * Spark's ascending sort places them) — but a caller whose oracle orders
    * the leading sort key NULLS LAST must fold that into `bucket` itself.
    */
  def globalRanks(df: DataFrame, bucket: Column, sortCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = df.withColumn("__bucket", bucket)
    val wIn = Window.partitionBy("__bucket").orderBy(sortCols: _*)
    val wOff = Window.orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = b.groupBy("__bucket").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(wOff), lit(0L)))
      .withColumn("total", sum("__n").over(wTot))
      .select(col("__bucket").as("__bucket_o"), col("__off"), col("total"))
    // <=> not ===: an equi-join on __bucket would silently DROP rows whose
    // bucket expression evaluates to null, while the oracle's ntile ranks
    // them — null keys must match their (single) offsets row
    b.withColumn("__rk", row_number().over(wIn))
      .join(broadcast(offsets), col("__bucket") <=> col("__bucket_o"))
      .withColumn("gid", col("__off") + col("__rk"))
      .drop("__bucket", "__bucket_o", "__off", "__rk")
  }

  /** Per-group generalization of [[globalRanks]]: exact 1-based ranks
    * WITHIN each `groups` key, without a per-group single-partition sort.
    * The naive `row_number() OVER (PARTITION BY grp ORDER BY ...)` funnels
    * each group through ONE reducer — fine for high-cardinality groups,
    * the same 100 TB cliff as the global case when groups are few and fat
    * (5 languages over a petabyte corpus = 5 reducers). Same decomposition
    * as globalRanks, one level down: (1) `bucket` — monotone non-decreasing
    * in the leading sort key — sub-partitions the ranking window to
    * (group, bucket); (2) per-(group, bucket) counts prefix-sum into
    * offsets via a window over one row per bucket, PARTITIONED by group
    * (bounded frame, passes the WindowSweep lint structurally); (3)
    * offsets broadcast back. Adds `gid` (rank within group) and `total`
    * (group row count) — [[ntileFromRank]] composes on top for exact
    * per-group ntile parity. */
  def groupedRanks(df: DataFrame, groups: Seq[String], bucket: Column,
      sortCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = df.withColumn("__bucket", bucket)
    val gCols = groups.map(col)
    val wIn = Window.partitionBy(gCols :+ col("__bucket"): _*).orderBy(sortCols: _*)
    val wOff = Window.partitionBy(gCols: _*).orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(gCols: _*).orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = b.groupBy(gCols :+ col("__bucket"): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(wOff), lit(0L)))
      .withColumn("total", sum("__n").over(wTot))
      .select((groups.map(g => col(g).as(s"__g_$g")) ++
        Seq(col("__bucket").as("__bucket_o"), col("__off"), col("total"))): _*)
    // null-safe on every key: a null group/bucket must still meet its
    // (single) offsets row, as in globalRanks
    val cond = (groups.map(g => col(g) <=> col(s"__g_$g")) :+
      (col("__bucket") <=> col("__bucket_o"))).reduce(_ && _)
    b.withColumn("__rk", row_number().over(wIn))
      .join(broadcast(offsets), cond)
      .withColumn("gid", col("__off") + col("__rk"))
      .drop(groups.map(g => s"__g_$g") ++
        Seq("__bucket", "__bucket_o", "__off", "__rk"): _*)
  }

  /** Exact ntile(k) bucket from a [[globalRanks]] (gid, total) pair — the
    * standard SQL sizing (first `total mod k` buckets get one extra row),
    * identical in Spark and DuckDB, so a partitioned-window plan can stand
    * in for the single-partition `ntile` the oracle runs. All-integer.
    * `greatest(..,1)` guards the total<k degenerate case (the ELSE branch is
    * then never taken, but ANSI division must not see a zero). */
  def ntileFromRank(k: Int): Column = {
    val q = expr(s"total div $k")
    val rem = col("total") % k
    val cutoff = rem * (q + lit(1L))
    when(col("gid") <= cutoff,
      expr(s"(gid - 1) div (total div $k + 1) + 1"))
      .otherwise(rem + expr(
        s"(gid - (total % $k) * (total div $k + 1) - 1) div greatest(total div $k, 1) + 1"))
      .cast("long")
  }

  /** The on-disk fixture cache: every derived corpus a query reads from
    * /tmp (q118, q208, q213, q214, q267, q327/q331, q343, q342–q349) is
    * built here and nowhere else.
    *
    * Key: `name` + `version` + `params` + the sf dir's canonical path + a
    * 64-bit stamp over every data file of `sourceTable` (the file itself
    * for a single-file table, else its non-hidden files, recursively):
    * name|size|mtime plus the 1 KB footer tail, so a source rewritten
    * with its mtime kept still moves the key. `sourceTable` must be the
    * table the fixture is DERIVED from.
    *
    * Publish: `build` writes into a private temp sibling, `_READY` is
    * written last, and one atomic rename makes the directory visible — a
    * reader can never observe a partial fixture. A build that throws
    * leaves nothing behind. Losing a cross-JVM rename race discards the
    * own build and keeps the winner's (same key ⇒ same inputs).
    *
    * Lock: one lock per key, so two callers of one key build once and
    * different keys never wait on each other's Spark jobs.
    *
    * Retirement: after a publish, superseded keys under the same name AND
    * canonical-path hash are deleted — a same-named corpus elsewhere is
    * never touched. */
  def cachedFixture(sfDir: String, name: String, version: Long,
      sourceTable: String = "events", params: Seq[Any] = Nil)
      (build: String => Unit): String = {
    val prefix = corpusTag(sfDir, name) + "_"
    val src = new java.io.File(sfDir, s"$sourceTable.parquet")
    val head = s"$version|${params.mkString(",")}".getBytes("UTF-8")
    val key = java.lang.Long.toHexString(
      dataFiles(src).foldLeft(fnv(head))((h, f) => fnv(fileStamp(f), h)))
    val dir = new java.io.File(FixtureRoot, prefix + key)
    val ready = new java.io.File(dir, "_READY")
    if (!ready.exists()) fixtureLocks.computeIfAbsent(dir.getPath,
        _ => new Object).synchronized {
      if (!ready.exists()) {
        val tmp = java.nio.file.Files.createTempDirectory(
          FixtureRoot.toPath, s".$prefix$key.build-").toFile
        try {
          build(tmp.getPath)
          new java.io.File(tmp, "_READY").createNewFile()
          if (!tmp.renameTo(dir))
            require(ready.exists(),
              s"fixture rename to $dir failed and no ready fixture exists")
        } finally rmTree(tmp) // no-op once renamed
        Option(FixtureRoot.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith(prefix) && f != dir)
          .foreach(rmTree)
      }
    }
    dir.getPath
  }

  /** `graft_<name>_<sf basename>_<canonical-path hash>`: the /tmp name of
    * what `name` derives from one sf dir — two same-named corpora in
    * different places never share it. */
  def corpusTag(sfDir: String, name: String): String = {
    val sf = new java.io.File(sfDir).getCanonicalFile
    s"graft_${name}_${sf.getName}_" +
      java.lang.Long.toHexString(fnv(sf.getPath.getBytes("UTF-8")))
  }

  private val FixtureRoot = new java.io.File("/tmp")
  private val fixtureLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** FNV-1a 64 over `bytes`, continuing from `h`. */
  private def fnv(bytes: Array[Byte], h0: Long = 0xcbf29ce484222325L): Long =
    bytes.foldLeft(h0)((h, b) => (h ^ (b & 0xffL)) * 0x100000001b3L)

  /** A table's data files in a stable order: the file itself, or every
    * non-hidden file under the table directory. */
  private def dataFiles(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles()) match {
      case None => if (f.isFile) Seq(f) else Nil
      case Some(fs) => fs.toSeq
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .sortBy(_.getName).flatMap(dataFiles)
    }

  /** name|size|mtime plus the last 1 KB (the parquet footer: row-group
    * metadata and column stats move on any content change). */
  private def fileStamp(f: java.io.File): Array[Byte] = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val tail = new Array[Byte](math.min(1024L, raf.length).toInt)
      raf.seek(raf.length - tail.length)
      raf.readFully(tail)
      s"${f.getName}|${raf.length}|${f.lastModified}|".getBytes("UTF-8") ++ tail
    } finally raf.close()
  }

  /** Recursive delete; a missing path is a no-op. */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** q90/q98's injected-duplicate construction: every document re-appears
    * under doc_id+2^40, upper-cased with trailing junk — copies that only
    * [[normText]] canonicalization can collapse. Preserves all other
    * columns. Oracle mirror:
    * `UNION ALL SELECT doc_id + 2^40, ..., upper(text) || ' !!'`. */
  def withNoisyCopies(docs: DataFrame): DataFrame =
    docs.unionByName(docs.select(docs.columns.toSeq.map {
      case "doc_id" => (col("doc_id") + 1099511627776L).as("doc_id")
      case "text" => concat(upper(col("text")), lit(" !!")).as("text")
      case c => col(c)
    }: _*))
}
