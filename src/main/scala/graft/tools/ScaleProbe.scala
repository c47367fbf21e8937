package graft.tools

import org.apache.spark.sql.functions._

/** Scale rehearsal (round-7 verdict #4): time the heaviest dedup/ANN/graph
  * queries at sf0.1 and at a synthesized 10× corpus, and report each
  * query's scaling exponent e = log10(t_10x / t_1x) — e ≈ 1 is linear,
  * anything approaching 2 means a quadratic plan survived.
  *
  * The 10× corpus lives under /tmp and derives from the driver's sf0.1
  * tables: documents and embeddings are unioned 10× with offset ids and a
  * DISTINCT per-copy perturbation (a unique suffix token / a deterministic
  * first-component nudge) — verbatim replication would hand the dedup
  * queries a corpus where EVERY doc has 10 exact copies, which measures
  * cluster handling, not scaling. The remaining tables symlink to sf0.1.
  * This is a perf probe only — correctness stays gated on the driver's own
  * testdata.
  *
  * sbt "runMain graft.tools.ScaleProbe" (env SPARK_GRAFT_CPUS to size) */
object ScaleProbe {

  /** Probe-list derivation (round-9 verdict #4): every query whose
    * BENCH_LOCAL.json per-query MIN exceeds this many seconds gets a
    * scaling exponent by construction — a future heavy query can no
    * longer ship unprobed because a hand-picked array wasn't updated. */
  val HeavyThresholdSec = 1.5

  /** Named watch set probed REGARDLESS of current bench time: the
    * TPC-H-shape heavies and the fact-fact bucketed join whose plans the
    * round-9 verdict called out as never-probed — cheap today, but their
    * cost model (correlated-subquery decorrelation, zero-exchange join)
    * is exactly what a scale-up would stress first. */
  val AlwaysProbe = Seq("q247", "q249", "q253", "q267")

  /** BENCH_LOCAL-derived probe list: bench prefixes (the stdout map keys
    * are qNN prefixes) over the threshold, plus the watch set, resolved
    * to full registered names. Falls back to the legacy hand-picked
    * [[Heavy]] only when BENCH_LOCAL.json is absent/unparseable. */
  def probeList(): Seq[String] = {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    def resolve(prefix: String): Option[String] =
      names.find(n => n == prefix || n.startsWith(prefix + "_"))
    val fromBench =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_LOCAL.json")), "UTF-8")
        // slice EXACTLY the queries map — the same line later carries
        // query_means, whose entries must not leak into the min-based rule
        val from = txt.indexOf("\"queries\":{")
        val qpart = txt.substring(from, txt.indexOf("}", from) + 1)
        val entry = """"(q\d+)":([0-9.]+)""".r
        val hits = entry.findAllMatchIn(qpart).toSeq
          .filter(m => m.group(2).toDouble > HeavyThresholdSec)
          .map(_.group(1))
        if (hits.isEmpty) None else Some(hits)
      } catch { case _: Throwable => None }
    // SPARK_GRAFT_PROBE_EXTRA=q334,q337: ad-hoc additions for queries
    // below the bench threshold whose scaling still warrants a measured
    // exponent (e.g. a fresh operator the round wants documented)
    val extra = sys.env.get("SPARK_GRAFT_PROBE_EXTRA")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // SPARK_GRAFT_PROBE_ONLY=q333,q337: probe EXACTLY these (re-measuring
    // a targeted fix without paying for the whole heavy fleet)
    sys.env.get("SPARK_GRAFT_PROBE_ONLY").foreach { only =>
      return only.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        .flatMap(resolve(_)).distinct.sorted
    }
    // distinct AFTER resolve: a full name in extra and its qNN prefix in
    // the bench list resolve to the same query and must probe once
    fromBench match {
      case Some(prefixes) =>
        (prefixes ++ AlwaysProbe ++ extra).flatMap(resolve(_)).distinct.sorted
      case None => (Heavy ++ extra.flatMap(resolve(_))).distinct.sorted
    }
  }

  val Heavy = Seq("q156_fuzzy_dedup_pipeline", "q158_ivfpq_ann", "q117_pq_ann",
    "q93_semantic_dedup", "q100_graph_rank", "q78_dedup_clusters",
    // round-8 additions: substring-run dedup, LM terciles, winnowing,
    // aHash banding, JSD pair frame, RRF fusion
    "q162_substring_dedup", "q166_perplexity_buckets", "q168_winnowing",
    "q170_phash_neardup", "q167_js_divergence", "q163_rrf_fusion",
    // round-8 late additions: gram-partitioned first-seen window,
    // per-source quintile pacing, CMS build, coarse-to-fine rerank
    "q176_novelty_curve", "q177_curriculum_pacing", "q175_cms_heavy_hitters",
    "q174_matryoshka_rerank",
    // round-8 continuation: BPE decode roundtrip (token pipeline), MAD
    // robust profile (two grouped medians), and the two vocabulary-bounded
    // ops (JW pair frame, wordpiece mask DP) whose cost must stay FLAT as
    // the corpus grows — the probe verifies the vocabulary bound holds
    "q184_bpe_roundtrip", "q197_mad_outliers", "q191_jaro_winkler",
    "q198_wordpiece_dp",
    // BFS rides the same ngramPairs graph as q102/q144 — the probe pins
    // that its cost is the banded pair construction (linear-ish), not the
    // relaxation rounds
    "q231_bfs_distances",
    // round-9 additions: ICWS weighted minhash (vocabulary-bounded param
    // hash + corpus-frame arithmetic), temporal reachability (3 relaxation
    // joins), greedy max-coverage (5 anti-join rounds), unigram-LM EM
    // (vocab-bounded DP — its cost must stay FLAT), KLL sketch rollup
    "q250_icws_minhash", "q244_temporal_reach", "q256_greedy_coverage",
    "q252_unigram_lm_em", "q242_kll_quantiles")

  /** Build a REAL sf1 corpus (round-8 verdict #6): documents/embeddings
    * GENERATED fresh at 10× the sf0.1 row counts with the same marginal
    * distributions as the driver's generator (measured from sf0.1: 31-word
    * uniform vocabulary, 10–100 words/doc, lang mix en 40% / 4×15%, 20
    * sources, unit-norm 64-d embeddings with 10 labels) — not replicated
    * copies, so near-dup/ANN candidate structure scales the way organic
    * data does. Fully distributed + deterministic: every random draw is
    * xxhash64(id, counter) mapped to a uniform, so the corpus is
    * reproducible without any driver-side RNG state. */
  private def buildRealSf1(spark: org.apache.spark.sql.SparkSession,
      dir: String, cpus: Int, mult: Int = 1, zipf: Boolean = false): Unit = {
    val d = new java.io.File(dir)
    // V2: events are now GENERATED too (q242/q244 probe rows would read
    // the symlinked sf0.1 events and measure nothing otherwise). A V1 dir
    // is rebuilt from scratch; _SUCCESS_SCALE is still written so the
    // synthesized-corpus builder in main() never overwrites a real dir.
    // `mult` scales the generated row counts RELATIVE TO SF1 (round-12
    // verdict #3: the 100× claim rested on sf0.1→sf1 exponents alone;
    // mult=10 builds the real-sf10 slice — documents/embeddings/events,
    // the tables every heavy query touches — for a second decade of
    // measured exponents).
    //
    // `zipf` (round-13 verdict #5): the 31-word uniform vocabulary is the
    // driver generator's marginal, but it DENSIFIES word-graph queries —
    // organic co-occurrence pairs grow ~137× for 10× docs (measured), so
    // the graph fleet's sf10 exponents measured the corpus, not the
    // operators. Zipf mode instead draws tokens from a FIXED, effectively
    // unbounded rank universe (V = 10^7 ≫ any draw count; Zipf(s=1)
    // frequencies via the inverse-CDF map r = ⌊V^u⌋, p(r) ∝ 1/r), which
    // yields Heaps-law vocabulary growth and a hapax tail the way real
    // corpora do — see zipfWord below for why the earlier grows-with-mult
    // V = 16000·√mult design was measured and REJECTED; everything else
    // (doc lengths, langs, sources, embeddings, events) is unchanged.
    if (new java.io.File(d, "_SUCCESS_SCALE_V3").exists()) return
    if (d.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(d)
    }
    d.mkdirs()
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "dup", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    // u(id, k) ∈ [0,1): deterministic uniform from the codegen'd xxhash64
    def u(k: Int): org.apache.spark.sql.Column =
      pmod(xxhash64(col("id"), lit(k)), lit(1000000007L)).cast("double") /
        1000000007.0 // divide by the modulus so u ∈ [0,1), not [0,1.0000000007]
    val vocabArr = array(vocab.map(lit): _*)
    // Zipf word draw: u = uniform(0,1) per position, rank = ⌊V^u⌋ ∈ [1,V]
    // (inverse CDF of p(r) ∝ 1/r). Two modeling lessons are baked in,
    // both found by measuring candidate growth on earlier
    // cuts: (1) token RENDERING — "w<rank>" tokens share numeric trigrams
    // ("142" ∈ w142, w1423, w2142 …), collapsing the char-3-gram space to
    // ~10³ all-high-df grams; tokens are instead 6-letter pseudo-words
    // hashed FROM the rank (26⁶ ≈ 3·10⁸ space), so distinct tokens have
    // unrelated trigrams. (2) the rank UNIVERSE must be effectively
    // UNBOUNDED (V = 10⁷ ≫ any draw count here): a V that merely grows
    // with mult (16000·√mult) keeps every type's count growing ~linearly
    // in n — no hapax tail — so every gram's df grows with n and NO exact
    // candidate filter can beat n² (measured: candidates grew 100.6× for
    // 10× docs). Real corpora keep minting new rare words; unbounded
    // Zipf reproduces that (ranks past N/ln V are mostly hapax) and gives
    // Heaps-law vocabulary growth for free.
    val zipfV = 10000000L
    def zipfWord(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val rank = least(lit(zipfV), greatest(lit(1L),
        pow(lit(zipfV.toDouble),
          pmod(xxhash64(col("id"), i, lit(7)), lit(1000000007L))
            .cast("double") / 1000000007.0).cast("long")))
      val h = pmod(xxhash64(lit("tok"), rank), lit(308915776L)) // 26^6
      concat((0 until 6).map { p =>
        val letter = pmod(floor(h / math.pow(26.0, p).toLong), lit(26L))
        chr(letter + 97)
      }: _*)
    }
    val docs = spark.range(0, 50000L * mult, 1, cpus)
      .withColumn("n_words", (u(0) * 91).cast("int") + 10)
      .withColumn("text", array_join(
        transform(sequence(lit(1), col("n_words")),
          i =>
            if (zipf) zipfWord(i)
            else element_at(vocabArr,
              pmod(xxhash64(col("id"), i), lit(vocab.size.toLong)).cast("int") + 1)),
        " "))
      .withColumn("lang",
        when(u(1) < 0.40, "en").when(u(1) < 0.55, "zh")
          .when(u(1) < 0.70, "es").when(u(1) < 0.85, "fr").otherwise("de"))
      .withColumn("source",
        concat(lit("src"), pmod(xxhash64(col("id"), lit(2)), lit(20L)).cast("string")))
      .select(col("id").as("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // unit-norm 64-d gaussians via Box-Muller over paired uniforms; the
    // epsilon floor keeps log() finite. Divide by the MODULUS (not 1e9):
    // a uniform marginally above 1 makes log(u) > 0 and the sqrt NaN.
    val gauss = transform(sequence(lit(0), lit(63)), i =>
      (sqrt(lit(-2.0) * log(
        greatest(pmod(xxhash64(col("id"), i * 2 + 10), lit(1000000007L))
          .cast("double") / 1000000007.0, lit(1e-12)))) *
        cos(lit(2.0 * math.Pi) *
          pmod(xxhash64(col("id"), i * 2 + 11), lit(1000000007L))
            .cast("double") / 1000000007.0)).cast("float"))
    val emb = spark.range(0, 20000L * mult, 1, cpus)
      .withColumn("raw", gauss)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x.cast("double") / col("norm")).cast("float"))
          .as("embedding"),
        pmod(xxhash64(col("id"), lit(99)), lit(10L)).cast("int").as("label"))
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // events at 10× too (1M rows), same marginals as the sf0.1 table:
    // 30-day microsecond timestamps, 10× the user population, uniform k
    // channel 0–99, exponential(mean 50) value rounded to cents
    val events = spark.range(0, 1000000L * mult, 1, cpus)
      .select(col("id").as("event_id"),
        timestamp_micros((lit(1704067200L) * 1000000L +
          (u(20) * 30.0 * 86400.0 * 1e6).cast("long")).cast("long")).as("ts"),
        pmod(xxhash64(col("id"), lit(21)), lit(15000L * mult)).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase"),
          lit("signup"), lit("error")),
          pmod(xxhash64(col("id"), lit(22)), lit(5L)).cast("int") + 1)
          .as("event_type"),
        round(lit(-50.0) * log(greatest(u(23), lit(1e-12))), 2).as("value"),
        concat(lit("{\"k\": "),
          pmod(xxhash64(col("id"), lit(24)), lit(100L)).cast("string"),
          lit("}")).as("props"))
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    for (n <- graft.Tables.names
         if n != "documents" && n != "embeddings" && n != "events") {
      val link = java.nio.file.Paths.get(s"$dir/$n.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"/root/testdata/sf0.1/$n.parquet"))
    }
    new java.io.File(d, "_SUCCESS_SCALE").createNewFile()
    new java.io.File(d, "_SUCCESS_SCALE_V3").createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    // arg2 "real" switches the 10× corpus from replicated-perturbed to
    // freshly GENERATED (see buildRealSf1)
    val realMode = args.length > 1 && args(1) == "real"
    // "real10": measure the SECOND decade — base becomes the real-sf1
    // corpus and the big side a freshly generated real-sf10 (both built
    // here if absent), so exponents cover sf1→sf10 instead of sf0.1→sf1
    val real10Mode = args.length > 1 && args(1) == "real10"
    // "zipf10": real10 with the Heaps/Zipf vocabulary (round-13 verdict
    // #5) — the corpus the word-GRAPH fleet's exponents must be read on,
    // since the fixed 31-word vocabulary densifies organic pairs ~137×
    // per decade and measures the corpus, not the operator
    val zipf10Mode = args.length > 1 && args(1) == "zipf10"
    // "real100"/"zipf100": the THIRD decade (round-14 verdict #1) —
    // base becomes the sf10 corpus and the big side a freshly generated
    // sf100 (5M docs), so exponents cover sf10→sf100; every earlier
    // decade found a real failure family (LSH band saturation, fixed-k
    // SemDeDup, the miner quadratic/mis-pick), so the claim "would
    // survive 100×" gets measured one decade further out
    val real100Mode = args.length > 1 && args(1) == "real100"
    val zipf100Mode = args.length > 1 && args(1) == "zipf100"
    val big =
      if (zipf100Mode) "/tmp/graft-sf100-zipf"
      else if (real100Mode) "/tmp/graft-sf100-real"
      else if (zipf10Mode) "/tmp/graft-sf10-zipf"
      else if (real10Mode) "/tmp/graft-sf10-real"
      else if (realMode) "/tmp/graft-sf1-real"
      else "/tmp/graft-sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.sessionBuilder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    graft.Graft.configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    if (realMode) buildRealSf1(spark, big, cpus.toInt)
    val base0 =
      if (zipf100Mode) "/tmp/graft-sf10-zipf"
      else if (real100Mode) "/tmp/graft-sf10-real"
      else if (zipf10Mode) "/tmp/graft-sf1-zipf"
      else if (real10Mode) "/tmp/graft-sf1-real"
      else base
    if (real10Mode) {
      buildRealSf1(spark, base0, cpus.toInt)
      buildRealSf1(spark, big, cpus.toInt, mult = 10)
    }
    if (zipf10Mode) {
      buildRealSf1(spark, base0, cpus.toInt, zipf = true)
      buildRealSf1(spark, big, cpus.toInt, mult = 10, zipf = true)
    }
    if (real100Mode) {
      buildRealSf1(spark, base0, cpus.toInt, mult = 10)
      buildRealSf1(spark, big, cpus.toInt, mult = 100)
    }
    if (zipf100Mode) {
      buildRealSf1(spark, base0, cpus.toInt, mult = 10, zipf = true)
      buildRealSf1(spark, big, cpus.toInt, mult = 100, zipf = true)
    }

    val bigDir = new java.io.File(big)
    if (!new java.io.File(bigDir, "_SUCCESS_SCALE").exists()) {
      bigDir.mkdirs()
      val docs = graft.Tables.documents(spark, base)
      val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
      (0 until 10).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
          .withColumn("text",
            when(lit(i) === 0, col("text"))
              .otherwise(concat(col("text"), lit(s" variant$i"))))
      }.reduce(_ unionByName _)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$big/documents.parquet")
      val emb = graft.Tables.embeddings(spark, base)
      val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
      (0 until 10).map { i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else transform(col("embedding"),
              (v, p) => (v + lit(i * 0.003f) * cos(p.cast("double") * i)
                .cast("float")).cast("float")))
      }.reduce(_ unionByName _)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
      for (n <- graft.Tables.names if n != "documents" && n != "embeddings") {
        val link = java.nio.file.Paths.get(s"$big/$n.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link,
            java.nio.file.Paths.get(s"$base/$n.parquet"))
      }
      new java.io.File(bigDir, "_SUCCESS_SCALE").createNewFile()
    }

    // "gen" (arg 3): build the corpus and exit — scripts/check_scale.sh
    // uses this to prepare the sf1 ORACLE sweep without paying for the
    // timing probe in the same process
    if (args.length > 2 && args(2) == "gen") {
      println(s"[scale] corpus ready at $big")
      spark.stop()
      return
    }

    def time(q: String, dir: String): Double = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // let the ContextCleaner reap dead shuffle files before the next
      // query: at sf100 a single heavy query spills tens of GB, and
      // accumulated spill from earlier probes in the same JVM filled
      // /tmp (measured: the first zipf100 run died ENOSPC with 71 GB
      // free after cleanup — the space was all dead shuffle files)
      System.gc()
      Thread.sleep(2000)
      // every timed run pays its own fits and mines: a memo warmed by the
      // previous run of the same query would time a hit at one scale and
      // a fit at the other
      graft.Graft.clearSessionMemos()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val probes = probeList()
    println(s"[scale] probing ${probes.size} queries " +
      s"(BENCH_LOCAL min > $HeavyThresholdSec s + watch set)")
    // warmup pass at the small sf primes codegen per query shape
    probes.foreach(q => time(q, base0))
    val baseLabel =
      if (real100Mode || zipf100Mode) "t(sf10)"
      else if (real10Mode || zipf10Mode) "t(sf1)" else "t(sf0.1)"
    println(f"[scale] ${"query"}%-28s  $baseLabel%8s  t(10x)   exponent")
    probes.foreach { q =>
      val t1 = time(q, base0)
      val t10 = time(q, big)
      val e = math.log10(t10 / t1)
      println(f"[scale] $q%-28s  $t1%8.2f  $t10%7.2f  $e%7.2f")
    }
    spark.stop()
  }
}
