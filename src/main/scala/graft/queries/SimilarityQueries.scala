package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions, VectorOps}

/** Similarity search over the `embeddings` table (SURVEY.md §7.4):
  * brute-force cosine top-k as the exact baseline, LSH-bucketed (IVF-style
  * inverted lists) as the scale path.
  */
object SimilarityQueries {
  import org.apache.spark.sql.{Column, DataFrame}

  /** q294's 8×64 Rademacher sign matrix — generated once, deterministically,
    * and shipped to BOTH engines as literals (the [[VectorOps.hyperplanes]]
    * discipline: no RNG at runtime, identical values in the Spark plan and
    * the oracle SQL text). Declared ahead of `defs`, which interpolates it
    * into the oracle text at object init. */
  private val jlSigns: Seq[Array[Double]] = {
    val rnd = new java.util.Random(20260815L)
    Seq.fill(8)(Array.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }
  private def jlSignSql(k: Int): String =
    jlSigns(k).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** Bounded-buffer grouped top-k (round-9 verdict #9): (qid, vec_id, c)
    * rows → one row per (qid, rank ≤ k), ordered (c desc, vec_id asc). A
    * ranking window must shuffle and SORT every scored row of a group
    * before row_number can cut at k; this is a partial+final aggregate —
    * each map task reduces its slice to a ≤k buffer
    * ([[graft.functions.TopKAggregator]]), only k-sized buffers cross the
    * shuffle, and the explode back to rows is codegen'd posexplode. At
    * 100 TB corpus-wide scoring, that is the difference between shuffling
    * the corpus and shuffling kilobytes per query. */
  def groupedTopK(scored: DataFrame, k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val agg = new graft.functions.TopKAggregator(k)
    scored.select(col("qid"), col("c"), col("vec_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.toColumn.name("topk"))
      .toDF("qid", "topk")
      .select(col("qid"), posexplode(col("topk")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("vec_id"), round(col("col._1"), 4).as("score"))
      .orderBy("qid", "rank")
  }

  /** Exact cosine top-k: query rows broadcast, corpus streams once into
    * the bounded-buffer aggregate — no corpus-sized sort anywhere. The
    * recall baseline every approximate variant below is judged against
    * (reused by SimilaritySpec on its clustered corpus). */
  def bruteTopK(e: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosineFast(col("qe"), col("embedding")).as("c"))
    groupedTopK(scored, k)
  }

  /** Multi-probe sign-LSH approximate top-k: buckets as inverted lists,
    * each query probes its own bucket plus every one-bit flip. */
  def ivfLshTopK(e: DataFrame, queryIds: Seq[Long], k: Int,
      nBits: Int = 4): DataFrame = {
    val planes = VectorOps.hyperplanes(nBits = nBits, dim = 64)
    val b = e.withColumn("bucket", VectorOps.lshBucket(col("embedding"), planes))
    val q = b.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(VectorOps.lshProbes(col("embedding"), planes)).as("bucket"))
    val scored = broadcast(q).join(b, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      // a candidate can surface from several probed buckets — dedupe pairs
      .dropDuplicates("qid", "vec_id")
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosineFast(col("qe"), col("embedding")).as("c"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("c"), 4).as("score"))
      .orderBy("qid", "rank")
  }

  /** k-means-IVF approximate top-k: learned centroids (graft.ml.KMeans)
    * as inverted lists; each query rescans only its `nProbe` nearest
    * lists. Unlike data-oblivious LSH planes, the lists follow the
    * corpus's own density — on clustered data recall at equal probe
    * fraction is far higher (pinned by SimilaritySpec). */
  def ivfKmeansTopK(e: DataFrame, queryIds: Seq[Long], k: Int,
      nLists: Int = 16, nProbe: Int = 4, iters: Int = 3): DataFrame = {
    val cents = graft.ml.KMeans.fit(e, "vec_id", "embedding", nLists, iters)
    val cdf = graft.ml.KMeans.centroidsDF(e.sparkSession, cents)
    // assignWithVec carries the vector through the argmax — building the
    // inverted lists costs one pass instead of assign + corpus join-back
    val lists = graft.ml.KMeans.assignWithVec(e, "vec_id", "embedding", cdf)
      .select(col("vec_id"), col("cid"), col("embedding"))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
    val probed = graft.ml.KMeans.probes(q, "vec_id", "embedding", cdf, nProbe)
      .withColumnRenamed("vec_id", "qid")
      .join(q.select(col("vec_id").as("qid"), col("embedding").as("qe")), Seq("qid"))
    val scored = broadcast(probed).join(lists, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosineFast(col("qe"), col("embedding")).as("c"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("c"), 4).as("score"))
      .orderBy("qid", "rank")
  }

  /** IVF-PQ search internals (shared by q158 and the bounds probe): the
    * composed production index — IVF coarse lists bound how MUCH each query
    * scans (nProbe of nLists), PQ codes over RESIDUALS (x − centroid of
    * x's list, the FAISS IVFPQ shape — residuals have ~half the variance
    * of raw vectors, so the same codebook budget quantizes them tighter)
    * bound what each scanned row COSTS (m table lookups). One codebook
    * shared across lists; per (query, probed list) the ADC table is built
    * from the query's residual AGAINST THAT LIST, and scoring is an
    * equi-join on the list id — a corpus code is only ever scored with the
    * table of its own list, which is what makes residual ADC valid.
    * Returns (approx top-k, per-exact-pair relative ADC error frame,
    * 1-row probed-coverage fraction frame: what share of the exact top-k
    * pairs had their list probed — the structural health signal of the
    * probe→list plumbing, expected ≈ nProbe/nLists on unclustered data).
    *
    * 100 TB posture: model state = nLists×dim + m×k×subDim floats on the
    * driver; corpus → 4-byte codes + a list id (vs 256 B raw); per-query
    * work = nProbe inverted lists × m lookups/row; every join is either a
    * broadcast (centroids, tables) or an equi-join on cid. */
  def ivfPqParts(e: DataFrame, queryIds: Seq[Long], k: Int,
      exactCk: DataFrame, nLists: Int = 16, nProbe: Int = 4,
      m: Int = 4, codebookK: Int = 16): (DataFrame, DataFrame, DataFrame) = {
    import graft.ml.{KMeans, ProductQuantizer}
    val spark = e.sparkSession
    val cents = KMeans.fit(e, "vec_id", "embedding", nLists, iters = 3)
    val cdf = KMeans.centroidsDF(spark, cents)
    // residual frame: one assignment pass (vector carried through the
    // argmax), centroid subtracted via the broadcast dim — checkpointed
    // because the PQ fit iterates over it and the code/flag joins reread it
    val assigned = KMeans.assignWithVec(e, "vec_id", "embedding", cdf)
      .select(col("vec_id"), col("cid"), col("embedding"))
      .join(broadcast(cdf), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        zip_with(col("embedding"), col("centroid"),
          (a, b) => a - b).as("resid"))
      .localCheckpoint(true)
    val pq = ProductQuantizer.fit(assigned, "vec_id", "resid",
      dim = 64, m = m, k = codebookK, iters = 3)
    val codes = ProductQuantizer.encode(assigned, "vec_id", "resid", pq)
      .join(assigned.select("vec_id", "cid"), Seq("vec_id"))
      .localCheckpoint(true)
    // per (query, probed list): the query's residual against THAT list's
    // centroid → its ADC table. The (qid, cid) pair rides adcTables' id
    // slot as qid*nLists+cid and is decomposed after.
    val q = e.filter(col("vec_id").isin(queryIds: _*))
    val qresid = KMeans.probes(q, "vec_id", "embedding", cdf, nProbe)
      .withColumnRenamed("vec_id", "qid")
      .join(q.select(col("vec_id").as("qid"), col("embedding").as("qe")),
        Seq("qid"))
      .join(broadcast(cdf), Seq("cid"))
      .select((col("qid") * nLists + col("cid")).as("qkey"),
        zip_with(col("qe"), col("centroid"), (a, b) => a - b).as("qr"))
    val tabs = ProductQuantizer.adcTables(qresid, "qkey", "qr", pq)
      .select(floor(col("qid") / nLists).cast("long").as("qid"),
        pmod(col("qid"), lit(nLists)).cast("int").as("cid"), col("tabs"))
      .localCheckpoint(true)
    // scoring: equi-join on the list id — each code scored only for the
    // queries that probed its list, with its own list's table
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    val approx = codes.join(broadcast(tabs), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        ProductQuantizer.adcDistance(col("codes"), col("tabs")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("adist"), 4).as("adist"))
    // distortion audit frame: exact top-k pairs whose corpus vector's list
    // was probed (residual ADC is only defined against a probed list),
    // excluding near-zero exact distances as in q117
    val rel = exactCk
      .filter(col("score") < 0.9999)
      .join(codes, Seq("vec_id"))
      .join(tabs, Seq("qid", "cid"))
      .select((abs(ProductQuantizer.adcDistance(col("codes"), col("tabs"))
        - (lit(2.0) - lit(2.0) * col("score")))
        / (lit(2.0) - lit(2.0) * col("score"))).as("rel"))
    // probed coverage: exact top-k pairs whose corpus vector's list was
    // probed by its query — pure plumbing health (probes→lists→tables join
    // keys), independent of ADC ranking quality
    val cover = exactCk.select("qid", "vec_id")
      .join(codes.select("vec_id", "cid"), Seq("vec_id"))
      .join(broadcast(tabs.select(col("qid"), col("cid"), lit(1L).as("pr"))),
        Seq("qid", "cid"), "left")
      .agg((coalesce(sum("pr"), lit(0L)).cast("double") / count(lit(1)))
        .as("cover"))
    (approx, rel, cover)
  }

  /** Bound-oracle harness for the approximate ANN variants (the
    * q10/q58/q75 sketch pattern): the emitted rows are the EXACT
    * brute-force top-k — fully recomputable by the DuckDB oracle — plus a
    * flag pinning that the approximate index recovered at least
    * `recallBound` of them overall. A recall regression flips the flag and
    * fails the driver's hash gate while the index stays free to be
    * approximate. Bounds are set from measured recall on the real tables
    * (deterministic seeds, so the values are run-stable at a given sf):
    * q51 sign-LSH 0.27–0.43, q84 k-means-IVF 0.50–0.60, q117 PQ
    * 0.10–0.17 — low in absolute terms because the synthetic embeddings
    * are uniform random (no cluster structure for a data-adaptive index
    * to exploit; SimilaritySpec pins high recall on a clustered corpus
    * instead).
    *
    * The exact frame is 3×k rows after one corpus pass — localCheckpoint
    * so the output join and the recall join don't each rescan the corpus.
    */
  /** The 1-row recall_ok frame: overall recall of `approx` against the
    * (checkpointed) exact top-k, flagged against `recallBound`. Shared by
    * all three ANN audits so the recall computation has one home. */
  private def recallFlag(exactCk: DataFrame, approx: DataFrame,
      recallBound: Double): DataFrame =
    exactCk.select("qid", "vec_id")
      .join(approx.select(col("qid"), col("vec_id"), lit(1L).as("hit")),
        Seq("qid", "vec_id"), "left")
      .agg((coalesce(sum("hit"), lit(0L)) / count(lit(1)) >= recallBound)
        .as("recall_ok"))

  private def exactWithRecallFlag(exact: DataFrame, approx: DataFrame,
      recallBound: Double): DataFrame = {
    val ex = exact.localCheckpoint(true)
    ex.crossJoin(broadcast(recallFlag(ex, approx, recallBound)))
      .select(col("qid"), col("rank"), col("vec_id"), col("score"),
        col("recall_ok"))
      .orderBy("qid", "rank")
  }

  /** q50's oracle SQL plus pinned-TRUE audit flags — the exact rows are
    * recomputed by DuckDB; the flags assert the approximate index met its
    * measured bound on the Spark side. */
  private def exactTopKOracle(flags: String*): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
       |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
       |     s AS (SELECT qid, vec_id,
       |                  CAST(list_cosine_similarity(qe, embedding) AS DOUBLE) AS c
       |           FROM q JOIN embeddings ON vec_id <> qid),
       |     r AS (SELECT qid, vec_id, c,
       |                  row_number() OVER (PARTITION BY qid
       |                                     ORDER BY c DESC, vec_id) AS rn
       |           FROM s)
       |SELECT qid, rn AS rank, vec_id, round(c, 4) AS score,
       |       ${flags.map(f => s"TRUE AS $f").mkString(", ")}
       |FROM r WHERE rn <= 10
       |ORDER BY qid, rank""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Exact k-NN: 3 query vectors × full corpus, native codegen'd cosine,
    // top-10 per query via ranking window. The query side is tiny and
    // broadcast, the corpus side streams — one narrow pass + one shuffle on
    // the (3-row) partition key for the top-k.
    QueryDef.sql(
      "q50_knn_brute",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe
        |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |     s AS (SELECT qid, vec_id,
        |                  CAST(list_cosine_similarity(qe, embedding) AS DOUBLE) AS c
        |           FROM q JOIN embeddings ON vec_id <> qid),
        |     r AS (SELECT qid, vec_id, c,
        |                  row_number() OVER (PARTITION BY qid
        |                                     ORDER BY c DESC, vec_id) AS rn
        |           FROM s)
        |SELECT qid, rn AS rank, vec_id, round(c, 4) AS score
        |FROM r WHERE rn <= 10
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      bruteTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L), 10)
    },

    // IVF-style approximate k-NN: sign-LSH buckets as inverted lists; each
    // query multi-probes its own list plus every one-bit-flip neighbor
    // (5 of 16 lists at 4 bits — bounded, corpus-size-independent fan-out
    // per query, which is what survives a 100× scale-up; single-probe
    // recall is the classic sign-LSH weakness). Bound oracle: exact top-k
    // rows + overall recall ≥ 0.1 flag. Measured 0.27–0.43 (8–13 of 30
    // exact pairs) on the random corpus; the bound sits ≥5 discrete hits
    // below the worst measurement so run-order float noise in tie-adjacent
    // assignments can never flap the gate, while a broken signature
    // (recall ~bucket-collision chance, ≈0–1 hits) still fails.
    // High-recall behavior on clustered data is SimilaritySpec's.
    QueryDef.sql("q51_knn_ivf_lsh", exactTopKOracle("recall_ok")) { (s, d) =>
      val e = t(s, d, "embeddings")
      exactWithRecallFlag(
        bruteTopK(e, Seq(0L, 1L, 2L), 10),
        ivfLshTopK(e, Seq(0L, 1L, 2L), 10),
        recallBound = 0.1)
    },

    // k-means-IVF approximate k-NN: data-adaptive inverted lists (learned
    // centroids) instead of q51's oblivious hyperplanes — the production
    // IVF shape. Probing 4 of 16 lists bounds per-query work to ~1/4 of
    // the corpus regardless of scale. Bound oracle: exact top-k rows +
    // overall recall ≥ 0.3 flag — measured 0.50–0.60 (15–18 of 30), so the
    // bound keeps ≥6 discrete hits of margin against float-order noise in
    // the Lloyd updates while single-probe-grade breakage (~0.25) still
    // fails. Clustered-corpus recall is SimilaritySpec's, centroid
    // quality KMeansSpec's.
    QueryDef.sql("q84_knn_ivf_kmeans", exactTopKOracle("recall_ok")) { (s, d) =>
      val e = t(s, d, "embeddings")
      exactWithRecallFlag(
        bruteTopK(e, Seq(0L, 1L, 2L), 10),
        ivfKmeansTopK(e, Seq(0L, 1L, 2L), 10),
        recallBound = 0.3)
    },

    // Same exact k-NN semantics as q50, but through the custom typed
    // TopKAggregator instead of a ranking window: map-side partial top-k
    // (each task reduces to ≤k rows before the shuffle) — the plan that
    // survives groups with billions of rows. Oracle-checked against the
    // identical SQL as q50, proving the custom aggregate reproduces the
    // window formulation bit-for-bit.
    QueryDef.sql(
      "q52_knn_topk_agg",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe
        |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |     s AS (SELECT qid, vec_id,
        |                  CAST(list_cosine_similarity(qe, embedding) AS DOUBLE) AS c
        |           FROM q JOIN embeddings ON vec_id <> qid),
        |     r AS (SELECT qid, vec_id, c,
        |                  row_number() OVER (PARTITION BY qid
        |                                     ORDER BY c DESC, vec_id) AS rn
        |           FROM s)
        |SELECT qid, rn AS rank, vec_id, round(c, 4) AS score
        |FROM r WHERE rn <= 10
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = broadcast(q).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VectorFunctions.cosineFast(col("qe"), col("embedding")).as("c"))
        .as[(Long, Long, Double)]
      val agg = new graft.functions.TopKAggregator(10)
      scored.groupByKey(_._1)
        .mapValues(r => (r._3, r._2))
        .agg(agg.toColumn.name("topk"))
        .flatMap { case (qid, topk) =>
          topk.zipWithIndex.map { case ((score, id), i) =>
            (qid, i + 1, id, score)
          }
        }
        .toDF("qid", "rank", "vec_id", "score")
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("score"), 4).as("score"))
        .orderBy("qid", "rank")
    },

    // Product-quantization ANN (graft.ml.ProductQuantizer): the corpus is
    // stored as m=4 code ids (64× smaller than the raw floats) and queries
    // score the compressed codes directly — per query an m×16 table of
    // exact sub-distances, then every corpus vector costs 4 array lookups,
    // row-local in codegen. The compressed-index answer to "the corpus no
    // longer fits": where q84's IVF bounds how MUCH is scanned, PQ bounds
    // what each scanned row COSTS (and the two compose in a real system).
    // Bound oracle: exact top-k rows + two audit flags. recall_ok is a
    // smoke floor at ≥ 0.03 (1 of 30): measured recall is only 0.10–0.17
    // (3–5 of 30) because random 64-d data is PQ's worst case — m=4
    // quantization distortion dwarfs the tiny cosine gaps between
    // "neighbors" — and a tighter floor would sit within one or two
    // float-order-noise hit flips of the measurement (clustered-corpus
    // recall is ProductQuantizerSpec's). The REAL guard is adc_ok, which
    // has wide analog margin: scoring the EXACT top-k pairs through the
    // compressed codes must stay within measured ADC distortion (mean rel
    // err ≤ 0.35, max ≤ 0.6 vs measured 0.19/0.41 — a broken codebook or
    // code indexing blows this to ~1).
    QueryDef.sql("q117_pq_ann", exactTopKOracle("recall_ok", "adc_ok")) { (s, d) =>
      import graft.ml.ProductQuantizer
      val e = t(s, d, "embeddings")
      val model = ProductQuantizer.fit(e, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, iters = 3)
      val codes = ProductQuantizer.encode(e, "vec_id", "embedding", model)
        .localCheckpoint(true)
      val q = e.filter(col("vec_id").isin(0, 1, 2))
      val tabs = ProductQuantizer.adcTables(q, "vec_id", "embedding", model)
        .localCheckpoint(true)
      val exact = bruteTopK(e, Seq(0L, 1L, 2L), 10).localCheckpoint(true)
      val approx = ProductQuantizer.search(codes, "vec_id", tabs, 10)
      val recall = recallFlag(exact, approx, recallBound = 0.03)
      // unit vectors: exact L2² = 2 − 2·cos (score is rounded(4); the
      // ≤1e-4 rounding error is noise against a 0.35 distortion bound).
      // Near-duplicate pairs (score ≈ 1 ⇒ exact_d2 ≈ 0) are excluded: the
      // relative error is undefined at zero distance and carries no
      // distortion information; the coalesce keeps the flag TRUE if a
      // query's whole top-k were duplicates (vacuously passing, never NaN).
      val adcFlag = exact
        .filter(col("score") < 0.9999)
        .join(codes, Seq("vec_id"))
        .join(broadcast(tabs), Seq("qid"))
        .select((abs(ProductQuantizer.adcDistance(col("codes"), col("tabs"))
          - (lit(2.0) - lit(2.0) * col("score")))
          / (lit(2.0) - lit(2.0) * col("score"))).as("rel"))
        .agg(coalesce(avg("rel") <= 0.35 && max("rel") <= 0.6, lit(true))
          .as("adc_ok"))
      exact.crossJoin(broadcast(recall)).crossJoin(broadcast(adcFlag))
        .select(col("qid"), col("rank"), col("vec_id"), col("score"),
          col("recall_ok"), col("adc_ok"))
        .orderBy("qid", "rank")
    },

    // IVF-PQ — the two bounds COMPOSED the way production vector stores
    // ship them (FAISS "IVF16,PQ4"): q84's learned lists bound how much is
    // scanned, q117's codes bound per-row cost, and the codes quantize
    // RESIDUALS against each vector's list centroid, scored per (query,
    // probed list) via that list's own ADC table (see ivfPqParts). Bound
    // oracle: exact top-k rows + two flags, bounds set from
    // measurements on the real tables. recall_ok is STRUCTURAL
    // rather than a final-top-k recall floor: it pins probed-candidate
    // COVERAGE ≥ 0.10 — the fraction of exact top-k pairs whose list was
    // probed, expected ≈ nProbe/nLists = 0.25 on unclustered data
    // (final-top-k recall at sf0.1 measured 1/30: one discrete hit, too
    // brittle to gate on — the round-7 advisor's flap finding; a broken
    // probe map, list assignment, or (qid,cid) join key collapses coverage
    // to ~0 and still fails). adc_ok is the real quality guard: residual
    // ADC over the probed exact pairs must stay within mean rel err
    // ≤ 0.45 / max ≤ 0.70 — measured mean 0.281 / max 0.475 at sf0.01
    // and 0.202 / 0.307 at sf0.1, so the bounds carry ≥0.17 analog margin
    // against corpus drift while a broken codebook, code indexing, or
    // wrong-list table (all of which push the mean to ~1) still fails.
    QueryDef.sql("q158_ivfpq_ann", exactTopKOracle("recall_ok", "adc_ok")) { (s, d) =>
      val e = t(s, d, "embeddings")
      val exact = bruteTopK(e, Seq(0L, 1L, 2L), 10).localCheckpoint(true)
      val (approx, rel, cover) = ivfPqParts(e, Seq(0L, 1L, 2L), 10, exact)
      // the k-rows-per-query count keeps the approx search itself in the
      // executed plan (nothing else consumes it now that the flag gates on
      // coverage) and pins that every query fills its top-k from the
      // probed lists — deterministic on any corpus ≥ k+1 vectors per probe
      val full = approx.agg((count(lit(1)) === 3 * 10).as("full_ok"))
      val recall = cover.crossJoin(full)
        .select((col("cover") >= 0.10 && col("full_ok")).as("recall_ok"))
      val adcFlag = rel
        .agg(coalesce(avg("rel") <= 0.45 && max("rel") <= 0.70, lit(true))
          .as("adc_ok"))
      exact.crossJoin(broadcast(recall)).crossJoin(broadcast(adcFlag))
        .select(col("qid"), col("rank"), col("vec_id"), col("score"),
          col("recall_ok"), col("adc_ok"))
        .orderBy("qid", "rank")
    },

    // Matryoshka-style two-stage retrieval: a COARSE scan scores the whole
    // corpus on only the leading `dims` of each embedding (a prefix
    // truncation — the Matryoshka representation-learning deployment
    // pattern, where the head of the vector is trained to be a usable
    // low-dim embedding on its own), keeps top-`coarseK` candidates per
    // query, then a RERANK pass rescores only those candidates at full
    // dimension. At 100 TB the coarse pass is the only corpus-wide scan
    // and does dims/64 of the multiply-adds (in production the prefix
    // lives in its own narrow column/index so the scan also reads 2×
    // fewer bytes); the full-dim pass touches coarseK rows per query —
    // corpus-size-independent. Bound oracle (the q51/q84 pattern): exact
    // top-k rows + recall flag. Measured 30/30 at sf0.01 and 25/30 at
    // sf0.1 (this corpus is RANDOM, so signal spreads evenly over all 64
    // dims — a trained Matryoshka head would funnel far better; dims=32 /
    // coarseK=200 is the measured sweet spot); the 0.5 bound sits ≥10
    // discrete hits under the gate-sf measurement, while a broken
    // slice/rescore (recall ≈ coarseK/N = 4% at sf0.1) still fails.
    QueryDef.sql("q174_matryoshka_rerank", exactTopKOracle("recall_ok")) { (s, d) =>
      val e = t(s, d, "embeddings")
      exactWithRecallFlag(
        bruteTopK(e, Seq(0L, 1L, 2L), 10),
        twoStageTopK(e, Seq(0L, 1L, 2L), 10),
        recallBound = 0.5)
    },

    // Maximum-inner-product search (MIPS) — the second distance family
    // (round-9 verdict #9): corpus vectors carry meaningful NORMS (here a
    // deterministic popularity-style weight w = 1 + (vec_id % 7)/10, the
    // two-tower-retrieval shape), so ranking is by RAW ⟨q, w·x⟩ and
    // cosine's normalization would erase the signal. Exact pass: native
    // inner_product kernel (⟨q, w·x⟩ = w·⟨q,x⟩, so the weight multiplies
    // the scalar — no per-element scaling in the hot loop). Approximate
    // pass: the classic MIPS→cosine reduction (Bachrach et al. 2014 /
    // Shrivastava–Li 2014): augment each corpus vector to
    // [w·x, sqrt(M² − ‖w·x‖²)] with M = max corpus norm and the query to
    // [q, 0] — then cosine ORDER on the augmented 65-d vectors equals
    // inner-product order, and the existing multi-probe sign-LSH
    // machinery serves MIPS unchanged (nBits=3: the asymmetric augmented
    // coordinate — corpus vectors carry a large positive 65th component,
    // queries carry 0 — widens query↔corpus angles, so buckets stay
    // coarse to keep probe coverage at 4-of-8). Candidates rerank with
    // the exact kernel; bound oracle = exact rows + recall flag (green at
    // sf0.001/0.01/0.1; 0.5 keeps the same headroom discipline as q174).
    // 100 TB: M is one bounded driver scalar, augmentation is a map-only
    // pass, the LSH join buckets instead of crossing.
    QueryDef.sql("q277_mips_ann", mipsTopKOracle("recall_ok")) { (s, d) =>
      val e = t(s, d, "embeddings")
      exactWithRecallFlag(
        bruteMipsTopK(e, Seq(0L, 1L, 2L), 10),
        mipsLshTopK(e, Seq(0L, 1L, 2L), 10),
        recallBound = 0.5)
    },

    // Embedding-space benchmark contamination screen — the SEMANTIC
    // counterpart of the lexical 3-gram screens (q71 exact semi-join, q89
    // bloom): a training vector whose cosine to ANY held-out benchmark
    // vector reaches 0.35 is a paraphrase-level leak the lexical screens
    // can't see (no shared n-gram survives a rewrite, the embedding
    // does). Benchmark set = vec_id % 23 = 0 (the q71 held-out
    // convention); per-label contamination counts and rates. Scale shape:
    // the benchmark set is the small side by definition — broadcast it
    // and stream the corpus ONCE through the native cosine kernel with an
    // EXISTS cut (left-semi BNLJ), so the corpus is never shuffled and
    // per-vector work is |bench|·O(dim); the label rollup is the only
    // exchange. At 100 TB the benchmark suite is still a few thousand
    // vectors — the broadcast never grows with the corpus.
    QueryDef.sql(
      "q278_semantic_contamination",
      """WITH bench AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS be
        |               FROM embeddings WHERE vec_id % 23 = 0),
        |     hit AS (SELECT DISTINCT a.vec_id
        |             FROM embeddings a JOIN bench b
        |               ON list_cosine_similarity(
        |                    CAST(a.embedding AS DOUBLE[]), b.be) >= 0.35
        |             WHERE a.vec_id % 23 <> 0)
        |SELECT e.label,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(count(h.vec_id) AS BIGINT) AS n_contaminated,
        |       round(count(h.vec_id)::DOUBLE / count(*), 6) AS rate
        |FROM embeddings e LEFT JOIN hit h ON e.vec_id = h.vec_id
        |WHERE e.vec_id % 23 <> 0
        |GROUP BY e.label
        |ORDER BY e.label""".stripMargin) { (s, d) =>
      val e = t(s, d, "embeddings")
      val bench = e.filter(col("vec_id") % 23 === 0)
        .select(col("embedding").as("be"))
      val hits = e.filter(col("vec_id") % 23 =!= 0)
        .join(broadcast(bench),
          VectorFunctions.cosineFast(col("embedding"), col("be")) >= 0.35,
          "left_semi")
        .select(col("vec_id"), lit(1).as("hit"))
      e.filter(col("vec_id") % 23 =!= 0).select("vec_id", "label")
        .join(hits, Seq("vec_id"), "left")
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          count(col("hit")).cast("long").as("n_contaminated"),
          round(count(col("hit")).cast("double") / count(lit(1)), 6)
            .as("rate"))
        .orderBy("label")
    },

    // Embedding-quality screen: per-dimension z-scores over the corpus,
    // flagging vectors with any |z| > 3 cell — the standard sanity pass
    // that catches dead/saturated encoder dimensions and corrupt rows
    // before they poison ANN indexes or dedup thresholds. Cross-engine
    // determinism: each float is quantized to floor(x·1e6) FIRST, so the
    // per-dimension sums are exact integers (order-independent — a plain
    // double sum over floats is partition-order-dependent and can flip a
    // rounding boundary); mean/std/z then evaluate in double with the
    // IDENTICAL operand tree in both engines. Scale shape: the quantized
    // explode is map-only; per-dim stats are a 64-row aggregate broadcast
    // back; the per-vector reduce groups on vec_id — one exchange of a
    // skinny (vec_id, dim, q) frame, no window, no self-join.
    QueryDef.sql(
      "q280_embedding_outliers",
      """WITH el AS (SELECT vec_id, label, i - 1 AS dim,
        |                   CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6)
        |                        AS BIGINT) AS q
        |            FROM embeddings,
        |                 unnest(generate_series(1, len(embedding))) AS t(i)),
        |     st AS (SELECT dim, count(*) AS n,
        |                   CAST(sum(q) AS BIGINT) AS s,
        |                   CAST(sum(q * q) AS BIGINT) AS ss
        |            FROM el GROUP BY dim),
        |     z AS (SELECT vec_id, label,
        |                  (q - s / CAST(n AS DOUBLE)) /
        |                  sqrt(ss / CAST(n AS DOUBLE) -
        |                       (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)))
        |                    AS z
        |           FROM el JOIN st ON el.dim = st.dim),
        |     pv AS (SELECT vec_id, label,
        |                   sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END) AS nout
        |            FROM z GROUP BY vec_id, label)
        |SELECT label,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(CASE WHEN nout >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_flagged,
        |       CAST(sum(nout) AS BIGINT) AS n_outlier_cells,
        |       round(sum(CASE WHEN nout >= 1 THEN 1 ELSE 0 END)::DOUBLE
        |             / count(*), 6) AS rate
        |FROM pv
        |GROUP BY label
        |ORDER BY label""".stripMargin) { (s, d) =>
      val e = t(s, d, "embeddings")
      val el = e.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("label"), col("dim"),
          floor(col("x").cast("double") * 1e6).cast("long").as("q"))
        .localCheckpoint(true)
      val st = el.groupBy("dim").agg(count(lit(1)).as("n"),
        sum("q").as("s"), sum(col("q") * col("q")).as("ss"))
      val z = (col("q") - col("s") / col("n").cast("double")) /
        sqrt(col("ss") / col("n").cast("double") -
          (col("s") / col("n").cast("double")) *
            (col("s") / col("n").cast("double")))
      el.join(broadcast(st), "dim")
        .select(col("vec_id"), col("label"), z.as("z"))
        .groupBy("vec_id", "label")
        .agg(sum(when(abs(col("z")) > 3, 1).otherwise(0)).as("nout"))
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(when(col("nout") >= 1, 1).otherwise(0)).cast("long")
            .as("n_flagged"),
          sum(col("nout")).cast("long").as("n_outlier_cells"),
          round(sum(when(col("nout") >= 1, 1).otherwise(0)).cast("double")
            / count(lit(1)), 6).as("rate"))
        .orderBy("label")
    },

    // MMR (maximal-marginal-relevance, Carbonell & Goldstein 1998)
    // diversified top-k: greedily pick 5 of the 20 most-relevant
    // candidates, each round maximizing λ·rel(c) − (1−λ)·max_{s∈S}
    // sim(c, s) at λ = 0.7 — the standard rerank that keeps a RAG
    // context window (or a dedup-aware eval set) from filling with
    // near-identical passages. Determinism: rel and sim are cosines
    // QUANTIZED to 1e-10 integer units before any greedy arithmetic (the
    // q143/q236 transcendental-round discipline, tightened to integers:
    // mmr = 7·rel10 − 3·sim10 in exact 1e-11 BIGINT units), so every
    // argmax compares exact integers in both engines and no float ever
    // reaches the output hash; ties break on vec_id. Scale
    // shape: the ONLY corpus-scale work is the one relevance-scoring pass
    // (query rows broadcast, corpus streams through the native kernel);
    // the greedy loop then runs entirely on the 20-candidates-per-query
    // frame (≤ 20·|q| rows, checkpointed) and its ≤ 20²·|q| pairwise-sim
    // frame — both corpus-size-independent, all joins broadcast. The
    // oracle unrolls the 5 greedy rounds as CTEs (the q256 pattern).
    QueryDef.sql(
      "q281_mmr_rerank",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe
        |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |     rel0 AS (SELECT qid, vec_id,
        |                     CAST(round(list_cosine_similarity(
        |                         CAST(qe AS DOUBLE[]),
        |                         CAST(embedding AS DOUBLE[])) * 1e10)
        |                       AS BIGINT) AS rel10
        |              FROM q JOIN embeddings ON vec_id <> qid),
        |     cand AS (SELECT qid, vec_id, rel10
        |              FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |                      ORDER BY rel10 DESC, vec_id) AS rn FROM rel0)
        |              WHERE rn <= 20),
        |     pr AS (SELECT a.qid, a.vec_id AS ai, b.vec_id AS bi,
        |                   CAST(round(list_cosine_similarity(
        |                     CAST(ea.embedding AS DOUBLE[]),
        |                     CAST(eb.embedding AS DOUBLE[])) * 1e10)
        |                     AS BIGINT) AS sim10
        |            FROM cand a
        |            JOIN cand b ON b.qid = a.qid AND b.vec_id <> a.vec_id
        |            JOIN embeddings ea ON ea.vec_id = a.vec_id
        |            JOIN embeddings eb ON eb.vec_id = b.vec_id),
        |     s1 AS (SELECT qid, vec_id, rel10,
        |                   7 * rel10 AS mmr, 1 AS rank
        |            FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |                    ORDER BY rel10 DESC, vec_id) AS rn FROM cand)
        |            WHERE rn = 1),
        |     r2 AS (SELECT c.qid, c.vec_id, c.rel10,
        |                   7 * c.rel10 - 3 * max(p.sim10) AS mmr
        |            FROM cand c
        |            JOIN pr p ON p.qid = c.qid AND p.ai = c.vec_id
        |            JOIN s1 s ON s.qid = p.qid AND s.vec_id = p.bi
        |            WHERE NOT EXISTS (SELECT 1 FROM s1 x
        |                              WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
        |            GROUP BY c.qid, c.vec_id, c.rel10),
        |     p2 AS (SELECT qid, vec_id, rel10, mmr, 2 AS rank
        |            FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |                    ORDER BY mmr DESC, vec_id) AS rn FROM r2)
        |            WHERE rn = 1),
        |     s2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM p2),
        |     r3 AS (SELECT c.qid, c.vec_id, c.rel10,
        |                   7 * c.rel10 - 3 * max(p.sim10) AS mmr
        |            FROM cand c
        |            JOIN pr p ON p.qid = c.qid AND p.ai = c.vec_id
        |            JOIN s2 s ON s.qid = p.qid AND s.vec_id = p.bi
        |            WHERE NOT EXISTS (SELECT 1 FROM s2 x
        |                              WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
        |            GROUP BY c.qid, c.vec_id, c.rel10),
        |     p3 AS (SELECT qid, vec_id, rel10, mmr, 3 AS rank
        |            FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |                    ORDER BY mmr DESC, vec_id) AS rn FROM r3)
        |            WHERE rn = 1),
        |     s3 AS (SELECT * FROM s2 UNION ALL SELECT * FROM p3),
        |     r4 AS (SELECT c.qid, c.vec_id, c.rel10,
        |                   7 * c.rel10 - 3 * max(p.sim10) AS mmr
        |            FROM cand c
        |            JOIN pr p ON p.qid = c.qid AND p.ai = c.vec_id
        |            JOIN s3 s ON s.qid = p.qid AND s.vec_id = p.bi
        |            WHERE NOT EXISTS (SELECT 1 FROM s3 x
        |                              WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
        |            GROUP BY c.qid, c.vec_id, c.rel10),
        |     p4 AS (SELECT qid, vec_id, rel10, mmr, 4 AS rank
        |            FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |                    ORDER BY mmr DESC, vec_id) AS rn FROM r4)
        |            WHERE rn = 1),
        |     s4 AS (SELECT * FROM s3 UNION ALL SELECT * FROM p4),
        |     r5 AS (SELECT c.qid, c.vec_id, c.rel10,
        |                   7 * c.rel10 - 3 * max(p.sim10) AS mmr
        |            FROM cand c
        |            JOIN pr p ON p.qid = c.qid AND p.ai = c.vec_id
        |            JOIN s4 s ON s.qid = p.qid AND s.vec_id = p.bi
        |            WHERE NOT EXISTS (SELECT 1 FROM s4 x
        |                              WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
        |            GROUP BY c.qid, c.vec_id, c.rel10),
        |     p5 AS (SELECT qid, vec_id, rel10, mmr, 5 AS rank
        |            FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |                    ORDER BY mmr DESC, vec_id) AS rn FROM r5)
        |            WHERE rn = 1),
        |     s5 AS (SELECT * FROM s4 UNION ALL SELECT * FROM p5)
        |SELECT qid, rank, vec_id, rel10 AS rel_e10, mmr AS mmr_e11
        |FROM s5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val wRel = Window.partitionBy("qid")
        .orderBy(col("rel10").desc, col("vec_id"))
      // the one corpus-scale pass: broadcast queries, stream the corpus
      val cand = broadcast(q).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.cosineFast(col("qe"), col("embedding"))
            * 1e10).cast("long").as("rel10"))
        .withColumn("rn", row_number().over(wRel))
        .filter(col("rn") <= 20).drop("rn")
        .localCheckpoint(true) // ≤ 20·|q| rows — the greedy loop's world
      val cv = cand.select("qid", "vec_id")
        .join(e.select("vec_id", "embedding"), "vec_id")
      val pr = broadcast(cv.select(col("qid"), col("vec_id").as("ai"),
          col("embedding").as("ea")))
        .join(cv.select(col("qid"), col("vec_id").as("bi"),
          col("embedding").as("eb")), Seq("qid"))
        .filter(col("ai") =!= col("bi"))
        .select(col("qid"), col("ai"), col("bi"),
          round(VectorFunctions.cosineFast(col("ea"), col("eb")) * 1e10)
            .cast("long").as("sim10"))
        .localCheckpoint(true) // ≤ 20²·|q| rows
      var sel = cand.withColumn("rn", row_number().over(wRel))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id"), col("rel10"),
          (lit(7L) * col("rel10")).as("mmr"), lit(1).as("rank"))
        .localCheckpoint(true)
      for (rnd <- 2 to 5) {
        val simToSel = pr
          .join(broadcast(sel.select(col("qid"), col("vec_id").as("bi"))),
            Seq("qid", "bi"))
          .groupBy("qid", "ai").agg(max("sim10").as("ms"))
          .select(col("qid").as("sq"), col("ai"), col("ms"))
        val wM = Window.partitionBy("qid")
          .orderBy(col("mmr").desc, col("vec_id"))
        val pick = cand
          .join(sel.select("qid", "vec_id"), Seq("qid", "vec_id"), "left_anti")
          .join(broadcast(simToSel),
            col("qid") === col("sq") && col("vec_id") === col("ai"))
          .select(col("qid"), col("vec_id"), col("rel10"),
            (lit(7L) * col("rel10") - lit(3L) * col("ms")).as("mmr"))
          .withColumn("rn", row_number().over(wM))
          .filter(col("rn") === 1)
          .select(col("qid"), col("vec_id"), col("rel10"), col("mmr"),
            lit(rnd).as("rank"))
        sel = sel.unionByName(pick).localCheckpoint(true)
      }
      sel.select(col("qid"), col("rank"), col("vec_id"),
          col("rel10").as("rel_e10"), col("mmr").as("mmr_e11"))
        .orderBy("qid", "rank")
    },

    // Inverted multi-index ANN (see [[imiTopK]]): 2×8 half-space codebooks
    // → 64 product cells, queries probe 3 centroids per half (9 cells,
    // ~14 % of a uniform corpus). Bound oracle (the q51/q84 harness):
    // exact top-k rows + overall recall flag. Measured on the real tables:
    // 0.33 at sf0.01 / 0.37 at sf0.1 — above the ~14 %
    // probed fraction because cells whose BOTH halves are near the
    // query's concentrate high-cosine vectors even on this unclustered
    // corpus. Bound 0.1 sits ≥7 discrete hits below the worst measurement
    // (float-order noise in the Lloyd fits can't flap it) while a broken
    // cell join or probe fan-out (recall ≈ 0–1 hits) still fails.
    QueryDef.sql("q282_imi_ann", exactTopKOracle("recall_ok")) { (s, d) =>
      val e = t(s, d, "embeddings")
      exactWithRecallFlag(
        bruteTopK(e, Seq(0L, 1L, 2L), 10),
        imiTopK(e, Seq(0L, 1L, 2L), 10),
        recallBound = 0.1)
    },

    // Hard-negative mining for contrastive (two-tower / embedding-model)
    // training: per anchor, the 10 most-cosine-similar vectors with a
    // DIFFERENT label — the negatives that actually move an InfoNCE loss,
    // versus in-batch randoms that are trivially separable. Exact and
    // fully oracle-checkable (it is q50 with a label-mismatch predicate).
    // Scale shape: anchors broadcast, the corpus streams ONCE through the
    // native cosine kernel into the bounded-buffer groupedTopK aggregate
    // (only ≤k buffers cross the shuffle — no corpus-sized sort); the
    // label ride-along joins the 30-row result back, broadcast.
    QueryDef.sql(
      "q283_hard_negatives",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
        |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |     s AS (SELECT qid, vec_id, label AS neg_label,
        |                  CAST(list_cosine_similarity(qe, embedding)
        |                       AS DOUBLE) AS c
        |           FROM q JOIN embeddings
        |             ON vec_id <> qid AND label <> ql),
        |     r AS (SELECT qid, vec_id, neg_label, c,
        |                  row_number() OVER (PARTITION BY qid
        |                    ORDER BY c DESC, vec_id) AS rn
        |           FROM s)
        |SELECT qid, rn AS rank, vec_id, neg_label, round(c, 4) AS score
        |FROM r WHERE rn <= 10
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("ql"))
      val scored = broadcast(q)
        .join(e, col("vec_id") =!= col("qid") && col("label") =!= col("ql"))
        .select(col("qid"), col("vec_id"),
          VectorFunctions.cosineFast(col("qe"), col("embedding")).as("c"))
      broadcast(groupedTopK(scored, 10))
        .join(e.select(col("vec_id"), col("label").as("neg_label")), "vec_id")
        .select(col("qid"), col("rank"), col("vec_id"), col("neg_label"),
          col("score"))
        .orderBy("qid", "rank")
    },

    // Johnson–Lindenstrauss distortion audit: before trusting a
    // dimensionality cut for the ANN index (the PQ/Matryoshka family
    // above), measure how an 8-dim Rademacher sign projection distorts
    // pairwise squared distances on a deterministic pair sample. The ±1
    // sign matrix is generated ONCE in Scala and interpolated into both
    // engines as literals (the hyperplane discipline); ratio = d8²/(8·d64²)
    // — both scalings exact powers of two, so the ratio is bit-identical
    // to DuckDB's. Pair sample: multiples of 97 joined to their +97
    // successor — an equi-join whose size is n/97, no window, no
    // cartesian, scales linearly. Per-pair ratios are quantized to exact
    // 1e-6 BIGINT units before aggregation, so the mean/min/max/fraction
    // are partition-order-free. The Spark side runs on the native fused
    // kernels (InnerProduct, SquaredDistance) whose double accumulation
    // order is pinned to the DuckDB list functions' by q277/q283.
    QueryDef.sql(
      "q294_jl_distortion",
      s"""WITH mem AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |             FROM embeddings WHERE vec_id % 97 = 0),
        |pv AS (SELECT vec_id, e,
        |              [${(0 until 8).map(k =>
                           s"list_inner_product(e, CAST(${jlSignSql(k)} AS DOUBLE[]))")
                           .mkString(",\n        |               ")}] AS p
        |       FROM mem),
        |pr AS (SELECT a.e AS ea, a.p AS pa, b.e AS eb, b.p AS pb
        |       FROM pv a JOIN pv b ON b.vec_id = a.vec_id + 97),
        |df AS (SELECT list_transform(generate_series(1, 8), i -> pa[i] - pb[i]) AS d8,
        |              list_transform(generate_series(1, 64), i -> ea[i] - eb[i]) AS d64
        |       FROM pr),
        |rt AS (SELECT list_inner_product(d8, d8)
        |                / (8.0 * list_inner_product(d64, d64)) AS ratio
        |       FROM df WHERE list_inner_product(d64, d64) > 0),
        |ri AS (SELECT CAST(round(ratio * 1e6) AS BIGINT) AS r6 FROM rt),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |             CAST(sum(r6) AS BIGINT) AS sr,
        |             min(r6) AS mnr, max(r6) AS mxr,
        |             CAST(count(CASE WHEN r6 BETWEEN 500000 AND 2000000
        |                             THEN 1 END) AS BIGINT) AS n_ok
        |      FROM ri)
        |SELECT n_pairs,
        |       round(CAST(sr AS DOUBLE) / n_pairs / 1e6, 6) AS mean_ratio,
        |       round(CAST(mnr AS DOUBLE) / 1e6, 6) AS min_ratio,
        |       round(CAST(mxr AS DOUBLE) / 1e6, 6) AS max_ratio,
        |       round(CAST(n_ok AS DOUBLE) / n_pairs, 6) AS frac_within_2x
        |FROM m""".stripMargin) { (s, d) =>
      val mem = t(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(97L)) === 0)
        .select(col("vec_id"), col("embedding"))
      val signF = jlSigns.map(a => array(a.map(v => lit(v.toFloat)): _*))
      val pv = mem.select(col("vec_id"), col("embedding"),
        array(signF.map(sk =>
          VectorFunctions.innerProductFast(col("embedding"), sk)): _*).as("p"))
      val a = pv.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"), col("p").as("pa"))
      val b = pv.select(col("vec_id").as("id_b"),
        col("embedding").as("eb"), col("p").as("pb"))
      val pr = a.join(b, col("id_b") === col("id_a") + 97)
      val d8 = zip_with(col("pa"), col("pb"), (x, y) => x - y)
      val d8sq = VectorOps.dot(d8, d8)
      val d64sq = VectorFunctions.squaredDistanceFast(col("ea"), col("eb"))
      val ri = pr
        .select((d8sq / (lit(8.0) * d64sq)).as("ratio"), d64sq.as("dz"))
        .filter(col("dz") > 0)
        .select(round(col("ratio") * 1e6, 0).cast("long").as("r6"))
      ri.agg(count(lit(1)).as("n_pairs"), sum("r6").as("sr"),
          min("r6").as("mnr"), max("r6").as("mxr"),
          count(when(col("r6").between(500000L, 2000000L), 1)).as("n_ok"))
        .select(col("n_pairs"),
          round(col("sr").cast("double") / col("n_pairs") / 1e6, 6)
            .as("mean_ratio"),
          round(col("mnr").cast("double") / 1e6, 6).as("min_ratio"),
          round(col("mxr").cast("double") / 1e6, 6).as("max_ratio"),
          round(col("n_ok").cast("double") / col("n_pairs"), 6)
            .as("frac_within_2x"))
    },

    // k-center coreset (greedy farthest-point / Gonzalez 2-approx, k=8)
    // over the embedding corpus — the diversity-maximizing subset
    // selection a training pipeline runs before expensive labeling or as
    // IVF seed points; the radius column IS the covering-radius
    // guarantee at each step. Exactness: quantized integer components →
    // exact BIGINT squared distances, so every argmax elects the same
    // point in both engines (ties → smallest vec_id). Scale shape: one
    // checkpointed component explode; each of the 7 rounds is ONE
    // corpus aggregate (distance to the newest center) + ONE min-fold +
    // a 1-row argmax collect (bounded driver state — the q256 greedy
    // discipline); no pair frame ever exists.
    QueryDef.sql(
      "q318_kcenter_coreset",
      CoresetExprs.oracle) { (s, d) =>
      val el = t(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
        .select(col("vec_id"), col("i"),
          floor(col("xf").cast("double") * 1e6).cast("long").as("xq"))
        .localCheckpoint(true) // skinny; re-joined once per round
      s.createDataFrame(kcenterPicks(el, CoresetExprs.k))
        .toDF("r", "vec_id", "d2")
        .selectExpr("r", "vec_id", s"${CoresetExprs.radius} AS radius")
        .orderBy("r")
    },

    // Hubness audit of the embedding space (Radovanović et al. 2010):
    // in-degree distribution of the exact 5-NN graph over a
    // deterministic 1-in-4 sample — high-hubness spaces silently degrade
    // every ANN/dedup operator upstream (q50-q53, q93), and the skewness
    // of the in-degree distribution is THE standard hubness score. The
    // sample modulus is derived from the corpus count in BOTH engines
    // (m = max(1, n div 125), a fixed ~125-vector sample at any scale,
    // so the O(|sample|²) pair join is constant-cost); inside
    // it, distances are exact BIGINTs off quantized components, the 5-NN
    // ranks break ties on vec_id, in-degrees are exact integers, and the
    // skewness comes from ONE shared moment template over exact power
    // sums. Zero-in-degree nodes count (the grid left-join) — orphans
    // are the other half of the hubness story.
    QueryDef.sql(
      "q319_hubness",
      s"""WITH md AS MATERIALIZED (
        |  SELECT greatest(CAST(1 AS BIGINT), CAST(count(*) AS BIGINT) // 125)
        |           AS m
        |  FROM embeddings),
        |ss AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings, md
        |  WHERE vec_id % md.m = 0),
        |el AS MATERIALIZED (
        |  SELECT vec_id, i,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)
        |           AS xq
        |  FROM ss, unnest(generate_series(1, 64)) AS t(i)),
        |pd AS MATERIALIZED (
        |  SELECT a.vec_id AS av, b.vec_id AS bv,
        |         CAST(sum((a.xq - b.xq) * (a.xq - b.xq)) AS BIGINT) AS d2
        |  FROM el a JOIN el b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |kn AS (SELECT av, bv,
        |              row_number() OVER (PARTITION BY av
        |                                 ORDER BY d2, bv) AS rk
        |       FROM pd),
        |ind AS (SELECT s.vec_id, CAST(count(k.bv) AS BIGINT) AS ideg
        |        FROM ss s LEFT JOIN (SELECT bv FROM kn WHERE rk <= 5) k
        |          ON s.vec_id = k.bv
        |        GROUP BY 1),
        |hist AS (SELECT ideg AS in_degree,
        |                CAST(count(*) AS BIGINT) AS n_nodes
        |         FROM ind GROUP BY 1),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(ideg) AS BIGINT) AS s1,
        |               CAST(sum(ideg * ideg) AS BIGINT) AS s2,
        |               CAST(sum(ideg * ideg * ideg) AS BIGINT) AS s3
        |        FROM ind)
        |SELECT in_degree, n_nodes, CAST(NULL AS DOUBLE) AS skewness
        |FROM hist
        |UNION ALL
        |SELECT -1, n, ${HubExprs.skew} FROM mom
        |ORDER BY in_degree""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // Sample modulus DERIVED from the corpus row count (round-10
      // ADVICE): m = max(1, n div 125) targets a fixed ~125-vector sample
      // at ANY scale factor, so the O(|sample|²) pair join below is a
      // constant-cost audit, not a quadratic one. The same arithmetic
      // runs in the oracle's `md` CTE — both engines derive the identical
      // modulus from the identical count, no literal to drift.
      val md = t(s, d, "embeddings").agg(count(lit(1)).as("n"))
        .selectExpr("greatest(CAST(1 AS BIGINT), n div 125) AS m")
      val ss = t(s, d, "embeddings").crossJoin(broadcast(md))
        .filter(col("vec_id") % col("m") === 0)
        .select("vec_id", "embedding")
      val el = ss
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
        .select(col("vec_id"), col("i"),
          floor(col("xf").cast("double") * 1e6).cast("long").as("xq"))
        .localCheckpoint(true) // sample-bounded; both pair sides
      val pd = el.as("a").join(el.as("b"),
          col("a.i") === col("b.i") && col("a.vec_id") =!= col("b.vec_id"))
        .groupBy(col("a.vec_id").as("av"), col("b.vec_id").as("bv"))
        .agg(sum((col("a.xq") - col("b.xq"))
          * (col("a.xq") - col("b.xq"))).as("d2"))
      val kn = pd.withColumn("rk", row_number().over(
          Window.partitionBy("av").orderBy("d2", "bv")))
        .filter(col("rk") <= 5).select("bv")
      val ind = ss.select("vec_id")
        .join(kn, col("vec_id") === col("bv"), "left")
        .groupBy("vec_id").agg(count("bv").as("ideg"))
        .localCheckpoint(true) // sample-bounded; histogram + moments
      val hist = ind.groupBy(col("ideg").as("in_degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .selectExpr("in_degree", "n_nodes", "CAST(NULL AS DOUBLE) AS skewness")
      val mom = ind.agg(count(lit(1)).as("n"), sum("ideg").as("s1"),
          sum(col("ideg") * col("ideg")).as("s2"),
          sum(col("ideg") * col("ideg") * col("ideg")).as("s3"))
        .selectExpr("CAST(-1 AS BIGINT) AS in_degree", "n AS n_nodes",
          s"${HubExprs.skew} AS skewness")
      hist.unionByName(mom).orderBy("in_degree")
    }
  )

  /** q318's greedy farthest-point core over a quantized (vec_id, i, xq)
    * component frame: each round is one corpus aggregate (distance to the
    * newest center), one min-fold, and a 1-row argmax collect (bounded
    * driver state). Returns (round, vec_id, covering-radius² at
    * selection; None for the seed). Exact-integer distances ⇒
    * deterministic picks. Public for CoresetSpec. */
  def kcenterPicks(el: DataFrame, k: Int): Seq[(Long, Long, Option[Long])] = {
    def distTo(id: Long) = el.join(
        broadcast(el.filter(col("vec_id") === id)
          .select(col("i"), col("xq").as("cq"))), Seq("i"))
      .groupBy("vec_id")
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq")))
        .as("nd"))
    val c1 = el.agg(min("vec_id")).head().getLong(0)
    var dcur = distTo(c1).withColumnRenamed("nd", "d2")
      .localCheckpoint(true)
    var picks = Vector[(Long, Long, Option[Long])]((1L, c1, None))
    for (r <- 2 to k) {
      val row = dcur.orderBy(col("d2").desc, col("vec_id")).limit(1)
        .head() // 1-row argmax: bounded driver state
      val (id, rad) = (row.getLong(0), row.getLong(1))
      picks :+= ((r.toLong, id, Some(rad)))
      if (r < k)
        dcur = dcur.join(distTo(id), "vec_id")
          .select(col("vec_id"), least(col("d2"), col("nd")).as("d2"))
          .localCheckpoint(true) // corpus-skinny; keeps round lineage flat
    }
    picks
  }

  /** q318's oracle: the greedy farthest-point rounds unrolled from ONE
    * template; every CTE MATERIALIZED (the q314 lesson — un-hinted,
    * DuckDB re-inlines the component explode into each round). */
  private object CoresetExprs {
    val k = 8
    val radius: String = "round(sqrt(CAST(d2 AS DOUBLE)) / 1e6, 6)"
    private def round(r: Int): String =
      s"""s$r AS MATERIALIZED (SELECT vec_id, d2 FROM d${r - 1}
         |       ORDER BY d2 DESC, vec_id LIMIT 1),
         |c$r AS MATERIALIZED (
         |  SELECT e2.i, e2.xq FROM el e2, s$r WHERE e2.vec_id = s$r.vec_id),
         |nd$r AS MATERIALIZED (
         |  SELECT e.vec_id,
         |         CAST(sum((e.xq - c.xq) * (e.xq - c.xq)) AS BIGINT) AS nd
         |  FROM el e JOIN c$r c ON c.i = e.i
         |  GROUP BY 1),
         |d$r AS MATERIALIZED (
         |  SELECT d.vec_id, least(d.d2, nd$r.nd) AS d2
         |  FROM d${r - 1} d JOIN nd$r ON d.vec_id = nd$r.vec_id)""".stripMargin
    val oracle: String =
      s"""WITH el AS MATERIALIZED (
         |  SELECT vec_id, i,
         |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)
         |           AS xq
         |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
         |c1 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM embeddings),
         |cc1 AS MATERIALIZED (
         |  SELECT e2.i, e2.xq FROM el e2, c1 WHERE e2.vec_id = c1.vec_id),
         |d1 AS MATERIALIZED (
         |  SELECT e.vec_id,
         |         CAST(sum((e.xq - c.xq) * (e.xq - c.xq)) AS BIGINT) AS d2
         |  FROM el e JOIN cc1 c ON c.i = e.i
         |  GROUP BY 1),
         |${(2 to k).map(round).mkString(",\n")}
         |SELECT CAST(1 AS BIGINT) AS r,
         |       (SELECT vec_id FROM c1) AS vec_id,
         |       CAST(NULL AS DOUBLE) AS radius
         |UNION ALL
         |${(2 to k).map(r =>
            s"SELECT $r, vec_id, $radius FROM s$r").mkString("\nUNION ALL\n")}
         |ORDER BY r""".stripMargin
  }

  /** q319's skewness template over the exact n/s1/s2/s3 in-degree power
    * sums — ONE textual definition parsed by both engines (the
    * MomentExprs discipline), with a zero-variance guard. */
  private object HubExprs {
    private val m = "(CAST(s1 AS DOUBLE) / n)"
    private val v = s"(CAST(s2 AS DOUBLE) / n - $m * $m)"
    val skew: String =
      s"CASE WHEN $v <= 0 THEN 0.0 ELSE " +
        s"round((CAST(s3 AS DOUBLE) / n - 3 * $m * (CAST(s2 AS DOUBLE) / n) " +
        s"+ 2 * $m * $m * $m) / pow($v, 1.5), 6) END"
  }


  /** Inverted multi-index (Babenko & Lempitsky 2012) approximate top-k:
    * the vector splits into two halves, each half gets its OWN small
    * codebook (k-means over sub-vectors, memoized KMeans.fit), and a cell is
    * the PAIR of half-assignments — kPerHalf² cells from 2·kPerHalf
    * centroids. That product structure is the trillion-vector trick: 2×8
    * centroids index as finely as a flat IVF with 64 lists at 1/4 the
    * model size and assignment cost, and cell population is far more
    * uniform than flat-IVF lists. Queries probe the nProbe nearest
    * centroids PER HALF (nProbe² cells — bounded, corpus-independent
    * fan-out); candidates rerank by exact cosine. Corpus-side work: two
    * broadcast argmax passes (assignment) + one equi-join on the cell key;
    * nothing corpus-sized shuffles more than once. */
  def imiTopK(e: DataFrame, queryIds: Seq[Long], k: Int,
      kPerHalf: Int = 8, nProbe: Int = 3, iters: Int = 3): DataFrame = {
    import graft.ml.KMeans
    val spark = e.sparkSession
    val h = e.select(col("vec_id"), col("embedding"),
      expr("slice(embedding, 1, 32)").as("h1"),
      expr("slice(embedding, 33, 32)").as("h2"))
    val c1 = KMeans.centroidsDF(spark, KMeans.fit(h, "vec_id", "h1", kPerHalf, iters))
    val c2 = KMeans.centroidsDF(spark, KMeans.fit(h, "vec_id", "h2", kPerHalf, iters))
    // cell assignment: one broadcast argmax pass per half, equi-joined on
    // vec_id (each pass is agg-reduced before the join — no corpus fanout)
    val a1 = KMeans.assign(h, "vec_id", "h1", c1)
      .select(col("vec_id"), col("cid").as("c1"))
    val a2 = KMeans.assign(h, "vec_id", "h2", c2)
      .select(col("vec_id"), col("cid").as("c2"))
    val lists = e.join(a1, "vec_id").join(a2, "vec_id")
      .select(col("vec_id"), col("c1"), col("c2"), col("embedding"))
    val q = h.filter(col("vec_id").isin(queryIds: _*))
    val p1 = KMeans.probes(q, "vec_id", "h1", c1, nProbe)
      .select(col("vec_id").as("qid"), col("cid").as("c1"))
    val p2 = KMeans.probes(q, "vec_id", "h2", c2, nProbe)
      .select(col("vec_id").as("qid"), col("cid").as("c2"))
    val cells = p1.join(p2, Seq("qid"))
      .join(q.select(col("vec_id").as("qid"), col("embedding").as("qe")),
        Seq("qid"))
    // a corpus vector lives in exactly ONE cell, so the probed-cell join
    // can never surface a candidate twice — no dedupe pass needed
    val scored = broadcast(cells).join(lists, Seq("c1", "c2"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosineFast(col("qe"), col("embedding")).as("c"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("c"), 4).as("score"))
      .orderBy("qid", "rank")
  }

  /** Popularity-style deterministic corpus weight for the MIPS family. */
  private def mipsWeight(id: Column): Column =
    lit(1.0) + (id % 7).cast("double") * lit(0.1)

  /** Exact MIPS top-k: ⟨q, w·x⟩ = w·⟨q,x⟩ via the native kernel. */
  def bruteMipsTopK(e: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (mipsWeight(col("vec_id")) *
          VectorFunctions.innerProductFast(col("qe"), col("embedding")))
          .as("c"))
    groupedTopK(scored, k)
  }

  /** Approximate MIPS via the augmented-vector reduction + multi-probe
    * sign-LSH (see q277's QueryDef for the scale rationale). */
  def mipsLshTopK(e: DataFrame, queryIds: Seq[Long], k: Int,
      nBits: Int = 3): DataFrame = {
    val wx = e.select(col("vec_id"),
      transform(col("embedding"),
        v => (v.cast("double") * mipsWeight(col("vec_id"))).cast("float"))
        .as("wx"))
      .withColumn("n2", VectorOps.dot(col("wx"), col("wx")))
    // M² = max corpus norm² — one bounded driver scalar (KMeans pattern)
    val m2 = wx.agg(max("n2")).head().getDouble(0)
    val aug = wx.select(col("vec_id"),
      concat(col("wx"),
        array(sqrt(greatest(lit(m2) - col("n2"), lit(0.0))).cast("float")))
        .as("aug"))
    val planes = VectorOps.hyperplanes(nBits = nBits, dim = 65)
    val b = aug.withColumn("bucket", VectorOps.lshBucket(col("aug"), planes))
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        concat(col("embedding"), array(lit(0.0f))).as("qaug"))
      .select(col("qid"), col("qe"),
        explode(VectorOps.lshProbes(col("qaug"), planes)).as("bucket"))
    // candidates from the probed inverted lists; rerank with the EXACT
    // kernel (the augmented coordinate only steered the bucketing)
    val cand = broadcast(q).join(b, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .dropDuplicates("qid", "vec_id")
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        (mipsWeight(col("vec_id")) *
          VectorFunctions.innerProductFast(col("qe"), col("embedding")))
          .as("c"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("c"), 4).as("score"))
      .orderBy("qid", "rank")
  }

  /** MIPS analogue of [[exactTopKOracle]]: exact weighted inner-product
    * top-k recomputed by DuckDB (DOUBLE-cast lists so both engines
    * accumulate in double, the q257 discipline) + pinned audit flags. */
  private def mipsTopKOracle(flags: String*): String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
       |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
       |     s AS (SELECT qid, e.vec_id,
       |                  (1.0 + (e.vec_id % 7) * 0.1) *
       |                  list_inner_product(qe, CAST(e.embedding AS DOUBLE[]))
       |                    AS c
       |           FROM q JOIN embeddings e ON e.vec_id <> qid),
       |     r AS (SELECT qid, vec_id, c,
       |                  row_number() OVER (PARTITION BY qid
       |                                     ORDER BY c DESC, vec_id) AS rn
       |           FROM s)
       |SELECT qid, rn AS rank, vec_id, round(c, 4) AS score,
       |       ${flags.map(f => s"TRUE AS $f").mkString(", ")}
       |FROM r WHERE rn <= 10
       |ORDER BY qid, rank""".stripMargin

  /** Coarse-to-fine top-k: truncated-prefix cosine over the full corpus
    * selects `coarseK` candidates per query; full-dim cosine reranks only
    * those. See q174's QueryDef for the scale rationale. */
  def twoStageTopK(e: DataFrame, queryIds: Seq[Long], k: Int,
      coarseK: Int = 200, dims: Int = 32): DataFrame = {
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        slice(col("embedding"), 1, dims).as("qc"))
    val wC = Window.partitionBy("qid").orderBy(col("cc").desc, col("vec_id"))
    val cands = broadcast(q).join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qe"), col("vec_id"), col("embedding"),
        VectorFunctions.cosineFast(col("qc"), slice(col("embedding"), 1, dims))
          .as("cc"))
      .withColumn("crank", row_number().over(wC))
      .filter(col("crank") <= coarseK)
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("vec_id"))
    cands.select(col("qid"), col("vec_id"),
        VectorFunctions.cosineFast(col("qe"), col("embedding")).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("c"), 4).as("score"))
      .orderBy("qid", "rank")
  }
}
