package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** DataFrame-native k-means (Lloyd's algorithm) — the one centroid learner
  * behind IVF lists, SemDeDup clusters, product-quantizer codebooks and the
  * inverted multi-index (SURVEY.md §7.4: "IVF … as the scale path").
  *
  * Every learner is the same loop over an (id, sub, sv) frame: one
  * k-centroid codebook per subspace `sub`, all subspaces trained by the
  * same jobs, assigned by one of two scores. k-means is one subspace under
  * cosine; product quantization is m subspaces under negative squared L2;
  * the inverted multi-index is two halves under cosine.
  *
  * Shape at 100 TB: the model (subspaces × k × sub-dim floats) is the ONLY
  * driver-side state — per iteration the corpus streams once through a
  * broadcast join against the codebooks (codegen'd native kernels, no UDF)
  * and the update aggregates per (subspace, code, dimension) with map-side
  * partial sums, so the shuffle carries ≤ m·k·dim rows per task regardless
  * of corpus size. Collecting that mean table to the driver each round is
  * the same contract every distributed k-means uses (the model IS the
  * reduction result); corpus rows never reach the driver.
  *
  * Determinism: seeding is, per subspace, the k sub-vectors of lowest
  * (xxhash64, id) (stable across cluster sizes and partitionings); ties in
  * assignment break to the lowest code. Float averaging order across
  * partitions is the one engine-dependent bit, as in any distributed mean —
  * downstream consumers treat centroids as approximate by construction.
  */
object KMeans {

  /** Similarity an assignment runs on: [[Cosine]] (IVF, SemDeDup and IMI
    * over embeddings) or [[NegL2]] (product quantization — sub-vector norms
    * carry signal there, so cosine would be wrong). Both are native codegen
    * kernels; `name` keys the fit memo. */
  private[graft] final case class Score(name: String, fn: (Column, Column) => Column)
  private[graft] val Cosine = Score("cos", VectorFunctions.cosineFast)
  private[graft] val NegL2 = Score("l2", (a, b) => -VectorFunctions.squaredDistanceFast(a, b))

  /** A fitted model: codebooks(sub)(code), `m` subspaces of `subDim`-long
    * centroids (product quantization's m codebooks, k-means's one). */
  final case class Model(m: Int, subDim: Int, codebooks: Seq[Seq[Array[Float]]])

  /** (cid INT, centroid ARRAY<FLOAT>) frame from a driver-side model. */
  def centroidsDF(spark: SparkSession, cents: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "centroid")
      .select(col("cid"), col("centroid").cast("array<float>").as("centroid"))
  }

  /** (sub INT, code INT, cent ARRAY<FLOAT>) frame from per-subspace
    * codebooks, books(sub)(code) — always broadcast. */
  private[ml] def codebooksDF(spark: SparkSession, books: Seq[Seq[Array[Float]]]): DataFrame = {
    import spark.implicits._
    (for {
      (book, sub) <- books.zipWithIndex
      (c, code) <- book.zipWithIndex
    } yield (sub, code, c.toSeq)).toDF("sub", "code", "cent")
      .select(col("sub"), col("code"), col("cent").cast("array<float>").as("cent"))
  }

  /** One row per (vector, subspace): (idCol, sub INT, sv ARRAY<FLOAT>), sv
    * the `sub`-th of `m` contiguous `subDim`-long slices. */
  private[graft] def subVectors(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    vecs.select(col(idCol), posexplode(array(
      (0 until m).map(j => slice(col(vecCol), j * subDim + 1, subDim)): _*
    )).as(Seq("sub", "sv")))

  /** The nearest-centroid argmax every assignment runs: `pairs` holds one
    * row per (vector, candidate centroid); per `keys` group the row of
    * highest `score` wins, the lowest `code` on ties. Returns the keys,
    * `code` (INT), the winning score as `scoreAs` and the `carry` columns,
    * which ride in the argmax struct (codes are unique per group, so a
    * carried column is never compared). */
  private def argmax(pairs: DataFrame, keys: Seq[String], code: String,
      score: Column, scoreAs: String, carry: String*): DataFrame = {
    val best = struct(col(scoreAs) +: (-col(code)).as("ncode") +: carry.map(col): _*)
    pairs.select(keys.map(col) ++ (col(code) +: score.as(scoreAs) +: carry.map(col)): _*)
      .groupBy(keys.map(col): _*)
      .agg(max(best).as("b"))
      .select(keys.map(col) ++ ((-col("b.ncode")).cast("int").as(code) +:
        col(s"b.$scoreAs") +: carry.map(c => col(s"b.$c"))): _*)
  }

  /** Nearest-centroid assignment: (idCol, cid, sim) — one broadcast
    * cross-join pass, cosine argmax with lowest-cid tie-break. */
  def assign(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    argmax(vecs.crossJoin(broadcast(centroids)), Seq(idCol), "cid",
      Cosine.fn(col(vecCol), col("centroid")), "sim")

  /** [[assign]], but CARRYING the vector through the argmax shuffle:
    * (idCol, cid, sim, vecCol) in ONE pass. Callers that need the vector
    * next to the assignment (IVF lists, SemDeDup's cluster
    * materialization) would otherwise join the assignment back to the
    * corpus — an extra corpus-wide shuffle per use; carrying it costs the
    * same bytes through one shuffle instead. */
  def assignWithVec(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    argmax(vecs.crossJoin(broadcast(centroids)), Seq(idCol), "cid",
      Cosine.fn(col(vecCol), col("centroid")), "sim", vecCol)

  /** Per-subspace assignment of an (idCol, sub, sv) frame against
    * codebooks books(sub)(code): (idCol, sub, code, score, carry…). */
  private[graft] def assignSubspaces(subs: DataFrame, idCol: String,
      books: Seq[Seq[Array[Float]]], score: Score, carry: String*): DataFrame =
    argmax(subs.join(broadcast(codebooksDF(subs.sparkSession, books)), "sub"),
      Seq(idCol, "sub"), "code", score.fn(col("sv"), col("cent")), "score", carry: _*)

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

  /** Cosine k-means of `vecCol`: the k centroids after `iters` Lloyd
    * rounds ([[fitSubspaces]] with one subspace). */
  def fit(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Seq[Array[Float]] =
    fitSubspaces(vecs.select(col(idCol), lit(0).as("sub"), col(vecCol).as("sv")),
      idCol, 1, k, iters, Cosine).codebooks.head

  /** Lloyd's algorithm over an (idCol, sub, sv) frame with subspaces
    * 0 until m: the [[Model]] of k codes per subspace. Seeds are
    * the k lowest-(xxhash64(sv), id) sub-vectors of each subspace (no RNG,
    * spread like a random draw); corpora smaller than k train the seeds
    * they have. Each round is one assignment and one per-(sub, code,
    * dimension) mean; empty codes keep their centroid. Memoized per (input,
    * score, params) through [[graft.SessionMemo]] (q84 and q158 fit the
    * same 16-list IVF over the same table, and every harness runs each
    * query more than once). */
  private[graft] def fitSubspaces(subs: DataFrame, idCol: String, m: Int,
      k: Int, iters: Int, score: Score): Model =
    graft.SessionMemo("KMeans.fitSubspaces", subs, score.name, idCol, m, k, iters) {
      val spark = subs.sparkSession
      import spark.implicits._
      // the loop reads the corpus m + iters times: persist it once — the
      // standard iterative-ML posture (spill to disk rather than re-decode
      // parquet each round at 100 TB). Repartition first: the assignment's
      // k×dim multiply-accumulate per vector runs on the cached layout, and
      // a one-file local fixture would pin it to a single scan partition.
      val corpus = subs.repartition(spark.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        var books: Seq[Seq[Array[Float]]] = (0 until m).map(j =>
          corpus.filter(col("sub") === j)
            .orderBy(xxhash64(col("sv")), col(idCol)).limit(k)
            .select(col("sv")).as[Array[Float]].collect().toSeq)
        for (_ <- 0 until iters) {
          // the assignment carries sv, so no join-back to the corpus; ≤
          // m·k·dim mean rows reach the driver
          val means = assignSubspaces(corpus, idCol, books, score, "sv")
            .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
            .groupBy("sub", "code", "pos").agg(avg("v"))
            .as[(Int, Int, Int, Double)].collect()
            .groupBy(r => (r._1, r._2))
          books = books.zipWithIndex.map { case (book, sub) =>
            book.zipWithIndex.map { case (old, code) =>
              means.get((sub, code)).fold(old) { rows =>
                val cent = new Array[Float](old.length)
                rows.foreach(r => cent(r._3) = r._4.toFloat)
                cent
              }
            }
          }
        }
        Model(m, books.head.headOption.fold(0)(_.length), books)
      } finally corpus.unpersist(blocking = false)
    }
}
