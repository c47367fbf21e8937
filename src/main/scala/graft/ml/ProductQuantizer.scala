package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) on DataFrames: split each `array<float>`
  * vector into `m` contiguous sub-vectors, learn a k-centroid Euclidean
  * codebook per subspace ([[KMeans]] with the L2 score), and represent each
  * vector by its `m` nearest-code ids.
  *
  * Why this is THE 100 TB vector-storage shape: a 64-dim float corpus is
  * 256 B/vector; PQ at m=4, k=16 is 4 code ids — a 64× compression that
  * makes the whole index fit where the raw corpus cannot, while queries
  * score compressed codes directly (no decompression) via asymmetric
  * distance (ADC): per query, an m×k table of exact sub-distances to every
  * centroid is built once, and a corpus vector's approximate distance is m
  * table lookups — row-local array indexing, zero shuffle, fused into
  * whole-stage codegen. The model (m×k×subDim floats) is the only
  * driver-side state; corpus rows never leave the executors.
  */
object ProductQuantizer {

  /** Learn the m codebooks: [[KMeans.fitSubspaces]] over the (id, sub, sv)
    * frame with the L2 score, all m subspaces trained by the same jobs (m
    * serial fits would cost m job chains for the same arithmetic). */
  def fit(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int = 4, k: Int = 16, iters: Int = 3): KMeans.Model = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val model = KMeans.fitSubspaces(KMeans.subVectors(vecs, idCol, vecCol, m, dim / m),
      idCol, m, k, iters, KMeans.NegL2)
    require(model.codebooks.head.nonEmpty, "PQ fit on an empty corpus")
    model
  }

  /** Encode the corpus: (idCol, codes ARRAY<INT>) with codes(j) the L2-
    * nearest code of subspace j (lowest-code tie-break). One pass: explode
    * to (id, sub, sv), the per-subspace argmax against the broadcast m×k
    * codebook, re-assemble the code array. */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
      model: KMeans.Model): DataFrame =
    KMeans.assignSubspaces(KMeans.subVectors(vecs, idCol, vecCol, model.m, model.subDim),
        idCol, model.codebooks, KMeans.NegL2)
      .groupBy(idCol)
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Per-query ADC tables: (qid, tabs ARRAY<ARRAY<DOUBLE>>), tabs(j)(c) =
    * ‖q_sub_j − centroid_c‖² — exact sub-distances, m×k doubles per query. */
  def adcTables(queries: DataFrame, idCol: String, vecCol: String,
      model: KMeans.Model): DataFrame = {
    val cb = KMeans.codebooksDF(queries.sparkSession, model.codebooks)
    KMeans.subVectors(queries, idCol, vecCol, model.m, model.subDim)
      .join(broadcast(cb), "sub")
      .select(col(idCol).as("qid"), col("sub"), col("code"),
        VectorFunctions.squaredDistanceFast(col("sv"), col("cent")).as("dsq"))
      .groupBy("qid", "sub")
      .agg(transform(
        array_sort(collect_list(struct(col("code"), col("dsq")))),
        s => s.getField("dsq")).as("row"))
      .groupBy("qid")
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("row")))),
        s => s.getField("row")).as("tabs"))
  }

  /** ADC distance of a stored code array against a query's sub-distance
    * tables — the m-lookup scoring expression [[search]] ranks by, exposed
    * so audits can score arbitrary (code, table) pairs. */
  def adcDistance(codes: org.apache.spark.sql.Column,
      tabs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      zip_with(codes, tabs, (c, row) => element_at(row, c.cast("int") + 1)),
      lit(0.0), (acc, v) => acc + v)

  /** ADC top-k: every (query, corpus-code) pair scores as m array lookups —
    * `zip_with(codes, tabs)` indexes each subspace's table row by the
    * stored code, row-local and codegen-friendly. The query side (qid +
    * m×k table) broadcasts; the encoded corpus streams once; ranking cuts
    * at k per query. Returns (qid, rank, idCol, adist). */
  def search(codes: DataFrame, idCol: String, tables: DataFrame,
      topK: Int): DataFrame = {
    val adist = adcDistance(col("codes"), col("tabs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adist"), col(idCol))
    codes.join(broadcast(tables), col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), adist.as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col(idCol), round(col("adist"), 4).as("adist"))
  }
}
