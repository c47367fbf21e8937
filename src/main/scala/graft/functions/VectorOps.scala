package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector operations over embedding columns (`array<float>`) using Spark's
  * higher-order functions — declarative, codegen-eligible, no UDF boxing.
  * (A native Catalyst Expression with doGenCode is the planned fast path for
  * the 100 TB posture; these built-in forms are the semantic baseline it must
  * match.)
  *
  * All arithmetic is done in double with left-to-right accumulation so
  * results are bit-deterministic and engine-comparable.
  */
object VectorOps {

  /** Σ aᵢ·bᵢ in double, array order. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ in double. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double; NULL when either norm is zero (the
    * native kernel's rule — a division would raise under ANSI). */
  def cosine(a: Column, b: Column): Column = {
    val (na, nb) = (l2norm(a), l2norm(b))
    when(na =!= 0.0 && nb =!= 0.0, dot(a, b) / (na * nb))
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH (seeded; the same
    * planes on every executor — shipped as literals, no RNG at runtime). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: bit k = [v · h_k >= 0]. Vectors with high cosine
    * land in the same bucket with high probability — the shuffle key that
    * turns all-pairs similarity into a per-bucket join. */
  def lshBucket(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (h, k) =>
      when(dot(v, array(h.map(lit(_)): _*)) >= 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Multi-probe buckets: the vector's own bucket plus every one-bit flip —
    * the neighbors a near-match most likely fell into when it sat close to
    * one hyperplane. nBits+1 probes trade a bounded fan-out for recall
    * (single-probe recall is the classic sign-LSH weakness). */
  def lshProbes(v: Column, planes: Seq[Array[Double]]): Column = {
    val own = lshBucket(v, planes)
    array(own +: planes.indices.map(k => own.bitwiseXOR(lit(1L << k))): _*)
  }
}
