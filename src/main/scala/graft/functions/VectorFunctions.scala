package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftx.{ColumnBridge, CosineSimilarity, InnerProduct,
  SortedIntersectCount, SquaredDistance}

/** Column-facing wrappers for the native vector expressions. */
object VectorFunctions {

  /** Native single-pass cosine similarity
    * (see org.apache.spark.sql.graftx.CosineSimilarity). */
  def cosineFast(a: Column, b: Column): Column =
    ColumnBridge.binary(CosineSimilarity)(a, b)

  /** Native merge-pass |A ∩ B| over sorted array<bigint>
    * (see org.apache.spark.sql.graftx.SortedIntersectCount). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.binary(SortedIntersectCount)(a, b)

  /** Native early-exit `|A ∩ B| >= alpha` over sorted array<bigint> —
    * the threshold-aware verify kernel
    * (see org.apache.spark.sql.graftx.SortedIntersectAtLeast). */
  def sortedIntersectAtLeast(a: Column, b: Column, alpha: Column): Column =
    org.apache.spark.sql.graftx.SortedIntersectAtLeastFn
      .sortedIntersectAtLeast(a, b, alpha)

  /** Native single-pass squared Euclidean distance
    * (see org.apache.spark.sql.graftx.SquaredDistance). */
  def squaredDistanceFast(a: Column, b: Column): Column =
    ColumnBridge.binary(SquaredDistance)(a, b)

  /** Native single-pass inner product ⟨a,b⟩ in double — the MIPS kernel
    * (see org.apache.spark.sql.graftx.InnerProduct). */
  def innerProductFast(a: Column, b: Column): Column =
    ColumnBridge.binary(InnerProduct)(a, b)
}
