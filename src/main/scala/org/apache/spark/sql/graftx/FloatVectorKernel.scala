/** graft's spark-internal-access package: native Catalyst expressions need
  * `private[sql]` API (AbstractDataType, ExpressionUtils), so they live in an
  * `org.apache.spark.sql` subpackage — the established pattern for Spark
  * extension libraries. Everything else in graft stays on the public API. */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst kernel over two `array<float>` columns, accumulated in
  * double with a single fused primitive loop, result `double`.
  *
  * This is the 100 TB fast path for similarity search (SURVEY.md §7.4): the
  * higher-order-function forms (graft.functions.VectorOps) allocate
  * per-element lambda frames and make several array traversals; a kernel
  * makes one pass with no allocation, and `doGenCode` splices the loop
  * directly into whole-stage codegen. Both forms accumulate left-to-right in
  * double, so results are bit-identical (pinned by VectorFunctionsSpec).
  *
  * The base owns the contract every kernel shares; a kernel supplies only
  * its accumulators, per-element step and result, interpreted
  * ([[evalKernel]]) and generated ([[genKernel]]).
  *
  * Degenerate inputs yield NULL, not a silent wrong answer: mismatched
  * dimensions would otherwise score a truncated prefix. A NULL element
  * likewise nulls the result (ArrayData.getFloat on a null slot reads
  * garbage-or-zero) — the same propagation the zip_with/aggregate baselines
  * have, keeping the two forms bit-identical on every input.
  *
  * Perf: the null-element check is hoisted OUT of the arithmetic loop — in
  * CODEGEN it is skipped entirely when both child schemas say
  * containsNull=false, and otherwise runs as a separate tight pre-scan (bit
  * tests only, no float math) so the fused multiply-accumulate loop carries
  * zero branches. The per-element branch inside the hot loop cost ~60% on
  * the q44 all-pairs cosine kernel (BENCH_r01 1.21 s → r02 1.92 s).
  *
  * The codegen skip TRUSTS the child schema: an upstream expression that
  * mis-declares containsNull=false while producing null slots would make
  * the kernel read a garbage/zero float instead of returning NULL. That is
  * the standard Catalyst contract (every built-in collection expression
  * relies on declared element nullability), so the skip is sound for any
  * well-formed plan; the interpreted path nevertheless ALWAYS pre-scans — it
  * is not the hot path, and keeping the scan there means non-codegen
  * execution preserves the NULL contract even against a mis-declaring child.
  */
abstract class FloatVectorKernel extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Interpreted form: accumulate over elements `0 until n` of two arrays
    * already checked for equal length and no NULL element; the result, or
    * null. */
  protected def evalKernel(x: ArrayData, y: ArrayData, n: Int): Any

  /** Generated form over element `i` of arrays `a` and `b`: accumulator
    * declarations, loop body, and the statement setting `ev.value` (or
    * `ev.isNull`). */
  protected def genKernel(ctx: CodegenContext, ev: ExprCode,
      a: String, b: String, i: String): FloatVectorKernel.Code

  private lazy val mayHaveNullElements: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var j = 0
    while (j < n) {
      if (x.isNullAt(j) || y.isNullAt(j)) return null
      j += 1
    }
    evalKernel(x, y, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val kernel = genKernel(ctx, ev, a, b, i)
      val nullScan = if (mayHaveNullElements) {
        s"""
           |for (int $j = 0; $j < $n; $j++) {
           |  if ($a.isNullAt($j) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
           |}
         """.stripMargin
      } else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  $nullScan
         |}
         |if (!${ev.isNull}) {
         |  ${kernel.init}
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${kernel.step}
         |  }
         |  ${kernel.result}
         |}
       """.stripMargin
    })
}

object FloatVectorKernel {
  /** One kernel's generated pieces; see [[FloatVectorKernel.genKernel]]. */
  final case class Code(init: String, step: String, result: String)
}

/** Cosine similarity. A zero-norm vector yields NULL rather than NaN, which
  * Spark orders ABOVE every double, so a single garbage embedding would rank
  * #1 in every `ORDER BY cos DESC` top-k; NULL drops out of thresholds and
  * rankings instead. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends FloatVectorKernel {
  override def prettyName: String = "cosine_similarity"

  override protected def evalKernel(x: ArrayData, y: ArrayData, n: Int): Any = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def genKernel(ctx: CodegenContext, ev: ExprCode,
      a: String, b: String, i: String): FloatVectorKernel.Code = {
    val dot = ctx.freshName("dot")
    val na = ctx.freshName("na")
    val nb = ctx.freshName("nb")
    val xi = ctx.freshName("xi")
    val yi = ctx.freshName("yi")
    FloatVectorKernel.Code(
      s"double $dot = 0.0, $na = 0.0, $nb = 0.0;",
      s"""double $xi = (double) $a.getFloat($i);
         |double $yi = (double) $b.getFloat($i);
         |$dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;""".stripMargin,
      s"""if ($na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Inner product ⟨a,b⟩ — the maximum-inner-product search (MIPS) score:
  * ranks by the RAW dot product, the scoring rule when corpus vectors carry
  * meaningful norms (popularity/recency-scaled document embeddings,
  * two-tower retrieval logits), where cosine's normalization would erase
  * the signal. */
case class InnerProduct(left: Expression, right: Expression)
    extends FloatVectorKernel {
  override def prettyName: String = "inner_product"

  override protected def evalKernel(x: ArrayData, y: ArrayData, n: Int): Any = {
    var acc = 0.0; var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def genKernel(ctx: CodegenContext, ev: ExprCode,
      a: String, b: String, i: String): FloatVectorKernel.Code = {
    val acc = ctx.freshName("acc")
    FloatVectorKernel.Code(
      s"double $acc = 0.0;",
      s"$acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);",
      s"${ev.value} = $acc;")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InnerProduct =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance ‖a−b‖² — the kernel behind product
  * quantization (codebook fitting, encoding, and ADC table construction all
  * reduce to sub-vector L2 argmins; encoding evaluates it m×k times per
  * vector). */
case class SquaredDistance(left: Expression, right: Expression)
    extends FloatVectorKernel {
  override def prettyName: String = "squared_distance"

  override protected def evalKernel(x: ArrayData, y: ArrayData, n: Int): Any = {
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  override protected def genKernel(ctx: CodegenContext, ev: ExprCode,
      a: String, b: String, i: String): FloatVectorKernel.Code = {
    val acc = ctx.freshName("acc")
    val dd = ctx.freshName("dd")
    FloatVectorKernel.Code(
      s"double $acc = 0.0;",
      s"""double $dd = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |$acc += $dd * $dd;""".stripMargin,
      s"${ev.value} = $acc;")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredDistance =
    copy(left = newLeft, right = newRight)
}
