package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar kernel for [[JaroWinkler]], kept as a plain static-forwardable
  * method so generated code can call it directly and the expression stays
  * inside whole-stage codegen.
  *
  * Semantics pinned to the textbook definition (Winkler 1990) as DuckDB's
  * `jaro_winkler_similarity` implements it, verified empirically against
  * DuckDB 1.x on boundary cases:
  *   - either side empty → 0.0 (including empty-vs-empty);
  *   - match window `max(|a|,|b|)/2 - 1`, floored at 0 (so 2-char swaps
  *     like "ab"/"ba" score 0 — no cross-position match at window 0);
  *   - transpositions = half the out-of-order matched pairs;
  *   - prefix boost `j + l·0.1·(1−j)` with `l ≤ 4` applied only when the
  *     Jaro score exceeds the 0.7 boost threshold;
  *   - iteration is by Unicode CODE POINT, not UTF-16 code unit — a
  *     surrogate pair (emoji, mathematical alphanumerics) counts as one
  *     character, matching DuckDB's codepoint-based lengths and windows
  *     (round-8 ADVICE: charAt iteration scored non-BMP strings
  *     differently; JaroWinklerSpec pins a surrogate-pair case).
  */
object JaroWinklerAlgo {
  def sim(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString.codePoints().toArray
    val s2 = b.toString.codePoints().toArray
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val w = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val c = s1(i)
      var j = math.max(0, i - w); val hi = math.min(l2, i + w + 1)
      var matched = false
      while (j < hi && !matched) {
        if (!m2(j) && s2(j) == c) { m1(i) = true; m2(j) = true; m += 1; matched = true }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) t += 1
        k += 1
      }
      i += 1
    }
    val tr = t / 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - tr).toDouble / m) / 3.0
    var l = 0
    val lMax = math.min(math.min(l1, l2), 4)
    while (l < lMax && s1(l) == s2(l)) l += 1
    if (jaro > 0.7) jaro + l * 0.1 * (1.0 - jaro) else jaro
  }
}

/** Native Catalyst expression: Jaro-Winkler string similarity in [0,1].
  *
  * Spark ships `levenshtein` but no Jaro-Winkler, the standard measure for
  * short-string fuzzy matching (names, vocabulary variants, OCR noise) —
  * edit distance over-penalizes transpositions exactly where typo-shaped
  * noise concentrates. Codegen is a single static call, so a vocabulary
  * self-join probe stays one WholeStageCodegen span.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerAlgo.sim(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"org.apache.spark.sql.graftx.JaroWinklerAlgo.sim($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerFn {
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.binary(JaroWinkler)(a, b)
}
