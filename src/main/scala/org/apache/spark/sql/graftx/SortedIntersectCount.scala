package org.apache.spark.sql.graftx

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** Native Catalyst expression: |A ∩ B| for two ascending-sorted
  * `array<bigint>` columns via a single merge pass — O(|A|+|B|), no hash
  * sets, no allocation.
  *
  * This is the per-pair verify kernel for set-similarity dedup (n-gram
  * Jaccard, SURVEY.md §7.4): represent each document's gram set as sorted
  * 64-bit hashes computed once per document, then candidate pairs cost a
  * primitive merge instead of `array_intersect`'s per-call hash-set build
  * (~50× cheaper — the difference between a 513 s and a ~10 s verify stage
  * at sf0.1, and between feasible and not at 100 TB).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var n = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements(), $ny = $b.numElements();
         |int $i = 0, $j = 0; long $n = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i), $yv = $b.getLong($j);
         |  if ($xv == $yv) { $n++; $i++; $j++; }
         |  else if ($xv < $yv) $i++;
         |  else $j++;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
