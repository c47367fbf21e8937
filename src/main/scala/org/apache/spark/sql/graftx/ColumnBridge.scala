package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column↔Expression bridge for graft code outside the sql package
  * (`ExpressionUtils` is `private[sql]`): `binary(CosineSimilarity)(a, b)`
  * is the native expression over two columns. */
object ColumnBridge {
  def binary(build: (Expression, Expression) => Expression)(a: Column, b: Column): Column =
    ExpressionUtils.column(build(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
