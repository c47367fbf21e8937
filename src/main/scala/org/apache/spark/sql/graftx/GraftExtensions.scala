package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** SparkSessionExtensions entry point: makes the native graft expressions
  * addressable from SQL (`SELECT cosine_similarity(a.e, b.e) ...`).
  *
  * Wire up with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=org.apache.spark.sql.graftx.GraftExtensions`;
  * [[GraftExtensions.register]] does the same on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** A two-argument expression registered under its `prettyName`. */
  private def binary(build: (Expression, Expression) => Expression): FunctionDescription = {
    val proto = build(Literal(null), Literal(null))
    (new FunctionIdentifier(proto.prettyName),
      new ExpressionInfo(proto.getClass.getName, proto.prettyName),
      (args: Seq[Expression]) => build(args(0), args(1)))
  }

  val functions: Seq[FunctionDescription] = Seq(
    binary(CosineSimilarity),
    binary(SortedIntersectCount),
    binary(InnerProduct),
    binary(SquaredDistance),
    binary(JaroWinkler))

  // each rule is gated off unless its conf is set
  private val rules: Seq[Rule[LogicalPlan]] =
    Seq(RangeJoinRewrite, GlobalWindowRewrite, SummaryRewrite)
  private val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy)

  /** Register on an already-built session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    functions.foreach { case (ident, info, builder) =>
      classic.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    // sessions built without withExtensions get the rules and strategies
    // through the user-provided-optimizers/strategies batches
    val experimental = classic.experimental
    experimental.extraOptimizations ++=
      rules.filterNot(experimental.extraOptimizations.contains)
    experimental.extraStrategies ++=
      strategies.filterNot(experimental.extraStrategies.contains)
  }
}
