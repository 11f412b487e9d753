package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The standard library packaging hook: a vanilla deployment adds
  * `--conf spark.sql.extensions=graft.GraftExtensions` and gets the
  * engine's custom planner strategy and SQL functions with zero code —
  * no session factory required. [[GraftSession]] remains the programmatic
  * path for tests/tools; both register the same surface.
  *
  *   - `AnchoredStrategy`: plans the anchored-window alert aggregation
  *     ([[graft.plans.AnchoredSession]]) as a native SparkPlan.
  *   - `MergeAnchoredFolds`: an optimizer rule that turns a union of
  *     per-setting alert folds over one match frame into one fold with
  *     per-rule settings ([[graft.plans.AnchoredSession.MergeAnchoredFolds]]).
  *   - `cosine_similarity(a, b)`: fused codegen'd cosine over
  *     array<double> ([[graft.plans.CosineSimilarity]]).
  *   - `common_count(a, b)`: distinct-common-element count over two
  *     string arrays — the Jaccard numerator ([[graft.plans.CommonCount]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AnchoredSession.AnchoredStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AnchoredSession.MergeAnchoredFolds)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  /** (identifier, info, builder) descriptions shared by the extensions
    * hook and [[GraftSession.registerFunctions]].
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[graft.plans.CosineSimilarity].getName,
        "cosine_similarity"),
      (args: Seq[Expression]) => graft.plans.CosineSimilarity(args(0), args(1))),
    (FunctionIdentifier("common_count"),
      new ExpressionInfo(classOf[graft.plans.CommonCount].getName,
        "common_count"),
      (args: Seq[Expression]) => graft.plans.CommonCount(args(0), args(1))))
}
