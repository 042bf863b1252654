package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expressions.CosineSimilarity

/** Engine extension point: registers graft's custom Catalyst expressions as
  * SQL functions, so `spark.sql("SELECT cosine_sim(a, b)")` works in any
  * session built with `.withExtensions(new GraftExtensions)` (or via the
  * `spark.sql.extensions` conf). For sessions that already exist (the
  * driver owns session construction in this harness),
  * [[graft.plans.GraftFunctions.register]] installs the same functions
  * directly. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("squared_distance"),
      new ExpressionInfo(classOf[graft.expressions.SquaredDistance].getName, "squared_distance"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expressions.SquaredDistance(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[graft.expressions.JaccardSimilarity].getName, "jaccard_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expressions.JaccardSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("bigram_l1"),
      new ExpressionInfo(classOf[graft.expressions.BigramL1].getName, "bigram_l1"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expressions.BigramL1(exprs(0), exprs(1))))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => RagSearchStrategy)
    e.injectPlannerStrategy(_ => UpsertMergeStrategy)
    e.injectOptimizerRule(_ => ApproxDistinctRewrite)
    e.injectOptimizerRule(_ => NanosRangePushdown)
  }
}
