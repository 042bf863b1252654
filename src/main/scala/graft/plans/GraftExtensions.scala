package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.ColumnBridge

import graft.expressions.{BigramL1, CosineSimilarity, JaccardSimilarity, SquaredDistance}

/** Graft's planner pieces, and the one way a session gets them: the
  * planner strategies of graft's own logical nodes, the optimizer rules,
  * and the SQL functions over graft's Catalyst expressions.
  *
  * [[install]] applies the whole list to a session. Sessions graft builds
  * ([[graft.ops.SessionOps.localSession]]) are installed at build; for a
  * session built elsewhere, the constructors of graft's nodes
  * ([[AsOfJoin]], [[RagSearch]], [[UpsertMerge]]) and
  * [[graft.model.Tables.load]] install it before they plan anything.
  * A `newSession()` starts with none of it, like any session graft did
  * not build. */
object GraftExtensions {
  private val strategies = Seq(AsOfJoinStrategy, RagSearchStrategy, UpsertMergeStrategy)

  /** They run in the optimizer's user-provided batch, after Catalyst has
    * expanded multi-distinct aggregates, so [[ApproxDistinctRewrite]]
    * rewrites single-distinct aggregates only. */
  private val rules = Seq(NanosRangePushdown, ApproxDistinctRewrite)

  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (e => CosineSimilarity(e(0), e(1))),
    "squared_distance" -> (e => SquaredDistance(e(0), e(1))),
    "jaccard_sim" -> (e => JaccardSimilarity(e(0), e(1))),
    "bigram_l1" -> (e => BigramL1(e(0), e(1))))

  /** Idempotent: an installed session pays one membership check. The
    * strategies go in last, in one assignment, so a session that has them
    * has everything. */
  def install(spark: SparkSession): Unit =
    if (!installed(spark)) synchronized {
      if (!installed(spark)) {
        val registry = ColumnBridge.functionRegistry(spark)
        functions.foreach { case (name, build) =>
          registry.createOrReplaceTempFunction(name, build, "scala_udf")
        }
        spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++ rules
        spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ strategies
      }
    }

  private def installed(spark: SparkSession): Boolean =
    spark.experimental.extraStrategies.contains(strategies.last)
}
