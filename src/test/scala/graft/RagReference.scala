package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.CosineSimilarity.cosineSim
import graft.ops.{DedupOps, Num, VectorOps}
import graft.plans.{QueryIntent, QuerySpec}

/** The RAG request composed from DataFrame operators: the reference that
  * [[graft.plans.RagSearch]] must equal row for row. Window/ticker filter,
  * broadcast cross join with the query vector, k-NN by (dist NULLS LAST,
  * vec_id), (ticker, ts) keep-first in the same order, intent rescore,
  * top-N by (score DESC, vec_id). A query frame of n rows makes it a
  * k-NN over all n × store pairs, so compare it on one-row (or empty)
  * query frames only. */
object RagReference {
  def search(spec: QuerySpec, queryVec: DataFrame)(store: DataFrame): DataFrame = {
    val windowed = store.filter(col("ts").between(spec.start, spec.end))
    val filtered =
      spec.ticker.fold(windowed)(t => windowed.filter(col("ticker") === t))
    val knn = VectorOps.knn(
      VectorOps.withQueryVector(filtered, queryVec),
      lit(1.0) - cosineSim(col("embedding"), col("q_emb")),
      spec.k, col("vec_id"))
    val deduped = DedupOps.keepFirst(knn,
      keys = Seq(col("ticker"), col("ts")),
      order = Seq(col("dist").asc_nulls_last, col("vec_id")))
    deduped
      .withColumn("score", score(spec)(col("dist"), col("ts")))
      .orderBy(col("score").desc, col("vec_id")).limit(spec.topN)
      .select("vec_id", "ticker", "ts", "dist", "score")
  }

  /** The intent score (rag_engine.py:147-163) composed from the column
    * formulas: the decay blend with age clamped at 0, or pure similarity,
    * both r6-quantized. */
  def score(spec: QuerySpec)(dist: Column, ts: Column): Column =
    spec.intent match {
      case QueryIntent.RealTime =>
        VectorOps.timeDecayScore(dist, greatest(lit(spec.now) - ts, lit(0L)).cast("double"))
      case QueryIntent.Historical => Num.r6(lit(1.0) - dist)
    }
}
