package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Divide, Exp, Expression, Floor, Greatest, Literal, Multiply, Subtract, UnaryMinus}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

/** Search intent, as emitted by the reference's router
  * (/root/reference/src/app/rag_engine.py:96-99): REAL_TIME applies the
  * freshness-decay re-rank, HISTORICAL scores on pure semantic similarity
  * (rag_engine.py:147-163). */
sealed trait QueryIntent
object QueryIntent {
  case object RealTime extends QueryIntent
  case object Historical extends QueryIntent
}

/** The typed query spec — SURVEY §3.3's engine surface for the reference's
  * LLM router output (/root/reference/src/app/rag_engine.py:59-145): the
  * router compiles natural language into `{ticker, start, end, intent}`
  * JSON; this case class is that contract with the NL front end stripped
  * (out of engine scope). [[RagPlans.search]] turns one spec into one
  * Catalyst plan — the deterministic half of "query compilation".
  *
  * @param ticker optional exact-match metadata prefilter
  *               (rag_engine.py:207-210; None = no ticker clause)
  * @param start  inclusive epoch-second window start (Chroma `$gte`,
  *               rag_engine.py:203)
  * @param end    inclusive window end (Chroma `$lte`, rag_engine.py:204)
  * @param intent decay on (RealTime) / off (Historical)
  * @param now    the "query time" the decay ages against. The reference
  *               reads the wall clock (rag_engine.py:158); here it is an
  *               explicit field so plans are deterministic and replayable.
  * @param k      candidate pool size (n_results=20, rag_engine.py:214)
  * @param topN   final context size (rag_engine.py:253)
  */
final case class QuerySpec(
    ticker: Option[String],
    start: Long,
    end: Long,
    intent: QueryIntent,
    now: Long,
    k: Int = 20,
    topN: Int = 8) {
  require(k >= 1, s"QuerySpec.k must be >= 1, got k = $k")
  require(topN >= 1, s"QuerySpec.topN must be >= 1, got topN = $topN")
}

/** Plan builder for the RAG read path (SURVEY §3.3): metadata filter →
  * k-NN → retrieval dedup → intent-dependent rescore → top-N, constructed
  * from a [[QuerySpec]] as ONE plan (reference call chain
  * rag_engine.py:184-253).
  *
  * Scale shape: the ticker clause stays a Filter on the store, so it
  * reaches the parquet scan as partition pruning. Everything else is one
  * [[RagSearchExec]], and the spec's window, `now`, intent, k and top-N
  * are parameters of that node, not literals in the store's plan. So
  * every request on one store and route runs the same store plan, which
  * the node executes once per session and store version (its prepared
  * scan, see [[PreparedScans]]). It collects the one query row (no job
  * when the query frame is a `LocalRelation`), runs one job over the
  * prepared scan in which each partition tests the window and keeps its
  * top-k, merges the ≤ k·partitions candidates on the driver, and applies
  * keep-first, rescore and top-N there over ≤ k rows. No exchange, no
  * Window and no adaptive stages: a request over a parquet query frame is
  * 2 jobs and shuffles nothing, however large the store. One pass over
  * the vector store's route.
  */
object RagPlans {

  /** Required store columns: `vec_id` (unique long), `embedding`
    * (array&lt;float&gt;), `ticker` (string), `ts` (epoch seconds, long) —
    * the engine layout of the reference's Chroma metadata
    * {ticker, timestamp} (rag_engine.py:230-236). */
  val StoreColumns: Seq[String] = Seq("vec_id", "embedding", "ticker", "ts")

  /** Intent-dependent score (rag_engine.py:147-163) over resolved `dist`
    * (double) and `ts` (long) columns: REAL_TIME is the
    * 0.6·sim + 0.4·exp(−age/14400) decay blend of
    * [[graft.ops.VectorOps.timeDecayScore]], with age clamped at 0 for
    * future-stamped rows (rag_engine.py:158-159); HISTORICAL is pure
    * similarity. Both are quantized at 1e-6 as [[graft.ops.Num.r6]] does,
    * so the score is bit-comparable across engines. It is built as the
    * resolved expression the analyzer makes of those column formulas, so
    * a request analyzes nothing for it; RagSearchPropertySpec holds the
    * two equal. */
  def score(spec: QuerySpec, dist: Expression, ts: Expression): Expression = {
    def r6(x: Expression): Expression =
      Divide(Cast(Floor(Add(Multiply(x, Literal(1e6)), Literal(0.5))), DoubleType), Literal(1e6))
    val sim = Subtract(Literal(1.0), dist)
    spec.intent match {
      case QueryIntent.RealTime =>
        val age = Cast(Greatest(Seq(Subtract(Literal(spec.now), ts), Literal(0L))), DoubleType)
        r6(Add(Multiply(Literal(0.6), sim),
          Multiply(Literal(0.4), Exp(Divide(UnaryMinus(age), Literal(14400.0))))))
      case QueryIntent.Historical => r6(sim)
    }
  }

  /** Compile `spec` against a vector store (columns [[StoreColumns]]) and
    * a query frame holding `q_emb`. Returns the top-N context rows:
    * (vec_id, ticker, ts, dist, score). A query frame with no row yields no
    * rows; one with more than one row fails the request with an
    * `IllegalArgumentException` when it executes. */
  def search(spec: QuerySpec, queryVec: DataFrame)(store: DataFrame): DataFrame = {
    // P5 optional ticker equality (rag_engine.py:207-210): a plain scan
    // predicate, so Catalyst prunes the store's ticker partitions. The P4
    // time window (rag_engine.py:201-206) is the node's own parameter.
    val routed = spec.ticker.fold(store)(t => store.filter(col("ticker") === t))
    // V1 k-NN (rag_engine.py:212-217), O4 (ticker, ts) keep-first in rank
    // order (rag_engine.py:230-239), W5 intent rescore + W4 top-N
    // (rag_engine.py:241-253).
    RagSearch(spec, routed, queryVec)
  }
}
