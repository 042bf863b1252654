package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{QueryIntent, QuerySpec, RagPlans}

/** Specs for the QuerySpec → plan compilation surface (SURVEY §3.3, the
  * reference's router contract rag_engine.py:59-145,147-163): window and
  * ticker routing, REAL_TIME decay on vs HISTORICAL decay off, the
  * (ticker, ts) retrieval dedup, and the age clamp for future rows. */
class RagPlansSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private val Now = 10000L

  // Orthogonal-ish unit vectors: dist to the query (1,0,0,0) is controlled
  // entirely by the first component.
  private def v(x: Double, y: Double): Array[Float] =
    Array(x.toFloat, y.toFloat, 0f, 0f)

  /** Store: vec 1 is the closest but oldest; vec 2 is farther but fresh;
    * vec 3 duplicates vec 2's (ticker, ts) with a worse dist; vec 4 is a
    * different ticker; vec 5 is outside the window; vec 6 is stamped in
    * the future (age must clamp to 0, not go negative). */
  private def store: DataFrame = Seq(
    (1L, v(0.99, 0.141), "AA", Now - 9000L),
    (2L, v(0.80, 0.600), "AA", Now - 100L),
    (3L, v(0.70, 0.714), "AA", Now - 100L),
    (4L, v(0.60, 0.800), "BB", Now - 200L),
    (5L, v(0.95, 0.312), "AA", Now - 20000L),
    (6L, v(0.50, 0.866), "AA", Now + 500L)
  ).toDF("vec_id", "embedding", "ticker", "ts")

  private def q: DataFrame =
    Seq(Tuple1(v(1.0, 0.0))).toDF("q_emb")

  private def run(spec: QuerySpec): Seq[(Long, Double)] =
    RagPlans.search(spec, q)(store)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq

  private def base(intent: QueryIntent) = QuerySpec(
    ticker = None, start = Now - 10000L, end = Now + 1000L,
    intent = intent, now = Now)

  test("HISTORICAL: decay off — ranks purely by similarity, oldest can win") {
    val got = run(base(QueryIntent.Historical))
    // vec 1 (closest) first despite being 9000 s old; vec 5 excluded by
    // the window even though it is the second-closest vector overall.
    assert(got.head._1 == 1L)
    assert(!got.map(_._1).contains(5L))
    // Pure similarity: score == r6(1 - dist) == r6(cosine) here.
    val sims = got.toMap
    assert(sims(1L) > sims(2L) && sims(2L) > sims(4L))
  }

  test("REAL_TIME: decay on — fresh vec 2 outranks closer-but-stale vec 1") {
    val rt = run(base(QueryIntent.RealTime)).toMap
    val hist = run(base(QueryIntent.Historical)).toMap
    // Same candidates, different order: decay lifts vec 2 over vec 1.
    assert(rt.keySet == hist.keySet)
    assert(rt(2L) > rt(1L), s"expected fresh vec to win under decay: $rt")
    assert(hist(1L) > hist(2L), s"expected closest vec to win without decay: $hist")
  }

  test("REAL_TIME: future-stamped row's age clamps to 0 (rag_engine.py:158-159)") {
    val rt = run(base(QueryIntent.RealTime)).toMap
    val hist = run(base(QueryIntent.Historical)).toMap
    // vec 6 is future-stamped: age clamps to 0, so decay = 1.0 exactly and
    // score = 0.6*sim + 0.4. hist(6) is r6(sim) — reuse it as the sim
    // ground truth so the check doesn't depend on hand-normalized floats.
    assert(math.abs(rt(6L) - (0.6 * hist(6L) + 0.4)) < 5e-6)
  }

  test("ticker routing: Some(t) restricts; dedup keeps first by dist on (ticker, ts)") {
    val aa = run(base(QueryIntent.Historical).copy(ticker = Some("AA")))
    assert(!aa.map(_._1).contains(4L))
    // vec 3 shares (AA, Now-100) with vec 2 and has the worse dist: dropped.
    assert(aa.map(_._1).contains(2L) && !aa.map(_._1).contains(3L))
    val bb = run(base(QueryIntent.Historical).copy(ticker = Some("BB")))
    assert(bb.map(_._1) == Seq(4L))
  }

  test("window boundaries are inclusive on both ends") {
    val spec = base(QueryIntent.Historical)
      .copy(start = Now - 9000L, end = Now - 100L)
    val ids = run(spec).map(_._1).toSet
    assert(ids == Set(1L, 2L, 4L)) // both boundary rows in, 3 deduped, 6 out
  }

  test("topN truncates after rescoring") {
    val got = run(base(QueryIntent.Historical).copy(topN = 2))
    assert(got.size == 2)
    assert(got.map(_._1).head == 1L)
  }

  private def withRow(id: Long, emb: Array[Float], ts: Long): DataFrame =
    store.union(Seq((id, emb, "AA", ts)).toDF("vec_id", "embedding", "ticker", "ts"))

  test("a null embedding ranks last, never as the nearest neighbour") {
    // k = 3 over the window's real rows keeps 1, 2, 3; dedup drops 3.
    val spec = base(QueryIntent.Historical).copy(k = 3)
    val s = withRow(7L, null, Now - 50L)
    val got = RagPlans.search(spec, q)(s)
    assert(got.select("vec_id").as[Long].collect().toSeq == Seq(1L, 2L))
    assert(got.collect().toSeq == RagReference.search(spec, q)(s).collect().toSeq)
    // with room for it, the null row comes last with a null dist and score
    val all = RagPlans.search(base(QueryIntent.Historical), q)(s).collect()
    assert(all.last.getLong(0) == 7L && all.last.isNullAt(3) && all.last.isNullAt(4))
  }

  test("a zero vector's dist is exactly 1.0") {
    val s = withRow(8L, Array(0f, 0f, 0f, 0f), Now - 50L)
    val got = RagPlans.search(base(QueryIntent.Historical), q)(s)
      .select("vec_id", "dist", "score").as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(8L) == ((1.0, 0.0)))
  }

  test("QuerySpec rejects k < 1 and topN < 1, naming the field and value") {
    val k = intercept[IllegalArgumentException](base(QueryIntent.Historical).copy(k = 0))
    assert(k.getMessage.contains("k = 0"), k.getMessage)
    val n = intercept[IllegalArgumentException](base(QueryIntent.Historical).copy(topN = -2))
    assert(n.getMessage.contains("topN = -2"), n.getMessage)
  }

  /** The same query frame as a `LocalRelation` (read on the driver) and
    * as an RDD-backed frame (read by a job). */
  private def bothKinds(df: DataFrame): Seq[(String, DataFrame)] =
    Seq("local" -> df, "job-backed" -> spark.createDataFrame(df.rdd, df.schema))

  test("a query frame with more than one row fails the request") {
    val two = Seq(Tuple1(v(1.0, 0.0)), Tuple1(v(0.0, 1.0))).toDF("q_emb")
    for ((kind, frame) <- bothKinds(two)) {
      val e = intercept[Exception](
        RagPlans.search(base(QueryIntent.Historical), frame)(store).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[IllegalArgumentException]), s"$kind: $e")
    }
  }

  test("a query frame with no row returns an empty answer") {
    for ((kind, none) <- bothKinds(q.limit(0))) {
      val got = RagPlans.search(base(QueryIntent.Historical), none)(store)
      assert(got.collect().isEmpty, kind)
      assert(got.count() == 0L, kind)
    }
  }
}
