package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Vector / similarity operators (SURVEY §2.8 V1-V3, §2.5 W4-W5) plus the
  * 100-TB-pipeline ANN/near-dup superset.
  *
  * Reference behaviors (cites into /root/reference/):
  *  - metadata-filtered k-NN (k=20)  src/app/rag_engine.py:212-217
  *  - similarity = 1 - distance      src/app/rag_engine.py:154
  *  - 0.6·sim + 0.4·exp(-age/14400)  src/app/rag_engine.py:161-163
  *  - top-8 by rescored score        src/app/rag_engine.py:252-253
  *  - idempotent vector upsert       src/processing/consumer.py:176-181
  *
  * Similarity call sites run the native kernels in `graft.expressions`
  * ([[graft.expressions.CosineSimilarity]],
  * [[graft.expressions.SquaredDistance]], [[graft.expressions.LshBands]]).
  * The higher-order-function forms here ([[dot]], [[cosine]],
  * [[lshBandBucket]]: `zip_with` + `aggregate`) remain as the
  * `cosine_similarity` baseline query and the LSH reference the kernels
  * are held bit-equal to. Every form folds left to right, which makes
  * the result bit-identical to DuckDB's `list_reduce`, so cosine scores
  * are oracle-checked exactly.
  *
  * Scale notes: brute-force k-NN broadcasts the (small) query side and
  * computes distances map-side — one pass over the big table, no shuffle
  * until the per-query top-k. The LSH variant buckets both sides first so
  * the candidate join is an equi-join on bucket id instead of a cross
  * product — the 100-TB path.
  */
object VectorOps {

  /** Element-cast to double — float→double conversion is exact. */
  private def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Serial-fold dot product: ((0+x₁)+x₂)+… — matches DuckDB list_reduce. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, 0.0 on a zero vector (guard mirrors the oracle). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }

  /** V2: distance = 1 - cosine (Chroma's default metric). */
  def cosineDist(a: Column, b: Column): Column = lit(1.0) - cosine(a, b)

  /** Attach the query vector (one row, `q_emb`) to every row — broadcast,
    * no shuffle of the big side. */
  def withQueryVector(df: DataFrame, queryVec: DataFrame): DataFrame =
    df.crossJoin(broadcast(queryVec))

  /** V1: metadata-prefiltered exact k-NN: filter → distance → global top-k.
    * Plans as TakeOrderedAndProject (per-partition top-k, then merge). A
    * null distance (a null embedding) ranks last, as `ORDER BY dist` does
    * in the oracle, never as the nearest neighbour. */
  def knn(df: DataFrame, dist: Column, k: Int, tieBreak: Column): DataFrame =
    df.withColumn("dist", dist).orderBy(col("dist").asc_nulls_last, tieBreak).limit(k)

  /** W5: REAL_TIME re-rank score (weights 0.6/0.4, τ=14400 s), quantized at
    * 1e-6 because exp() may differ by 1 ulp across libm implementations. */
  def timeDecayScore(dist: Column, ageSec: Column): Column =
    Num.r6(lit(0.6) * (lit(1.0) - dist) + lit(0.4) * exp(-ageSec / lit(14400.0)))

  /** Per-query top-k over a candidates frame (ANN result shaping).
    *
    * FUSED two-stage plan (SURVEY §4 item 2 / VERDICT r1 item 5): a naive
    * `row_number() OVER (PARTITION BY qId)` funnels EVERY candidate of a
    * query into one reducer — with few queries and 100 TB of candidates
    * that single task is the job. Instead:
    *
    *  1. partial: each input partition keeps a bounded k-heap per query id
    *     it sees (map-side, no shuffle) and emits at most k rows per
    *     (partition, query);
    *  2. merge: the usual per-query window, but over ≤ numPartitions·k
    *     surviving rows per query instead of all candidates.
    *
    * The `order` must be a TOTAL order (call sites end with the unique id
    * as tie-break) so partial-then-merge equals the exact global top-k.
    * Task memory is O(#queries-seen-in-partition · k) rows.
    *
    * `order` accepts plain columns (ascending) or `.desc`-wrapped ones,
    * same as the window form. */
  def topKPerQuery(df: DataFrame, qId: Column, order: Seq[Column], k: Int): DataFrame = {
    val sortKeys: Seq[(Column, Boolean)] = order.map(ColumnBridge.sortKey)
    val descs = sortKeys.map(_._2).toArray
    val baseCols = df.columns.toSeq
    val tagged = sortKeys.zipWithIndex
      .foldLeft(df.withColumn("__qid", qId)) { case (d, ((c, _), i)) =>
        d.withColumn(s"__sk$i", c)
      }
    val schema = tagged.schema
    val qidIdx = schema.fieldIndex("__qid")
    val keyIdx = sortKeys.indices.map(i => schema.fieldIndex(s"__sk$i")).toArray

    // k = 1 degenerates to a plain aggregate: min_by over the sort-key
    // tuple is a true partial aggregation (map-side combine, no heap, no
    // window) — the best shape at any scale. Descending numeric keys are
    // negated to fold into the lexicographic struct order; a non-numeric
    // descending key falls through to the general sorted-prune path.
    val descsNumeric = sortKeys.indices.forall { i =>
      !descs(i) ||
        schema(s"__sk$i").dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    }
    if (k == 1 && sortKeys.nonEmpty && descsNumeric) {
      val sortStruct = struct(keyIdx.indices.map { i =>
        if (descs(i)) negate(col(s"__sk$i")) else col(s"__sk$i")
      }: _*)
      return tagged
        .groupBy(col("__qid"))
        .agg(min_by(struct(baseCols.map(col): _*), sortStruct).as("__best"))
        .select(col("__best.*"))
    }

    val finalOrder = keyIdx.indices.map { i =>
      if (descs(i)) col(s"__sk$i").desc else col(s"__sk$i").asc
    }
    // Per-partition pre-prune, SPILL-SAFE (r13): the previous shape held
    // a HashMap[qid -> k-row heap] per partition — memory grows with the
    // partition's DISTINCT qid count, which the r13 fourth-decade probe
    // measured as the failure mode (knn_join_lsh_adaptive at n = 5M
    // qids: 32 concurrent partitions × millions of generic-Row heap
    // entries OOM'd a 48 GB heap; at 500k qids it had fit). Sorting
    // within the partition on (__qid, sort keys) uses Spark's EXTERNAL
    // sort — spills to disk, O(1) driver-visible memory — and the prune
    // becomes a streaming "first k rows per qid run". Same pruned set
    // (the per-qid total order is identical), same final merge below.
    val partial = tagged
      .sortWithinPartitions(col("__qid").asc +: finalOrder: _*)
      .mapPartitions { it =>
        var cur: Any = null
        var cnt = 0
        var started = false
        it.filter { row =>
          val q = row.get(qidIdx)
          if (!started || !java.util.Objects.equals(q, cur)) {
            cur = q; cnt = 0; started = true
          }
          cnt += 1
          cnt <= k
        }
      }(Encoders.row(schema))

    // merge on the materialized sort keys — identical values to the
    // partial's sort, so no expression is re-evaluated over the pruned
    // stream
    partial
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("__qid")).orderBy(finalOrder: _*)))
      .filter(col("__rn") <= k)
      .select(baseCols.map(col): _*)
  }

  /** The naive window form of [[topKPerQuery]] — one reducer per query id,
    * correct at any scale that fits a task; kept as the parity baseline
    * for the fused plan's spec. */
  def topKPerQueryWindow(df: DataFrame, qId: Column, order: Seq[Column], k: Int): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(qId).orderBy(order: _*)))
      .filter(col("rn") <= k).drop("rn")

  // ------------------------------------------------------------------
  // LSH: deterministic integer hyperplanes, shared with the SQL oracle.
  // ------------------------------------------------------------------

  /** Plane weights: w(p,d) = ((p·73 + d·37) mod 17) - 8 ∈ [-8, 8].
    * Integer-derived so Spark and the oracle agree bit-for-bit. */
  def planeWeight(p: Int, d: Int): Int = ((p * 73 + d * 37) % 17) - 8

  /** Random-hyperplane signature: bucket = Σ_p 2^p · [emb·w_p > 0].
    * One pass, no shuffle; the bucket id then drives an equi-join. */
  def lshBucket(emb: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      val w = array((0 until dims).map(d => lit(planeWeight(p, d).toDouble)): _*)
      when(dot(emb, w) > 0.0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Plane weights for the ADAPTIVE signature family: the [[planeWeight]]
    * formula is ((5p + 3d) mod 17) − 8 in disguise — PERIODIC in p with
    * period 17, so only 17 distinct hyperplanes exist. Harmless for the
    * frozen PLANES=8 contract (8 < 17), fatal for adaptive signatures
    * whose bands·rows planes run past 100: every 17th plane repeats,
    * bands stop being independent, and OR-amplification saturates
    * (measured: planted-pair recall 0.50 where independent-plane theory
    * says 0.96). Here the flattened plane-dim index k = p·104729 + d is
    * mixed QUADRATICALLY mod a ~2³¹ prime and the weight taken from the
    * HIGH bits (÷2¹⁷ before the final mod 17): the quadratic breaks
    * affinity in d, and the high-bit extraction kills the small-modulus
    * leak where polynomial differences divisible by 17 collapse whole
    * weight vectors (an affine or low-bit form measurably collides —
    * 44 duplicate planes per 8000). 8000/8000 planes distinct, weights
    * centered in [-8, 8]; still pure integer arithmetic (Long-safe:
    * k ≤ 8.1e8 ⇒ k² + k·C < 2.8e18 < 2⁶³), so Spark, the native
    * [[graft.expressions.LshBands]], and the DuckDB oracle agree
    * bit-for-bit. AdaptiveLshSpec pins distinctness and centering. */
  def adaptivePlaneWeight(p: Int, d: Int): Int = {
    val k = p.toLong * 104729L + d.toLong
    ((((k * k + k * 2654435761L) % 2038074743L) / 131072L) % 17L).toInt - 8
  }

  /** Band `band` of a multi-band adaptive signature with `rows` planes
    * per band: bit i comes from plane p = band·rows+i over
    * [[adaptivePlaneWeight]], so bands draw genuinely distinct
    * hyperplane sets (the OR-amplification that recovers recall when
    * `rows` grows with the corpus). This is the interpreted reference
    * formulation; the native kernel [[graft.expressions.LshBands]]
    * (spec-proven bit-equal) is what the adaptive call sites run — one
    * plane here is a closure-dispatched 64-element fold, and adaptive
    * signatures need bands·rows of them per row. */
  def lshBandBucket(emb: Column, band: Int, rows: Int, dims: Int,
      thresholds: Seq[Double] = Nil): Column =
    (0 until rows).map { i =>
      val p = band * rows + i
      val w = array((0 until dims).map(d => lit(adaptivePlaneWeight(p, d).toDouble)): _*)
      val thr = if (thresholds.isEmpty) 0.0 else thresholds(i)
      when(dot(emb, w) > lit(thr), lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
}
