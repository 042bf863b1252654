package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate-pair WORK measurement for the adaptive LSH families — the
  * quantity the r13 verdict asked the scaling probes to normalize by.
  *
  * An adaptive-LSH operator's designed cost is Θ(pairs), and pairs =
  * Σ_buckets sz·(sz−1)/2 over the banded frame — computable with ONE
  * narrow aggregation over the band keys, no pair ever materialized
  * (shared here so every ScalingProbe row uses the same arithmetic).
  * Judging such an operator's
  * wall-clock growth against the RAW data ratio flags its own design
  * law: at s* = 0.9 the band count L grows ~n^0.22, so a PERFECT
  * execution grows ~16.6× per 10× data, over the probe's 1.6 × 10
  * slack line by construction. The honest decomposition is two checks:
  *
  *  1. work follows design: pairs grow no faster than the design ratio
  *     (n_big·L_big)/(n_small·L_small) × slack — a banding defect
  *     (aliased copies, saturated bucket space) fails HERE;
  *  2. time follows work: wall grows no faster than
  *     max(data, pairs) × slack — an execution defect (spill, a
  *     pair-cardinality sort, a mis-sized exchange) fails HERE.
  *
  * Both hold → the operator is executing its design law on this corpus
  * and the verdict is ok, with the pair counts in the artifact so the
  * claim is auditable.
  */
object PairWork {

  /** One banded frame's work profile. `designPairs` is the adaptive
    * law's expected candidate volume where one exists (hyperplane LSH:
    * L·n·(TARGET−1)/2 — constant expected bucket population by
    * construction); NaN for minhash banding, whose bucket space is
    * unbounded strings (design RATIOS are still defined via n·L). */
  case class Stats(n: Long, r: Int, l: Int, pairsUB: Double,
      maxBucket: Long, bandRows: Long, designPairs: Double) {
    /** The operator's designed MAP-SIDE work: n·L·r signature hashes
      * (each a pass over the doc's grams / the vector's dims — constant
      * per (doc, hash)). When the banding is healthy the pair table is
      * small and THIS term dominates wall time; the adaptive law grows
      * it ~n^(1+ρ) by construction (L = ⌈ln 10 / c^r⌉), so a probe
      * normalizing by data or pairs alone under-estimates the designed
      * ratio — measured r14 on the bijection-regenerated corpus:
      * dedup_fuzzy_minhash pairs grew 12.75× per decade (inside the 14×
      * design) while wall grew 25.1×, which is 1.42× the 17.7×
      * signature-work ratio, inside slack. */
    def sigWork: Double = n.toDouble * l * r
    def json: String =
      s"""{"n":$n,"r":$r,"l":$l,"pairsUB":$pairsUB,""" +
        s""""maxBucket":$maxBucket,"bandRows":$bandRows,""" +
        s""""designPairs":${if (designPairs.isNaN) "null" else designPairs}}"""
  }

  private def bucketStats(bands: DataFrame, keys: Seq[String]): (Double, Long, Long) = {
    val r = bands.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("sz"))
      .agg(
        coalesce(sum(col("sz") * (col("sz") - 1) / 2), lit(0.0)).as("pairs"),
        coalesce(max(col("sz")), lit(0L)).as("maxSz"),
        coalesce(sum(col("sz")), lit(0L)).as("rows"))
      .head()
    (r.getDouble(0), r.getLong(1), r.getLong(2))
  }

  /** Work profile of the hyperplane-LSH family (`ann_lsh_adaptive`,
    * `knn_join_lsh_adaptive`) at `dir`: the same (r, L) the query
    * derives, the same LshBands signature, bucket populations per
    * (band, bucket). */
  def annStats(s: SparkSession, dir: String): Stats = {
    val e = graft.model.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val dims = e.select(size(col("embedding"))).head().getInt(0)
    val r = graft.queries.VectorQueries.adaptiveRows(n)
    val l = graft.queries.VectorQueries.adaptiveBands(r)
    // the r15 centered thresholds: the probe must profile the SAME
    // banded frame the live query builds, or its pair counts judge a
    // signature nobody runs
    val thr = graft.queries.VectorQueries.adaptiveThresholds(s, e, n, r, 0, l)
    val sigs = e.select(posexplode(graft.expressions.LshBands.lshBands(
      col("embedding"), l, r, dims, 0, thr.toSeq)).as(Seq("band", "bucket")))
    val (pairs, maxSz, rows) = bucketStats(sigs, Seq("band", "bucket"))
    Stats(n, r, l, pairs, maxSz, rows,
      l.toDouble * n * (graft.queries.VectorQueries.LSH_TARGET_BUCKET - 1) / 2)
  }

  /** Work profile of the char-gram MinHash family
    * (`dedup_fuzzy_minhash`) at `dir`: the query's own banded frame,
    * bucket populations per (lang, bucket). */
  def fuzzyStats(s: SparkSession, dir: String): Stats = {
    val d0 = graft.model.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val n = d0.count()
    val r = graft.queries.VectorQueries.adaptiveRows(n)
    val l = graft.queries.TextQueries.fuzzyBands(r)
    val bands = graft.queries.TextQueries.fuzzyBandsFrame(s, d0, r, l)
    val (pairs, maxSz, rows) = bucketStats(bands, Seq("lang", "bucket"))
    Stats(n, r, l, pairs, maxSz, rows, Double.NaN)
  }

  /** The probe's work estimators, keyed by registry query. */
  val estimators: Map[String, (SparkSession, String) => Stats] = Map(
    "ann_lsh_adaptive" -> annStats,
    "knn_join_lsh_adaptive" -> annStats,
    "dedup_fuzzy_minhash" -> fuzzyStats)

  /** CLI: print both families' work profiles for each dir.
    * Usage: runMain graft.tools.PairWork <sfDir> [<sfDir2> ...] */
  def main(args: Array[String]): Unit = {
    val spark = graft.ops.SessionOps.localSession()
    args.foreach { dir =>
      val t0 = System.nanoTime()
      val a = annStats(spark, dir)
      val t1 = System.nanoTime()
      println(s"""[pairwork] {"dir":"$dir","family":"ann","secs":${(t1 - t0) / 1e9},"stats":${a.json}}""")
      graft.ops.SessionOps.dropCachedBlocks(spark)
      val t2 = System.nanoTime()
      val f = fuzzyStats(spark, dir)
      val t3 = System.nanoTime()
      println(s"""[pairwork] {"dir":"$dir","family":"fuzzy","secs":${(t3 - t2) / 1e9},"stats":${f.json}}""")
      graft.ops.SessionOps.dropCachedBlocks(spark)
    }
    spark.stop()
  }
}
