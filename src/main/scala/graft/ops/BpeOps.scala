package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The parity-critical BPE primitives of the distributed trainer
  * (`MiningQueries.bpeTrainOn`): the framed non-overlapping replace that
  * applies one merge, and the (cnt desc, w1, w2) winner selection off a
  * maintained (bg, cnt) table — plus [[driverTrain]], the in-process
  * twin of the same semantics for corpora under the driver gate. The
  * test oracle (BpeTestOracle) stays an INDEPENDENT implementation on
  * purpose — it is the thing that would catch a bug here.
  */
object BpeOps {

  /** Framed text: every space doubled plus one leading/trailing space.
    * Framing makes ` w1  w2 ` occurrences NON-OVERLAPPING, so a plain
    * left-to-right `replace` is exactly the greedy BPE merge pass —
    * in "a a a" only the first "a a" merges, as real BPE does. */
  def framed(text: Column): Column =
    concat(lit(" "), replace(text, lit(" "), lit("  ")), lit(" "))

  /** The framed occurrence of the winning pair — also the delta
    * branch's exact merge-applicability prefilter (`instr > 0`). */
  def needle(w1: String, w2: String): String = s" $w1  $w2 "

  /** One greedy merge (w1, w2) → w1_w2 applied to raw `text`. Column
    * API with lit() operands — the winning tokens are DATA, not SQL
    * text; an expr() splice would mis-parse on any corpus token
    * containing a quote or backslash. */
  def applyMerge(text: Column, w1: String, w2: String): Column =
    trim(replace(
      replace(framed(text), lit(needle(w1, w2)), lit(s" ${w1}_$w2 ")),
      lit("  "), lit(" ")))

  /** Full bigram pair count of a `(doc_id, text, ...)` corpus — the
    * `(bg, cnt)` table the winner reads. Both trainers' maintained-count
    * equality contract depends on this exact aggregate, so it lives here
    * with the other parity-critical semantics. */
  def pairCounts(corpus: DataFrame): DataFrame =
    corpus
      .select(explode(TextOps.bigrams(TextOps.tokens(col("text")))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cnt"))

  /** Greedy winner off a maintained `(bg, cnt)` table: highest count,
    * ties broken on (w1, w2) — one row to the driver, the inherently
    * sequential decision every greedy BPE trainer has. None = the
    * vocabulary is exhausted (no bigram left to merge). */
  def winner(counts: DataFrame): Option[(String, String, Long)] =
    counts
      .select(
        split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1)
      .collect().headOption
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("cnt")))

  /** Conf key (dev/spec dial): max measured corpus text BYTES for the
    * driver fast path of `MiningQueries.bpeTrainOn`; 0 forces the
    * distributed trainer (the delta/recount branch specs and the
    * reliable-checkpoint spec pin the loop through this). */
  private[graft] val BPE_DRIVER_MAX_KEY = "spark.graft.bpe.driverMaxBytes"

  /** Default driver gate: 64 MB of measured corpus payload — the same
    * collect-budget class as LshJoin.PAIRS_BROADCAST_CAP and the CC /
    * k-core driver gates, clamped to the session driver budget by the
    * caller. */
  private[graft] val BPE_DRIVER_MAX_DEFAULT: Long = 64L * 1024 * 1024

  /** Driver-side k-merge BPE train over a collected (doc_id, text,
    * n_raw) corpus — bit-equal semantics to the distributed trainer by
    * construction: the same whitespace tokens (`split(" ", -1)` ≡ Spark
    * `split(text, " ")`), the same full bigram count, the same
    * (cnt desc, w1, w2) winner with ties compared in UTF-8 BINARY order
    * (Spark string sort order; Java's UTF-16 `compareTo` diverges on
    * supplementary planes), and the same framed non-overlapping replace
    * (Java `String.replace` is the same literal left-to-right
    * single-pass scan as `UTF8String.replace`). Returns (merges, final
    * corpus, final bigram counts) — the counts are a recount of the
    * final corpus, which the delta-correctness specs prove equal to the
    * distributed trainer's maintained table. Pure function, pinned
    * against BpeTestOracle and the distributed trainer in
    * BpeTrainerSpec/BpePropertySpec. */
  private[graft] def driverTrain(
      rows: Array[(java.lang.Long, String, java.lang.Long)], k: Long)
      : (Seq[(Long, String, String, Long)],
         Seq[(java.lang.Long, String, java.lang.Long)], Seq[(String, Long)]) = {
    // null text contributes no bigrams and rewrites to null — the same
    // null algebra as the distributed trainer (explode of a null token
    // array emits nothing; replace/trim of null stay null). Boxed
    // doc_id/n_raw ride through untouched, nulls included.
    def bigramCounts(
        texts: Array[(java.lang.Long, String, java.lang.Long)]): java.util.HashMap[String, Long] = {
      val m = new java.util.HashMap[String, Long]()
      texts.foreach { case (_, t, _) =>
        if (t != null) {
          val toks = t.split(" ", -1)
          var i = 0
          while (i < toks.length - 1) {
            m.merge(toks(i) + " " + toks(i + 1), 1L, (a, b) => a + b)
            i += 1
          }
        }
      }
      m
    }
    var texts = rows
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var step = 1L
    var exhausted = false
    while (step <= k && !exhausted) {
      val counts = bigramCounts(texts)
      if (counts.isEmpty) exhausted = true
      else {
        var bw1: String = null
        var bw2: String = null
        var bc = -1L
        counts.forEach { (bg, c) =>
          val sp = bg.indexOf(' ')
          val w1 = bg.substring(0, sp)
          val w2 = bg.substring(sp + 1)
          val better = c > bc || (c == bc &&
            (utf8Compare(w1, bw1) < 0 ||
              (utf8Compare(w1, bw1) == 0 && utf8Compare(w2, bw2) < 0)))
          if (better) { bw1 = w1; bw2 = w2; bc = c }
        }
        merges += ((step, bw1, bw2, bc))
        texts = texts.map { case (id, t, n) =>
          (id, if (t == null) null else applyMergeStr(t, bw1, bw2), n)
        }
      }
      step += 1
    }
    val fin = bigramCounts(texts)
    val finB = Seq.newBuilder[(String, Long)]
    fin.forEach((bg, c) => finB += ((bg, c)))
    (merges.result(), texts.toSeq, finB.result())
  }

  /** Driver twin of [[applyMerge]] — identical framed single-pass
    * literal replaces; trailing/leading trim strips SPACES only
    * (Spark `trim` semantics; `String.trim` would also strip control
    * chars). */
  private[graft] def applyMergeStr(text: String, w1: String, w2: String): String = {
    val framed = " " + text.replace(" ", "  ") + " "
    val merged = framed.replace(needle(w1, w2), s" ${w1}_$w2 ").replace("  ", " ")
    var b = 0
    var e = merged.length
    while (b < e && merged.charAt(b) == ' ') b += 1
    while (e > b && merged.charAt(e - 1) == ' ') e -= 1
    merged.substring(b, e)
  }

  /** Unsigned UTF-8 byte comparison — Spark's binary string collation. */
  private[graft] def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
