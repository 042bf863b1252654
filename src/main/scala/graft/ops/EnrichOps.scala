package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Enrichment operators (SURVEY §2.4 A4/A5, §2.7 F9, plus the multimodal
  * superset): sentiment scoring, text embedding, translation, binary-blob
  * feature extraction.
  *
  * The reference performs these with external models/services
  * (consumer.py:157-172: googletrans → VADER → sentence-transformer).
  * Scoring here is a deterministic lexicon port of the VADER *mechanism*
  * (token valences summed, then score/sqrt(score²+α) normalization with
  * α=15); embedding and translation are deterministic STUBS behind the
  * same column-in/column-out interface a real model UDF would use — the
  * engine-side plumbing (schema, batching, partitioning) is real, the
  * model call is swappable.
  */
object EnrichOps {

  /** Mini valence lexicon over the testdata vocabulary plus common VADER
    * words (deterministic stand-in for the VADER lexicon; same ±4 valence
    * scale — "good" 1.9 / "great" 3.1 / "bad" −2.5 / "terrible" −2.1 are
    * the published VADER values). */
  val builtinLexicon: Seq[(String, Double)] = Seq(
    "fast" -> 2.0, "big" -> 1.0, "value" -> 1.5, "spark" -> 2.0,
    "merge" -> 0.5, "stream" -> 1.0,
    "good" -> 1.9, "great" -> 3.1,
    "slow" -> -2.0, "small" -> -0.5, "dup" -> -1.5, "error" -> -3.0,
    "filter" -> -0.5, "scan" -> -1.0,
    "bad" -> -2.5, "terrible" -> -2.1)

  /** Parse a lexicon file in the PUBLISHED VADER format (Hutto & Gilbert
    * 2014, MIT — `vader_lexicon.txt`): one entry per line,
    * `token<TAB>mean_valence<TAB>stddev<TAB>[raw ratings]`; only the
    * first two fields matter here. Malformed lines are skipped (the
    * published file has none; a hand-edited one might). */
  def lexiconFromFile(path: String): Seq[(String, Double)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().flatMap { line =>
      val f = line.split("\t")
      if (f.length >= 2)
        try Some(f(0) -> f(1).toDouble) catch { case _: NumberFormatException => None }
      else None
    }.toVector
    finally src.close()
  }

  /** The EFFECTIVE lexicon every sentiment operator (and the oracle-SQL
    * generator — both read this val, so cross-engine parity holds for
    * any drop-in) uses: the published vader_lexicon.txt dropped at
    * `GRAFT_VADER_LEXICON` (env) when set, else [[builtinLexicon]]. The
    * full file is ~7,500 entries — viable because tokens are looked up
    * through one hash map (the native [[vaderScore]]) or one
    * constant-folded map literal ([[valenceVia]]),
    * not a per-word CASE chain (the file itself is not vendored: typing
    * its valences from memory would fabricate data; the loader +
    * published-format parser make the drop a pure data operation,
    * spec-proven on a synthetic file in the same format). Resolved once
    * per JVM. */
  val lexicon: Seq[(String, Double)] =
    sys.env.get("GRAFT_VADER_LEXICON") match {
      case Some(p) => lexiconFromFile(p)
      case None => builtinLexicon
    }

  /** VADER mechanism constants (public algorithm, Hutto & Gilbert 2014):
    * booster/dampener increments (B_INCR/B_DECR), the negation flip
    * scalar (N_SCALAR), distance damping for boosters two and three
    * tokens back, and the '!'/'?' emphasis amplifiers. */
  val boosters: Seq[(String, Double)] = Seq(
    "very" -> 0.293, "really" -> 0.293, "extremely" -> 0.293,
    "absolutely" -> 0.293, "incredibly" -> 0.293,
    "slightly" -> -0.293, "somewhat" -> -0.293, "barely" -> -0.293,
    "marginally" -> -0.293)
  val negations: Seq[String] =
    Seq("not", "never", "no", "cannot", "nothing", "neither", "without")
  val N_SCALAR = -0.74

  /** Token → valence through ONE constant-folded map literal: a CreateMap
    * of literal children is foldable, so Catalyst folds it to a single
    * Literal(MapData) at optimization time and each row pays one hash
    * lookup — where the previous per-word when-chain was O(|lexicon|)
    * comparisons per token AND O(|lexicon|) plan nodes per call site,
    * unusable at the published lexicon's 7,500 entries.
    * EnrichLexiconSpec pins bit-equality against the when-chain form. */
  private[graft] def valenceVia(lex: Seq[(String, Double)])(t: Column): Column = {
    val m = map(lex.flatMap { case (w, v) => Seq(lit(w), lit(v)) }: _*)
    coalesce(element_at(m, t), lit(0.0))
  }

  /** A4: VADER-style compound score: s = Σ valence(tokenᵢ) (serial fold,
    * same order as the oracle), normalized to (-1, 1) by s/√(s²+15)
    * (the reference's scorer, consumer.py:168-169). */
  def sentimentScore(toks: Column): Column = {
    val s = aggregate(transform(toks, t => valenceVia(lexicon)(t)), lit(0.0), (acc, v) => acc + v)
    s / sqrt(s * s + lit(15.0))
  }

  /** The word tables of [[vaderScore]] over `lex`. */
  def vaderLexicon(lex: Seq[(String, Double)]): graft.expressions.VaderLexicon =
    new graft.expressions.VaderLexicon(lex, boosters, negations, N_SCALAR)

  private lazy val effectiveVader = vaderLexicon(lexicon)

  /** A4 at reference fidelity: the full VADER mechanism over raw text
    * (reference runs real VADER, consumer.py:157-169), deterministic and
    * oracle-checkable:
    *
    *  - per-token valence from [[lexicon]];
    *  - booster increments from up to three preceding tokens, damped
    *    0.95/0.9 at distance two/three (VADER scalar_inc_dec), added in
    *    the direction of the valence;
    *  - negation flip ×(−0.74) when any of the three preceding tokens is
    *    in [[negations]];
    *  - '!' emphasis min(count,4)·0.292 and '?' emphasis count·0.18
    *    (capped 0.96), added in the direction of the sum;
    *  - normalization s/√(s²+15).
    *
    * Simplifications vs full VADER (deliberate): no ALL-CAPS emphasis, no
    * idiom table, no "least"/contrastive-conjunction special cases — those
    * need cased text and a phrase dictionary; the testdata corpus is
    * lowercase single-phrase.
    *
    * One native expression ([[graft.expressions.VaderScore]]): a single
    * plan node the streaming planner re-optimizes per batch for free,
    * where the HOF form (`VaderReference` in the test sources, the
    * equality reference) is a tree of lambdas and when-chains. */
  def vaderScore(text: Column): Column =
    graft.expressions.VaderScore.column(text, effectiveVader)

  /** `df` with [[vaderScore]] of `text` as column `out`. */
  def withVaderScore(df: DataFrame, text: Column, out: String): DataFrame =
    df.withColumn(out, vaderScore(text))

  /** A5 STUB: deterministic 16-dim pseudo-embedding derived from the text's
    * rolling hash: e[d] = ((fp·(d+1)) mod 1000)/1000 - 0.5. The real
    * implementation swaps this expression for a batched model UDF
    * (mapPartitions inference); schema and call shape are identical. */
  def embedText(text: Column, dims: Int = 16): Column = {
    val fp = TextOps.polyHash(text)
    array((0 until dims).map { d =>
      ((fp * (d + 1)) % 1000).cast("double") / 1000.0 - 0.5
    }: _*)
  }

  /** Scalar twin of [[embedText]]: the per-text "model" result. Shared by
    * the expression path and the batched kernel so both are bit-equal. */
  def embedVector(text: String, dims: Int = 16): Array[Double] = {
    val fp = graft.expressions.TextHash.polyHash(
      org.apache.spark.unsafe.types.UTF8String.fromString(text))
    Array.tabulate(dims)(d => ((fp * (d + 1)) % 1000).toDouble / 1000.0 - 0.5)
  }

  /** The batch "model" call: one invocation embeds a whole batch of texts.
    * This is the seam a real encoder (MiniLM etc., reference
    * consumer.py:171-172) plugs into — production swaps the body for a
    * native-library forward pass over the batch; everything around it
    * (batching, partitioning, schema) is engine-side and stays the same. */
  def embedBatch(texts: Seq[String], dims: Int = 16): Seq[Array[Double]] =
    texts.map(embedVector(_, dims))

  /** A5 at scale: batched embedding inference as a `mapPartitions` kernel.
    * Each partition's rows are grouped into `batchSize` batches and each
    * batch goes to ONE model call — amortizing per-call overhead (model
    * dispatch, JNI crossing, GPU transfer) the way a real inference
    * operator must. Narrow op: no shuffle, partitioning carries through
    * from the scan. Input must have (doc_id: long, text: string); output
    * is (doc_id, embedding: array<double>).
    *
    * `model` is injectable so specs can count batch calls; the default is
    * the deterministic stub, bit-equal to the [[embedText]] expression. */
  def embedTextBatched(
      df: DataFrame,
      batchSize: Int = 64,
      model: Seq[String] => Seq[Array[Double]] = embedBatch(_)): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Null-safe typed boundary: a null doc_id row is garbage (dropped —
    // the tuple encoder's Long field cannot carry it anyway), and a null
    // text yields a null embedding WITHOUT reaching the model — the
    // batch still packs batchSize rows, the model just sees the batch's
    // non-null texts, order preserved.
    df.select(col("doc_id").cast("long"), col("text"))
      .filter(col("doc_id").isNotNull)
      .as[(Long, Option[String])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val embs = model(batch.collect { case (_, Some(t)) => t }).iterator
          batch.iterator.map {
            case (id, Some(_)) => (id, embs.next())
            case (id, None) => (id, null: Array[Double])
          }
        }
      }
      .toDF("doc_id", "embedding")
  }

  /** F9 STUB: translation behind an interface — identity for English,
    * tagged passthrough otherwise (the reference also passes text through
    * unchanged on translation failure, consumer.py:160-166). */
  def translateEn(text: Column, lang: Column): Column =
    when(lang === "en", text).otherwise(concat(lit("[en] "), text))

  /** Multimodal: pack text into an opaque binary blob + typed metadata —
    * the storage shape for image/audio payloads. */
  def toBlob(text: Column): Column = encode(text, "UTF-8")

  /** 16-bit perceptual signature of an opaque payload: simhash over the
    * polynomial checksums of its 16-byte frames (a real decoder swaps
    * frame checksums for DCT/pixel features; the signature algebra is
    * unchanged). ONE definition shared by the batch near-dup query
    * (`multimodal_phash_neardup`) and the streaming ingest twin
    * ([[graft.streaming.StreamOps.phashDedupStream]]) so batch and
    * stream can never bucket differently — the same single-definition
    * rule as [[TextOps.sampleKey]]. Empty payloads hash one empty
    * frame. */
  def phashSignature(text: Column): Column = {
    val nf = greatest(lit(1), floor((length(text) + 15) / 16).cast("int"))
    TextOps.simHash(transform(sequence(lit(0), nf - 1),
      i => TextOps.polyHash(text.substr(i * 16 + 1, lit(16)))))
  }

  /** Band-j key of [[phashSignature]]'s 4×4-bit Hamming-LSH banding
    * (Hamming ≤ 3 leaves ≥ 1 band untouched — pigeonhole). */
  def phashBandKey(ph: Column, j: Int): Column =
    concat_ws("_", lit(j), shiftright(ph, 4 * j).bitwiseAND(lit(15)))

  /** Multimodal STUB feature extraction over the blob: byte length, first
    * byte, content checksum. A real decoder (image resize, audio frames)
    * replaces the expressions with a batched binary UDF; the schema
    * contract (blob in, fixed-width features out) is what's exercised. */
  def blobFeatures(blob: Column, text: Column): Seq[(String, Column)] = Seq(
    "n_bytes" -> length(blob).cast("long"),
    "first_byte" -> ascii(substring(text, 1, 1)).cast("long"),
    "checksum" -> TextOps.polyHash(text))
}
