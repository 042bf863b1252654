package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{EnrichOps, TextOps}

/** The VADER score composed from higher-order functions: the reference
  * that [[graft.expressions.VaderScore]] (`EnrichOps.vaderScore`) must
  * equal bit for bit, over the same tokens, lexicon, boosters, negations
  * and constants. */
object VaderReference {
  import EnrichOps.{boosters, negations, N_SCALAR}

  /** Cleaned tokens: VADER strips leading/trailing punctuation before
    * lexicon lookup ("good!" scores as "good"); the emphasis marks are
    * counted from the raw text separately. */
  private def cleanedTokens(text: Column): Column =
    transform(TextOps.tokens(text), t => regexp_replace(t, "[!?]", ""))

  private def boosterVal(t: Column): Column =
    boosters.foldRight(lit(0.0): Column) { case ((w, b), els) =>
      when(t === w, lit(b)).otherwise(els)
    }

  private def isNegation(t: Column): Column =
    negations.map(t === _).reduce(_ || _)

  /** `df` with the VADER score of `text` over the lexicon `lex` as column
    * `out`. The per-token arrays (valences, booster increments, negation
    * flags as 0/1 ints) are separate projected columns: inlined,
    * Catalyst's project-collapse would re-substitute the token pipeline
    * into every `element_at`, an O(n²·|lexicon|) interpreted blowup. */
  def withVaderScoreHof(df: DataFrame, text: Column, out: String,
                        lex: Seq[(String, Double)] = EnrichOps.lexicon): DataFrame = {
    val staged = df.withColumn("__vader_cts", cleanedTokens(text))
      .withColumn("__vader_vs", transform(col("__vader_cts"), EnrichOps.valenceVia(lex)(_)))
      .withColumn("__vader_bs", transform(col("__vader_cts"), boosterVal(_)))
      .withColumn("__vader_ngs",
        transform(col("__vader_cts"), t => when(isNegation(t), lit(1)).otherwise(lit(0))))
    val vs = col("__vader_vs")
    val bs = col("__vader_bs")
    val ngs = col("__vader_ngs")
    val n = size(vs)
    val weighted = transform(sequence(lit(1), n), i => {
      val v = element_at(vs, i)
      val b1 = when(i >= 2, element_at(bs, i - 1)).otherwise(lit(0.0))
      val b2 = when(i >= 3, element_at(bs, i - 2)).otherwise(lit(0.0))
      val b3 = when(i >= 4, element_at(bs, i - 3)).otherwise(lit(0.0))
      val boosted = when(v === 0.0, lit(0.0)).otherwise(
        v + when(v > 0, lit(1.0)).otherwise(lit(-1.0)) *
          (b1 + lit(0.95) * b2 + lit(0.9) * b3))
      val ng = (1 to 3).map { d =>
        when(i >= d + 1, element_at(ngs, i - d)).otherwise(lit(0))
      }.reduce(_ + _)
      boosted * when(ng > 0, lit(N_SCALAR)).otherwise(lit(1.0))
    })
    val s = when(n < 1, lit(0.0))
      .otherwise(aggregate(weighted, lit(0.0), (acc, v) => acc + v))
    val nExcl = least(size(split(text, "!", -1)) - 1, lit(4)).cast("double")
    val nQm = (size(split(text, "\\?", -1)) - 1).cast("double")
    val amp = nExcl * lit(0.292) +
      when(nQm > 3, lit(0.96)).when(nQm > 1, nQm * lit(0.18)).otherwise(lit(0.0))
    val sAmp = when(s > 0, s + amp).when(s < 0, s - amp).otherwise(s)
    staged.withColumn(out, sAmp / sqrt(sAmp * sAmp + lit(15.0)))
      .drop("__vader_cts", "__vader_vs", "__vader_bs", "__vader_ngs")
  }
}
