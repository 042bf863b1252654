package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Shared independent oracle for every BPE-trainer suite: the
  * from-scratch RECOUNT trainer (each round recounts ALL bigrams of the
  * full corpus, picks (cnt desc, w1, w2) top-1, applies the framed
  * non-overlapping replace) — the shape the registry ran through r10.
  * The fixture (BpeTrainerSpec) and randomized (BpePropertySpec)
  * suites both assert bit-equality against this one definition, so the
  * contract cannot drift between copies. */
object BpeTestOracle {

  def corpusDF(spark: SparkSession, texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_raw"))
  }

  /** (merges, final corpus sorted by doc_id). */
  def naiveTrain(corpus0: DataFrame, k: Long)
      : (Seq[(Long, String, String, Long)], Seq[(Long, String)]) = {
    var corpus = corpus0.localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1L
    var exhausted = false
    while (step <= k && !exhausted) {
      val topOpt = corpus
        .select(explode(TextOps.bigrams(TextOps.tokens(col("text")))).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        .select(split(col("bg"), " ").getItem(0).as("w1"),
          split(col("bg"), " ").getItem(1).as("w2"), col("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1)
        .collect().headOption
      if (topOpt.isEmpty) exhausted = true
      else {
        val t = topOpt.get
        val (w1, w2) = (t.getAs[String]("w1"), t.getAs[String]("w2"))
        merges += ((step, w1, w2, t.getAs[Long]("cnt")))
        val framed =
          concat(lit(" "), replace(col("text"), lit(" "), lit("  ")), lit(" "))
        corpus = corpus.select(col("doc_id"),
          trim(replace(replace(framed, lit(s" $w1  $w2 "), lit(s" ${w1}_$w2 ")),
            lit("  "), lit(" "))).as("text"), col("n_raw"))
          .localCheckpoint()
      }
      step += 1
    }
    val docs = corpus.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    (merges.toSeq, docs)
  }

  def collectMerges(m: DataFrame): Seq[(Long, String, String, Long)] =
    m.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)

  def collectCorpus(c: DataFrame): Seq[(Long, String)] =
    c.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  /** Bigram recount of `c` as a map — what a correct maintained count
    * table must equal. */
  def recount(c: DataFrame): Map[String, Long] =
    c.select(explode(TextOps.bigrams(TextOps.tokens(col("text")))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
}
