package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.queries.MiningQueries

/** Randomized generalization of the BPE fixture suites: RANDOM corpora
  * over a tiny alphabet (heavy bigram collisions, ties, chained merges,
  * repeated tokens — the shapes hand fixtures under-sample) must train
  * bit-equal to the from-scratch recount oracle through the
  * maintained-counts trainer (`MiningQueries.bpeTrainOn`), with filler
  * padding to force its DELTA branch on every round.
  *
  * Trials are few (each runs k Spark rounds) but each trial explores a
  * corpus no fixture enumerates. */
object BpePropertySpec extends Properties("graft.bpe") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkTest.session

  // Tiny alphabet → near-certain repeated bigrams and ties; doc lengths
  // 0..6 include empty and 1-token docs (no-bigram contributors).
  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 6)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
  } yield toks.mkString(" ")

  private val corpusGen: Gen[List[String]] =
    Gen.choose(1, 10).flatMap(Gen.listOfN(_, docGen))

  private val K = 4L

  property("maintained trainer (delta branch forced) == recount oracle") =
    forAll(corpusGen) { texts =>
      // unique-singleton filler docs push nDocs past DELTA_GATE·cnt for
      // any winner this corpus can produce (cnt ≤ total bigrams ≤ 60),
      // so every round takes the DELTA branch; the fillers contribute no
      // bigrams, hence the oracle answer on the padded corpus is the
      // same algebra with the gate flipped.
      val filler = (0 until (MiningQueries.DELTA_GATE.toInt * 60)).map(i => s"f$i")
      val padded = filler ++ texts
      // force the distributed trainer: this property pins the DELTA
      // branch; the r15 driver fast path would otherwise capture the
      // fixture-sized corpus (driver ≡ oracle is pinned in BpeTrainerSpec)
      spark.conf.set(graft.ops.BpeOps.BPE_DRIVER_MAX_KEY, "0")
      val (gotM, gotC, gotCounts) =
        try MiningQueries.bpeTrainOn(
          spark, BpeTestOracle.corpusDF(spark, padded), K)
        finally spark.conf.unset(graft.ops.BpeOps.BPE_DRIVER_MAX_KEY)
      val (expM, expC) = BpeTestOracle.naiveTrain(
        BpeTestOracle.corpusDF(spark, padded), K)
      BpeTestOracle.collectMerges(gotM) == expM &&
        BpeTestOracle.collectCorpus(gotC) == expC &&
        gotCounts.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
          BpeTestOracle.recount(gotC)
    }
}
