package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EnrichOps, TextOps}

/** Edge semantics for the text/enrichment layer: fingerprint determinism,
  * language-ID tie-breaking, quality bounds, sentiment normalization. */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  test("polyHash: deterministic fold, matches hand computation") {
    // 'abc': ((0*31+97)*31+98)*31+99 mod 1e9+7 = 96354
    val got = Seq("abc").toDF("s")
      .select(TextOps.polyHash($"s")).collect().head.getLong(0)
    assert(got == 96354L)
  }

  test("langId: argmax of profile hits; ties go to profile order") {
    val df = Seq(
      "the a fast slow",        // en words only
      "data value query",       // es words only
      "spark stream batch",     // zh words only
      "merge sort table column" // de=2 fr=2 tie -> fr wins (earlier profile)
    ).toDF("text").select(TextOps.langId(TextOps.tokens($"text")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es", "zh", "fr"))
  }

  test("qualityScore stays in [0,1] and rewards longer, diverse docs") {
    val df = Seq(
      "a b",
      ("the quick " * 40).trim // long but repetitive
    ).toDF("text").select(TextOps.qualityScore($"text").as("q"))
    val qs = df.collect().map(_.getDouble(0))
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("sentimentScore: normalized to (-1,1), sign follows lexicon") {
    val df = Seq("fast spark value", "slow error dup", "table column")
      .toDF("text")
      .select(EnrichOps.sentimentScore(TextOps.tokens($"text")).as("s"))
    val ss = df.collect().map(_.getDouble(0))
    assert(ss(0) > 0 && ss(0) < 1)
    assert(ss(1) < 0 && ss(1) > -1)
    assert(ss(2) == 0.0)
  }

  test("vaderScore: negation flips, boosters amplify, punctuation emphasizes") {
    val df = Seq(
      "good",            // baseline: 1.9 / sqrt(1.9^2 + 15)
      "not good",        // negation: 1.9 * -0.74
      "very good",       // booster: 1.9 + 0.293
      "slightly good",   // dampener: 1.9 - 0.293
      "very good!",      // booster + one '!': (1.9 + 0.293) + 0.292
      "never was good",  // negation two tokens back still flips
      "good good???"     // '?' emphasis: 2*1.9 + 3*0.18
    ).toDF("text").select(EnrichOps.vaderScore($"text").as("s"))
    val got = df.collect().map(_.getDouble(0))
    def norm(x: Double) = x / math.sqrt(x * x + 15.0)
    assert(got(0) == norm(1.9))
    assert(got(1) == norm(1.9 * -0.74))
    assert(got(2) == norm(1.9 + 0.293))
    assert(got(3) == norm(1.9 - 0.293))
    assert(got(4) == norm(1.9 + 0.293 + 0.292))
    assert(got(5) == norm(1.9 * -0.74))
    assert(got(6) == norm(1.9 + 1.9 + 3 * 0.18))
    // ordering sanity: negated < neutral 0 < dampened < plain < boosted
    assert(got(1) < 0 && 0 < got(3) && got(3) < got(0) && got(0) < got(2))
    // the DataFrame form scores the same
    val staged = EnrichOps.withVaderScore(
      Seq("good", "not good", "very good", "slightly good", "very good!",
        "never was good", "good good???").toDF("text"), $"text", "s")
      .select("s").collect().map(_.getDouble(0))
    assert(staged.toSeq == got.toSeq)
  }

  test("VaderScore kernel == HOF reference, bit for bit, builtin and file lexicon") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.01")
      .select($"doc_id".cast("long"), $"text")
    val edges = Seq[String](null, "", " ", "   ", "!!!!!", "????", "good", " good", "good ",
      "good  bad", "not good", "a not good", "a b not good", "a b c not good",
      "very good", "a very good", "very a good", "very a b good", "very a b c good",
      "not very good", "slightly not bad", "not not good", "never no good bad",
      "good!!", "bad? bad?", "g?o!od", "very!! good??", "no?? way good? ok?",
      "café très bien good!", "naïve 好 great 好", "émoji 😀 good 😀 not bad")
    val edgeDf = edges.zipWithIndex.map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text")
    val all = docs.unionByName(edgeDf)
    val n = all.count()
    def assertBitEqual(native: org.apache.spark.sql.DataFrame, lex: Seq[(String, Double)]): Unit = {
      val hof = VaderReference.withVaderScoreHof(all, $"text", "h", lex).select($"doc_id", $"h")
      val rows = native.join(hof, "doc_id").collect()
      assert(rows.length == n)
      val bad = rows.filterNot { r =>
        if (r.isNullAt(1) || r.isNullAt(2)) r.isNullAt(1) && r.isNullAt(2)
        else java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2))
      }
      assert(bad.isEmpty, s"${bad.length} mismatches, e.g. ${bad.take(3).mkString("; ")}")
    }
    // the public path, over the effective (builtin) lexicon
    val builtin = EnrichOps.withVaderScore(all, $"text", "n").select($"doc_id", $"n")
    assert(builtin.filter($"n" =!= 0.0).count() > 0)
    assertBitEqual(builtin, EnrichOps.lexicon)
    // a lexicon file in the published format over the corpus's own
    // vocabulary, with the empty token and non-ASCII words in it
    val vocab = docs.select(explode(split($"text", " ")).as("t")).distinct()
      .orderBy("t").limit(400).as[String].collect().toSeq.filter(_.nonEmpty)
    val extra = Seq("" -> 0.5, "café" -> 1.2, "好" -> -0.7, "😀" -> 2.3, "bien" -> 0.8)
    val lines = (vocab.map(w => w -> ((w.hashCode % 397) / 100.0)).filterNot(e =>
      extra.exists(_._1 == e._1)) ++ extra).map { case (w, v) => s"$w\t$v\t0.5\t[1, 2]" }
    val f = java.io.File.createTempFile("vader_lex", ".txt")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
    val fileLex = EnrichOps.lexiconFromFile(f.getPath)
    f.delete()
    assert(fileLex.size == lines.size)
    assertBitEqual(all.select($"doc_id",
      graft.expressions.VaderScore.column($"text", EnrichOps.vaderLexicon(fileLex)).as("n")),
      fileLex)
    // the registry query plans as one native expression: no lambda left to
    // re-optimize per streaming batch
    def lambdas(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.LambdaFunction])))
    assert(!lambdas(SparkEntry.queries("sentiment_score")(spark, "/root/testdata/sf0.01")))
    assert(lambdas(VaderReference.withVaderScoreHof(docs, $"text", "h")))
  }

  test("embedTextBatched: one model call per batch, bit-equal to the expression path") {
    val calls = spark.sparkContext.longAccumulator("graft.embed.batchCalls")
    val rows = spark.sparkContext.longAccumulator("graft.embed.rows")
    val df = (0L until 100L).map(i => (i, s"doc text number $i"))
      .toDF("doc_id", "text").repartition(4)
    val countingModel: Seq[String] => Seq[Array[Double]] = { batch =>
      if (batch.isEmpty || batch.size > 16)
        throw new IllegalStateException(s"bad batch size ${batch.size}")
      calls.add(1); rows.add(batch.size)
      EnrichOps.embedBatch(batch)
    }
    val got = EnrichOps.embedTextBatched(df, batchSize = 16, model = countingModel)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // every row embedded, via far fewer model calls than rows: each of the
    // 4 partitions groups its ~25 rows into ceil(25/16)=2 batches
    assert(rows.value == 100L)
    assert(calls.value >= 7L && calls.value <= 12L, s"calls=${calls.value}")
    // bit-equal to the expression form (same stub "model" on both paths)
    val exprPath = df.select($"doc_id", EnrichOps.embedText($"text").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got == exprPath)
  }

  test("bigrams: adjacent pairs; 1-token doc yields empty (no index-0 throw)") {
    val df = Seq("a b b c", "solo", "x y").toDF("text")
      .select(TextOps.bigrams(TextOps.tokens($"text")).as("bg"))
    val got = df.collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got == Seq(Seq("a b", "b b", "b c"), Seq(), Seq("x y")))
  }

  test("maxFreq: top occurrence count; empty array -> null") {
    val df = Seq(
      Seq("b", "a", "b", "c", "b", "a"), // b×3
      Seq("z"),                          // 1
      Seq[String]()                      // empty -> null
    ).toDF("arr").select(TextOps.maxFreq($"arr").as("m"))
    val got = df.collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq
    assert(got == Seq(3, 1, -1))
  }

  test("repetitionStats: native kernel bit-equal to the HOF chain") {
    val texts = Seq(
      "a b b c b a",      // uni: b×3, bi: "b b"… each once
      "solo",             // 1 token -> top_bi null
      "x x x x",          // uni 4, bi "x x"×3
      "p q p q p",        // bi "p q"×2 / "q p"×2
      ""                  // split("") -> [""] single empty token
    )
    val df = texts.toDF("text")
    val rs = graft.expressions.TextHash.repetitionStats($"text")
    val native = df.select(
      rs.getField("n_tokens"), rs.getField("top_uni"), rs.getField("top_bi"))
      .collect().map(r => (r.getInt(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    val toks = TextOps.tokens($"text")
    val hof = df.select(
      size(toks), TextOps.maxFreq(toks),
      TextOps.maxFreq(TextOps.bigrams(toks)))
      .collect().map(r => (r.getInt(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(native == hof)
    assert(native == Seq((6, 3, 1), (1, 1, -1), (4, 4, 3), (5, 3, 2), (1, 1, -1)))
  }

  test("simHash: identical docs collide, signature within 16 bits") {
    val df = Seq("spark merge join", "spark merge join", "value data table")
      .toDF("text")
      .select(TextOps.simHash(TextOps.tokenHashes($"text")).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(hs.forall(h => h >= 0 && h < 65536))
  }

  test("text_char_entropy: degenerate text scores 0, uniform text scores ln(k)") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_entropy_corpus"
    Seq(
      (1L, "aaaaaaaaaaaaaaaa", "en", "src0", 16L),   // 1 symbol -> H = 0
      (2L, "abcdabcdabcdabcd", "en", "src0", 16L),   // 4 uniform -> H = ln 4
      (3L, "abababababababab", "en", "src0", 16L))   // 2 uniform -> H = ln 2
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("text_char_entropy")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 0.0)
    // each -p ln p term is r6-quantized before the exact decimal sum
    def h(k: Int) = {
      val term = math.floor((-(1.0 / k) * math.log(1.0 / k)) * 1e6 + 0.5) / 1e6
      BigDecimal(term).setScale(6).*(k).toDouble
    }
    assert(out(2L) == h(4), s"uniform-4 entropy: got ${out(2L)}, want ${h(4)}")
    assert(out(3L) == h(2))
  }
}
