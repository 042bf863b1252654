package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.CosineSimilarity.cosineSim
import graft.ops.{VectorOps, VwapAggregator}
import graft.streaming.Heartbeat

/** Custom Catalyst surface: the codegen'd CosineSimilarity expression must
  * be bit-identical to the interpreted HOF formulation; the VWAP Aggregator
  * must match its decimal-exact closed form; the heartbeat mirrors the
  * reference's 120 s SLO (main.py:74-79). */
class CustomExprSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  test("CosineSimilarity: bit-identical to the HOF fold on real embeddings") {
    val e = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    val both = e.crossJoin(broadcast(q)).select(
      VectorOps.cosine($"embedding", $"q_emb").as("hof"),
      cosineSim($"embedding", $"q_emb").as("native"))
    val mismatches = both.filter(
      $"hof" =!= $"native" || $"hof".isNull =!= $"native".isNull).count()
    assert(mismatches == 0)
  }

  test("CosineSimilarity: nulls propagate, zero vector -> 0.0") {
    val df = Seq(
      (Some(Array(1.0f, 0.0f)), Some(Array(1.0f, 0.0f))),
      (None, Some(Array(1.0f, 0.0f))),
      (Some(Array(0.0f, 0.0f)), Some(Array(1.0f, 2.0f))))
      .toDF("a", "b")
      .select(cosineSim($"a", $"b").as("c"))
    val got = df.collect()
    assert(got(0).getDouble(0) == 1.0)
    assert(got(1).isNullAt(0))
    assert(got(2).getDouble(0) == 0.0)
  }

  test("CosineSimilarity: equal-length contract on the fixture, prefix off it") {
    // The native expression and the HOF/oracle agree bit-for-bit ONLY on
    // equal-length arrays: off that contract the HOF null-pads (NULL out)
    // while the native folds the common prefix BY DEFINITION (matching
    // the HOF would force nullable=true on every sim column — see the
    // class doc). Pin both halves: (1) the fixture satisfies the
    // contract (every embedding exactly 64 elements); (2) the defined
    // prefix behavior off-contract.
    val e = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(e.filter(size($"embedding") =!= 64).count() == 0,
      "embedding table violates the equal-length contract")
    val off = Seq((Array(3.0f), Array(3.0f, 4.0f)))
      .toDF("a", "b").select(cosineSim($"a", $"b").as("c")).collect()
    assert(off(0).getDouble(0) == 1.0,
      "defined mismatch semantics: fold the common prefix (here [3]x[3])")
    // and the HOF reference NULLs out on the same input — the divergence
    // is real and deliberate, not an untested assumption
    val hof = Seq((Array(3.0f), Array(3.0f, 4.0f)))
      .toDF("a", "b").select(VectorOps.cosine($"a", $"b").as("c")).collect()
    assert(hof(0).isNullAt(0), "HOF unexpectedly stopped null-padding")
  }

  test("SquaredDistance: bit-identical to the HOF fold on real embeddings") {
    import graft.expressions.SquaredDistance.squaredDist
    val e = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    val both = e.crossJoin(broadcast(q)).select(
      TestFolds.hofSquaredDist($"embedding", $"q_emb").as("hof"),
      squaredDist($"embedding", $"q_emb").as("native"))
    val mismatches = both.filter(
      $"hof" =!= $"native" || $"hof".isNull =!= $"native".isNull).count()
    assert(mismatches == 0)
  }

  test("SquaredDistance: nulls propagate, identical arrays -> 0.0") {
    import graft.expressions.SquaredDistance.squaredDist
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f))),
      (Some(Seq(3.0f, 0.0f)), Some(Seq(0.0f, 4.0f))),
      (None, Some(Seq(1.0f, 1.0f))),
      (Some(Seq(1.0f, 1.0f)), None)
    ).toDF("a", "b").select(squaredDist($"a", $"b").as("d2"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(0.0), Some(25.0), None, None))
  }

  test("null ELEMENTS null the result, matching the HOF fold (both expressions)") {
    import graft.expressions.SquaredDistance.squaredDist
    // element-level nulls must propagate like the HOF formulations the
    // natives claim bit-parity with — not silently read as 0.0
    val df = Seq(
      (Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))),
      (Seq(Some(1.0f), Some(2.0f)), Seq(Some(1.0f), Some(2.0f)))
    ).toDF("a", "b").select(
      squaredDist($"a", $"b").as("nd2"), TestFolds.hofSquaredDist($"a", $"b").as("hd2"),
      cosineSim($"a", $"b").as("ncos"),
      VectorOps.cosine($"a", $"b").as("hcos"))
    val rows = df.collect()
    // row 0: null element -> ALL four null
    assert((0 until 4).forall(rows(0).isNullAt), s"expected all-null: ${rows(0)}")
    // row 1: clean -> native equals HOF bitwise
    assert(rows(1).getDouble(0) == rows(1).getDouble(1))
    assert(rows(1).getDouble(2) == rows(1).getDouble(3))
  }

  test("interpreted path throws (not null) on containsNull=false violations") {
    // The ADVICE-r8 divergence: with array COLUMNS nullable but elements
    // declared containsNull=false, the codegen path emits no per-element
    // guard (it trusts the schema) while the interpreted path used to
    // return NULL — same input, different result. Both natives must now
    // THROW in the interpreted path for this schema-violating input.
    import org.apache.spark.sql.catalyst.expressions.{If, Literal}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val at = ArrayType(DoubleType, containsNull = false)
    // a literal whose DATA violates its declared containsNull=false
    val dirty = Literal.create(new GenericArrayData(Array[Any](1.0, null)), at)
    val clean = Literal.create(new GenericArrayData(Array[Any](1.0, 2.0)), at)
    // wrap in If so the ARRAY side is nullable (nullable=true) while
    // elements stay declared non-null (elemNullable=false) — the exact
    // combination where the old `if (nullable) return null` diverged
    def opt(e: Literal) = If(Literal(true), e, Literal(null, at))
    val sq = graft.expressions.SquaredDistance(opt(dirty), opt(clean))
    assert(sq.nullable) // array-level nullability is still reported
    intercept[NullPointerException](sq.eval(null))
    val cs = graft.expressions.CosineSimilarity(opt(dirty), opt(clean))
    intercept[NullPointerException](cs.eval(null))
    // and a clean input through the same nullable wrapper still computes
    val ok = graft.expressions.SquaredDistance(opt(clean), opt(clean))
    assert(ok.eval(null) == 0.0)
  }

  test("JaccardSimilarity: bit-identical to the composed intersect formula") {
    import graft.expressions.JaccardSimilarity.jaccardSim
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val t = docs.select(
      $"doc_id",
      array_distinct(graft.ops.TextOps.tokenHashes($"text")).as("th"))
    val a = t.limit(40).select($"doc_id".as("a_id"), $"th".as("a_th"))
    val b = t.limit(40).select($"doc_id".as("b_id"), $"th".as("b_th"))
    val pairs = a.join(b, $"a_id" < $"b_id")
      .withColumn("native", jaccardSim($"a_th", $"b_th"))
      .withColumn("inter", size(array_intersect($"a_th", $"b_th")))
      .withColumn("composed",
        $"inter".cast("double") / (size($"a_th") + size($"b_th") - $"inter"))
    assert(pairs.filter($"native" =!= $"composed").count() == 0)
  }

  test("JaccardSimilarity: identical sets -> 1.0, disjoint -> 0.0, empty -> 0.0") {
    import graft.expressions.JaccardSimilarity.jaccardSim
    val df = Seq(
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      (Array(1L, 2L), Array(3L, 4L)),
      (Array.empty[Long], Array.empty[Long]))
      .toDF("a", "b").select(jaccardSim($"a", $"b").as("j"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.0, 0.0))
  }

  test("TextHash kernels: bit-identical to the HOF folds on real documents") {
    import graft.ops.TextOps
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val shingleHof = array_distinct(expr(
      "transform(sequence(0, size(split(text, ' ')) - 3), " +
        s"i -> aggregate(transform(split(concat_ws(' ', slice(split(text, ' '), i + 1, 3)), ''), " +
        s"c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % ${TextOps.P}))"))
    val both = docs.filter(size(split($"text", " ")) >= 3).select(
      TextOps.polyHash($"text").as("ph_n"), TextOps.polyHashHof($"text").as("ph_h"),
      TextOps.tokenHashes($"text").as("th_n"), TextOps.tokenHashesHof($"text").as("th_h"),
      graft.expressions.TextHash.shingleHashes($"text").as("sh_n"), shingleHof.as("sh_h"),
      TextOps.minHash(TextOps.tokenHashes($"text"), 7L, 3L).as("mh_n"),
      TextOps.minHashHof(TextOps.tokenHashesHof($"text"), 7L, 3L).as("mh_h"),
      TextOps.simHash(TextOps.tokenHashes($"text")).as("si_n"),
      TextOps.simHashHof(TextOps.tokenHashesHof($"text")).as("si_h"))
    val bad = both.filter(
      $"ph_n" =!= $"ph_h" || $"th_n" =!= $"th_h" || $"sh_n" =!= $"sh_h" ||
        $"mh_n" =!= $"mh_h" || $"si_n" =!= $"si_h").count()
    assert(bad == 0)
  }

  test("TextHash edge cases: empty string, short docs, empty-array minhash") {
    import graft.expressions.TextHash
    val df = Seq("", "one two", "a b c", "x  y").toDF("text").select(
      TextHash.polyHash($"text").as("ph"),
      TextHash.tokenHashes($"text").as("th"),
      TextHash.shingleHashes($"text").as("sh"),
      TextHash.minHash(TextHash.shingleHashes($"text"), 7L, 3L).as("mh"))
    val got = df.collect()
    assert(got(0).getLong(0) == 0L)          // polyHash("") = 0
    assert(got(0).getSeq[Long](2).isEmpty)   // <3 tokens -> no shingles
    assert(got(1).getSeq[Long](2).isEmpty)
    assert(got(2).getSeq[Long](2).size == 1) // exactly one 3-gram
    assert(got(0).isNullAt(3))               // minhash of empty = null (array_min)
    assert(!got(2).isNullAt(3))
    // "x  y" double space -> empty middle token is a real token
    assert(got(3).getSeq[Long](1).size == 3)
  }

  test("sorted-merge Jaccard equals hash-probe Jaccard on sorted sets") {
    import graft.expressions.JaccardSimilarity._
    val rng = new scala.util.Random(42)
    val rows = Seq.fill(200) {
      val a = Seq.fill(rng.nextInt(30))(rng.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rng.nextInt(30))(rng.nextInt(40).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq.empty[Long])) :+ ((Seq(1L, 2L), Seq.empty[Long]))
    val df = rows.toDF("a", "b").select(
      jaccardSim($"a", $"b").as("probe"),
      jaccardSimSorted($"a", $"b").as("merge"))
    assert(df.filter($"probe" =!= $"merge").count() == 0)
  }

  test("JaccardGeqSorted: early-exit predicate == (jaccardSimSorted >= t) exactly") {
    import graft.expressions.JaccardSimilarity.jaccardSimSorted
    import graft.expressions.JaccardGeqSorted.jaccardGeqSorted
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(400) {
      val a = Seq.fill(rng.nextInt(40))(rng.nextInt(50).toLong).distinct.sorted
      val b = Seq.fill(rng.nextInt(40))(rng.nextInt(50).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq.empty[Long])) :+
      ((Seq(1L, 2L), Seq.empty[Long])) :+
      ((Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)))
    // thresholds include the production 0.8, exact-ratio boundaries that
    // small sets actually hit (1/2, 1/3, 2/3, 19/20), and the ends
    val thresholds = Seq(0.0, 1.0 / 3, 0.5, 2.0 / 3, 0.8, 19.0 / 20, 1.0)
    val df = rows.toDF("a", "b")
    for (t <- thresholds) {
      val bad = df.select(
        (jaccardSimSorted($"a", $"b") >= t).as("ref"),
        jaccardGeqSorted($"a", $"b", t).as("fast"))
        .filter($"ref" =!= $"fast").count()
      assert(bad == 0, s"jaccardGeqSorted diverges from >= at t=$t")
    }
    // interpreted path too (eval without codegen): same contract
    val ge = graft.expressions.JaccardGeqSorted(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1L, 2L, 3L, 4L, 5L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1L, 2L, 3L, 4L, 9L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      0.8)
    assert(ge.eval(null) == false) // jac = 4/6 < 0.8
    assert(ge.copy(t = 0.5).eval(null) == true) // 4/6 >= 0.5
  }

  test("JaccardGeqSorted: a threshold outside [0, 1] or NaN is rejected") {
    import graft.expressions.JaccardGeqSorted.jaccardGeqSorted
    // NaN would make `needed` 0, so every non-empty pair would pass,
    // while jaccardSimSorted >= NaN passes none
    for (t <- Seq(Double.NaN, -0.1, 1.5, Double.PositiveInfinity)) {
      val e = intercept[IllegalArgumentException](
        jaccardGeqSorted(col("a"), col("b"), t))
      assert(e.getMessage.contains("threshold"), e.getMessage)
    }
    // both ends stay legal
    jaccardGeqSorted(col("a"), col("b"), 0.0)
    jaccardGeqSorted(col("a"), col("b"), 1.0)
  }

  test("InterCountSorted/ContainGeqSorted: == composed array_intersect forms") {
    import graft.expressions.InterCountSorted.interCountSorted
    import graft.expressions.ContainGeqSorted.containGeqSorted
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(400) {
      val a = Seq.fill(rng.nextInt(40))(rng.nextInt(50).toLong).distinct.sorted
      val b = Seq.fill(rng.nextInt(40))(rng.nextInt(50).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq.empty[Long])) :+
      ((Seq(1L, 2L), Seq.empty[Long])) :+
      ((Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)))
    val df = rows.toDF("a", "b")
      .withColumn("ref_i", size(array_intersect($"a", $"b")))
      .withColumn("fast_i", interCountSorted($"a", $"b"))
    assert(df.filter($"ref_i" =!= $"fast_i").count() == 0)
    for ((p, q) <- Seq((9, 10), (1, 2), (0, 1), (1, 1))) {
      val bad = df.select(
        ($"ref_i" * q >= size($"a") * p).as("ref"),
        containGeqSorted($"a", $"b", p, q).as("fast"))
        .filter($"ref" =!= $"fast").count()
      assert(bad == 0, s"containGeqSorted diverges at p/q=$p/$q")
    }
  }

  test("VWAP aggregator matches the decimal closed form") {
    val df = Seq((1L, 10.00, 1L), (1L, 20.00, 3L), (2L, 5.50, 2L))
      .toDF("k", "price", "w")
    val got = df.groupBy($"k")
      .agg(VwapAggregator.vwapColumn($"price", $"w").as("vwap"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == (10.0 * 1 + 20.0 * 3) / 4) // 17.5
    assert(got(2L) == 5.5)
  }

  test("Heartbeat: ONLINE under 120s, OFFLINE at/after (main.py:74-79)") {
    val p = java.nio.file.Files.createTempFile("hb", ".txt").toString
    Heartbeat.write(p, 1000L)
    assert(Heartbeat.status(p, 1000L + 119) == "ONLINE")
    assert(Heartbeat.status(p, 1000L + 120) == "OFFLINE")
    assert(Heartbeat.status(p + ".missing", 0L) == "OFFLINE")
  }

  test("Heartbeat.attach: the last batch's progress JSON lands beside the stamp") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_hb")
    val stamp = dir.resolve("heartbeat").toString
    val listener = Heartbeat.attach(spark, stamp)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = in.toDF().writeStream.format("memory").queryName("hb_progress_out").start()
    try {
      in.addData(1, 2, 3)
      q.processAllAvailable()
      SparkTest.drainBus()
      val p = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(Heartbeat.progressPath(stamp)))
      assert(p.get("id").asText == q.id.toString)
      assert(p.get("batchId").asLong == 0L)
      assert(p.get("numInputRows").asLong == 3L)
      assert(p.get("durationMs").has("triggerExecution"))
      assert(Heartbeat.status(stamp, System.currentTimeMillis() / 1000) == "ONLINE")
      // the temp file of the atomic replace is renamed away, not left behind
      val left = dir.toFile.list().toSet
      assert(left == Set("heartbeat", "heartbeat.progress.json"), s"left: $left")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
