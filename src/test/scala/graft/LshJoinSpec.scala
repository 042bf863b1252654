package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** The two physical shapes of the LSH dedup candidate join (VERDICT r1
  * item 4): broadcast build when the banded table fits the threshold,
  * salted (bucket, salt) shuffle when it doesn't — same rows either way.
  * The salted path is the 100 TB plan; forcing it here via
  * autoBroadcastJoinThreshold=-1 is exactly how LshJoin decides at scale
  * (optimizer size estimate vs threshold). */
class LshJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session

  private val SF = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def exchanges(df: DataFrame) = {
    // force execution so an AQE plan is final
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (plan.collect { case e: BroadcastExchangeExec => e },
      plan.collectWithSubqueries { case e: ShuffleExchangeExec => e })
  }

  private def withForcedSalted[T](body: => T): T = {
    // "1": positive (so the size-gated payload-attach broadcasts stay
    // legal — a disable via ≤ 0 now reaches them too, pinned below) but
    // smaller than any banded frame's estimate, so candidateJoin always
    // takes the salted branch — the same decision rule it applies at
    // scale.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try body finally spark.conf.set(key, prev)
  }

  private def withBroadcastDisabled[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("dedup_minhash_lsh: salted path shuffles on (bucket, salt), no broadcast, same rows") {
    val q = TextQueries.queries("dedup_minhash_lsh")
    val expected = rows(q(spark, SF))
    withForcedSalted {
      val salted = q(spark, SF)
      val (bcasts, shuffles) = exchanges(salted)
      assert(bcasts.isEmpty, s"salted path must not broadcast, found ${bcasts.size}")
      val saltKeyed = shuffles.filter { e =>
        val p = e.outputPartitioning.toString
        p.contains("salt") && p.contains("bucket")
      }
      assert(saltKeyed.nonEmpty,
        s"expected a hashpartitioning on (bucket, salt); shuffles were:\n" +
          shuffles.map(_.outputPartitioning).mkString("\n"))
      assert(rows(salted) == expected)
    }
  }

  test("dedup_shingle_jaccard: salted path matches broadcast path") {
    val q = TextQueries.queries("dedup_shingle_jaccard")
    val expected = rows(q(spark, SF))
    withForcedSalted {
      val salted = q(spark, SF)
      val (bcasts, _) = exchanges(salted)
      // The CANDIDATE join must stay a salted shuffle — no banded frame
      // (bucket column) may broadcast. The per-pair verify attach, by
      // contrast, broadcasts its in-cap payload sides BY DESIGN since
      // r13 (LshJoin.attachSide: the pair stream must never carry
      // payload through an exchange), so payload-only broadcasts are
      // the expected shape here, not a leak of the broadcast path.
      val banded = bcasts.filter(_.output.map(_.name).contains("bucket"))
      assert(banded.isEmpty,
        s"banded candidate frame broadcast on the salted path:\n$banded")
      assert(rows(salted) == expected)
    }
  }

  // -- fuse-vs-ship rule (r12 verdict item 4): the verify-payload
  // decision is mechanical (LshJoin.fuseRule from bucket-size stats),
  // and the r12 MEASURED A/B outcomes stay pinned as fixtures so the
  // rule can never silently invert them. fuse ⟺ bucket-collision pairs
  // > bandRows·(1+salts) — the per-doc prose rule with nDocs cancelled.

  test("fuseRule pins the r12 minhash A/B: high pair density fuses") {
    // dedup_minhash_lsh at sf10 (BENCH_NOTES r12): ~512 candidate
    // pairs/doc vs 2 band rows/doc at salts=8 → copies 18/doc. In the
    // cancelled form with 1M docs: pairs=512e6, bandRows=2e6.
    assert(graft.ops.LshJoin.fuseRule(512e6, 2000000L, salts = 8))
    // and at the sf1 magnitude (~52 pairs/doc, 500k docs)
    assert(graft.ops.LshJoin.fuseRule(26e6, 1000000L, salts = 8))
  }

  test("fuseRule pins the r12 shingle A/B refusal: sparse pairs ship per-pair") {
    // dedup_shingle_jaccard at sf1: 2,557 verified pairs over 500k docs
    // with 4 band rows/doc — fusing measured 3.4× MORE bytes; even at
    // 100× the candidate density the refusal holds.
    assert(!graft.ops.LshJoin.fuseRule(2557.0, 2000000L, salts = 8))
    assert(!graft.ops.LshJoin.fuseRule(255700.0, 2000000L, salts = 8))
  }

  test("shouldFuseVerify measures the live corpora to the same verdicts") {
    // The live integration of the rule on this corpus: the minhash
    // banded frame (2 bands over token minhashes — dense buckets, dup
    // structure is scale-invariant in the testdata) fuses; the shingle
    // banded frame (4 bands over shingle minhashes — sparse buckets)
    // ships per-pair. Built on real sf0.001 data via the same band keys
    // the queries use (bucket column is all shouldFuseVerify reads).
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$SF/documents.parquet")
    val mhBands = {
      val base = d.select(col("doc_id"),
        array_sort(array_distinct(
          graft.ops.TextOps.tokenHashes(col("text")))).as("th"))
      val withMh = (0 until 8).foldLeft(base) { (df, i) =>
        df.withColumn(s"mh$i", graft.ops.TextOps.minHash(
          col("th"), graft.ops.TextOps.MINHASH_A(i),
          graft.ops.TextOps.MINHASH_B(i)))
      }
      def bandKey(j: Int) = concat_ws("_",
        lit(j) +: (0 until 4).map(k => col(s"mh${4 * j + k}")): _*)
      withMh.select(col("doc_id"),
        explode(array(bandKey(0), bandKey(1))).as("bucket"))
    }
    assert(graft.ops.LshJoin.shouldFuseVerify(mhBands, salts = 8),
      "minhash banded frame must fuse on this corpus")
  }

  test("per-pair verify attach never sorts or payload-shuffles the pair stream") {
    // The r13 fourth-decade lessons as contracts. verifyJoin's per-pair
    // branch widens the pair-cardinality candidate stream by the payload
    // (document text): (1) a sort-merge join there sorts a pairs×payload
    // intermediate — at sf100 that spill filled the disk; (2) even
    // hash-joined, the SECOND attach re-shuffles pairs WITH the first
    // side's payload — at sf100 a ~330 GB shuffle write, disk again. So
    // while the payload table fits the cap both attaches broadcast (the
    // pair stream never carries payload through any exchange), and the
    // above-cap fallback is SHUFFLE_HASH (payload builds, pairs probe,
    // nothing pair-cardinality sorted).
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    withForcedSalted {
      val df = SparkEntry.queries("dedup_fuzzy_minhash")(spark, SF)
      df.count()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def attachJoins(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, org.apache.spark.sql.execution.SparkPlan]) =
        plan.collectWithSubqueries(pf)
      val attachSmj = attachJoins {
        case j: SortMergeJoinExec if (j.leftKeys ++ j.rightKeys)
          .flatMap(_.references.toSeq).map(_.name)
          .exists(Set("a_id", "b_id")) => j
      }
      assert(attachSmj.isEmpty,
        s"payload attach planned as sort-merge — the pair stream got sorted:\n$attachSmj")
      val attachBhj = attachJoins {
        case j: BroadcastHashJoinExec if j.leftKeys.flatMap(_.references.toSeq)
          .map(_.name).exists(Set("a_id", "b_id")) => j
      }
      assert(attachBhj.size >= 2,
        s"in-cap payload attaches must broadcast (pair stream shuffles no payload), got ${attachBhj.size}")
    }
    // the above-cap branch, pinned without a >2 GB fixture
    val t = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id").as("a_id"), col("text").as("ta"))
    val over = graft.ops.LshJoin.attachSide(t, BigInt(Long.MaxValue))
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
          h.hints.strategy.map(_.toString).getOrElse("")
      }
    assert(over.exists(_.toUpperCase.contains("SHUFFLE_HASH")) &&
      !over.exists(_.toUpperCase.contains("BROADCAST")),
      s"above-cap attach side must fall back to SHUFFLE_HASH: $over")
  }

  test("attachSide honors a session-wide broadcast disable (threshold <= 0)") {
    // ADVICE r13: the explicit broadcast() hint must not overrule an
    // operator who turned broadcasting off for a small driver — under
    // autoBroadcastJoinThreshold = -1 even an in-cap payload side falls
    // back to SHUFFLE_HASH, the same convention candidateJoin's
    // fitsBroadcast applies.
    import org.apache.spark.sql.functions._
    val t = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id").as("a_id"), col("text").as("ta"))
    def hints(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
          h.hints.strategy.map(_.toString).getOrElse("")
      }
    val inCap = hints(graft.ops.LshJoin.attachSide(t, BigInt(1024)))
    assert(inCap.exists(_.toUpperCase.contains("BROADCAST")),
      s"in-cap attach must broadcast under a default session: $inCap")
    withBroadcastDisabled {
      val disabled = hints(graft.ops.LshJoin.attachSide(t, BigInt(1024)))
      assert(disabled.exists(_.toUpperCase.contains("SHUFFLE_HASH")) &&
        !disabled.exists(_.toUpperCase.contains("BROADCAST")),
        s"threshold <= 0 must force SHUFFLE_HASH on the attach side: $disabled")
    }
  }

  test("measuredBytes: estimate trusted off-boundary, measured on it") {
    // Fixed-width frames and far-from-boundary var-len frames keep the
    // optimizer estimate (no extra job); a var-len frame in the boundary
    // band gets the exact octet-length measurement, which exceeds the
    // compressed-parquet estimate on text (the r13 1.05-vs-2.3 GB gap
    // this gate closes).
    import org.apache.spark.sql.functions._
    val fixed = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id").as("a_id"), col("n_chars"))
    assert(graft.ops.LshJoin.measuredBytes(fixed) ==
      fixed.queryExecution.optimizedPlan.stats.sizeInBytes,
      "fixed-width frame must trust the optimizer estimate")
    val text = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id").as("a_id"), col("text").as("ta"))
    val est = text.queryExecution.optimizedPlan.stats.sizeInBytes
    val measured = BigInt(graft.ops.SessionOps.payloadBytes(text))
    // the sf0.001 fixture is tiny, so the live call takes the fast path;
    // the boundary behavior is the payloadBytes value itself: strictly
    // the raw octet sum plus per-row overhead, here bigger than the
    // fixture's compressed estimate would ever admit at scale
    val rawText = text.agg(sum(octet_length(col("ta")))).head().getLong(0)
    assert(measured >= BigInt(rawText),
      s"payloadBytes ($measured) must cover the raw octets ($rawText)")
    assert(graft.ops.LshJoin.measuredBytes(text) == est,
      "tiny fixture must skip the measurement (est*8 <= budget)")
  }

  test("payloadBytes prices container columns; unmeasurable types classified (ADVICE r14)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StringType}
    import graft.ops.SessionOps
    // array<long> payload — the minhash/shingle shape attachSide can
    // broadcast: elements priced at 8 B each, not the old flat 8 B scalar
    val arr = spark.range(10).select(col("id").as("a_id"),
      sequence(lit(1L), lit(100L)).as("sh"))
    val pb = SessionOps.payloadBytes(arr)
    assert(pb >= 10L * 100L * 8L,
      s"array elements must be priced (got $pb for 1000 longs)")
    // array<string>: element octet lengths dominate
    val sarr = spark.range(4).select(col("id").as("a_id"),
      array(lit("x" * 1000), lit("y" * 1000)).as("ts"))
    assert(SessionOps.payloadBytes(sarr) >= 4L * 2000L,
      "string-array octets must be priced")
    // classification feeding measuredBytes' gate: containers are var-len,
    // maps/structs are unmeasurable (gated at worst-case expansion)
    assert(!SessionOps.fixedWidth(ArrayType(LongType)) &&
      SessionOps.fixedWidth(LongType) && !SessionOps.fixedWidth(StringType))
    assert(SessionOps.allMeasurable(arr.schema) &&
      SessionOps.allMeasurable(sarr.schema))
    val m = spark.range(2).select(
      map(lit("k"), lit(1L)).as("m"), col("id").as("a_id"))
    assert(!SessionOps.allMeasurable(m.schema),
      "map columns have no cheap measurement and must flag the frame")
  }

  test("pairs-meet width scales with enriched payload bytes (r15 sf250 fix)") {
    // The sf250 cell measured the failure this pins: the meet's
    // SHUFFLE_HASH build holds pairs × text, and at the session width a
    // 12.5M-doc corpus put ~500 MB skewed builds in one task's memory
    // ("Can't acquire ... to build hash relation"). The width must come
    // from measured per-pair payload bytes × the pair bound.
    import org.apache.spark.sql.functions._
    val big = "x" * 10000
    val ta = spark.range(200).select(col("id").as("a_id"), lit(big).as("ta"))
    val tb = spark.range(200).select(col("id").as("b_id"), lit(big).as("tb"))
    val cand = spark.range(100).select(
      col("id").as("a_id"), (col("id") + 100L).as("b_id"))
    val plan = graft.ops.LshJoin.Plan(
      cand, broadcastBuild = false, estBucketPairs = Some(1.5e6))
    val joined = graft.ops.LshJoin.verifyJoin(plan, ta, tb)
    val widths = joined.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.optNumPartitions.getOrElse(-1)
    }
    val session = spark.sessionState.conf.numShufflePartitions
    // 1.5M pairs x ~20 KB measured per-pair payload ~ 30 GB enriched ->
    // a couple hundred 128 MB partitions, far above the session 32
    assert(widths.size == 2 && widths.forall(_ > session),
      s"meet width must scale past the session constant ($session): $widths")
  }

  test("pairs-side broadcast: an in-cap pair set takes the broadcast hint") {
    import org.apache.spark.sql.functions._
    val cand = spark.range(5).select(
      col("id").as("a_id"), (col("id") + 100L).as("b_id"))
    val ta = spark.range(200).select(
      col("id").as("a_id"), col("id").cast("double").as("va"))
    val tb = spark.range(200).select(
      col("id").as("b_id"), col("id").cast("double").as("vb"))
    val plan = graft.ops.LshJoin.Plan(
      cand, broadcastBuild = false, estBucketPairs = Some(5.0))
    def hints(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
          h.hints.strategy.map(_.toString).getOrElse("")
      }
    val got = hints(graft.ops.LshJoin.verifyJoin(plan, ta, tb))
    assert(got.exists(_.toUpperCase.contains("BROADCAST")),
      s"in-cap pair set must take the pairs-side broadcast: $got")
  }
}
