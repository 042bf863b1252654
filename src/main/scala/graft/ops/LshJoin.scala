package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate-generation + verify joins for banded LSH dedup
  * (dedup_minhash_lsh / dedup_shingle_jaccard).
  *
  * Two physical strategies behind one logical shape, picked by the
  * optimizer's size estimate of the banded table:
  *
  *  - '''broadcast''' (build side fits in memory): probe side round-robin
  *    repartitioned against a broadcast build — a low-cardinality corpus
  *    collapses into few buckets, and with the build broadcast the
  *    quadratic pair space of a heavy bucket spreads evenly because its
  *    probe ROWS do. No pair shuffle at all.
  *
  *  - '''salted shuffle''' (build side too big to broadcast — the 100 TB
  *    case): each probe row picks one deterministic salt from its doc_id,
  *    the build side is replicated to every salt, and the join shuffles
  *    BOTH sides on `(bucket, salt)`. A hot bucket's probe rows land on
  *    `salts` different reducers instead of one, so the quadratic pair
  *    enumeration of the heaviest bucket is spread `salts`-ways — the
  *    plan-level skew answer that works where AQE's skew-join split can't
  *    see the downstream pair blowup. Each (probe, build) pair meets at
  *    exactly one salt, so no dedup is needed.
  *
  * The verify joins follow the same decision: broadcast the token-set
  * lookups when small, plain shuffled equi-joins on the (unique, unskewed)
  * doc ids when not.
  */
object LshJoin {

  /** How the candidate join was planned; carries the decision to the
    * verify joins so both stages agree. `carried` lists the verify
    * payload columns already attached to `candidates` as
    * `a_<col>`/`b_<col>` (the salted fused-verify path — see
    * [[candidateJoin]]'s `verifyCols`). */
  case class Plan(candidates: DataFrame, broadcastBuild: Boolean,
      carried: Seq[String] = Nil,
      /** Σ sz·(sz−1)/2 over the salted branch's band buckets — an UPPER
        * bound on candidate pairs (pre-extraCond, pre-distinct), so the
        * pairs-side broadcast gate it feeds is conservative toward the
        * shuffle path. None on the broadcast branch (small corpus, the
        * payload broadcasts are already the right shape). */
      estBucketPairs: Option[Double] = None)

  /** True when `df`'s optimizer size estimate fits the session's broadcast
    * threshold (and the threshold is positive — `-1` disables broadcasting
    * session-wide, which is also how the spec forces the salted path). */
  private def fitsBroadcast(s: SparkSession, df: DataFrame): Boolean = {
    val threshold = s.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
  }

  /** Self-join `bands` on `bucket` (plus `extraCond` over aliases `x`/`y`:
    * size prunes, first-collision-band filter), emitting candidate pairs
    * `(a_id, b_id)` with `a_id < b_id`. `bands` must carry `doc_id`,
    * `bucket`, and whatever `extraCond` references.
    *
    * `verifyCols` (salted-branch byte cut, r12): names of verify payload
    * columns present in `bands` (e.g. the sorted token-hash arrays) to
    * surface on the candidate output as `a_<col>`/`b_<col>` — computed
    * IN the candidate join stage, so the payload rides the (bucket,
    * salt) shuffle once per band×salt per DOCUMENT (2 + 2·salts copies
    * per doc) instead of once per candidate PAIR in a downstream verify
    * join (the r11 triage: 4.5 GB of paired token arrays at sf10,
    * ~512 pairs/doc — per-pair shipping is ~30× the fused volume there
    * and grows with bucket density, while the fused copy count is a
    * constant). The broadcast branch ignores `verifyCols` and keeps the
    * banded build lean (payload there is attached by [[verifyJoin]]'s
    * broadcast lookups, already per-doc); the size gate measures the
    * LEAN frame in both branches, so carrying payload never flips the
    * plan choice.
    *
    * Decision rule, MEASURED both ways (BENCH_NOTES r12) and since r13
    * applied MECHANICALLY by [[shouldFuseVerify]]: fuse when expected
    * candidate pairs per document exceed the per-doc copy count
    * (bands + bands·salts), ship per-pair otherwise. dedup_minhash_lsh
    * fuses (~512 pairs/doc at sf10 vs 18 copies: 7.1× fewer bytes);
    * dedup_shingle_jaccard does NOT (2.6k pairs total at sf1 vs 36
    * copies/doc: fusing measured 3.4× MORE bytes and slower walls).
    * Callers therefore pass verifyCols as the AVAILABLE payload — the
    * salted branch decides per-corpus whether to carry it; the measured
    * r12 refusals are pinned as real-data fixtures in LshJoinSpec.
    * CONTRACT: a verifyCol must not be referenced by `extraCond` — the
    * broadcast branch joins the LEAN frames (payload dropped), so a
    * condition over a payload column would not resolve there
    * (multimodal_phash_neardup keeps `ph` out of verifyCols for exactly
    * this reason). */
  def candidateJoin(
      s: SparkSession,
      bands: DataFrame,
      extraCond: Column,
      salts: Int = 8,
      verifyCols: Seq[String] = Nil): Plan = {
    val pairCond =
      col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id") && extraCond
    val lean = verifyCols.foldLeft(bands)(_ drop _)
    if (fitsBroadcast(s, lean)) {
      val nPart = s.sessionState.conf.numShufflePartitions
      val cand = lean.repartition(nPart).alias("x")
        .join(broadcast(lean.alias("y")), pairCond)
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      Plan(cand, broadcastBuild = true)
    } else {
      val (bucketPairs, bandRows) = bucketPairStats(lean)
      val carry =
        if (verifyCols.isEmpty) Nil
        else if (fuseRule(bucketPairs, bandRows, salts)) verifyCols
        else Nil
      // Probe picks ONE salt (deterministic in doc_id); build replicated
      // to ALL salts. The join's shuffle keys become (bucket, salt).
      val x = bands
        .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(salts)).cast("int"))
      val y = bands
        .withColumn("salt", explode(array((0 until salts).map(lit(_)): _*)))
      val cand = x.alias("x")
        .join(y.alias("y"), col("x.salt") === col("y.salt") && pairCond)
        .select(
          Seq(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")) ++
            carry.flatMap(c =>
              Seq(col(s"x.$c").as(s"a_$c"), col(s"y.$c").as(s"b_$c"))): _*)
      Plan(cand, broadcastBuild = false, carried = carry,
        estBucketPairs = Some(bucketPairs))
    }
  }

  /** The fuse-vs-ship decision, derived from the banded frame's OWN
    * bucket-size stats instead of hand-applied prose (BENCH_NOTES:1542
    * records the hand rule nearly fusing shingle — refused only because
    * it was measured). Fusing ships one payload copy per probe band row
    * plus `salts` copies per build band row = bandRows·(1+salts) total;
    * per-pair shipping pays one payload pair per candidate, bounded
    * above by the bucket-collision count Σ_b sz_b·(sz_b−1)/2 (extraCond
    * prunes some — the bound is conservative TOWARD fusing, and both
    * measured fixtures sit orders of magnitude from the boundary). So:
    * fuse ⟺ Σ sz·(sz−1)/2 > bandRows·(1+salts) — the per-document prose
    * rule (pairs/doc > bands + bands·salts) with nDocs cancelled.
    *
    * Cost: ONE narrow count-by-bucket aggregation over the band keys,
    * paid only on the salted branch (the broadcast branch never carries
    * payload) — at the scale where that branch is taken, one pass over
    * the key column is noise next to the pair join it sizes. */
  private[graft] def shouldFuseVerify(lean: DataFrame, salts: Int): Boolean = {
    val (pairs, rows) = bucketPairStats(lean)
    fuseRule(pairs, rows, salts)
  }

  /** The one bucket-stats pass behind both salted-branch decisions
    * (fuse-vs-ship AND the pairs-side-broadcast verify gate): candidate
    * pairs upper bound Σ sz·(sz−1)/2 and total band rows. */
  private[graft] def bucketPairStats(lean: DataFrame): (Double, Long) = {
    val r = lean.select(col("bucket")).groupBy("bucket")
      .agg(count(lit(1)).as("c"))
      .agg(
        coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0.0)).as("pairs"),
        coalesce(sum(col("c")), lit(0L)).as("bandRows"))
      .head()
    (r.getDouble(0), r.getLong(1))
  }

  /** The pure inequality behind [[shouldFuseVerify]], separated so the
    * MEASURED r12 A/B outcomes (minhash fuses, shingle ships) stay
    * pinned as arithmetic fixtures in LshJoinSpec even as the live
    * corpora drift. */
  private[graft] def fuseRule(
      bucketPairs: Double, bandRows: Long, salts: Int): Boolean =
    bucketPairs > bandRows.toDouble * (1 + salts)

  /** Attach both token-set sides to the candidate pairs for the exact
    * verify. `ta` must be keyed `a_id`, `tb` keyed `b_id`, and their
    * payload columns named `a_<col>`/`b_<col>`. When the salted branch
    * already carried the payload through the candidate join
    * (`Plan.carried`), the pairs are returned as-is — column names and
    * values identical to the joined form, so callers are branch-blind.
    *
    * The per-pair branch never SORTS and, while the payload table fits
    * [[PAYLOAD_BROADCAST_CAP]], never SHUFFLES the pair stream either.
    * Both rules are r13 fourth-decade measurements on
    * dedup_fuzzy_minhash (7.8e8 legitimately-dense candidates at n = 5M
    * — the chained upscale plants real near-dup clusters, p999 bucket
    * 132): an unhinted attach planned sort-merge joins and the sorted
    * pairs×text intermediate filled the disk; re-hinted SHUFFLE_HASH,
    * the SECOND attach still had to re-exchange pairs WITH the first
    * side's text on b_id (~330 GB shuffle write) and filled the disk
    * again. Broadcasting the payload table makes both attaches map-side
    * lookups — the Θ(n^1.22) pair stream flows from the candidate
    * distinct straight into the verify with zero payload shuffle.
    * Above the cap (corpus payload alone past 2 GB — cluster territory,
    * where shuffle capacity is provisioned with the data) the attach
    * falls back to shuffled hash joins: build on the n-row payload
    * table, probe with the pair stream, nothing pair-cardinality ever
    * sorted — the same contract as VectorQueries.attachVerify. The
    * size-gated corpus-derived broadcast hints are covered by each
    * consumer's reviewed PlanAudit.BROADCAST_OK waiver.
    *
    * PRECONDITION (ADVICE r14): `plan.candidates` must hold DISTINCT
    * (a_id, b_id) pairs. The pairs-side broadcast branch joins the pair
    * set against EACH payload side and then meets the two enriched
    * frames on (a_id, b_id) — a pair appearing k times would emit k rows
    * into each side and k² out of the meet, where the payload-side
    * attach shape emits k. Every current caller satisfies this (the
    * minhash/fuzzy first-collision-band filters and the shingle/phash
    * `distinct()` both dedup before verify); a future multi-band caller
    * that doesn't must `distinct()` first or take the attach branch. */
  def verifyJoin(plan: Plan, ta: DataFrame, tb: DataFrame): DataFrame =
    if (plan.broadcastBuild)
      plan.candidates.join(broadcast(ta), "a_id").join(broadcast(tb), "b_id")
    else if (plan.carried.nonEmpty)
      plan.candidates
    else {
      // Pairs-side broadcast (r14): on the salted branch the candidate
      // UPPER bound is already measured (Plan.estBucketPairs, the same
      // stats pass the fuse rule uses). When the bare id pairs fit
      // [[PAIRS_BROADCAST_CAP]], attaching payload by broadcasting the
      // PAIRS and probing with the payload SCANS is the shape that
      // survives any corpus size: the payload is never collected (the
      // r13 payload broadcast was one single-threaded multi-GB
      // hash-relation build at the fourth decade — stage profile) and
      // never shuffled; each side is one map-side pass over its scan,
      // and the two pairs-sized enriched frames meet in a small
      // hash join (SHUFFLE_HASH: pair-cardinality streams are never
      // sorted, the standing contract). Above the cap — or under a
      // session-wide broadcast disable — the payload-side gate below
      // decides as before.
      val s = ta.sparkSession
      val bcastOk = s.sessionState.conf.autoBroadcastJoinThreshold > 0
      val pairsFit = plan.estBucketPairs.exists(p =>
        p * PAIR_ID_BYTES <= graft.ops.SessionOps.broadcastBudget(
          s, PAIRS_BROADCAST_CAP).toDouble)
      if (bcastOk && pairsFit) {
        val pairs = plan.candidates
        val pa = ta.join(broadcast(pairs), "a_id")
        val pb = tb.join(broadcast(pairs), "b_id")
        // The meet's hash build holds an ENRICHED side — pairs × one
        // payload each — so its width must scale with enriched bytes,
        // not sit at the session constant: the r15 sf250 cell measured
        // the failure (12.5M docs, ~2M pairs × ~8 KB UTF-8 text ≈
        // 16 GB enriched over 32 partitions → skewed ~500 MB per-task
        // hash builds → "Can't acquire memory to build hash relation").
        // Per-pair bytes come from ONE narrow aggregate per payload
        // side (measured octet lengths — the same arithmetic as the
        // broadcast gate), paid only on this branch; the explicit
        // (a_id, b_id) repartition satisfies the join's clustering, so
        // it REPLACES the exchange the join would add, wider.
        val (bytesA, rowsA) = graft.ops.SessionOps.payloadBytesRows(ta)
        val (bytesB, rowsB) = graft.ops.SessionOps.payloadBytesRows(tb)
        val perPair = bytesA.toDouble / math.max(1L, rowsA) +
          bytesB.toDouble / math.max(1L, rowsB) + 32.0
        val width = graft.ops.SessionOps.scaledPartitions(
          s, (plan.estBucketPairs.get * perPair).toLong)
        pa.repartition(width, col("a_id"), col("b_id"))
          .join(
            pb.repartition(width, col("a_id"), col("b_id"))
              .hint("SHUFFLE_HASH"),
            Seq("a_id", "b_id"))
      } else
        plan.candidates
          .join(attachSide(ta, measuredBytes(ta)), "a_id")
          .join(attachSide(tb, measuredBytes(tb)), "b_id")
    }

  /** UnsafeRow bytes of one bare (a_id, b_id) candidate pair in a
    * broadcast build. */
  private val PAIR_ID_BYTES = 32.0

  /** Bare candidate-pair table small enough to broadcast for the
    * pairs-side verify attach — 64 MB (~2M pairs): small next to every
    * executor's memory, and the two enriched pairs×payload frames it
    * implies stay comfortably sub-GB at typical document payloads.
    * Shared with VectorQueries.attachVerify (r15) — one gate, both
    * payload families. */
  private[graft] val PAIRS_BROADCAST_CAP: Long = 64L * 1024 * 1024

  /** Collect-side byte estimate for one payload table, with the string
    * expansion closed (ADVICE r13): the optimizer's `sizeInBytes` is the
    * COMPRESSED parquet size, and text payloads expand 2–8× on collect —
    * r13's fuzzy sf100 attach broadcast "1.05 GB" that was actually
    * ~2.3 GB of UTF-8, surviving only because the driver had headroom.
    * Decision: fixed-width frames trust the estimate; var-len frames
    * whose estimate is far from the budget boundary skip the measurement
    * (≤ budget even at [[PAYLOAD_EXPANSION_MAX]] expansion → safe to
    * broadcast; already over on the compressed floor → actual can only
    * be bigger); only the boundary band pays one
    * SessionOps.payloadBytes aggregate — a narrow pass over the n-row
    * payload table, noise next to the pair join it gates.
    *
    * Var-len now includes CONTAINER types (ADVICE r14): an
    * array<bigint> minhash column compresses in parquet and collects at
    * 8 B/element, the same understatement class as text — the old
    * String/Binary-only check let exactly the frames attachSide can
    * broadcast (shingle's `sh`, un-fused minhash `th`) skip the
    * boundary measurement. Frames holding a column payloadBytes cannot
    * price (maps, structs, nested arrays) are gated at the worst-case
    * [[PAYLOAD_EXPANSION_MAX]] expansion of the estimate instead —
    * broadcast only when even 8× the compressed size fits. */
  private[graft] def measuredBytes(t: DataFrame): BigInt = {
    val est = t.queryExecution.optimizedPlan.stats.sizeInBytes
    val varLen = t.schema.exists(f => !graft.ops.SessionOps.fixedWidth(f.dataType))
    val budget = BigInt(graft.ops.SessionOps.broadcastBudget(
      t.sparkSession, PAYLOAD_BROADCAST_CAP))
    if (!varLen || est * PAYLOAD_EXPANSION_MAX <= budget || est > budget) est
    else if (graft.ops.SessionOps.allMeasurable(t.schema))
      BigInt(graft.ops.SessionOps.payloadBytes(t))
    else est * PAYLOAD_EXPANSION_MAX
  }

  /** Worst-case collect-side expansion of a parquet size estimate for
    * var-len payloads (text compresses up to ~8× in parquet); bounds the
    * skip-the-measurement fast path in [[measuredBytes]]. */
  private[graft] val PAYLOAD_EXPANSION_MAX = 8

  /** One payload side of the per-pair verify attach, under the size
    * gate — split out so LshJoinSpec pins both branches without a >2 GB
    * fixture. The effective cap is [[PAYLOAD_BROADCAST_CAP]] clamped to
    * the session's driver collect budget (SessionOps.broadcastBudget) —
    * an over-budget broadcast doesn't degrade, it ABORTS the job. A
    * session that disabled broadcasting outright
    * (autoBroadcastJoinThreshold ≤ 0) is honored with the SHUFFLE_HASH
    * fallback, matching [[candidateJoin]]'s fitsBroadcast convention
    * (ADVICE r13): an explicit hint must not overrule an operator who
    * turned broadcasting off for a small driver. */
  private[graft] def attachSide(t: DataFrame, bytes: BigInt): DataFrame =
    if (t.sparkSession.sessionState.conf.autoBroadcastJoinThreshold > 0 &&
      bytes <= BigInt(graft.ops.SessionOps.broadcastBudget(
        t.sparkSession, PAYLOAD_BROADCAST_CAP))) broadcast(t)
    else t.hint("SHUFFLE_HASH")

  /** Verify-payload table small enough to broadcast in [[verifyJoin]]'s
    * per-pair branch — the text twin of
    * VectorQueries.VERIFY_BROADCAST_CAP's rationale. 4 GB, not the
    * vector side's 2 GB: the gate now compares MEASURED collect bytes
    * (not the 2–8× understated parquet estimate), so the cap must admit
    * what the old estimate admitted in fact — r13's surviving fuzzy
    * sf100 run broadcast ~2.3 GB of measured text — while keeping a
    * 2× margin under Spark's hard 8 GB broadcast limit. The driver
    * budget clamp (60% of maxResultSize) still binds first on any
    * untuned driver. */
  private val PAYLOAD_BROADCAST_CAP: Long = 4L * 1024 * 1024 * 1024
}
