package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.ops.SessionOps

/** Typed message for the keyed-state snapshot operator. */
case class SnapshotMsg(ticker: String, publish_time: Long, current_price: Double)

/** Kept document emitted by the streaming near-dup dedup. */
case class DocKeep(doc_id: Long, text: String)

/** Input row of [[StreamOps.fuzzyDedupStreamRotating]]: the coarse group
  * key, the doc, its regime at arrival time, and its first-band minhash
  * vector up to the rotation ceiling. */
case class FuzzyRotDocIn(k: String, doc_id: Long, text: String,
    n_chars: Long, regime: Int, mh: Seq[Long])

/** Per-coarse-bucket state of [[StreamOps.fuzzyDedupStreamRotating]]:
  * claimants keep their FULL minhash vectors so a later, FINER regime
  * can still match them — the versioned-store discipline that makes
  * mid-stream regime rotation leak-free. Bounded by
  * [[StreamOps.FUZZY_GROUP_CLAIMANT_CAP]] per coarse bucket. */
case class FuzzyRotClaimants(ids: Seq[Long], texts: Seq[String],
    lens: Seq[Long], sigs: Seq[Seq[Long]])

/** Output row of [[StreamOps.tokenBudgetAdmitStream]]. */
case class AdmittedDoc(doc_id: Long, source: String, n_tokens: Long, cum_tokens: Long)

/** Output row of [[StreamOps.emaStream]]. */
case class EmaPoint(ticker: String, date: String, close: Double, ema: Double)

/** A duplicated-gram occurrence emitted by [[StreamOps.substringDupStream]]
  * — the same (doc_id, st, en) rows the batch span detector feeds its
  * gaps-and-islands merge. */
case class GramHit(doc_id: Long, st: Long, en: Long)

/** Per-gram state of [[StreamOps.substringDupStream]]: the first occurrence
  * held back until a duplicate proves the gram repeated (dup = false), or
  * the gram is known-duplicated and future occurrences emit immediately
  * (dup = true; doc/st no longer meaningful). */
case class GramSeen(doc_id: Long, st: Long, dup: Boolean)

/** Streaming perceptual near-dup pair: an arriving payload matched a
  * kept canonical signature within the Hamming radius. */
case class PhashPair(a_id: Long, b_id: Long, hamming: Int)

/** Streaming funnel state/output: how far a user has progressed. */
case class FunnelProgress(user_id: Long, stages_matched: Long, converted: Boolean)

/** An event for the streaming funnel (ts as epoch micros). */
case class FunnelEvent(user_id: Long, ts: Long, event_id: Long, event_type: String)

/** Streaming vector-ingest input / assignment output (annAssignStream). */
case class VecIn(vec_id: Long, embedding: Seq[Double])
case class VecAssign(vec_id: Long, c_id: Long, csim: Double)

/** Stream-stream interval-join inputs: a price/metric bar and the
  * news/alert mark that should enrich it when it lands within the
  * lookback interval. */
case class BarMsg(user_id: Long, ts: java.sql.Timestamp, value: Double)
case class MarkMsg(m_user: Long, mts: java.sql.Timestamp, label: String)

/** Rolling-median stream state/output: the last ≤w−1 observed rows per
  * key (event-time ordered) and the per-row emitted median point. */
case class RollRow(ts: Long, event_id: Long, value: Double)
case class RollState(rows: Seq[RollRow])
case class MedPoint(user_id: Long, event_id: Long, value: Double, med: Double)

/** Space-Saving heavy-hitter state/output: m tracked (user, count,
  * overestimate-error) counters per stream key, plus the total row count
  * the sketch has absorbed (n_seen stamps each snapshot so a reader can
  * select the latest). */
case class SSCounter(user_id: Long, cnt: Long, err: Long)
case class SSState(counters: Seq[SSCounter], n: Long)
case class HeavyHitter(event_type: String, user_id: Long, cnt: Long,
    err: Long, n_seen: Long)

/** Real-time funnel tracking on `transformWithState`: one
  * `ValueState[Long]` per user holds the highest stage reached; each
  * batch's events apply in (ts, event_id) order and advance the
  * subsequence state machine exactly like the batch
  * `funnel_conversion` fold — a stream that sees the same events
  * reaches the same stage (spec'd across micro-batches). Emits a row
  * per user per batch (Update mode semantics). */
class FunnelProcessor(stages: Seq[String])
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, FunnelEvent, FunnelProgress] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var state: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[Long]("stage",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
      timerValues: TimerValues): Iterator[FunnelProgress] = {
    var stage = if (state.exists()) state.get() else 0L
    rows.toArray.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      if (stage < stages.length && e.event_type == stages(stage.toInt)) stage += 1
    }
    state.update(stage)
    Iterator.single(FunnelProgress(key, stage, stage == stages.length))
  }
}

/** Running per-ticker state for the transformWithState operator. */
case class TickerStats(ticker: String, n: Long, latest_time: Long,
    latest_price: Double, max_price: Double)

/** T3 on Spark 4's arbitrary-state API (`transformWithState`): the
  * successor to `flatMapGroupsWithState` with typed per-key state handles,
  * native TTL, and timers. One `ValueState[TickerStats]` per ticker folds
  * each batch's messages into a running (count, latest-by-event-time,
  * max) snapshot — the reference's LATEST_* singleton overwrite
  * (producer.py:268,331) as explicit, fault-tolerant state. Requires the
  * RocksDB state store provider (the 100 TB state backend: state lives
  * off-heap/on-disk per task instead of in executor heap). */
class TickerStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, SnapshotMsg, TickerStats] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var state: ValueState[TickerStats] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[TickerStats]("stats",
      org.apache.spark.sql.Encoders.product[TickerStats], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[SnapshotMsg],
      timerValues: TimerValues): Iterator[TickerStats] = {
    var cur =
      if (state.exists()) state.get()
      else TickerStats(key, 0L, Long.MinValue, 0.0, Double.NegativeInfinity)
    rows.foreach { m =>
      val newer = m.publish_time > cur.latest_time ||
        (m.publish_time == cur.latest_time && m.current_price > cur.latest_price)
      cur = TickerStats(
        key, cur.n + 1,
        if (newer) m.publish_time else cur.latest_time,
        if (newer) m.current_price else cur.latest_price,
        math.max(cur.max_price, m.current_price))
    }
    state.update(cur)
    Iterator.single(cur)
  }
}

/** Structured Streaming wiring (SURVEY §2.9 T1-T6, §2.1 S1-S2).
  *
  * The reference's pipeline is: Kafka JSON topics keyed by ticker →
  * per-message enrich → upsert-by-id into the store, with a 60 s producer
  * cadence (src/config.py:19), unbounded in-memory dedup state
  * (producer.py:98-100,513), singleton-id latest snapshots
  * (producer.py:268,331) and an eager 30-day retention delete
  * (consumer.py:115-130).
  *
  * Design: every transform in graft.ops is a pure DataFrame => DataFrame,
  * so the SAME code runs in batch (where the DuckDB oracle checks it) and
  * here under streaming. This file adds only the streaming-specific parts:
  * source/sink config, watermarked dedup (bounded state, unlike the
  * reference's ever-growing seen-sets), and the foreachBatch merge that
  * makes the at-least-once delivery idempotent.
  */
object StreamOps {

  /** JSON value schema for the unioned topic family (FIXTURES.md §1):
    * news/technical/metrics/summary messages share this superset. */
  val messageSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("ticker", StringType),
    StructField("type", StringType),
    StructField("title", StringType),
    StructField("summary", StringType),
    StructField("publish_time", LongType),
    StructField("current_price", DoubleType),
    StructField("market_state", StringType),
    StructField("currency", StringType)))

  /** PER-TOPIC value schemas — the full serialization contract of each
    * of the four topics (FIXTURES.md §1, cited to the reference
    * producer), not just [[messageSchema]]'s unioned consumer
    * projection. `financial-news` carries both message variants (news,
    * producer.py:106-117/416-429, and technical, producer.py:316-332),
    * so its schema is their field union; a JSON decode of either
    * variant simply leaves the other variant's fields null — the same
    * defensive-null posture as the reference consumer
    * (consumer.py:50-84). TopicRoundTripSpec executes this contract:
    * every schema round-trips producer-encode → streaming file read →
    * [[decodeTopic]] bit-exactly. */
  val topicSchemas: Map[String, StructType] = Map(
    "financial-news" -> StructType(Seq(
      StructField("ticker", StringType),
      StructField("title", StringType),
      StructField("publisher", StringType),
      StructField("link", StringType),
      StructField("summary", StringType),
      StructField("content", StringType),
      StructField("publish_time", LongType),
      StructField("type", StringType),
      StructField("source", StringType),
      StructField("market_state", StringType),
      StructField("currency", StringType),
      StructField("id", StringType),
      // technical variant (producer.py:316-332)
      StructField("current_price", DoubleType),
      StructField("mean_10", DoubleType),
      StructField("mean_50", DoubleType),
      StructField("mean_200", DoubleType),
      StructField("regularMarketTime", LongType))),
    "stock-history" -> StructType(Seq( // producer.py:138-146,457-465
      StructField("ticker", StringType),
      StructField("date", StringType), // tz-aware string, parsed downstream
      StructField("Open", DoubleType),
      StructField("High", DoubleType),
      StructField("Low", DoubleType),
      StructField("Close", DoubleType),
      StructField("Volume", LongType))),
    "hot-news-events" -> StructType(Seq( // producer.py:243-269
      StructField("ticker", StringType),
      StructField("title", StringType),
      StructField("summary", StringType),
      StructField("content", StringType),
      StructField("link", StringType),
      StructField("type", StringType),
      StructField("source", StringType),
      StructField("id", StringType), // LATEST_METRICS_{ticker} singleton
      StructField("publish_time", LongType),
      StructField("current_price", DoubleType),
      StructField("last_close", DoubleType),
      StructField("opening_price", DoubleType),
      StructField("price_6h_ago", DoubleType),
      StructField("price_3h_ago", DoubleType),
      StructField("price_1h_ago", DoubleType),
      StructField("price_30min_ago", DoubleType),
      StructField("price_10min_ago", DoubleType),
      StructField("regularMarketTime", LongType),
      StructField("currency", StringType),
      StructField("market_state", StringType))),
    "daily-summary" -> StructType(Seq( // producer.py:183-193,490-500
      StructField("ticker", StringType),
      StructField("title", StringType),
      StructField("link", StringType),
      StructField("type", StringType),
      StructField("source", StringType),
      StructField("id", StringType), // DAILY_SUMMARY_{ticker}_{unix_ts}
      StructField("publish_time", LongType),
      StructField("summary", StringType),
      StructField("content", StringType))))

  /** S2's decode projection against an arbitrary value schema:
    * (key, value, timestamp) → flattened message columns. */
  def decodeWith(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(
        col("key").cast("string").as("kafka_key"),
        from_json(col("value").cast("string"), schema).as("msg"),
        col("timestamp").as("ingest_ts"))
      .select(col("kafka_key"), col("ingest_ts"), col("msg.*"))

  /** S2's decode projection: (key, value, timestamp) → flattened message
    * columns. Factored out of [[kafkaSource]] so the SAME projection runs
    * against any Kafka-shaped frame — the end-to-end StreamingSpec drives
    * it from a file-backed stream of FIXTURES.md JSON, the closest offline
    * stand-in for the broker round-trip. */
  def decodeMessages(raw: DataFrame): DataFrame =
    decodeWith(raw, messageSchema)

  /** Decode one topic's stream with its FULL per-topic schema. */
  def decodeTopic(raw: DataFrame, topic: String): DataFrame =
    decodeWith(raw, topicSchemas(topic))

  /** S2: Kafka source for the 4-topic family — earliest offsets + JSON
    * decode, exactly the consumer's subscription shape
    * (consumer.py:197-208). The broker itself is not exercisable offline;
    * returned unstarted. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topics: String): DataFrame =
    decodeMessages(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topics)
        .option("startingOffsets", "earliest")
        .load())

  /** S1's encode projection — JSON value, ticker key (producer.py:62-75).
    * Factored out of [[kafkaSink]] for the same reason as
    * [[decodeWith]]: the spec executes the EXACT projection the broker
    * sink would ship, against a file surrogate. */
  def encodeMessages(df: DataFrame): DataFrame =
    df.select(
      col("ticker").cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** S1: Kafka sink — JSON value, ticker key (producer.py:62-75). */
  def kafkaSink(df: DataFrame, bootstrap: String, topic: String): DataStreamWriter[org.apache.spark.sql.Row] =
    encodeMessages(df)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .trigger(Trigger.ProcessingTime("60 seconds")) // T1: the 60 s cadence

  /** T2: bounded-state streaming dedup — replaces the reference's unbounded
    * seen-id sets. Watermark caps how late a duplicate can arrive; state
    * for ids older than the watermark is evicted. */
  def dedupWithWatermark(stream: DataFrame, tsCol: String, delay: String): DataFrame =
    stream.withWatermark(tsCol, delay).dropDuplicates("id", tsCol)

  /** T3+T4+V3: the idempotent foreachBatch merge, the reference's upsert
    * semantic (consumer.py:176-181) plus its retention delete
    * (consumer.py:115-130): the latest row per `id` over store ∪ batch,
    * then `retainType` rows older than `retainDays` before the merged max
    * `publish_time` are deleted. At-least-once delivery + this merge =
    * effectively-once state.
    *
    * One [[graft.plans.UpsertMerge]] node, two jobs: one over the batch's
    * and the store's partitions that returns the batch's rows and each
    * partition's max event time, and the narrow merge of each store
    * partition with the batch rows that hash to it, materialized by
    * [[SessionOps.truncate]] (which honours the reliable-checkpoint mode
    * and keeps the merge's hash partitioning).
    * `batch` is evaluated ONCE (inside `foreachBatch` it is an opaque RDD
    * whose lineage is the whole decode/dedup/enrich chain). The driver
    * holds the batch's latest row per id, so the trigger's size bounds a
    * batch.
    *
    * The result is hash-partitioned by `id` into
    * `spark.sql.shuffle.partitions` partitions and declares it, as every
    * [[SessionOps.truncate]] does, and a later `localCheckpoint()` keeps
    * it, so the store is shuffled only when it is not (the first batch,
    * in practice). The store must hold at most one row per id, as every
    * result of this function does.
    *
    * Ties: `publish_time` DESC NULLS LAST, then every orderable column
    * ASC NULLS FIRST ([[graft.plans.UpsertMerge.latestFirst]]); a store
    * row that ties its batch row stays. So any split of the same messages
    * into batches gives the same store while retention deletes nothing.
    *
    * The result is materialized — a `LogicalRDD` at the top, no lineage
    * back to `store` or `batch`. The caller owns it: once a later upsert
    * has superseded it and no reader needs it, release it with
    * [[SessionOps.releaseQuiet]]. */
  def upsertBatch(store: DataFrame, batch: DataFrame,
                  retainType: String, retainDays: Int): DataFrame =
    SessionOps.truncate(graft.plans.UpsertMerge(store, batch, retainType, retainDays))

  /** T3 (keyed-state form): the LATEST_* singleton snapshot as explicit
    * streaming state — one state row per key holding the latest-by-event-
    * time message, emitted on every update (the reference's singleton-id
    * overwrite, producer.py:268,331, with per-key state instead of
    * overwritten ids). Ties beyond event time are broken by price to stay
    * deterministic under replay. */
  def latestSnapshotStream(
      stream: org.apache.spark.sql.Dataset[SnapshotMsg])
      : org.apache.spark.sql.Dataset[SnapshotMsg] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val enc = org.apache.spark.sql.Encoders.product[SnapshotMsg]
    stream.groupByKey(_.ticker)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (_: String, msgs: Iterator[SnapshotMsg], state: GroupState[SnapshotMsg]) => {
          val candidates = msgs ++ state.getOption.iterator
          val latest = candidates.maxBy(m => (m.publish_time, m.current_price))
          state.update(latest)
          Iterator.single(latest)
        })
  }

  /** T3 (transformWithState form): see [[TickerStatsProcessor]]. Update
    * mode emits the refreshed per-key snapshot every batch. */
  def tickerStatsStream(
      stream: org.apache.spark.sql.Dataset[SnapshotMsg])
      : org.apache.spark.sql.Dataset[TickerStats] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val enc = org.apache.spark.sql.Encoders.product[TickerStats]
    stream.groupByKey(_.ticker)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new TickerStatsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming near-dup dedup — the curation family's streaming twin of
    * `dedup_minhash_lsh`: documents hash to a MinHash band bucket (band 0
    * of the batch query, same `(a·x + b) mod P` constants), the FIRST
    * document to claim a bucket survives, and later bucket-mates are
    * dropped. State is one long per occupied bucket (the kept doc id) —
    * bounded by corpus diversity, not stream length, and a fraction of the
    * reference's unbounded seen-id sets. Within a batch the min doc_id
    * wins, so replays are deterministic. A production variant adds the
    * exact-verify re-join of the batch query; the bucket-claim state
    * machine here is the part batch cannot express. */
  def minhashDedupStream(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // band-0 key: mh0..mh3 over sorted distinct token hashes — rows 0-3 of
    // the SHARED hash family, so batch and stream bucket identically by
    // construction.
    val as = graft.ops.TextOps.MINHASH_A.take(4)
    val bs = graft.ops.TextOps.MINHASH_B.take(4)
    val th = array_sort(array_distinct(
      graft.expressions.TextHash.tokenHashes(col("text"))))
    val mh = as.zip(bs).map { case (a, b) => graft.ops.TextOps.minHash(col("th"), a, b) }
    val bucketed = docs
      .withColumn("th", th)
      .withColumn("bucket", concat_ws("_", lit(0) +: mh: _*))
      .select(col("bucket"), col("doc_id").cast("long").as("doc_id"), col("text"))
    implicit val enc = org.apache.spark.sql.Encoders.product[DocKeep]
    implicit val stateEnc = org.apache.spark.sql.Encoders.scalaLong
    bucketed.as[(String, Long, String)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING))
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[(String, Long, String)], state: GroupState[Long]) => {
          if (state.exists) Iterator.empty
          else {
            val keep = rows.minBy(_._2)
            state.update(keep._2)
            Iterator.single(DocKeep(keep._2, keep._3))
          }
        })
      .toDF()
  }

  /** Per-fine-bucket claimant cap of the streaming fuzzy dedup: past
    * this many verified-distinct docs in one signature bucket, new mates
    * are admitted UNVERIFIED — recall degrades (a dup of the 9th claimant
    * slips through), correctness never does (no false drop), and state
    * per bucket stays O(cap) texts instead of growing with a
    * pathological bucket's population. */
  val FUZZY_CLAIMANT_CAP = 8

  /** Streaming twin of `dedup_fuzzy_minhash` (r12 verdict item 5):
    * typo-class near-dup dedup on an ingest stream, the same
    * first-claimant-wins state pattern as [[minhashDedupStream]].
    *
    * Each arriving doc's BAND-0 adaptive char-4-gram MinHash signature
    * (the batch query's quadratic hash family, rows 0..r−1, over the
    * same polyHash gram codes — stream and batch bucket identically by
    * construction) claims a (lang, signature) bucket. Later bucket-mates
    * run the batch query's exact verify against the claimants
    * ([[fuzzyIsDup]]) and DROP as dups on a hit, or JOIN the claimant
    * set on a miss (MinHash buckets legitimately hold several distinct
    * docs).
    *
    * Single band like the minhash twin: the stream is the lower-recall
    * single-probe posture (batch recovers recall with L OR-amplified
    * bands), which keeps the operator one stateful stage — so every
    * stream DROP corresponds to a batch `dedup_fuzzy_minhash` pair with
    * an earlier-arriving doc (StreamingSpec pins this subset-parity).
    * State per bucket: ≤ [[FUZZY_CLAIMANT_CAP]] claimant texts, each
    * with its `r` minhashes. Within a batch, docs process in doc_id
    * order, so replays are deterministic; delivery of kept docs is
    * exactly-once under checkpointed recovery (StreamingRecoverySpec).
    * `r` is the
    * signature's rows-per-band — the batch query derives it from the
    * measured corpus count (VectorQueries.adaptiveRows); a stream has
    * no corpus count, so the caller pins the regime.
    *
    * This is [[fuzzyDedupStreamRotating]] keyed at `r` with every row's
    * regime pinned to `r`: the group key is the (lang, signature)
    * bucket, every claimant in a group shares its first `r` minhashes
    * and so is a mate of every row, and the per-bucket
    * [[FUZZY_CLAIMANT_CAP]] is the cap that binds (it is below
    * [[FUZZY_GROUP_CLAIMANT_CAP]]). */
  def fuzzyDedupStream(docs: DataFrame, r: Int = 2): DataFrame =
    fuzzyDedupStreamRotating(docs.withColumn("regime", lit(r)), rKey = r, rMax = r)

  /** The verify of the streaming fuzzy dedup, factored pure so the spec
    * can pin the claimant-cap and threshold arithmetic without crafting
    * MinHash collisions: true iff any claimant (`texts` with their
    * lengths `lens`) passes the batch query's length prune
    * (5·min ≥ 4·max) AND its levenshtein ≤ ⌊max/5⌋ gate, computed by the
    * SAME capped `UTF8String.levenshteinDistance` kernel Spark's 3-arg
    * `levenshtein` calls. The batch query's bigram-L1 prune is skipped:
    * it is a lossless pre-filter, so the kept/dropped outcome is
    * identical. */
  private[graft] def fuzzyIsDup(
      texts: Seq[String], lens: Seq[Long], text: String, nChars: Long): Boolean = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(text)
    texts.indices.exists { i =>
      val la = lens(i); val lb = nChars
      val mx = math.max(la, lb); val mn = math.min(la, lb)
      mn * 5 >= mx * 4 && {
        // ⌊max/5⌋ cap = the batch CAST(greatest(la,lb)/5 AS INT); the
        // kernel returns −1 past the cap, matching the batch dist ≥ 0 &&
        // dist ≤ max/5 gate exactly (dist is integral).
        val lim = (mx / 5.0).toInt
        val d = org.apache.spark.unsafe.types.UTF8String
          .fromString(texts(i)).levenshteinDistance(u, lim)
        d >= 0
      }
    }
  }

  /** Hard per-coarse-bucket claimant bound of
    * [[fuzzyDedupStreamRotating]]: a coarse bucket unions the claimants
    * of all its fine (current-regime) buckets, so the per-fine-bucket
    * [[FUZZY_CLAIMANT_CAP]] alone would let a hot coarse bucket grow
    * with its fine-bucket count. Past this many stored claimants in one
    * group, new docs are admitted UNVERIFIED-as-claimants (kept, never
    * stored) — recall degrades, correctness never does, state per group
    * stays O(cap) texts. */
  val FUZZY_GROUP_CLAIMANT_CAP = 64

  /** The streaming fuzzy dedup's one state machine, with MID-STREAM
    * REGIME ROTATION (r13 verdict item 7): [[fuzzyDedupStream]] pins its
    * banding at plan time because a stream has no corpus count, so a
    * long-running ingest on it could never adopt the batch-measured
    * regime as the corpus grows. This operator can, with zero re-keying:
    *
    *  - state is keyed by the COARSEST regime `rKey` (the signature
    *    prefix of minhashes 0..rKey−1) — and since a band signature at
    *    r' > r is a refinement of the signature at r (same hash family,
    *    prefix containment), every fine bucket of any later regime lives
    *    wholly inside one coarse group: rotation never strands a
    *    claimant in an unreachable key;
    *  - each incoming row carries its own `regime` column (the
    *    batch-measured r, stamped by the router; adaptiveRows is
    *    monotone in n so regimes only grow), and is verified against
    *    exactly the claimants that share its first `regime` minhashes —
    *    the same verify set a fresh stream keyed at that regime would
    *    see, because claimants persist their FULL minhash vectors
    *    ([[FuzzyRotClaimants]].sigs, the versioned-store discipline of
    *    the IVF maintenance twin);
    *  - claimant admission stays capped per FINE bucket
    *    ([[FUZZY_CLAIMANT_CAP]] among the matching claimants) plus the
    *    [[FUZZY_GROUP_CLAIMANT_CAP]] group bound.
    *
    * `rMax` is the rotation ceiling (minhashes computed per row at plan
    * time — 8 covers corpora to 16·2^8 ≈ 4k per coarse bucket times the
    * OR-amplified batch recall; a stream that outgrows it restarts with
    * a bigger ceiling, a checkpoint-compatible change since the key
    * derivation at rKey is untouched). StreamingSpec pins: drops under
    * a rotated regime still catch pre-rotation claimants (no dup
    * leaks), and state stays within both caps. */
  def fuzzyDedupStreamRotating(
      docs: DataFrame, rKey: Int = 2, rMax: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(rKey >= 1 && rKey <= rMax, s"need 1 <= rKey <= rMax, got ($rKey, $rMax)")
    val grams = array_sort(array_distinct(transform(
      expr("transform(sequence(1, greatest(length(text) - 3, 1))," +
        " i -> substring(text, i, 4))"),
      g => graft.ops.TextOps.polyHash(g))))
    val mh = (0 until rMax).map(p => graft.ops.TextOps.minHash(col("chs"),
      graft.queries.TextQueries.fuzzyA(p), graft.queries.TextQueries.fuzzyB(p)))
    val keyed = docs
      .withColumn("chs", grams)
      .withColumn("mh", array(mh: _*))
      .select(
        concat_ws("|", col("lang"), concat_ws("_",
          lit(0) +: (0 until rKey).map(i => col("mh")(i)): _*)).as("k"),
        col("doc_id").cast("long").as("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars"),
        col("regime").cast("int").as("regime"), col("mh"))
    implicit val inEnc = org.apache.spark.sql.Encoders.product[FuzzyRotDocIn]
    implicit val outEnc = org.apache.spark.sql.Encoders.product[DocKeep]
    implicit val stEnc = org.apache.spark.sql.Encoders.product[FuzzyRotClaimants]
    keyed.as[FuzzyRotDocIn]
      .groupByKey(_.k)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[FuzzyRotDocIn],
         state: GroupState[FuzzyRotClaimants]) => {
          val (kept, st) = fuzzyRotFold(
            state.getOption.getOrElse(FuzzyRotClaimants(Nil, Nil, Nil, Nil)),
            rows.toSeq)
          state.update(st)
          kept.iterator
        })
      .toDF()
  }

  /** One bucket-batch of [[fuzzyDedupStreamRotating]]'s state machine,
    * factored pure for the spec: docs fold in doc_id order; each doc's
    * verify set is the claimants sharing its first `regime` minhashes;
    * non-dups are kept, and stored as claimants below both caps.
    *
    * A row's `regime` is CLAMPED to `[1, |mh|]` (ADVICE r14): the stored
    * vectors carry exactly `rMax` hashes, so a mis-stamped
    * `regime > rMax` would otherwise silently `take`-truncate both sides
    * to `rMax` hashes — kept/dropped stays correct (the verify is
    * exact), but the documented "same verify set as a fresh stream at
    * that regime" contract would not hold. The clamp makes the effective
    * regime explicit: an over-stamped row verifies at the ceiling
    * granularity `rMax`, an under-stamped (`< 1`) row at the coarsest. */
  private[graft] def fuzzyRotFold(
      st0: FuzzyRotClaimants, docs: Seq[FuzzyRotDocIn])
      : (Seq[DocKeep], FuzzyRotClaimants) = {
    var st = st0
    val kept = Seq.newBuilder[DocKeep]
    docs.sortBy(_.doc_id).foreach { d =>
      val g = math.max(1, math.min(d.regime, d.mh.size))
      val mates = st.sigs.indices.filter { i =>
        st.sigs(i).take(g) == d.mh.take(g)
      }
      val isDup = fuzzyIsDup(mates.map(st.texts), mates.map(st.lens), d.text, d.n_chars)
      if (!isDup) {
        kept += DocKeep(d.doc_id, d.text)
        if (mates.size < FUZZY_CLAIMANT_CAP &&
          st.ids.size < FUZZY_GROUP_CLAIMANT_CAP)
          st = FuzzyRotClaimants(
            st.ids :+ d.doc_id, st.texts :+ d.text,
            st.lens :+ d.n_chars, st.sigs :+ d.mh)
      }
    }
    (kept.result(), st)
  }

  /** Streaming twin of `multimodal_phash_neardup`: perceptual near-dup
    * detection on an INGEST stream. Each arriving payload's 16-bit
    * frame-simhash probes the standing index of KEPT canonical
    * signatures (state: one (signature → min doc id) entry per distinct
    * signature per band bucket — bounded by the 2^16 signature space,
    * never by stream length) and emits a pair for every canonical within
    * Hamming ≤ 3. The 4×4-bit band keys are built from the SAME
    * expressions as the batch query, so stream and batch bucket
    * identically by construction; a pair is emitted only in the FIRST
    * band where the two signatures agree (computable bucket-locally from
    * the two signatures), so no cross-bucket dedup stage is needed.
    * Within a batch, rows process in doc_id order for determinism.
    * Delivery is at-least-once under replay — the sink dedups by
    * (a_id, b_id) upsert, the [[upsertBatch]] contract. */
  def phashDedupStream(docs: DataFrame): org.apache.spark.sql.Dataset[PhashPair] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sig = docs
      .withColumn("ph", graft.ops.EnrichOps.phashSignature(col("text")))
    val banded = sig.select(
      col("doc_id").cast("long").as("doc_id"), col("ph"),
      explode(array((0 until 4).map(j =>
        graft.ops.EnrichOps.phashBandKey(col("ph"), j)): _*)).as("bucket"))
    def bandOf(p: Long, j: Int): Long = (p >> (4 * j)) & 15
    def firstMatch(p1: Long, p2: Long): Int =
      (0 until 4).find(j => bandOf(p1, j) == bandOf(p2, j)).getOrElse(-1)
    implicit val outEnc = org.apache.spark.sql.Encoders.product[PhashPair]
    implicit val stateEnc = org.apache.spark.sql.Encoders.kryo[Map[Long, Long]]
    banded.as[(Long, Long, String)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING))
      .groupByKey(_._3)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (bucket: String, rows: Iterator[(Long, Long, String)],
         state: GroupState[Map[Long, Long]]) => {
          val j = bucket.takeWhile(_ != '_').toInt
          var kept = state.getOption.getOrElse(Map.empty[Long, Long])
          val out = Seq.newBuilder[PhashPair]
          rows.toSeq.sortBy(_._1).foreach { case (d, ph, _) =>
            kept.foreach { case (mPh, mId) =>
              val ham = java.lang.Long.bitCount(ph ^ mPh)
              if (ham <= 3 && mId != d && firstMatch(ph, mPh) == j)
                out += PhashPair(math.min(mId, d), math.max(mId, d), ham)
            }
            kept = kept.updatedWith(ph)(prev => Some(prev.fold(d)(math.min(_, d))))
          }
          state.update(kept)
          out.result().iterator
        })
  }

  /** Streaming twin of `mix_token_budget`: per-source token-budget
    * ADMISSION. State is one long per source (tokens admitted so far;
    * budget+1 poisons a closed source); a document is admitted iff its
    * tokens still fit AND no earlier document has overflowed — the first
    * overflow CLOSES the source for good, exactly like the batch query's
    * monotone running sum (once any prefix exceeds the budget, every
    * later doc's cum exceeds it too). Without the close, a big doc would
    * be skipped and a smaller later doc admitted — a knapsack-ish
    * semantic the batch window cannot express, and the two would
    * diverge. Within a batch, rows are processed in the batch query's
    * deterministic (hash, doc_id) order, so a single-batch stream
    * reproduces the batch result exactly (spec'd); across batches,
    * admission follows arrival order — a live ingest can't un-admit
    * yesterday's docs when a better-hashed one arrives. State stays one
    * long regardless of stream length. */
  def tokenBudgetAdmitStream(docs: DataFrame, budget: Long): org.apache.spark.sql.Dataset[AdmittedDoc] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = org.apache.spark.sql.Encoders.product[AdmittedDoc]
    implicit val stateEnc = org.apache.spark.sql.Encoders.scalaLong
    docs
      .select(col("source"), col("doc_id").cast("long").as("doc_id"),
        size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        graft.ops.TextOps.sampleKey(col("doc_id")).as("h"))
      .as[(String, Long, Long, Long)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (src: String, rows: Iterator[(String, Long, Long, Long)], state: GroupState[Long]) => {
          var cum = state.getOption.getOrElse(0L)
          var closed = cum > budget
          val out = scala.collection.mutable.ArrayBuffer.empty[AdmittedDoc]
          rows.toArray.sortBy(r => (r._4, r._2)).foreach { r =>
            if (!closed) {
              if (cum + r._3 <= budget) {
                cum += r._3
                out += AdmittedDoc(r._2, src, r._3, cum)
              } else {
                closed = true
              }
            }
          }
          state.update(if (closed) budget + 1 else cum)
          out.iterator
        })
  }

  /** Streaming EMA — the indicator whose recursion IS a stateful stream:
    * state per ticker is one double (the previous EMA), each bar updates
    * it as α·x + (1−α)·prev. Because the recursion is applied in bar
    * order with the identical IEEE ops, a stream fed the same bars in
    * order produces BIT-EQUAL values to the batch prefix-fold form
    * (`indicator_ema_macd`'s kernel) — spec-asserted. Within a batch,
    * rows process in (date ascending) order; state is one double per
    * (ticker) forever, the unbounded-history shape the batch prefix
    * array cannot reach. */
  def emaStream(bars: DataFrame, n: Int): org.apache.spark.sql.Dataset[EmaPoint] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val alpha = 2.0 / (n + 1.0)
    implicit val outEnc = org.apache.spark.sql.Encoders.product[EmaPoint]
    implicit val stateEnc = org.apache.spark.sql.Encoders.scalaDouble
    bars
      .select(col("ticker"), col("date").cast("string").as("date"),
        col("close").cast("double").as("close"))
      .as[(String, String, Double)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaDouble))
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (ticker: String, rows: Iterator[(String, String, Double)], state: GroupState[Double]) => {
          var hasPrev = state.exists
          var ema = state.getOption.getOrElse(0.0)
          val out = scala.collection.mutable.ArrayBuffer.empty[EmaPoint]
          rows.toArray.sortBy(_._2).foreach { r =>
            ema = if (!hasPrev) r._3 else alpha * r._3 + (1.0 - alpha) * ema
            hasPrev = true
            out += EmaPoint(ticker, r._2, r._3, ema)
          }
          if (hasPrev) state.update(ema)
          out.iterator
        })
  }

  /** Streaming twin of `dedup_substring_spans`' duplicate detection — the
    * mining pack's headline operator as an incremental gram-hash state
    * machine. Documents explode into word n-gram hashes (the SAME
    * [[graft.expressions.TextHash.ngramHashes]] kernel as the batch
    * query, so stream and batch can never hash differently); state is one
    * [[GramSeen]] per distinct gram hash: the FIRST occurrence is held
    * back, and the moment a second arrives — same batch or any later one —
    * the held-back first is emitted RETROACTIVELY together with the new
    * one, after which the gram is marked duplicated and every further
    * occurrence streams straight through. On a single batch the emitted
    * (doc_id, st, en) hits equal the batch detector's corpus-wide
    * `count ≥ 2` window exactly (spec-asserted); across batches the state
    * carries what batch recomputation cannot: yesterday's singleton gram
    * becomes a duplicate the instant today's copy arrives. State is one
    * small row per DISTINCT gram (bounded by corpus vocabulary, not
    * stream length); the downstream per-doc islands merge is the batch
    * query's own window, applied per micro-batch in foreachBatch. */
  def substringDupStream(docs: DataFrame, gram: Int)
      : org.apache.spark.sql.Dataset[GramHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = org.apache.spark.sql.Encoders.product[GramHit]
    implicit val stateEnc = org.apache.spark.sql.Encoders.product[GramSeen]
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        posexplode(graft.expressions.TextHash.ngramHashes(col("text"), gram))
          .as(Seq("pos0", "h")))
      .select(col("h"), col("doc_id"), (col("pos0") + 1).cast("long").as("st"))
      .as[(Long, Long, Long)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[GramSeen]) => {
          val out = scala.collection.mutable.ArrayBuffer.empty[GramHit]
          var st = state.getOption
          // (doc_id, st) order within the batch so replays are deterministic.
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, doc, pos) =>
            st match {
              case None =>
                st = Some(GramSeen(doc, pos, dup = false))
              case Some(GramSeen(d0, p0, false)) =>
                out += GramHit(d0, p0, p0 + gram - 1)   // retroactive first
                out += GramHit(doc, pos, pos + gram - 1)
                st = Some(GramSeen(d0, p0, dup = true))
              case Some(GramSeen(_, _, true)) =>
                out += GramHit(doc, pos, pos + gram - 1)
            }
          }
          st.foreach(state.update)
          out.iterator
        })
  }

  /** Streaming funnel — see [[FunnelProcessor]]. */
  def funnelStream(events: org.apache.spark.sql.Dataset[FunnelEvent],
      stages: Seq[String] = Seq("view", "click", "purchase"))
      : org.apache.spark.sql.Dataset[FunnelProgress] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val enc = org.apache.spark.sql.Encoders.product[FunnelProgress]
    events.groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new FunnelProcessor(stages), TimeMode.None(), OutputMode.Update())
  }

  /** T5: event-time tumbling daily aggregation with watermark — the
    * upgrade of the reference's producer-side daily summary to true
    * event-time processing. Emits finalized windows only (append mode). */
  def dailySummaryStream(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("volume"))
      .select(col("window.start").as("ws"), col("user_id"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** Stream-stream INTERVAL join — the enrichment join the reference's
    * consumer approximates by buffering one side in process memory
    * (consumer-side "latest news per ticker" lookups): each bar picks up
    * every mark for the same key that landed within the trailing
    * lookback. Both sides carry event-time watermarks, so Spark bounds
    * BOTH join buffers: a mark can be dropped once `max(event time seen)
    * − watermark` passes the upper end of the interval it could still
    * match — state is O(keys × lookback window), never unbounded. The
    * join itself shuffles both streams by key once; at 100 TB/day the
    * interval bound is what keeps this from being a stream-stream
    * cartesian. Same join predicate as a batch interval join, so the
    * StreamingSpec checks exact parity on replay. */
  def intervalJoinStream(bars: DataFrame, marks: DataFrame,
      lookback: String = "10 minutes"): DataFrame = {
    val b = bars.withWatermark("ts", lookback)
    val m = marks.withWatermark("mts", lookback)
    b.join(m,
      b("user_id") === m("m_user") &&
        m("mts") >= b("ts") - expr(s"INTERVAL $lookback") &&
        m("mts") <= b("ts"))
      .select(b("user_id"), b("ts"), col("value"), col("mts"), col("label"))
  }

  /** Streaming twin of `rolling_median` (SeriesQueries): the trailing
    * w-row median as bounded per-key state — exactly the last w−1 rows in
    * (ts, event_id) order, nothing else, against the batch window's
    * re-scan of the whole partition. Same contract as [[emaStream]]:
    * within a batch rows sort by event order, across batches arrival must
    * respect event order per key (the spec replays both). The median
    * arithmetic — sorted values, explicit midpoint average on even sizes —
    * is the SAME IEEE expression as the batch query's medianOfSorted, so
    * stream and batch are bit-equal. */
  def rollingMedianStream(rows: DataFrame, w: Int = 10)
      : org.apache.spark.sql.Dataset[MedPoint] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = org.apache.spark.sql.Encoders.product[MedPoint]
    implicit val stateEnc = org.apache.spark.sql.Encoders.product[RollState]
    rows
      // unix_micros, not a seconds cast: the batch window orders by the
      // full-precision timestamp, and a seconds truncation could flip the
      // (ts, event_id) order for sub-second neighbors. The inner cast to
      // canonical TimestampType is a no-op for LTZ sources (MemoryStream)
      // and normalizes an NTZ-encoded parquet source, on which bare
      // unix_micros is an analysis error (same portability contract as
      // Tables.normalizeTs; SchemaPortabilitySpec drives the NTZ case).
      .select(col("user_id").cast("long"),
        unix_micros(col("ts").cast("timestamp")).as("tsl"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble))
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[(Long, Long, Long, Double)],
         state: GroupState[RollState]) => {
          var buf = state.getOption.map(_.rows.toVector).getOrElse(Vector.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[MedPoint]
          it.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
            buf = (buf :+ RollRow(r._2, r._3, r._4)).takeRight(w)
            val a = buf.map(_.value).sorted
            val n = a.length
            val med =
              if (n % 2 == 1) a((n + 1) / 2 - 1)
              else (a(n / 2 - 1) + a(n / 2)) / 2.0
            out += MedPoint(user, r._3, r._4, med)
          }
          state.update(RollState(buf.takeRight(w - 1)))
          out.iterator
        })
  }

  /** Streaming twin of `heavy_hitters_topk`: Space-Saving (Metwally et
    * al.) top-k per event_type under BOUNDED state — m counters per
    * group, however many distinct users the stream ever sees. The batch
    * query's exact per-group count table is the luxury of a finite input;
    * on an unbounded stream the sketch is the only shape whose state
    * doesn't grow with cardinality. Guarantees (per group, n rows seen):
    * every tracked count overestimates truth by ≤ its err field, and any
    * user with true count > n/m is guaranteed tracked — so the top-k
    * read off the sketch is exact whenever the k-th hitter clears that
    * bar (the spec drives a skewed stream and checks both bounds against
    * the exact batch counts). Each batch emits the group's full counter
    * snapshot stamped with n_seen; readers keep the max-n_seen rows.
    * At scale: the sketch merges associatively, so a production topology
    * pre-sketches per partition and merges — this keyed single-sketch
    * form is the semantic reference. */
  def heavyHittersStream(events: DataFrame, m: Int = 16)
      : org.apache.spark.sql.Dataset[HeavyHitter] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = org.apache.spark.sql.Encoders.product[HeavyHitter]
    implicit val stateEnc = org.apache.spark.sql.Encoders.product[SSState]
    events
      .select(col("event_type"), col("user_id").cast("long"),
        // cast-to-canonical before unix_micros: NTZ-source portability,
        // no-op on LTZ (see rollingMedianStream).
        unix_micros(col("ts").cast("timestamp")).as("tsl"),
        col("event_id").cast("long"))
      .as[(String, Long, Long, Long)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (et: String, it: Iterator[(String, Long, Long, Long)],
         state: GroupState[SSState]) => {
          val prior = state.getOption.getOrElse(SSState(Nil, 0L))
          val counters = scala.collection.mutable.LinkedHashMap.from(
            prior.counters.map(c => c.user_id -> (c.cnt, c.err)))
          var n = prior.n
          // event-order fold (same contract as the other twins)
          it.toArray.sortBy(r => (r._3, r._4)).foreach { r =>
            val uid = r._2
            n += 1
            counters.get(uid) match {
              case Some((c, e)) => counters(uid) = (c + 1, e)
              case None if counters.size < m => counters(uid) = (1L, 0L)
              case None =>
                // evict the min-count tenant (deterministic (cnt, uid) order)
                val (evicted, (minCnt, _)) =
                  counters.minBy { case (u, (c, _)) => (c, u) }
                counters.remove(evicted)
                counters(uid) = (minCnt + 1, minCnt)
            }
          }
          state.update(SSState(
            counters.map { case (u, (c, e)) => SSCounter(u, c, e) }.toSeq, n))
          counters.iterator.map { case (u, (c, e)) =>
            HeavyHitter(et, u, c, e, n)
          }
        })
  }

  /** Streaming twin of the IVF assignment — the vector-store WRITE path:
    * each arriving vector is assigned to its nearest centroid MAP-SIDE.
    * The codebook ships in the task closure (at 100 TB the codebook is
    * KBs–MBs while the corpus streams), so ingestion is stateless: no
    * shuffle, no state store; downstream the (vec_id, c_id) rows upsert
    * into the cell-partitioned index store the same way `upsertBatch`
    * merges the history sink. The per-pair similarity is
    * [[graft.queries.MiningQueries.cosScalar]] — bit-equal to the batch
    * path's codegen CosineSimilarity by the shared fold order — and ties
    * break on the smaller c_id, the batch topKPerQuery rule (spec'd for
    * exact batch parity over the whole testdata). */
  def annAssignStream(vectors: org.apache.spark.sql.Dataset[VecIn],
                      centroids: Seq[(Long, Seq[Double])]): org.apache.spark.sql.Dataset[VecAssign] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[VecAssign]
    val cents = centroids.sortBy(_._1)
    vectors.map { v =>
      var bestC = -1L
      var best = Double.NegativeInfinity
      for ((cid, ce) <- cents) {
        val sim = graft.queries.MiningQueries.cosScalar(v.embedding, ce)
        if (sim > best) { best = sim; bestC = cid } // ascending cents: first wins ties
      }
      VecAssign(v.vec_id, bestC, best)
    }
  }

  /** MAINTENANCE half of the streaming IVF ingestion ([[annAssignStream]]
    * is the assign half): upsert a micro-batch of PQ-coded index rows
    * `(vec_id, s, code, c_id)` into the cell-partitioned store, touching
    * ONLY the affected cell directories.
    *
    * Semantics (the foreachBatch idempotent-sink contract, the
    * [[upsertBatch]] pattern applied to a PARTITIONED store):
    *
    *  - '''Exactly-once under replay''': the store carries a `_MAINT`
    *    marker holding the last applied batch id; a replayed batch
    *    (id ≤ marker) is a no-op, so at-least-once delivery composes to
    *    effectively-once store state.
    *  - '''Latest-wins per (vec_id, s)''': batch rows replace any
    *    existing rows for the same vector — covering both in-place code
    *    updates and CELL REASSIGNMENT (the vector's old cell is
    *    rewritten without it, its new cell with it).
    *  - '''Touched-cells-only I/O''': the write uses dynamic partition
    *    overwrite, so untouched cell directories are never rewritten —
    *    at 100 TB a batch touches O(batch) cells, not O(store). The old
    *    cells of reassigned vectors are found with one semi-join against
    *    the store; a production deployment backs that lookup with the
    *    primary-key side index instead of a scan, which changes the
    *    lookup's cost, not this merge.
    *  - A touched cell left EMPTY (its only rows moved away) cannot be
    *    expressed by dynamic overwrite (no rows → partition not
    *    rewritten); its directory is deleted explicitly.
    *
    * The staleness story composes with [[graft.ops.DerivedStore]]: the
    * version directory stays keyed by (fingerprint, source mtime) — a
    * full REBUILD supersedes any maintained state, and `_MAINT` records
    * how far streaming ingestion advanced the published version.
    *
    * '''Deployment contract — single writer, maintenance window.'''
    * Unlike [[graft.ops.DerivedStore]] publishes (write-temp + atomic
    * rename, immutable versions), this upsert mutates the published
    * version IN PLACE: a reader that lists files while a batch commits
    * can see a torn cell or a vanished directory. That is the standard
    * trade of partition-overwrite maintenance and is safe exactly when
    * serving and maintenance don't overlap (one process, or a serving
    * fleet drained during the maintenance trigger). A concurrent-reader
    * deployment instead copies touched cells into a NEW version dir and
    * republishes the manifest — same merge logic, one more rename. */
  def ivfMaintainBatch(spark: SparkSession, versionPath: String,
                       assigns: DataFrame, batchId: Long): Boolean = {
    import org.apache.spark.sql.functions._
    val marker = new java.io.File(versionPath, "_MAINT")
    val last =
      if (marker.exists()) {
        val srcF = scala.io.Source.fromFile(marker)
        try srcF.mkString.trim.toLong finally srcF.close()
      } else -1L
    if (batchId <= last) return false // replayed batch: already applied
    val store = spark.read.parquet(versionPath)
      .withColumn("c_id", col("c_id").cast("long"))
    // Within-batch conflict resolution: a vector re-ingested or
    // reassigned inside ONE trigger arrives as two rows per (vec_id, s)
    // store key with different cells — the union below would store it
    // under both, breaking latest-wins. The assign payload carries no
    // event time, so the winner is the deterministic lexicographic max
    // of (c_id, code): arbitrary but stable under replay, and a no-op
    // for the normal one-assignment-per-vector batch.
    val batch = assigns.select(
      col("vec_id").cast("long"), col("s").cast("int"),
      col("code").cast("long"), col("c_id").cast("long"))
      .groupBy(col("vec_id"), col("s"))
      .agg(max(struct(col("c_id"), col("code"))).as("w"))
      .select(col("vec_id"), col("s"),
        col("w.code").as("code"), col("w.c_id").as("c_id"))
      .localCheckpoint() // pin: read before the overwrite clobbers inputs
    val batchVecs = batch.select("vec_id").distinct()
    // Touched = the batch's target cells ∪ the current cells of every
    // batch vector (reassignment sources).
    val touched = (batch.select("c_id") union
      store.join(batchVecs, Seq("vec_id"), "left_semi").select("c_id"))
      .distinct().collect().map(_.getLong(0))
    val keep = store
      .filter(col("c_id").isInCollection(touched))
      .join(batchVecs, Seq("vec_id"), "left_anti")
    val merged = keep.select(batch.columns.toIndexedSeq.map(col): _*).union(batch)
      .localCheckpoint() // materialize BEFORE overwriting what `keep` reads
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try merged.write.mode("overwrite").partitionBy("c_id").parquet(versionPath)
    finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // Cells emptied by reassignment: dynamic overwrite never saw them.
    val nonEmpty = merged.select("c_id").distinct().collect().map(_.getLong(0)).toSet
    touched.filterNot(nonEmpty).foreach { c =>
      val dir = new java.io.File(versionPath, s"c_id=$c")
      Option(dir.listFiles()).foreach(_.foreach(f => { f.delete(): Unit }))
      dir.delete(): Unit
    }
    val tmp = new java.io.File(versionPath, s"._MAINT.$batchId")
    java.nio.file.Files.write(tmp.toPath, batchId.toString.getBytes("UTF-8"))
    tmp.renameTo(marker): Unit
    true
  }
}
