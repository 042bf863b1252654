package graft.perfbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.model.Tables
import graft.ops.{EnrichOps, FilterOps, SessionOps, TextOps}
import graft.streaming.StreamOps

/** A Kafka record as the MemoryStream carries it. */
final case class KafkaRec(key: String, value: String, topic: String, timestamp: java.sql.Timestamp)

/** The `ingest` workload: the 4 topics → decode → watermarked dedup →
  * consumer enrichment → latest-wins upsert with 30-day `daily_summary`
  * retention, inside `foreachBatch`, with one read-after-write probe per
  * committed batch.
  *
  * The traffic follows the reference producer's recorded parameters
  * (BASELINE.md): 10 tickers, a cold-start backfill of about 2,510 messages
  * (1,260 history and 1,250 summary messages), and live cycles of at most 6
  * messages per ticker, at most 1.5 messages/s in all.
  *
  * Backfill: a closed-loop drain of [[BackfillBatches]] backlogs of that
  * size, one micro-batch each. Live: an open loop that appends one ticker's
  * burst of [[BurstMsgs]] messages every [[TickMs]], whatever the query is
  * doing, while the query runs with the default as-fast-as-possible trigger.
  * Freshness of an event runs from its tick's due time to the return of the
  * first probe after the commit of the batch that held it. */
object Ingest {
  /** One cold-start backlog of the reference, drained as one micro-batch. */
  val BackfillBatchRows = 2510
  val BackfillBatches = 5
  /** Backfill batches run before the throughput clock starts. */
  val BackfillUntimed = 1
  /** One ticker's messages in one producer cycle. */
  val BurstMsgs = 6
  /** One burst every 2.0 s, the low end of the reference's per-ticker fetch
    * jitter: its peak rate within a cycle, 3 messages/s. */
  val TickMs = 2000
  /** The offered live rate, messages/s. */
  val LiveRate: Double = BurstMsgs * 1000.0 / TickMs
  /** The reference's highest sustained rate, messages/s. */
  val ReferenceRate = 1.5
  val WarmReps = 3
  val WarmBatchRows = 1000
  /** The retention window: the replay moves messages up to two weeks of
    * event time (see [[TopicGen]]), and none may arrive late. */
  val WatermarkDelay = "30 days"
  val RetainType = "daily_summary"
  val RetainDays = 30

  /** Store columns every topic is normalized to before the merge. */
  private def normalize(raw: DataFrame, topic: String): DataFrame = {
    val d = StreamOps.decodeTopic(raw.filter(col("topic") === topic), topic)
    val lang = regexp_extract(col("link"), "/([a-z]{2})/", 1)
    val common = topic match {
      case "stock-history" => d.select(
        concat(lit("HIST_"), col("ticker"), lit("_"), substring(col("date"), 12, 2)).as("id"),
        col("ticker"), lit("history").as("type"), lit("").as("title"), lit("").as("text"),
        lit("en").as("lang"),
        unix_timestamp(substring(col("date"), 1, 19), "yyyy-MM-dd HH:mm:ss").as("publish_time"),
        FilterOps.coerceDouble(col("Close")).as("current_price"))
      case "hot-news-events" => d.select(
        col("id"), col("ticker"), col("type"), FilterOps.coerceString(col("title"), "").as("title"),
        FilterOps.coerceString(col("summary"), "").as("text"), lit("en").as("lang"),
        col("publish_time"), FilterOps.coerceDouble(col("current_price")).as("current_price"))
      case "financial-news" => d.select(
        col("id"), col("ticker"), col("type"), FilterOps.coerceString(col("title"), "").as("title"),
        FilterOps.coerceString(col("summary"), "").as("text"),
        when(lang === "", lit("en")).otherwise(lang).as("lang"),
        col("publish_time"), FilterOps.coerceDouble(col("current_price")).as("current_price"))
      case "daily-summary" => d.select(
        col("id"), col("ticker"), col("type"), FilterOps.coerceString(col("title"), "").as("title"),
        FilterOps.coerceString(col("summary"), "").as("text"), lang.as("lang"),
        col("publish_time"), FilterOps.coerceDouble(lit(null).cast("string")).as("current_price"))
    }
    common.withColumn("ticker_no", substring(col("ticker"), 2, 8).cast("long"))
  }

  /** The consumer enrichment chain of `consumer_enrich_pipeline`, plus the
    * VADER scorer, the stub embedding and the field coercions. */
  private def enrich(df: DataFrame): DataFrame = {
    val en = df.withColumn("text_en", EnrichOps.translateEn(col("text"), col("lang")))
    EnrichOps.withVaderScore(en, col("text_en"), "vader")
      .select(
        col("id"), col("ticker"), col("ticker_no"), col("type"),
        FilterOps.truncDoc(col("title")).as("title"), col("text_en"),
        col("publish_time"), col("current_price"),
        EnrichOps.sentimentScore(TextOps.tokens(col("text_en"))).as("sentiment"),
        col("vader"),
        TextOps.qualityScore(col("text_en")).as("quality"),
        TextOps.polyHash(col("text_en")).as("fp"),
        EnrichOps.embedText(col("text_en")).as("embedding"))
  }

  private def decoded(raw: DataFrame): DataFrame =
    TopicGen.Topics.map(normalize(raw, _)).reduce(_ unionByName _)

  /** Row count and an order-independent hash of every column. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def toRecs(msgs: Seq[TopicMsg]): Seq[KafkaRec] =
    msgs.map(m => KafkaRec(m.key, m.value, m.topic, new java.sql.Timestamp(m.publishTime * 1000L)))

  /** One committed micro-batch, as the listener saw it: the chunks (one per
    * `addData` call) it covered, its phase durations and state size. */
  final case class Committed(batchId: Long, fromChunk: Int, toChunk: Int,
                             durations: Map[String, Long], stateRows: Long)

  /** A running consumer query and its probe thread. */
  private final class Consumer(ctx: Ctx, name: String, chunks: IndexedSeq[Seq[TopicMsg]],
                               out: Outcome) {
    private val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[KafkaRec]
    val committed = new LinkedBlockingQueue[Committed]()
    val progress = ArrayBuffer.empty[Committed]
    val probeMs = ArrayBuffer.empty[Double]
    val upsertMs = ArrayBuffer.empty[Double]
    /** Chunk index → time the probe after its batch's commit returned. */
    val probedNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var store: DataFrame = _
    @volatile var lastProbedChunk = -1
    @volatile var failure: Option[Throwable] = None
    private val retired = new ConcurrentLinkedQueue[DataFrame]()
    private var query: StreamingQuery = _
    private var prober: Thread = _
    /** Per ticker, the latest hot-news publish time offered so far. */
    private val latestHot = scala.collection.mutable.HashMap.empty[Long, Long]

    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (query != null && e.id == query.id) committed.put(Committed(-1, 0, -1, Map.empty, 0))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (query != null && p.id == query.id && p.sources.nonEmpty) {
          val src = p.sources.head
          def off(s: String): Int = Option(s).filter(_ != "null").map(_.trim.toInt).getOrElse(-1)
          val from = off(src.startOffset) + 1
          val to = off(src.endOffset)
          if (to >= from) {
            val durs = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
            val state = p.stateOperators.map(_.numRowsTotal).sum
            committed.put(Committed(p.batchId, from, to, durs, state))
          }
        }
      }
    }

    def start(): Unit = {
      spark.streams.addListener(listener)
      val raw = input.toDF()
      val stream = ctx.tracer.span("streaming", "decodeTopic")(decoded(raw))
      val deduped = ctx.tracer.span("streaming", "dedupWithWatermark")(
        StreamOps.dedupWithWatermark(
          stream.withColumn("event_ts", col("publish_time").cast("timestamp")),
          "event_ts", WatermarkDelay))
      val enriched = ctx.tracer.span("ops", "enrich")(enrich(deduped))
      store = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), enriched.schema)
      val checkpoint = new File(ctx.workDir, s"checkpoint_$name")
      Files.deleteTree(checkpoint)
      query = enriched.writeStream
        .queryName(name)
        .option("checkpointLocation", checkpoint.getAbsolutePath)
        .foreachBatch((batch: DataFrame, batchId: Long) => upsert(batch, batchId))
        .start()
      prober = new Thread(() => probeLoop(), s"$name-prober")
      prober.setDaemon(true)
      prober.start()
    }

    private def upsert(batch: DataFrame, batchId: Long): Unit = {
      val op = s"batch-$batchId"
      val t0 = System.nanoTime()
      val next = ctx.tracer.span("streaming", "upsertBatch", op)(
        StreamOps.upsertBatch(store, batch, RetainType, RetainDays))
      val materialized = ctx.tracer.span("ops", "upsert_exec", op)(next.localCheckpoint())
      upsertMs += (System.nanoTime() - t0) / 1e6
      retired.add(store)
      store = materialized
    }

    /** After each commit: one read-after-write probe through
      * `FilterOps.latestMetric` for a ticker the batch wrote. */
    private def probeLoop(): Unit = {
      var running = true
      while (running) {
        val c = committed.take()
        if (c.batchId < 0) running = false
        else {
          progress.synchronized(progress += c)
          val msgs = (c.fromChunk to c.toChunk).flatMap(chunks(_))
          msgs.filter(_.topic == "hot-news-events").foreach { m =>
            val t = m.key.drop(1).toLong
            latestHot(t) = math.max(latestHot.getOrElse(t, Long.MinValue), m.publishTime)
          }
          val ticker = msgs.reverseIterator.find(_.topic == "hot-news-events")
            .map(_.key.drop(1).toLong).orElse(latestHot.keys.headOption)
          val t0 = System.nanoTime()
          try {
            ticker.foreach { t =>
              val rows = ctx.asOp(s"probe-${c.batchId}")(ctx.tracer.span("ops", "latestMetric", s"batch-${c.batchId}")(
                FilterOps.latestMetric(store, col("ticker_no"), col("type"), t, "hot_news",
                  col("publish_time"), col("id")).select("publish_time").collect()))
              out.check(rows.length == 1 && rows.head.getLong(0) >= latestHot(t),
                s"ingest: probe after batch ${c.batchId} did not read the write for T$t")
            }
          } catch { case e: Throwable => out.fail(s"probe after batch ${c.batchId}", e) }
          val done = System.nanoTime()
          probeMs += (done - t0) / 1e6
          (c.fromChunk to c.toChunk).foreach(probedNs.put(_, done))
          lastProbedChunk = c.toChunk
          var old = retired.poll()
          while (old != null) { SessionOps.releaseQuiet(old); old = retired.poll() }
        }
      }
    }

    def add(chunk: Int): Unit = input.addData(toRecs(chunks(chunk)))

    /** Blocks until every chunk up to `chunk` is committed and probed. */
    def awaitProbed(chunk: Int, timeoutMs: Long): Boolean = {
      query.processAllAvailable()
      val deadline = System.currentTimeMillis() + timeoutMs
      while (lastProbedChunk < chunk && System.currentTimeMillis() < deadline && query.isActive)
        Thread.sleep(2)
      lastProbedChunk >= chunk
    }

    def stop(): Unit = {
      try if (query != null) query.stop()
      finally {
        if (prober != null) prober.join(30000)
        spark.streams.removeListener(listener)
        query.exception.foreach(e => failure = Some(e))
      }
    }
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val t0 = System.nanoTime()
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    val loadMs = ArrayBuffer.empty[Double]
    def load[A](name: String)(f: => A): A = {
      val s = System.nanoTime()
      try ctx.tracer.span("model", name)(f) finally loadMs += (System.nanoTime() - s) / 1e6
    }
    val events = load("Tables.events")(Tables.events(spark, ctx.dataDir))
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"), col("event_type"), col("value"))
      .collect().map(r => EventRow(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val docs = load("Tables.documents")(Tables.documents(spark, ctx.dataDir))
      .select("doc_id", "text", "lang", "source")
      .collect().map(r => DocRow(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val (offered, dupShare, oooShare) = TopicGen.replay(TopicGen.canonical(events, docs), ctx.seed)

    val liveTicks = ctx.seconds * 1000 / TickMs
    val backfill = offered.take(BackfillBatches * BackfillBatchRows).grouped(BackfillBatchRows).toIndexedSeq
    val live = offered.slice(BackfillBatches * BackfillBatchRows,
      BackfillBatches * BackfillBatchRows + liveTicks * BurstMsgs).grouped(BurstMsgs).toIndexedSeq
    require(live.size == liveTicks && live.last.size == BurstMsgs,
      f"the replay is too short for ${ctx.seconds} s at $LiveRate%.1f msg/s")
    val chunks = backfill ++ live

    // Set-up of a consumer, done WarmReps times on throwaway queries: plan
    // the chain, start the query and commit one batch. The first pays
    // codegen and JIT for everything that is timed later.
    val reps = (0 until WarmReps).map { i =>
      val s = System.nanoTime()
      val warm = new Consumer(ctx, s"ingest_warm$i", IndexedSeq(backfill.head.take(WarmBatchRows)), out)
      warm.start()
      warm.add(0)
      warm.awaitProbed(0, 120000)
      warm.stop()
      warm.failure.foreach(e => throw e)
      (System.nanoTime() - s) / 1e9
    }
    SessionOps.dropCachedBlocks(spark)
    val setupS = (System.nanoTime() - t0) / 1e9 - reps.sum + Stats.median(reps)
    out.notes += f"[ingest] consumer set-up s = ${reps.map(r => f"$r%.3f").mkString(", ")} (median of $WarmReps)"

    ctx.jvm.resetPeak()
    val gc0 = ctx.jvm.gcMs
    val jit0 = ctx.jvm.jitMs
    val c = new Consumer(ctx, "ingest", chunks, out)
    c.start()
    // Backfill: closed loop, one fixed-size batch at a time.
    val b0 = System.nanoTime()
    var timedFrom = b0
    backfill.indices.foreach { i =>
      if (i == BackfillUntimed) timedFrom = System.nanoTime()
      c.add(i)
      c.awaitProbed(i, 120000)
    }
    val backfillS = (System.nanoTime() - timedFrom) / 1e9
    // Live: open loop on a fixed schedule.
    val loop = OpenLoop(System.nanoTime(), TickMs * 1000000L)
    val lateMs = ArrayBuffer.empty[Double]
    val backlog = ArrayBuffer.empty[Long]
    live.indices.foreach { k =>
      val wait = loop.dueNs(k) - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      lateMs += loop.lateNs(k, System.nanoTime()) / 1e6
      c.add(backfill.size + k)
      backlog += (backfill.size + k - c.lastProbedChunk).toLong * BurstMsgs
    }
    val allProbed = c.awaitProbed(chunks.size - 1, 120000)
    c.stop()
    val gcMs = ctx.jvm.gcMs - gc0
    val jitMs = ctx.jvm.jitMs - jit0
    val heapMb = ctx.jvm.oldPeakAfterGcBytes() / 1048576.0
    c.failure.foreach(e => out.fail("micro-batch", e))

    val batches = c.progress.synchronized(c.progress.toVector)
    out.attempted = batches.size.toLong
    out.check(allProbed, s"ingest: ${chunks.size} chunks offered, ${c.lastProbedChunk + 1} committed and probed")
    val covered = batches.flatMap(b => b.fromChunk to b.toChunk)
    out.check(covered == chunks.indices,
      s"ingest: ${chunks.size} chunks offered, batches committed ${covered.size} chunk(s) out of order or twice")

    // The final store must equal a one-shot upsert fold of every offered message.
    val all = spark.createDataFrame(toRecs(chunks.flatten))
    val oneShot = StreamOps.upsertBatch(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), c.store.schema),
      enrich(decoded(all)), RetainType, RetainDays)
    val (gotRows, gotHash) = fingerprint(c.store)
    val (wantRows, wantHash) = fingerprint(oneShot)
    out.check(gotRows == wantRows && gotHash == wantHash,
      s"ingest: final store ($gotRows rows, hash $gotHash) != one-shot fold ($wantRows rows, hash $wantHash)")

    val liveStart = backfill.size
    val fresh = live.indices.flatMap { k =>
      val done = c.probedNs.getOrDefault(liveStart + k, Long.MinValue)
      if (done == Long.MinValue) Nil
      else Seq.fill(live(k).size)(loop.latencyNs(k, done) / 1e6)
    }
    val backfillRows = backfill.drop(BackfillUntimed).map(_.size).sum
    val backfillRate = backfillRows / backfillS
    val first = batches.headOption
    out.notes += f"[ingest] offered ${chunks.map(_.size).sum} messages (dup share $dupShare%.4f, out-of-order share $oooShare%.4f); " +
      f"backfill ${backfill.size} x $BackfillBatchRows; live $LiveRate%.1f msg/s (${LiveRate / ReferenceRate}%.0fx the reference's $ReferenceRate msg/s) " +
      f"for ${ctx.seconds} s, $BurstMsgs messages every $TickMs ms"
    out.notes += f"[ingest] ingest.backfill_rows_per_s = $backfillRate%.1f 1/s (n=$backfillRows rows in ${backfill.size - BackfillUntimed} timed batches)"
    if (fresh.nonEmpty) {
      out.notes += f"[ingest] ingest.freshness_p50_ms = ${Stats.median(fresh)}%.2f ms (n=${fresh.size} events, ${batches.size - backfill.size} live batches)"
      out.notes += f"[ingest] ingest.freshness_p95_ms = ${Stats.percentile(fresh, 95)}%.2f ms (n=${fresh.size}, beyond=${Stats.beyond(fresh, 95)})"
    }
    out.notes += f"[ingest] heap_peak_mb = $heapMb%.1f MB; failed ${out.failed} of ${out.attempted} batches"

    out.e2e("setup_s") = (setupS, "s")
    if (fresh.nonEmpty) {
      out.e2e("latency_p50_ms") = (Stats.median(fresh), "ms")
      out.e2e("latency_p90_ms") = (Stats.percentile(fresh, 90), "ms")
    }
    out.e2e("throughput_per_s") = (backfillRate, "1/s")
    first.foreach(b => out.notes += f"[ingest] first batch of a new consumer: ${c.probedNs.get(b.toChunk) / 1e6 - b0 / 1e6}%.1f ms (n=1)")
    out.e2e("heap_peak_mb") = (heapMb, "MB")

    val liveBatches = batches.filter(_.fromChunk >= liveStart)
    def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(k: String) = p50(liveBatches.map(_.durations.getOrElse(k, 0L).toDouble))
    out.layers("streaming.query_planning_ms_p50") = (dur("queryPlanning"), "ms")
    out.layers("streaming.add_batch_ms_p50") = (dur("addBatch"), "ms")
    out.layers("streaming.wal_commit_ms_p50") = (dur("walCommit"), "ms")
    out.layers("streaming.trigger_ms_p50") = (dur("triggerExecution"), "ms")
    out.layers("streaming.batch_rows_p50") =
      (p50(liveBatches.map(b => (b.fromChunk to b.toChunk).map(chunks(_).size.toDouble).sum)), "count")
    out.layers("streaming.batches") = (batches.size.toDouble, "count")
    out.layers("streaming.state_rows") = (batches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
    out.layers("streaming.backlog_rows_max") = (if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count")
    out.layers("streaming.generator_late_ms_p95") = (Stats.percentile(lateMs.toSeq, 95), "ms")
    out.layers("ops.upsert_exec_ms_p50") = (p50(c.upsertMs.toSeq), "ms")
    val perBatchShuffle = ctx.sparkCounters.map { sc =>
      val bs = batches.map(b => sc.forOp(s"batch-${b.batchId}").shuffleWrite.toDouble)
      if (bs.isEmpty) 0.0 else bs.sum / bs.size
    }.getOrElse(0.0)
    out.layers("ops.upsert_shuffle_bytes_per_batch") = (perBatchShuffle, "B")
    out.layers("ops.store_rows_end") = (gotRows.toDouble, "count")
    // Every offered id the final store lacks was removed by retention: the
    // fold check above proves the store holds the latest row of every other.
    val offeredIds = chunks.iterator.flatten.map(_.storeId).toSet.size
    out.layers("ops.retention_deleted_rows") = ((offeredIds - gotRows).toDouble, "count")
    out.layers("ops.probe_ms_p50") = (p50(c.probeMs.toSeq), "ms")
    out.layers("model.load_ms_p50") = (p50(loadMs.toSeq), "ms")
    Layers.common(ctx, out, gcMs, jitMs, batches.map(b => s"batch-${b.batchId}"))
    out
  }
}
