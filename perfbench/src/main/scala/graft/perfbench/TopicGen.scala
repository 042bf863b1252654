package graft.perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** A row of the `events` table, as the generator reads it. */
final case class EventRow(eventId: Long, tsMicros: Long, userId: Long,
                          eventType: String, value: Double)

/** A row of the `documents` table, as the generator reads it. */
final case class DocRow(docId: Long, text: String, lang: String, source: String)

/** One offered message: a Kafka record of one of the four topics, stamped
  * with its publish time. `storeId` is the id the consumer's upsert keys on;
  * the program only ever receives `topic`, `key`, `value` and the stamp. */
final case class TopicMsg(topic: String, key: String, value: String,
                          storeId: String, publishTime: Long)

/** Renders the `events` and `documents` tables as the payloads of the four
  * topics of `StreamOps.topicSchemas`, in replay order.
  *
  * The canonical timeline holds every event and document once, in event
  * time, with documents spread evenly over the events' span. Event time is
  * stretched by [[TimeScale]] so that 2,510 messages, the reference's
  * cold-start backfill, span about its 180 days, and a replay crosses the
  * 30-day retention window many times. Store keys come from a bounded space: one singleton per ticker
  * for the latest metrics and technical snapshots (the reference's
  * `LATEST_*` ids), one bar per ticker and hour of day, 1000 recycled news
  * ids, and daily summaries that retention expires. The store therefore
  * levels off, and per-batch cost does not drift with run length.
  *
  * The seed only perturbs the order: it draws the share of duplicated
  * messages and the share of out-of-order ones, then where each lands. A
  * message is moved at most [[MaxShift]] places later, about two weeks of
  * event time, well inside the consumer's 30-day watermark delay, so no
  * event is late. */
object TopicGen {
  val Topics: Seq[String] = Seq("financial-news", "stock-history", "hot-news-events", "daily-summary")
  /** The reference monitors 10 tickers (BASELINE.md). */
  val Tickers = 10
  val TimeScale = 250L
  val MaxShift = 200
  val NewsIds = 1000

  /** A generator for `seed`. The seed is mixed first: `java.util.Random`
    * gives nearly the same first draws for nearby seeds. */
  def rng(seed: Long): scala.util.Random = new scala.util.Random(scala.util.hashing.byteswap64(seed))

  private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ssxxx").withZone(ZoneOffset.UTC)

  private def r2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def words(text: String, n: Int): String = text.split(" ").take(n).mkString(" ")

  /** The store id the consumer derives for a stock-history bar. */
  def historyId(ticker: String, publishTime: Long): String =
    f"HIST_${ticker}_${(publishTime / 3600) % 24}%02d"

  /** Every event and document once, in event time, with (store id, publish
    * time) unique: a later message that would collide with an earlier one
    * on both is dropped, so the latest-wins merge never sees a tie. */
  def canonical(events: Seq[EventRow], docs: Seq[DocRow]): Vector[TopicMsg] = {
    require(events.nonEmpty, "no events")
    val evs = events.sortBy(e => (e.tsMicros, e.eventId))
    val t0 = evs.head.tsMicros
    val span = math.max(1L, evs.last.tsMicros - t0)
    val base = t0 / 1000000L
    def pt(micros: Long): Long = base + (micros - t0) * TimeScale / 1000000L
    val ds = docs.sortBy(_.docId)
    val docAt = ds.zipWithIndex.map { case (d, i) => (t0 + span * i / ds.size, d) }
    val timeline =
      (evs.map(e => (e.tsMicros, 0, e.eventId, Left(e): Either[EventRow, DocRow])) ++
        docAt.map { case (ts, d) => (ts, 1, d.docId, Right(d): Either[EventRow, DocRow]) })
        .sortBy(t => (t._1, t._2, t._3))
    val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
    timeline.iterator.map {
      case (ts, _, _, Left(e)) => eventMsg(e, pt(ts))
      case (ts, _, _, Right(d)) => docMsg(d, pt(ts))
    }.filter(m => seen.add((m.storeId, m.publishTime))).toVector
  }

  private def eventMsg(e: EventRow, pt: Long): TopicMsg = {
    val ticker = s"T${e.userId % Tickers}"
    val v = e.value
    e.eventType match {
      case "view" | "click" =>
        TopicMsg("stock-history", ticker, Json.obj(
          "ticker" -> ticker, "date" -> dateFmt.format(Instant.ofEpochSecond(pt)),
          "Open" -> r2(v * 0.98), "High" -> r2(v * 1.02), "Low" -> r2(v * 0.97),
          "Close" -> v, "Volume" -> (e.eventId % 10000) * 10),
          historyId(ticker, pt), pt)
      case "purchase" | "signup" =>
        val id = s"LATEST_METRICS_$ticker"
        TopicMsg("hot-news-events", ticker, Json.obj(
          "ticker" -> ticker, "title" -> s"$ticker market metrics",
          "summary" -> s"${e.eventType} flow for $ticker", "type" -> "hot_news",
          "source" -> "metrics", "id" -> id, "publish_time" -> pt,
          "current_price" -> v, "last_close" -> r2(v * 0.99),
          "opening_price" -> r2(v * 0.985), "price_1h_ago" -> r2(v * 1.01),
          "regularMarketTime" -> pt, "currency" -> "USD", "market_state" -> "REGULAR"),
          id, pt)
      case _ =>
        val id = s"LATEST_TECH_$ticker"
        TopicMsg("financial-news", ticker, Json.obj(
          "ticker" -> ticker, "type" -> "technical", "source" -> "technical",
          "id" -> id, "publish_time" -> pt, "current_price" -> v,
          "mean_10" -> r2(v * 1.001), "mean_50" -> r2(v * 0.995), "mean_200" -> r2(v * 0.98),
          "regularMarketTime" -> pt, "currency" -> "USD", "market_state" -> "REGULAR"),
          id, pt)
    }
  }

  private def docMsg(d: DocRow, pt: Long): TopicMsg = {
    val ticker = s"T${d.docId % Tickers}"
    val link = s"https://news.example/${d.lang}/${d.docId}"
    if (d.docId % 5 == 0) {
      val id = s"DAILY_SUMMARY_${ticker}_${pt - pt % 86400}"
      TopicMsg("daily-summary", ticker, Json.obj(
        "ticker" -> ticker, "title" -> words(d.text, 6), "link" -> link,
        "type" -> "daily_summary", "source" -> d.source, "id" -> id,
        "publish_time" -> pt, "summary" -> d.text),
        id, pt)
    } else {
      val id = s"NEWS_${d.docId % NewsIds}"
      TopicMsg("financial-news", ticker, Json.obj(
        "ticker" -> ticker, "title" -> words(d.text, 8), "publisher" -> d.source,
        "link" -> link, "summary" -> d.text, "publish_time" -> pt, "type" -> "news",
        "source" -> "news", "id" -> id),
        id, pt)
    }
  }

  /** The replay order for `seed`: the canonical messages, some duplicated
    * and some moved later, each by 1 to [[MaxShift]] places. Returns the
    * offered sequence and the two shares the seed drew. */
  def replay(canon: Vector[TopicMsg], seed: Long): (Vector[TopicMsg], Double, Double) = {
    val rng = TopicGen.rng(seed)
    val dupShare = 0.02 + 0.08 * rng.nextDouble()
    val oooShare = 0.02 + 0.08 * rng.nextDouble()
    val keyed = canon.iterator.zipWithIndex.flatMap { case (m, i) =>
      val shift = if (rng.nextDouble() < oooShare) 1 + rng.nextInt(MaxShift) else 0
      val orig = Iterator.single(((i + shift).toLong, 0, i, m))
      if (rng.nextDouble() < dupShare) orig ++ Iterator.single(((i + 1 + rng.nextInt(MaxShift)).toLong, 1, i, m))
      else orig
    }.toVector
    (keyed.sortBy(k => (k._1, k._2, k._3)).map(_._4), dupShare, oooShare)
  }
}
