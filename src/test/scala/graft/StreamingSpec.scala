package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamOps, VecIn}

case class Msg(id: String, ticker: String, `type`: String, publish_time: Long, current_price: Double)
case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double)
case class Imp(ad_id: Long, imp_ts: java.sql.Timestamp)
case class Click(ad_id: Long, click_ts: java.sql.Timestamp)

/** Streaming semantics (SURVEY §2.9) driven through MemoryStream:
  * replay-safe dedup (T2), latest-wins upsert merge (T3/V3), retention
  * (T4), event-time windowed aggregation with watermark (T5). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming phash near-dup: cross-batch parity with the keeper-state simulation") {
    implicit val sqlCtx = spark.sqlContext
    // real sf0.001 texts plus two exact payload copies arriving later —
    // guarantees at least the two hamming-0 pairs
    val base = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val dups = Seq((5000L, base.head._2), (5001L, base(1)._2))
    val (batch1, batch2) = base.splitAt(base.length / 2)

    val in = MemoryStream[(Long, String)]
    val q = StreamOps.phashDedupStream(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("phash_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(batch1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(batch2.toIndexedSeq ++ dups)
      q.processAllAvailable()

      // expected: keeper simulation over signatures computed with the
      // BATCH expressions, processed in the stream's order (per batch,
      // ascending doc_id)
      val all = (batch1 ++ batch2 ++ dups)
      val nf = greatest(lit(1), floor((length(col("text")) + 15) / 16).cast("int"))
      val sigs = all.toSeq.toDF("doc_id", "text")
        .withColumn("fh", transform(sequence(lit(0), nf - 1),
          i => graft.ops.TextOps.polyHash(col("text").substr(i * 16 + 1, lit(16)))))
        .select(col("doc_id"), graft.ops.TextOps.simHash(col("fh")).as("ph"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var kept = Map.empty[Long, Long]  // signature -> canonical id
      val expected = scala.collection.mutable.Set[(Long, Long, Int)]()
      for (batch <- Seq(batch1, batch2 ++ dups); (d, _) <- batch.sortBy(_._1)) {
        val ph = sigs(d)
        kept.foreach { case (mPh, mId) =>
          val ham = java.lang.Long.bitCount(ph ^ mPh)
          if (ham <= 3 && mId != d)
            expected += ((math.min(mId, d), math.max(mId, d), ham))
        }
        kept = kept.updatedWith(ph)(prev => Some(prev.fold(d)(math.min(_, d))))
      }

      val got = spark.table("phash_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected.toSet,
        s"missing=${expected.toSet -- got}, extra=${got -- expected.toSet}")
      assert(got.contains((base.head._1, 5000L, 0)), "exact copy pairs with its original")
    } finally q.stop()
  }

  test("T2: dropDuplicates over a replayed stream emits each id once") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Msg]
    val deduped = in.toDF()
      .withColumn("event_ts", col("publish_time").cast("timestamp"))
      .withWatermark("event_ts", "1 hour")
      .dropDuplicates("id")
    val q = deduped.writeStream.format("memory")
      .queryName("t2_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(Msg("a", "X", "news", 1000L, 1.0), Msg("b", "X", "news", 1010L, 2.0))
      q.processAllAvailable()
      // replay of id=a (at-least-once duplicate) plus a new id
      in.addData(Msg("a", "X", "news", 1000L, 1.0), Msg("c", "Y", "news", 1020L, 3.0))
      q.processAllAvailable()
      val ids = spark.table("t2_out").select("id").as[String].collect().sorted
      assert(ids.toSeq == Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("T3/V3/T4: foreachBatch upsert merge is idempotent, latest-wins, retained") {
    val store0 = Seq.empty[Msg].toDF()
    val batch = Seq(
      Msg("LATEST_TECH_X", "X", "technical", 2000L, 10.0),
      Msg("LATEST_TECH_X", "X", "technical", 3000L, 11.0), // later wins
      Msg("OLD_SUMMARY", "X", "daily_summary", 100L, 1.0)  // beyond retention
    ).toDF()
    // retention: 30 days before max publish_time (3000 s) keeps everything
    // newer than -2591997; the OLD row at 100 s is still inside -> craft a
    // tighter bound by using 0 days: cutoff = 3000 -> drops the 100 s row.
    val merged = StreamOps.upsertBatch(store0, batch, "daily_summary", 0)
    val rows = merged.orderBy("id").collect()
    assert(rows.map(_.getAs[String]("id")).toSeq == Seq("LATEST_TECH_X"))
    assert(rows.head.getAs[Double]("current_price") == 11.0)
    // idempotence: applying the same batch again changes nothing
    val again = StreamOps.upsertBatch(merged, batch, "daily_summary", 0)
    assert(again.orderBy("id").collect().toSeq == rows.toSeq)
  }

  test("upsertBatch evaluates its batch once and returns the store materialized") {
    val evals = spark.sparkContext.longAccumulator("graft.upsert.batchEvals")
    val counted = udf { (t: Long) => evals.add(1); t }
    def rddFrame(ms: Seq[Msg]) = spark.createDataFrame(spark.sparkContext.parallelize(ms, 2))
    val store = StreamOps.upsertBatch(Seq.empty[Msg].toDF(),
      rddFrame(Seq(Msg("kept", "X", "news", 1000L, 1.0))), "daily_summary", 30)
    val msgs = (0 until 40).map(i =>
      Msg(s"id$i", "X", if (i % 2 == 0) "news" else "daily_summary", 1000L + i, i.toDouble))
    // An opaque RDD-backed batch, like foreachBatch's; its event time runs
    // through the counting UDF, which both the merge and the retention
    // cutoff read.
    val batch = rddFrame(msgs).withColumn("publish_time", counted(col("publish_time")))
    val out = StreamOps.upsertBatch(store, batch, "daily_summary", 30)
    val rows = out.collect()
    assert(evals.value == msgs.size, s"batch rows evaluated ${evals.value} times for ${msgs.size} rows")
    assert(rows.length == msgs.size + 1)
    assert(out.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    graft.ops.SessionOps.releaseQuiet(store)
    graft.ops.SessionOps.releaseQuiet(out)
  }

  test("T3 keyed-state: flatMapGroupsWithState keeps the latest snapshot per key") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SnapshotMsg
    val in = MemoryStream[SnapshotMsg]
    val q = StreamOps.latestSnapshotStream(in.toDS())
      .writeStream.format("memory").queryName("t3_state_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(SnapshotMsg("X", 100L, 1.0), SnapshotMsg("X", 200L, 2.0))
      q.processAllAvailable()
      // an OLDER message arrives late: state must keep publish_time=200
      in.addData(SnapshotMsg("X", 150L, 9.0), SnapshotMsg("Y", 50L, 5.0))
      q.processAllAvailable()
      val latest = spark.table("t3_state_out")
        .groupBy("ticker").agg(max_by(struct($"publish_time", $"current_price"), $"publish_time").as("m"))
        .select($"ticker", $"m.publish_time", $"m.current_price")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(latest("X") == (200L, 2.0)) // late 150 did not displace 200
      assert(latest("Y") == (50L, 5.0))
    } finally q.stop()
  }

  test("T3 transformWithState: typed ValueState accumulates across batches (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SnapshotMsg
    // transformWithState requires the RocksDB state store — also the
    // backend of record at scale (state off-heap/on-disk per task)
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[SnapshotMsg]
    val q = StreamOps.tickerStatsStream(in.toDS())
      .writeStream.format("memory").queryName("t3_tws_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(SnapshotMsg("X", 1000L, 5.0), SnapshotMsg("X", 2000L, 4.0))
      q.processAllAvailable()
      // second batch: state must carry n=2 and latest=(2000, 4.0) forward
      in.addData(SnapshotMsg("X", 1500L, 9.0), SnapshotMsg("Y", 10L, 1.0))
      q.processAllAvailable()
      val last = spark.table("t3_tws_out")
        .groupBy("ticker").agg(max_by(struct($"n", $"latest_time", $"latest_price", $"max_price"), $"n").as("s"))
        .select($"ticker", $"s.n", $"s.latest_time", $"s.latest_price", $"s.max_price")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      assert(last("X") == ((3L, 2000L, 4.0, 9.0)), s"got ${last("X")}")
      assert(last("Y") == ((1L, 10L, 1.0, 1.0)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static join: broadcast dim enriches the stream, no stream state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Msg]
    val sectors = Seq(("X", "tech"), ("Y", "energy")).toDF("ticker", "sector")
    // dim side broadcast: each micro-batch plans a BroadcastHashJoin — the
    // at-scale enrich shape (no shuffle of the stream, no join state)
    val enriched = in.toDF().join(broadcast(sectors), "ticker")
    val q = enriched.writeStream.format("memory")
      .queryName("ss_join_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(Msg("a", "X", "news", 1000L, 1.0), Msg("b", "Z", "news", 1001L, 2.0))
      q.processAllAvailable()
      val got = spark.table("ss_join_out")
        .select("id", "sector").collect().map(r => (r.getString(0), r.getString(1)))
      assert(got.toSet == Set("a" -> "tech")) // Z has no dim row -> dropped
    } finally q.stop()
  }

  test("stream-stream interval join: clicks attribute to impressions within 1h") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Imp]
    val clicks = MemoryStream[Click]
    // both sides watermarked + a time-interval condition: Spark bounds the
    // join state to the interval span instead of keeping either side forever
    val joined = imps.toDF().withWatermark("imp_ts", "2 hours")
      .join(
        clicks.toDF().withColumnRenamed("ad_id", "c_ad_id")
          .withWatermark("click_ts", "2 hours"),
        expr("""ad_id = c_ad_id AND
                click_ts >= imp_ts AND click_ts <= imp_ts + INTERVAL 1 HOUR"""))
    val q = joined.writeStream.format("memory")
      .queryName("ss_interval_out").outputMode(OutputMode.Append).start()
    try {
      imps.addData(Imp(1L, ts("2024-01-01 09:00:00")), Imp(2L, ts("2024-01-01 09:30:00")))
      q.processAllAvailable()
      clicks.addData(
        Click(1L, ts("2024-01-01 09:40:00")),  // within 1h of imp 1 -> match
        Click(2L, ts("2024-01-01 11:00:00")))  // 1.5h after imp 2 -> no match
      q.processAllAvailable()
      val got = spark.table("ss_interval_out").select("ad_id").as[Long].collect()
      assert(got.toSeq == Seq(1L))
    } finally q.stop()
  }

  test("intervalJoinStream: exact batch parity on replayed two-sided input") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{BarMsg, MarkMsg}
    val bars = MemoryStream[BarMsg]
    val marks = MemoryStream[MarkMsg]
    val q = StreamOps.intervalJoinStream(bars.toDF(), marks.toDF())
      .writeStream.format("memory")
      .queryName("ivj_out").outputMode(OutputMode.Append).start()
    val barRows = Seq(
      BarMsg(1L, ts("2024-01-01 10:00:00"), 10.0),
      BarMsg(1L, ts("2024-01-01 10:15:00"), 11.0),
      BarMsg(2L, ts("2024-01-01 10:05:00"), 20.0))
    val markRows = Seq(
      MarkMsg(1L, ts("2024-01-01 09:55:00"), "warm"),   // in window of bar 10:00 only
      MarkMsg(1L, ts("2024-01-01 10:10:00"), "hot"),    // in window of bar 10:15
      MarkMsg(2L, ts("2024-01-01 09:50:00"), "stale"),  // 15 min before bar -> out
      MarkMsg(3L, ts("2024-01-01 10:00:00"), "orphan")) // no bar for key
    try {
      bars.addData(barRows: _*)
      marks.addData(markRows: _*)
      q.processAllAvailable()
      val got = spark.table("ivj_out")
        .as[(Long, java.sql.Timestamp, Double, java.sql.Timestamp, String)]
        .collect().toSet
      val expected = StreamOps.intervalJoinStream(
        barRows.toDF(), markRows.toDF())
        .as[(Long, java.sql.Timestamp, Double, java.sql.Timestamp, String)]
        .collect().toSet
      assert(got == expected, s"stream $got vs batch $expected")
      assert(got.map(t => (t._1, t._5)) == Set((1L, "warm"), (1L, "hot")))
    } finally q.stop()
  }

  test("rollingMedianStream: bit-equal to the batch rolling_median across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.rollingMedianStream(
      in.toDF().withColumn("event_type", lit("view")))
      .writeStream.format("memory")
      .queryName("rollmed_out").outputMode(OutputMode.Append).start()
    // 14 rows per user across 2 users, split mid-stream: the second batch's
    // windows straddle state carried from the first.
    val rows = (1 to 14).flatMap(i => Seq(
      Ev(1L, ts(f"2024-01-01 10:${i}%02d:00"), i.toLong * 2, (i * 7 % 13).toDouble),
      Ev(2L, ts(f"2024-01-01 10:${i}%02d:30"), i.toLong * 2 + 1, (i * 5 % 11).toDouble)))
    val (b1, b2) = rows.splitAt(16)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("rollmed_out")
        .as[(Long, Long, Double, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      // batch twin over the same rows through the registered query
      val dir = java.nio.file.Files.createTempDirectory("rollmed").toString
      rows.toDF("user_id", "ts", "event_id", "value")
        .withColumn("event_type", lit("view"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val expected = SparkEntry.queries("rolling_median")(spark, dir)
        .collect().map(r => (r.getLong(1), r.getLong(0)) -> (r.getDouble(2), r.getDouble(3))).toMap
      assert(got.size == rows.size)
      assert(got == expected)
    } finally q.stop()
  }

  test("heavyHittersStream: Space-Saving bounds hold vs exact counts") {
    implicit val sqlCtx = spark.sqlContext
    case class HEv(event_type: String, user_id: Long, ts: java.sql.Timestamp, event_id: Long)
    val in = MemoryStream[(String, Long, java.sql.Timestamp, Long)]
    val q = StreamOps.heavyHittersStream(
      in.toDF().toDF("event_type", "user_id", "ts", "event_id"), m = 8)
      .writeStream.format("memory")
      .queryName("hh_out").outputMode(OutputMode.Update).start()
    // skewed stream: users 1..3 hot (30/20/10 hits), users 100+ cold singletons
    var eid = 0L
    def mk(u: Long, k: Int) = (1 to k).map { _ =>
      eid += 1; ("click", u, ts(f"2024-01-01 10:00:${eid % 60}%02d"), eid)
    }
    val hot = mk(1L, 30) ++ mk(2L, 20) ++ mk(3L, 10)
    val cold = (100L to 139L).flatMap(mk(_, 1))
    val all = new scala.util.Random(7).shuffle(hot ++ cold)
    val (b1, b2) = all.splitAt(all.size / 2)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val snaps = spark.table("hh_out")
        .as[(String, Long, Long, Long, Long)].collect()
      val nMax = snaps.map(_._5).max
      assert(nMax == all.size)
      val finalSnap = snaps.filter(_._5 == nMax)
        .map(t => t._2 -> (t._3, t._4)).toMap
      assert(finalSnap.size == 8)                     // capacity m
      val exact = all.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      // guarantee 1: every user above n/m is tracked (n/m = 100/8 = 12.5)
      Seq(1L, 2L).foreach(u => assert(finalSnap.contains(u), s"hot user $u lost"))
      // guarantee 2: tracked cnt overestimates truth by at most err
      finalSnap.foreach { case (u, (cnt, err)) =>
        val truth = exact.getOrElse(u, 0L)
        assert(cnt >= truth && cnt - err <= truth,
          s"user $u: cnt=$cnt err=$err truth=$truth")
      }
      // the top-2 read off the sketch are the true top-2 (both clear n/m,
      // so Space-Saving ranks them correctly even if once evicted)
      val top2 = finalSnap.toSeq.sortBy { case (u, (c, _)) => (-c, u) }
        .take(2).map(_._1).toSet
      assert(top2 == Set(1L, 2L), s"top2 was $top2")
    } finally q.stop()
  }

  test("S2 end-to-end: file JSON stream -> decode -> dedup -> upsert -> retention") {
    // The closest offline stand-in for the Kafka round-trip: FIXTURES.md §1
    // JSON lines on disk, streamed one file per micro-batch through the
    // EXACT decode projection kafkaSource uses, then the full consumer
    // chain — watermarked dedup, latest-wins upsert, retention delete.
    def msg(id: String, ticker: String, tpe: String, pt: Long, price: Double) =
      s"""{"id":"$id","ticker":"$ticker","type":"$tpe","title":"t","summary":"s","publish_time":$pt,"current_price":$price,"market_state":"OPEN","currency":"EUR"}"""
    val now = 100000000L // unix sec; OLD is 40 days earlier (30-day retention)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_e2e")
    val srcDir = dir.resolve("in"); java.nio.file.Files.createDirectory(srcDir)
    java.nio.file.Files.write(srcDir.resolve("batch1.json"), java.util.Arrays.asList(
      msg("news_a", "X", "news", now, 1.0),
      msg("LATEST_TECH_X", "X", "technical", now - 1000, 10.0),
      msg("news_old", "X", "news", now - 40L * 86400, 0.5)))
    java.nio.file.Files.write(srcDir.resolve("batch2.json"), java.util.Arrays.asList(
      msg("news_a", "X", "news", now, 1.0),                       // replay dup
      msg("LATEST_TECH_X", "X", "technical", now - 500, 11.0),    // later wins
      msg("news_b", "Y", "news", now + 100, 2.0)))
    val later = 3 to 20
    later.foreach { k =>
      java.nio.file.Files.write(srcDir.resolve(f"batch$k%02d.json"),
        java.util.Arrays.asList(msg(s"news_$k", "Z", "news", now + 100 + k, 1.0)))
    }

    val raw = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .text(srcDir.toString)
      .select( // shape the file lines like Kafka records
        lit("filekey").as("key"), col("value"),
        current_timestamp().as("timestamp"))
    val decoded = StreamOps.decodeMessages(raw)
    val deduped = StreamOps.dedupWithWatermark(
      decoded.withColumn("event_ts", col("publish_time").cast("timestamp")),
      "event_ts", "1 hour")

    // upsertBatch returns the store materialized; each superseded store is
    // released, so the persisted RDDs stay bounded however many batches run
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.size
    // per foreachBatch call: whether its batch held rows, and the
    // persisted RDDs after its upsert
    val persisted = scala.collection.mutable.ArrayBuffer[(Boolean, Int)]()
    @volatile var store: org.apache.spark.sql.DataFrame = null
    val mergeBatch = (batch: org.apache.spark.sql.DataFrame, _: Long) => {
      val b = batch.drop("ingest_ts", "event_ts", "kafka_key")
      val heldRows = !b.isEmpty
      val cur =
        if (store == null)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), b.schema)
        else store
      store = StreamOps.upsertBatch(cur, b, "news", 30)
      graft.ops.SessionOps.releaseQuiet(cur)
      persisted.synchronized { persisted += (heldRows -> sc.getPersistentRDDs.size) }
      ()
    }
    val q = deduped.writeStream.outputMode("append").foreachBatch(mergeBatch).start()
    try {
      q.processAllAvailable()
      val rows = store.orderBy("id")
        .select("id", "ticker", "type", "publish_time", "current_price")
        .collect()
      // news_old deleted by retention, news_a deduped, technical latest-wins
      assert(rows.map(_.getString(0)).toSeq ==
        (Seq("LATEST_TECH_X", "news_a", "news_b") ++ later.map(k => s"news_$k")).sorted)
      val tech = rows.head
      assert(tech.getLong(3) == now - 500 && tech.getDouble(4) == 11.0)
      // One call per input file holds rows. A watermark-advancing
      // no-data micro-batch may also call foreachBatch, before or after
      // processAllAvailable() returns; such a call holds none.
      val calls = persisted.synchronized(persisted.toList)
      assert(calls.count(_._1) == 2 + later.size, s"calls (held rows, persisted): $calls")
      val counts = calls.map(_._2)
      assert(counts.forall(_ <= persistedBefore + 1),
        s"persisted RDDs grew over the upserts: before $persistedBefore, after each $counts")
    } finally {
      q.stop()
      graft.ops.SessionOps.releaseQuiet(store)
    }
  }

  test("T5: watermarked daily window emits finalized OHLCV per key-day") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = StreamOps.dailySummaryStream(in.toDF())
    val q = agg.writeStream.format("memory")
      .queryName("t5_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(1L, ts("2024-01-01 09:00:00"), 1L, 10.0),
        Ev(1L, ts("2024-01-01 17:00:00"), 2L, 20.0))
      q.processAllAvailable()
      // event 2 days later pushes the watermark past Jan 1 -> window closes
      in.addData(Ev(1L, ts("2024-01-03 09:00:00"), 3L, 30.0))
      q.processAllAvailable()
      val out = spark.table("t5_out").orderBy("ws").collect()
      assert(out.length == 1) // Jan 1 finalized; Jan 3 still open
      val r = out.head
      assert(r.getAs[Double]("open") == 10.0)
      assert(r.getAs[Double]("close") == 20.0)
      assert(r.getAs[Long]("volume") == 2L)
    } finally q.stop()
  }

  test("streaming token-budget admission: single batch == batch query; state persists") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val admitted = StreamOps.tokenBudgetAdmitStream(
      in.toDF().toDF("doc_id", "source", "text"), budget = 5L)
    val q = admitted.writeStream.format("memory")
      .queryName("budget_out").outputMode(OutputMode.Append).start()
    try {
      // VARIABLE token counts (4, 3, 1) — uniform lengths cannot tell the
      // strict-prefix semantics apart from skip-and-continue knapsack
      // admission; this corpus can: once a doc overflows, a later smaller
      // doc that would still "fit" must ALSO be rejected, like the batch
      // window's monotone cum filter.
      in.addData(
        (1L, "srcA", "a b c d"), (2L, "srcA", "e f g"), (3L, "srcA", "h"),
        (10L, "srcB", "one two three four five six"))  // 6 > 5: never admitted
      q.processAllAvailable()
      val got1 = spark.table("budget_out")
        .as[graft.streaming.AdmittedDoc].collect().sortBy(_.doc_id)
      assert(got1.forall(_.cum_tokens <= 5L))
      assert(!got1.exists(_.source == "srcB"))
      // batch-parity on the same one-batch data: replicate the window form
      val batch = Seq((1L, "srcA", "a b c d"), (2L, "srcA", "e f g"), (3L, "srcA", "h"),
        (10L, "srcB", "one two three four five six"))
        .toDF("doc_id", "source", "text")
      val h = graft.ops.TextOps.sampleKey(col("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("h"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val batchKept = batch
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"), h.as("h"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= 5L)
        .select("doc_id").as[Long].collect().sorted
      assert(got1.map(_.doc_id).toSeq == batchKept.toSeq,
        s"stream ${got1.map(_.doc_id).toSeq} != batch ${batchKept.toSeq}")
      // cross-batch: srcA overflowed (or spent) above; a 1-token doc that
      // would numerically fit any leftover must stay rejected once the
      // source closed. Either way nothing with cum > 5 may ever appear.
      in.addData((4L, "srcA", "z"))
      q.processAllAvailable()
      val got2 = spark.table("budget_out").as[graft.streaming.AdmittedDoc].collect()
      assert(got2.forall(_.cum_tokens <= 5L))
      val srcATotal = got2.filter(_.source == "srcA").map(_.n_tokens).sum
      assert(srcATotal <= 5L)
      // if the first batch closed srcA (overflow happened), doc 4 is out
      val batchTokens = Map(1L -> 4L, 2L -> 3L, 3L -> 1L)
      val admitted1 = got1.filter(_.source == "srcA").map(_.doc_id).toSet
      val overflowed = batchTokens.keys.exists(id => !admitted1.contains(id))
      if (overflowed) assert(!got2.exists(_.doc_id == 4L))
    } finally q.stop()
  }

  test("streaming EMA: bit-equal to the batch prefix fold, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Double)]
    val q = StreamOps.emaStream(in.toDF().toDF("ticker", "date", "close"), n = 12)
      .writeStream.format("memory").queryName("ema_out")
      .outputMode(OutputMode.Append).start()
    val closes = Seq(10.0, 10.5, 9.75, 11.25, 10.9, 12.0)
    try {
      // feed the bars split across two micro-batches — state must carry
      in.addData((0 until 3).map(i => ("X", f"2024-01-${i + 1}%02d", closes(i))): _*)
      q.processAllAvailable()
      in.addData((3 until 6).map(i => ("X", f"2024-01-${i + 1}%02d", closes(i))): _*)
      q.processAllAvailable()
      val got = spark.table("ema_out").as[graft.streaming.EmaPoint]
        .collect().sortBy(_.date).map(_.ema).toSeq
      // the batch form: exact left fold over the whole prefix
      val alpha = 2.0 / 13.0
      val expect = closes.tail.scanLeft(closes.head)((acc, x) => alpha * x + (1.0 - alpha) * acc)
      assert(got == expect, s"stream $got != batch fold $expect")
    } finally q.stop()
  }

  test("streaming funnel: stage state carries across batches, matches batch fold") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{FunnelEvent, FunnelProgress}
    // transformWithState requires RocksDB (same as the ticker-stats test)
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[FunnelEvent]
    val q = StreamOps.funnelStream(in.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: user 1 views then clicks (out-of-order arrival within the
      // batch — the processor sorts by ts); user 2 purchases first (no-op)
      in.addData(
        FunnelEvent(1L, 2000L, 11L, "click"),
        FunnelEvent(1L, 1000L, 10L, "view"),
        FunnelEvent(2L, 1000L, 20L, "purchase"))
      q.processAllAvailable()
      // batch 2: user 1 purchases -> converted; user 2 views -> stage 1
      in.addData(
        FunnelEvent(1L, 3000L, 12L, "purchase"),
        FunnelEvent(2L, 2000L, 21L, "view"))
      q.processAllAvailable()
      val last = spark.table("funnel_out").as[FunnelProgress].collect()
        .groupBy(_.user_id).map { case (u, rows) =>
          u -> rows.maxBy(_.stages_matched) }
      assert(last(1L).stages_matched == 3L && last(1L).converted)
      assert(last(2L).stages_matched == 1L && !last(2L).converted)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming substring dedup: single batch == batch detector; cross-batch gram turns dup retroactively") {
    implicit val sqlCtx = spark.sqlContext
    val Gram = 3
    // doc 1 and doc 2 share the 3-gram "b c d" (doc1 pos 2, doc2 pos 1);
    // doc 1 repeats "a b c" internally (pos 1 and pos 4); doc 3 is clean.
    val batch1 = Seq(
      (1L, "a b c d a b c"),
      (2L, "b c d x y z"),
      (3L, "p q r s t u"))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.substringDupStream(in.toDF().toDF("doc_id", "text"), Gram)
      .writeStream.format("memory")
      .queryName("substr_dup_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      val got1 = spark.table("substr_dup_out")
        .as[(Long, Long, Long)].collect().toSet
      // Batch detector on the same rows: corpus-wide count >= 2 per gram hash.
      val g = batch1.toDF("doc_id", "text").select(
        col("doc_id"),
        posexplode(graft.expressions.TextHash.ngramHashes(col("text"), Gram))
          .as(Seq("pos0", "h")))
      val expected = g
        .withColumn("cnt", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("h")))
        .filter(col("cnt") >= 2)
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("st"),
          (col("pos0") + Gram).cast("long").as("en"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got1 == expected, s"single-batch parity: $got1 vs $expected")
      assert(got1.nonEmpty && got1.exists(_._1 == 2L))
      // Batch 2: doc 4 repeats doc 3's "p q r" — a gram that was a
      // SINGLETON in batch 1. The stream must now emit doc 3's held-back
      // occurrence retroactively along with doc 4's.
      in.addData((4L, "p q r z z z"))
      q.processAllAvailable()
      val got2 = spark.table("substr_dup_out")
        .as[(Long, Long, Long)].collect().toSet -- got1
      assert(got2 == Set((3L, 1L, 3L), (4L, 1L, 3L)),
        s"expected retroactive doc-3 hit + doc-4 hit, got $got2")
    } finally q.stop()
  }

  test("streaming minhash dedup: first bucket claimant survives, later near-dups drop") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val deduped = StreamOps.minhashDedupStream(
      in.toDF().toDF("doc_id", "text"))
    val q = deduped.writeStream.format("memory")
      .queryName("mh_dedup_out").outputMode(OutputMode.Append).start()
    try {
      // docs 1 and 2 are identical -> same band bucket; min id wins in-batch
      in.addData((2L, "alpha beta gamma delta"), (1L, "alpha beta gamma delta"),
        (10L, "totally different tokens here"))
      q.processAllAvailable()
      // doc 3 replays the duplicate text in a LATER batch -> dropped by state
      in.addData((3L, "alpha beta gamma delta"),
        (11L, "yet another unique document text"))
      q.processAllAvailable()
      val kept = spark.table("mh_dedup_out").select("doc_id")
        .as[Long].collect().sorted
      assert(kept.toSeq == Seq(1L, 10L, 11L),
        s"expected first claimants only, got ${kept.mkString(",")}")
    } finally q.stop()
  }

  test("streaming fuzzy dedup: edit-distance verify drops typo dups, keeps distinct bucket-mates") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.fuzzyDedupStream(
      in.toDF().toDF("doc_id", "text", "lang"), r = 2)
      .writeStream.format("memory").queryName("fz_dedup_out")
      .outputMode(OutputMode.Append).start()
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat naps quietly beside the warm stone hearth"
    val typo = base.replace("naps", "nops") // one substitution
    val other = "completely unrelated payload about parquet column " +
      "statistics and shuffle partitioning in distributed engines"
    val fixture = Seq((10L, base, "en"), (20L, other, "en"),
      (30L, base, "en"), (31L, typo, "en"), (32L, base, "fr"))
    val kept = try {
      // batch 1: base (claims its bucket) + an unrelated doc
      in.addData(fixture(0), fixture(1))
      q.processAllAvailable()
      // batch 2: an exact replay (dist 0 — same signature ALWAYS), a
      // one-edit typo (dup iff the edit leaves the band-0 minhash
      // intact — the hash family decides), and the same text in a
      // DIFFERENT lang, which keys a different bucket and survives
      in.addData(fixture(2), fixture(3), fixture(4))
      q.processAllAvailable()
      spark.table("fz_dedup_out").select("doc_id").as[Long].collect().sorted.toSeq
    } finally q.stop()

    // EXACT batch parity: the stream must equal the greedy
    // first-claimant traversal (in doc_id = arrival order) of the
    // single-band batch operator's verified pairs — fuzzyCandidates at
    // the same r with l = 1 IS band 0, and an (a, b) pair implies the
    // same (lang, signature) bucket, so "dropped iff a KEPT earlier doc
    // pairs with it" is the stream's state machine expressed over batch
    // output.
    val d0 = fixture.toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val plan = graft.queries.TextQueries.fuzzyCandidates(spark, d0, 2, 1)
    val ta = d0.select(col("doc_id").as("a_id"), col("text").as("ta"),
      col("n_chars").as("la"))
    val tb = d0.select(col("doc_id").as("b_id"), col("text").as("tb"),
      col("n_chars").as("lb"))
    val batchPairs = graft.ops.LshJoin.verifyJoin(plan, ta, tb)
      .filter(expr("levenshtein(ta, tb, CAST(greatest(la, lb) / 5 AS INT))") >= 0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val expectedKept = fixture.map(_._1).sorted
      .foldLeft(Vector.empty[Long]) { (keptSoFar, d) =>
        if (keptSoFar.exists(c => batchPairs.contains((c, d)))) keptSoFar
        else keptSoFar :+ d
      }
    assert(kept == expectedKept,
      s"stream kept $kept but greedy-over-batch-pairs expects $expectedKept " +
        s"(pairs: $batchPairs)")
    // deterministic anchors, independent of the hash family: claimants
    // and the cross-lang copy survive, the exact replay drops
    assert(kept.contains(10L) && kept.contains(20L) && kept.contains(32L))
    assert(!kept.contains(30L), "exact dup must drop")
  }

  test("streaming fuzzy dedup: claimant cap bounds state, past-cap mates admit unverified") {
    import graft.streaming.{FuzzyRotClaimants, FuzzyRotDocIn}
    // The rows fuzzyDedupStream(r = 2) folds: every row of a bucket
    // carries the bucket's signature and the pinned regime 2.
    def doc(id: Long, text: String, nChars: Long) =
      FuzzyRotDocIn("k", id, text, nChars, 2, Seq(7L, 11L))
    // 10 same-bucket docs that all FAIL the length prune pairwise
    // (lengths 100, 200, 400, ... — each > 5/4 of the previous), so every
    // one is verified-distinct: all kept, but only the first
    // FUZZY_CLAIMANT_CAP become claimants.
    val docs = (0 until 10).map { i =>
      doc(i.toLong, "x" * (100 << i), (100L << i))
    }
    val (kept, st) = StreamOps.fuzzyRotFold(FuzzyRotClaimants(Nil, Nil, Nil, Nil), docs)
    assert(kept.map(_.doc_id) == (0L until 10L))
    assert(st.ids.size == StreamOps.FUZZY_CLAIMANT_CAP,
      s"state must cap at ${StreamOps.FUZZY_CLAIMANT_CAP}, got ${st.ids.size}")
    // a dup of a CLAIMANT still drops; a dup of a past-cap doc admits
    // (the documented recall floor, never a false drop)
    val (kept2, _) = StreamOps.fuzzyRotFold(st,
      Seq(doc(100L, "x" * 100, 100L),                // dup of claimant 0
        doc(101L, "x" * (100 << 9), 100L << 9)))     // dup of past-cap doc 9
    assert(kept2.map(_.doc_id) == Seq(101L),
      s"claimant dup must drop, past-cap dup must admit; got ${kept2.map(_.doc_id)}")
  }

  test("streaming fuzzy dedup: regime rotation mid-stream, no dup leaks") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String, Int)]
    val q = StreamOps.fuzzyDedupStreamRotating(
      in.toDF().toDF("doc_id", "text", "lang", "regime"), rKey = 2, rMax = 8)
      .writeStream.format("memory").queryName("fzrot_out")
      .outputMode(OutputMode.Append).start()
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat naps quietly beside the warm stone hearth"
    val other = "completely unrelated payload about parquet column " +
      "statistics and shuffle partitioning in distributed engines"
    val fresh = "a third document that shares no phrasing with either " +
      "of the earlier two and keeps its own vocabulary entirely"
    val kept = try {
      // batch 1 arrives under regime 2 — base and other claim buckets
      in.addData((10L, base, "en", 2), (20L, other, "en", 2))
      q.processAllAvailable()
      // the corpus "grew": batch 2 arrives under regime 4. The exact
      // replay of base must STILL drop — its regime-4 verify set reaches
      // the regime-2 claimant through the stored full minhash vector
      // (an exact dup shares all 8 hashes). This is the leak the
      // fixed-r twin cannot avoid without re-keying state.
      in.addData((30L, base, "en", 4), (40L, fresh, "en", 4))
      q.processAllAvailable()
      spark.table("fzrot_out").select("doc_id").as[Long].collect().sorted.toSeq
    } finally q.stop()
    assert(kept.contains(10L) && kept.contains(20L) && kept.contains(40L),
      s"claimants and the fresh doc must survive: $kept")
    assert(!kept.contains(30L),
      s"exact dup must drop ACROSS the regime rotation (kept: $kept)")
  }

  test("fuzzyRotFold: regime refines the verify set; both claimant caps bound state") {
    import graft.streaming.{FuzzyRotClaimants, FuzzyRotDocIn}
    val sig = (tail: Long) => Seq(1L, 1L, tail, 9L, 9L, 9L, 9L, 9L)
    val empty = FuzzyRotClaimants(Nil, Nil, Nil, Nil)
    // d1 claims; d2 shares the coarse (rKey=2) prefix but is
    // verified-distinct (equal lengths, far texts), so both store
    val (k1, st1) = StreamOps.fuzzyRotFold(empty, Seq(
      FuzzyRotDocIn("k", 1L, "x" * 100, 100L, 2, sig(1L)),
      FuzzyRotDocIn("k", 2L, "y" * 100, 100L, 2, sig(2L))))
    assert(k1.map(_.doc_id) == Seq(1L, 2L) && st1.ids.size == 2)
    // at regime 3, d3 (exact copy of d1) matches ONLY d1's fine bucket
    // and drops; d4 (exact copy of d2's text but a DIFFERENT regime-3
    // signature) has an empty verify set and survives — the same
    // outcome a fresh regime-3 stream would produce
    val (k2, _) = StreamOps.fuzzyRotFold(st1, Seq(
      FuzzyRotDocIn("k", 3L, "x" * 100, 100L, 3, sig(1L)),
      FuzzyRotDocIn("k", 4L, "y" * 100, 100L, 3, sig(3L))))
    assert(k2.map(_.doc_id) == Seq(4L),
      s"regime-3 verify set must refine to the matching claimant: $k2")
    // group cap: 70 docs, each its own fine bucket (distinct sig tails)
    // and pairwise length-pruned distinct — all kept, stored claimants
    // bounded by FUZZY_GROUP_CLAIMANT_CAP
    val many = (0 until 70).map { i =>
      FuzzyRotDocIn("k", 100L + i, "z", 100L + i, 8, sig(100L + i))
    }
    val (k3, st3) = StreamOps.fuzzyRotFold(empty, many)
    assert(k3.size == 70, "past-cap docs admit unverified, never drop")
    assert(st3.ids.size == StreamOps.FUZZY_GROUP_CLAIMANT_CAP,
      s"group state must cap at ${StreamOps.FUZZY_GROUP_CLAIMANT_CAP}, got ${st3.ids.size}")
  }

  test("fuzzyRotFold clamps a mis-stamped regime to [1, rMax] (ADVICE r14)") {
    import graft.streaming.{FuzzyRotClaimants, FuzzyRotDocIn}
    val sig = (tail: Long) => Seq(1L, 1L, tail, 9L, 9L, 9L, 9L, 9L)
    val empty = FuzzyRotClaimants(Nil, Nil, Nil, Nil)
    val (_, st1) = StreamOps.fuzzyRotFold(empty, Seq(
      FuzzyRotDocIn("k", 1L, "x" * 100, 100L, 2, sig(1L))))
    // regime 99 > |mh| = 8: the clamp verifies at the ceiling
    // granularity — an exact copy with the full signature must still
    // meet d1's fine bucket and drop, exactly as a regime-8 stamp would
    val (k2, _) = StreamOps.fuzzyRotFold(st1, Seq(
      FuzzyRotDocIn("k", 2L, "x" * 100, 100L, 99, sig(1L))))
    assert(k2.isEmpty,
      s"over-stamped regime must verify at the rMax granularity: $k2")
    // regime 0 clamps to 1: the coarsest verify set — d3's prefix-1
    // matches d1 despite a different signature tail, so the exact-copy
    // text verifies as a dup
    val (k3, _) = StreamOps.fuzzyRotFold(st1, Seq(
      FuzzyRotDocIn("k", 3L, "x" * 100, 100L, 0, sig(777L))))
    assert(k3.isEmpty,
      s"under-stamped regime must verify at the coarsest granularity: $k3")
  }

  test("streaming IVF assignment: map-side codebook matches the batch expression exactly") {
    import org.apache.spark.sql.functions.{broadcast, col}
    implicit val sqlCtx = spark.sqlContext
    // whole-testdata parity: stream every sf0.001 vector through the
    // closure-shipped codebook and compare against the batch plan built
    // from the codegen CosineSimilarity + fused top-1.
    val e = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => VecIn(r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    val centroids = e.filter(_.vec_id % 50 == 0).map(v => v.vec_id -> v.embedding).toSeq

    val in = MemoryStream[VecIn]
    val q = StreamOps.annAssignStream(in.toDS(), centroids)
      .writeStream.format("memory")
      .queryName("ann_assign_out").outputMode(OutputMode.Append).start()
    val got = try {
      in.addData(e.toIndexedSeq)
      q.processAllAvailable()
      spark.table("ann_assign_out").select("vec_id", "c_id")
        .as[(Long, Long)].collect().toMap
    } finally q.stop()

    val eBatch = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = eBatch.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val want = graft.ops.VectorOps.topKPerQuery(
      eBatch.crossJoin(broadcast(cents)).withColumn("csim",
        graft.expressions.CosineSimilarity.cosineSim(col("embedding"), col("c_emb"))),
      col("vec_id"), Seq(col("csim").desc, col("c_id")), k = 1)
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    assert(got.size == want.size && got == want)
  }

  test("streaming IVF maintenance: touched-cells-only upsert, batch parity, replay no-op") {
    // Work on a COPY of the published sf0.001 index version so the
    // shared store other tests serve from is never mutated.
    val src = graft.queries.VectorQueries
      .ivfIndexStore(spark, "/root/testdata/sf0.001")
    val work = java.nio.file.Files.createTempDirectory("ivf_maint").toString + "/v_copy"
    src.write.partitionBy("c_id").parquet(work)

    val before = spark.read.parquet(work)
      .select(col("vec_id"), col("s"), col("code").cast("long"),
        col("c_id").cast("long"))
      .as[(Long, Int, Long, Long)].collect().toSet
    val subjects = before.groupBy(_._1).view.mapValues(_.map(_._4).head)
    val (vUpd, cellUpd) = subjects.head          // in-place code update
    val (vMove, cellMove) = subjects.drop(1).head // cell reassignment
    val newCell = before.map(_._4).max + 50       // brand-new vector, new cell
    val targetCell = before.map(_._4).min
    val batch = Seq.tabulate(4)(s => (vUpd, s, 99L, cellUpd)) ++
      Seq.tabulate(4)(s => (vMove, s, 7L, targetCell)) ++
      Seq.tabulate(4)(s => (999999L, s, 1L, newCell))
    val batchDf = batch.toDF("vec_id", "s", "code", "c_id")

    val untouchedCells = before.map(_._4) --
      Set(cellUpd, cellMove, targetCell, newCell)
    def cellListing(c: Long): Set[String] =
      Option(new java.io.File(work, s"c_id=$c").listFiles())
        .map(_.map(f => s"${f.getName}:${f.lastModified}").toSet)
        .getOrElse(Set.empty)
    val untouchedBefore = untouchedCells.map(c => c -> cellListing(c)).toMap

    assert(StreamOps.ivfMaintainBatch(spark, work, batchDf, batchId = 1L))

    val after = spark.read.parquet(work)
      .select(col("vec_id"), col("s"), col("code").cast("long"),
        col("c_id").cast("long"))
      .as[(Long, Int, Long, Long)].collect().toSet
    // Batch parity: latest-wins merge computed in plain batch land.
    val batchKeys = batch.map(_._1).toSet
    val want = before.filterNot(r => batchKeys(r._1)) ++
      batch.map { case (v, s, c, cid) => (v, s, c, cid) }
    assert(after == want, "maintained store must equal the batch-land merge")
    // Reassignment: vMove gone from its old cell, present in the target.
    assert(!after.exists(r => r._1 == vMove && r._4 == cellMove))
    assert(after.exists(r => r._1 == vMove && r._4 == targetCell))
    // Touched-cells-only I/O: untouched cell directories byte-identical.
    untouchedCells.foreach { c =>
      assert(cellListing(c) == untouchedBefore(c),
        s"untouched cell $c was rewritten")
    }
    // Replay of the same batch id is a no-op (exactly-once).
    val listingAll = before.map(_._4).map(c => c -> cellListing(c)).toMap
    assert(!StreamOps.ivfMaintainBatch(spark, work, batchDf, batchId = 1L))
    before.map(_._4).foreach(c => assert(cellListing(c) == listingAll(c)))
  }
}
