package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SessionOps
import graft.plans.{UpsertMerge, UpsertMergeExec}
import graft.streaming.StreamOps

/** Structural gates on the streaming upsert, like ServeBudgetSpec's: an
  * upsert into an id-partitioned store is two jobs that shuffle nothing,
  * its result stays id-partitioned through a `localCheckpoint()`, and a
  * store that is not id-partitioned is partitioned once. */
class UpsertBudgetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTest.session
  import spark.implicits._

  private val Day = 86400L
  private val T0 = 100 * Day
  private def n: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** An RDD-backed frame of `msgs` over 3 partitions, like a micro-batch. */
  private def frame(msgs: Seq[Msg]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(msgs, 3))

  private val empty: DataFrame = Seq.empty[Msg].toDF()

  private def news(i: Int, t: Long): Msg = Msg(s"id$i", "X", "news", t, i.toDouble)

  /** Runs `f`; returns its result, the jobs it started and the shuffle
    * bytes those jobs wrote. */
  private def jobsAndShuffle[T](f: => T): (T, Int, Long) = {
    val written = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        written.put(e.stageInfo.stageId, e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (r, jobs) = SparkTest.jobStartsDuring(f)
      (r, jobs.size, jobs.flatMap(_.stageIds).map(written.getOrDefault(_, 0L)).sum)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** True when `df`'s plan declares hash partitioning by `id` into `n`
    * partitions and every row sits in the partition its id hashes to. */
  private def idPartitioned(df: DataFrame): Boolean = {
    val declared = df.queryExecution.executedPlan.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), m) => a.name == "id" && m == n
      case _ => false
    }
    val placed = df.select(spark_partition_id(), pmod(hash(col("id")), lit(n)))
      .collect().forall(r => r.getInt(0) == r.getInt(1))
    declared && df.rdd.getNumPartitions == n && placed
  }

  private def exchanges(df: DataFrame): Seq[Exchange] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  test("a 6-row batch into a 10,000-row store: 2 jobs, 0 shuffle bytes, id-partitioned") {
    val store = StreamOps.upsertBatch(empty, frame((0 until 10000).map(news(_, T0))),
      "daily_summary", 30)
    val batch = frame(Seq(3, 77, 4242, 9999, 10001, 10002).map(news(_, T0 + 1)))
    val (out, jobs, bytes) = jobsAndShuffle(StreamOps.upsertBatch(store, batch, "daily_summary", 30))
    try {
      assert(jobs <= 2 && bytes == 0L, s"$jobs job(s), $bytes shuffle bytes")
      assert(out.count() == 10002L)
      assert(idPartitioned(out), out.queryExecution.executedPlan.toString)
    } finally { SessionOps.releaseQuiet(store); SessionOps.releaseQuiet(out) }
  }

  // What a consumer that checkpoints each store again does: the copy keeps
  // the partitioning, so the next upsert plans no exchange.
  test("after a localCheckpoint() the next upsert plans no Exchange and shuffles nothing") {
    val store = StreamOps.upsertBatch(empty, frame((0 until 100).map(news(_, T0))),
      "daily_summary", 30)
    val copy = store.localCheckpoint()
    val batch = frame(Seq(1, 2, 200).map(news(_, T0 + 1)))
    try {
      val planned = UpsertMerge(copy, batch, "daily_summary", 30)
      assert(exchanges(planned).isEmpty, planned.queryExecution.executedPlan.toString)
      val (out, jobs, bytes) = jobsAndShuffle(StreamOps.upsertBatch(copy, batch, "daily_summary", 30))
      try assert(jobs <= 2 && bytes == 0L && idPartitioned(out), s"$jobs job(s), $bytes shuffle bytes")
      finally SessionOps.releaseQuiet(out)
    } finally { SessionOps.releaseQuiet(store); SessionOps.releaseQuiet(copy) }
  }

  test("an empty or not id-partitioned store still yields n id-hash partitions") {
    val msgs = (0 until 40).map(news(_, T0))
    val batch = frame(Seq(5, 50).map(news(_, T0 + 1)))
    val stores = Seq(
      "empty" -> empty,
      "round-robin" -> frame(msgs),
      // tiny, so adaptive execution would coalesce this exchange
      "repartition(id)" -> frame(msgs).repartition(col("id")),
      "repartition(7, id)" -> frame(msgs).repartition(7, col("id")))
    stores.foreach { case (name, store) =>
      val out = StreamOps.upsertBatch(store, batch, "daily_summary", 30)
      try {
        assert(idPartitioned(out), s"$name: ${out.queryExecution.executedPlan}")
        val want = UpsertReference.upsert(store, batch, "daily_summary", 30)
        assert(out.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq,
          name)
      } finally SessionOps.releaseQuiet(out)
    }
  }

  test("UpsertMergeExec reports its SQL metrics") {
    val store = frame((0 until 10).map(news(_, T0)) :+
      Msg("sum_old", "X", "daily_summary", T0 - 40 * Day, 0.0))
    val batch = frame(Seq(
      news(1, T0 + 100), news(1, T0 + 50), // the later replaces the store's id1
      news(2, T0 - 5),                      // older than the store's id2: dropped
      Msg("new1", "X", "news", T0 + 200, 1.0),
      Msg("sum_new", "X", "daily_summary", T0 + 150, 1.0),
      Msg("sum_old2", "X", "daily_summary", T0 - 35 * Day, 1.0))) // beyond retention
    val merge = UpsertMerge(store, batch, "daily_summary", 30)
    val out = SessionOps.truncate(merge)
    try {
      assert(out.count() == 12L)
      val exec = collectFirst(merge.queryExecution.executedPlan) { case e: UpsertMergeExec => e }
        .getOrElse(fail(s"no UpsertMergeExec in:\n${merge.queryExecution.executedPlan}"))
      val m = exec.metrics.map { case (k, v) => k -> v.value }
      assert(m == Map("numBatchRows" -> 6L, "numBatchIds" -> 5L, "numReplaced" -> 1L,
        "numRetentionDeleted" -> 2L, "cutoffSec" -> (T0 + 200 - 30 * Day)), m)
    } finally SessionOps.releaseQuiet(out)
  }

  // Null ids are one key, as in a window partitioned by id.
  test("null ids merge as one key") {
    val row = (id: String, t: Long) => Row(id, "X", "news", t, 1.0)
    val schema = empty.schema
    def rows(rs: Row*) = spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema)
    val store = StreamOps.upsertBatch(empty, rows(row(null, T0), row("a", T0)), "daily_summary", 30)
    val out = StreamOps.upsertBatch(store, rows(row(null, T0 + 1), row(null, T0 - 1)),
      "daily_summary", 30)
    try assert(out.collect().map(r => (Option(r.getString(0)), r.getLong(3))).sorted.toSeq ==
      Seq((None, T0 + 1), (Some("a"), T0)))
    finally { SessionOps.releaseQuiet(store); SessionOps.releaseQuiet(out) }
  }
}
