package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{FilterOps, ScalarOps}

/** Edge-semantics specs from SURVEY §5.2: coercion defaults, threshold
  * exclusivity, bucket boundaries, id dispatch — each tied to the reference
  * behavior it reproduces. */
class ScalarOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  test("coerceDouble: null/empty/uncastable -> 0.0 (consumer.py:69-77)") {
    val df = Seq(Some("1.5"), Some(""), Some("abc"), None).toDF("x")
      .select(FilterOps.coerceDouble($"x").as("v"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.5, 0.0, 0.0, 0.0))
  }

  test("coalesceTimestamp: only ts==0 with positive publish_time is replaced (consumer.py:79-80)") {
    val df = Seq((0L, 500L), (100L, 500L), (0L, 0L)).toDF("ts", "pt")
      .select(FilterOps.coalesceTimestamp($"ts", $"pt").as("v"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(500L, 100L, 0L))
  }

  test("sentimentClass: ±0.5 exclusive thresholds (main.py:421-428)") {
    val df = Seq(0.51, 0.5, 0.0, -0.5, -0.51).toDF("s")
      .select(ScalarOps.sentimentClass($"s").as("c"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("positive", "neutral", "neutral", "neutral", "negative"))
  }

  test("relativeTimeBucket boundaries at 60/3600/86400 (main.py:36-50)") {
    val df = Seq(59L, 60L, 3599L, 3600L, 86399L, 86400L).toDF("a")
      .select(ScalarOps.relativeTimeBucket($"a").as("r"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("59s ago", "1m ago", "59m ago", "1h ago", "23h ago", "1d ago"))
  }

  test("humanFormat magnitude buckets (main.py:21-33)") {
    val df = Seq(999.0, 1000.0, 1234567.0, 2.5e9, 3.2e12).toDF("n")
      .select(ScalarOps.humanFormat($"n").as("h"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("999.0", "1.0K", "1.2M", "2.5B", "3.2T"))
  }

  test("deriveId dispatch incl. md5 fallback (consumer.py:143-155)") {
    val df = Seq(
      ("purchase", 3L, "2024-01-05 10:00:00", "x"),
      ("click", 4L, "2024-01-05 10:00:00", "x"),
      ("view", 5L, "2024-01-05 10:00:00", "x"),
      ("error", 6L, "2024-01-05 10:00:00", "payload"))
      .toDF("t", "k", "tsStr", "p")
      .select(ScalarOps.deriveId($"t", $"k", to_timestamp($"tsStr"), $"p").as("id"))
    val got = df.collect().map(_.getString(0))
    assert(got(0) == "LATEST_METRICS_3")
    assert(got(1) == "LATEST_TECH_4")
    assert(got(2) == "DAILY_SUMMARY_5_2024-01-05")
    assert(got(3).startsWith("NEWS_6_") && got(3).length == "NEWS_6_".length + 32)
  }

  test("parseDateMultiformat: first matching format wins, garbage -> null (rag_engine.py:40-57)") {
    val df = Seq("2024-01-05 10:20:30", "2024/01/05 10:20", "05-01-2024", "2024-01-05", "garbage")
      .toDF("s").select(ScalarOps.parseDateMultiformat($"s").cast("string").as("p"))
    val got = df.collect().map(r => Option(r.getString(0)))
    assert(got(0).contains("2024-01-05 10:20:30"))
    assert(got(1).contains("2024-01-05 10:20:00"))
    assert(got(2).contains("2024-01-05 00:00:00"))
    assert(got(3).contains("2024-01-05 00:00:00"))
    assert(got(4).isEmpty)
  }

  test("retention boundary: row exactly at the cutoff second is kept (consumer.py:118)") {
    val df = Seq(
      ("daily_summary", "2024-01-01 00:00:00"), // exactly max - 15d -> kept (< is strict)
      ("daily_summary", "2023-12-31 23:59:59"), // one second older -> dropped
      ("news", "2023-01-01 00:00:00"),          // other type: never dropped
      ("daily_summary", "2024-01-16 00:00:00")  // the max row
    ).toDF("type", "tsStr").withColumn("ts", to_timestamp($"tsStr"))
    val kept = FilterOps.retentionDelete(df, $"type", "daily_summary", $"ts", 15)
      .select("tsStr").as[String].collect().toSet
    assert(kept == Set("2024-01-01 00:00:00", "2023-01-01 00:00:00", "2024-01-16 00:00:00"))
  }

  test("cosine_sim is callable from SQL after install (GraftExtensions)") {
    graft.plans.GraftExtensions.install(spark)
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .collect().head.getDouble(0)
    assert(got == 1.0)
  }
}
