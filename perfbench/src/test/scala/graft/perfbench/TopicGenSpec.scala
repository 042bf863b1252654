package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

class TopicGenSpec extends AnyFunSuite {

  private val t0 = 1704067200L * 1000000L // 2024-01-01 UTC
  private val events = (0 until 3000).map { i =>
    EventRow(i.toLong, t0 + i * 26000000L, (i * 37 % 1500).toLong,
      Seq("view", "click", "purchase", "signup", "error")(i % 5), 10.0 + i % 97)
  }
  private val docs = (0 until 150).map { i =>
    DocRow(i.toLong, s"spark stream value $i fast merge", Seq("en", "de", "zh")(i % 3), s"src${i % 4}")
  }
  private val canon = TopicGen.canonical(events, docs)

  test("the same seed gives byte-identical payloads") {
    val (a, _, _) = TopicGen.replay(TopicGen.canonical(events, docs), 7)
    val (b, _, _) = TopicGen.replay(TopicGen.canonical(events.reverse, docs.reverse), 7)
    assert(a.map(m => (m.topic, m.key, m.value)) == b.map(m => (m.topic, m.key, m.value)))
  }

  test("another seed gives the same distinct events in another order") {
    val (a, dupA, _) = TopicGen.replay(canon, 1)
    val (b, dupB, _) = TopicGen.replay(canon, 2)
    assert(a.distinct.sortBy(_.value) == b.distinct.sortBy(_.value))
    assert(a.distinct.sortBy(_.value) == canon.sortBy(_.value))
    assert(a != b)
    assert(dupA != dupB)
  }

  test("nearby seeds draw shares across the whole range") {
    val shares = (1 to 10).map(s => TopicGen.replay(canon, s))
    Seq(shares.map(_._2), shares.map(_._3)).foreach(xs => assert(xs.max - xs.min > 0.03, xs))
  }

  test("duplicates and moved messages follow the drawn shares and stay within the shift bound") {
    val (offered, dupShare, oooShare) = TopicGen.replay(canon, 3)
    assert(dupShare >= 0.02 && dupShare <= 0.10 && oooShare >= 0.02 && oooShare <= 0.10)
    val dups = offered.size - canon.size
    assert(math.abs(dups - dupShare * canon.size) < 0.5 * dupShare * canon.size + 10)
    val firstAt = offered.zipWithIndex.groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).min }
    canon.zipWithIndex.foreach { case (m, i) =>
      assert(firstAt(m) - i <= TopicGen.MaxShift + dups, s"$m moved too far")
    }
    assert(offered.zip(offered.tail).exists { case (x, y) => x.publishTime > y.publishTime })
  }

  test("store keys and publish times are unique and come from a bounded key space") {
    assert(canon.map(m => (m.storeId, m.publishTime)).distinct.size == canon.size)
    val singletons = canon.filter(_.storeId.startsWith("LATEST_")).map(_.storeId).distinct
    assert(singletons.size <= 2 * TopicGen.Tickers)
    assert(canon.filter(_.topic == "stock-history").map(_.storeId).distinct.size <= 24 * TopicGen.Tickers)
    assert(canon.filter(_.storeId.startsWith("NEWS_")).map(_.storeId).distinct.size <= TopicGen.NewsIds)
  }

  test("every payload uses only its topic's schema fields, and every topic occurs") {
    val field = "\"([A-Za-z_0-9]+)\":".r
    canon.foreach { m =>
      val allowed = StreamOps.topicSchemas(m.topic).fieldNames.toSet
      val used = field.findAllMatchIn(m.value).map(_.group(1)).toSet
      assert(used.subsetOf(allowed), s"${m.topic} payload uses ${used -- allowed}")
    }
    assert(canon.map(_.topic).distinct.sorted == TopicGen.Topics.sorted)
  }

  test("stock-history ids are what the consumer derives from the bar's date") {
    val bar = canon.find(_.topic == "stock-history").get
    val hour = "\"date\":\"\\d{4}-\\d{2}-\\d{2} (\\d{2})".r.findFirstMatchIn(bar.value).get.group(1)
    assert(bar.storeId == s"HIST_${bar.key}_$hour")
  }
}
