package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

class CountersSpec extends AnyFunSuite {

  test("the listener counts jobs, tasks and shuffle bytes, per operation") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      val sc = spark.sparkContext
      sc.setLocalProperty(c.OpKey, "op-a")
      sc.parallelize(1 to 1000, 4).map(i => (i % 10, i)).reduceByKey(_ + _, 4).count()
      sc.setLocalProperty(c.OpKey, null)
      sc.parallelize(1 to 10, 2).count()
      // Listener events arrive asynchronously.
      eventually(timeout(10.seconds)) {
        assert(c.total.jobs == 2 && c.total.tasks == 8 + 2 && c.total.stageTaskMs.size == 3)
      }
      val a = c.forOp("op-a")
      assert(a.jobs == 1 && a.stages == 2 && a.tasks == 4 + 4)
      assert(a.shuffleWrite > 0 && a.shuffleRead > 0)
      assert(c.total.skew >= 1.0)
    } finally spark.stop()
  }

  test("skew is the median over stages of max over median task time") {
    val t = new TaskTotals
    t.stageTaskMs += scala.collection.mutable.ArrayBuffer(10L, 10L, 30L)
    t.stageTaskMs += scala.collection.mutable.ArrayBuffer(5L)
    assert(t.skew == 3.0)
    assert(new TaskTotals().skew == 1.0)
  }
}
