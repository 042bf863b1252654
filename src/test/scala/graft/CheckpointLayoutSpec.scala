package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{GraphOps, SessionOps}

/** `SessionOps.truncate` keeps the hash partitioning its input's rows
  * have, in both checkpoint modes, so the iterative loops that partition
  * their edge table once (CC, k-core) read it with no exchange in any
  * round. */
class CheckpointLayoutSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTest.session
  import spark.implicits._

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def hashOn(df: DataFrame, name: String, n: Int): Boolean =
    df.queryExecution.executedPlan.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), m) => a.name == name && m == n
      case _ => false
    }

  /** The exchanges of `df`'s final plan with the scan of checkpoint
    * `ckpt` under them. */
  private def exchangesOver(df: DataFrame, ckpt: DataFrame): Seq[Exchange] = {
    val rdd = ckpt.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    collect(df.queryExecution.executedPlan) {
      case e: Exchange if collect(e) { case s: RDDScanExec if s.rdd eq rdd => s }.nonEmpty => e
    }
  }

  /** An edge count the loops size to several partitions for, so a
    * partitioning kept or lost shows in the plan. */
  private val manyEdges = 3 * GraphOps.LOOP_ROWS_PER_PARTITION

  private def exchanges(df: DataFrame): Seq[Exchange] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  test("truncate keeps HashPartitioning(src, 4) in local and reliable mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_layout_ckpt").toString
    Seq("false", "true").foreach { reliable =>
      withConf(SessionOps.RELIABLE_KEY -> reliable, SessionOps.RELIABLE_DIR_KEY -> dir) {
        val df = SessionOps.truncate(spark.range(100).toDF("src").repartition(4, col("src")))
        try {
          assert(hashOn(df, "src", 4),
            s"reliable=$reliable: ${df.queryExecution.executedPlan.outputPartitioning}")
          assert(df.count() == 100L)
        } finally SessionOps.releaseQuiet(df)
      }
    }
  }

  test("a CC round's edge join plans no Exchange over the checkpointed edge table") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("src", "dst")
      val raw = SessionOps.truncate(pairs.coalesce(4))
      val sym = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
      GraphOps.withLoopParallelism(spark, manyEdges) { nLoop =>
        assert(nLoop > 1)
        val e = SessionOps.truncate(sym.repartition(nLoop, col("src")))
        val labels = SessionOps.truncate(
          e.select(col("src").as("id")).distinct()
            .select(col("id"), col("id").as("comp")))
        val round = e.join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("comp"))
        try {
          assert(round.count() == 8L)
          assert(exchangesOver(round, e).isEmpty && exchanges(round).size <= 1,
            s"${exchanges(round).size} exchange(s), ${exchangesOver(round, e).size} over the " +
              s"edge table:\n${round.queryExecution.executedPlan}")
          assert(hashOn(e, "src", nLoop), e.queryExecution.executedPlan.toString)
        } finally Seq(raw, e, labels).foreach(SessionOps.releaseQuiet)
      }
    }
  }

  test("k-core's first degree aggregate reads its checkpoint with no Exchange") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val sym0 = SessionOps.truncate(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        .coalesce(4))
    GraphOps.withLoopParallelism(spark, manyEdges) { nLoop =>
      assert(nLoop > 1)
      val sym = SessionOps.truncate(sym0.repartition(nLoop, col("src")))
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      try {
        assert(deg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
        assert(exchanges(deg).isEmpty, deg.queryExecution.executedPlan.toString)
      } finally Seq(sym0, sym).foreach(SessionOps.releaseQuiet)
    }
  }
}
