package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{ApproxDistinctRewrite, GraftExtensions}

/** The session-flagged exact→approx distinct rewrite: off by default,
  * swaps count(DISTINCT) for HLL++ when enabled, estimates within the
  * configured rsd of exact. */
class PlanRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  private def distinctUsers = {
    graft.model.Tables.events(spark, "/root/testdata/sf0.01")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("d"))
  }

  private def hllAggs(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a.aggregateExpressions.flatMap(_.collect {
        case AggregateExpression(_: HyperLogLogPlusPlus, _, _, _, _) => true
      })
    }.flatten

  test("flag off: plan keeps the exact distinct aggregate") {
    GraftExtensions.install(spark)
    spark.conf.set(ApproxDistinctRewrite.ENABLED_KEY, "false")
    assert(hllAggs(distinctUsers).isEmpty)
  }

  test("flag on: count(DISTINCT) becomes HLL++, estimate within rsd") {
    GraftExtensions.install(spark)
    spark.conf.set(ApproxDistinctRewrite.ENABLED_KEY, "true")
    try {
      val approx = distinctUsers
      assert(hllAggs(approx).nonEmpty,
        s"expected HLL++ in:\n${approx.queryExecution.optimizedPlan.treeString.take(600)}")
      val got = approx.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      spark.conf.set(ApproxDistinctRewrite.ENABLED_KEY, "false")
      val exact = distinctUsers.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.keySet == exact.keySet)
      exact.foreach { case (k, ex) =>
        val ap = got(k)
        assert(math.abs(ap - ex).toDouble / ex <= 3 * 0.05,
          s"$k: approx $ap vs exact $ex outside 3*rsd")
      }
      // and SQL text goes through the same rewrite
      spark.conf.set(ApproxDistinctRewrite.ENABLED_KEY, "true")
      graft.model.Tables.events(spark, "/root/testdata/sf0.01")
        .createOrReplaceTempView("ev_rewrite")
      val viaSql = spark.sql(
        "SELECT event_type, count(DISTINCT user_id) AS d FROM ev_rewrite GROUP BY event_type")
      assert(hllAggs(viaSql).nonEmpty)
    } finally spark.conf.set(ApproxDistinctRewrite.ENABLED_KEY, "false")
  }

  test("a malformed approx-distinct setting fails loudly, naming key and value") {
    import ApproxDistinctRewrite.{ENABLED_KEY, RSD_KEY}
    Seq(ENABLED_KEY -> "yes", RSD_KEY -> "1.5", RSD_KEY -> "tight").foreach { case (key, v) =>
      spark.conf.set(ENABLED_KEY, "true")
      spark.conf.set(key, v)
      val e =
        try intercept[IllegalArgumentException](distinctUsers.queryExecution.optimizedPlan)
        finally { spark.conf.unset(RSD_KEY); spark.conf.set(ENABLED_KEY, "false") }
      assert(e.getMessage.contains(key) && e.getMessage.contains(v), e.getMessage)
    }
  }

  test("a newSession() gets graft from Tables.load: SQL functions and the approx-distinct rewrite") {
    val s = spark.newSession()
    graft.model.Tables.events(s, "/root/testdata/sf0.01").createOrReplaceTempView("ev_fresh")
    val c = s.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .collect().head.getDouble(0)
    assert(c == 1.0)
    s.conf.set(ApproxDistinctRewrite.ENABLED_KEY, "true")
    val viaSql = s.sql(
      "SELECT event_type, count(DISTINCT user_id) AS d FROM ev_fresh GROUP BY event_type")
    assert(hllAggs(viaSql).nonEmpty, viaSql.queryExecution.optimizedPlan.treeString)
  }
}
