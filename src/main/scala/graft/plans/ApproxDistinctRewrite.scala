package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Session-flagged sketch swap-in: rewrites exact `count(DISTINCT x)` to
  * the mergeable HLL++ estimate when
  * `spark.graft.approxDistinct.enabled` is true.
  *
  * This is the 100 TB knob the exact queries name in comments
  * (`distinct_count`, `profile_columns`): at scale an exact distinct
  * shuffles every distinct VALUE; the sketch shuffles a KB-sized buffer
  * per group. The rewrite makes the trade a plan-level decision — the
  * same query text runs exact at validation SF and approximate on the
  * cluster, the way warehouse engines expose "approx mode".
  *
  * Correctness contract: estimates are within the configured relative
  * standard deviation (`spark.graft.approxDistinct.rsd`, default 0.05) —
  * the same engine-side property `approx_distinct_hll` oracle-checks.
  * The rewrite drops the DISTINCT flag because HLL++ is insensitive to
  * duplicates by construction.
  *
  * Installed on every graft session by [[GraftExtensions.install]], so the
  * flag works in Bench, Verify and Explain sessions alike. The rule runs in
  * the optimizer's user-provided batch, after Catalyst has expanded
  * multi-distinct aggregates: single-distinct — the common shape —
  * rewrites, and a multi-distinct aggregate stays exact. With the flag
  * off the plan is returned as it is. A malformed value of either key
  * throws IllegalArgumentException naming the key and the value. */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {
  val ENABLED_KEY = "spark.graft.approxDistinct.enabled"
  val RSD_KEY = "spark.graft.approxDistinct.rsd"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!setting(ENABLED_KEY, false)(_.toBoolean)) return plan
    val rsd = setting(RSD_KEY, 0.05) { v =>
      val r = v.toDouble
      require(r > 0.0 && r < 1.0, "rsd must lie in (0, 1)")
      r
    }
    plan.transformUp {
      case agg: Aggregate =>
        agg.transformExpressionsUp {
          case AggregateExpression(Count(Seq(child)), mode, true, filter, id) =>
            AggregateExpression(
              HyperLogLogPlusPlus(child, rsd), mode, isDistinct = false, filter, id)
        }
    }
  }

  /** `key` in the conf the rule runs under, read as
    * [[graft.ops.SessionOps.graftConf]] reads it. */
  private def setting[T](key: String, default: T)(parse: String => T): T =
    graft.ops.SessionOps.parseConf(key, Option(conf.getConfString(key, null)), default)(parse)
}
