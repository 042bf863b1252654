package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Restores parquet row-group pruning for raw-numeric time columns.
  *
  * When a source stores event time as a raw INT64 epoch (the r1-r6
  * testdata encoding was INT64 TIMESTAMP(NANOS), read as a long via
  * `spark.sql.legacy.parquet.nanosAsLong=true`),
  * [[graft.model.Tables.normalizeTs]] canonicalizes it with one of
  * `timestamp_micros(ts div 1000)` / `timestamp_micros(ts)` /
  * `timestamp_millis(ts)` / `timestamp_seconds(ts)` by detected unit. A
  * time-range predicate on the canonical column then pushes through the
  * Project as `<decode>(ts#raw) BETWEEN lo AND hi` — a predicate on a
  * DERIVED expression, which the parquet source cannot translate to
  * PushedFilters: the scan silently degrades to a full read, exactly the
  * failure mode ADVICE.md flags (at 100 TB, the difference between a
  * pruned read and scanning everything).
  *
  * This rule AUGMENTS such filters with the equivalent bound on the raw
  * long attribute itself (e.g. `ts#raw >= lo_ns AND ts#raw <= hi_ns`),
  * which IS translatable, so FileSourceStrategy pushes it into the reader
  * and row-group statistics prune. The original predicate is KEPT — the
  * added conjunct is a proven superset (the multiply decodes invert
  * exactly via floor/ceil division; the nanos ÷1000 decode carries ±999 ns
  * slack to stay sign-exact even in the negative pre-1970 domain where
  * `div`'s truncation toward zero differs from floor), so semantics are
  * bit-identical and only the scan gets cheaper.
  *
  * Decimal-encoded epochs (normalizeTs's DecimalType branch) are NOT
  * rewritten — inverting through a truncating decimal cast is not worth
  * the risk for that rare encoding; those filters stay correct, just
  * unpruned.
  *
  * Installed on a session with graft's other planner pieces
  * ([[GraftExtensions.install]]); a filter with no decoded raw-long
  * comparison is left as it is. Runs in the user-provided batch — AFTER operator
  * optimization has pushed the filter through the normalize Project and
  * constant-folded the literals, so the match shapes below are exactly
  * what arrives. Idempotent under the batch's fixed point: an already-
  * present conjunct is never added twice (semantic dedup).
  */
object NanosRangePushdown extends Rule[LogicalPlan] with PredicateHelper {

  /** Nanos marker for the decode scale (t(x) = micros(x div 1000)); the
    * positive scales mean t(x) = scale · x micros exactly. */
  private val NS = -1000L

  /** `<decode>(x)` over a raw long ATTRIBUTE — the normalizeTs LongType
    * shapes after alias substitution. Returns the raw column and its
    * decode scale. Requiring a bare Attribute (not any deterministic
    * LongType expression) keeps the rule aligned with its contract: only
    * bounds the parquet source can actually translate to PushedFilters
    * are added. A decimal-encoded epoch decodes via `cast(c as bigint)`,
    * which is NOT a pushable shape — matching it would append a redundant
    * per-row compare that prunes nothing (the doc above already promises
    * decimals are left alone). */
  private object Decoded {
    def unapply(e: Expression): Option[(Attribute, Long)] = e match {
      case MicrosToTimestamp(IntegralDivide(x: Attribute, Literal(1000L, LongType), _))
          if x.dataType == LongType => Some((x, NS))
      case MicrosToTimestamp(x: Attribute)
          if x.dataType == LongType => Some((x, 1L))
      case MillisToTimestamp(x: Attribute)
          if x.dataType == LongType => Some((x, 1000L))
      case SecondsToTimestamp(x: Attribute)
          if x.dataType == LongType => Some((x, 1000000L))
      case _ => None
    }
  }

  /** Raw-column lower bound implied by `t(x) >= us`, None on overflow
    * (skip the rewrite — the original predicate still enforces
    * correctness). */
  private def rawLo(us: Long, scale: Long): Option[Expression] =
    try Some(Literal(
      if (scale == NS) Math.subtractExact(Math.multiplyExact(us, 1000L), 999L)
      else Math.floorDiv(Math.addExact(us, scale - 1), scale), // ceilDiv
      LongType))
    catch { case _: ArithmeticException => None }

  /** Raw-column upper bound implied by `t(x) <= us`. */
  private def rawHi(us: Long, scale: Long): Option[Expression] =
    try Some(Literal(
      if (scale == NS) Math.addExact(Math.multiplyExact(us, 1000L), 999L)
      else Math.floorDiv(us, scale),
      LongType))
    catch { case _: ArithmeticException => None }

  /** The raw-attribute bounds implied by one conjunct, if it compares a
    * decoded column against a timestamp literal (either orientation).
    * Strict bounds tighten by one microsecond first (timestamps compare at
    * micros granularity, so t > L ⟺ t >= L+1). */
  private def implied(c: Expression): Seq[Expression] = c match {
    case GreaterThanOrEqual(Decoded(x, k), Literal(us: Long, TimestampType)) =>
      rawLo(us, k).map(GreaterThanOrEqual(x, _)).toSeq
    case LessThanOrEqual(Literal(us: Long, TimestampType), Decoded(x, k)) =>
      rawLo(us, k).map(GreaterThanOrEqual(x, _)).toSeq
    case GreaterThan(Decoded(x, k), Literal(us: Long, TimestampType)) if us < Long.MaxValue =>
      rawLo(us + 1, k).map(GreaterThanOrEqual(x, _)).toSeq
    case LessThan(Literal(us: Long, TimestampType), Decoded(x, k)) if us < Long.MaxValue =>
      rawLo(us + 1, k).map(GreaterThanOrEqual(x, _)).toSeq
    case LessThanOrEqual(Decoded(x, k), Literal(us: Long, TimestampType)) =>
      rawHi(us, k).map(LessThanOrEqual(x, _)).toSeq
    case GreaterThanOrEqual(Literal(us: Long, TimestampType), Decoded(x, k)) =>
      rawHi(us, k).map(LessThanOrEqual(x, _)).toSeq
    case LessThan(Decoded(x, k), Literal(us: Long, TimestampType)) if us > Long.MinValue =>
      rawHi(us - 1, k).map(LessThanOrEqual(x, _)).toSeq
    case GreaterThan(Literal(us: Long, TimestampType), Decoded(x, k)) if us > Long.MinValue =>
      rawHi(us - 1, k).map(LessThanOrEqual(x, _)).toSeq
    case EqualTo(Decoded(x, k), Literal(us: Long, TimestampType)) =>
      (rawLo(us, k).map(GreaterThanOrEqual(x, _)) ++
        rawHi(us, k).map(LessThanOrEqual(x, _))).toSeq
    case EqualTo(Literal(us: Long, TimestampType), Decoded(x, k)) =>
      (rawLo(us, k).map(GreaterThanOrEqual(x, _)) ++
        rawHi(us, k).map(LessThanOrEqual(x, _))).toSeq
    case _ => Nil
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val extras = conjuncts.flatMap(implied)
        .filterNot(e => conjuncts.exists(_.semanticEquals(e)))
        // dedupe among the additions themselves (EqualTo emits two)
        .foldLeft(Seq.empty[Expression]) { (acc, e) =>
          if (acc.exists(_.semanticEquals(e))) acc else acc :+ e
        }
      if (extras.isEmpty) f
      else Filter(extras.foldLeft(cond)(And(_, _)), child)
  }
}
