package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Native as-of join (SURVEY §2.3 J2 / §4 "custom Catalyst work"):
  * for every left row (key, t) attach the LATEST right row with the same
  * key and right.ts ∈ [t - tolerance, t], or nulls when none exists.
  *
  * Why a custom operator: the composable formulation (range join +
  * per-(key,t) row_number = 1) materializes every (left, right) pair inside
  * the tolerance window and then shuffles/sorts again to keep one winner —
  * at 100 TB a hot key's window can hold thousands of rows, so the
  * intermediate blowup dominates. This exec asks the planner for hash
  * co-partitioning on the key and (key, ts) ordering on both sides
  * (EnsureRequirements inserts the exchanges/sorts), then streams each
  * partition once with a two-pointer merge that buffers only the current
  * key's right rows: one shuffle per side, no pair blowup.
  *
  * Keys and event times are evaluated as longs (callers cast timestamps to
  * microseconds); tolerance is in the same unit.
  *
  * Exact-ts ties on the right are resolved by `rightTieBreak` when given:
  * it becomes a third ascending sort key, so among equal-ts rows the
  * backward match (window BACK) is the MAX tie-break value and the
  * forward match (window FRONT) is the MIN — exactly `ORDER BY ts DESC,
  * tb DESC` / `ORDER BY ts ASC, tb ASC` row_number()=1 semantics. Without
  * it the merge resolves a tie by partition arrival order, which the
  * (key, ts) sort does not pin — callers without a tie-break column must
  * guarantee unique (key, ts) pairs.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    tolerance: Long,
    direction: AsOfDirection = AsOfBackward,
    rightTieBreak: Option[Expression] = None)
  extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  // every child column passes through to the output, so none may be pruned
  // beneath this (optimizer-opaque) node
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    tolerance: Long,
    direction: AsOfDirection,
    rightTieBreak: Option[Expression],
    output: Seq[Attribute])
  extends BinaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // The tie-break (when present) is a THIRD right-side sort key: the merge
  // logic itself never inspects it — deterministic tie resolution falls out
  // of the ordering alone (window back = max (ts, tb), front = min).
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) ++
      // The tie-break's null ordering is DIRECTION-dependent, because the
      // two directions read opposite ENDS of the equal-ts run: backward
      // picks peekLast (the max tie-break must sit last → nulls FIRST,
      // matching ORDER BY tb DESC's implicit NULLS LAST), forward picks
      // peekFirst (the min tie-break must sit first → nulls LAST,
      // matching ORDER BY tb ASC NULLS LAST). A single hard-coded null
      // ordering gives one direction's exact-ts ties to the null row.
      // Latent while event_id is non-null; load-bearing the day a
      // nullable tie-break column is passed.
      rightTieBreak.map(e => SortOrder(e, Ascending,
        if (direction == AsOfForward)
          org.apache.spark.sql.catalyst.expressions.NullsLast
        else org.apache.spark.sql.catalyst.expressions.NullsFirst,
        Seq.empty)))

  override protected def doExecute(): RDD[InternalRow] = {
    val tol = tolerance
    val fwd = direction == AsOfForward
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val (lk, rk, lt, rt) = (leftKey, rightKey, leftTs, rightTs)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyEval = BindReferences.bindReference(lk, lOut)
      val rKeyEval = BindReferences.bindReference(rk, rOut)
      val lTsEval = BindReferences.bindReference(lt, lOut)
      val rTsEval = BindReferences.bindReference(rt, rOut)
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      // bind against NULLABLE right attrs: the as-of miss row is all-null,
      // and a non-nullable binding would read primitives as 0/0.0
      val outProj = UnsafeProjection.create(
        outAttrs, lOut ++ rOut.map(_.withNullability(true)))

      val rBuf = rIter.buffered
      // BOUNDED window for the current key: holds only right rows with
      // ts ∈ [t − tolerance, t] for the current left t. Right rows are
      // ingested lazily as the left pointer advances (both sides are
      // (key, ts)-sorted) and evicted from the front once they fall out
      // of the tolerance span — left ts is ascending within a key, so an
      // evicted row can never match a later left row. A hot key's memory
      // is therefore bounded by its densest tolerance span, not its total
      // row count.
      val window = new java.util.ArrayDeque[AsOfJoinExec.TsRow]()
      var curKey: Long = Long.MinValue
      var haveKey = false

      lIter.map { lRow =>
        val k = lKeyEval.eval(lRow).asInstanceOf[Long]
        if (!haveKey || k != curKey) {
          window.clear()
          // skip right rows of smaller keys (incl. the previous key's
          // never-ingested tail)
          while (rBuf.hasNext && rKeyEval.eval(rBuf.head).asInstanceOf[Long] < k)
            rBuf.next()
          curKey = k
          haveKey = true
        }
        val t = lTsEval.eval(lRow).asInstanceOf[Long]
        // ingest right rows of key k up to the direction's horizon:
        // backward looks at ts <= t, forward looks ahead to ts <= t + tol
        val horizon = if (fwd) t + tol else t
        var ingest = true
        while (ingest && rBuf.hasNext) {
          val head = rBuf.head
          if (rKeyEval.eval(head).asInstanceOf[Long] == k) {
            val ts = rTsEval.eval(head).asInstanceOf[Long]
            if (ts <= horizon) {
              window.addLast(new AsOfJoinExec.TsRow(ts, rBuf.next().copy()))
            } else ingest = false
          } else ingest = false
        }
        // evict everything behind the direction's lower bound — left ts
        // ascends within a key, so an evicted row can never match later
        val lower = if (fwd) t else t - tol
        while (!window.isEmpty && window.peekFirst.ts < lower)
          window.pollFirst()
        // backward: LATEST ts <= t (window back). forward: EARLIEST
        // ts in [t, t + tol] (window front, post-evict).
        val best =
          if (window.isEmpty) nullRight
          else if (fwd) window.peekFirst.row
          else window.peekLast.row
        outProj(joined(lRow, best))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinExec {
  /** (ts, row) window entry — a named class keeps the hot loop free of
    * tuple boxing. */
  final class TsRow(val ts: Long, val row: InternalRow)
}

/** Planner strategy for the as-of node. */
object AsOfJoinStrategy extends Strategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      AsOfJoinExec(planLater(j.left), planLater(j.right),
        j.leftKey, j.rightKey, j.leftTs, j.rightTs, j.tolerance, j.direction,
        j.rightTieBreak, j.output) :: Nil
    case _ => Nil
  }
}

/** Match direction of the as-of join: backward attaches the LATEST right
  * row with ts in [t - tolerance, t] (the market-data "last known value"
  * semantics); forward attaches the EARLIEST right row with ts in
  * [t, t + tolerance] (the "next event after" semantics of
  * label-attachment and reaction-time pipelines). Same single-pass
  * bounded-window merge either way — only the horizon, eviction bound and
  * window end picked differ. */
sealed trait AsOfDirection
case object AsOfBackward extends AsOfDirection
case object AsOfForward extends AsOfDirection

/** User-facing constructor: builds the logical node from two DataFrames,
  * with graft installed on the session ([[GraftExtensions.install]]). */
object AsOfJoin {
  def apply(left: DataFrame, right: DataFrame,
            leftKey: String, rightKey: String,
            leftTs: String, rightTs: String,
            tolerance: Long,
            direction: AsOfDirection = AsOfBackward,
            rightTieBreak: Option[String] = None): DataFrame = {
    val spark = left.sparkSession
    GraftExtensions.install(spark)
    val lPlan = org.apache.spark.sql.graft.ColumnBridge.logicalPlan(left)
    val rPlan = org.apache.spark.sql.graft.ColumnBridge.logicalPlan(right)
    def resolve(p: LogicalPlan, n: String): Expression =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan,
        resolve(lPlan, leftKey), resolve(rPlan, rightKey),
        resolve(lPlan, leftTs), resolve(rPlan, rightTs),
        tolerance, direction, rightTieBreak.map(resolve(rPlan, _))))
  }
}
