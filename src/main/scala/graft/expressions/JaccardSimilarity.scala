package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Jaccard similarity of two long-array SETS (elements assumed
  * distinct, as produced by the dedup pipeline's hashed-token sets).
  *
  * Replaces `size(array_intersect(a,b)) / (|a| + |b| - inter)`: the
  * composed form materializes the intersection array and runs outside a
  * fused loop, while this expression computes the intersection COUNT in
  * one pass ([[JaccardSimilarity.similarity]]) and returns the ratio
  * directly. Integer counts, so the result is bit-identical to the
  * oracle's len(list_filter(...)) formula by construction.
  *
  * With `assumeSorted = true` the inputs must be ascending-sorted sets
  * (`array_sort` at the source, once per document) and the count is a
  * zero-allocation merge scan — the near-dup verify evaluates this per
  * CANDIDATE PAIR (millions of times per corpus), where the default
  * hash-probe pass costs a boxed HashSet per pair and dominated the
  * dedup benchmarks. Jaccard is order-insensitive, so both modes return
  * identical values.
  */
case class JaccardSimilarity(left: Expression, right: Expression,
    assumeSorted: Boolean = false)
    extends BinaryExpression with LongArrayInputs {

  override def dataType: DataType = DoubleType
  override protected def fnName: String = "jaccard_sim"

  /** The sorted-input contract is the caller's; this name surfaces it in
    * every plan as `jaccard_sim_sorted`. Unsorted input silently
    * undercounts. */
  override def prettyName: String =
    if (assumeSorted) "jaccard_sim_sorted" else "jaccard_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardSimilarity.similarity(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      assumeSorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.JaccardSimilarity.similarity($a, $b, $assumeSorted)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Thresholded Jaccard predicate over ascending-sorted long-array sets:
  * returns exactly `jaccard_sim_sorted(a, b) >= t`, but EARLY-EXITS the
  * merge scan the moment the remaining elements cannot reach the
  * threshold — at t = 0.8 a non-matching pair aborts after ~10-20% of
  * the merge steps, and verify filters evaluate this per CANDIDATE PAIR
  * (the anchor-truth Jaccard of lsh_recall_eval was 13.7 s of CPU at
  * sf0.1, almost all of it spent completing merges of pairs that fail
  * the threshold).
  *
  * Exactness: `needed` is the smallest integer k with
  * `(double) k / (union - k) >= t` — found with the SAME IEEE division
  * the value expression uses, and k/(union-k) is monotone in k (exact
  * value strictly increases; correctly-rounded division preserves
  * order), so `inter >= needed` ⟺ `jaccard_sim_sorted(a,b) >= t`
  * bit-for-bit. The abort fires only when
  * `inter + min(remaining_a, remaining_b) < needed`, i.e. when even a
  * full match of every remaining element of the shorter side cannot
  * reach `needed` — no false aborts. Empty-union pairs take the scalar
  * definition jac = 0.0 (so the predicate is `0.0 >= t`).
  *
  * `t` must be a finite value in [0, 1]: a NaN threshold fails every
  * comparison inside [[JaccardGeqSorted.neededInter]], so `needed`
  * would come out as 0 and the predicate would silently hold for every
  * non-empty pair, while `jaccard_sim_sorted(a, b) >= NaN` holds for
  * none. */
case class JaccardGeqSorted(left: Expression, right: Expression, t: Double)
    extends BinaryExpression with LongArrayInputs {
  require(t >= 0.0 && t <= 1.0,
    s"jaccard_geq_sorted threshold must be a finite value in [0, 1], got $t")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "jaccard_geq_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardGeqSorted.holds(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], t)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.JaccardGeqSorted.holds($a, $b, $t)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardGeqSorted {
  /** `jaccard_sim_sorted(a, b) >= t` by the early-exit merge scan; an
    * empty union has Jaccard 0.0. */
  def holds(a: ArrayData, b: ArrayData, t: Double): Boolean = {
    val union = a.numElements() + b.numElements()
    if (union == 0) 0.0 >= t
    else InterCountSorted.atLeast(a, b, neededInter(union, t))
  }

  /** Smallest integer k with `(double) k / (union - k) >= t` — computed
    * with the exact IEEE comparison the value expression uses, adjusted
    * from the algebraic estimate by at most a few steps. */
  def neededInter(union: Int, t: Double): Int = {
    var k = math.ceil(t * union / (1.0 + t)).toInt
    if (k < 0) k = 0
    if (k > union) k = union
    while (k > 0 && (k - 1).toDouble / (union - (k - 1)) >= t) k -= 1
    while (k <= union && k.toDouble / (union - k) < t) k += 1
    k
  }

  /** Column-API entry point: `jaccard_geq_sorted(a, b, t)` — exactly
    * `jaccardSimSorted(a, b) >= t` over ascending-sorted array<bigint>
    * sets, with the early-exit merge scan. */
  def jaccardGeqSorted(a: Column, b: Column, t: Double): Column =
    ColumnBridge.column(
      JaccardGeqSorted(ColumnBridge.expression(a), ColumnBridge.expression(b), t))
}

/** Intersection COUNT of two ascending-sorted long-array sets — the
  * merge-scan replacement for `size(array_intersect(a, b))` on inputs
  * that are already sorted distinct: one merge scan per pair
  * ([[InterCountSorted.count]]), no hash set, no output array, no
  * boxing. Same value by construction (both forms count the common
  * elements of two sets). */
case class InterCountSorted(left: Expression, right: Expression)
    extends BinaryExpression with LongArrayInputs {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "inter_count_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    InterCountSorted.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.InterCountSorted.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object InterCountSorted {
  /** Intersection count of two ascending-sorted sets: one merge scan,
    * no allocation, no boxing. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var ia = 0
    var ib = 0
    var inter = 0
    while (ia < n && ib < m) {
      val x = a.getLong(ia)
      val y = b.getLong(ib)
      if (x == y) { inter += 1; ia += 1; ib += 1 }
      else if (x < y) ia += 1
      else ib += 1
    }
    inter
  }

  /** `count(a, b) >= needed`, aborting the merge scan once
    * `inter + min(remaining_a, remaining_b)` cannot reach `needed`: the
    * bound assumes every remaining element of the shorter remaining side
    * matches, so no abort is false. */
  def atLeast(a: ArrayData, b: ArrayData, needed: Int): Boolean = {
    val n = a.numElements()
    val m = b.numElements()
    if (needed > math.min(n, m)) return false
    var ia = 0
    var ib = 0
    var inter = 0
    while (ia < n && ib < m) {
      if (inter + math.min(n - ia, m - ib) < needed) return false
      val x = a.getLong(ia)
      val y = b.getLong(ib)
      if (x == y) { inter += 1; ia += 1; ib += 1 }
      else if (x < y) ia += 1
      else ib += 1
    }
    inter >= needed
  }

  /** Column-API entry point over ascending-sorted array<bigint> sets. */
  def interCountSorted(a: Column, b: Column): Column =
    ColumnBridge.column(
      InterCountSorted(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** Early-exit CONTAINMENT predicate over ascending-sorted long-array
  * sets: exactly `inter_count_sorted(a, b) * q >= size(a) * p` (integer
  * arithmetic, no floats), but the merge scan aborts once
  * `inter + min(remaining_a, remaining_b)` cannot reach the needed count
  * `ceil(p·|a|/q)` — the dedup_containment verify evaluates this per
  * candidate pair, and almost all candidates fail the 9/10 threshold
  * early. No false aborts: the bound assumes every remaining element of
  * the shorter remaining side matches. */
case class ContainGeqSorted(left: Expression, right: Expression, p: Int, q: Int)
    extends BinaryExpression with LongArrayInputs {
  require(p >= 0 && q > 0, "containment threshold p/q needs p >= 0, q > 0")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "contain_geq_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ContainGeqSorted.holds(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], p, q)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.ContainGeqSorted.holds($a, $b, $p, $q)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ContainGeqSorted {
  /** `inter_count_sorted(a, b)·q >= |a|·p`; `i·q >= n·p` ⟺
    * `i >= ceil(n·p/q)`, exact in longs. */
  def holds(a: ArrayData, b: ArrayData, p: Int, q: Int): Boolean =
    InterCountSorted.atLeast(a, b, ((a.numElements().toLong * p + q - 1) / q).toInt)

  /** Column-API entry point: `inter_count_sorted(a,b)·q >= |a|·p` with
    * the early-exit merge scan. */
  def containGeqSorted(a: Column, b: Column, p: Int, q: Int): Column =
    ColumnBridge.column(
      ContainGeqSorted(ColumnBridge.expression(a), ColumnBridge.expression(b), p, q))
}

object JaccardSimilarity {
  /** |a ∩ b| / |a ∪ b| of two sets, 0.0 when both are empty: the
    * intersection by a merge scan when `sorted` (both ascending), else by
    * a probe set over the smaller array. */
  def similarity(a: ArrayData, b: ArrayData, sorted: Boolean): Double = {
    val union = a.numElements() + b.numElements()
    if (union == 0) 0.0
    else {
      val inter = if (sorted) InterCountSorted.count(a, b) else probeCount(a, b)
      inter.toDouble / (union - inter)
    }
  }

  private def probeCount(a: ArrayData, b: ArrayData): Int = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[Long](small.numElements() * 2)
    var i = 0
    while (i < small.numElements()) { set.add(small.getLong(i)); i += 1 }
    var inter = 0
    var j = 0
    while (j < big.numElements()) {
      if (set.contains(big.getLong(j))) inter += 1
      j += 1
    }
    inter
  }

  /** Column-API entry point: `jaccard_sim(a, b)` over array<bigint> sets. */
  def jaccardSim(a: Column, b: Column): Column =
    ColumnBridge.column(
      JaccardSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Merge-scan variant for ascending-sorted sets (`array_sort` them at
    * the source). Same value as [[jaccardSim]]; far cheaper per pair. */
  def jaccardSimSorted(a: Column, b: Column): Column =
    ColumnBridge.column(
      JaccardSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b),
        assumeSorted = true))
}
