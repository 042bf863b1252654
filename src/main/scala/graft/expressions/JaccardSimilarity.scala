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
  * one pass and emits the ratio directly. Integer counts, so the result
  * is bit-identical to the oracle's len(list_filter(...)) formula by
  * construction.
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
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jaccard_sim expects array<bigint> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  /** Intersection count via a probe set over the smaller array. */
  @inline private def interCount(xa: ArrayData, xb: ArrayData): Int = {
    val (small, big) = if (xa.numElements() <= xb.numElements()) (xa, xb) else (xb, xa)
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

  /** Intersection count of two ascending-sorted sets: one merge scan,
    * no allocation, no boxing. */
  @inline private def interCountSorted(xa: ArrayData, xb: ArrayData): Int = {
    val n = xa.numElements()
    val m = xb.numElements()
    var ia = 0
    var ib = 0
    var inter = 0
    while (ia < n && ib < m) {
      val x = xa.getLong(ia)
      val y = xb.getLong(ib)
      if (x == y) { inter += 1; ia += 1; ib += 1 }
      else if (x < y) ia += 1
      else ib += 1
    }
    inter
  }

  /** The sorted-input contract is the caller's (see [[prettyName]], which
    * surfaces it in every plan as `jaccard_sim_sorted`); unsorted input
    * silently undercounts. With `-Dgraft.jaccard.checkSorted=true` the
    * interpreted path verifies the contract and fails loudly — cheap
    * enough for specs/debug runs, off in production codegen. */
  override def prettyName: String =
    if (assumeSorted) "jaccard_sim_sorted" else "jaccard_sim"

  private def assertSorted(x: ArrayData, side: String): Unit = {
    var i = 1
    while (i < x.numElements()) {
      if (x.getLong(i - 1) >= x.getLong(i))
        throw new IllegalArgumentException(
          s"jaccard_sim_sorted: $side input not strictly ascending at index $i " +
            s"(${x.getLong(i - 1)} >= ${x.getLong(i)}); array_sort(array_distinct(...)) the source")
      i += 1
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    if (assumeSorted && JaccardSimilarity.checkSorted) {
      assertSorted(xa, "left"); assertSorted(xb, "right")
    }
    val union = xa.numElements() + xb.numElements()
    if (union == 0) 0.0
    else {
      val inter = if (assumeSorted) interCountSorted(xa, xb) else interCount(xa, xb)
      inter.toDouble / (union - inter)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      val body =
        if (assumeSorted) {
          val ia = ctx.freshName("ia")
          val ib = ctx.freshName("ib")
          val x = ctx.freshName("x")
          val y = ctx.freshName("y")
          s"""
             |  int $ia = 0; int $ib = 0;
             |  while ($ia < $a.numElements() && $ib < $b.numElements()) {
             |    long $x = $a.getLong($ia); long $y = $b.getLong($ib);
             |    if ($x == $y) { $inter++; $ia++; $ib++; }
             |    else if ($x < $y) { $ia++; } else { $ib++; }
             |  }
           """.stripMargin
        } else {
          val small = ctx.freshName("small")
          val big = ctx.freshName("big")
          val set = ctx.freshName("set")
          val i = ctx.freshName("i")
          val j = ctx.freshName("j")
          val ad = classOf[ArrayData].getName
          s"""
             |  $ad $small = ($a.numElements() <= $b.numElements()) ? $a : $b;
             |  $ad $big = ($a.numElements() <= $b.numElements()) ? $b : $a;
             |  java.util.HashSet<Long> $set = new java.util.HashSet<Long>($small.numElements() * 2);
             |  for (int $i = 0; $i < $small.numElements(); $i++) $set.add($small.getLong($i));
             |  for (int $j = 0; $j < $big.numElements(); $j++) {
             |    if ($set.contains($big.getLong($j))) $inter++;
             |  }
           """.stripMargin
        }
      s"""
         |int $union = $a.numElements() + $b.numElements();
         |if ($union == 0) { ${ev.value} = 0.0; } else {
         |  int $inter = 0;
         |$body
         |  ${ev.value} = (double) $inter / ($union - $inter);
         |}
       """.stripMargin
    })

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
    extends BinaryExpression {
  require(t >= 0.0 && t <= 1.0,
    s"jaccard_geq_sorted threshold must be a finite value in [0, 1], got $t")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jaccard_geq_sorted expects array<bigint> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def prettyName: String = "jaccard_geq_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val n = xa.numElements()
    val m = xb.numElements()
    val union = n + m
    if (union == 0) return (0.0 >= t)
    val needed = JaccardGeqSorted.neededInter(union, t)
    if (needed > math.min(n, m)) return false
    var ia = 0; var ib = 0; var inter = 0
    while (ia < n && ib < m) {
      if (inter + math.min(n - ia, m - ib) < needed) return false
      val x = xa.getLong(ia); val y = xb.getLong(ib)
      if (x == y) { inter += 1; ia += 1; ib += 1 }
      else if (x < y) ia += 1
      else ib += 1
    }
    inter >= needed
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val union = ctx.freshName("union"); val needed = ctx.freshName("needed")
      val ia = ctx.freshName("ia"); val ib = ctx.freshName("ib")
      val inter = ctx.freshName("inter"); val rem = ctx.freshName("rem")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val aborted = ctx.freshName("aborted")
      val helper = JaccardGeqSorted.getClass.getName.stripSuffix("$")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $union = $n + $m;
         |if ($union == 0) { ${ev.value} = (0.0 >= $t); } else {
         |  int $needed = $helper.neededInter($union, $t);
         |  if ($needed > Math.min($n, $m)) { ${ev.value} = false; } else {
         |    int $ia = 0; int $ib = 0; int $inter = 0;
         |    boolean $aborted = false;
         |    while ($ia < $n && $ib < $m) {
         |      int $rem = ($n - $ia < $m - $ib) ? ($n - $ia) : ($m - $ib);
         |      if ($inter + $rem < $needed) { $aborted = true; break; }
         |      long $x = $a.getLong($ia); long $y = $b.getLong($ib);
         |      if ($x == $y) { $inter++; $ia++; $ib++; }
         |      else if ($x < $y) { $ia++; } else { $ib++; }
         |    }
         |    ${ev.value} = !$aborted && $inter >= $needed;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardGeqSorted {
  /** Smallest integer k with `(double) k / (union - k) >= t` — computed
    * with the exact IEEE comparison the value expression uses, adjusted
    * from the algebraic estimate by at most a few steps. Public because
    * the generated code calls it. */
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
  * that are already sorted distinct: one fused loop per pair, no hash
  * set, no output array, no boxing. Same value by construction (both
  * forms count the common elements of two sets). */
case class InterCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"inter_count_sorted expects array<bigint> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def prettyName: String = "inter_count_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val n = xa.numElements(); val m = xb.numElements()
    var ia = 0; var ib = 0; var inter = 0
    while (ia < n && ib < m) {
      val x = xa.getLong(ia); val y = xb.getLong(ib)
      if (x == y) { inter += 1; ia += 1; ib += 1 }
      else if (x < y) ia += 1
      else ib += 1
    }
    inter
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val ia = ctx.freshName("ia"); val ib = ctx.freshName("ib")
      val inter = ctx.freshName("inter")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $ia = 0; int $ib = 0; int $inter = 0;
         |while ($ia < $n && $ib < $m) {
         |  long $x = $a.getLong($ia); long $y = $b.getLong($ib);
         |  if ($x == $y) { $inter++; $ia++; $ib++; }
         |  else if ($x < $y) { $ia++; } else { $ib++; }
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object InterCountSorted {
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
    extends BinaryExpression {
  require(p >= 0 && q > 0, "containment threshold p/q needs p >= 0, q > 0")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"contain_geq_sorted expects array<bigint> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def prettyName: String = "contain_geq_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val n = xa.numElements(); val m = xb.numElements()
    // i*q >= n*p  ⟺  i >= ceil(n*p/q) — exact in longs
    val needed = ((n.toLong * p + q - 1) / q).toInt
    if (needed > math.min(n, m)) return false
    var ia = 0; var ib = 0; var inter = 0
    while (ia < n && ib < m) {
      if (inter + math.min(n - ia, m - ib) < needed) return false
      val x = xa.getLong(ia); val y = xb.getLong(ib)
      if (x == y) { inter += 1; ia += 1; ib += 1 }
      else if (x < y) ia += 1
      else ib += 1
    }
    inter >= needed
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val needed = ctx.freshName("needed")
      val ia = ctx.freshName("ia"); val ib = ctx.freshName("ib")
      val inter = ctx.freshName("inter"); val rem = ctx.freshName("rem")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val aborted = ctx.freshName("aborted")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $needed = (int) (((long) $n * $p + $q - 1) / $q);
         |if ($needed > Math.min($n, $m)) { ${ev.value} = false; } else {
         |  int $ia = 0; int $ib = 0; int $inter = 0;
         |  boolean $aborted = false;
         |  while ($ia < $n && $ib < $m) {
         |    int $rem = ($n - $ia < $m - $ib) ? ($n - $ia) : ($m - $ib);
         |    if ($inter + $rem < $needed) { $aborted = true; break; }
         |    long $x = $a.getLong($ia); long $y = $b.getLong($ib);
         |    if ($x == $y) { $inter++; $ia++; $ib++; }
         |    else if ($x < $y) { $ia++; } else { $ib++; }
         |  }
         |  ${ev.value} = !$aborted && $inter >= $needed;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ContainGeqSorted {
  /** Column-API entry point: `inter_count_sorted(a,b)·q >= |a|·p` with
    * the early-exit merge scan. */
  def containGeqSorted(a: Column, b: Column, p: Int, q: Int): Column =
    ColumnBridge.column(
      ContainGeqSorted(ColumnBridge.expression(a), ColumnBridge.expression(b), p, q))
}

object JaccardSimilarity {
  /** Debug flag: verify the sorted-input contract on the interpreted path. */
  private[expressions] val checkSorted: Boolean =
    java.lang.Boolean.getBoolean("graft.jaccard.checkSorted")

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
