package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.ops.VectorOps

/** Native Catalyst banded random-hyperplane LSH signature: for each of
  * `bands` bands, an `rows`-bit bucket id where bit i is the sign of the
  * dot product with integer hyperplane p = band·rows + i (weights
  * `VectorOps.adaptivePlaneWeight`: the full-rank integer derivation —
  * NOT the period-17 `planeWeight` of the frozen PLANES=8 contract —
  * shared bit-for-bit by Spark and the DuckDB oracle).
  *
  * The compositional formulation (one `VectorOps.dot` HOF per plane,
  * summed CASE bits — `VectorOps.lshBandBucket`) is semantically
  * identical but interpreted: at adaptive plane counts (bands·rows grows
  * with log n, ~56 planes at the third scaling decade) that is dozens of
  * closure-dispatched 64-element folds per row. This expression runs the
  * whole signature as one JVM kernel, [[LshBands.signature]], called
  * from `nullSafeEval` and from whole-stage codegen alike: weights come
  * from the integer formula, and a row allocates only its result array.
  * Each plane's dot is [[LshBands.planeDot]], which [[LshPlaneDots]]
  * shares.
  *
  * Numerics: elements widen to double and each plane's dot accumulates
  * left-to-right from 0.0, the exact fold order of the HOF version and
  * of DuckDB's ordered `list_reduce`, so bucket ids are bit-identical to
  * the oracle (the only float sensitivity is the sign test, which
  * inherits the fold order). Arrays whose length ≠ `dims` produce the
  * ALL-ZERO signature: the HOF zip_with null-pads the shorter side, so
  * its dot is NULL and every sign test fails (bit 0), and the SQL
  * oracle's out-of-range `embedding[d + 1]` lookups propagate NULL the
  * same way — an earlier draft folded the prefix instead, which matched
  * neither off the 64-dim fixture (caught by the randomized
  * length-sweep property in AdaptiveLshSpec, which asserts bit-equality
  * against the HOF formulation at lengths 1..dims+8).
  */
case class LshBands(child: Expression, bands: Int, rows: Int, dims: Int,
    bandOffset: Int = 0, thresholds: Seq[Double] = Nil)
    extends UnaryExpression with FloatArrayInputs {
  // `thresholds` (r15 centered projections): per-plane sign-test
  // thresholds indexed by LOCAL plane t·rows + i (the caller passes the
  // slice for its bandOffset). Empty = sign-at-zero, the pre-r15
  // behavior every frozen contract keeps. Non-empty thresholds are the
  // per-plane sample MEDIANS (VectorQueries.adaptiveThresholds): bit i
  // becomes dp > thr[t·rows+i], splitting each plane's population ~50/50
  // against the corpus's own anisotropy — the r14 watch item measured
  // sign-at-zero planes at mean bias q ≈ 0.6, whose product over r
  // planes clumped buckets 2.07× over Poisson at sf100 and compounded
  // per decade. The oracle derives the identical medians in SQL from
  // the identical ordered-fold dots, so bucket ids stay bit-identical.
  require(thresholds.isEmpty || thresholds.size == bands * rows,
    s"need bands*rows (${bands * rows}) thresholds, got ${thresholds.size}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def fnName: String = "lsh_bands"

  @transient private lazy val thresholdArray: Array[Double] = thresholds.toArray

  override protected def nullSafeEval(a: Any): Any =
    orNullElement(LshBands.signature(a.asInstanceOf[ArrayData], floatElems(0), bands, rows,
      dims, bandOffset, thresholdArray, checkNulls = true))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val thr = ctx.addReferenceObj("lshThr", thresholdArray, "double[]")
    nullSafeCodeGen(ctx, ev, a => kernelCode(ctx, ev,
      s"graft.expressions.LshBands.signature($a, ${floatElems(0)}, $bands, $rows, $dims, " +
        s"$bandOffset, $thr, $elemNullable)"))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBands {
  /** The `bands` bucket ids of `xs` for ABSOLUTE bands
    * [bandOffset, bandOffset + bands): bit i of bucket t is
    * `planeDot(plane (bandOffset + t)·rows + i) > thresholds(t·rows + i)`
    * (> 0.0 when `thresholds` is empty). An array whose length is not
    * `dims` gets the all-zero signature (the HOF/oracle null propagation;
    * see the class doc); null when `checkNulls` and an element is null. */
  def signature(xs: ArrayData, isFloat: Boolean, bands: Int, rows: Int, dims: Int,
      bandOffset: Int, thresholds: Array[Double], checkNulls: Boolean): ArrayData = {
    val out = new Array[Int](bands)
    if (xs.numElements() == dims) {
      if (checkNulls && FloatArrays.hasNull(xs, dims)) return null
      var t = 0
      while (t < bands) {
        var bucket = 0
        var i = 0
        while (i < rows) {
          val dp = planeDot(xs, isFloat, (bandOffset + t) * rows + i, dims)
          val thr = if (thresholds.isEmpty) 0.0 else thresholds(t * rows + i)
          if (dp > thr) bucket |= (1 << i)
          i += 1
        }
        out(t) = bucket
        t += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The dot of the first `dims` elements of `xs` (widened to double)
    * with integer hyperplane `p` ([[VectorOps.adaptivePlaneWeight]]),
    * accumulated left-to-right from 0.0: the fold order of the HOF
    * formulation and of the oracle's ordered `list_reduce`. */
  def planeDot(xs: ArrayData, isFloat: Boolean, p: Int, dims: Int): Double = {
    var dp = 0.0
    var d = 0
    while (d < dims) {
      dp += FloatArrays.at(xs, d, isFloat) * VectorOps.adaptivePlaneWeight(p, d).toDouble
      d += 1
    }
    dp
  }

  /** Column-API entry point: array of `bands` bucket ids for `emb`.
    * `bandOffset` shifts the hyperplane family to ABSOLUTE bands
    * [offset, offset + bands) — plane p = (offset + t)·rows + i — so a
    * band-chunked consumer (knn_join_lsh_adaptive's bounded-disk chunks)
    * computes exactly its chunk's planes per row instead of the full
    * L-band signature per chunk, and every chunk's buckets equal the
    * corresponding slice of the one-shot signature. `thresholds` (r15):
    * per-plane centered sign-test thresholds for the SAME local band
    * range, empty = sign-at-zero (see the class doc). */
  def lshBands(emb: Column, bands: Int, rows: Int, dims: Int,
      bandOffset: Int = 0, thresholds: Seq[Double] = Nil): Column =
    ColumnBridge.column(
      LshBands(ColumnBridge.expression(emb), bands, rows, dims, bandOffset,
        thresholds))
}
