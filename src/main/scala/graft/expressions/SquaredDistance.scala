package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst squared-L2 distance over two numeric arrays.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a, b,
  * (x,y) => (x-y)*(x-y)), 0.0, _+_)`) is interpreted: Spark does not
  * codegen lambdas, so the PQ code-assignment stages — |vectors| ×
  * |codebook| × subspaces evaluations — pay closure dispatch, lambda
  * variable binding and Double boxing per ELEMENT. Profiled on the inline
  * IVF+PQ build (stage profile, sf0.1) those two stages were 35+ CPU-
  * seconds for ~3M pair evaluations of 16-float subvectors. This
  * expression runs one single-pass JVM kernel,
  * [[SquaredDistance.squaredDistance]], called from `nullSafeEval` and
  * from whole-stage codegen alike, like [[CosineSimilarity]].
  *
  * Numerics: elements widen to double and the (x−y)² terms accumulate
  * left-to-right in index order — the exact fold of the HOF version and
  * of the DuckDB oracle's `list_reduce(list_transform(list_zip(...)))`,
  * so results stay bit-identical. Mismatched lengths fold the common
  * prefix BY DEFINITION (all call sites zip equal-length subvectors) —
  * see [[CosineSimilarity]]'s class doc for why this deliberately
  * diverges from the null-padding HOF/oracle off that contract, and
  * CustomExprSpec for the pinned contract + prefix behavior.
  */
case class SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayInputs {

  override def dataType: DataType = DoubleType
  override protected def fnName: String = "squared_distance"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    orNullElement(SquaredDistance.squaredDistance(a.asInstanceOf[ArrayData], floatElems(0),
      b.asInstanceOf[ArrayData], floatElems(1), checkNulls = true))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => kernelCode(ctx, ev,
      s"graft.expressions.SquaredDistance.squaredDistance($a, ${floatElems(0)}, $b, ${floatElems(1)}, $elemNullable)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SquaredDistance {
  /** Σ (a_i − b_i)² over the common prefix of `a` and `b`; null when
    * `checkNulls` and an element of that prefix is null. */
  def squaredDistance(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean,
      checkNulls: Boolean): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (checkNulls && (FloatArrays.hasNull(a, n) || FloatArrays.hasNull(b, n))) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = FloatArrays.at(a, i, aFloat) - FloatArrays.at(b, i, bFloat)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Column-API entry point: `squared_distance(a, b)`. */
  def squaredDist(a: Column, b: Column): Column =
    ColumnBridge.column(
      SquaredDistance(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
