package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Raw per-plane dot products of the adaptive hyperplane family — the
  * THRESHOLD-DERIVATION twin of [[LshBands]] (r15 centered projections):
  * for plane p = (bandOffset + t)·rows + i, element t·rows + i of the
  * output is [[LshBands.planeDot]] — the very dot [[LshBands]]'s sign
  * test runs, in the fold order of the DuckDB oracle's ordered
  * `list_reduce` — so the per-plane MEDIANS both engines derive from
  * these values are bit-identical.
  *
  * Null semantics mirror the oracle's `dots` CTE: a length-mismatched
  * array (or a null element) returns NULL — the row contributes to NO
  * plane's threshold sample, exactly as the oracle's NULL dp rows drop
  * out of every `PARTITION BY band, i` window under `dp IS NOT NULL`.
  *
  * Interpreted on purpose (CodegenFallback): this expression runs only
  * over the deterministic threshold SAMPLE
  * (`VectorQueries.lshSampleMod`, ≤ ~32k rows at any corpus size), so
  * generating a call to [[LshPlaneDots.dots]] would buy nothing here.
  */
case class LshPlaneDots(child: Expression, bands: Int, rows: Int, dims: Int,
    bandOffset: Int = 0)
    extends UnaryExpression with FloatArrayInputs with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override protected def fnName: String = "lsh_plane_dots"

  override protected def nullSafeEval(a: Any): Any =
    LshPlaneDots.dots(a.asInstanceOf[ArrayData], floatElems(0), bands, rows, dims, bandOffset)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshPlaneDots {
  /** The per-plane dots of `xs` for ABSOLUTE bands
    * [bandOffset, bandOffset + bands), flat t·rows + i; null when the
    * length is not `dims` or an element is null. */
  def dots(xs: ArrayData, isFloat: Boolean, bands: Int, rows: Int, dims: Int,
      bandOffset: Int): ArrayData = {
    if (xs.numElements() != dims || FloatArrays.hasNull(xs, dims)) return null
    val out = new Array[Double](bands * rows)
    var j = 0
    while (j < out.length) {
      out(j) = LshBands.planeDot(xs, isFloat, bandOffset * rows + j, dims)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-API entry point: the `bands`·`rows` per-plane dots for
    * ABSOLUTE bands [bandOffset, bandOffset + bands), flat t·rows + i. */
  def planeDots(emb: Column, bands: Int, rows: Int, dims: Int,
      bandOffset: Int = 0): Column =
    ColumnBridge.column(
      LshPlaneDots(ColumnBridge.expression(emb), bands, rows, dims, bandOffset))
}
