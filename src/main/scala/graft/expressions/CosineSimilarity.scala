package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst cosine-similarity over two numeric arrays.
  *
  * The higher-order-function formulation (VectorOps.cosine: zip_with +
  * aggregate) is semantically identical but interpreted — Spark does not
  * codegen lambda functions, so every row pays closure dispatch and an
  * intermediate array allocation. This expression runs one JVM kernel,
  * [[CosineSimilarity.cosine]], accumulating dot/normA/normB in one pass:
  * the interpreted path calls it from `nullSafeEval`, and whole-stage
  * codegen emits one call to it. It is the hot path for brute-force k-NN
  * and all-pairs near-dup scans.
  *
  * Numerics: elements are widened to double and accumulated left-to-right,
  * the exact fold order of the HOF version and of DuckDB's list_reduce, so
  * results remain bit-identical to the oracle. Zero-norm input → 0.0
  * (rag_engine.py:154's metric never sees zero vectors; we define the
  * guard).
  *
  * Mismatched lengths fold over the common prefix BY DEFINITION — a
  * deliberate divergence from the HOF/oracle formulations, which
  * null-pad through zip_with/list_zip and return NULL (matching them
  * would force `nullable = true` unconditionally, changing the schema
  * of every sim column for an input the engine contract rules out).
  * The contract that makes all three formulations bit-equal is
  * equal-length arrays; CustomExprSpec pins both the contract on the
  * fixture (every embedding exactly DIMS elements) and the defined
  * prefix behavior off it.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayInputs {

  override def dataType: DataType = DoubleType
  override protected def fnName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    orNullElement(CosineSimilarity.cosine(a.asInstanceOf[ArrayData], floatElems(0),
      b.asInstanceOf[ArrayData], floatElems(1), checkNulls = true))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => kernelCode(ctx, ev,
      s"graft.expressions.CosineSimilarity.cosine($a, ${floatElems(0)}, $b, ${floatElems(1)}, $elemNullable)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Cosine of `a` and `b` over their common prefix; null when
    * `checkNulls` and an element of that prefix is null. */
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean,
      checkNulls: Boolean): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (checkNulls && (FloatArrays.hasNull(a, n) || FloatArrays.hasNull(b, n))) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = FloatArrays.at(a, i, aFloat)
      val y = FloatArrays.at(b, i, bFloat)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Column-API entry point: `cosine_sim(a, b)`. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
