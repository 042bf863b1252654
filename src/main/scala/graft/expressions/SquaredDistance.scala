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
  * seconds for ~3M pair evaluations of 16-float subvectors; this fused
  * single-pass loop participates in whole-stage codegen like
  * [[CosineSimilarity]].
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
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // A null ELEMENT also nulls the result (the HOF fold this expression
  // replaces propagates NULL through zip_with/aggregate), so nullability
  // must account for element-level containsNull, not just the arrays.
  override def nullable: Boolean = left.nullable || right.nullable ||
    SquaredDistance.elemNullable(left) || SquaredDistance.elemNullable(right)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"squared_distance expects array<float|double> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val n = math.min(xa.numElements(), xb.numElements())
    val leftFloat = elemType(left) == FloatType
    val rightFloat = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      // null element -> null result, matching the HOF fold's propagation;
      // a null in a declared-non-nullable array is a schema violation and
      // fails loudly (returning null from a non-nullable expression would
      // unbox to a silent 0.0 downstream). Gated on elemNullable — the
      // SAME condition that emits the codegen guard — not on `nullable`,
      // which is also true when merely the array COLUMNS are nullable
      // (containsNull=false): there the codegen path has no guard, so the
      // interpreted path must throw, not return null, to stay consistent.
      if (xa.isNullAt(i) || xb.isNullAt(i)) {
        if (SquaredDistance.elemNullable(left) || SquaredDistance.elemNullable(right))
          return null
        throw new NullPointerException(
          "squared_distance: null element in containsNull=false input")
      }
      val x = if (leftFloat) xa.getFloat(i).toDouble else xa.getDouble(i)
      val y = if (rightFloat) xb.getFloat(i).toDouble else xb.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val la = if (elemType(left) == FloatType) "(double) %s.getFloat(%s)" else "%s.getDouble(%s)"
    val lb = if (elemType(right) == FloatType) "(double) %s.getFloat(%s)" else "%s.getDouble(%s)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      // The per-element guard is emitted ONLY when the schema says
      // elements can be null: this expression exists for multi-million-
      // pair fused loops, and containsNull=false inputs (the embeddings
      // store) keep the original zero-branch inner loop — trusting the
      // schema like Spark's own codegen'd array readers do. ev.isNull is
      // a real variable whenever the guard is emitted (nullable covers
      // containsNull).
      val guard =
        if (SquaredDistance.elemNullable(left) || SquaredDistance.elemNullable(right))
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $guard
         |  double $d = ${la.format(a, i)} - ${lb.format(b, i)};
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SquaredDistance {
  /** Column-API entry point: `squared_distance(a, b)`. */
  def squaredDist(a: Column, b: Column): Column =
    ColumnBridge.column(
      SquaredDistance(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private[expressions] def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
}
