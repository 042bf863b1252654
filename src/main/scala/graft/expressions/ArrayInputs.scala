package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The type check shared by the expressions whose children are all
  * arrays of one element family: a failure names the function
  * (`fnName`) and every child's type. */
private[expressions] sealed trait ArrayInputs { self: Expression =>
  /** The function a type-check failure names. */
  protected def fnName: String = prettyName
  protected def elemTypes: Seq[DataType]

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType match {
      case ArrayType(t, _) => elemTypes.contains(t)
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fnName expects array<${elemTypes.map(_.catalogString).mkString("|")}> " +
        s"${if (children.size == 1) "input" else "inputs"}, " +
        s"got ${children.map(_.dataType.catalogString).mkString(" / ")}")
}

/** Children of type array<bigint>. */
private[expressions] trait LongArrayInputs extends ArrayInputs { self: Expression =>
  protected def elemTypes: Seq[DataType] = Seq(LongType)
}

/** Children of type array<float|double>, read through [[FloatArrays]].
  *
  * A null element nulls the result (the HOF folds these kernels replace
  * propagate NULL through `zip_with`/`aggregate`), so [[elemNullable]]
  * counts toward `nullable`. Generated code asks its kernel to test
  * elements only when [[elemNullable]] holds, trusting the schema as
  * Spark's own array readers do; the interpreted path always asks, and a
  * null element in a `containsNull=false` input throws there
  * ([[orNullElement]]) instead of unboxing to a silent 0.0 downstream. The
  * element types and [[elemNullable]] are derived once per instance, not
  * per row. */
private[expressions] trait FloatArrayInputs extends ArrayInputs { self: Expression =>
  protected def elemTypes: Seq[DataType] = Seq(FloatType, DoubleType)

  /** Per child: its elements are floats (else doubles). */
  @transient protected lazy val floatElems: Array[Boolean] =
    children.map(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }).toArray

  /** Some child's schema admits null elements. */
  @transient protected lazy val elemNullable: Boolean =
    children.exists(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    })

  override def nullable: Boolean = children.exists(_.nullable) || elemNullable

  /** The interpreted result of kernel result `r`, which is null for an
    * input with a null element. */
  protected def orNullElement(r: AnyRef): Any =
    if (r != null || elemNullable) r
    else throw new NullPointerException(s"$fnName: null element in containsNull=false input")

  /** Generated code that stores kernel result `call` (null for an input
    * with a null element) into `ev`. */
  protected def kernelCode(ctx: CodegenContext, ev: ExprCode, call: String): String = {
    val unbox = if (dataType == DoubleType) ".doubleValue()" else ""
    if (!elemNullable) s"${ev.value} = $call$unbox;"
    else {
      val r = ctx.freshName("r")
      s"""${CodeGenerator.boxedType(dataType)} $r = $call;
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r$unbox; }""".stripMargin
    }
  }
}

/** Element access and the null test for the float-array kernels. */
private[expressions] object FloatArrays {
  @inline def at(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** One of the first `n` elements of `a` is null. */
  def hasNull(a: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }
}
