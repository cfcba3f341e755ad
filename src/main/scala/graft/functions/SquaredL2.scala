package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd squared L2 distance Σ (xᵢ−yᵢ)² over two ARRAY<DOUBLE>
  * columns — what [[VectorOps.sqDist]] returns.
  *
  * The HOF form (`aggregate(zip_with(..))`) is a `CodegenFallback`:
  * it boxes every element and pulls its whole operator out of
  * whole-stage codegen, on the IVF probe, PQ table and assignment
  * paths that run it per (row, centroid). This expression runs one
  * fused loop instead, accumulating `acc = acc + (x−y)*(x−y)` left to
  * right from 0.0 exactly as the HOF does, so results on ARRAY<DOUBLE>
  * are bit-identical. HOF parity on edge inputs: a null array, a null
  * element or a length mismatch gives NULL; two empty arrays give 0.0.
  * Other numeric arrays (ARRAY<FLOAT>, ARRAY<INT>, …) are cast to
  * ARRAY<DOUBLE> first, so their distance is computed in double
  * precision (the HOF squared each difference in the element type).
  */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_dist"
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (SquaredL2.comparable(x, y)) SquaredL2.sqDist(x, y) else null
  }

  // The generated code calls the same Scala loop, which keeps the
  // enclosing operator in whole-stage codegen.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""
         |if (!graft.functions.SquaredL2$$.MODULE$$.comparable($x, $y)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SquaredL2$$.MODULE$$.sqDist($x, $y);
         |}
       """.stripMargin)
}

object SquaredL2 {
  /** Equal lengths and no null element: the inputs on which the HOF
    * form is non-NULL.
    */
  def comparable(x: ArrayData, y: ArrayData): Boolean =
    x.numElements() == y.numElements() && noNulls(x) && noNulls(y)

  def noNulls(x: ArrayData): Boolean = {
    var i = 0
    while (i < x.numElements()) {
      if (x.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** The one fused loop over [[comparable]] ARRAY<DOUBLE> vectors,
    * shared by `nullSafeEval`, `doGenCode` and [[NearestCentroid]].
    */
  def sqDist(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc = acc + d * d
      i += 1
    }
    acc
  }
}
