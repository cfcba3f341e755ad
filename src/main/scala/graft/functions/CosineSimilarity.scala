package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd cosine similarity over two ARRAY<DOUBLE> columns — the
  * §4.3 (SURVEY.md) hot-path upgrade of the HOF form in
  * [[VectorOps.cosine]].
  *
  * The HOF chain (`zip_with` + two `aggregate`s) allocates a lambda
  * frame per element per row; on the O(pairs) similarity operators
  * (near-dup pairs, batch kNN, triplet mining) that interpretation
  * overhead dominates. This expression emits a single fused loop into
  * whole-stage codegen (one pass computing dot, ‖x‖², ‖y‖²) and
  * accumulates in the same left-to-right order as the HOF form, so
  * results are bit-identical and the DuckDB oracles are unchanged.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must be ARRAY<DOUBLE>; call sites (VectorOps.cosine over
  // TestData.embeddings) guarantee the cast.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  // Mismatched lengths and null ELEMENTS both yield NULL — matching
  // the HOF form exactly (zip_with pads with null / a null element
  // nulls the multiply, which nulls the whole aggregate), so the
  // CosineFusion rewrite is semantics-preserving on every input.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements() ||
        (0 until n).exists(i => x.isNullAt(i) || y.isNullAt(i))) null
    else CosineSimilarity.cosine(x.toDoubleArray(), y.toDoubleArray())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = $x.getDouble($i);
         |    double $yv = $y.getDouble($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })
}

object CosineSimilarity {
  /** The one fused loop over equal-length vectors: dot, ‖x‖² and ‖y‖²
    * accumulated left to right. The interpreted path above and the
    * packed-graph descent ([[graft.operators.BeamDescent]]) call
    * it; `doGenCode` emits the same loop as Java, so all three agree
    * bit for bit.
    */
  def cosine(x: Array[Double], y: Array[Double]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      val xv = x(i); val yv = y(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}
