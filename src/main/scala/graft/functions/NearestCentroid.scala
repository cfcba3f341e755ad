package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** The `n` nearest centroids of one `ARRAY<DOUBLE>` in a packed
  * centroid table `ARRAY<STRUCT<cid, cv ARRAY<DOUBLE>>>`
  * ([[VectorOps.nearestCentroids]] broadcasts it into the corpus).
  * Returns `ARRAY<STRUCT<cluster, d2, rank>>`: the first `n` entries
  * in (d2 = [[SquaredL2]] distance, table position) order under
  * Spark's ordering of doubles — a NULL distance (null vector, null
  * element, length mismatch) sorts first, NaN last, −0.0 equals 0.0 —
  * with rank 1, 2, …. With the table sorted by cid that is the order
  * of `ORDER BY d2, cid`, so n = 1 is `min(struct(d2, cid))` and
  * n = nProbe is an IVF probe. Empty for an empty table, NULL for a
  * null one; callers `inline` it, so either drops the row. `n` must
  * be ≥ 0 ([[VectorOps.nearestCentroids]] clamps it).
  *
  * The distance loop is [[SquaredL2.sqDist]]; `doGenCode` calls the
  * same method, which keeps the enclosing operator in whole-stage
  * codegen.
  */
case class NearestCentroid(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  private lazy val cidType: DataType = right.dataType match {
    case ArrayType(StructType(Array(cid, _)), _) => cid.dataType
  }

  override lazy val dataType: DataType = ArrayType(StructType(Seq(
    StructField("cluster", cidType), StructField("d2", DoubleType),
    StructField("rank", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_centroid"
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)

  // A null vector still has nearest centroids (every distance is
  // NULL, so table order decides); only the table must be non-null.
  override def eval(input: InternalRow): Any = {
    val table = right.eval(input)
    if (table == null) null
    else NearestCentroid.nearest(left.eval(input).asInstanceOf[ArrayData],
      table.asInstanceOf[ArrayData], n, cidType)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = left.genCode(ctx)
    val t = right.genCode(ctx)
    val ct = ctx.addReferenceObj("cidType", cidType, classOf[DataType].getName)
    ev.copy(code = code"""
      |${v.code}
      |${t.code}
      |ArrayData ${ev.value} = ${t.isNull} ? null :
      |  graft.functions.NearestCentroid$$.MODULE$$.nearest(
      |    ${v.isNull} ? null : ${v.value}, ${t.value}, $n, $ct);
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }
}

object NearestCentroid {
  /** The first `n` entries of `table` in (distance to `v`, position)
    * order, as (cid, d2, rank) rows.
    */
  def nearest(v: ArrayData, table: ArrayData, n: Int, cidType: DataType): ArrayData = {
    val vOk = v != null && SquaredL2.noNulls(v)
    // the best entries so far, kept sorted; an entry only moves ahead
    // of strictly farther ones, so ties keep table order
    val best = new Array[InternalRow](n)
    val dist = new Array[Double](n)
    val isNull = new Array[Boolean](n)
    var size = 0
    var j = 0
    while (j < table.numElements()) {
      if (!table.isNullAt(j)) {
        val entry = table.getStruct(j, 2)
        val cv = entry.getArray(1)
        val dNull = !vOk || cv == null || cv.numElements() != v.numElements() ||
          !SquaredL2.noNulls(cv)
        val d = if (dNull) 0.0 else SquaredL2.sqDist(v, cv)
        var p = size
        while (p > 0 && !isNull(p - 1) &&
               (dNull || SQLOrderingUtil.compareDoubles(d, dist(p - 1)) < 0))
          p -= 1
        if (p < n) {
          val last = math.min(size, n - 1)
          System.arraycopy(best, p, best, p + 1, last - p)
          System.arraycopy(dist, p, dist, p + 1, last - p)
          System.arraycopy(isNull, p, isNull, p + 1, last - p)
          best(p) = entry; dist(p) = d; isNull(p) = dNull
          if (size < n) size += 1
        }
      }
      j += 1
    }
    new GenericArrayData(Array.tabulate[Any](size)(i => new GenericInternalRow(
      Array[Any](best(i).get(0, cidType), if (isNull(i)) null else dist(i), i + 1))))
  }
}
