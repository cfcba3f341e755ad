package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The interpreted vector forms the codegen'd kernels replaced, kept
  * as the references the kernels are pinned against (ExpressionProps,
  * PropertySpec). Test code only: `src/main` has one path.
  */
object VectorReference {

  /** Squared L2 as a higher-order function: `SquaredL2`'s reference. */
  def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, v) => acc + v)

  /** Nearest-centroid assignment as a k× cross join, a per-row
    * distance and a `groupBy(keyCols)` min over struct(dist, cid):
    * `VectorOps.assignToCentroids`' reference. Grouping merges rows
    * equal on `keyCols` and normalizes float keys (−0.0 → 0.0).
    */
  def assignToCentroids(corpus: DataFrame, cents: DataFrame,
                        keyCols: Seq[String]): DataFrame =
    corpus.crossJoin(broadcast(cents))
      .withColumn("dist", sqDistHof(col("embedding"), col("cv")))
      .groupBy(keyCols.map(col): _*)
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .withColumn("cluster", col("m.cid"))
      .withColumn("dist", sqrt(col("m.dist")))
      .drop("m")

  /** The IVF probe as a k× cross join and a per-row window:
    * `VectorOps.nearestCentroids(.., n)`' reference. Output: `keyCols`
    * + (cluster, rank) for the n nearest centroids by (distance, cid).
    */
  def probe(queries: DataFrame, cents: DataFrame, keyCols: Seq[String],
            n: Int): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("qdist"), col("cid"))
    queries.crossJoin(broadcast(cents))
      .withColumn("qdist", sqDistHof(col("embedding"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(keyCols.map(col) :+ col("cid").as("cluster") :+ col("rank"): _*)
  }
}
