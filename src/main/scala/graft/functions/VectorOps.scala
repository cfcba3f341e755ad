package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Vector arithmetic over `ARRAY<DOUBLE>` columns, inside Catalyst
  * (no UDF serialization boundary). The per-pair hot paths — cosine,
  * squared L2 and the nearest-centroid argmin — are codegen'd
  * expressions; `dot` and `l2norm` stay higher-order functions, which
  * Spark interprets (`CodegenFallback`).
  *
  * These are the public-API building blocks for the §2.I operators
  * (SURVEY.md); the reference's domain is exactly this (README.md:2
  * "building the embeddings … building the vectordb").
  */
object VectorOps {

  /** Σ aᵢ·bᵢ */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ */
  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  /** Squared L2 distance Σ (aᵢ−bᵢ)² — the codegen'd [[SquaredL2]]
    * expression, bit-identical to the HOF
    * `aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), 0.0, _ + _)`.
    */
  def sqDist(a: Column, b: Column): Column =
    kernel(SquaredL2(expr(a), expr(b)))

  /** cos(a, b) = a·b / (‖a‖‖b‖) — the custom codegen'd Catalyst
    * expression ([[CosineSimilarity]]); bit-identical to [[cosineHof]]
    * but one fused loop inside whole-stage codegen.
    */
  def cosine(a: Column, b: Column): Column =
    kernel(CosineSimilarity(expr(a), expr(b)))

  /** Pure-HOF cosine (public-API fallback; kept as the reference
    * implementation the custom expression is pinned against).
    */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Assign each row's `embedding` to its nearest centroid (min
    * squared L2, ties broken by min centroid id) against the centroid
    * table `cents` (cid, cv), in one map-side pass over the corpus
    * ([[nearestCentroids]]): no k× row blow-up, no shuffle, no sort.
    * The IVF coarse-quantization shape shared by `kmeans_assign_fixed`,
    * `ivf_partition_stats`, `ann_ivf_topk`, the index builds and
    * stream appends.
    *
    * Output: one row per input row, `keyCols` + (cluster, dist), with
    * dist = sqrt(min squared L2). The result equals
    * `min(struct(sqDist, cid))` over the table: a NULL distance (null
    * or short embedding) wins with the least cid, NaN loses. An empty
    * table gives no rows. `keyCols` pass through unchanged — nothing
    * groups on them, so duplicate keys stay duplicate rows.
    */
  def assignToCentroids(corpus: DataFrame, cents: DataFrame,
                        keyCols: Seq[String]): DataFrame =
    nearestCentroids(corpus, col("embedding"), cents, keyCols)
      .select(keyCols.map(col) :+ col("cluster") :+ sqrt(col("d2")).as("dist"): _*)

  /** The nearest-centroid kernel behind [[assignToCentroids]], the IVF
    * probes and the PQ encoders. `cents` (by…, cid, cv) is packed into
    * one `ARRAY<STRUCT<cid, cv>>` per `by` group, sorted by cid (a lazy
    * aggregate — one row when `by` is empty — broadcast into the
    * corpus); [[NearestCentroid]] then ranks each `corpus` row's
    * group table by squared L2 to `vec`. Output: `keyCols` +
    * (cluster, d2, rank) for the `n` nearest entries in (d2, cid)
    * order — the rows `row_number() OVER (PARTITION BY <row> ORDER BY
    * d2, cid) <= n` keeps, without the shuffle or the sort. A row
    * whose group has no table drops out, as does every row when
    * `n <= 0`. `vec` and `cv` are cast to `ARRAY<DOUBLE>` (a no-op on
    * double arrays). The kernel is a generator (`inline`), so a later
    * filter on `cluster` cannot be pushed below it and re-run the
    * kernel.
    */
  def nearestCentroids(corpus: DataFrame, vec: Column, cents: DataFrame,
                       keyCols: Seq[String], n: Int = 1,
                       by: Seq[String] = Nil): DataFrame = {
    // A table already on the driver (trained centroids, codebooks)
    // packs in one partition: no exchange, so no Spark job of its own
    // ahead of the broadcast.
    val local = cents.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val tables = (if (local) cents.coalesce(1) else cents)
      .groupBy(by.map(col): _*)
      .agg(sort_array(collect_list(struct(col("cid"), col("cv").cast(vector).as("cv"))))
        .as("_cents"))
    val joined =
      if (by.isEmpty) corpus.crossJoin(broadcast(tables))
      else corpus.join(broadcast(tables), by)
    joined.select(keyCols.map(col) :+
      inline(kernel(NearestCentroid(expr(vec.cast(vector)), expr(col("_cents")),
        math.max(n, 0)))): _*)
  }

  private val vector = ArrayType(DoubleType)

  private def expr(c: Column): Expression = Bridge.expression(c)
  private def kernel(e: Expression): Column = Bridge.column(e)
}
