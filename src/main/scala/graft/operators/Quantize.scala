package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData
import graft.TestData.r4

/** Scalar (int8) quantization of the embedding table — the
  * compression step a vector DB applies before storing vectors
  * (reference README.md:2 "building the vectordb"): per-dimension
  * min/max over the corpus → 8-bit codes → reconstruction error.
  * At 100 TB the per-dim stats are a 64-row broadcast computed in
  * one pass, and encoding is map-side — this is how a 4-byte-float
  * corpus becomes a 1-byte-code corpus plus a tiny codebook.
  *
  * The quantize rounding uses the deterministic floor(x+0.5) form so
  * codes are bit-identical cross-engine.
  */
object Quantize {
  type Q = (SparkSession, String) => DataFrame

  /** Per-dimension min/max 8-bit scalar quantization of exploded
    * (vec_id, dim, x) rows, read back: (vec_id, dim, dq) with dq the
    * dequantized code (a constant dimension codes to 0).
    */
  private[graft] def sq8Dequantized(dims: DataFrame): DataFrame = {
    val stats = dims.groupBy("dim")
      .agg(min("x").as("mn"), max("x").as("mx"))
    dims.join(broadcast(stats), "dim")
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0)).otherwise(
          floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255.0
            + 0.5).cast("int")))
      .withColumn("dq",
        col("mn") + col("code") / 255.0 * (col("mx") - col("mn")))
      .select(col("vec_id"), col("dim"), col("dq"))
  }

  val defs: Map[String, Q] = Map(
    "vec_scalar_quantize" -> ((s, d) => {
      val dims = TestData.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      val stats = dims.groupBy("dim")
        .agg(min("x").as("mn"), max("x").as("mx"))
      // constant dimensions (mx == mn) map to code 0, not 0/0 = NaN
      // (ANSI mode would throw on casting floor(NaN) to int)
      val q = dims.join(broadcast(stats), "dim")
        .withColumn("code",
          when(col("mx") === col("mn"), lit(0)).otherwise(
            floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255.0
              + 0.5).cast("int")))
        .withColumn("deq",
          col("mn") + col("code") / 255.0 * (col("mx") - col("mn")))
        .withColumn("err", abs(col("x") - col("deq")))
      q.groupBy("vec_id")
        .agg(r4(avg("err")).as("mean_err"),
             r4(max("err")).as("max_err"),
             sum("code").as("code_sum"))
        .orderBy("vec_id")
    }),

    // Search over the int8-compressed corpus: queries stay full
    // precision, the corpus contributes only dequantized codes —
    // the SQ analogue of PQ's asymmetric-distance search. Per-dim
    // rows join the broadcast query dims, one two-phase aggregate
    // computes approximate cosine from (code, stats) alone, and
    // ranking sorts on the r4-QUANTIZED score (raw double sums flip
    // near-ties across engines).
    "ann_sq_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val dims = e.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      val deq = sq8Dequantized(dims)
      val qdims = dims.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("dim").as("qdim"),
                col("x").as("qx"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("approx_cos").desc, col("vec_id"))
      deq.join(broadcast(qdims), col("dim") === col("qdim"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id")
        .agg(r4(sum(col("qx") * col("dq")) /
               (sqrt(sum(col("qx") * col("qx"))) *
                sqrt(sum(col("dq") * col("dq"))))).as("approx_cos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("qid", "rnk", "vec_id", "approx_cos")
        .orderBy("qid", "rnk")
    }),

    // RESIDUAL QUANTIZER, 2 LEVELS (round 10): the RVQ encode step —
    // assign to the coarse centroid, then quantize the RESIDUAL
    // against a second fixed codebook; the additive-codebook
    // compression (c1 + c2 ≈ x) modern vector stores layer between
    // IVF and PQ. Fixture codebooks are fixed slices (the trained-
    // codebook swap is the TrainedQuantize precedent). Determinism:
    // arrays cast to DOUBLE up front (float-vs-double op mismatch is
    // the cross-engine trap), distances micro-quantized BEFORE each
    // argmin with (dist, cid) tie-break. Shape: two broadcast
    // codebook cross joins, both map-side; per-vec output with the
    // reconstruction-error drop the second level buys.
    "vec_residual_quantize" -> ((s, d) => {
      import graft.functions.{VectorOps => V}
      val W = org.apache.spark.sql.expressions.Window
      val e = TestData.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("emb"))
      val c1 = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("c1"), col("emb").as("cv1"))
      val c2 = e.filter(col("vec_id") >= 4 && col("vec_id") < 8)
        .select(col("vec_id").as("c2"), col("emb").as("cv2"))
      val a1 = e.crossJoin(broadcast(c1))
        .withColumn("d1_u",
          floor(V.sqDist(col("emb"), col("cv1")) * 1000000 + 0.5)
            .cast("long"))
        .withColumn("rn", row_number().over(
          W.partitionBy("vec_id").orderBy("d1_u", "c1")))
        .filter(col("rn") === 1)
        .withColumn("resid", zip_with(col("emb"), col("cv1"),
          (a, b) => a - b))
        .select(col("vec_id"), col("c1"), col("d1_u").as("err1_u"),
          col("resid"))
      a1.crossJoin(broadcast(c2))
        .withColumn("d2_u",
          floor(V.sqDist(col("resid"), col("cv2")) * 1000000 + 0.5)
            .cast("long"))
        .withColumn("rn", row_number().over(
          W.partitionBy("vec_id").orderBy("d2_u", "c2")))
        .filter(col("rn") === 1)
        .withColumn("improved", col("d2_u") < col("err1_u"))
        .select(col("vec_id"), col("c1"), col("c2"), col("err1_u"),
          col("d2_u").as("err2_u"), col("improved"))
        .orderBy("vec_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "vec_scalar_quantize" ->
      """WITH dims AS (
        |  SELECT vec_id, i AS dim, (embedding::DOUBLE[])[i + 1] AS x
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(range(len(embedding))) AS i) r),
        |stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim),
        |q AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE floor((x - mn) / (mx - mn) * 255.0 + 0.5)::INT END AS code,
        |    abs(x - (mn + (CASE WHEN mx = mn THEN 0
        |         ELSE floor((x - mn) / (mx - mn) * 255.0 + 0.5)::INT END)
        |      / 255.0 * (mx - mn))) AS err
        |  FROM dims JOIN stats USING (dim))
        |SELECT vec_id,
        |  floor((avg(err))*10000 + 0.5)/10000 AS mean_err,
        |  floor((max(err))*10000 + 0.5)/10000 AS max_err,
        |  sum(code)::BIGINT AS code_sum
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "ann_sq_topk" ->
      """WITH dims AS (
        |  SELECT vec_id, i AS dim, (embedding::DOUBLE[])[i + 1] AS x
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(range(len(embedding))) AS i) r),
        |stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim),
        |deq AS (
        |  SELECT vec_id, dim,
        |    mn + (CASE WHEN mx = mn THEN 0
        |          ELSE floor((x - mn) / (mx - mn) * 255.0 + 0.5)::INT END)
        |      / 255.0 * (mx - mn) AS dq
        |  FROM dims JOIN stats USING (dim)),
        |qd AS (SELECT vec_id AS qid, dim AS qdim, x AS qx
        |       FROM dims WHERE vec_id < 3),
        |scored AS (
        |  SELECT qid, vec_id,
        |    floor((sum(qx * dq) /
        |      (sqrt(sum(qx * qx)) * sqrt(sum(dq * dq))))*10000 + 0.5)/10000
        |      AS approx_cos
        |  FROM deq JOIN qd ON dim = qdim
        |  WHERE vec_id <> qid
        |  GROUP BY qid, vec_id)
        |SELECT qid, rnk, vec_id, approx_cos
        |FROM (SELECT qid, vec_id, approx_cos,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY approx_cos DESC, vec_id) AS rnk
        |      FROM scored)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    // Same double-cast arrays, micro-quantized distances, (dist,
    // cid) argmin tie-break, residual via list_zip subtraction.
    "vec_residual_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |c1 AS (SELECT vec_id AS c1, emb AS cv1 FROM e WHERE vec_id < 4),
        |c2 AS (SELECT vec_id AS c2, emb AS cv2 FROM e
        |       WHERE vec_id >= 4 AND vec_id < 8),
        |a1p AS (
        |  SELECT e.vec_id, c1.c1, e.emb, c1.cv1,
        |    floor(list_sum(list_transform(list_zip(e.emb, c1.cv1),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) * 1000000 + 0.5)::BIGINT
        |      AS d1_u
        |  FROM e CROSS JOIN c1),
        |a1 AS (
        |  SELECT vec_id, c1, d1_u AS err1_u,
        |    list_transform(list_zip(emb, cv1), p -> p[1] - p[2]) AS resid
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |          ORDER BY d1_u, c1) AS rn
        |        FROM a1p)
        |  WHERE rn = 1),
        |b1p AS (
        |  SELECT a1.vec_id, a1.c1, a1.err1_u, c2.c2,
        |    floor(list_sum(list_transform(list_zip(a1.resid, c2.cv2),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) * 1000000 + 0.5)::BIGINT
        |      AS d2_u
        |  FROM a1 CROSS JOIN c2)
        |SELECT vec_id, c1, c2, err1_u, d2_u AS err2_u,
        |  d2_u < err1_u AS improved
        |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |        ORDER BY d2_u, c2) AS rn
        |      FROM b1p)
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  )
}
