package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData
import graft.TestData.r4
import graft.functions.{VectorOps => V}

/** TRAINED codebooks for the IVF / PQ quantizers — closing round 1's
  * "stand-in codebook" gap: `kmeans_assign_fixed` / `vec_pq_encode`
  * quantize against embeddings 0..3 so the full encode is
  * oracle-checkable, but real recall/distortion needs k-means-trained
  * centroids.
  *
  * Training shape (the 100 TB design): codebooks are tiny (k ≤ 32
  * rows) and are NEVER trained on the full corpus — every production
  * IVF/PQ build trains on a bounded sample and broadcasts the result.
  * So training here is: (1) one distributed TakeOrdered pass picks a
  * deterministic sample of ≤ [[SampleCap]] vectors (smallest
  * xxhash64(vec_id) — content-addressed, so stable across runs,
  * partitionings and cluster sizes); (2) a driver-local seeded
  * Lloyd's loop fits the centroids in microseconds. The driver
  * transfer is O(SampleCap × dim) ≈ 2 MB — bounded regardless of
  * corpus size — and the ENCODE path (the part that actually scales
  * with data) stays fully distributed: a k-row broadcast join + one
  * map-side argmin pass, identical to the fixed-codebook path.
  * (The previous revision ran 9 distributed MLlib fits — ~160 Spark
  * jobs of scheduler overhead to fit 36 centroids; a driver-local
  * loop over a bounded sample is both faster and the shape you'd
  * actually run at scale.)
  *
  * Oracle-omitted (k-means is iterative/init-dependent — not
  * expressible in portable SQL); property-tested instead: trained
  * quantization error must be ≤ the fixed-codebook error
  * (TrainedSpec), which is the point of training.
  */
object TrainedQuantize {
  type Q = (SparkSession, String) => DataFrame

  /** Max training-sample size. FAISS-style guidance is ~39×k..256×k
    * points per centroid; 4096 covers k=32 with plenty of margin and
    * keeps the driver transfer ~2 MB at dim=64.
    */
  private val SampleCap = 4096

  /** Deterministic bounded training sample: the SampleCap smallest
    * rows by xxhash64(embedding) — content-addressed (no id-column
    * requirement: the facade trains on arbitrary frames), so the
    * sample is stable across runs, partition layouts, and cluster
    * sizes. TakeOrdered — one distributed pass, no full sort.
    */
  private def trainingSample(e: DataFrame): Array[Array[Double]] =
    e.select(col("embedding"))
      .orderBy(xxhash64(col("embedding")))
      .limit(SampleCap)
      .collect()
      .map(_.getSeq[Double](0).toArray)

  /** Seeded driver-local Lloyd's over the sample. Init = k points
    * drawn from the sample by a seeded shuffle; empty clusters keep
    * their previous center. Deterministic for a fixed (sample, seed).
    */
  private[graft] def localLloyd(xs: Array[Array[Double]], k: Int,
                                seed: Long, iters: Int = 20): Array[Array[Double]] = {
    require(xs.nonEmpty && xs.length >= k, s"need >= $k sample points")
    val rnd = new scala.util.Random(seed)
    val dim = xs(0).length
    val centers = rnd.shuffle(xs.indices.toVector).take(k)
      .map(i => xs(i).clone).toArray
    var it = 0
    var moved = true
    while (it < iters && moved) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var i = 0
      while (i < xs.length) {
        val x = xs(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          val cc = centers(c)
          while (j < dim) { val t = x(j) - cc(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best); var j = 0
        while (j < dim) { s(j) += x(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      moved = false
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) {
            val nv = sums(c)(j) / counts(c)
            if (math.abs(nv - centers(c)(j)) > 1e-12) moved = true
            centers(c)(j) = nv; j += 1
          }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** Per-(session, input-tag, kind) memo of trained codebooks: the
    * fits are pure functions of the fixture, several declared keys
    * consume them in one run (`ivf_trained_stats`, `vec_pq_trained`,
    * `ann_ivf_pq_trained_topk`), and each result is a ≤32-row
    * driver-local relation — cache the DataFrame, skip the sample
    * job on every reuse.
    */
  private val memo = new graft.SessionMemo[DataFrame]

  private val sampleMemo = new graft.SessionMemo[Array[Array[Double]]]

  private def memoKey(d: String, kind: String): String =
    graft.sources.WriteOnce.inputTag(d, "embeddings") + "|" + kind

  /** One sample job per (session, fixture) serves every trained
    * codebook below (two coarse codebooks + two PQ codebooks).
    */
  private def fixtureSample(s: SparkSession, d: String): Array[Array[Double]] =
    sampleMemo.getOrElseUpdate(s, memoKey(d, "sample"),
      trainingSample(TestData.embeddings(s, d)))

  /** Train k centroids over an `embedding` array column; returns the
    * same (cid, cv) shape as [[Vectors.fixedCentroids]] so trained
    * and fixed codebooks are drop-in interchangeable.
    */
  def trainCentroids(e: DataFrame, k: Int, seed: Long): DataFrame =
    centroidsDf(e.sparkSession, localLloyd(trainingSample(e), k, seed))

  private def centroidsDf(s: SparkSession, cs: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "cv")
  }

  private def codebookDf(s: SparkSession, sample: Array[Array[Double]],
                         k: Int, seed: Long): DataFrame = {
    import s.implicits._
    (0 until 8).flatMap { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * 8, j * 8 + 8))
      localLloyd(subs, k, seed + j).zipWithIndex
        .map { case (c, code) => (j, code, c.toSeq) }
    }.toDF("sub", "code", "cw")
  }

  private[graft] def fixtureCentroids(s: SparkSession, d: String, k: Int): DataFrame =
    memo.getOrElseUpdate(s, memoKey(d, s"ivf$k"),
      centroidsDf(s, localLloyd(fixtureSample(s, d), k, seed = 42L)))

  private[graft] def fixtureCodebook(s: SparkSession, d: String, k: Int): DataFrame =
    memo.getOrElseUpdate(s, memoKey(d, s"pq8x$k"),
      codebookDf(s, fixtureSample(s, d), k, seed = 42L))

  /** PQ codebook trained on RESIDUALS (x − nearest coarse centroid) —
    * the IVF-ADC form: residuals concentrate near zero, so the same
    * codeword budget spends its resolution on the part of the vector
    * the coarse quantizer didn't explain. The residual sample is
    * computed driver-side from the already-collected training sample
    * (coarse assignment of ≤4096 points — microseconds).
    */
  private def fixtureResidualCodebook(s: SparkSession, d: String,
                                      kCoarse: Int, kPq: Int): DataFrame =
    memo.getOrElseUpdate(s, memoKey(d, s"pqres${kCoarse}x$kPq"), {
      val sample = fixtureSample(s, d)
      val coarse = localLloyd(sample, kCoarse, seed = 42L)
      val resid = sample.map { x =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < coarse.length) {
          var ds = 0.0; var j = 0
          val cc = coarse(c)
          while (j < x.length) { val t = x(j) - cc(j); ds += t * t; j += 1 }
          if (ds < bestD) { bestD = ds; best = c }
          c += 1
        }
        val r = new Array[Double](x.length)
        var j = 0
        while (j < x.length) { r(j) = x(j) - coarse(best)(j); j += 1 }
        r
      }
      codebookDf(s, resid, kPq, seed = 42L)
    })

  /** OPQ rotation (round 12): the full-dim PCA basis (the
    * vec_pca_power machinery at k = dim) with EIGENVALUE ALLOCATION —
    * out dim c = j·8+p takes component p·8+j, so the top 8
    * components spread one per subspace and each subspace carries
    * comparable variance (the OPQ init of Ge et al.; FAISS's
    * OPQMatrix starts the same way). Loadings micro-quantized to
    * 1e-6 integers at the train site (the spectral-protocol literal
    * discipline), so the rotation applied distributed and the one
    * applied to the driver-side training sample are the SAME exact
    * arithmetic. Driver cost d²·iters·d on the 64×64 covariance;
    * the corpus is read once by the Gram aggregate.
    */
  private val rotMemo = new graft.SessionMemo[Array[Array[Long]]]

  private[graft] def opqRotation(e: DataFrame, dim: Int = 64): Array[Array[Long]] = {
    val gram = udaf(new graft.functions.GramMatrix(dim))
    val flat = e.select(col("embedding").cast("array<double>").as("v"))
      .agg(gram(col("v")).as("g")).head().getSeq[Double](0)
    val (_, _, cov) = graft.functions.GramMatrix.covarianceOf(flat, dim)
    val comps = graft.functions.GramMatrix.topComponents(cov, dim, 500)
    val order = for (j <- 0 until 8; p <- 0 until 8) yield p * 8 + j
    order.map(i => comps(i)._2
      .map(l => math.floor(l * 1000000 + 0.5).toLong)).toArray
  }

  private def fixtureRotation(s: SparkSession, d: String): Array[Array[Long]] =
    rotMemo.getOrElseUpdate(s, memoKey(d, "opqrot"),
      opqRotation(TestData.embeddings(s, d)))

  /** Apply the quantized rotation with the EXACT integer-term
    * arithmetic the distributed path uses: each product is floored
    * to a 1e-9-unit integer BEFORE the sum (order-free exact BIGINT;
    * a running double dot product is partition-order-specific), so
    * sample rotation ≡ corpus rotation bit-for-bit.
    */
  private[graft] def rotateSample(sample: Array[Array[Double]],
                                  rot: Array[Array[Long]]): Array[Array[Double]] =
    sample.map { x =>
      rot.map { row =>
        var sum = 0L
        var j = 0
        while (j < x.length) {
          sum += math.floor(row(j) * x(j) * 1000 + 0.5).toLong
          j += 1
        }
        sum.toDouble / 1.0e9
      }
    }

  /** Rotated corpus (vec_id, embedding): one posexplode + a 4096-row
    * broadcast of the rotation + a (vec_id, out-dim) partial-summing
    * aggregate — the shuffle-native dense matmul shape (at 100 TB
    * you'd swap in a codegen'd dot-product expression; the plan
    * shape — no corpus broadcast, map-side combine — is the same).
    */
  private def rotateDf(e: DataFrame, rot: Array[Array[Long]]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val rdf = rot.zipWithIndex.flatMap { case (row, c) =>
      row.zipWithIndex.map { case (lu, j) => (c, j, lu) }
    }.toSeq.toDF("c", "j", "l_u")
    e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "x")))
      .join(broadcast(rdf), "j")
      .withColumn("term_n",
        floor(col("l_u") * col("x") * 1000 + 0.5).cast("long"))
      .groupBy("vec_id", "c")
      .agg(sum("term_n").as("y_n"))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("c"), col("y_n")))).as("ys"))
      .select(col("vec_id"),
        expr("transform(ys, t -> t.y_n / 1000000000.0D)").as("embedding"))
  }

  private[graft] def rotatedCorpus(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate(s, memoKey(d, "opqcorpus"),
      rotateDf(TestData.embeddings(s, d), fixtureRotation(s, d))
        .ckpt())

  /** Generic OPQ encode (facade surface): derive the rotation from
    * the input's own covariance, rotate, train codebooks on the
    * rotated sample, encode. (vec_id, embedding[64]) →
    * (vec_id, sub, code, dist).
    */
  private[graft] def opqEncodeGeneric(e0: DataFrame, codewords: Int,
                                      seed: Long): DataFrame = {
    val e = e0.select(col("vec_id"), col("embedding"))
    val rot = opqRotation(e)
    val rotated = rotateDf(e, rot).ckpt()
    val cb = codebookDf(e.sparkSession,
      rotateSample(trainingSample(e), rot), codewords, seed)
    encodeErr(rotated, cb)
  }

  private[graft] def fixtureOpqCodebook(s: SparkSession, d: String): DataFrame =
    memo.getOrElseUpdate(s, memoKey(d, "opqpq8x4"),
      codebookDf(s,
        rotateSample(fixtureSample(s, d), fixtureRotation(s, d)),
        4, seed = 42L))

  val defs: Map[String, Q] = Map(
    // IVF with trained coarse centroids: per-shard occupancy and
    // distortion. Output keyed by occupancy rank (not raw cid) so it
    // is stable under centroid relabeling.
    "ivf_trained_stats" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      V.assignToCentroids(e, fixtureCentroids(s, d, 4), Seq("vec_id"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"), r4(avg(col("dist"))).as("mean_dist"))
        .select(row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("cluster"))).as("shard_rank"),
          col("n"), col("mean_dist"))
        .orderBy("shard_rank")
    }),

    // OPQ (round 12): rotate by the eigen-allocated PCA basis, THEN
    // PQ — production PQ rotates first so each subspace's codeword
    // budget sees decorrelated, variance-balanced coordinates.
    // Same encode shape as vec_pq_trained on the rotated corpus with
    // rotated-sample-trained codebooks; rotation preserves L2, so
    // recon_err is comparable to the unrotated key's and TrainedSpec
    // pins OPQ total distortion <= plain trained PQ (measured ~7%
    // lower on the fixture) + rotation orthogonality. Oracle-omitted
    // (iterative eigen + k-means), like the rest of the trained
    // family.
    "vec_opq_encode" -> ((s, d) => {
      encodeErr(rotatedCorpus(s, d), fixtureOpqCodebook(s, d))
        .groupBy("vec_id")
        .agg(r4(sqrt(sum(col("dist")))).as("recon_err"))
        .orderBy("vec_id")
    }),

    // OPQ ADC SEARCH (round 12): the search half of vec_opq_encode —
    // rotate once at index-build time, store only the rotated codes,
    // and at query time rotate the QUERY (the corpus stays code-only;
    // here the query rides the memoized rotated corpus since it is a
    // corpus member). Rotation is (near-)orthogonal, so rotated-space
    // ADC distances estimate original-space L2 and recall is measured
    // against the ORIGINAL-space exact top-10. Same ADC shape as
    // ann_pq_adc_topk: 32-row distance-table broadcast + one
    // code-only scan. TrainedSpec pins recall >= the fixed-codebook
    // unrotated ADC and run-to-run determinism.
    "ann_opq_adc_topk" -> ((s, d) => {
      val rotated = rotatedCorpus(s, d)
      val cb = fixtureOpqCodebook(s, d)
      val codes = encodeErr(rotated, cb).select("vec_id", "sub", "code")
      val qsubs = ProductQuantize.subSplit(
          rotated.filter(col("vec_id") === 42))
        .select(col("sub"), col("sv").as("qsv"))
      val dtable = qsubs.join(cb, "sub")
        .select(col("sub"), col("code"),
          V.sqDist(col("qsv"), col("cw")).as("dq"))
      codes.join(broadcast(dtable), Seq("sub", "code"))
        .groupBy("vec_id")
        .agg(r4(sqrt(sum("dq"))).as("approx_dist"))
        .filter(col("vec_id") =!= 42)
        .orderBy(col("approx_dist").asc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("approx_dist"))
    }),

    // PQ with per-subspace trained codebooks: same M=8 subspace
    // split / nearest-codeword encode as `vec_pq_encode`, but each
    // subspace's 4 codewords come from a seeded k-means over that
    // subspace's subvectors. Output: per-vector reconstruction error.
    "vec_pq_trained" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      encodeErr(e, fixtureCodebook(s, d, 4))
        .groupBy("vec_id")
        .agg(r4(sqrt(sum(col("dist")))).as("recon_err"))
        .orderBy("vec_id")
    }),

    // The full TRAINED IVF-PQ search with RESIDUAL encoding — the
    // textbook IVF-ADC plan, closing the "stand-in codebook" gap
    // end-to-end. Trained coarse centroids shard the corpus (IVF,
    // k=8, probe 3); each vector's RESIDUAL (x − its coarse centroid)
    // is PQ-compressed with residual-trained codebooks (16 codewords
    // = 4 bits/subspace). The query picks the 3 nearest shards,
    // builds a PER-SHARD 8×16 ADC table from the query's residual
    // against that shard (a ≤384-row broadcast), and scans only the
    // probed shards' CODES — never the raw vectors; non-probed
    // shards fall out of the broadcast-join. Unlike `ann_ivf_pq_topk`
    // (whose K=4/no-residual form is pinned small so the whole
    // computation stays SQL-mirrorable), this key is the production
    // shape; oracle-omitted (k-means), the recall-vs-exact property
    // lives in TrainedSpec.
    "ann_ivf_pq_trained_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val cents = fixtureCentroids(s, d, 8)
      val codebook = fixtureResidualCodebook(s, d, 8, 16)
      val assigned = V.assignToCentroids(e, cents, Seq("vec_id"))
        .select("vec_id", "cluster")
      // Residual corpus: x − coarse centroid, encoded map-side.
      val resid = e.join(assigned, "vec_id")
        .join(broadcast(cents), col("cluster") === col("cid"))
        .select(col("vec_id"),
          zip_with(col("embedding"), col("cv"), (a, b) => a - b)
            .as("embedding"))
      val codes = encodeErr(resid, codebook).select("vec_id", "sub", "code")
      val qv = e.filter(col("vec_id") === 42).select(col("embedding").as("qv"))
      val probes = cents.crossJoin(broadcast(qv))
        .withColumn("qd", V.sqDist(col("cv"), col("qv")))
        .orderBy(col("qd"), col("cid")).limit(3)
        .select(col("cid").as("cluster"),
          zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qr"))
      // Per-probed-shard ADC table over the query's residual:
      // (cluster, sub, code, dq).
      val qsubs = probes.select(col("cluster"), explode(expr(
          "transform(sequence(0, 7), j -> struct(j AS sub, slice(qr, j*8+1, 8) AS qsv))"))
          .as("x"))
        .select(col("cluster"), col("x.sub").as("sub"), col("x.qsv").as("qsv"))
      val dtable = qsubs.join(codebook, "sub")
        .select(col("cluster"), col("sub"), col("code"),
                V.sqDist(col("qsv"), col("cw")).as("dq"))
      codes.join(assigned, "vec_id")
        .join(broadcast(dtable), Seq("cluster", "sub", "code"))
        .groupBy("vec_id")
        .agg(r4(sqrt(sum("dq"))).as("approx_dist"))
        .filter(col("vec_id") =!= 42)
        .orderBy(col("approx_dist").asc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("approx_dist"))
    })
  )

  /** Per-subspace trained (sub, code, cw) codebook — 8 seeded local
    * fits over the ONE shared training sample, split into subvectors
    * driver-side; a K=4 codebook is a 32-row broadcast exactly like
    * the fixed one.
    */
  private[graft] def trainedCodebook(e: DataFrame, seed: Long,
                                     k: Int = 4): DataFrame =
    codebookDf(e.sparkSession, trainingSample(e), k, seed)

  /** Nearest-codeword assignment against an arbitrary (sub, code, cw)
    * codebook: (vec_id, sub, code, dist) — the shared encode shape.
    */
  private[graft] def encodeErr(e: DataFrame, codebook: DataFrame): DataFrame =
    V.nearestCentroids(ProductQuantize.subSplit(e), col("sv"),
        codebook.select(col("sub"), col("code").as("cid"), col("cw").as("cv")),
        Seq("vec_id", "sub"), by = Seq("sub"))
      .select(col("vec_id"), col("sub"),
              col("cluster").as("code"), col("d2").as("dist"))

  // Oracle-omitted by design (iterative k-means); see TrainedSpec for
  // the trained-beats-fixed distortion properties.
  val oracles: Map[String, String] = Map.empty
}
