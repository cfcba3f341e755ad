package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.TestData
import graft.TestData.r4
import graft.sources.WriteOnce
import graft.functions.{VectorCentroid, VectorOps => V}

/** §2.I vector / embedding operators — the reference's domain core
  * (reference README.md:2: triplet dataset → embeddings → vectordb).
  *
  * Scale shapes:
  *   - Every "query set × corpus" op broadcasts the small query side
  *     (100 rows) so the corpus never shuffles — at 100 TB the corpus
  *     scan is embarrassingly parallel and top-k folds per partition
  *     (`TakeOrderedAndProjectExec`) before the driver merge.
  *   - The O(n²) pair ops (dup pairs, triplet mining) join on label /
  *     blocking key, never full cross-product; the LSH variant in
  *     §2.J is the declared 100 TB escape hatch.
  *   - `kmeans_assign_fixed` is the IVF coarse quantizer: broadcast
  *     the packed k centroids, one map-side pass over the corpus with
  *     the nearest-centroid kernel — this plus `partitionBy(cluster)`
  *     parquet is the reference's S4 index build restated as a Spark
  *     pipeline.
  */
object Vectors {
  type Q = (SparkSession, String) => DataFrame

  /** DuckDB-side double-cast embedding expr. */
  private val E = "embedding::DOUBLE[]"

  /** Fixed ±1 hyperplanes for `vec_hyperplane_lsh` — a seeded 64-bit
    * LCG (Knuth multiplier) evaluated once driver-side; the SAME
    * literal arrays are interpolated into the Spark plan and the
    * DuckDB oracle, so no engine evaluates any randomness.
    */
  private[graft] def srpPlanes(nPlanes: Int, dim: Int): Seq[IndexedSeq[Int]] = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Long = {
      x = x * 6364136223846793005L + 1442695040888963407L; x
    }
    Seq.tabulate(nPlanes)(_ =>
      IndexedSeq.tabulate(dim)(_ =>
        if (((next() >>> 41) & 1L) == 0L) 1 else -1))
  }

  /** The fixed k=4 coarse centroids (= embeddings of vec_id 0..3) as
    * a (cid, cv) table, shared by the IVF operators and the pipeline.
    */
  def fixedCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  /** Per-shard occupancy of `assigned` (any table with a `cluster`
    * column) vs the balanced target for `numShards`, with the action
    * a rebalance job would take — "split" above 1.5× target (into
    * n_splits sub-shards), "merge" below 0.5×, "ok" between. Integer
    * cross-product thresholds (no float boundary); the corpus total
    * rides a single-partition window over the |shards|-sized
    * aggregate, never the corpus. Shared by `ivf_shard_rebalance`
    * and the facade's shardRebalancePlan.
    */
  def shardRebalance(assigned: DataFrame, numShards: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(W.partitionBy()))
      .withColumn("target", expr(s"total DIV $numShards"))
      .withColumn("skew_pct", expr("n * 100 DIV target"))
      .withColumn("n_splits", expr("(n + target - 1) DIV target"))
      .withColumn("action",
        when(col("n") * 10 > col("target") * 15, "split")
          .when(col("n") * 10 < col("target") * 5, "merge")
          .otherwise("ok"))
      .select("cluster", "n", "target", "skew_pct", "n_splits", "action")
  }

  /** Székely energy distance between two (vec_id, embedding) frames
    * (see `vec_energy_distance`): E = 2·E‖X−Y‖ − E‖X−X'‖ − E‖Y−Y'‖
    * with every pairwise distance micro-quantized before the exact
    * BIGINT sums. Inputs are EVAL SAMPLES — all three pair
    * aggregates are O(|a|·|b|) by design. A side with < 2 rows reads
    * NULL (its within-mean is undefined). Shared with
    * `GraftEngine.energyDistance`.
    */
  private[graft] def energyDistance(a: DataFrame, b: DataFrame): DataFrame = {
    def du(x: Column, y: Column): Column =
      floor(sqrt(V.sqDist(x, y)) * 1000000 + 0.5).cast("long")
    val ar = a.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val br = b.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val ar2 = a.select(col("vec_id").as("ia2"), col("embedding").as("va2"))
    val br2 = b.select(col("vec_id").as("ib2"), col("embedding").as("vb2"))
    val ab = ar.crossJoin(br)
      .agg(coalesce(sum(du(col("va"), col("vb"))), lit(0L)).as("s_ab"))
    val aa = ar.crossJoin(ar2).filter(col("ia") < col("ia2"))
      .agg(coalesce(sum(du(col("va"), col("va2"))), lit(0L)).as("s_aa"))
    val bb = br.crossJoin(br2).filter(col("ib") < col("ib2"))
      .agg(coalesce(sum(du(col("vb"), col("vb2"))), lit(0L)).as("s_bb"))
    val na = a.agg(count(lit(1)).as("n_ref"))
    val nb = b.agg(count(lit(1)).as("n_cur"))
    na.crossJoin(nb).crossJoin(ab).crossJoin(aa).crossJoin(bb)
      .withColumn("mean_cross", when(col("n_ref") * col("n_cur") > 0,
        r4(col("s_ab").cast("double")
          / (col("n_ref") * col("n_cur")).cast("double") / 1000000.0)))
      .withColumn("mean_ref", when(col("n_ref") > 1,
        r4(lit(2.0) * col("s_aa").cast("double")
          / (col("n_ref") * (col("n_ref") - 1)).cast("double")
          / 1000000.0)))
      .withColumn("mean_cur", when(col("n_cur") > 1,
        r4(lit(2.0) * col("s_bb").cast("double")
          / (col("n_cur") * (col("n_cur") - 1)).cast("double")
          / 1000000.0)))
      .withColumn("energy", when(col("n_ref") > 1 && col("n_cur") > 1,
        r4((lit(2.0) * col("s_ab").cast("double")
            / (col("n_ref") * col("n_cur")).cast("double")
          - lit(2.0) * col("s_aa").cast("double")
            / (col("n_ref") * (col("n_ref") - 1)).cast("double")
          - lit(2.0) * col("s_bb").cast("double")
            / (col("n_cur") * (col("n_cur") - 1)).cast("double"))
          / 1000000.0)))
      .select("n_ref", "n_cur", "mean_cross", "mean_ref", "mean_cur",
        "energy")
  }

  val defs: Map[String, Q] = Map(
    "vec_l2_norm" -> ((s, d) =>
      TestData.embeddings(s, d)
        .select(col("vec_id"), r4(V.l2norm(col("embedding"))).as("nrm"))
        .orderBy("vec_id")),

    // SIGNED RANDOM PROJECTION / HYPERPLANE LSH (round 10): the
    // classic cosine-LSH signature (Charikar 2002) — 16 sign bits
    // against FIXED ±1 hyperplanes, the bucketing key an
    // embedding-space blocker shards on when MinHash (set-shaped)
    // doesn't apply. Determinism: the planes come from a seeded
    // Scala LCG evaluated ONCE driver-side and interpolated into
    // BOTH engines as literal arrays (the spectral-basis/lsh_tuning
    // precedent); each dot product is quantized (×1e4, the
    // vec_dot_pairs protocol) BEFORE the strict >0 sign test, so
    // the bit is engine-identical. Sign flips of near-zero dots are
    // a property of ANY SRP blocker — soundness comes from multi-
    // band OR-ing downstream, not from this key. Shape: one
    // map-side pass, no shuffle before the final sort; 16×64 HOF
    // dot products per row (at corpus scale, fold the 16 planes
    // into ONE custom expression pass — the SortedIntersectCount
    // precedent; documented trade at 500-row fixture grain).
    "vec_hyperplane_lsh" -> ((s, d) => {
      val sig = srpPlanes(16, 64).zipWithIndex.map { case (pl, i) =>
        val plArr = array(pl.map(v => lit(v.toDouble)): _*)
        when(floor(V.dot(col("embedding"), plArr) * 10000 + 0.5) > 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      TestData.embeddings(s, d)
        .select(col("vec_id"), sig.as("sig16"))
        .orderBy("vec_id")
    }),

    // Per-dimension corpus statistics — the normalization/whitening
    // stats pass every embedding pipeline runs before quantizing
    // (scalar-quantizer ranges, mean-centering, dead-dimension
    // detection). One explode + two-phase aggregate; output is
    // dim-sized regardless of corpus size.
    "vec_dim_stats" -> ((s, d) =>
      TestData.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("dim")
        .agg(r4(avg(col("v"))).as("mean"),
             r4(stddev_samp(col("v"))).as("std"),
             r4(min(col("v"))).as("mn"),
             r4(max(col("v"))).as("mx"))
        .orderBy("dim")),

    // ANISOTROPY DIAGNOSTIC (round 13): the "is this embedding space
    // collapsed" readout (Ethayarajh's anisotropy: contextual
    // embeddings often occupy a narrow cone — average pairwise
    // cosine ≫ 0 — which silently breaks cosine thresholds tuned on
    // isotropic assumptions, i.e. every dedup_embedding/semantic
    // cutoff). Closed form in ONE pass: for unit vectors,
    // Σ_{i≠j} cos(u_i, u_j) = ‖Σu‖² − Σ‖u‖², so the whole corpus
    // readout needs only per-dimension sums. Determinism: each
    // vector's coords normalize by a left-fold norm (identical fold
    // in both engines) and quantize to integer MICRO units BEFORE
    // any cross-row sum — per-dim sums, ‖S‖² and Σ‖u‖² are then
    // exact BIGINTs (bound: dim·(n·1e6)² < 2^63 ⇒ n ≲ 1e3 at
    // dim 8; past that sum S_d² in doubles, stated). Two readouts:
    // avg_pairwise_cos (≈0 isotropic) and mean_norm = ‖mean u‖
    // (→1 fully collapsed cone).
    "vec_anisotropy" -> ((s, d) => {
      val u = TestData.embeddings(s, d)
        .withColumn("norm2", expr("aggregate(embedding, " +
          "cast(0.0 as double), (acc, x) -> acc + " +
          "cast(x as double) * cast(x as double))"))
        .filter(col("norm2") > 0)
        .select(col("vec_id"), col("norm2"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("u", floor(col("x").cast("double")
          / sqrt(col("norm2")) * 1000000 + 0.5).cast("long"))
        .ckpt() // two consumers: per-vec + per-dim sums
      val perVec = u.groupBy("vec_id")
        .agg(sum(col("u") * col("u")).as("uu"))
        .agg(count(lit(1)).as("n_vecs"), sum("uu").as("su2"))
      val dims = u.groupBy("pos").agg(sum("u").as("s_d"))
        .agg(count(lit(1)).as("dim"),
          sum(col("s_d") * col("s_d")).as("ss"))
      perVec.crossJoin(broadcast(dims))
        .select(col("n_vecs"), col("dim"),
          when(col("n_vecs") > 1, r4(
            (col("ss") - col("su2")).cast("double")
              / (col("n_vecs") * (col("n_vecs") - 1)).cast("double")
              / 1000000000000.0)).as("avg_pairwise_cos"),
          when(col("n_vecs") > 0, r4(
            sqrt(col("ss").cast("double"))
              / (col("n_vecs").cast("double") * 1000000.0)))
            .as("mean_norm"))
    }),

    "vec_normalize" -> ((s, d) =>
      TestData.embeddings(s, d)
        .withColumn("nrm", V.l2norm(col("embedding")))
        .withColumn("unit", transform(col("embedding"), x => x / col("nrm")))
        .select(col("vec_id"),
          r4(V.l2norm(col("unit"))).as("unit_norm"),
          r4(element_at(col("unit"), 1)).as("u0"))
        .orderBy("vec_id")),

    "vec_dot_pairs" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        .filter(col("id_a") < 100)
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_b") === col("id_a") + lit(100))
        .select(col("id_a"), col("id_b"),
                r4(V.dot(col("va"), col("vb"))).as("dp"))
        .orderBy("id_a")
    }),

    // Brute-force kNN of one query vector: broadcast the 1-row query,
    // score the corpus, TakeOrderedAndProject folds top-10 per
    // partition — no global sort.
    "vec_cosine_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
        .select(col("vec_id"), r4(col("score")).as("cos"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    }),

    // Batch kNN: 10 query vectors broadcast against the corpus,
    // per-query top-3 via ranking window on the query id.
    "knn_batch_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
      val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("rnk"), col("vec_id").as("nn_id"),
                r4(col("score")).as("cos"))
        .orderBy("qid", "rnk")
    }),

    // Same query as knn_batch_topk, but ranked by the bounded-heap
    // TopKByScore Aggregator instead of a window: the window form
    // must shuffle and sort EVERY scored pair per query, while the
    // two-phase aggregate folds each task's candidates into a k-entry
    // buffer map-side — the shuffle carries |tasks|·|Q| k-row buffers
    // instead of n·|Q| rows. Identical output (same tie protocol), so
    // it shares the window form's oracle semantics.
    "knn_agg_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
      val topk = udaf(new graft.functions.TopKByScore(3))
      scored.groupBy("qid")
        .agg(topk(col("vec_id"), col("score")).as("tk"))
        .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("qid"), (col("pos") + 1).as("rnk"),
                col("e._1").as("nn_id"), r4(col("e._2")).as("cos"))
        .orderBy("qid", "rnk")
    }),

    // Max-inner-product search: recommendation-style scoring where
    // vector magnitude matters (cosine's normalization discards it).
    // Same broadcast-query/top-k-fold shape as vec_cosine_topk; sort
    // key is r4-quantized so fp accumulation-order near-ties can't
    // flip the ranking cross-engine.
    "vec_mips_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val q = e.filter(col("vec_id") === 7)
        .select(col("embedding").as("qv"))
      e.filter(col("vec_id") =!= 7)
        .crossJoin(broadcast(q))
        .withColumn("ip", r4(V.dot(col("embedding"), col("qv"))))
        .select(col("vec_id"), col("ip").as("inner_product"))
        .orderBy(col("inner_product").desc, col("vec_id"))
        .limit(10)
    }),

    // FILTERED kNN — the vector-DB "metadata filter + similarity"
    // query: neighbors are drawn only from corpus rows passing a
    // metadata predicate (label = 3). Pre-filtering beats
    // post-filtering top-k (which under-fills when the filter is
    // selective), and the predicate reaches the parquet scan as a
    // pushed filter, so at 100 TB the scan itself shrinks.
    "knn_filtered_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val scored = e.filter(col("label") === 3)
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
      val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("rnk"), col("vec_id").as("nn_id"),
                r4(col("score")).as("cos"))
        .orderBy("qid", "rnk")
    }),

    // Near-duplicate candidate pairs, blocked on label (the exact
    // O(n²/blocks) baseline; the LSH path in §2.J is the scale form).
    "dup_pairs_cosine" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val a = e.select(col("vec_id").as("id_a"), col("label").as("lbl"),
                       col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("label").as("lbl_b"),
                       col("embedding").as("vb"))
      a.join(b, col("lbl") === col("lbl_b") && col("id_a") < col("id_b"))
        .withColumn("score", V.cosine(col("va"), col("vb")))
        .filter(col("score") > 0.4)
        .select(col("id_a"), col("id_b"), col("lbl").as("label"),
                r4(col("score")).as("cos"))
        .orderBy("id_a", "id_b")
    }),

    // IVF coarse quantization with fixed centroids (= vectors 0..3):
    // broadcast packed centroids, argmin by the nearest-centroid
    // kernel — one map-side corpus pass, no shuffle.
    "kmeans_assign_fixed" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      V.assignToCentroids(e, Vectors.fixedCentroids(e), Seq("vec_id"))
        .select(col("vec_id"), col("cluster"), r4(col("dist")).as("dist"))
        .orderBy("vec_id")
    }),

    "ivf_partition_stats" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      V.assignToCentroids(e, Vectors.fixedCentroids(e), Seq("vec_id"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"), r4(avg(col("dist"))).as("mean_dist"))
        .orderBy("cluster")
    }),

    // IVF SHARD REBALANCE PLAN: per-shard occupancy against the
    // balanced target (total DIV k), with the action a maintenance
    // job would take — "split" above 1.5× target (into ceil(n/target)
    // sub-shards), "merge" below 0.5×, "ok" between. The decision
    // thresholds are exact integer cross-products (n·10 vs target·15),
    // so no float boundary can flip a shard's action cross-engine.
    // The occupancy aggregate is |shards|-sized; the single-partition
    // window that attaches the corpus total runs over that tiny
    // table, never the corpus.
    "ivf_shard_rebalance" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      Vectors.shardRebalance(
          V.assignToCentroids(e, Vectors.fixedCentroids(e), Seq("vec_id")), 4)
        .orderBy("cluster")
    }),

    // IVF DELETE + COMPACT (round 8): apply a tombstone batch
    // (vec_id % 53 = 0) to the STORED index and rewrite ONLY the
    // touched inverted lists — the vector-DB deletion path (GDPR
    // erasure, re-embeds) that must not cost a full index rebuild.
    // Touched-cluster discovery is a bounded driver IN-list (≤ k
    // clusters — the partition-prune precedent); untouched
    // partitions are served from the ORIGINAL files, compacted ones
    // from the new write, and the declared output summarizes the
    // union per cluster (count + surviving-id checksum), so a
    // tombstone that survived, an extra deletion, or a corrupted
    // untouched shard all hash-fail. WriteOnce keys the compacted
    // dir by the input tag.
    "ivf_delete_compact" -> ((s, d) => {
      val s0 = graft.sources.IndexStore.readIvfIndex(s, d)
      val tomb = TestData.embeddings(s, d)
        .filter(col("vec_id") % 53 === 0).select(col("vec_id").as("tid"))
      val touched = s0.join(broadcast(tomb), col("vec_id") === col("tid"))
        .select("cluster").distinct().collect().map(_.get(0)).toSeq
      // Untouched clusters read from the live index; touched ones
      // from the compacted dir — skipped entirely when no tombstone
      // landed (an empty compacted dir has no schema to infer).
      val untouched =
        (if (touched.isEmpty) s0
         else s0.filter(!col("cluster").isInCollection(touched)))
          .select("vec_id", "cluster")
      val after =
        if (touched.isEmpty) untouched
        else {
          val dir = WriteOnce.sink("ivf_compact", d, "embeddings") { dir =>
            s0.filter(col("cluster").isInCollection(touched))
              .join(broadcast(tomb), col("vec_id") === col("tid"), "left_anti")
              .write.mode("overwrite").partitionBy("cluster").parquet(dir)
          }
          s.read.parquet(dir).select("vec_id", "cluster").unionByName(untouched)
        }
      val before = s0.groupBy("cluster").agg(count(lit(1)).as("n_before"))
      // LEFT join from `before` + coalesce: a cluster whose vectors
      // are ALL tombstoned must still report (n_after = 0,
      // id_checksum_after = 0) — the oracle's conditional-sum form
      // emits exactly that (r8 advice item).
      before
        .join(after.groupBy("cluster")
          .agg(count(lit(1)).as("n_after"),
            sum("vec_id").as("id_checksum_after")), Seq("cluster"), "left")
        .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
        .withColumn("id_checksum_after",
          coalesce(col("id_checksum_after"), lit(0L)))
        .withColumn("n_deleted", col("n_before") - col("n_after"))
        .select("cluster", "n_before", "n_after", "n_deleted",
          "id_checksum_after")
        .orderBy("cluster")
    }),

    // Typed Aggregator UDAF: per-label element-wise mean vector.
    "vec_centroid_udaf" -> ((s, d) => {
      val centroid = udaf(new VectorCentroid(64))
      TestData.embeddings(s, d)
        .groupBy("label")
        .agg(centroid(col("embedding")).as("c"))
        .select(col("label"),
          r4(element_at(col("c"), 1)).as("c0"),
          r4(element_at(col("c"), 2)).as("c1"),
          r4(element_at(col("c"), 3)).as("c2"),
          r4(element_at(col("c"), 4)).as("c3"))
        .orderBy("label")
    }),

    // The reference's S1: mine (anchor, positive, negative) triplets.
    // positive = same-label max-cosine (≠ self), negative =
    // different-label min-cosine; ties broken by min id.
    "triplet_mine" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("aid"), col("label").as("albl"),
                col("embedding").as("av"))
      val scored = e.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("aid"))
        .withColumn("score", V.cosine(col("embedding"), col("av")))
      val wPos = Window.partitionBy("aid").orderBy(col("score").desc, col("vec_id"))
      val pos = scored.filter(col("label") === col("albl"))
        .withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
        .select(col("aid"), col("vec_id").as("pos_id"),
                r4(col("score")).as("pos_cos"))
      val wNeg = Window.partitionBy("aid").orderBy(col("score").asc, col("vec_id"))
      val neg = scored.filter(col("label") =!= col("albl"))
        .withColumn("rn", row_number().over(wNeg)).filter(col("rn") === 1)
        .select(col("aid").as("aid2"), col("vec_id").as("neg_id"),
                r4(col("score")).as("neg_cos"))
      pos.join(neg, col("aid") === col("aid2"))
        .select(col("aid").as("anchor_id"), col("pos_id"), col("pos_cos"),
                col("neg_id"), col("neg_cos"))
        .orderBy("anchor_id")
    }),

    // BUCKETED TRIPLET MINING (round 15, VERDICT r14 #10): the
    // reference's S1 at scale. The declared triplet_mine
    // brute-forces < 100 anchors (fine for the fixture, dead at
    // 100× anchors); this form mines candidates from each anchor's
    // 2 IVF-probed clusters — positives are the same-label
    // max-cosine among probed candidates, negatives the
    // different-label MIN-cosine among probed candidates, which at
    // scale is the SEMI-HARD negative (a nearby-cluster impostor)
    // rather than brute-force's trivially-easy global minimum —
    // the negative a metric-learning recipe actually wants. Cost:
    // anchors probe 2 clusters each; never anchors × corpus.
    // Positive-recall vs brute force + label invariants pinned in
    // PropertySpec; anchors whose probed clusters hold no same-label
    // candidate drop (the inner join, mirrored).
    "triplet_mine_bucketed" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val cents = fixedCentroids(e)
      val assigned = V.assignToCentroids(e, cents,
          Seq("vec_id", "embedding", "label"))
        .select(col("vec_id"), col("embedding"), col("label"),
          col("cluster"))
      val anchors = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("aid"), col("label").as("albl"),
          col("embedding").as("av"))
      val probes = V.nearestCentroids(anchors, col("av"), cents,
          Seq("aid", "albl", "av"), 2)
        .select(col("aid"), col("albl"), col("av"),
          col("cluster").as("probe_cluster"))
      val scored = assigned
        .join(probes.hint("shuffle_hash"),
          col("cluster") === col("probe_cluster"))
        .filter(col("vec_id") =!= col("aid"))
        .withColumn("score", r4(V.cosine(col("embedding"), col("av"))))
        .ckpt() // positive + negative branches
      val wPos = Window.partitionBy("aid")
        .orderBy(col("score").desc, col("vec_id"))
      val wNeg = Window.partitionBy("aid")
        .orderBy(col("score").asc, col("vec_id"))
      val pos = scored.filter(col("label") === col("albl"))
        .withColumn("rn", row_number().over(wPos))
        .filter(col("rn") === 1)
        .select(col("aid"), col("vec_id").as("pos_id"),
          col("score").as("pos_cos"))
      val neg = scored.filter(col("label") =!= col("albl"))
        .withColumn("rn", row_number().over(wNeg))
        .filter(col("rn") === 1)
        .select(col("aid").as("aid2"), col("vec_id").as("neg_id"),
          col("score").as("neg_cos"))
      pos.join(neg, col("aid") === col("aid2"))
        .select(col("aid").as("anchor_id"), col("pos_id"),
          col("pos_cos"), col("neg_id"), col("neg_cos"))
        .orderBy("anchor_id")
    }),

    // Full Lloyd's k-means — oracle-omitted (iterative/
    // init-dependent); property-tested in the suite. The fit runs on
    // the bounded 4096-row training sample (one TakeOrdered pass +
    // driver-local Lloyd's — the only shape that works at 100 TB;
    // FAISS trains the same way), then ONE distributed assign pass
    // against broadcast centroids produces the cluster sizes. The
    // sample job is memoized per (session, fixture) and shared with
    // every trained-codebook key.
    "kmeans_lloyd" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val cents = TrainedQuantize.fixtureCentroids(s, d, 10)
      V.assignToCentroids(e, cents, Seq("vec_id"))
        .groupBy(col("cluster").as("prediction"))
        .agg(count(lit(1)).as("cluster_size"))
        .orderBy(col("cluster_size").desc, col("prediction"))
    }),

    // kNN CLASSIFICATION EVAL: predict each query's label by majority
    // vote of its top-5 cosine neighbors (excluding itself), report
    // per-label accuracy — the label-propagation / weak-supervision
    // quality loop over the embedding space. Ranking key is the
    // r4-quantized cosine (determinism rule); vote ties break toward
    // the smaller label. Same broadcast-queries shape as
    // knn_batch_topk; at 100 TB the neighbor source swaps to the IVF
    // probe with the eval unchanged.
    "vec_knn_classify" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
                col("label").as("true_label"))
      val wTop = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("vec_id"))
      val neighbors = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", r4(V.cosine(col("embedding"), col("qv"))))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 5)
      val wVote = Window.partitionBy("qid")
        .orderBy(col("votes").desc, col("label"))
      neighbors
        .groupBy("qid", "true_label", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .groupBy("true_label")
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("label") === col("true_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .orderBy("true_label")
    }),

    // EMBEDDING DRIFT: per-dimension mean shift between two corpus
    // halves (vec_id parity stands in for train-vs-serve batches),
    // scaled by the dimension's corpus stddev — the serving-skew
    // tripwire run on every embedding refresh. One explode + one
    // grouped aggregate (dim-sized output); means and std r4-quantized
    // BEFORE the ratio so the top-10 cut can't flip cross-engine.
    // ENERGY DISTANCE (round 14): the DISTRIBUTION-level two-sample
    // drift test — vec_drift_detect ranks per-DIMENSION mean shifts,
    // which misses covariance/shape drift entirely; Székely's energy
    // statistic E = 2·E‖X−Y‖ − E‖X−X'‖ − E‖Y−Y'‖ is zero iff the
    // distributions are EQUAL, catching anything. Ref/cur = the %2
    // split of an md5-hash EVAL SAMPLE (1/8 of the corpus — the
    // pairwise stage is O(sample²) by design and documented; at
    // 100 TB the sample rate is the knob, the statistic's power
    // grows with n² pairs). Every pairwise distance micro-quantized
    // BEFORE the exact BIGINT sums; one mirrored readout expression.
    // Property: a planted +5 shift reads energy ≫ the exchangeable
    // parity split's ≈ 0 (PropertySpec).
    "vec_energy_distance" -> ((s, d) => {
      val sample = TestData.embeddings(s, d)
        .filter(substring(md5(col("vec_id").cast("string")), 1, 2) < "20")
        .select(col("vec_id"), col("embedding"))
        .ckpt() // two sides × three pair aggregates
      energyDistance(sample.filter(col("vec_id") % 2 === 0),
        sample.filter(col("vec_id") % 2 === 1))
    }),

    "vec_drift_detect" -> ((s, d) =>
      TestData.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("dim")
        .agg(
          r4(avg(when(col("vec_id") % 2 === 0, col("v")))).as("mean_a"),
          r4(avg(when(col("vec_id") % 2 === 1, col("v")))).as("mean_b"),
          r4(stddev_samp(col("v"))).as("sd"))
        .withColumn("drift", r4(abs(col("mean_a") - col("mean_b")) / col("sd")))
        .orderBy(col("drift").desc, col("dim"))
        .limit(10)),

    // PCA TOP-4 COMPONENTS via one-pass Gram aggregation + driver-
    // local power iteration with Hotelling deflation: the corpus is
    // read ONCE (map-side-combined Σx/Σxxᵀ buffers, ~17 KB each), the
    // d×d eigen steps run on the driver in corpus-size-independent
    // time (d²·iters·k) — the whitening / dimensionality-reduction
    // fit shape for 100 TB of embeddings, now returning the basis a
    // compression user actually needs. Oracle-omitted (iterative
    // linear algebra is not portable DuckDB SQL); TrainedSpec pins
    // per-component residuals ‖Σvᶜ − λᶜvᶜ‖, pairwise orthogonality,
    // and descending eigenvalues against the SAME covariance.
    "vec_pca_power" -> ((s, d) => {
      val dim = 64
      val gram = udaf(new graft.functions.GramMatrix(dim))
      val flat = TestData.embeddings(s, d)
        .select(col("embedding").cast("array<double>").as("v"))
        .agg(gram(col("v")).as("g"))
        .head().getSeq[Double](0)
      val (_, _, cov) = graft.functions.GramMatrix.covarianceOf(flat, dim)
      val comps = graft.functions.GramMatrix.topComponents(cov, 4, 500)
      import s.implicits._
      comps.zipWithIndex.flatMap { case ((lambda, vec), c) =>
        vec.toSeq.zipWithIndex.map { case (l, i) => (c, i, l, lambda) }
      }
        .toDF("component", "dim", "loading", "eigenvalue")
        .select(col("component"), col("dim"),
          r4(col("loading")).as("loading"),
          r4(col("eigenvalue")).as("eigenvalue"))
        .orderBy("component", "dim")
    }),

    // DIAGONAL MAHALANOBIS OUTLIERS (round 10): per-dimension
    // z-scores squared and summed — the embedding-space outlier
    // screen that catches corrupt/degenerate vectors a cosine-based
    // dedup never sees (full Mahalanobis needs the covariance
    // inverse; the diagonal form is the standard at-scale
    // surrogate). Determinism: coordinates quantized to integer
    // MILLI-units first, so per-dim sums are exact BIGINTs (bound:
    // n·x_m² < 2^63 ⇒ n ≲ 9e12 at unit scale — the milli choice IS
    // the bound trade); variances via n·Σx²−(Σx)²; each z² term
    // micro-quantized before the per-vector sum. Top-20 via global
    // sort+limit (TakeOrderedAndProject — never a corpus-grain rank
    // window); the dims-stats table is a dims-sized broadcast.
    "vec_mahalanobis_outlier" -> ((s, d) => {
      val dims = TestData.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x_m",
          floor(col("x").cast("double") * 1000 + 0.5).cast("long"))
      val stats = dims.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("x_m").as("sx"),
          sum(col("x_m") * col("x_m")).as("sxx"))
        .withColumn("mean_m", col("sx").cast("double") / col("n"))
        .withColumn("var_m",
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
            / (col("n") * (col("n") - 1)).cast("double"))
        .filter(col("var_m") > 0)
        .select("dim", "mean_m", "var_m")
      val scored = dims.join(broadcast(stats), "dim")
        .withColumn("term_u", floor(
          (col("x_m").cast("double") - col("mean_m"))
            * (col("x_m").cast("double") - col("mean_m")) / col("var_m")
            * 1000000 + 0.5).cast("long"))
        .groupBy("vec_id")
        .agg(sum("term_u").as("score_u"))
        .orderBy(col("score_u").desc, col("vec_id"))
        .limit(20)
      scored
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score_u").desc, col("vec_id"))))
        .withColumn("score", r4(col("score_u") / 1000000.0))
        .select("rk", "vec_id", "score_u", "score")
        .orderBy("rk")
    }),

    // CENTROID SILHOUETTE (round 10): the simplified (centroid-
    // based) silhouette per vector — a = distance to own centroid,
    // b = nearest OTHER centroid, s = (b−a)/max(a,b) — the index-
    // health readout that says whether the IVF coarse quantizer's
    // cells are actually separated (s → 0: probe more cells or
    // re-train; the full pairwise silhouette is O(n²) and never
    // runs at corpus scale — this is the standard surrogate).
    // Distances micro-quantized BEFORE the argmin (float sort keys
    // quantize; ties break on cid, mirrored), so a/b/s are exact
    // from there. Shape: one broadcast centroid cross join (k
    // rows/vec), two map-side-combinable aggregates — no shuffle
    // wider than the corpus-grain groupBy.
    "ann_centroid_silhouette" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val dists = e.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(fixedCentroids(e)))
        .withColumn("d_u",
          floor(sqrt(V.sqDist(col("embedding"), col("cv"))) * 1000000
            + 0.5).cast("long"))
        .select("vec_id", "cid", "d_u")
        .ckpt()
      val own = dists.groupBy("vec_id")
        .agg(min(struct(col("d_u"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cluster"),
          col("m.d_u").as("a_u"))
      dists.join(own, "vec_id")
        .filter(col("cid") =!= col("cluster"))
        .groupBy("vec_id", "cluster", "a_u")
        .agg(min("d_u").as("b_u"))
        .withColumn("sil", when(greatest(col("a_u"), col("b_u")) > 0,
          r4((col("b_u") - col("a_u")).cast("double")
            / greatest(col("a_u"), col("b_u")).cast("double")))
          .otherwise(lit(0.0)))
        .select("vec_id", "cluster", "a_u", "b_u", "sil")
        .orderBy("vec_id")
    })
  )

  val oracles: Map[String, String] = Map(
    // Same md5 sample + %2 split; per-pair micro-quantized distances,
    // exact BIGINT sums, one mirrored readout expression.
    "vec_energy_distance" ->
      """WITH sam AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings
        |  WHERE substring(md5(vec_id::VARCHAR), 1, 2) < '20'),
        |a AS (SELECT vec_id, v FROM sam WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id, v FROM sam WHERE vec_id % 2 = 1),
        |ab AS (
        |  SELECT coalesce(sum(floor(sqrt(list_sum(list_transform(
        |    list_zip(x.v, y.v), p -> (p[1]-p[2])*(p[1]-p[2]))))
        |    * 1000000 + 0.5)::BIGINT), 0)::BIGINT AS s_ab
        |  FROM a x CROSS JOIN b y),
        |aa AS (
        |  SELECT coalesce(sum(floor(sqrt(list_sum(list_transform(
        |    list_zip(x.v, y.v), p -> (p[1]-p[2])*(p[1]-p[2]))))
        |    * 1000000 + 0.5)::BIGINT), 0)::BIGINT AS s_aa
        |  FROM a x JOIN a y ON x.vec_id < y.vec_id),
        |bb AS (
        |  SELECT coalesce(sum(floor(sqrt(list_sum(list_transform(
        |    list_zip(x.v, y.v), p -> (p[1]-p[2])*(p[1]-p[2]))))
        |    * 1000000 + 0.5)::BIGINT), 0)::BIGINT AS s_bb
        |  FROM b x JOIN b y ON x.vec_id < y.vec_id),
        |na AS (SELECT count(*)::BIGINT AS n_ref FROM a),
        |nb AS (SELECT count(*)::BIGINT AS n_cur FROM b)
        |SELECT n_ref, n_cur,
        |  CASE WHEN n_ref * n_cur > 0 THEN
        |    floor(s_ab::DOUBLE / (n_ref * n_cur)::DOUBLE / 1000000.0
        |      * 10000 + 0.5) / 10000 END AS mean_cross,
        |  CASE WHEN n_ref > 1 THEN
        |    floor(2.0 * s_aa::DOUBLE / (n_ref * (n_ref - 1))::DOUBLE
        |      / 1000000.0 * 10000 + 0.5) / 10000 END AS mean_ref,
        |  CASE WHEN n_cur > 1 THEN
        |    floor(2.0 * s_bb::DOUBLE / (n_cur * (n_cur - 1))::DOUBLE
        |      / 1000000.0 * 10000 + 0.5) / 10000 END AS mean_cur,
        |  CASE WHEN n_ref > 1 AND n_cur > 1 THEN
        |    floor((2.0 * s_ab::DOUBLE / (n_ref * n_cur)::DOUBLE
        |      - 2.0 * s_aa::DOUBLE / (n_ref * (n_ref - 1))::DOUBLE
        |      - 2.0 * s_bb::DOUBLE / (n_cur * (n_cur - 1))::DOUBLE)
        |      / 1000000.0 * 10000 + 0.5) / 10000 END AS energy
        |FROM na CROSS JOIN nb CROSS JOIN ab CROSS JOIN aa
        |CROSS JOIN bb""".stripMargin,
    // Left-fold norm (list_reduce seeds with the first element —
    // same order as Spark's aggregate with a 0.0 seed), coords
    // micro-quantized BEFORE any cross-row sum, exact-BIGINT
    // ‖S‖²/Σ‖u‖², mirrored divisions r4'd at the readout.
    "vec_anisotropy" ->
      s"""WITH e AS (
        |  SELECT vec_id, $E AS v FROM embeddings),
        |nn AS (
        |  SELECT vec_id, v,
        |    list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)
        |      AS norm2
        |  FROM e),
        |u AS (
        |  SELECT vec_id, p AS pos,
        |    floor(v[(p + 1)::INT] / sqrt(norm2) * 1000000 + 0.5)::BIGINT
        |      AS u
        |  FROM nn, LATERAL (SELECT unnest(range(0, len(v))) AS p)
        |  WHERE norm2 > 0),
        |pv AS (
        |  SELECT count(*)::BIGINT AS n_vecs, sum(uu)::BIGINT AS su2 FROM (
        |    SELECT vec_id, sum(u * u)::BIGINT AS uu FROM u GROUP BY 1)),
        |dm AS (
        |  SELECT count(*)::BIGINT AS dim, sum(s_d * s_d)::BIGINT AS ss
        |  FROM (SELECT pos, sum(u)::BIGINT AS s_d FROM u GROUP BY 1))
        |SELECT pv.n_vecs, dm.dim,
        |  CASE WHEN pv.n_vecs > 1 THEN
        |    floor((dm.ss - pv.su2)::DOUBLE
        |      / (pv.n_vecs * (pv.n_vecs - 1))::DOUBLE
        |      / 1000000000000.0 * 10000 + 0.5) / 10000
        |  END AS avg_pairwise_cos,
        |  CASE WHEN pv.n_vecs > 0 THEN
        |    floor(sqrt(dm.ss::DOUBLE) / (pv.n_vecs::DOUBLE * 1000000.0)
        |      * 10000 + 0.5) / 10000
        |  END AS mean_norm
        |FROM pv CROSS JOIN dm""".stripMargin,
    "vec_l2_norm" ->
      s"""SELECT vec_id,
        |  floor((sqrt(list_sum(list_transform($E, x -> x*x))))*10000 + 0.5)/10000 AS nrm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // Same Scala-seeded literal planes as the Spark plan; dot
    // quantized ×1e4 before the strict sign test (vec_dot_pairs
    // protocol).
    "vec_hyperplane_lsh" -> {
      val terms = srpPlanes(16, 64).zipWithIndex.map { case (pl, i) =>
        s"(CASE WHEN floor(list_dot_product($E, " +
          s"${pl.mkString("[", ", ", "]")}::DOUBLE[]) * 10000 + 0.5)" +
          s" > 0 THEN ${1L << i} ELSE 0 END)"
      }
      s"""SELECT vec_id,
        |  (${terms.mkString("\n  + ")})::BIGINT AS sig16
        |FROM embeddings ORDER BY vec_id""".stripMargin
    },
    "vec_knn_classify" ->
      s"""WITH q AS (
        |  SELECT vec_id AS qid, $E AS qv, label AS true_label
        |  FROM embeddings WHERE vec_id < 50),
        |nn AS (
        |  SELECT qid, true_label, label FROM (
        |    SELECT q.qid, q.true_label, e.label,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        floor((list_cosine_similarity(e.$E, q.qv))*10000 + 0.5)/10000
        |          DESC, e.vec_id) AS rnk
        |    FROM embeddings e, q WHERE e.vec_id <> q.qid)
        |  WHERE rnk <= 5),
        |votes AS (
        |  SELECT qid, true_label, label, count(*) AS votes FROM nn
        |  GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT qid, true_label, label FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY votes DESC, label) AS vr FROM votes)
        |  WHERE vr = 1)
        |SELECT true_label, count(*)::BIGINT AS n_queries,
        |  sum(CASE WHEN label = true_label THEN 1 ELSE 0 END)::BIGINT
        |    AS n_correct
        |FROM pred GROUP BY 1 ORDER BY true_label""".stripMargin,
    "vec_drift_detect" ->
      s"""WITH x AS (
        |  SELECT vec_id, i - 1 AS dim, ($E)[i] AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)),
        |st AS (
        |  SELECT dim,
        |    floor((avg(CASE WHEN vec_id % 2 = 0 THEN v END))*10000 + 0.5)/10000
        |      AS mean_a,
        |    floor((avg(CASE WHEN vec_id % 2 = 1 THEN v END))*10000 + 0.5)/10000
        |      AS mean_b,
        |    floor((stddev_samp(v))*10000 + 0.5)/10000 AS sd
        |  FROM x GROUP BY dim)
        |SELECT dim, mean_a, mean_b, sd,
        |  floor((abs(mean_a - mean_b) / sd)*10000 + 0.5)/10000 AS drift
        |FROM st
        |ORDER BY floor((abs(mean_a - mean_b) / sd)*10000 + 0.5)/10000 DESC,
        |  dim LIMIT 10""".stripMargin,
    "vec_dim_stats" ->
      s"""WITH x AS (
        |  SELECT i - 1 AS dim, ($E)[i] AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i))
        |SELECT dim,
        |  floor((avg(v))*10000 + 0.5)/10000 AS mean,
        |  floor((stddev_samp(v))*10000 + 0.5)/10000 AS std,
        |  floor((min(v))*10000 + 0.5)/10000 AS mn,
        |  floor((max(v))*10000 + 0.5)/10000 AS mx
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
    "vec_normalize" ->
      s"""SELECT vec_id,
        |  floor((sqrt(list_sum(list_transform(list_transform($E,
        |    x -> x / sqrt(list_sum(list_transform($E, y -> y*y)))),
        |    x -> x*x))))*10000 + 0.5)/10000 AS unit_norm,
        |  floor((($E)[1] / sqrt(list_sum(list_transform($E, y -> y*y))))*10000 + 0.5)/10000 AS u0
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "vec_dot_pairs" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  floor((list_dot_product(a.$E, b.$E))*10000 + 0.5)/10000 AS dp
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 100
        |WHERE a.vec_id < 100 ORDER BY id_a""".stripMargin,
    "vec_cosine_topk" ->
      s"""WITH q AS (SELECT $E AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  floor((list_cosine_similarity($E, qv))*10000 + 0.5)/10000 AS cos
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity($E, qv) DESC, vec_id LIMIT 10""".stripMargin,
    "knn_batch_topk" ->
      s"""SELECT qid, rnk, nn_id, floor((score)*10000 + 0.5)/10000 AS cos FROM (
        |  SELECT q.vec_id AS qid, e.vec_id AS nn_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(e.$E, q.$E) DESC, e.vec_id) AS rnk
        |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.vec_id)
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    // Same relational semantics as knn_batch_topk — the Aggregator is
    // an execution-strategy change, not a semantic one.
    "knn_agg_topk" ->
      s"""SELECT qid, rnk, nn_id, floor((score)*10000 + 0.5)/10000 AS cos FROM (
        |  SELECT q.vec_id AS qid, e.vec_id AS nn_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(e.$E, q.$E) DESC, e.vec_id) AS rnk
        |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.vec_id)
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "vec_mips_topk" ->
      s"""WITH q AS (SELECT $E AS qv FROM embeddings WHERE vec_id = 7)
        |SELECT vec_id,
        |  floor((list_dot_product($E, qv))*10000 + 0.5)/10000 AS inner_product
        |FROM embeddings, q WHERE vec_id <> 7
        |ORDER BY inner_product DESC, vec_id LIMIT 10""".stripMargin,
    "knn_filtered_topk" ->
      s"""SELECT qid, rnk, nn_id, floor((score)*10000 + 0.5)/10000 AS cos FROM (
        |  SELECT q.vec_id AS qid, e.vec_id AS nn_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(e.$E, q.$E) DESC, e.vec_id) AS rnk
        |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 10) q
        |  WHERE e.vec_id <> q.vec_id AND e.label = 3)
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "dup_pairs_cosine" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
        |  floor((list_cosine_similarity(a.$E, b.$E))*10000 + 0.5)/10000 AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.$E, b.$E) > 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "kmeans_assign_fixed" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |scored AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(e.$E, c.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |  FROM embeddings e CROSS JOIN c),
        |best AS (
        |  SELECT vec_id, cid AS cluster, dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |  FROM scored)
        |SELECT vec_id, cluster,
        |  floor((sqrt(dist))*10000 + 0.5)/10000 AS dist
        |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "ivf_partition_stats" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |scored AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(e.$E, c.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |  FROM embeddings e CROSS JOIN c),
        |best AS (
        |  SELECT vec_id, cid AS cluster, dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |  FROM scored)
        |SELECT cluster, count(*) AS n,
        |  floor((avg(sqrt(dist)))*10000 + 0.5)/10000 AS mean_dist
        |FROM best WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin,
    // Post-deletion truth recomputed from the fixture assignment:
    // remaining = vec_id % 53 <> 0 within each cluster.
    "ivf_delete_compact" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |scored AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(e.$E, c.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |  FROM embeddings e CROSS JOIN c),
        |best AS (
        |  SELECT vec_id, cid AS cluster,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |  FROM scored),
        |a AS (SELECT vec_id, cluster FROM best WHERE rn = 1)
        |SELECT cluster, count(*)::BIGINT AS n_before,
        |  sum(CASE WHEN vec_id % 53 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_after,
        |  sum(CASE WHEN vec_id % 53 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_deleted,
        |  sum(CASE WHEN vec_id % 53 <> 0 THEN vec_id ELSE 0 END)::BIGINT
        |    AS id_checksum_after
        |FROM a GROUP BY cluster ORDER BY cluster""".stripMargin,
    "ivf_shard_rebalance" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |scored AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(e.$E, c.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |  FROM embeddings e CROSS JOIN c),
        |best AS (
        |  SELECT vec_id, cid AS cluster,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |  FROM scored),
        |occ AS (
        |  SELECT cluster, count(*)::BIGINT AS n FROM best WHERE rn = 1
        |  GROUP BY cluster),
        |t AS (SELECT cluster, n, (sum(n) OVER ())::BIGINT AS total FROM occ)
        |SELECT cluster, n, (total // 4)::BIGINT AS target,
        |  (n * 100 // (total // 4))::BIGINT AS skew_pct,
        |  ((n + total // 4 - 1) // (total // 4))::BIGINT AS n_splits,
        |  CASE WHEN n * 10 > (total // 4) * 15 THEN 'split'
        |       WHEN n * 10 < (total // 4) * 5 THEN 'merge'
        |       ELSE 'ok' END AS action
        |FROM t ORDER BY cluster""".stripMargin,
    "vec_centroid_udaf" ->
      s"""SELECT label,
        |  floor((avg(($E)[1]))*10000 + 0.5)/10000 AS c0,
        |  floor((avg(($E)[2]))*10000 + 0.5)/10000 AS c1,
        |  floor((avg(($E)[3]))*10000 + 0.5)/10000 AS c2,
        |  floor((avg(($E)[4]))*10000 + 0.5)/10000 AS c3
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "triplet_mine" ->
      s"""WITH a AS (SELECT vec_id AS aid, label AS albl, $E AS av
        |           FROM embeddings WHERE vec_id < 100),
        |scored AS (
        |  SELECT a.aid, a.albl, e.vec_id, e.label,
        |    list_cosine_similarity(e.$E, a.av) AS score
        |  FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.aid),
        |pos AS (
        |  SELECT aid, vec_id AS pos_id,
        |    floor((score)*10000 + 0.5)/10000 AS pos_cos,
        |    row_number() OVER (PARTITION BY aid ORDER BY score DESC, vec_id) AS rn
        |  FROM scored WHERE label = albl),
        |neg AS (
        |  SELECT aid, vec_id AS neg_id,
        |    floor((score)*10000 + 0.5)/10000 AS neg_cos,
        |    row_number() OVER (PARTITION BY aid ORDER BY score ASC, vec_id) AS rn
        |  FROM scored WHERE label <> albl)
        |SELECT pos.aid AS anchor_id, pos_id, pos_cos, neg_id, neg_cos
        |FROM pos JOIN neg ON pos.aid = neg.aid AND pos.rn = 1 AND neg.rn = 1
        |ORDER BY anchor_id""".stripMargin,
    // Bucketed S1: same probed assign/probe blocks as the ANN
    // oracles, r4-quantized window sort keys, inner pos×neg join.
    "triplet_mine_bucketed" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings
        |      WHERE vec_id < 4),
        |f0 AS (SELECT vec_id, label, $E AS v FROM embeddings),
        |a0 AS (
        |  SELECT vec_id, label, v, cluster FROM (
        |    SELECT l.vec_id, l.label, l.v, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(l.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM f0 l CROSS JOIN c)
        |  WHERE rn = 1),
        |an AS (SELECT vec_id AS aid, label AS albl, v AS av
        |       FROM f0 WHERE vec_id < 100),
        |pb AS (
        |  SELECT aid, albl, av, cid AS probe_cluster FROM (
        |    SELECT q.aid, q.albl, q.av, c.cid,
        |      row_number() OVER (PARTITION BY q.aid ORDER BY
        |        list_sum(list_transform(list_zip(q.av, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS prn
        |    FROM an q CROSS JOIN c)
        |  WHERE prn <= 2),
        |sc AS (
        |  SELECT p.aid, p.albl, a.vec_id, a.label,
        |    floor((list_cosine_similarity(a.v, p.av))*10000 + 0.5)/10000
        |      AS score
        |  FROM a0 a JOIN pb p ON a.cluster = p.probe_cluster
        |  WHERE a.vec_id <> p.aid),
        |pos AS (
        |  SELECT aid, vec_id AS pos_id, score AS pos_cos,
        |    row_number() OVER (PARTITION BY aid
        |      ORDER BY score DESC, vec_id) AS rn
        |  FROM sc WHERE label = albl),
        |neg AS (
        |  SELECT aid, vec_id AS neg_id, score AS neg_cos,
        |    row_number() OVER (PARTITION BY aid
        |      ORDER BY score ASC, vec_id) AS rn
        |  FROM sc WHERE label <> albl)
        |SELECT pos.aid AS anchor_id, pos_id, pos_cos, neg_id, neg_cos
        |FROM pos JOIN neg ON pos.aid = neg.aid
        |  AND pos.rn = 1 AND neg.rn = 1
        |ORDER BY anchor_id""".stripMargin,
    // Same milli-quantized coordinates, same exact-integer variance
    // closed form, micro-quantized z² terms, sort+limit top-20.
    "vec_mahalanobis_outlier" ->
      s"""WITH dims AS (
        |  SELECT vec_id, i AS dim,
        |    floor((embedding::DOUBLE[])[i + 1] * 1000 + 0.5)::BIGINT AS x_m
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(range(len(embedding))) AS i) r),
        |stats AS (
        |  SELECT dim, sx::DOUBLE / n AS mean_m,
        |    (n * sxx - sx * sx)::DOUBLE / (n * (n - 1))::DOUBLE AS var_m
        |  FROM (
        |    SELECT dim, count(*)::BIGINT AS n, sum(x_m)::BIGINT AS sx,
        |      sum(x_m * x_m)::BIGINT AS sxx
        |    FROM dims GROUP BY 1)
        |  WHERE (n * sxx - sx * sx)::DOUBLE / (n * (n - 1))::DOUBLE > 0),
        |scored AS (
        |  SELECT vec_id,
        |    sum(floor((x_m::DOUBLE - mean_m) * (x_m::DOUBLE - mean_m)
        |      / var_m * 1000000 + 0.5)::BIGINT)::BIGINT AS score_u
        |  FROM dims JOIN stats USING (dim)
        |  GROUP BY 1),
        |top AS (
        |  SELECT vec_id, score_u,
        |    row_number() OVER (ORDER BY score_u DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT rk::INT AS rk, vec_id, score_u,
        |  floor((score_u / 1000000.0) * 10000 + 0.5) / 10000 AS score
        |FROM top WHERE rk <= 20 ORDER BY rk""".stripMargin,
    // Same micro-quantized distances, same (d_u, cid) argmin
    // tie-break, same (b−a)/max(a,b) with the both-zero guard.
    "ann_centroid_silhouette" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv
        |           FROM embeddings WHERE vec_id < 4),
        |dists AS (
        |  SELECT e.vec_id, c.cid,
        |    floor(sqrt(list_sum(list_transform(list_zip(e.$E, c.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])))) * 1000000 + 0.5)::BIGINT
        |      AS d_u
        |  FROM embeddings e CROSS JOIN c),
        |own AS (
        |  SELECT vec_id, cid AS cluster, d_u AS a_u FROM (
        |    SELECT vec_id, cid, d_u,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d_u, cid)
        |        AS rn
        |    FROM dists)
        |  WHERE rn = 1),
        |b AS (
        |  SELECT d.vec_id, own.cluster, own.a_u, min(d.d_u)::BIGINT AS b_u
        |  FROM dists d
        |  JOIN own ON d.vec_id = own.vec_id AND d.cid <> own.cluster
        |  GROUP BY 1, 2, 3)
        |SELECT vec_id, cluster, a_u, b_u,
        |  CASE WHEN greatest(a_u, b_u) > 0 THEN
        |    floor((b_u - a_u)::DOUBLE / greatest(a_u, b_u)::DOUBLE
        |      * 10000 + 0.5) / 10000
        |  ELSE 0.0 END AS sil
        |FROM b ORDER BY vec_id""".stripMargin
  )
}
