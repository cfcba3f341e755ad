package graft.operators

import graft.CkptOps

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.TestData
import graft.TestData.r4
import graft.functions.{VectorOps => V}

/** IVF-probed approximate nearest-neighbor search — the scale path
  * for similarity search (north star: similarity search at 100 TB).
  *
  * Shape: the corpus is coarse-quantized once (assignment to k
  * centroids = the partition key of the stored index; see
  * `kmeans_assign_fixed` + `sink_parquet_partitioned` for the
  * partitioned-parquet write). A query then probes only its nProbe
  * nearest centroid partitions, so search cost is
  * corpus/k × nProbe instead of the full corpus — at 100 TB with
  * k=4096, nProbe=8 that's a ~500× scan reduction, and partition
  * pruning on the cluster column turns it into a selective parquet
  * read rather than a full-table scan.
  *
  * Here k=4 fixed centroids (embeddings 0..3) and nProbe=2 keep the
  * result deterministic and oracle-checkable.
  */
object AnnSearch {
  type Q = (SparkSession, String) => DataFrame

  /** IVF-probed top-5 per query (qid, rnk, nn_id, score): corpus
    * assigned to the 4 fixed centroids, each of the 5 fixture queries
    * probes its 2 nearest centroid partitions. Shared by
    * `ann_ivf_topk` (the search) and `ann_recall_eval` (its quality
    * measurement).
    */
  private def ivfTop5(e: DataFrame): DataFrame = {
    val cents = Vectors.fixedCentroids(e)
    // corpus side: nearest centroid per vector (the stored partition key)
    val assigned = V.assignToCentroids(e, cents, Seq("vec_id", "embedding"))
      .select(col("vec_id"), col("embedding"), col("cluster"))
    // query side: 5 queries, each probing its 2 nearest centroids
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val wProbe = Window.partitionBy("qid").orderBy(col("qdist"), col("cid"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("qdist", V.sqDist(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 2)
      .select(col("qid"), col("qv"), col("cid").as("probe_cluster"))
    // search only the probed partitions
    val wTop = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    assigned.join(broadcast(probes), col("cluster") === col("probe_cluster"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", V.cosine(col("embedding"), col("qv")))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("vec_id").as("nn_id"), col("score"))
  }

  /** One beam-search hop's scoring cut: join the (tiny) candidate
    * set against the corpus — candidate side BROADCAST by hint, so
    * the plan survives a 100× corpus without re-planning — score
    * vs each query, keep the top-`b` per query on the r4-quantized
    * cosine. Exposed (pre-checkpoint) so PlanSpec can pin the
    * broadcast direction that `ann_graph_topk`'s per-hop
    * checkpoints hide.
    */
  private[graft] def beamCut(e: DataFrame, queries: DataFrame,
                             cands: DataFrame, b: Int): DataFrame = {
    val wBeam = Window.partitionBy("qid")
      .orderBy(col("qscore").desc, col("id"))
    e.join(broadcast(cands), col("vec_id") === col("id"))
      .join(broadcast(queries), "qid")
      .withColumn("qscore", r4(V.cosine(col("embedding"), col("qv"))))
      .withColumn("rn", row_number().over(wBeam))
      .filter(col("rn") <= b)
      .select(col("qid"), col("id"), col("qscore"))
  }

  /** HNSW-lite LEVEL-PARAMETERIZED membership (round 17, VERDICT r16
    * #7 — the hierarchy was hard-wired at 2 layers; at 100× corpus
    * the descent wants ⌈log_M n⌉ levels): level k keeps the nodes
    * whose md5 hex digits 2..k+1 are all zero — a NESTED
    * (L_{k+1} ⊆ L_k) geometric 1/16-per-level ladder, membership a
    * pure function of the id so both engines derive the same layers,
    * and level 1 is BIT-IDENTICAL to the original layer-1 sample
    * (digit 2 == 0 ⇔ the historical 2-digit value % 16 == 0).
    */
  private[graft] def hnswLayer(e: DataFrame, lvl: Int): DataFrame =
    e.filter(hnswLevel(lvl))

  /** The level-`lvl` membership predicate over `vec_id` behind
    * [[hnswLayer]]. */
  private def hnswLevel(lvl: Int): Column =
    conv(substring(md5(col("vec_id").cast("string")), 1, lvl + 1),
      16, 10).cast("long") % math.pow(16, lvl).toLong === 0

  /** Level-1 membership (1/16 hash sample — see [[hnswLayer]]). */
  private[graft] def hnswLayer1(e: DataFrame): DataFrame =
    hnswLayer(e, 1)

  /** HNSW-lite layer-1 directed top-3 edge list (src, nn, score),
    * memoized per (session, fixture) like [[GraphOps.fixtureKnnEdges]]
    * — consumed by BOTH `ann_hnsw_build` (the declared edge dump) and
    * `ann_hnsw_topk` (the routing layer). Built with the SAME
    * IVF-probed blocking as the layer-0 graph (assign the layer's
    * nodes to the coarse centroids, probe 2, score only probed-
    * cluster pairs — a shuffle join on the cluster key, never an
    * all-pairs pass), so each layer's build recurses one identical
    * scale-safe recipe; only the node subset changes per level.
    */
  private val hnswMemo = new graft.SessionMemo[DataFrame]

  /** SEARCH-side layer-0 adjacency at degree 8 — same IVF-probed
    * recipe as the declared top-3 graph ([[GraphOps.directedKnn]]
    * with k=8, symmetrized), denser only for the DESCENT. Rationale
    * (round-12 recall fix): beam-8 over the degree-3 graph cannot
    * escape a bad entry basin on isotropic random vectors — measured
    * recall@5 mean 0.33 with one dead query; the degree-8 search
    * graph recovers it while `ann_hnsw_build`'s declared output
    * stays the hash-stable top-3 edge dump. This is also the
    * production HNSW shape: efConstruction-grade adjacency for
    * search, a sparser dump for storage accounting.
    */
  private val searchAdjMemo = new graft.SessionMemo[DataFrame]

  private[graft] def hnswL0SearchAdj(s: SparkSession, d: String): DataFrame =
    searchAdjMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "embeddings"), {
        val d8 = GraphOps.directedKnn(s, d, 8)
        d8.select(col("qid").as("src"), col("nn").as("dst"))
          .union(d8.select(col("nn").as("src"), col("qid").as("dst")))
          .distinct()
          .ckpt()
      })

  /** The IVF-probed kNN link step parameterized by (queries, corpus)
    * — the one recipe every HNSW layer build AND the incremental
    * insert recurse: assign the corpus to the fixed coarse
    * centroids, probe each query's 2 nearest, score only
    * probed-cluster pairs through the bounded-heap top-k. Query side
    * bounds the job (|queries| probe rows), candidate side is the
    * probed clusters — never all-pairs. Returns directed
    * (src, nn, score) top-k edges.
    */
  private[graft] def probedLink(queries: DataFrame, corpus: DataFrame,
                                cents: DataFrame, k: Int): DataFrame = {
    val assigned = V.assignToCentroids(corpus, cents,
        Seq("vec_id", "embedding"))
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val wProbe = Window.partitionBy("qid").orderBy(col("qdist"), col("cid"))
    val probes = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("qdist", V.sqDist(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 2)
      .select(col("qid"), col("qv"), col("cid").as("probe_cluster"))
    val topk = udaf(new graft.functions.TopKByScore(k))
    assigned
      .join(probes.hint("shuffle_hash"),
        col("cluster") === col("probe_cluster"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", r4(V.cosine(col("embedding"), col("qv"))))
      .groupBy("qid")
      .agg(topk(col("vec_id"), col("score")).as("tk"))
      .select(col("qid").as("src"), explode(col("tk")).as("t"))
      .select(col("src"), col("t._1").as("nn"), col("t._2").as("score"))
  }

  /** Level-k directed top-3 edge list (src, nn, score), memoized per
    * (session, fixture, level): [[probedLink]] of the level's node
    * subset against itself — each level recurses the ONE IVF-probed
    * scale-safe recipe, only the node subset shrinks 16× per level.
    */
  private[graft] def hnswLayerEdges(s: SparkSession, d: String,
                                    lvl: Int): DataFrame =
    hnswMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "embeddings") + s"#l$lvl", {
        val e = TestData.embeddings(s, d)
        val ln = hnswLayer(e, lvl)
        val cents = Vectors.fixedCentroids(e)
        probedLink(ln, ln, cents, 3).ckpt()
      })

  private[graft] def hnswL1Edges(s: SparkSession, d: String): DataFrame =
    hnswLayerEdges(s, d, 1)

  /** Packed [[BeamDescent]] graphs, broadcast once per (session,
    * fixture, key family). Each packs only the frames its key reads, so
    * `ann_graph_topk` never builds HNSW layers. The broadcasts live as
    * long as the session; freeing them belongs to the explicit
    * `release()` of ROADMAP item 3.
    */
  private val descentMemo = new graft.SessionMemo[Broadcast[BeamDescent.Graph]]

  private def vectorOf(r: Row): (Long, Array[Double]) =
    r.getLong(0) -> r.getSeq[Double](1).toArray

  /** The HNSW descent: enter at the apex (min id of level 2), walk
    * levels 2 and 1 with beam 4 for 2 hops on their symmetrized top-3
    * edges (handing down 1, then 3 nodes), finish with 4 beam-8 hops on
    * the degree-8 layer-0 search graph ([[hnswL0SearchAdj]] — the r12
    * recall fix: beam-8 over the degree-3 graph measured recall@5 mean
    * 0.33 with one dead query) and read out the top 5.
    */
  private def hnswDescent(s: SparkSession, d: String): Broadcast[BeamDescent.Graph] =
    descentMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "embeddings") + "#hnsw", {
        val rows = TestData.embeddings(s, d).select(col("vec_id"),
          col("embedding"), hnswLevel(1), hnswLevel(2)).collect()
        val Seq(l1, l2) = Seq(2, 3).map(i => rows.collect {
          case r if r.getBoolean(i) => r.getLong(0) })
        val edges = hnswLayerEdges(s, d, 2).select(lit(2), col("src"), col("nn"))
          .union(hnswLayerEdges(s, d, 1).select(lit(1), col("src"), col("nn")))
          .union(hnswL0SearchAdj(s, d).select(lit(0), col("src"), col("dst")))
          .collect().groupBy(_.getInt(0))
          .map { case (l, rs) => l -> rs.map(r => (r.getLong(1), r.getLong(2))).toSeq }
          .withDefaultValue(Nil)
        val g = BeamDescent.pack(rows.map(vectorOf),
          seeds = l2.minOption, seedsSkipQuery = false, Seq(
            BeamDescent.Level(Some(l2), edges(2), beam = 4, hops = 2, keep = 1),
            BeamDescent.Level(Some(l1), edges(1), beam = 4, hops = 2, keep = 3),
            BeamDescent.Level(None, edges(0), beam = 8, hops = 4, keep = 5)))
        s.sparkContext.broadcast(g)
      })

  /** The kNN-graph descent: enter at ids < 8 (minus the query), walk 3
    * beam-8 hops on the fixture's top-3 graph, read out the top 5. */
  private def knnDescent(s: SparkSession, d: String): Broadcast[BeamDescent.Graph] =
    descentMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "embeddings") + "#knn", {
        val vecs = TestData.embeddings(s, d)
          .select("vec_id", "embedding").collect().map(vectorOf)
        val edges = GraphOps.fixtureKnnEdges(s, d).select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        s.sparkContext.broadcast(BeamDescent.pack(vecs,
          seeds = vecs.map(_._1).filter(_ < 8), seedsSkipQuery = true,
          Seq(BeamDescent.Level(None, edges, beam = 8, hops = 3, keep = 5))))
      })

  /** Search the packed graph for vec_id < 3. The query vectors come
    * from the packed graph itself, so a call reads no parquet (whose
    * schema read alone is one more Spark job).
    */
  private def descentTop5(s: SparkSession,
                          g: Broadcast[BeamDescent.Graph]): DataFrame = {
    import s.implicits._
    val v = g.value
    val queries = v.ids.indices.filter(v.ids(_) < 3)
      .map(i => (v.ids(i), v.vecs(i))).toDF("qid", "qv")
    BeamDescent.search(queries, g)
  }

  val defs: Map[String, Q] = Map(
    "ann_ivf_topk" -> ((s, d) =>
      ivfTop5(TestData.embeddings(s, d))
        .select(col("qid"), col("rnk"), col("nn_id"),
                r4(col("score")).as("cos"))
        .orderBy("qid", "rnk")),

    // FILTERED vector search through the IVF probe: the metadata
    // predicate (label = 3) composes with partition probing — the
    // filter applies to the PROBED partitions' rows (pre-filtering),
    // so top-k is exact over the filtered candidate set rather than
    // post-filtering an unfiltered top-k (which under-fills k when
    // the predicate is selective). At 100 TB both prunings reach the
    // stored index scan: partition pruning on cluster, pushed filter
    // on label — the same composition PlanSpec pins for
    // knn_filtered_topk + ann_ivf_pruned_topk.
    "ann_ivf_filtered_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val cents = Vectors.fixedCentroids(e)
      val assigned =
        V.assignToCentroids(e, cents, Seq("vec_id", "embedding", "label"))
          .filter(col("label") === 3)
          .select(col("vec_id"), col("embedding"), col("cluster"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val wProbe = Window.partitionBy("qid").orderBy(col("qdist"), col("cid"))
      val probes = queries.crossJoin(broadcast(cents))
        .withColumn("qdist", V.sqDist(col("qv"), col("cv")))
        .withColumn("pr", row_number().over(wProbe))
        .filter(col("pr") <= 2)
        .select(col("qid"), col("qv"), col("cid").as("probe_cluster"))
      val wTop = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("vec_id"))
      assigned.join(broadcast(probes), col("cluster") === col("probe_cluster"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("rnk"), col("vec_id").as("nn_id"),
                r4(col("score")).as("cos"))
        .orderBy("qid", "rnk")
    }),

    // PROBE-WIDTH SWEEP: recall@5 vs brute force for nProbe = 1..4 in
    // ONE query — the probe widths cross-join the (tiny) probe-rank
    // table rather than re-running the search per width, so the sweep
    // costs one candidate join however many widths are tested. This
    // is the tuning curve every IVF deployment reads before fixing
    // nProbe; at 100 TB it runs on a query SAMPLE with the same plan.
    // MATRYOSHKA SWEEP (round 13): the dimension-budget curve behind
    // ann_matryoshka_topk — coarse-rank with the FIRST d dims
    // (d ∈ {8, 16, 32}), rerank the top-50 at full width, report
    // recall@10 per d. This is the capacity-planning readout for
    // MRL-style embeddings: how many prefix dims does the coarse
    // stage need before the rerank stage stops losing truth. All
    // three settings ride ONE tagged pair frame (explode over the
    // dim literals — the ann_hnsw_sweep protocol: 1 corpus pass, not
    // 3); the coarse cut keeps 50 candidates per (dim, query) via
    // the r4-quantized sort (float-sort-key rule), the rerank and
    // the brute-force truth both use full-width cosine with the same
    // tie-break. At 100 TB the coarse stage is the IVF-probed scan
    // of a d-dim PREFIX column (narrower reads scale linearly in d).
    "ann_matryoshka_sweep" -> ((s, d) => {
      import s.implicits._
      val e = TestData.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .ckpt() // corpus pairs + truth
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val tagged = e.select(col("vec_id").as("cid"),
          col("embedding").as("cv"))
        .crossJoin(broadcast(queries))
        .filter(col("cid") =!= col("qid"))
        .select(col("cid"), col("cv"), col("qid"), col("qv"),
          explode(array(Seq(8, 16, 32).map(lit): _*)).as("dim"))
        .withColumn("coarse", V.cosine(
          slice(col("cv"), lit(1), col("dim")),
          slice(col("qv"), lit(1), col("dim"))))
      val cand = tagged.withColumn("crk", row_number().over(
          Window.partitionBy("dim", "qid")
            .orderBy(r4(col("coarse")).desc, col("cid"))))
        .filter(col("crk") <= 50)
      val top = cand
        .withColumn("rnk", row_number().over(
          Window.partitionBy("dim", "qid")
            .orderBy(r4(V.cosine(col("cv"), col("qv"))).desc, col("cid"))))
        .filter(col("rnk") <= 10)
        .select("dim", "qid", "cid")
      val brute = e.select(col("vec_id").as("cid"),
          col("embedding").as("cv"))
        .crossJoin(broadcast(queries))
        .filter(col("cid") =!= col("qid"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid")
            .orderBy(r4(V.cosine(col("cv"), col("qv"))).desc, col("cid"))))
        .filter(col("rnk") <= 10)
        .select("qid", "cid")
        .ckpt() // per-dim hit joins + the truth count
      val truth = brute.agg(count(lit(1)).as("n_truth"))
      val hits = top.join(brute, Seq("qid", "cid"))
        .groupBy("dim").agg(count(lit(1)).as("n_hits"))
      Seq(8, 16, 32).toDF("dim")
        .join(hits, Seq("dim"), "left")
        .crossJoin(broadcast(truth))
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("recall", when(col("n_truth") > 0,
          r4(col("n_hits").cast("double") / col("n_truth").cast("double"))))
        .select("dim", "n_truth", "n_hits", "recall")
        .orderBy("dim")
    }),

    // SRP MULTIPROBE (round 13): the OTHER way to buy LSH recall —
    // instead of more hash tables (more memory) or shorter codes
    // (more collisions), probe the query's bucket AND its 1-bit-flip
    // neighbors in ONE table (Lv et al.'s multi-probe insight: the
    // next-most-likely buckets differ from the query's in exactly
    // the lowest-confidence bits). Settings ride one tagged frame
    // (the ann_hnsw_sweep protocol): every (query, candidate) pair
    // is computed ONCE with min_flip = the cheapest probe reaching
    // it; "p1" (exact bucket) filters min_flip = −1, "p7" (exact +
    // all 6 flips) takes all. 6-bit signatures off the SAME seeded
    // SRP planes as vec_hyperplane_lsh (driver-quantized literals —
    // bit-identical across engines/parallelism); candidates come
    // from a signature EQUI-join (shuffle on the bucket key — never
    // an all-pairs scan); recall@10 against the brute-force truth
    // with the r4-quantized sort-key tie-break. Probe count is a
    // constant ×9 on the query side only — corpus is scanned once.
    "ann_lsh_multiprobe" -> ((s, d) => {
      import s.implicits._
      val planes = Vectors.srpPlanes(6, 64)
      def sig(c: org.apache.spark.sql.Column) =
        planes.zipWithIndex.map { case (pl, i) =>
          val plArr = array(pl.map(v => lit(v.toDouble)): _*)
          when(floor(V.dot(c, plArr) * 10000 + 0.5) > 0, lit(1L << i))
            .otherwise(lit(0L))
        }.reduce(_ + _)
      val e = TestData.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .withColumn("sig", sig(col("embedding")))
        .ckpt() // corpus side + query side + brute truth
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("sig").as("qsig"))
      val probes = queries
        .select(col("qid"), col("qsig"),
          explode(array((-1 to 5).map(f => lit(f)): _*)).as("flip"))
        .withColumn("psig", when(col("flip") === -1, col("qsig"))
          .otherwise(expr("qsig ^ shiftleft(CAST(1 AS BIGINT), flip)")))
      val perCand = probes
        .join(e.select(col("vec_id").as("cid"), col("sig").as("csig")),
          col("psig") === col("csig") && col("cid") =!= col("qid"))
        .groupBy("qid", "cid").agg(min("flip").as("min_flip"))
      val scored = perCand.filter(col("min_flip") === -1)
        .withColumn("setting", lit("p1"))
        .unionByName(perCand.withColumn("setting", lit("p7")))
        .join(e.select(col("vec_id").as("cid"), col("embedding").as("cv")),
          "cid")
        .join(broadcast(queries.select(col("qid"), col("qv"))), "qid")
        .withColumn("cos", V.cosine(col("cv"), col("qv")))
        .ckpt() // candidate counts + top-k ranking
      val top = scored.withColumn("rnk", row_number().over(
          Window.partitionBy("setting", "qid")
            .orderBy(r4(col("cos")).desc, col("cid"))))
        .filter(col("rnk") <= 10)
      val brute = e.select(col("vec_id").as("cid"),
          col("embedding").as("cv"))
        .crossJoin(broadcast(queries.select(col("qid"), col("qv"))))
        .filter(col("cid") =!= col("qid"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid")
            .orderBy(r4(V.cosine(col("cv"), col("qv"))).desc, col("cid"))))
        .filter(col("rnk") <= 10)
        .select("qid", "cid")
        .ckpt() // joined per setting + the truth count
      val truth = brute.agg(count(lit(1)).as("n_truth"))
      val settings = Seq("p1", "p7").toDF("setting")
      val cands = scored.groupBy("setting")
        .agg(count(lit(1)).as("n_candidates"))
      val hits = top.join(brute, Seq("qid", "cid"))
        .groupBy("setting").agg(count(lit(1)).as("n_hits"))
      settings
        .join(cands, Seq("setting"), "left")
        .join(hits, Seq("setting"), "left")
        .crossJoin(broadcast(truth))
        .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("recall", when(col("n_truth") > 0,
          r4(col("n_hits").cast("double") / col("n_truth").cast("double"))))
        .select("setting", "n_truth", "n_candidates", "n_hits", "recall")
        .orderBy("setting")
    }),

    "ann_probe_sweep" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val cents = Vectors.fixedCentroids(e)
      val assigned = V.assignToCentroids(e, cents, Seq("vec_id", "embedding"))
        .select(col("vec_id"), col("embedding"), col("cluster"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // exact ground truth: brute-force top-5 per query
      val wTruth = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("vec_id"))
      val truth = e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", r4(V.cosine(col("embedding"), col("qv"))))
        .withColumn("rnk", row_number().over(wTruth))
        .filter(col("rnk") <= 5)
        .select(col("qid").as("tq"), col("vec_id").as("tn"))
      val wProbe = Window.partitionBy("qid").orderBy(col("qdist"), col("cid"))
      val probeRanks = queries.crossJoin(broadcast(cents))
        .withColumn("qdist", V.sqDist(col("qv"), col("cv")))
        .withColumn("pr", row_number().over(wProbe))
        .select(col("qid"), col("qv"), col("cid").as("probe_cluster"),
          col("pr"))
      val sweep = s.range(1, 5).select(col("id").cast("int").as("np"))
      val probes = probeRanks.crossJoin(sweep).filter(col("pr") <= col("np"))
      val wTop = Window.partitionBy("np", "qid")
        .orderBy(col("score").desc, col("vec_id"))
      assigned.join(broadcast(probes), col("cluster") === col("probe_cluster"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", r4(V.cosine(col("embedding"), col("qv"))))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 5)
        .join(truth, col("qid") === col("tq") && col("vec_id") === col("tn"),
          "left_semi")
        .groupBy("np")
        .agg(r4(count(lit(1)).cast("double") / 25.0).as("recall"))
        .orderBy("np")
    }),

    // MMR DIVERSITY RERANK (Carbonell & Goldstein '98): greedily pick
    // argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) over the top-10
    // candidate cut, λ=0.7, 4 picks. All scores are integer 1e-4
    // units (mmr_u = 7·rel − 3·maxsim, ×10-scaled λ) so every
    // comparison is exact cross-engine — the iterative selection
    // would otherwise compound float near-ties. The rerank runs on a
    // top-N cut (10 rows here, ~100 in production), so the greedy
    // loop touches only the candidate set — at 100 TB the expensive
    // part stays the ANN retrieval, never this O(k·N) tail.
    "ann_rerank_mmr" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val cands = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("rel",
          floor(V.cosine(col("embedding"), col("qv")) * 10000 + 0.5)
            .cast("long"))
        .orderBy(col("rel").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), col("embedding"), col("rel"))
        .ckpt()
      val sims = cands.select(col("vec_id").as("ia"), col("embedding").as("ea"))
        .crossJoin(cands.select(col("vec_id").as("ib"), col("embedding").as("eb")))
        .filter(col("ia") =!= col("ib"))
        .withColumn("sim",
          floor(V.cosine(col("ea"), col("eb")) * 10000 + 0.5).cast("long"))
        .select("ia", "ib", "sim").ckpt()
      var selected = cands.orderBy(col("rel").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), lit(1).as("rnk"), (col("rel") * 7L).as("mmr_u"))
        .ckpt()
      for (r <- 2 to 4) {
        val pick = cands
          .join(selected.select(col("vec_id").as("sv")),
            col("vec_id") === col("sv"), "left_anti")
          .join(sims, col("vec_id") === col("ia"))
          .join(selected.select(col("vec_id").as("sel")),
            col("ib") === col("sel"))
          .groupBy(col("vec_id"), col("rel"))
          .agg(max(col("sim")).as("msim"))
          .withColumn("mmr_u", col("rel") * 7L - col("msim") * 3L)
          .orderBy(col("mmr_u").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), lit(r).as("rnk"), col("mmr_u"))
        selected = selected.union(pick).ckpt()
      }
      selected.select(col("rnk"), col("vec_id"), col("mmr_u")).orderBy("rnk")
    }),

    // Recall@5 of the IVF probe against exact brute force — the
    // evaluation loop every ANN deployment runs before trusting an
    // index (probe width / codebook tuning reads off this number).
    // Both arms share the one broadcast query set; the brute arm is
    // the same map-side scan as vec_cosine_topk, so the whole eval is
    // two scans + a 25-row join at any corpus size.
    "ann_recall_eval" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val wTop = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
      val brute = e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("vec_id").as("nn_id"))
      val ivf = ivfTop5(e).select(col("qid").as("iqid"), col("nn_id").as("inn"))
      brute.join(ivf,
          col("qid") === col("iqid") && col("nn_id") === col("inn"), "left")
        .groupBy("qid")
        .agg(count(col("inn")).as("n_hit"),
             r4(count(col("inn")) / 5.0).as("recall"))
        .orderBy("qid")
    }),

    // RECALL@K CURVE (round 16): recall at k ∈ {1, 3, 5} off the
    // SAME two arms as ann_recall_eval — the single recall@5 number
    // hides WHERE an index loses neighbors (great @5 / poor @1 means
    // the true best lands mid-list: a rerank fixes it; uniformly low
    // means the probes miss whole clusters: wider nprobe fixes it).
    // Both rank columns ride the one 25-row join; the 3-row k
    // dimension expands from it (tagged-frame protocol) and a k-row
    // left join keeps zero-hit cuts explicit. An id in both top-k
    // lists is in both top-5 lists, so the inner join loses nothing.
    "ann_recall_curve" -> ((s, d) => {
      import s.implicits._
      val e = TestData.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val wTop = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("vec_id"))
      val brute = e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
        .withColumn("brnk", row_number().over(wTop))
        .filter(col("brnk") <= 5)
        .select(col("qid"), col("vec_id").as("nn_id"), col("brnk"))
      val ivf = ivfTop5(e).select(col("qid").as("iqid"),
        col("nn_id").as("inn"), col("rnk").as("irnk"))
      val ks = Seq(1L, 3L, 5L).toDF("k")
      val nq = queries.agg(count(lit(1)).as("n_queries"))
      val hits = brute
        .join(ivf, col("qid") === col("iqid") && col("nn_id") === col("inn"))
        .crossJoin(broadcast(ks))
        .groupBy("k")
        .agg(sum(when(col("brnk") <= col("k") && col("irnk") <= col("k"),
          1L).otherwise(0L)).as("n_hits"))
      ks.join(hits, Seq("k"), "left")
        .crossJoin(broadcast(nq))
        .select(col("k"), col("n_queries"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          r4(coalesce(col("n_hits"), lit(0L)).cast("double")
            / (col("k") * col("n_queries")).cast("double")).as("recall"))
        .orderBy("k")
    }),

    // MRR OF THE TRUE NEAREST NEIGHBOR (round 15): the third leg of
    // the index-quality triad — recall@5 counts set overlap, NDCG
    // weights order over the whole list, MRR answers the sharpest
    // question a similarity-search SLA asks: "where does the ONE
    // true nearest neighbor land in the served ranking" (rank 1 =
    // perfect, absent = 0). Same two arms as ann_recall_eval (shared
    // broadcast query set, map-side brute scan); reciprocal ranks
    // are EXACT integer micro units (1e6 DIV rank — positive DIV ≡
    // //), so the MRR aggregate is an exact-BIGINT sum with one
    // mirrored division, immune to float summation order.
    "ann_mrr_eval" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val wTop = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("vec_id"))
      val brute1 = e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") === 1)
        .select(col("qid"), col("vec_id").as("true_nn"))
      val ivf = ivfTop5(e)
        .select(col("qid").as("iqid"), col("rnk"), col("nn_id"))
      val W = Window.partitionBy(lit(1))
      brute1.join(ivf, col("qid") === col("iqid")
          && col("true_nn") === col("nn_id"), "left")
        .select(col("qid"), col("true_nn"),
          col("rnk").cast("long").as("found_rank"))
        .withColumn("rr_u",
          coalesce(expr("1000000 DIV found_rank"), lit(0L)))
        .withColumn("rr", r4(col("rr_u") / 1000000.0))
        .withColumn("mrr", r4(sum("rr_u").over(W).cast("double")
          / (count(lit(1)).over(W) * 1000000L).cast("double")))
        .select("qid", "true_nn", "found_rank", "rr", "mrr")
        .orderBy("qid")
    }),

    // NDCG@5 of the IVF probe vs exact brute force — recall@5 treats
    // every hit equally; NDCG discounts late ranks (1/log2(rnk+1)),
    // so it additionally penalizes an index that finds the right
    // neighbors in the wrong ORDER. Same two arms as ann_recall_eval
    // (shared broadcast query set, map-side brute scan, 25-row join);
    // rel(doc) = membership in the exact top-5, ideal DCG is the
    // 5-relevant-docs constant. ln-form log2 on both engines; r4 at
    // the output only (the repo's raw-cosine ranking convention).
    "ann_ndcg_eval" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val wTop = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
      val brute = e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("vec_id").as("nn_id"))
      val ivf = ivfTop5(e)
        .select(col("qid").as("iqid"), col("rnk"), col("nn_id").as("inn"))
      val ln2 = math.log(2.0)
      val idcg = (1 to 5).map(i => 1.0 / (math.log(i + 1.0) / ln2)).sum
      ivf.join(brute,
          col("iqid") === col("qid") && col("inn") === col("nn_id"), "left")
        .groupBy(col("iqid"))
        .agg(r4(sum(when(col("nn_id").isNotNull,
              lit(1.0) / (log(col("rnk") + lit(1.0)) / lit(ln2)))
            .otherwise(lit(0.0))) / lit(idcg)).as("ndcg"))
        .select(col("iqid").as("qid"), col("ndcg"))
        .orderBy("qid")
    }),

    // The end-to-end IVF story: search the STORED index. The corpus
    // side is the `partitionBy(cluster)` parquet layout written by
    // `IndexStore` (the same layout `pipeline_index_build` produces),
    // and the probe join is on the partition column — so Spark's
    // dynamic partition pruning turns "probe 2 of k clusters" into
    // reading only those cluster directories. Round 1 recomputed
    // assignments in-query and never exercised pruning on the search
    // path; this is the plan a 100 TB vector DB actually runs.
    "ann_ivf_pruned_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val cents = Vectors.fixedCentroids(e)
      val stored = graft.sources.IndexStore.readIvfIndex(s, d)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val wProbe = Window.partitionBy("qid").orderBy(col("qdist"), col("cid"))
      val probes = queries.crossJoin(broadcast(cents))
        .withColumn("qdist", V.sqDist(col("qv"), col("cv")))
        .withColumn("pr", row_number().over(wProbe))
        .filter(col("pr") <= 2)
        .select(col("qid"), col("qv"), col("cid").as("probe_cluster"))
      val wTop = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
      stored.join(broadcast(probes), col("cluster") === col("probe_cluster"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk"), col("vec_id").as("nn_id"),
                r4(col("score")).as("cos"))
        .orderBy("qid", "rnk")
    }),

    // Matryoshka (prefix-dimension) search: coarse-rank the corpus by
    // cosine over the FIRST 16 of 64 dims — 4× less arithmetic and,
    // with MRL-trained embeddings, most of the ordering — then rerank
    // the top-50 with the full vectors. Same cascade as the
    // quantized searches but cutting dimensions instead of precision;
    // at 100 TB the prefix columns can even live in a separate narrow
    // parquet so the coarse pass scans a quarter of the bytes.
    "ann_matryoshka_topk" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvf"),
                slice(col("embedding"), 1, 16).as("qvp"))
      // The candidate cut sorts on the r4-QUANTIZED coarse key (repo
      // determinism rule: float sort keys quantize; raw double
      // near-ties flip across engines — the ann_pq_adc_topk lesson).
      val cand = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .withColumn("coarse",
          V.cosine(slice(col("embedding"), 1, 16), col("qvp")))
        .select(col("vec_id"), col("embedding"), col("qvf"), col("coarse"))
        .orderBy(r4(col("coarse")).desc, col("vec_id")).limit(50)
      cand
        .select(col("vec_id"), r4(col("coarse")).as("coarse_cos"),
          r4(V.cosine(col("embedding"), col("qvf"))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
    }),

    // Range search — the other vector-DB query type: ALL neighbors
    // above a similarity threshold, not a fixed k (radius queries,
    // dedup-by-similarity, recall evaluation). Query set broadcasts;
    // the corpus side is one codegen'd scan with the cosine filter
    // applied map-side, so cost is corpus × |Q| with zero shuffle —
    // and at 100 TB the same probe-then-prune trick as
    // ann_ivf_pruned_topk applies upstream of the threshold.
    "ann_cosine_range" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", V.cosine(col("embedding"), col("qv")))
        .filter(col("score") >= 0.3)
        .select(col("qid"), col("vec_id").as("nn_id"),
                r4(col("score")).as("cos"))
        .orderBy("qid", "nn_id")
    }),

    // Graph-index ANN (HNSW/NSW-family): bounded beam search over the
    // stored kNN graph built for graph_triangle_count. Fixed entry
    // seeds (vec_id < 8), hop count H=3 and beam width B=8 make the
    // search DETERMINISTIC; each hop rescores beam ∪ neighbours and
    // cuts the top-B on the r4-quantized cosine, so a hop touches
    // B·degree vectors per query — cost independent of corpus size,
    // the property that makes graph indexes the low-latency ANN
    // family. The whole descent runs in one map over the query frame
    // against the broadcast packed graph (BeamDescent).
    "ann_graph_topk" -> ((s, d) =>
      descentTop5(s, knnDescent(s, d))),

    // HNSW-LITE BUILD (round 11; LEVEL-PARAMETERIZED round 17,
    // VERDICT r16 #7): the layered kNN graph — the production ANN
    // family (hierarchical navigable small world) next to
    // IVF/PQ/graph-beam. Levels are nested content-derived md5
    // hash samples shrinking 16× per level (HNSW's geometric level
    // law; see [[hnswLayer]]); EVERY level's top-3 edges recurse the
    // ONE IVF-probed [[probedLink]] recipe — only the node subset
    // changes, so the build that ships 2 routing levels here is the
    // build you'd run with ⌈log₁₆ n⌉ levels at 100× corpus. Output:
    // the directed edge dump for routing levels 1 and 2 (level 2 is
    // 1/256 of the corpus — the apex level the search enters).
    "ann_hnsw_build" -> ((s, d) => {
      val wE = Window.partitionBy("layer", "src")
        .orderBy(col("score").desc, col("nn"))
      hnswLayerEdges(s, d, 1).withColumn("layer", lit(1L))
        .unionByName(hnswLayerEdges(s, d, 2).withColumn("layer", lit(2L)))
        .withColumn("rnk", row_number().over(wE))
        .select(col("layer"), col("src"), col("rnk"), col("nn"),
          col("score").as("cos"))
        .orderBy("layer", "src", "rnk")
    }),

    // HNSW-LITE SEARCH (round 11; LEVEL-PARAMETERIZED round 17):
    // layered beam descent from the top level's apex down to the
    // layer-0 search graph (stages in hnswDescent). Routing cuts keep
    // only members of their level, so the work is structural —
    // levels × hops × beam·degree per query — never data-sized. Self
    // may ride the apex seed (a routing waypoint) but every hop drops
    // it, so the readout is self-free — mirrored. Recall@5 vs brute
    // force pinned in PropertySpec alongside the layer-law pin.
    "ann_hnsw_topk" -> ((s, d) =>
      descentTop5(s, hnswDescent(s, d))),

    // HNSW SEARCH-PARAMETER SWEEP (round 13): the tuning curve the
    // flagship HNSW family lacked — ann_probe_sweep gives IVF's
    // recall/cost trade, but a user tuning ann_hnsw_topk's beam
    // width / entry count was blind. Sweeps beam ∈ {4, 8, 16} ×
    // entries ∈ {1, 3} against the SAME memoized layer graphs and
    // reports recall@5 vs r4-quantized brute force plus the scanned-
    // candidate count (entry seeds + every hop's candidate set — the
    // cost axis). ALL SIX settings ride ONE tagged frame: (b, ent)
    // are columns, the per-hop cut is row_number ≤ col(b), so the
    // sweep costs the SAME five beam jobs as a single search instead
    // of 6 × 5 (the events_attribution_markov all-variants-in-one-
    // frame discipline); frontier state ≤ |settings|·|queries|·16
    // rows at any corpus size. Routing (2 beam-4 layer-1 hops) is
    // shared across settings — only the hand-down width and layer-0
    // beam vary, exactly HNSW's ef-search knobs. Monotone properties
    // pinned in PropertySpec: n_scanned strictly increases in beam
    // and recall@5 is non-decreasing in beam at fixed entries.
    // The sweep stays on the per-hop DataFrame descent: no benchmark
    // workload runs it, and r19 measured its tagged-frame shape worse
    // under every re-plan tried (2.62-2.88 s at r18 vs 2.82-2.94 s).
    // Running its six settings through BeamDescent is open work.
    "ann_hnsw_sweep" -> ((s, d) => {
      import s.implicits._
      val e = TestData.embeddings(s, d)
      val l1 = hnswLayer1(e).ckpt()
      val l1e = hnswL1Edges(s, d)
      val l1adj = l1e.select(col("src"), col("nn").as("dst"))
        .union(l1e.select(col("nn").as("src"), col("src").as("dst")))
        .distinct()
        .ckpt() // 2 hop consumers (r18) — see ann_hnsw_topk's adjs
      val l0adj = hnswL0SearchAdj(s, d)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val apex = hnswLayer1(e).agg(min("vec_id").as("id"))
      def hop(corpus: DataFrame, beam: DataFrame, adj: DataFrame,
              b: Int): DataFrame = {
        val nbrs = broadcast(beam).join(adj, col("id") === col("src"))
          .select(col("qid"), col("dst").as("id"))
        val cands = beam.select("qid", "id").union(nbrs)
          .filter(col("id") =!= col("qid")).distinct()
        beamCut(corpus, queries, cands, b).ckpt()
      }
      var route = beamCut(l1, queries,
        queries.select("qid").crossJoin(broadcast(apex)), 4)
        .ckpt()
      for (_ <- 1 to 2) route = hop(l1, route, l1adj, 4)
      val wBest = Window.partitionBy("qid")
        .orderBy(col("qscore").desc, col("id"))
      val settings = Seq((4, 1), (4, 3), (8, 1), (8, 3), (16, 1),
        (16, 3)).toDF("b", "ent")
      val entries = route.withColumn("rn", row_number().over(wBest))
        .crossJoin(broadcast(settings))
        .filter(col("rn") <= col("ent"))
        .select("b", "ent", "qid", "id")
        .ckpt() // two consumers: first cut + scan count
      val wS = Window.partitionBy("b", "ent", "qid")
        .orderBy(col("qscore").desc, col("id"))
      def cutS(cands: DataFrame): DataFrame =
        e.join(broadcast(cands), col("vec_id") === col("id"))
          .join(broadcast(queries), "qid")
          .withColumn("qscore", r4(V.cosine(col("embedding"), col("qv"))))
          .withColumn("rn", row_number().over(wS))
          .filter(col("rn") <= col("b"))
          .select("b", "ent", "qid", "id", "qscore")
      var scanned = entries.groupBy("b", "ent")
        .agg(count(lit(1)).as("nc"))
      var beam = cutS(entries).ckpt()
      for (_ <- 1 to 4) {
        val nbrs = broadcast(beam).join(l0adj, col("id") === col("src"))
          .select(col("b"), col("ent"), col("qid"), col("dst").as("id"))
        val cands = beam.select("b", "ent", "qid", "id").union(nbrs)
          .filter(col("id") =!= col("qid")).distinct()
          .ckpt() // two consumers: cut + scan count
        scanned = scanned.union(
          cands.groupBy("b", "ent").agg(count(lit(1)).as("nc")))
        beam = cutS(cands).ckpt()
      }
      val nScan = scanned.groupBy("b", "ent")
        .agg(sum("nc").as("n_scanned"))
      val wTruth = Window.partitionBy("qid")
        .orderBy(col("qscore").desc, col("vec_id"))
      val truth = e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("qscore", r4(V.cosine(col("embedding"), col("qv"))))
        .withColumn("rnk", row_number().over(wTruth))
        .filter(col("rnk") <= 5)
        .select(col("qid").as("tqid"), col("vec_id").as("tid"))
      beam.withColumn("rn2", row_number().over(wS))
        .filter(col("rn2") <= 5)
        .join(truth, col("qid") === col("tqid")
          && col("id") === col("tid"), "left")
        .groupBy("b", "ent")
        .agg(count(col("tid")).as("hits_at_5"),
          countDistinct("qid").as("n_queries"))
        .join(nScan, Seq("b", "ent"))
        .select(col("b").as("beam"), col("ent").as("n_entries"),
          col("n_queries"), col("n_scanned"), col("hits_at_5"),
          when(col("n_queries") > 0, r4(col("hits_at_5").cast("double")
            / (lit(5.0) * col("n_queries").cast("double"))))
            .as("recall"))
        .orderBy("beam", "n_entries")
    }),

    // HNSW INCREMENTAL INSERT (round 15, VERDICT r14 missing #3 /
    // next #6): batch-append to the layered index WITHOUT a rebuild
    // — a vector DB's daily reality. The batch (vec_id % 10 = 7
    // plays the newly-arrived vectors) gets level assignment by the
    // SAME md5 1/16 law as the build (content-derived, so an
    // insert-then-read index is indistinguishable from a rebuild),
    // and each new node links via the SAME IVF-probed kNN recipe the
    // build uses ([[probedLink]]) — layer 0 against the full
    // post-insert corpus, layer 1 against the post-insert layer-1
    // subset. ONLY batch-src edge rows are produced; existing rows
    // are untouched (the graph_incremental_edges contract). Cost:
    // probe side ∝ |batch|, candidate side the probed clusters —
    // never corpus². The append ≡ rebuild-restriction exactness
    // (inserted edges == the full rebuild's edges for those nodes,
    // because probes and candidates are identical) is pinned in
    // PropertySpec; PlanSpec pins the batch-filtered probe side.
    "ann_hnsw_insert" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val cents = Vectors.fixedCentroids(e)
      val batch = e.filter(col("vec_id") % 10 === 7)
      val l1All = hnswLayer1(e)
      val l1Batch = l1All.filter(col("vec_id") % 10 === 7)
      val wE = Window.partitionBy("layer", "src")
        .orderBy(col("score").desc, col("nn"))
      probedLink(batch, e, cents, 3).withColumn("layer", lit(0L))
        .union(probedLink(l1Batch, l1All, cents, 3)
          .withColumn("layer", lit(1L)))
        .withColumn("rnk", row_number().over(wE))
        .select(col("layer"), col("src"), col("rnk"), col("nn"),
          col("score").as("cos"))
        .orderBy("layer", "src", "rnk")
    }),

    // HNSW DELETE + COMPACT (round 16, VERDICT r15 #4): the other
    // half of daily index maintenance next to ann_hnsw_insert —
    // tombstone a set of vectors (vec_id % 10 = 6 plays the deleted
    // batch; disjoint from insert's 7, and the fixed centroids
    // vec_id < 4 all survive, so probe geometry is unchanged) and
    // REPAIR exactly the survivors whose current neighbor list
    // references a tombstone. Repair = [[probedLink]] of the
    // affected nodes against the post-delete corpus (layer 0) /
    // post-delete layer-1 subset (layer 1) — the SAME recipe the
    // build and the insert use, so a repaired row is BIT-IDENTICAL
    // to a full rebuild's row for that node, and an UNTOUCHED
    // survivor's old list is also the rebuild's list (deleting
    // vectors only shrinks its candidate set, and none of its top-3
    // were deleted). compact(old index) ≡ rebuild-without-deleted is
    // pinned in PropertySpec for BOTH layers. ONLY repaired-src rows
    // are emitted (the insert contract: existing rows untouched).
    // Cost: the affected scan reads the EXISTING index (memoized
    // here, stored in production); the repair probe side is
    // |affected| rows — never corpus².
    "ann_hnsw_delete" -> ((s, d) => {
      val e = TestData.embeddings(s, d)
      val cents = Vectors.fixedCentroids(e)
      val live = e.filter(col("vec_id") % 10 =!= 6)
      val l1All = hnswLayer1(e)
      val l1Live = l1All.filter(col("vec_id") % 10 =!= 6)
      val idx0 = GraphOps.directedKnnEdges(s, d) // the stored layer-0 index
      val idx1 = hnswL1Edges(s, d)               // the stored layer-1 index
      val aff0 = idx0
        .filter(col("nn") % 10 === 6 && col("qid") % 10 =!= 6)
        .select(col("qid").as("aid")).distinct()
      val aff1 = idx1
        .filter(col("nn") % 10 === 6 && col("src") % 10 =!= 6)
        .select(col("src").as("aid")).distinct()
      val q0 = e.join(broadcast(aff0), col("vec_id") === col("aid"))
        .select("vec_id", "embedding")
      val q1 = l1All.join(broadcast(aff1), col("vec_id") === col("aid"))
        .select("vec_id", "embedding")
      val wE = Window.partitionBy("layer", "src")
        .orderBy(col("score").desc, col("nn"))
      probedLink(q0, live, cents, 3).withColumn("layer", lit(0L))
        .union(probedLink(q1, l1Live, cents, 3)
          .withColumn("layer", lit(1L)))
        .withColumn("rnk", row_number().over(wE))
        .select(col("layer"), col("src"), col("rnk"), col("nn"),
          col("score").as("cos"))
        .orderBy("layer", "src", "rnk")
    }),

    // MULTI-VECTOR LATE INTERACTION (ColBERT-style MaxSim): documents
    // carry a SET of token vectors (here 4 per doc, did = vec_id DIV 4);
    // score(q, d) = Σ_{qt∈q} max_{dt∈d} cos(qt, dt). The query side
    // (3 docs × 4 tokens) broadcasts; the corpus streams through one
    // partial-aggregating groupBy on (qid, did, qtok) then (qid, did) —
    // at 100 TB the shape is identical with the max pushed map-side.
    // Determinism: each per-token max is quantized to integer 1e-4
    // units BEFORE the sum, so the doc score is an exact BIGINT —
    // order-independent across partial aggregation and a safe sort key
    // (the raw-double near-tie trap that bit ann_pq_adc_topk).
    "ann_maxsim_topk" -> ((s, d) => {
      val t = TestData.embeddings(s, d)
        .select(expr("vec_id DIV 4").as("did"), col("vec_id"),
                col("embedding"))
      val q = t.filter(col("did") < 3)
        .select(col("did").as("qdid"), col("vec_id").as("qtok"),
                col("embedding").as("qv"))
      val w = Window.partitionBy("qdid")
        .orderBy(col("score_i").desc, col("did"))
      t.join(broadcast(q), col("did") =!= col("qdid"))
        .withColumn("cos", V.cosine(col("embedding"), col("qv")))
        .groupBy("qdid", "did", "qtok")
        .agg(floor(max(col("cos")) * 10000 + 0.5).cast("long").as("mi"))
        .groupBy("qdid", "did")
        .agg(sum(col("mi")).as("score_i"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qdid"), col("rnk"), col("did"),
          (col("score_i").cast("double") / 10000.0).as("maxsim"))
        .orderBy("qdid", "rnk")
    })
  )

  private val E = "embedding::DOUBLE[]"

  /** Level-k membership predicate (mirrors [[hnswLayer]]: md5 hex
    * digits 2..k+1 all zero — nested, 1/16 per level; level 1 is the
    * historical 2-digit % 16 sample bit for bit).
    */
  private def hnswLevelPredSql(l: Int): String =
    s"('0x' || substring(md5(vec_id::VARCHAR), 1, ${l + 1}))::BIGINT" +
      s" % ${math.pow(16, l).toLong} = 0"

  /** Level-k node set + probed top-3 edge CTEs (l$l/a$l/p$l/e$l),
    * mirroring [[probedLink]] on the level subset — one generated
    * block per level of the `ann_hnsw_build` dump. Expects the
    * shared centroid CTE `c`.
    */
  private def hnswLevelEdgeSql(l: Int): String =
    s"""l$l AS (
       |  SELECT vec_id, $E AS v FROM embeddings
       |  WHERE ${hnswLevelPredSql(l)}),
       |a$l AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT l.vec_id, l.v, c.cid AS cluster,
       |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(l.v, c.cv),
       |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
       |    FROM l$l l CROSS JOIN c)
       |  WHERE rn = 1),
       |p$l AS (
       |  SELECT qid, qv, cid AS probe_cluster FROM (
       |    SELECT q.vec_id AS qid, q.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(q.v, c.cv),
       |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
       |    FROM l$l q CROSS JOIN c)
       |  WHERE pr <= 2),
       |e$l AS (
       |  SELECT $l::BIGINT AS layer, src, rnk, nn, cos FROM (
       |    SELECT p.qid AS src, a.vec_id AS nn,
       |      floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)/10000
       |        AS cos,
       |      row_number() OVER (PARTITION BY p.qid ORDER BY
       |        floor((list_cosine_similarity(a.v, p.qv))*10000
       |          + 0.5)/10000 DESC, a.vec_id) AS rnk
       |    FROM a$l a JOIN p$l p ON a.cluster = p.probe_cluster
       |    WHERE a.vec_id <> p.qid)
       |  WHERE rnk <= 3)""".stripMargin

  /** One routing beam cut (beam 4) against the full-id score join —
    * mirrors `beamCut` for the descent oracle. */
  private def hnswCutSql(cur: String, from: String): String =
    s"""$cur AS (SELECT qid, id, qscore FROM (
       |  SELECT qid, id, qscore,
       |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
       |      AS rn
       |  FROM (SELECT cc.qid, cc.id,
       |          floor((list_cosine_similarity(e.$E, q.qv))*10000
       |            + 0.5)/10000 AS qscore
       |        FROM $from cc JOIN embeddings e ON e.vec_id = cc.id
       |        JOIN q ON q.qid = cc.qid))
       |  WHERE rn <= 4)""".stripMargin

  /** One neighbor expansion (beam ∪ adjacency, self-free) — mirrors
    * the descent `hop`'s candidate set. */
  private def hnswExpandSql(cur: String, prev: String,
                            adjT: String): String =
    s"""$cur AS (SELECT DISTINCT qid, id FROM (
       |  SELECT qid, id FROM $prev
       |  UNION ALL SELECT b.qid, a.dst AS id FROM $prev b
       |    JOIN $adjT a ON b.id = a.src)
       |  WHERE id <> qid)""".stripMargin

  /** `ann_hnsw_sweep` unrolled: the ann_hnsw_topk routing prefix
    * (layer-1 sample/edges, degree-8 layer-0 adjacency, apex seed,
    * 2 beam-4 routing hops) shared across settings, then the six
    * (beam, entries) settings ride one tagged chain of 5 hop CTEs —
    * the same all-settings-in-one-frame shape as the Spark side, the
    * per-hop cut being `rn <= b`. Per-round CTEs MATERIALIZED (the
    * r12 Louvain lesson: an inline chain referencing its predecessor
    * twice re-expands the upstream tree exponentially).
    */
  private lazy val HnswSweepOracle: String = {
    def hop(k: Int): String =
      s"""bc$k AS MATERIALIZED (SELECT DISTINCT b, ent, qid, id FROM (
        |  SELECT b, ent, qid, id FROM sb${k - 1}
        |  UNION ALL SELECT bb.b, bb.ent, bb.qid, a.dst AS id
        |    FROM sb${k - 1} bb JOIN adj a ON bb.id = a.src)
        |  WHERE id <> qid),
        |sb$k AS MATERIALIZED (SELECT b, ent, qid, id, qscore FROM (
        |  SELECT b, ent, qid, id, qscore,
        |    row_number() OVER (PARTITION BY b, ent, qid
        |      ORDER BY qscore DESC, id) AS rn
        |  FROM (SELECT cc.b, cc.ent, cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000
        |            + 0.5)/10000 AS qscore
        |        FROM bc$k cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= b)""".stripMargin
    s"""WITH l1 AS (
      |  SELECT vec_id, $E AS v FROM embeddings
      |  WHERE ('0x' || substring(md5(vec_id::VARCHAR), 1, 2))::INT
      |    % 16 = 0),
      |c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings
      |      WHERE vec_id < 4),
      |l1a AS (
      |  SELECT vec_id, v, cluster FROM (
      |    SELECT l.vec_id, l.v, c.cid AS cluster,
      |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(l.v, c.cv),
      |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
      |    FROM l1 l CROSS JOIN c)
      |  WHERE rn = 1),
      |l1p AS (
      |  SELECT qid, qv, cid AS probe_cluster FROM (
      |    SELECT q.vec_id AS qid, q.v AS qv, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(q.v, c.cv),
      |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
      |    FROM l1 q CROSS JOIN c)
      |  WHERE pr <= 2),
      |l1e AS (
      |  SELECT src, nn FROM (
      |    SELECT p.qid AS src, a.vec_id AS nn,
      |      row_number() OVER (PARTITION BY p.qid ORDER BY
      |        floor((list_cosine_similarity(a.v, p.qv))*10000
      |          + 0.5)/10000 DESC, a.vec_id) AS rnk
      |    FROM l1a a JOIN l1p p ON a.cluster = p.probe_cluster
      |    WHERE a.vec_id <> p.qid)
      |  WHERE rnk <= 3),
      |l1adj AS (SELECT DISTINCT src, dst FROM (
      |  SELECT src, nn AS dst FROM l1e
      |  UNION ALL SELECT nn AS src, src AS dst FROM l1e)),
      |fa AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, c.cid AS cluster,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(e.$E, c.cv),
      |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
      |    FROM embeddings e CROSS JOIN c)
      |  WHERE rn = 1),
      |fp AS (
      |  SELECT qid, cid AS probe_cluster FROM (
      |    SELECT q.vec_id AS qid, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(q.$E, c.cv),
      |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
      |    FROM embeddings q CROSS JOIN c)
      |  WHERE pr <= 2),
      |knn AS MATERIALIZED (
      |  SELECT qid, vec_id AS nn FROM (
      |    SELECT p.qid, e.vec_id,
      |      row_number() OVER (PARTITION BY p.qid ORDER BY
      |        floor((list_cosine_similarity(e.$E,
      |                               q.$E))*10000 + 0.5)/10000 DESC,
      |        e.vec_id) AS rnk
      |    FROM fa a
      |    JOIN fp p ON a.cluster = p.probe_cluster
      |    JOIN embeddings e ON e.vec_id = a.vec_id
      |    JOIN embeddings q ON q.vec_id = p.qid
      |    WHERE e.vec_id <> p.qid)
      |  WHERE rnk <= 8),
      |edges AS (
      |  SELECT DISTINCT least(qid, nn) AS a, greatest(qid, nn) AS b
      |  FROM knn),
      |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
      |        UNION ALL SELECT b AS src, a AS dst FROM edges),
      |q AS (SELECT vec_id AS qid, $E AS qv FROM embeddings
      |      WHERE vec_id < 3),
      |apex AS (SELECT min(vec_id) AS id FROM l1),
      |s0 AS (SELECT q.qid, apex.id FROM q CROSS JOIN apex),
      |r0 AS (SELECT qid, id, qscore FROM (
      |  SELECT qid, id, qscore,
      |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
      |      AS rn
      |  FROM (SELECT cc.qid, cc.id,
      |          floor((list_cosine_similarity(e.$E, q.qv))*10000
      |            + 0.5)/10000 AS qscore
      |        FROM s0 cc JOIN embeddings e ON e.vec_id = cc.id
      |        JOIN q ON q.qid = cc.qid))
      |  WHERE rn <= 4),
      |rc1 AS (SELECT DISTINCT qid, id FROM (
      |  SELECT qid, id FROM r0
      |  UNION ALL SELECT b.qid, a.dst AS id FROM r0 b
      |    JOIN l1adj a ON b.id = a.src)
      |  WHERE id <> qid),
      |r1 AS (SELECT qid, id, qscore FROM (
      |  SELECT qid, id, qscore,
      |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
      |      AS rn
      |  FROM (SELECT cc.qid, cc.id,
      |          floor((list_cosine_similarity(e.$E, q.qv))*10000
      |            + 0.5)/10000 AS qscore
      |        FROM rc1 cc JOIN embeddings e ON e.vec_id = cc.id
      |        JOIN q ON q.qid = cc.qid))
      |  WHERE rn <= 4),
      |rc2 AS (SELECT DISTINCT qid, id FROM (
      |  SELECT qid, id FROM r1
      |  UNION ALL SELECT b.qid, a.dst AS id FROM r1 b
      |    JOIN l1adj a ON b.id = a.src)
      |  WHERE id <> qid),
      |r2 AS MATERIALIZED (SELECT qid, id, qscore FROM (
      |  SELECT qid, id, qscore,
      |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
      |      AS rn
      |  FROM (SELECT cc.qid, cc.id,
      |          floor((list_cosine_similarity(e.$E, q.qv))*10000
      |            + 0.5)/10000 AS qscore
      |        FROM rc2 cc JOIN embeddings e ON e.vec_id = cc.id
      |        JOIN q ON q.qid = cc.qid))
      |  WHERE rn <= 4),
      |settings AS (SELECT * FROM (VALUES (4, 1), (4, 3), (8, 1),
      |  (8, 3), (16, 1), (16, 3)) AS t(b, ent)),
      |entry AS MATERIALIZED (
      |  SELECT s.b, s.ent, rr.qid, rr.id FROM (
      |    SELECT qid, id, row_number() OVER (PARTITION BY qid
      |      ORDER BY qscore DESC, id) AS rn FROM r2) rr
      |  CROSS JOIN settings s WHERE rr.rn <= s.ent),
      |sb0 AS MATERIALIZED (SELECT b, ent, qid, id, qscore FROM (
      |  SELECT b, ent, qid, id, qscore,
      |    row_number() OVER (PARTITION BY b, ent, qid
      |      ORDER BY qscore DESC, id) AS rn
      |  FROM (SELECT cc.b, cc.ent, cc.qid, cc.id,
      |          floor((list_cosine_similarity(e.$E, q.qv))*10000
      |            + 0.5)/10000 AS qscore
      |        FROM entry cc JOIN embeddings e ON e.vec_id = cc.id
      |        JOIN q ON q.qid = cc.qid))
      |  WHERE rn <= b),
      |${hop(1)},
      |${hop(2)},
      |${hop(3)},
      |${hop(4)},
      |truth AS MATERIALIZED (
      |  SELECT qid AS tqid, vec_id AS tid FROM (
      |    SELECT q.qid, e.vec_id,
      |      row_number() OVER (PARTITION BY q.qid ORDER BY
      |        floor((list_cosine_similarity(e.$E, q.qv))*10000
      |          + 0.5)/10000 DESC, e.vec_id) AS rnk
      |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
      |  WHERE rnk <= 5),
      |sc AS (
      |  SELECT b, ent, count(*)::BIGINT AS nc FROM entry GROUP BY 1, 2
      |  UNION ALL SELECT b, ent, count(*) FROM bc1 GROUP BY 1, 2
      |  UNION ALL SELECT b, ent, count(*) FROM bc2 GROUP BY 1, 2
      |  UNION ALL SELECT b, ent, count(*) FROM bc3 GROUP BY 1, 2
      |  UNION ALL SELECT b, ent, count(*) FROM bc4 GROUP BY 1, 2),
      |ns AS (SELECT b, ent, sum(nc)::BIGINT AS n_scanned
      |       FROM sc GROUP BY 1, 2),
      |t5 AS (SELECT b, ent, qid, id FROM (
      |  SELECT b, ent, qid, id, row_number() OVER (
      |    PARTITION BY b, ent, qid ORDER BY qscore DESC, id) AS rn2
      |  FROM sb4) WHERE rn2 <= 5),
      |hits AS (
      |  SELECT t5.b, t5.ent, count(tr.tid)::BIGINT AS hits_at_5,
      |    count(DISTINCT t5.qid)::BIGINT AS n_queries
      |  FROM t5 LEFT JOIN truth tr
      |    ON t5.qid = tr.tqid AND t5.id = tr.tid
      |  GROUP BY 1, 2)
      |SELECT h.b AS beam, h.ent AS n_entries, h.n_queries,
      |  ns.n_scanned, h.hits_at_5,
      |  CASE WHEN h.n_queries > 0 THEN
      |    floor((h.hits_at_5::DOUBLE
      |      / (5.0 * h.n_queries::DOUBLE))*10000 + 0.5)/10000
      |  END AS recall
      |FROM hits h JOIN ns ON h.b = ns.b AND h.ent = ns.ent
      |ORDER BY beam, n_entries""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ann_ivf_topk" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |assigned AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < 5)
        |  WHERE pr <= 2),
        |hits AS (
        |  SELECT p.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score
        |  FROM assigned a
        |  JOIN probes p ON a.cluster = p.probe_cluster
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN embeddings q ON q.vec_id = p.qid
        |  WHERE e.vec_id <> p.qid)
        |SELECT qid, rnk, vec_id AS nn_id,
        |  floor((score)*10000 + 0.5)/10000 AS cos
        |FROM (SELECT qid, vec_id, score,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY score DESC, vec_id) AS rnk
        |      FROM hits)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    // IVF arm = the ann_ivf_topk CTEs; brute arm = unprobed top-5;
    // recall = matched/5 per query.
    // Same IVF/brute CTE pair as recall_eval; brute rank-1 row only,
    // exact 1e6//rank reciprocal units, one mirrored MRR division.
    "ann_mrr_eval" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |assigned AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < 5)
        |  WHERE pr <= 2),
        |hits AS (
        |  SELECT p.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score
        |  FROM assigned a
        |  JOIN probes p ON a.cluster = p.probe_cluster
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN embeddings q ON q.vec_id = p.qid
        |  WHERE e.vec_id <> p.qid),
        |ivfr AS (
        |  SELECT qid, vec_id, rnk FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, vec_id) AS rnk FROM hits)
        |  WHERE rnk <= 5),
        |bq AS (SELECT vec_id AS qid, $E AS qv FROM embeddings WHERE vec_id < 5),
        |bhits AS (
        |  SELECT bq.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, bq.qv) AS score
        |  FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.qid),
        |brute1 AS (
        |  SELECT qid, vec_id AS true_nn FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, vec_id) AS rnk FROM bhits)
        |  WHERE rnk = 1),
        |sel AS (
        |  SELECT b.qid, b.true_nn, i.rnk::BIGINT AS found_rank
        |  FROM brute1 b LEFT JOIN ivfr i
        |    ON b.qid = i.qid AND b.true_nn = i.vec_id),
        |rr AS (
        |  SELECT *,
        |    coalesce(1000000 // found_rank, 0)::BIGINT AS rr_u
        |  FROM sel)
        |SELECT qid, true_nn, found_rank,
        |  floor((rr_u / 1000000.0) * 10000 + 0.5) / 10000 AS rr,
        |  floor((sum(rr_u) OVER ())::DOUBLE
        |    / ((count(*) OVER ()) * 1000000)::DOUBLE
        |    * 10000 + 0.5) / 10000 AS mrr
        |FROM rr ORDER BY qid""".stripMargin,
    "ann_recall_eval" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |assigned AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < 5)
        |  WHERE pr <= 2),
        |hits AS (
        |  SELECT p.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score
        |  FROM assigned a
        |  JOIN probes p ON a.cluster = p.probe_cluster
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN embeddings q ON q.vec_id = p.qid
        |  WHERE e.vec_id <> p.qid),
        |ivf AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, vec_id) AS rnk FROM hits)
        |  WHERE rnk <= 5),
        |bq AS (SELECT vec_id AS qid, $E AS qv FROM embeddings WHERE vec_id < 5),
        |bhits AS (
        |  SELECT bq.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, bq.qv) AS score
        |  FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.qid),
        |brute AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, vec_id) AS rnk FROM bhits)
        |  WHERE rnk <= 5)
        |SELECT b.qid, count(i.vec_id)::BIGINT AS n_hit,
        |  floor((count(i.vec_id) / 5.0)*10000 + 0.5)/10000 AS recall
        |FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.vec_id = i.vec_id
        |GROUP BY b.qid ORDER BY b.qid""".stripMargin,
    // Same two arms with both rank columns kept; the 3-row k
    // dimension expands from the 25-row join, zero-hit cuts explicit.
    "ann_recall_curve" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |assigned AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < 5)
        |  WHERE pr <= 2),
        |hits AS (
        |  SELECT p.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score
        |  FROM assigned a
        |  JOIN probes p ON a.cluster = p.probe_cluster
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN embeddings q ON q.vec_id = p.qid
        |  WHERE e.vec_id <> p.qid),
        |ivf AS (
        |  SELECT qid, vec_id, rnk AS irnk FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, vec_id) AS rnk FROM hits)
        |  WHERE rnk <= 5),
        |bq AS (SELECT vec_id AS qid, $E AS qv FROM embeddings WHERE vec_id < 5),
        |bhits AS (
        |  SELECT bq.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, bq.qv) AS score
        |  FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.qid),
        |brute AS (
        |  SELECT qid, vec_id, rnk AS brnk FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, vec_id) AS rnk FROM bhits)
        |  WHERE rnk <= 5),
        |ks AS (SELECT unnest([1, 3, 5])::BIGINT AS k),
        |nq AS (SELECT count(*)::BIGINT AS n_queries FROM bq),
        |hk AS (
        |  SELECT k, sum(CASE WHEN brnk <= k AND irnk <= k THEN 1
        |    ELSE 0 END)::BIGINT AS n_hits
        |  FROM brute b JOIN ivf i ON b.qid = i.qid
        |    AND b.vec_id = i.vec_id
        |  CROSS JOIN ks GROUP BY k)
        |SELECT ks.k, nq.n_queries,
        |  coalesce(hk.n_hits, 0)::BIGINT AS n_hits,
        |  floor(coalesce(hk.n_hits, 0)::DOUBLE
        |    / (ks.k * nq.n_queries)::DOUBLE * 10000 + 0.5) / 10000
        |    AS recall
        |FROM ks LEFT JOIN hk ON ks.k = hk.k CROSS JOIN nq
        |ORDER BY ks.k""".stripMargin,
    // Same relational semantics as ann_ivf_topk — the stored index is
    // just a materialization of `assigned`; the oracle recomputes it.
    "ann_ivf_pruned_topk" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |assigned AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < 5)
        |  WHERE pr <= 2),
        |hits AS (
        |  SELECT p.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score
        |  FROM assigned a
        |  JOIN probes p ON a.cluster = p.probe_cluster
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN embeddings q ON q.vec_id = p.qid
        |  WHERE e.vec_id <> p.qid)
        |SELECT qid, rnk, vec_id AS nn_id,
        |  floor((score)*10000 + 0.5)/10000 AS cos
        |FROM (SELECT qid, vec_id, score,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY score DESC, vec_id) AS rnk
        |      FROM hits)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "ann_matryoshka_topk" ->
      s"""WITH qv AS (SELECT $E AS qvf, ($E)[1:16] AS qvp
        |            FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.vec_id, e.$E AS ev, qv.qvf,
        |    list_cosine_similarity((e.$E)[1:16], qv.qvp) AS coarse
        |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
        |  ORDER BY floor((coarse)*10000 + 0.5)/10000 DESC, vec_id LIMIT 50)
        |SELECT vec_id,
        |  floor((coarse)*10000 + 0.5)/10000 AS coarse_cos,
        |  floor((list_cosine_similarity(ev, qvf))*10000 + 0.5)/10000 AS cos
        |FROM cand ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "ann_cosine_range" ->
      s"""WITH q AS (SELECT vec_id AS qid, $E AS qv FROM embeddings
        |           WHERE vec_id < 5)
        |SELECT q.qid, e.vec_id AS nn_id,
        |  floor((list_cosine_similarity(e.$E, q.qv))*10000 + 0.5)/10000 AS cos
        |FROM embeddings e CROSS JOIN q
        |WHERE e.vec_id <> q.qid
        |  AND list_cosine_similarity(e.$E, q.qv) >= 0.3
        |ORDER BY qid, nn_id""".stripMargin,
    // Same preamble as ann_ivf_topk; idcg in ln-form so both engines
    // evaluate the identical expression shape, r4 at the output only.
    "ann_ndcg_eval" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |assigned AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < 5)
        |  WHERE pr <= 2),
        |hits AS (
        |  SELECT p.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score
        |  FROM assigned a
        |  JOIN probes p ON a.cluster = p.probe_cluster
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN embeddings q ON q.vec_id = p.qid
        |  WHERE e.vec_id <> p.qid),
        |ivf AS (
        |  SELECT qid, rnk, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, vec_id) AS rnk FROM hits)
        |  WHERE rnk <= 5),
        |brute AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT q.vec_id AS qid, e.vec_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_cosine_similarity(e.$E, q.$E) DESC, e.vec_id) AS rnk
        |    FROM embeddings e CROSS JOIN embeddings q
        |    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id)
        |  WHERE rnk <= 5),
        |idcg AS (SELECT sum(1/(ln(i + 1)/ln(2))) AS v
        |         FROM (SELECT unnest(range(1, 6)) AS i))
        |SELECT i.qid,
        |  floor((sum(CASE WHEN b.vec_id IS NOT NULL
        |               THEN 1/(ln(i.rnk + 1)/ln(2)) ELSE 0 END)
        |         / (SELECT v FROM idcg))*10000 + 0.5)/10000 AS ndcg
        |FROM ivf i LEFT JOIN brute b
        |  ON i.qid = b.qid AND i.vec_id = b.vec_id
        |GROUP BY i.qid ORDER BY i.qid""".stripMargin,
    // Beam search unrolled to its fixed H=3 hops: the preamble
    // rebuilds the same kNN-graph edges as graph_triangle_count's
    // oracle, then c{i}/b{i} CTEs alternate candidate expansion
    // (beam ∪ neighbors) and the top-8 cut on the r4-quantized
    // cosine — identical iteration order to the Spark loop.
    "ann_graph_topk" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv
        |           FROM embeddings WHERE vec_id < 4),
        |assigned AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM embeddings q CROSS JOIN c)
        |  WHERE pr <= 2),
        |knn AS (
        |  SELECT qid, vec_id AS nn FROM (
        |    SELECT p.qid, e.vec_id,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY
        |        floor((list_cosine_similarity(e.$E,
        |                               q.$E))*10000 + 0.5)/10000 DESC,
        |        e.vec_id) AS rnk
        |    FROM assigned a
        |    JOIN probes p ON a.cluster = p.probe_cluster
        |    JOIN embeddings e ON e.vec_id = a.vec_id
        |    JOIN embeddings q ON q.vec_id = p.qid
        |    WHERE e.vec_id <> p.qid)
        |  WHERE rnk <= 3),
        |edges AS (
        |  SELECT DISTINCT least(qid, nn) AS a, greatest(qid, nn) AS b FROM knn),
        |adj AS (SELECT a AS src, b AS dst FROM edges
        |        UNION ALL SELECT b AS src, a AS dst FROM edges),
        |q AS (SELECT vec_id AS qid, $E AS qv FROM embeddings
        |      WHERE vec_id < 3),
        |c0 AS (SELECT q.qid, e.vec_id AS id FROM embeddings e CROSS JOIN q
        |       WHERE e.vec_id < 8 AND e.vec_id <> q.qid),
        |b0 AS (SELECT qid, id, qscore FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id) AS rn
        |  FROM (SELECT cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000 + 0.5)/10000
        |            AS qscore
        |        FROM c0 cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= 8),
        |c1 AS (SELECT DISTINCT qid, id FROM (
        |  SELECT qid, id FROM b0
        |  UNION ALL SELECT b.qid, a.dst AS id FROM b0 b JOIN adj a ON b.id = a.src)
        |  WHERE id <> qid),
        |b1 AS (SELECT qid, id, qscore FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id) AS rn
        |  FROM (SELECT cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000 + 0.5)/10000
        |            AS qscore
        |        FROM c1 cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= 8),
        |c2 AS (SELECT DISTINCT qid, id FROM (
        |  SELECT qid, id FROM b1
        |  UNION ALL SELECT b.qid, a.dst AS id FROM b1 b JOIN adj a ON b.id = a.src)
        |  WHERE id <> qid),
        |b2 AS (SELECT qid, id, qscore FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id) AS rn
        |  FROM (SELECT cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000 + 0.5)/10000
        |            AS qscore
        |        FROM c2 cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= 8),
        |c3 AS (SELECT DISTINCT qid, id FROM (
        |  SELECT qid, id FROM b2
        |  UNION ALL SELECT b.qid, a.dst AS id FROM b2 b JOIN adj a ON b.id = a.src)
        |  WHERE id <> qid),
        |b3 AS (SELECT qid, id, qscore FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id) AS rn
        |  FROM (SELECT cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000 + 0.5)/10000
        |            AS qscore
        |        FROM c3 cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= 8)
        |SELECT qid, rn AS rnk, id AS nn_id, qscore AS cos FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id) AS rn
        |  FROM b3)
        |WHERE rn <= 5 ORDER BY qid, rnk""".stripMargin,
    // Layer-1 = md5 1/16 hash sample; same probed-cluster blocking
    // and r4-quantized top-3 protocol as the layer-0 graph oracle.
    "ann_hnsw_build" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings
        |      WHERE vec_id < 4),
        |${hnswLevelEdgeSql(1)},
        |${hnswLevelEdgeSql(2)}
        |SELECT layer, src, rnk, nn, cos FROM (
        |  SELECT * FROM e1 UNION ALL SELECT * FROM e2)
        |ORDER BY layer, src, rnk""".stripMargin,
    // Incremental insert: the batch (vec_id % 10 = 7) probes the
    // same fixed centroids; layer-0 candidates are the FULL
    // post-insert corpus, layer-1 candidates the post-insert layer-1
    // subset — the two probed link blocks mirror ann_hnsw_build's.
    // Delete+compact mirrored: the stored indexes re-derived (old0 =
    // full-corpus top-3 links, old1 = the layer-1 edge list), the
    // affected sets from tombstoned neighbors, repairs via the same
    // probed join against the live subsets. Index CTEs MATERIALIZED.
    "ann_hnsw_delete" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings
        |      WHERE vec_id < 4),
        |f0 AS (SELECT vec_id, $E AS v FROM embeddings),
        |lv AS (SELECT * FROM f0 WHERE vec_id % 10 <> 6),
        |l1 AS (SELECT * FROM f0
        |  WHERE ('0x' || substring(md5(vec_id::VARCHAR), 1, 2))::INT
        |    % 16 = 0),
        |l1lv AS (SELECT * FROM l1 WHERE vec_id % 10 <> 6),
        |a0f AS MATERIALIZED (
        |  SELECT vec_id, v, cluster FROM (
        |    SELECT l.vec_id, l.v, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(l.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM f0 l CROSS JOIN c)
        |  WHERE rn = 1),
        |p0f AS MATERIALIZED (
        |  SELECT qid, qv, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, q.v AS qv, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM f0 q CROSS JOIN c)
        |  WHERE pr <= 2),
        |old0 AS MATERIALIZED (
        |  SELECT src, nn FROM (
        |    SELECT p.qid AS src, a.vec_id AS nn,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY
        |        floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |          /10000 DESC, a.vec_id) AS rnk
        |    FROM a0f a JOIN p0f p ON a.cluster = p.probe_cluster
        |    WHERE a.vec_id <> p.qid)
        |  WHERE rnk <= 3),
        |aff0 AS (SELECT DISTINCT src AS aid FROM old0
        |  WHERE nn % 10 = 6 AND src % 10 <> 6),
        |a0l AS (
        |  SELECT vec_id, v, cluster FROM (
        |    SELECT l.vec_id, l.v, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(l.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM lv l CROSS JOIN c)
        |  WHERE rn = 1),
        |p0r AS (SELECT p.* FROM p0f p JOIN aff0 ON p.qid = aff0.aid),
        |e0 AS (
        |  SELECT 0::BIGINT AS layer, src, rnk, nn, cos FROM (
        |    SELECT p.qid AS src, a.vec_id AS nn,
        |      floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |        /10000 AS cos,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY
        |        floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |          /10000 DESC, a.vec_id) AS rnk
        |    FROM a0l a JOIN p0r p ON a.cluster = p.probe_cluster
        |    WHERE a.vec_id <> p.qid)
        |  WHERE rnk <= 3),
        |a1f AS MATERIALIZED (
        |  SELECT vec_id, v, cluster FROM (
        |    SELECT l.vec_id, l.v, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(l.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM l1 l CROSS JOIN c)
        |  WHERE rn = 1),
        |p1f AS MATERIALIZED (
        |  SELECT qid, qv, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, q.v AS qv, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM l1 q CROSS JOIN c)
        |  WHERE pr <= 2),
        |old1 AS MATERIALIZED (
        |  SELECT src, nn FROM (
        |    SELECT p.qid AS src, a.vec_id AS nn,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY
        |        floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |          /10000 DESC, a.vec_id) AS rnk
        |    FROM a1f a JOIN p1f p ON a.cluster = p.probe_cluster
        |    WHERE a.vec_id <> p.qid)
        |  WHERE rnk <= 3),
        |aff1 AS (SELECT DISTINCT src AS aid FROM old1
        |  WHERE nn % 10 = 6 AND src % 10 <> 6),
        |a1l AS (
        |  SELECT vec_id, v, cluster FROM (
        |    SELECT l.vec_id, l.v, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(l.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM l1lv l CROSS JOIN c)
        |  WHERE rn = 1),
        |p1r AS (SELECT p.* FROM p1f p JOIN aff1 ON p.qid = aff1.aid),
        |e1 AS (
        |  SELECT 1::BIGINT AS layer, src, rnk, nn, cos FROM (
        |    SELECT p.qid AS src, a.vec_id AS nn,
        |      floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |        /10000 AS cos,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY
        |        floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |          /10000 DESC, a.vec_id) AS rnk
        |    FROM a1l a JOIN p1r p ON a.cluster = p.probe_cluster
        |    WHERE a.vec_id <> p.qid)
        |  WHERE rnk <= 3)
        |SELECT * FROM (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
        |ORDER BY layer, src, rnk""".stripMargin,
    "ann_hnsw_insert" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings
        |      WHERE vec_id < 4),
        |f0 AS (SELECT vec_id, $E AS v FROM embeddings),
        |b0 AS (SELECT * FROM f0 WHERE vec_id % 10 = 7),
        |l1 AS (SELECT * FROM f0
        |  WHERE ('0x' || substring(md5(vec_id::VARCHAR), 1, 2))::INT
        |    % 16 = 0),
        |b1 AS (SELECT * FROM l1 WHERE vec_id % 10 = 7),
        |a0 AS (
        |  SELECT vec_id, v, cluster FROM (
        |    SELECT l.vec_id, l.v, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(l.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM f0 l CROSS JOIN c)
        |  WHERE rn = 1),
        |p0 AS (
        |  SELECT qid, qv, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, q.v AS qv, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM b0 q CROSS JOIN c)
        |  WHERE pr <= 2),
        |e0 AS (
        |  SELECT 0::BIGINT AS layer, src, rnk, nn, cos FROM (
        |    SELECT p.qid AS src, a.vec_id AS nn,
        |      floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |        /10000 AS cos,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY
        |        floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |          /10000 DESC, a.vec_id) AS rnk
        |    FROM a0 a JOIN p0 p ON a.cluster = p.probe_cluster
        |    WHERE a.vec_id <> p.qid)
        |  WHERE rnk <= 3),
        |a1 AS (
        |  SELECT vec_id, v, cluster FROM (
        |    SELECT l.vec_id, l.v, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY l.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(l.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM l1 l CROSS JOIN c)
        |  WHERE rn = 1),
        |p1 AS (
        |  SELECT qid, qv, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, q.v AS qv, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.v, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM b1 q CROSS JOIN c)
        |  WHERE pr <= 2),
        |e1 AS (
        |  SELECT 1::BIGINT AS layer, src, rnk, nn, cos FROM (
        |    SELECT p.qid AS src, a.vec_id AS nn,
        |      floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |        /10000 AS cos,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY
        |        floor((list_cosine_similarity(a.v, p.qv))*10000 + 0.5)
        |          /10000 DESC, a.vec_id) AS rnk
        |    FROM a1 a JOIN p1 p ON a.cluster = p.probe_cluster
        |    WHERE a.vec_id <> p.qid)
        |  WHERE rnk <= 3)
        |SELECT * FROM (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
        |ORDER BY layer, src, rnk""".stripMargin,
    // Layered descent unrolled: apex seed -> 2 beam-4 hops on the
    // layer-1 edges -> best node becomes the layer-0 entry -> 2
    // beam-8 hops on the layer-0 kNN graph -> true-cosine top-5.
    "ann_hnsw_topk" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings
        |      WHERE vec_id < 4),
        |${hnswLevelEdgeSql(1)},
        |${hnswLevelEdgeSql(2)},
        |l1adj AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, nn AS dst FROM e1
        |  UNION ALL SELECT nn AS src, src AS dst FROM e1)),
        |l2adj AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, nn AS dst FROM e2
        |  UNION ALL SELECT nn AS src, src AS dst FROM e2)),
        |fa AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |fp AS (
        |  SELECT qid, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM embeddings q CROSS JOIN c)
        |  WHERE pr <= 2),
        |knn AS (
        |  SELECT qid, vec_id AS nn FROM (
        |    SELECT p.qid, e.vec_id,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY
        |        floor((list_cosine_similarity(e.$E,
        |                               q.$E))*10000 + 0.5)/10000 DESC,
        |        e.vec_id) AS rnk
        |    FROM fa a
        |    JOIN fp p ON a.cluster = p.probe_cluster
        |    JOIN embeddings e ON e.vec_id = a.vec_id
        |    JOIN embeddings q ON q.vec_id = p.qid
        |    WHERE e.vec_id <> p.qid)
        |  WHERE rnk <= 8),
        |edges AS (
        |  SELECT DISTINCT least(qid, nn) AS a, greatest(qid, nn) AS b
        |  FROM knn),
        |adj AS (SELECT a AS src, b AS dst FROM edges
        |        UNION ALL SELECT b AS src, a AS dst FROM edges),
        |q AS (SELECT vec_id AS qid, $E AS qv FROM embeddings
        |      WHERE vec_id < 3),
        |apex AS (SELECT min(vec_id) AS id FROM l2),
        |t0 AS (SELECT q.qid, apex.id FROM q CROSS JOIN apex),
        |${hnswCutSql("u0", "t0")},
        |${hnswExpandSql("tc1", "u0", "l2adj")},
        |${hnswCutSql("u1", "tc1")},
        |${hnswExpandSql("tc2", "u1", "l2adj")},
        |${hnswCutSql("u2", "tc2")},
        |s0 AS (SELECT qid, id FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
        |      AS rn
        |  FROM u2) WHERE rn <= 1),
        |${hnswCutSql("r0", "s0")},
        |${hnswExpandSql("rc1", "r0", "l1adj")},
        |${hnswCutSql("r1", "rc1")},
        |${hnswExpandSql("rc2", "r1", "l1adj")},
        |${hnswCutSql("r2", "rc2")},
        |entry AS (SELECT qid, id FROM (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
        |      AS rn
        |  FROM r2) WHERE rn <= 3),
        |b0 AS (SELECT qid, id, qscore FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
        |      AS rn
        |  FROM (SELECT cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000
        |            + 0.5)/10000 AS qscore
        |        FROM entry cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= 8),
        |bc1 AS (SELECT DISTINCT qid, id FROM (
        |  SELECT qid, id FROM b0
        |  UNION ALL SELECT b.qid, a.dst AS id FROM b0 b
        |    JOIN adj a ON b.id = a.src)
        |  WHERE id <> qid),
        |b1 AS (SELECT qid, id, qscore FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
        |      AS rn
        |  FROM (SELECT cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000
        |            + 0.5)/10000 AS qscore
        |        FROM bc1 cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= 8),
        |bc2 AS (SELECT DISTINCT qid, id FROM (
        |  SELECT qid, id FROM b1
        |  UNION ALL SELECT b.qid, a.dst AS id FROM b1 b
        |    JOIN adj a ON b.id = a.src)
        |  WHERE id <> qid),
        |b2 AS (SELECT qid, id, qscore FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
        |      AS rn
        |  FROM (SELECT cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000
        |            + 0.5)/10000 AS qscore
        |        FROM bc2 cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= 8),
        |bc3 AS (SELECT DISTINCT qid, id FROM (
        |  SELECT qid, id FROM b2
        |  UNION ALL SELECT b.qid, a.dst AS id FROM b2 b
        |    JOIN adj a ON b.id = a.src)
        |  WHERE id <> qid),
        |b3 AS (SELECT qid, id, qscore FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
        |      AS rn
        |  FROM (SELECT cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000
        |            + 0.5)/10000 AS qscore
        |        FROM bc3 cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= 8),
        |bc4 AS (SELECT DISTINCT qid, id FROM (
        |  SELECT qid, id FROM b3
        |  UNION ALL SELECT b.qid, a.dst AS id FROM b3 b
        |    JOIN adj a ON b.id = a.src)
        |  WHERE id <> qid),
        |b4 AS (SELECT qid, id, qscore FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
        |      AS rn
        |  FROM (SELECT cc.qid, cc.id,
        |          floor((list_cosine_similarity(e.$E, q.qv))*10000
        |            + 0.5)/10000 AS qscore
        |        FROM bc4 cc JOIN embeddings e ON e.vec_id = cc.id
        |        JOIN q ON q.qid = cc.qid))
        |  WHERE rn <= 8)
        |SELECT qid, rn AS rnk, id AS nn_id, qscore AS cos FROM (
        |  SELECT qid, id, qscore,
        |    row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, id)
        |      AS rn
        |  FROM b4)
        |WHERE rn <= 5 ORDER BY qid, rnk""".stripMargin,
    "ann_hnsw_sweep" -> HnswSweepOracle,
    "ann_maxsim_topk" ->
      s"""WITH t AS (
        |  SELECT vec_id // 4 AS did, vec_id, $E AS v FROM embeddings),
        |q AS (SELECT did AS qdid, vec_id AS qtok, v AS qv FROM t
        |      WHERE did < 3),
        |m AS (
        |  SELECT qdid, did, qtok,
        |    floor(max(list_cosine_similarity(t.v, qv))*10000 + 0.5)::BIGINT
        |      AS mi
        |  FROM t, q WHERE t.did <> qdid GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT qdid, did, sum(mi)::BIGINT AS score_i,
        |    row_number() OVER (PARTITION BY qdid
        |      ORDER BY sum(mi) DESC, did) AS rnk
        |  FROM m GROUP BY 1, 2)
        |SELECT qdid, rnk, did, (score_i::DOUBLE / 10000.0) AS maxsim
        |FROM s WHERE rnk <= 5 ORDER BY qdid, rnk""".stripMargin,
    "ann_ivf_filtered_topk" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |assigned AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid AS probe_cluster FROM (
        |    SELECT q.vec_id AS qid, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < 5)
        |  WHERE pr <= 2),
        |hits AS (
        |  SELECT p.qid, e.vec_id,
        |    list_cosine_similarity(e.$E, q.$E) AS score
        |  FROM assigned a
        |  JOIN probes p ON a.cluster = p.probe_cluster
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN embeddings q ON q.vec_id = p.qid
        |  WHERE e.vec_id <> p.qid AND e.label = 3)
        |SELECT qid, rnk, vec_id AS nn_id,
        |  floor((score)*10000 + 0.5)/10000 AS cos
        |FROM (SELECT qid, vec_id, score,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY score DESC, vec_id) AS rnk
        |      FROM hits)
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    // Tagged-frame dim sweep: coarse top-50 on the prefix slice,
    // full-width rerank and truth, per-dim recall.
    "ann_matryoshka_sweep" ->
      s"""WITH q AS (
        |  SELECT vec_id AS qid, $E AS qv FROM embeddings WHERE vec_id < 5),
        |pairs AS (
        |  SELECT e.vec_id AS cid, e.$E AS cv, q.qid, q.qv, dim
        |  FROM embeddings e, q,
        |    LATERAL (SELECT unnest([8, 16, 32]) AS dim)
        |  WHERE e.vec_id <> q.qid),
        |coarse AS (
        |  SELECT *, list_cosine_similarity(
        |      list_slice(cv, 1, dim), list_slice(qv, 1, dim)) AS coarse
        |  FROM pairs),
        |cand AS (
        |  SELECT dim, qid, cid, cv, qv FROM (
        |    SELECT *, row_number() OVER (PARTITION BY dim, qid
        |      ORDER BY floor(coarse * 10000 + 0.5) / 10000 DESC, cid)
        |      AS crk
        |    FROM coarse)
        |  WHERE crk <= 50),
        |top AS (
        |  SELECT dim, qid, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY dim, qid
        |      ORDER BY floor(list_cosine_similarity(cv, qv) * 10000 + 0.5)
        |        / 10000 DESC, cid) AS rnk
        |    FROM cand)
        |  WHERE rnk <= 10),
        |brute AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.qid, e.vec_id AS cid,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        floor(list_cosine_similarity(e.$E, q.qv) * 10000 + 0.5)
        |          / 10000 DESC, e.vec_id) AS rnk
        |    FROM embeddings e, q WHERE e.vec_id <> q.qid)
        |  WHERE rnk <= 10),
        |truth AS (SELECT count(*)::BIGINT AS n_truth FROM brute),
        |dims AS (SELECT unnest([8, 16, 32]) AS dim),
        |ht AS (
        |  SELECT dim, count(*)::BIGINT AS n_hits
        |  FROM top JOIN brute USING (qid, cid) GROUP BY 1)
        |SELECT dims.dim, truth.n_truth,
        |  coalesce(ht.n_hits, 0)::BIGINT AS n_hits,
        |  CASE WHEN truth.n_truth > 0 THEN
        |    floor(coalesce(ht.n_hits, 0)::DOUBLE / truth.n_truth::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS recall
        |FROM dims LEFT JOIN ht ON dims.dim = ht.dim CROSS JOIN truth
        |ORDER BY dims.dim""".stripMargin,
    // Same seeded 6-bit SRP literals; min_flip tags the cheapest
    // probe per candidate; settings expand from one frame.
    "ann_lsh_multiprobe" -> {
      val sigTerms = Vectors.srpPlanes(6, 64).zipWithIndex.map {
        case (pl, i) =>
          s"(CASE WHEN floor(list_dot_product($E, " +
            s"${pl.mkString("[", ", ", "]")}::DOUBLE[]) * 10000 + 0.5)" +
            s" > 0 THEN ${1L << i} ELSE 0 END)"
      }
      s"""WITH sg AS (
        |  SELECT vec_id, $E AS v,
        |    (${sigTerms.mkString("\n  + ")})::BIGINT AS sig
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id AS qid, v AS qv, sig AS qsig
        |  FROM sg WHERE vec_id < 5),
        |pr AS (
        |  SELECT qid, qsig,
        |    flip,
        |    CASE WHEN flip = -1 THEN qsig
        |      ELSE xor(qsig, (1::BIGINT << flip)) END AS psig
        |  FROM q, LATERAL (SELECT unnest(range(-1, 6)) AS flip)),
        |pc AS (
        |  SELECT pr.qid, sg.vec_id AS cid, min(pr.flip)::BIGINT AS min_flip
        |  FROM pr JOIN sg ON pr.psig = sg.sig AND sg.vec_id <> pr.qid
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT 'p1' AS setting, qid, cid FROM pc WHERE min_flip = -1
        |  UNION ALL
        |  SELECT 'p7' AS setting, qid, cid FROM pc),
        |scored AS (
        |  SELECT sc.setting, sc.qid, sc.cid,
        |    list_cosine_similarity(sg.v, q.qv) AS cos
        |  FROM sc JOIN sg ON sg.vec_id = sc.cid
        |    JOIN q ON q.qid = sc.qid),
        |top AS (
        |  SELECT setting, qid, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY setting, qid
        |      ORDER BY floor(cos * 10000 + 0.5) / 10000 DESC, cid) AS rnk
        |    FROM scored)
        |  WHERE rnk <= 10),
        |brute AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.qid, sg.vec_id AS cid,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        floor(list_cosine_similarity(sg.v, q.qv) * 10000 + 0.5)
        |          / 10000 DESC, sg.vec_id) AS rnk
        |    FROM sg, q WHERE sg.vec_id <> q.qid)
        |  WHERE rnk <= 10),
        |truth AS (SELECT count(*)::BIGINT AS n_truth FROM brute),
        |st AS (SELECT 'p1' AS setting UNION ALL SELECT 'p7'),
        |cd AS (
        |  SELECT setting, count(*)::BIGINT AS n_candidates
        |  FROM scored GROUP BY 1),
        |ht AS (
        |  SELECT setting, count(*)::BIGINT AS n_hits
        |  FROM top JOIN brute USING (qid, cid) GROUP BY 1)
        |SELECT st.setting, truth.n_truth,
        |  coalesce(cd.n_candidates, 0)::BIGINT AS n_candidates,
        |  coalesce(ht.n_hits, 0)::BIGINT AS n_hits,
        |  CASE WHEN truth.n_truth > 0 THEN
        |    floor(coalesce(ht.n_hits, 0)::DOUBLE / truth.n_truth::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS recall
        |FROM st
        |LEFT JOIN cd ON st.setting = cd.setting
        |LEFT JOIN ht ON st.setting = ht.setting
        |CROSS JOIN truth
        |ORDER BY st.setting""".stripMargin
    },
    "ann_probe_sweep" ->
      s"""WITH c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |q AS (SELECT vec_id AS qid, $E AS qv FROM embeddings WHERE vec_id < 5),
        |truth AS (
        |  SELECT qid AS tq, vec_id AS tn FROM (
        |    SELECT q.qid, e.vec_id,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        floor((list_cosine_similarity(e.$E, q.qv))*10000 + 0.5)/10000
        |          DESC, e.vec_id) AS rnk
        |    FROM embeddings e, q WHERE e.vec_id <> q.qid)
        |  WHERE rnk <= 5),
        |assigned AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT e.vec_id, c.cid AS cluster,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.$E, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        |    FROM embeddings e CROSS JOIN c)
        |  WHERE rn = 1),
        |pranks AS (
        |  SELECT qid, cid AS probe_cluster, pr FROM (
        |    SELECT q.qid, c.cid,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        list_sum(list_transform(list_zip(q.qv, c.cv),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS pr
        |    FROM q CROSS JOIN c)),
        |sweep AS (SELECT unnest(range(1, 5))::INT AS np),
        |probes AS (
        |  SELECT np, qid, probe_cluster FROM pranks CROSS JOIN sweep
        |  WHERE pr <= np),
        |hits AS (
        |  SELECT np, qid, vec_id FROM (
        |    SELECT p.np, p.qid, e.vec_id,
        |      row_number() OVER (PARTITION BY p.np, p.qid ORDER BY
        |        floor((list_cosine_similarity(e.$E, q.qv))*10000 + 0.5)/10000
        |          DESC, e.vec_id) AS rnk
        |    FROM assigned a
        |    JOIN probes p ON a.cluster = p.probe_cluster
        |    JOIN embeddings e ON e.vec_id = a.vec_id
        |    JOIN q ON q.qid = p.qid
        |    WHERE e.vec_id <> p.qid)
        |  WHERE rnk <= 5)
        |SELECT np,
        |  floor((count(*)::DOUBLE / 25.0)*10000 + 0.5)/10000 AS recall
        |FROM hits SEMI JOIN truth ON qid = tq AND vec_id = tn
        |GROUP BY np ORDER BY np""".stripMargin,
    // 4 unrolled greedy MMR picks in exact integer units; each round's
    // NOT IN / max-over-selected mirrors the Spark anti-join + agg.
    "ann_rerank_mmr" ->
      s"""WITH qv AS (SELECT $E AS v FROM embeddings WHERE vec_id = 0),
        |cands AS (
        |  SELECT vec_id, e.$E AS v,
        |    floor(list_cosine_similarity(e.$E, qv.v)*10000 + 0.5)::BIGINT AS rel
        |  FROM embeddings e, qv WHERE vec_id <> 0
        |  ORDER BY rel DESC, vec_id LIMIT 10),
        |sims AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    floor(list_cosine_similarity(a.v, b.v)*10000 + 0.5)::BIGINT AS sim
        |  FROM cands a, cands b WHERE a.vec_id <> b.vec_id),
        |sel1 AS (
        |  SELECT vec_id, 1 AS rnk, rel * 7 AS mmr_u FROM cands
        |  ORDER BY rel DESC, vec_id LIMIT 1),
        |sel2 AS (
        |  SELECT c.vec_id, 2 AS rnk, c.rel * 7 - max(s.sim) * 3 AS mmr_u
        |  FROM cands c JOIN sims s ON c.vec_id = s.ia
        |  JOIN sel1 ON s.ib = sel1.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
        |  GROUP BY c.vec_id, c.rel
        |  ORDER BY mmr_u DESC, c.vec_id LIMIT 1),
        |s12 AS (SELECT vec_id FROM sel1 UNION ALL SELECT vec_id FROM sel2),
        |sel3 AS (
        |  SELECT c.vec_id, 3 AS rnk, c.rel * 7 - max(s.sim) * 3 AS mmr_u
        |  FROM cands c JOIN sims s ON c.vec_id = s.ia
        |  JOIN s12 ON s.ib = s12.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s12)
        |  GROUP BY c.vec_id, c.rel
        |  ORDER BY mmr_u DESC, c.vec_id LIMIT 1),
        |s123 AS (SELECT vec_id FROM s12 UNION ALL SELECT vec_id FROM sel3),
        |sel4 AS (
        |  SELECT c.vec_id, 4 AS rnk, c.rel * 7 - max(s.sim) * 3 AS mmr_u
        |  FROM cands c JOIN sims s ON c.vec_id = s.ia
        |  JOIN s123 ON s.ib = s123.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s123)
        |  GROUP BY c.vec_id, c.rel
        |  ORDER BY mmr_u DESC, c.vec_id LIMIT 1)
        |SELECT rnk, vec_id, mmr_u::BIGINT AS mmr_u FROM (
        |  SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
        |  UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4)
        |ORDER BY rnk""".stripMargin
  )
}
