package graft

import graft.operators._

/** Physical-plan audits (SURVEY.md "explain and iterate"): these pin
  * the *plan shapes* the 100 TB design depends on, so a regression
  * that silently de-optimizes (lost pushdown, broadcast→shuffle,
  * global sort instead of top-k) fails CI even though results stay
  * correct.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = sf("sf0.001")

  /** Pinned count of unpartitioned window sites across all declared
    * keys' visible optimized plans (see the audit test). Every one
    * of these rides a documented bounded frame; re-pin only after
    * verifying the new site is grid-bounded, never corpus-grain.
    */
  // r15 audited inventory; +2 late-r15 (agg_decision_stump's
  // x-value-grid cumulative, agg_mcnemar_exact's shard-offset
  // window) + 3 from events_km_ci (the KM duration-grid global +
  // cumulative windows — the survival-family precedent) − 3 from
  // the events_rfm_segments re-plan (its user-grain ntile windows
  // now ride rangedRank; the rank stages checkpoint internally so
  // only their dedicated pins see them). r16: +2 from
  // agg_hodges_lehmann_ci (the shared diff-grid wtot/cumw windows —
  // domain-bounded, the same sites the HL key already carries) and
  // +2 from ts_spectral_entropy (w_tot + entropy sums over the
  // 7-row candidate-period frame) and +4 from events_cox_cindex
  // (the duration-grid risk-set global + cumulative windows — the
  // same survival-family sites the Cox/KM keys carry). All
  // remaining sites are bounded grids, verified at re-pin time.
  private val UNPARTITIONED_WINDOW_SITES = 132

  /** Pinned count of unpartitioned window sites recorded INSIDE
    * checkpointed stages by the `.ckpt()` interceptor during the
    * audit (the r15 blind spot, now mechanical). r16 inventory, each
    * verified bounded at pin time: (global) x3 — 1-row/whole-frame
    * readout aggregates; dur_hr x2 — the survival family's
    * duration-DISTINCT risk-set cumulatives; hr x1 — an hour grid;
    * k x1 — a k-row arm table; score_u x1 — eval_calibration_fit's
    * score-domain prefix; x x2 — value-domain cell grids (the
    * rank-test discipline). r17 adds s x4 —
    * eval_delong_compare's two marginal placement grids (2
    * cumulatives each) inside the checkpointed cell-grain wide
    * stage: score-DOMAIN-bounded, never pair-grain. None is
    * corpus-grain.
    */
  private val CKPT_WINDOW_SITES = 14

  private def plan(key: String): String = {
    val df = SparkEntry.queries(key)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("scan_project prunes columns at the parquet scan") {
    val p = plan("scan_project")
    assert(p.contains("ReadSchema"), p.take(500))
    assert(p.contains("l_orderkey") && !p.contains("l_extendedprice"),
      "unused columns must not be read")
  }

  test("scan_filter_pushdown pushes the predicate to parquet") {
    val p = plan("scan_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      p.take(800))
  }

  test("join hints pin the physical join strategies") {
    assert(plan("join_broadcast_inner").contains("BroadcastHashJoin"))
    assert(plan("join_shuffle_hash").contains("ShuffledHashJoin"))
    assert(plan("join_sort_merge").contains("SortMergeJoin"))
  }

  test("topk_global plans TakeOrderedAndProject, not a global sort") {
    val p = plan("topk_global")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("aggregations run two-phase (partial + final)") {
    val p = plan("agg_hash_group")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("kNN broadcasts the query side so the corpus never shuffles") {
    val p = plan("knn_batch_topk")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
  }

  test("bucketed join is co-located: SMJ with no shuffle on either side") {
    val df = SparkEntry.queries("join_bucketed_colocated")(spark, sfDir)
    df.collect()
    // AQE prints "== Final Plan ==" then "== Initial Plan ==";
    // examine only the final tree.
    val p = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(p.contains("SortMergeJoin"), p.take(600))
    // The only exchange allowed is the one feeding the final
    // aggregation — the join inputs read bucketed files directly.
    val joinIdx = p.indexOf("SortMergeJoin")
    val belowJoin = p.substring(joinIdx)
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      s"bucketed join must not reshuffle its inputs:\n${belowJoin.take(800)}")
    assert(belowJoin.contains("SelectedBucketsCount") || belowJoin.contains("Bucketed: true"),
      "scan must be bucket-aware")
  }

  test("partition-key predicate becomes directory pruning on read-back") {
    val df = SparkEntry.queries("sink_partition_prune")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      s"event_type filter must prune partitions, not scan data:\n${p.take(800)}")
    // the value predicate still goes to parquet as a data filter
    assert(p.contains("PushedFilters: [IsNotNull(value), GreaterThan(value"),
      p.take(800))
  }

  test("exact-dedup pair joins shuffle on the block key — no corpus broadcast") {
    // dedup_jaccard_pairs and the component keys now consume the
    // memoized checkpoint of TextOps.jaccardPairs, so the shared
    // pipeline's shape is pinned on the pipeline function itself —
    // it still covers all three round-1 corpus-broadcast sites
    // (VERDICT r1 #3). dedup_fuzzy_pairs stays pinned via its key.
    // r18: the fuzzy/jaccard joins sit behind the expensive-kernel-
    // once checkpoint fences, so the pins read the PRE-checkpoint
    // stages (fuzzyScored / jaccardSetScored).
    import org.apache.spark.sql.functions.{array_distinct, col, split}
    def wordSets = TestData.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("elems"))
    val pipelines = Seq(
      "jaccardSetScored" ->
        TextOps.jaccardSetScored(wordSets, 0.9),
      "fuzzyScored" ->
        TextAnalysis.fuzzyScored(TestData.documents(spark, sfDir), 20))
    for ((k, df) <- pipelines) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"),
        s"$k must not broadcast the corpus side:\n${p.take(800)}")
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
        s"$k must shuffle-join on the block key:\n${p.take(800)}")
    }
    // and the DP must appear exactly ONCE in the stage — in the
    // projection, never duplicated into the join condition (the r18
    // double-evaluation fix)
    val fp = TextAnalysis.fuzzyScored(TestData.documents(spark, sfDir), 20)
      .queryExecution.executedPlan.toString
    val nBlev = "bounded_levenshtein".r.findAllIn(fp).length
    assert(nBlev == 1,
      s"bounded_levenshtein must evaluate once (projection only), saw $nBlev:\n${fp.take(900)}")
  }

  test("stored IVF search partition-prunes the index read via the probe join") {
    val df = SparkEntry.queries("ann_ivf_pruned_topk")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // The scan of the stored index must carry a pruning predicate on
    // the cluster partition column — dynamic (from the probe join) or
    // static — so probing 2 of k clusters reads 2/k of the files.
    assert(p.contains("PartitionFilters: [") && p.contains("dynamicpruning"),
      s"index scan must be partition-pruned by probe clusters:\n${p.take(1200)}")
  }

  test("filtered kNN pushes the metadata predicate to the corpus scan") {
    // Another suite may have cached an embeddings projection on the
    // shared session; cached-fragment substitution would replace the
    // parquet scan this assertion inspects.
    spark.catalog.clearCache()
    val p = plan("knn_filtered_topk")
    assert(p.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)"),
      s"label filter must reach the parquet scan (pre-filtering):\n${p.take(800)}")
  }

  test("ngram jaccard shuffles on the salted block key with the codegen'd intersect") {
    val p = plan("dedup_ngram_jaccard")
    assert(p.contains("ShuffledHashJoin"),
      s"bitmap pair join must shuffle on the block key:\n${p.take(800)}")
    assert(p.contains("bitmap_intersect_count"),
      "pair scoring must use the codegen'd bitmap intersect")
  }

  test("EXISTS/NOT EXISTS plan as semi/anti joins (predicate-subquery rewrite)") {
    assert(plan("subquery_exists").contains("LeftSemi"),
      "EXISTS must plan as a left-semi join")
    assert(plan("subquery_not_exists").contains("LeftAnti"),
      "NOT EXISTS must plan as a left-anti join")
  }

  test("embedding-LSH candidate join shuffles on the band key — no corpus broadcast") {
    val p = plan("dedup_embedding_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"banded LSH must never degenerate to a nested-loop pair scan:\n${p.take(800)}")
    // The signature projection itself sits behind a localCheckpoint
    // (it must run once, not per join branch), so the visible plan
    // property is the candidate join: an EQUALITY join keyed on
    // (band, bits) — hash-joinable at any scale.
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[band".r
        .findFirstIn(p).isDefined,
      s"candidates must come from an equality join on the band key:\n${p.take(800)}")
  }

  test("hash sampling stays map-side: no exchange below the sample filter") {
    val df = SparkEntry.queries("sample_hash")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // One scan → filter → (sort for determinism). The filter must sit
    // directly on the parquet scan with no join/aggregate/exchange in
    // between — sampling 100 TB must cost exactly one pass.
    val filterIdx = p.indexOf("Filter")
    assert(filterIdx >= 0, p.take(500))
    assert(!p.substring(filterIdx).contains("Exchange"),
      s"nothing below the sample filter may shuffle:\n${p.take(800)}")
  }

  test("salted skew join shuffles both sides — no broadcast of the replicated dim") {
    val df = SparkEntry.queries("join_skew_salted")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(p.contains("ShuffledHashJoin"),
      s"salted join must hash-shuffle on (key, salt):\n${p.take(800)}")
  }

  test("join_skew_aqe: AQE splits the forced-skew partition at runtime") {
    val df = ScalePatterns.withSkewJoinConf(spark) {
      val d = ScalePatterns.skewAqeJoin(spark, sfDir)
      d.collect()
      d
    }
    val p = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(p.contains("SortMergeJoin"), p.take(800))
    // the final adaptive plan marks the split join and its skewed
    // shuffle reads
    assert(p.contains("skew=true") || p.contains("skewed"),
      s"expected an AQE skew-split join in the final plan:\n${p.take(1200)}")
  }

  test("bloom probe filters the fact side below the join (semi-join reduction)") {
    val df = SparkEntry.queries("join_bloom_prefilter")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    val joinIdx = p.indexOf("Join")
    val probeIdx = p.indexOf("bloom_might_contain")
    assert(probeIdx >= 0, s"probe expression missing from the plan:\n${p.take(600)}")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"the probe must sit below the join, on the fact-side scan:\n${p.take(900)}")
  }

  test("SNM dedup shuffle-joins on (lang, rank) — no corpus broadcast") {
    // r18: read the PRE-fence stage — the declared key's plan
    // truncates at the DP-once checkpoint (see snmPairs).
    val p = TextAnalysis.snmScored(TestData.documents(spark, sfDir), 4, 20)
      .queryExecution.executedPlan.toString
    // The hierarchical rank (Curation.rangedRank) legitimately
    // broadcasts the RANGES-sized per-(lang, partition) offset table
    // (grr_off) back onto the corpus; any OTHER broadcast would be
    // the corpus itself. So: every broadcast join in the plan must be
    // the offsets join (keys (lang, grr_pid)).
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    val nOffsets = "BroadcastHashJoin \\[lang#\\d+, grr_pid#\\d+\\]".r
      .findAllIn(p).length
    assert(nBroadcast == nOffsets,
      s"SNM may broadcast only the rank-offset table:\n${p.take(800)}")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"SNM must shuffle-join on the rank key:\n${p.take(800)}")
  }

  test("SNM + zipf ranks are hierarchical — no per-lang monolithic rank window") {
    // The r7 verdict's one audited scale-killer: a row_number window
    // partitioned by lang alone funnels each (skewed) language through
    // ONE task. Both keys now rank via Curation.rangedRank: the
    // corpus/vocabulary-sized window must partition on
    // (lang, grr_pid); only the ranges-sized offsets window may
    // partition on lang alone (its order key is grr_pid).
    // r18: the SNM rank window sits inside the DP-once checkpoint
    // fence — read the pre-fence stage for that key.
    val staged = Seq(
      "dedup_sorted_neighborhood(snmScored)" ->
        TextAnalysis.snmScored(TestData.documents(spark, sfDir), 4, 20)
          .queryExecution.executedPlan.toString,
      "text_zipf_slope" -> plan("text_zipf_slope"))
    for ((k, p) <- staged) {
      assert("windowspecdefinition\\(lang#\\d+, grr_pid#\\d+, ".r
          .findFirstIn(p).isDefined,
        s"$k: rank window must partition on (lang, grr_pid):\n${p.take(1200)}")
      assert("windowspecdefinition\\(lang#\\d+, (skey|n)#\\d+L? (ASC|DESC)".r
          .findFirstIn(p).isEmpty,
        s"$k: found a per-lang monolithic rank window:\n${p.take(1200)}")
    }
  }

  test("win_cumulative is hierarchical — no single-partition corpus window") {
    // r12 re-plan (the r11 verdict's scale grade): the global
    // running-sum/rank semantics must come from rangedRank +
    // shardedPrefixSum. Corpus-grain windows partition on
    // (g, grr_pid) / (g, gpfx_shard); the only windows allowed to
    // order a whole partition are the slice-count-sized offset
    // windows (order key grr_pid / gpfx_shard). An unpartitioned
    // window ordered by the data columns is the single-task
    // anti-pattern this pin exists to kill.
    val p = plan("win_cumulative")
    assert("windowspecdefinition\\(g#\\d+, grr_pid#\\d+".r
        .findFirstIn(p).isDefined,
      s"rank must come from rangedRank's (g, grr_pid) window:\n${p.take(1200)}")
    assert("windowspecdefinition\\(g#\\d+, gpfx_shard#\\d+".r
        .findFirstIn(p).isDefined,
      s"running sum must come from shardedPrefixSum:\n${p.take(1200)}")
    assert("windowspecdefinition\\(o_orderdate#\\d+".r
        .findFirstIn(p).isEmpty,
      s"found an unpartitioned corpus-ordered window:\n${p.take(1200)}")
  }

  test("weighted top-k samples via TakeOrderedAndProject, not a rank window") {
    // sample_weighted_topk's whole point at scale: the E-S key is
    // computed map-side and the top-k is a per-partition heap —
    // a corpus-grain row_number window here would be the single-task
    // anti-pattern.
    val p = plan("sample_weighted_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample must plan a distributed top-k:\n${p.take(800)}")
  }

  test("hurst R/S windows partition on (size, block) — never the raw grid") {
    val p = plan("ts_hurst_exponent")
    assert("windowspecdefinition\\(ws#\\d+L?, blk#\\d+L?".r
        .findFirstIn(p).isDefined,
      s"cumulative-deviation window must partition on (ws, blk):\n${p.take(1200)}")
    assert("windowspecdefinition\\(hr#\\d+L? ASC".r.findFirstIn(p).isEmpty,
      s"found an unpartitioned window over the hour grid:\n${p.take(1200)}")
  }

  test("heaps-law ranks are hierarchical — no corpus-grain doc window") {
    // heapsFit localCheckpoints its ranked/checkpoint stages, so the
    // key's FINAL plan only shows the readout — pin the rank stage's
    // own plan (the exact frame the key builds pre-checkpoint) plus
    // the negative assertion on the visible readout plan.
    import org.apache.spark.sql.functions._
    val docs = TestData.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .withColumn("g", lit(0))
    val ranked = Curation.rangedRank(
      docs, "g", Seq(col("doc_id")), "rnk")
    val rp = ranked.queryExecution.optimizedPlan.toString
    assert("windowspecdefinition\\(g#\\d+, grr_pid#\\d+".r
        .findFirstIn(rp).isDefined,
      s"doc rank must come from rangedRank's (g, grr_pid) window:\n${rp.take(1200)}")
    assert("windowspecdefinition\\(doc_id#\\d+".r.findFirstIn(rp).isEmpty,
      s"found a corpus-grain doc_id window in the rank stage:\n${rp.take(1200)}")
    val p = plan("text_heaps_law")
    assert("windowspecdefinition\\(doc_id#\\d+".r.findFirstIn(p).isEmpty,
      s"found a corpus-grain doc_id window in the readout:\n${p.take(1200)}")
  }

  test("transition top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("events_transition_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("trained IVF-PQ search broadcasts only codebook-sized sides") {
    val df = SparkEntry.queries("ann_ivf_pq_trained_topk")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    // The ADC table (<=384 rows) and centroids broadcast; the codes
    // relation (corpus-sized) must reach its joins by shuffle, so
    // every BroadcastExchange must sit under a BroadcastHashJoin fed
    // by a LocalTableScan/small relation — cheap proxy: the plan has
    // no BroadcastNestedLoopJoin over the corpus and the final top-k
    // is TakeOrderedAndProject.
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(!p.contains("CartesianProduct"),
      s"no corpus-side cartesian allowed:\n${p.take(800)}")
  }

  test("hamming search plans integer top-k, full vectors fetched post-candidate") {
    val p = plan("ann_hamming_topk")
    // Candidate selection over the 2-word codes is a
    // TakeOrderedAndProject on the int Hamming distance — never a
    // global sort of the corpus.
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("CartesianProduct"),
      s"query code must broadcast, not cartesian:\n${p.take(800)}")
  }

  test("triangle-count kNN graph joins on the cluster key — no corpus broadcast") {
    // graph_triangle_count eagerly checkpoints the edge list, so the
    // candidate-join shape is pinned on the pre-checkpoint pipeline
    // (directedKnn — knnGraphEdges now reads the memoized checkpoint).
    val df = GraphOps.directedKnn(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // The probe↔assigned join must shuffle on the cluster key; the
    // only broadcast is the centroid table (4 rows) — never the
    // embedding corpus.
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"candidate generation must shuffle on the cluster key:\n${p.take(800)}")
  }

  test("stratified sampling stays map-side: no exchange below the filter") {
    val df = SparkEntry.queries("sample_stratified")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // One scan → filter → sort for output. The only exchange allowed
    // is the final output ordering's range exchange.
    val body = p.split("Exchange rangepartitioning")(0)
    assert(!body.contains("Exchange hashpartitioning"),
      s"stratum rate lookup must be a CASE, not a join/shuffle:\n${p.take(800)}")
  }

  test("BM25 broadcasts only model-sized sides (df/stats), corpus shuffles once") {
    val df = SparkEntry.queries("text_bm25_topk")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"),
      s"stats join must broadcast the 1-row side:\n${p.take(800)}")
  }

  test("custom cosine expression compiles into whole-stage codegen") {
    val df = SparkEntry.queries("dup_pairs_cosine")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cosine_similarity"), "custom expression must be in the plan")
    // '*(n)' prefixes mark whole-stage-codegen stages in the final
    // adaptive plan; the projection holding the expression must carry
    // one (doGenCode working, no CodegenFallback).
    val line = p.linesIterator.find(_.contains("cosine_similarity")).get
    assert(line.contains("*("), s"cosine projection fell out of codegen: $line")
  }

  test("IVF vector math runs as codegen'd kernels, never interpreted HOFs") {
    // sq_dist and nearest_centroid replaced aggregate(zip_with(..))
    // HOFs (CodegenFallback: boxed per element, operator pulled out of
    // whole-stage codegen) and an assignment that grouped on
    // (vec_id, embedding) — a SortAggregate whose comparator re-ran
    // the array-key normalization on every comparison. Checkpointed
    // stages are planned too (CkptAudit), and AQE is off so the
    // physical plans carry their codegen stages without running. The
    // index write runs with the interpreted fallback off: generated
    // code that fails to compile fails the test.
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    withTempDir("ivf_layout") { index =>
      val rec = scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
      CkptAudit.sink = rec
      val built = try {
        val fromKeys = Seq("kmeans_lloyd", "triplet_mine_bucketed", "ann_ivf_pq_topk")
          .map(k => k -> SparkEntry.queries(k)(s2, sfDir))
        val e = TestData.embeddings(s2, sfDir)
          .select(col("vec_id").as("id"), col("embedding"))
        val cents = e.filter(col("id") < 8)
          .select(col("id").as("cid"), col("embedding").as("cv"))
        val engine = new graft.api.GraftEngine(s2)
        val assigned = engine.buildIvfIndex(e, cents, index)
        fromKeys ++ Seq("buildIvfIndex" -> assigned,
          "ivfSearch" -> engine.ivfSearch(index, cents, e.filter(col("id") < 5), 5, 2))
      } finally CkptAudit.sink = null
      val plans = built.map { case (k, df) => k -> df.queryExecution.executedPlan.toString } ++
        rec.zipWithIndex.map { case (p, i) =>
          s"checkpointed stage $i" -> org.apache.spark.sql.graft.Bridge.dataset(s2, p)
            .queryExecution.executedPlan.toString }
      val hof = """\b(zip_with|aggregate)\(""".r
      for ((k, p) <- plans) {
        assert(!p.contains("SortAggregate"), s"$k plans a SortAggregate:\n$p")
        assert(!p.toLowerCase.contains("knownfloatingpointnormalized"),
          s"$k groups or joins on normalized float keys:\n$p")
        assert(hof.findFirstIn(p).isEmpty, s"$k evaluates an interpreted vector HOF:\n$p")
        for (line <- p.linesIterator
             if line.contains("sq_dist(") || line.contains("nearest_centroid("))
          assert(line.contains("*("), s"$k: kernel projection fell out of codegen: $line")
      }
      val all = plans.map(_._2).mkString("\n")
      assert(all.contains("nearest_centroid(") && all.contains("sq_dist("), all.take(2000))
      // the facade index holds one file per inverted list, in the
      // compacted generation batch=-1
      val dirs = new java.io.File(index).listFiles().filter(_.getName.startsWith("cluster="))
      assert(dirs.length == 8, dirs.map(_.getName).mkString(", "))
      for (d <- dirs) {
        assert(d.list().toSeq == Seq("batch=-1"), s"${d.getName} holds ${d.list().mkString(", ")}")
        val files = new java.io.File(d, "batch=-1").list()
        assert(files.count(_.endsWith(".parquet")) == 1,
          s"${d.getName}/batch=-1 holds ${files.mkString(", ")}")
      }
    }
  }

  test("partition-scoped merge reads only touched partitions (pruned scan)") {
    import spark.implicits._
    withTempDir("merge_prune_plan") { dir =>
      Seq((1L, 10.0, 0), (2L, 20.0, 1), (3L, 30.0, 2))
        .toDF("id", "v", "pt")
        .write.mode("overwrite").partitionBy("pt").parquet(dir)
      val upd = Seq((9L, 90.0, 0)).toDF("id", "v", "pt")
      val p = new graft.api.GraftEngine(spark).touchedSlice(spark, dir, upd, "pt")
        .queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [") && p.contains("pt"),
        s"touched-partition IN list must prune directories:\n${p.take(800)}")
      assert(!p.contains("PartitionFilters: []"),
        s"empty partition filter = full snapshot scan:\n${p.take(800)}")
    }
  }

  test("graph ANN beam search broadcasts the beam, never the corpus") {
    // The DataFrame beam cut behind GraftEngine.graphSearch and
    // ann_hnsw_sweep (which checkpoint each beam between hops); the
    // per-hop scoring shape is pinned on the exposed pre-checkpoint cut.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = TestData.embeddings(spark, sfDir)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cands = Seq((0L, 5L), (1L, 6L), (2L, 7L)).toDF("qid", "id")
    val df = AnnSearch.beamCut(e, queries, cands, 8)
    val p = df.queryExecution.executedPlan.toString
    // `corpus ⋈ broadcast(candidates)` (hinted): BroadcastHashJoin on
    // the id key, corpus streamed — an UNfiltered embeddings scan
    // exists only as the probe side; no cartesian pair scan.
    assert(p.contains("BroadcastHashJoin"),
      s"beam joins must broadcast the candidate side:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"beam expansion must stay an equi-join:\n${p.take(800)}")
    val corpusScans = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("embeddings.parquet")
        && !l.contains("LessThan(vec_id")).toList
    assert(corpusScans.nonEmpty, "expected a streamed full corpus scan")
  }

  test("ann_maxsim_topk broadcasts the query tokens, never the corpus") {
    val p = plan("ann_maxsim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query-token side must broadcast:\n${p.take(600)}")
    // corpus side streams into a partial aggregate (per-token max
    // folds map-side before the shuffle)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final aggregation of per-token maxes")
  }

  test("ann_ivf_filtered_topk pushes the label predicate to the scan") {
    val p = plan("ann_ivf_filtered_topk")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(label,3"),
      s"label filter must reach the parquet scan:\n${p.take(800)}")
  }

  test("dedup_simhash_pairs blocks via an equi-join, never a cartesian") {
    val p = plan("dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"band blocking must stay an equi-join:\n${p.take(600)}")
  }

  test("pipeline_pack_sequences cumsum windows on (lang, shard), not lang alone") {
    val p = plan("pipeline_pack_sequences")
    // The hierarchical prefix sum's big window must partition on the
    // sharded key — a per-lang monolithic window would funnel each
    // (skewed) language through ONE task at scale.
    val winSpecs = "windowspecdefinition\\(lang#\\d+, gpfx_shard#\\d+L".r
    assert(winSpecs.findFirstIn(p).isDefined,
      s"expected the doc-level window partitioned by (lang, gpfx_shard):\n${p.take(1200)}")
    assert("Exchange hashpartitioning\\(lang#\\d+, gpfx_shard#\\d+L".r
        .findFirstIn(p).isDefined,
      s"expected the cumsum shuffle keyed on (lang, gpfx_shard):\n${p.take(1200)}")
  }

  test("profile_columns reads lineitem exactly once (stacked one-pass agg)") {
    val p = plan("profile_columns")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    // Per-column profiling passes would scan k times; the stacked
    // 20-aggregate pass (Expand for the multi-distinct) scans once.
    assert(scans == 1, s"expected 1 lineitem scan, saw $scans:\n${p.take(800)}")
  }

  test("dedup_substring_spans blocks on window hashes, never a cartesian") {
    val p = plan("dedup_substring_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"dup-window candidates must come from the hash equi-join:\n${p.take(600)}")
  }

  test("profile_columns_approx drops the multi-distinct Expand, keeps one scan") {
    val p = plan("profile_columns_approx")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"expected 1 lineitem scan, saw $scans:\n${p.take(800)}")
    // HLL sketches aggregate directly — no Expand row multiplication
    assert(!p.contains("Expand"),
      s"approx profiler must not expand rows:\n${p.take(800)}")
  }

  test("pipeline_shuffle_shards shuffles once on shard (window), no extra exchange") {
    val p = plan("pipeline_shuffle_shards")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    // One clustering shuffle for the per-shard rank window; the
    // trailing orderBy adds a range exchange, nothing else.
    assert(hashEx == 1, s"expected exactly 1 hash exchange, saw $hashEx:\n${p.take(900)}")
    assert(p.contains("hashpartitioning(shard"),
      s"the one shuffle must cluster on shard:\n${p.take(900)}")
  }

  test("multimodal_blockhash hashes map-side — no shuffle below the final sort") {
    val p = plan("multimodal_blockhash")
    assert(!p.contains("Exchange hashpartitioning"),
      s"block hashing must not shuffle the payload:\n${p.take(900)}")
  }

  test("scan_schema_drift reads both generations, single two-phase aggregate") {
    val p = plan("scan_schema_drift")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 2, s"expected old+new generation scans, saw $scans:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("agg_segment_overlap folds user-grain data exactly once") {
    // The pairwise matrix must come off the mask HISTOGRAM, never a
    // second pass over user-grain rows: exactly one exchange keyed on
    // user_id (the per-user fold); the histogram and pair aggregates
    // shuffle on mask / (seg_a, seg_b) only.
    val p = plan("agg_segment_overlap")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges == 1,
      s"expected exactly one user-grain exchange, saw $userExchanges:\n${p.take(900)}")
  }

  test("events_dau_wau_mau equi-joins the calendar — no nested-loop probe") {
    // The r8 form's `datediff BETWEEN 0 AND 29` had no equi-key and
    // planned a BroadcastNestedLoopJoin: every (user, day) pair row
    // probed EVERY calendar day (3 650× per-row at 10 y of history).
    // The r9 form explodes the 30 day-offsets and hash-joins the
    // broadcast days-sized calendar on the landing day — constant
    // 30× fanout, equi-keyed.
    val p = plan("events_dau_wau_mau")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"),
      s"calendar join regressed to a nested loop:\n${p.take(900)}")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the broadcast calendar equi-join:\n${p.take(900)}")
  }

  test("text_ngram_novelty shuffles on the trigram key — no cartesian") {
    val p = plan("text_ngram_novelty")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert("hashpartitioning\\((tri|ng)".r.findFirstIn(p).isDefined,
      s"first-occurrence join must shuffle on the n-gram key:\n${p.take(900)}")
  }

  test("theil / winsorized broadcast only the group-stats side") {
    // Both keys join a groups-sized stats/cuts table back onto the
    // row stream: that side must broadcast; the corpus must not.
    for (k <- Seq("agg_theil_index", "agg_winsorized_mean")) {
      val p = plan(k)
      assert(p.contains("BroadcastHashJoin"),
        s"$k: groups-sized side should broadcast:\n${p.take(600)}")
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"), s"$k:\n${p.take(600)}")
    }
  }

  test("ts_theil_sen medians over the DISTINCT-slope aggregate, not raw pairs") {
    // The cumulative window must consume the slope-grain HashAggregate
    // (slopes-sized), with the pair join below the aggregate.
    val p = plan("ts_theil_sen")
    assert(p.contains("HashAggregate"), p.take(600))
    val idxWindow = p.indexOf("Window")
    val idxJoin = p.indexOf("Join", idxWindow)
    assert(idxWindow >= 0 && idxJoin > idxWindow,
      s"pair join must sit below the median window:\n${p.take(900)}")
  }

  test("ts_changepoint_cusum / ts_autocorr aggregate before any window") {
    // The unpartitioned running windows are the documented time-sized
    // tail: they must consume the HOURLY aggregate, so the plan's
    // single-partition exchange feeds from a HashAggregate, and the
    // corpus-sized scan is below the aggregate, not below the window.
    for (k <- Seq("ts_changepoint_cusum", "ts_autocorr")) {
      val p = plan(k)
      assert(p.contains("HashAggregate"), s"$k: missing hourly aggregate")
      val idxWindow = p.indexOf("Window")
      val idxScan = p.indexOf("FileScan")
      assert(idxWindow >= 0 && idxScan > idxWindow,
        s"$k: window must sit above the aggregated grid, scan below it")
    }
  }

  test("Mann-Whitney / KS cumulative windows consume the value-distinct grid") {
    // The rank/ECDF cumulatives must run over the domain-bounded cell
    // aggregate (the agg_weighted_median move), never the per-user
    // rows: the window sits above a HashAggregate, the corpus scan
    // below it.
    for (k <- Seq("agg_mann_whitney", "agg_ks_test")) {
      val p = plan(k)
      assert(p.contains("HashAggregate"), s"$k: missing cell aggregate")
      val idxWindow = p.indexOf("Window")
      val idxScan = p.indexOf("FileScan")
      assert(idxWindow >= 0 && idxScan > idxWindow,
        s"$k: cumulative window must consume the cell grid, not rows")
    }
  }

  test("bootstrap CI hashes once per row: a single md5 below the explode") {
    // The seeded draw pays ONE md5 per row and remixes per replicate
    // with integer arithmetic — the plan must contain exactly one md5
    // call site (the ×B generator re-mixes h28, it never re-hashes).
    val df = SparkEntry.queries("sample_bootstrap_ci")(spark, sfDir)
    val analyzed = df.queryExecution.analyzed.toString
    val mentions = "(?i)md5".r.findAllIn(analyzed).length
    assert(mentions === 1, s"expected one md5 site, got $mentions")
  }

  test("round-10 join-shaped keys plan equi-joins — no nested loop, no cartesian") {
    // ts_mann_kendall / ts_theil_sen intentionally theta-join the
    // TIME-sized grid (documented); everything that touches corpus
    // grain must stay hash-equi. asof_interpolated is the critical
    // one: the probe side is corpus-sized.
    for (k <- Seq("join_asof_interpolated", "events_user_lifecycle",
        "events_survival_km", "ts_snaive_smape",
        "graph_clustering_coeff", "text_char_entropy",
        "vec_mahalanobis_outlier", "events_transition_entropy")) {
      val p = plan(k)
      assert(!p.contains("BroadcastNestedLoopJoin")
          && !p.contains("CartesianProduct"),
        s"$k must not plan a nested-loop/cartesian:\n${p.take(700)}")
    }
    // graph_hits (r19): the last half-rounds' araw/hraw ckpts moved
    // the lineage cut BEFORE the L1 normalizations, so the final
    // plan now shows exactly TWO 1-row scalar crossJoins (sa, sh) —
    // the intended IdentityBroadcastMode BNLJs (the js_divergence
    // pin shape). The edge-grain joins stay behind the ckpts.
    val ph = plan("graph_hits")
    val bnljH = "BroadcastNestedLoopJoin".r.findAllIn(ph).length
    assert(bnljH === 2 && !ph.contains("CartesianProduct")
        && "IdentityBroadcastMode".r.findAllIn(ph).length === 2,
      s"graph_hits: expected exactly the two scalar BNLJs, got " +
        s"$bnljH:\n${ph.take(700)}")
    // text_js_divergence carries exactly ONE BNLJ — the 1-row
    // n_corpus scalar broadcast (intended); the token join itself
    // must be hash-equi (the r8 "assert the broadcast IS the
    // intended one" lesson).
    val pj = plan("text_js_divergence")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(pj).length
    assert(bnlj === 1 && !pj.contains("CartesianProduct"),
      s"js_divergence: expected only the scalar BNLJ, got $bnlj")
  }

  test("wave 5-8 keys: corpus-grain joins stay equi; scalar broadcasts counted") {
    // These keys join/aggregate at cell/edge/vocabulary grain — a
    // nested loop or cartesian anywhere means a corpus-grain pairing
    // leaked in.
    for (k <- Seq("agg_kendall_tau", "agg_cohens_d", "agg_welch_t",
        "graph_reciprocity", "text_conditional_entropy")) {
      val p = plan(k)
      assert(!p.contains("BroadcastNestedLoopJoin")
          && !p.contains("CartesianProduct"),
        s"$k must not plan a nested-loop/cartesian:\n${p.take(700)}")
    }
    // 1-row scalar broadcasts are intended (the r8 "assert the BNLJ
    // IS the intended one" lesson): runs_test carries the h_cnt and
    // med2 scalars, spectral_peak the totals scalar. Anything above
    // the expected count is a corpus-grain nested loop.
    // neyman: the strata-sized `appo` subtree (with its w_total
    // scalar cross) appears under BOTH the base_sum branch and the
    // main branch (3 strata — recompute is cheaper than a
    // checkpoint), plus the base_sum scalar itself = 3.
    for ((k, maxBnlj) <- Seq("ts_runs_test" -> 2,
        "ts_spectral_peak" -> 1, "agg_mutual_information" -> 2,
        "sample_neyman_allocation" -> 3)) {
      val p = plan(k)
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj <= maxBnlj && !p.contains("CartesianProduct"),
        s"$k: expected at most $maxBnlj scalar BNLJs, got $bnlj")
    }
    // The contingency grid completion is the ONE intended tiny
    // cross join (distinct-rows × distinct-cols).
    val pc = plan("agg_contingency_stdres")
    val crosses = "BroadcastNestedLoopJoin".r.findAllIn(pc).length +
      "CartesianProduct".r.findAllIn(pc).length
    assert(crosses === 1,
      s"contingency_stdres: expected exactly the grid cross, got $crosses")
  }

  test("vec_hyperplane_lsh is one map-side pass — no join, no aggregate") {
    val p = plan("vec_hyperplane_lsh")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"hyperplane signatures must not shuffle before the sort:\n${p.take(700)}")
  }

  test("vec_mahalanobis_outlier plans TakeOrderedAndProject, not a rank window") {
    val p = plan("vec_mahalanobis_outlier")
    assert(p.contains("TakeOrderedAndProject"), p.take(700))
  }

  test("cramers_v margins ride windows over the cells grid, scan below") {
    val p = plan("agg_cramers_v")
    val idxWindow = p.indexOf("Window")
    val idxScan = p.indexOf("FileScan")
    assert(idxWindow >= 0 && idxScan > idxWindow,
      "margin windows must consume the contingency cells, not rows")
  }

  test("round-11 stats keys: windows ride domain grids; scalar BNLJs counted") {
    // bh_fdr / holm: the rank/step windows must consume the 25-row
    // nation grid (aggregate below, window above — never corpus rows)
    Seq("agg_bh_fdr", "agg_holm_bonferroni").foreach { k =>
      val p = plan(k)
      val idxWindow = p.indexOf("Window")
      val idxScan = p.indexOf("FileScan")
      assert(idxWindow >= 0 && idxScan > idxWindow,
        s"$k step-up/down windows must sit above the nation aggregate")
    }
    // mcnemar / paired_t: exactly ONE nested-loop join — the 1-row
    // (min+max)/2 scalar broadcast (the text_js_divergence rule:
    // count the intended scalar joins, don't blanket-ban BNLJ)
    Seq("agg_mcnemar", "agg_paired_t").foreach { k =>
      val p = plan(k)
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj == 1, s"$k expects exactly the scalar-mid BNLJ, got $bnlj")
      assert(!p.contains("CartesianProduct"), k)
    }
  }

  test("ts_ses_backtest fans taps out through an equi-join, not a range probe") {
    val p = plan("ts_ses_backtest")
    // the 8-row weight table is the only nested-loop (scalar) join;
    // the target-hour match must be a hash equi-join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"only the weights cross join may nest, got $bnlj")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"),
      s"tap targets must equi-join:\n${p.take(700)}")
  }

  test("text_rake_keywords top-20 plans TakeOrderedAndProject") {
    val p = plan("text_rake_keywords")
    assert(p.contains("TakeOrderedAndProject"),
      s"the distinct-phrase top-k must be sort+limit, not a rank window:\n${p.take(700)}")
  }

  test("exact-test j-grid prefix is sharded — no unpartitioned user-grain window") {
    // VERDICT r14 #1: the sign-test lnC cumulative ran through ONE
    // unpartitioned ORDER BY j window over a corpus-sized grid. The
    // r15 rewrite puts it on shardedPrefixSum; this pin rejects any
    // window whose spec starts at the grid column j (the single-task
    // anti-pattern) and requires the (g, gpfx_shard) local window in
    // BOTH consumers of the chain.
    for (k <- Seq("agg_sign_test", "events_ab_srm_exact")) {
      val p = plan(k)
      assert("windowspecdefinition\\(j#\\d+".r.findFirstIn(p).isEmpty,
        s"$k: unpartitioned j-grid window:\n${p.take(1200)}")
      // the constant part key g folds away, leaving the local window
      // partitioned by the shard id — the bounded-task shape
      assert("windowspecdefinition\\(gpfx_shard#\\d+L?, j#\\d+".r
          .findFirstIn(p).isDefined,
        s"$k: lnC prefix must ride shardedPrefixSum:\n${p.take(1200)}")
    }
  }

  test("ann_hnsw_insert links through the probed join with a batch-filtered query side") {
    // the no-rebuild pin: the probe side carries the batch filter
    // (cost ∝ |batch|), candidates arrive through the shuffle-hash
    // probed-cluster join — never a corpus × corpus pass
    val p = plan("ann_hnsw_insert")
    assert("\\(vec_id#\\d+L % 10\\) = 7".r.findFirstIn(p).isDefined,
      s"probe side must be batch-filtered:\n${p.take(1000)}")
    assert(p.contains("ShuffledHashJoin"),
      s"links must ride the probed-cluster equi-join:\n${p.take(1000)}")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs pass in the insert plan:\n${p.take(1000)}")
  }

  test("ann_hnsw_delete repairs through the probed join, no corpus x corpus relink") {
    // the compact pin (VERDICT r15 #4): the repair probe side is the
    // affected-survivor list (broadcast-joined back to vectors), the
    // candidate side is the tombstone-filtered live corpus arriving
    // through the shuffle-hash probed-cluster join — never an
    // all-pairs relink
    val p = plan("ann_hnsw_delete")
    assert("NOT \\(\\(vec_id#\\d+L? % 10\\) = 6\\)".r.findFirstIn(p)
      .isDefined,
      s"candidate side must be tombstone-filtered:\n${p.take(1200)}")
    assert(p.contains("ShuffledHashJoin"),
      s"repairs must ride the probed-cluster equi-join:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs relink in the delete plan:\n${p.take(1200)}")
  }

  test("unpartitioned-window audit: the waived-site inventory is pinned") {
    // VERDICT r14 #3/#9 + r15 "what's wrong" #1: unpartitioned
    // Window.orderBy sites ride documented tiny frames (hour grids,
    // value-domain cells, limit-k arms, shard-offset tables). This
    // audit makes the invariant mechanical AND closes the
    // checkpoint blind spot: every `.ckpt()` call (the repo's
    // localCheckpoint interceptor, graft.CkptOps) records its
    // PRE-checkpoint optimized plan while the audit runs, so windows
    // INSIDE checkpointed/memoized stages are swept alongside the
    // keys' visible plans. The sweep runs in a FRESH session so
    // SessionMemo'd stages rebuild through the interceptor instead
    // of silently reusing frames built before recording started.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def windowSites(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Seq[String] =
      p.collect {
        case w: LWindow if w.partitionSpec.isEmpty =>
          if (w.orderSpec.isEmpty) "(global)"
          else w.orderSpec.map(
            _.child.references.map(_.name).toSeq.sorted
              .mkString("+")).mkString(",")
      }
    val s2 = spark.newSession()
    val rec = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
    val hits = scala.collection.mutable.SortedMap[String, Seq[String]]()
    CkptAudit.sink = rec
    try {
      for ((k, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        val sites =
          try windowSites(q(s2, sfDir).queryExecution.optimizedPlan)
          catch { case e: Exception => fail(s"$k failed to plan: $e") }
        if (sites.nonEmpty) hits(k) = sites.sorted
      }
    } finally CkptAudit.sink = null
    val total = hits.valuesIterator.map(_.size).sum
    val inventory = hits.map { case (k, s) =>
      s"$k: ${s.mkString(" | ")}" }.mkString("\n")
    // j-grid windows must stay extinct (the r15 sign-test re-plan)
    val jGrid = hits.exists { case (k, s) =>
      (k == "agg_sign_test" || k == "events_ab_srm_exact") &&
        s.exists(_.contains("j"))
    }
    assert(!jGrid, inventory)
    assert(total === UNPARTITIONED_WINDOW_SITES,
      s"unpartitioned-window inventory drifted (got $total):\n$inventory")
    // the formerly-hidden sites: unpartitioned windows inside
    // checkpointed stages, keyed by order-column signature. Each
    // signature is a bounded frame verified at pin time (duration /
    // value / score grids, shard-offset tables, k-row arms).
    val staged = rec.toSeq.flatMap(windowSites)
      .groupBy(identity).view.mapValues(_.size).toSeq.sorted
    val stagedTotal = staged.map(_._2).sum
    val stagedInv = staged.map { case (s, n) => s"$s x$n" }.mkString("\n")
    assert(stagedTotal === CKPT_WINDOW_SITES,
      s"checkpointed-stage window inventory drifted (got $stagedTotal):\n$stagedInv")
  }

  test("scan_file_provenance stages its write in parallel, not one task") {
    // The r10 fixture write funneled the whole table through
    // repartition(1); the r11 shape repartitions by the bucket
    // column — 1 file per bucket dir WITHOUT a single-task write.
    val p = Scans.provenanceStage(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"),
      s"no 1-partition exchange may feed the provenance write:\n${p.take(700)}")
    assert(p.contains("Exchange hashpartitioning(bucket"),
      s"the write must cluster by the bucket column:\n${p.take(700)}")
  }
}
