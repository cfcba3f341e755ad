package graft

import graft.functions.{VectorOps => V}
import graft.operators._
import org.apache.spark.sql.functions._

/** Property / approx-vs-exact tests for the oracle-omitted operators
  * (SURVEY.md §5.4) plus algebraic invariants of the core ops.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = sf("sf0.001")

  test("cosine: self-similarity 1, symmetry, |cos| <= 1") {
    val e = TestData.embeddings(spark, sfDir).limit(50).cache()
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.crossJoin(b)
      .withColumn("cab", V.cosine(col("va"), col("vb")))
      .withColumn("cba", V.cosine(col("vb"), col("va")))
      .collect_cosines()
    pairs.foreach { case (ia, ib, cab, cba) =>
      assert(math.abs(cab) <= 1.0 + 1e-9, s"|cos($ia,$ib)| > 1")
      assert(math.abs(cab - cba) < 1e-12, "cosine must be symmetric")
      if (ia == ib) assert(math.abs(cab - 1.0) < 1e-9, "self-cosine must be 1")
    }
  }

  implicit private class CosDf(df: org.apache.spark.sql.DataFrame) {
    def collect_cosines(): Array[(Long, Long, Double, Double)] =
      df.select("ia", "ib", "cab", "cba").as[(Long, Long, Double, Double)].collect()
  }

  test("normalize: unit norm for every vector") {
    val rows = Vectors.defs("vec_normalize")(spark, sfDir)
      .select("unit_norm").as[Double].collect()
    assert(rows.nonEmpty && rows.forall(n => math.abs(n - 1.0) < 1e-3))
  }

  test("approx_count_distinct within 5% of exact") {
    val exact = Aggregates.defs("agg_count_distinct")(spark, sfDir)
      .select("event_type", "distinct_users").as[(String, Long)].collect().toMap
    val approx = Aggregates.defs("agg_approx_hll")(spark, sfDir)
      .select("event_type", "approx_users").as[(String, Long)].collect().toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"HLL off by >5% for $k: ${approx(k)} vs $ex")
    }
  }

  test("heap-aggregated top-k equals the window-ranked top-k exactly") {
    val win = Vectors.defs("knn_batch_topk")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val agg = Vectors.defs("knn_agg_topk")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(win.nonEmpty && win === agg,
      "the Aggregator strategy must be output-identical to the window form")
  }

  test("approx_top_k equals exact counts when cardinality fits the sketch") {
    val exact = TestData.events(spark, sfDir)
      .groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val approx = Aggregates.defs("agg_approx_topk")(spark, sfDir)
      .as[(String, Long)].collect().toMap
    // 5 event types ≪ sketch capacity 64 ⇒ the frequent-items sketch
    // never evicts, so every estimate is exact.
    assert(approx === exact, s"sketch diverged: $approx vs $exact")
  }

  // The GK sketch's PUBLISHED contract (and the reason the key is a
  // permanent oracle omit): the estimate is a data element whose RANK
  // is within ε·n of the target rank, ε = 1/accuracy. Equality with
  // DuckDB's exact quantile holds only when the target rank sits more
  // than ε·n away from a value-change boundary — a data-distribution
  // accident, not a contract — so the rank bound is what we pin.
  private def assertRankEps(which: String, n: Long, p: Double,
      lt: Long, le: Long, eps: Double): Unit = {
    val slack = eps * n + 1.0 // +1 for floor/ceil rank conventions
    assert(lt <= p * n + slack,
      s"$which: estimate ranks too high (lt=$lt, n=$n, p=$p)")
    assert(le >= p * n - slack,
      s"$which: estimate ranks too low (le=$le, n=$n, p=$p)")
  }

  test("approx_percentile satisfies the GK rank-eps contract per group") {
    val approx = Aggregates.defs("agg_approx_percentile")(spark, sfDir)
      .select("l_returnflag", "approx_median", "approx_p90")
      .as[(String, Double, Double)].collect()
    assert(approx.nonEmpty)
    val li = TestData.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("f"),
              col("l_quantity").cast("double").as("q")).cache()
    try approx.foreach { case (f, am, ap) =>
      val r = li.filter(col("f") === f).agg(
        count(lit(1)), sum(when(col("q") < am, 1L).otherwise(0L)),
        sum(when(col("q") <= am, 1L).otherwise(0L)),
        sum(when(col("q") < ap, 1L).otherwise(0L)),
        sum(when(col("q") <= ap, 1L).otherwise(0L))).head()
      val n = r.getLong(0)
      assertRankEps(s"$f median", n, 0.5, r.getLong(1), r.getLong(2), 1e-3)
      assertRankEps(s"$f p90", n, 0.9, r.getLong(3), r.getLong(4), 1e-3)
    } finally li.unpersist()
  }

  test("content checksum detects a single-row tamper, and only in its partition") {
    val engine = new graft.api.GraftEngine(spark)
    val docs = TestData.documents(spark, sfDir).select("doc_id", "lang", "text")
    val clean = engine.contentChecksum(docs, "lang", "doc_id",
        Seq("doc_id", "text"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // flip one character of one document's text
    val victim = docs.orderBy("doc_id").select("doc_id", "lang")
      .head()
    val tampered = docs.withColumn("text",
      when(col("doc_id") === victim.getLong(0),
        concat(col("text"), lit("X"))).otherwise(col("text")))
    val dirty = engine.contentChecksum(tampered, "lang", "doc_id",
        Seq("doc_id", "text"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val vLang = victim.getString(1)
    assert(clean(vLang)._4 != dirty(vLang)._4,
      "tampered partition's content checksum must change")
    (clean.keySet - vLang).foreach { l =>
      assert(clean(l) === dirty(l), s"untouched partition $l must not change")
    }
  }

  test("lateness buckets partition the event count; bucket 0 max is 0") {
    val prof = TimeSeries.defs("events_lateness_profile")(spark, sfDir)
      .as[(Int, Long, Long)].collect()
    val total = TestData.events(spark, sfDir).count()
    assert(prof.map(_._2).sum === total,
      "every event lands in exactly one lateness bucket")
    prof.find(_._1 == 0).foreach { case (_, _, maxLate) =>
      assert(maxLate === 0L, "bucket 0 is the on-time bucket")
    }
  }

  test("ivf delete-compact conserves rows: before = after + deleted, no tombstone survives") {
    val r = Vectors.defs("ivf_delete_compact")(spark, sfDir)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (c, before, after, deleted, _) =>
      assert(before === after + deleted, s"cluster $c row conservation")
    }
    // the summed surviving-id checksum must exclude every tombstone
    val expect = TestData.embeddings(spark, sfDir)
      .filter(col("vec_id") % 53 =!= 0)
      .agg(sum("vec_id")).head().getLong(0)
    assert(r.map(_._5).sum === expect,
      "surviving-id checksum across clusters must equal the non-tombstoned sum")
  }

  test("k-core peeling reaches its fixpoint within the declared 3 rounds") {
    val three = GraphOps.kCore(spark, sfDir, 2, 3)
      .collect().map(_.toSeq).toSeq
    val four = GraphOps.kCore(spark, sfDir, 2, 4)
      .collect().map(_.toSeq).toSeq
    assert(three === four,
      "a 4th peel must be a no-op — the fixed-round cut is the 2-core")
    // and every in-core node really has core degree >= 2
    assert(three.filter(_(2) == true).forall(r =>
      r(1).asInstanceOf[Long] >= 2L))
  }

  test("epoch apportionment sums to exactly the budget; quotas track shares") {
    val rows = Curation.defs("pipeline_mix_epoch_schedule")(spark, sfDir)
      .select("n_tokens", "epoch_quota").as[(Long, Long)].collect()
    assert(rows.length >= 2)
    assert(rows.map(_._2).sum === 1000000L,
      "largest-remainder must hand out the whole budget, no more")
    val c = rows.map(_._1).sum
    rows.foreach { case (nt, q) =>
      // quota differs from the exact rational share by < 1 unit
      assert(math.abs(q - 1000000.0 * nt / c) < 1.0, s"($nt, $q)")
    }
  }

  test("balanced downsample caps every class at the minority size") {
    val rows = Curation.defs("sample_balanced_downsample")(spark, sfDir)
      .select("n_before", "n_after").as[(Long, Long)].collect()
    val cap = rows.map(_._1).min
    assert(rows.forall(_._2 == cap),
      s"every class must land exactly at the minority size $cap: ${rows.toSeq}")
  }

  test("HLL inclusion-exclusion overlap within 5% of the exact matrix") {
    val exact = Aggregates.defs("agg_segment_overlap")(spark, sfDir)
      .as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    val est = Aggregates.defs("agg_hll_intersection")(spark, sfDir)
      .select("seg_a", "seg_b", "est_inter")
      .as[(String, String, Long)].collect()
    assert(est.length === 10, "5 segments => 10 unordered pairs")
    est.foreach { case (a, b, ei) =>
      val exInter = exact((a, b))
      val exUnion = exact((a, a)) + exact((b, b)) - exInter
      // inclusion-exclusion compounds ~sqrt(3) sketch errors, each
      // rsd ~0.8% at lgConfigK=14, and the error scales with the
      // UNION magnitude, not the intersection
      val tol = math.max(3L, (exUnion * 0.05).toLong)
      assert(math.abs(ei - exInter) <= tol,
        s"($a,$b): est $ei vs exact $exInter (union $exUnion)")
    }
  }

  test("sketch-path DAU/WAU/MAU within 5% of the exact form every day") {
    val exact = TimeSeries.defs("events_dau_wau_mau")(spark, sfDir)
      .select("day", "dau", "wau", "mau")
      .collect().map(r => r.get(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val est = TimeSeries.defs("events_dau_sketch")(spark, sfDir)
      .select("day", "dau", "wau", "mau").collect()
    assert(est.length === exact.size, "sketch path must emit the same days")
    est.foreach { r =>
      val (ed, ew, em) = exact(r.get(0))
      // per-day HLL at lgK=14: rsd ~0.8%; unions don't compound
      // (HLL union is lossless in sketch space) — 5% is generous
      for (((got, ex), name) <- Seq((r.getLong(1), ed), (r.getLong(2), ew),
          (r.getLong(3), em)).zip(Seq("dau", "wau", "mau")))
        assert(math.abs(got - ex) <= math.max(2L, (ex * 0.05).toLong),
          s"${r.get(0)} $name: sketch $got vs exact $ex")
    }
  }

  test("profile quantile sweep satisfies the GK rank-eps contract per column") {
    val prof = Maintenance.defs("profile_columns_quantiles")(spark, sfDir)
      .as[(String, Long, Double, Double, Double, Double)].collect()
    assert(prof.length === 5)
    val li = TestData.lineitem(spark, sfDir).cache()
    try prof.foreach { case (c, n, p25, p50, p75, p90) =>
      val ests = Seq(0.25 -> p25, 0.5 -> p50, 0.75 -> p75, 0.9 -> p90)
      val x = col(c).cast("double")
      val aggs = ests.flatMap { case (_, v) => Seq(
        sum(when(x < v, 1L).otherwise(0L)), sum(when(x <= v, 1L).otherwise(0L)))
      }
      val r = li.agg(aggs.head, aggs.tail: _*).head()
      ests.zipWithIndex.foreach { case ((p, _), i) =>
        assertRankEps(s"$c p$p", n, p, r.getLong(2 * i), r.getLong(2 * i + 1), 1e-3)
      }
    } finally li.unpersist()
  }

  test("merged shard quantiles satisfy the histogram rank-eps contract") {
    // theory bound: each shard's contribution to the merged cumulative
    // is off its true ≤-count by at most one bucket width ⌈n_s/32⌉,
    // so every returned value's exact rank band must intersect
    // [p·n/100 − ε, p·n/100 + ε] with ε = Σ_s ⌈n_s/32⌉; the pick rule
    // (first cum ≥ target) additionally makes rank_hi ≥ target exact.
    val got = Maintenance.defs("profile_quantile_merge")(spark, sfDir)
      .as[(Int, Long, Long)].collect()
    assert(got.length === 5)
    val vals = TestData.lineitem(spark, sfDir)
      .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long"),
        (col("l_orderkey") % 8).as("shard"))
      .as[(Long, Long)].collect()
    val n = vals.length.toLong
    val eps = vals.groupBy(_._2).values.map(g => (g.size + 31) / 32).sum
    got.foreach { case (p, v, nTot) =>
      assert(nTot === n, s"p$p: n_total $nTot != $n")
      val lo = vals.count(_._1 < v).toLong
      val hi = vals.count(_._1 <= v).toLong
      val target = (p * n + 99) / 100
      assert(hi >= target,
        s"p$p: value $v rank_hi $hi below target $target")
      assert(lo + 1 <= target + eps,
        s"p$p: value $v rank_lo ${lo + 1} beyond target $target + eps $eps")
    }
  }

  test("quantile-drift sweep satisfies the GK rank-eps contract on BOTH halves") {
    val drift = Maintenance.defs("profile_drift_quantile")(spark, sfDir)
      .as[(String, Double, Long, Long, Double, Double, Double)].collect()
    assert(drift.length === 12, "3 columns x 4 percentiles")
    val li = TestData.lineitem(spark, sfDir).cache()
    val cur = col("l_shipdate") >= lit("1995-06-01")
    try drift.foreach { case (c, p, nRef, nCur, qRef, qCur, shift) =>
      assert(math.abs(shift - math.floor((qCur - qRef) * 10000 + 0.5) / 10000)
        < 1e-9, s"$c p$p: shift must be the r4'd quantile difference")
      for ((flag, n, q, side) <- Seq((!cur, nRef, qRef, "ref"),
          (cur, nCur, qCur, "cur"))) {
        val x = col(c).cast("double")
        val r = li.filter(flag).agg(
          sum(when(x < q, 1L).otherwise(0L)),
          sum(when(x <= q, 1L).otherwise(0L))).head()
        assertRankEps(s"$c p$p $side", n, p, r.getLong(0), r.getLong(1), 1e-3)
      }
    } finally li.unpersist()
  }

  test("compression ratio: exact sizes, and repetition compresses better") {
    val out = TextAnalysis.defs("text_compression_ratio")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val docs = TestData.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(out.size === docs.length)
    // the emitted sizes ARE the shared deflate path's output, row for row
    val defl = new java.util.zip.Deflater(6)
    val buf = new Array[Byte](1 << 16)
    docs.take(50).foreach { case (id, text) =>
      val in = text.getBytes("UTF-8")
      val (nb, nd, ratio) = out(id)
      assert(nb === in.length.toLong)
      assert(nd === TextAnalysis.deflatedSize(in, defl, buf))
      assert(ratio > 0.0 && nd > 0L)
    }
    // signal contract: a planted pure-repetition payload compresses
    // far better than a planted high-entropy payload of the same size
    val rep = ("spark " * 200).getBytes("UTF-8")
    val rnd = new scala.util.Random(7)
    val noisy = Array.fill(rep.length)((rnd.nextInt(90) + 33).toByte)
    val rRep = TextAnalysis.deflatedSize(rep, defl, buf).toDouble / rep.length
    val rNoise = TextAnalysis.deflatedSize(noisy, defl, buf).toDouble / noisy.length
    assert(rRep < rNoise / 4,
      s"repetition must compress far better: $rRep vs $rNoise")
  }

  test("round-9 readouts respect their analytic ranges") {
    // assortativity is a Pearson r
    val a = GraphOps.defs("graph_degree_assortativity")(spark, sfDir).head()
    assert(math.abs(a.getDouble(1)) <= 1.0)
    // seasonal strength is clamped to [0, 1]
    val st = TimeSeries.defs("ts_seasonal_strength")(spark, sfDir).head()
    assert(st.getDouble(3) >= 0.0 && st.getDouble(3) <= 1.0)
    // benford observed shares sum to 1e6 ppm minus at most 9 floors
    val b = Aggregates.defs("agg_benford_deviation")(spark, sfDir).collect()
    val obs = b.map(_.getLong(2)).sum
    assert(obs <= 1000000L && obs >= 1000000L - 9,
      s"obs_ppm must partition the corpus: $obs")
    // winsorized mean lies inside the clamp interval; raw mean need not
    val wm = Aggregates.defs("agg_winsorized_mean")(spark, sfDir).collect()
    wm.foreach { r =>
      val (p05, p95, w) = (r.getLong(2), r.getLong(3), r.getDouble(5))
      assert(w >= p05 && w <= p95, s"winsorized mean $w outside [$p05,$p95]")
    }
    // theil index is non-negative up to one micro-nat of quantization
    val th = Aggregates.defs("agg_theil_index")(spark, sfDir).collect()
    th.foreach(r => assert(r.getLong(3) >= -1L,
      s"theil_micro ${r.getLong(3)} below quantization floor"))
    // HHI bounded by the monopoly value; effective_n at most n_units
    val h = Aggregates.defs("agg_hhi_concentration")(spark, sfDir).collect()
    h.foreach { r =>
      assert(r.getLong(2) <= 1000000L)
      assert(r.getDouble(3) <= r.getLong(1) + 1e-6)
    }
    // concurrency peak dominates the busiest single minute per type
    val peak = TimeSeries.defs("events_concurrency_peak")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val busiest = TestData.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 60000000").as("m"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type").agg(max("c").as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    busiest.foreach { case (t, mx) =>
      assert(peak(t) >= mx, s"$t: peak ${peak(t)} < busiest minute $mx")
    }
  }

  test("exact dedup is idempotent") {
    val once = TextOps.defs("dedup_exact_hash")(spark, sfDir).cache()
    val ids = once.select("survivor_id").as[Long].collect().toSet
    // Re-deduplicating the survivor set must be a no-op.
    val docs = TestData.documents(spark, sfDir)
      .filter(col("doc_id").isInCollection(ids))
    val twice = docs.withColumn("h", md5(lower(trim(col("text")))))
      .groupBy("h").agg(min("doc_id").as("survivor_id"),
                        count(lit(1)).as("group_size"))
    assert(twice.count() === once.count())
    assert(twice.filter(col("group_size") > 1).count() === 0L)
  }

  test("minhash LSH recall >= 0.9 vs exact shingle-jaccard ground truth") {
    import graft.functions.MinHashLsh
    val docs = TestData.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id").as("id"), col("lang").as("blockKey"),
              MinHashLsh.shinglesFromTokens(col("toks")).as("shingles"))
      .cache()
    // Exact ground truth: same-lang pairs with shingle Jaccard > 0.9.
    val a = docs.select(col("id").as("ia"), col("blockKey").as("ba"),
                        col("shingles").as("sa"))
    val b = docs.select(col("id").as("ib"), col("blockKey").as("bb"),
                        col("shingles").as("sb"))
    val exact = a.join(b, col("ba") === col("bb") && col("ia") < col("ib"))
      .withColumn("jac", MinHashLsh.jaccard(col("sa"), col("sb")))
      .filter(col("jac") > 0.9)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    val approx = TextOps.defs("dedup_minhash_lsh")(spark, sfDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "ground truth must not be empty at sf0.001")
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9")
    // precision is 1.0 by construction (candidates are exact-verified)
    assert(approx.subsetOf(exact), "every emitted pair must be exact-verified")
  }

  test("simhash: identical token multisets get identical simhash") {
    val sims = TextAnalysis.defs("dedup_simhash")(spark, sfDir)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val canon = TestData.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(array_join(array_sort(split(col("text"), " ")), " ")).as("k"))
      .as[(Long, String)].collect()
    canon.groupBy(_._2).values.filter(_.length > 1).foreach { grp =>
      val hs = grp.map(g => sims(g._1)).distinct
      assert(hs.length === 1, "same multiset must hash identically")
    }
  }

  test("kmeans_lloyd: clusters partition the corpus") {
    val sizes = Vectors.defs("kmeans_lloyd")(spark, sfDir)
      .select("cluster_size").as[Long].collect()
    val n = TestData.embeddings(spark, sfDir).count()
    assert(sizes.sum === n)
    assert(sizes.length <= 10 && sizes.forall(_ > 0))
  }

  test("vec_pca_power: dominant eigenpair — small residual, Rayleigh-maximal") {
    import graft.functions.GramMatrix
    val dim = 64
    val gram = org.apache.spark.sql.functions.udaf(new GramMatrix(dim))
    val flat = TestData.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("v"))
      .agg(gram(col("v")).as("g")).head().getSeq[Double](0)
    val (_, _, cov) = GramMatrix.covarianceOf(flat, dim)
    val (lambda, v) = GramMatrix.powerIteration(cov, 500)
    // residual ‖Σv − λv‖ small relative to λ
    val av = cov.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
    val resid = math.sqrt(av.zip(v).map { case (a, b) =>
      val r = a - lambda * b; r * r }.sum)
    assert(lambda > 0 && resid / lambda < 1e-8, s"residual $resid vs $lambda")
    // Rayleigh quotient beats axis-aligned directions
    val rayleighAxis = (0 until dim).map(i => cov(i)(i)).max
    assert(lambda >= rayleighAxis - 1e-9,
      s"power-iter lambda $lambda below best axis variance $rayleighAxis")
    // declared key emits 4 deflated components × dim sign-canonical
    // loadings, each unit-norm after r4 quantization
    val rows = Vectors.defs("vec_pca_power")(spark, sfDir).collect()
    assert(rows.length === 4 * dim)
    (0 until 4).foreach { c =>
      val loadings = rows.filter(_.getInt(0) == c).map(_.getDouble(2))
      assert(math.abs(math.sqrt(loadings.map(l => l * l).sum) - 1.0) < 1e-2)
    }
  }

  test("vec_pca_power: deflated top-4 — residuals, orthogonality, ordering") {
    import graft.functions.GramMatrix
    val dim = 64
    val gram = org.apache.spark.sql.functions.udaf(new GramMatrix(dim))
    val flat = TestData.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("v"))
      .agg(gram(col("v")).as("g")).head().getSeq[Double](0)
    val (_, _, cov) = GramMatrix.covarianceOf(flat, dim)
    val comps = GramMatrix.topComponents(cov, 4, 500)
    // every eigenpair satisfies the ORIGINAL covariance, not just the
    // deflated working copy
    comps.foreach { case (lambda, v) =>
      val av = cov.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val resid = math.sqrt(av.zip(v).map { case (a, b) =>
        val r = a - lambda * b; r * r }.sum)
      assert(lambda > 0 && resid / lambda < 1e-6,
        s"residual $resid vs lambda $lambda")
    }
    // pairwise orthogonal, eigenvalues descending
    for (i <- 0 until 4; j <- i + 1 until 4) {
      val dot = comps(i)._2.zip(comps(j)._2).map { case (a, b) => a * b }.sum
      assert(math.abs(dot) < 1e-6, s"components $i,$j not orthogonal: $dot")
    }
    val ls = comps.map(_._1)
    assert(ls === ls.sortBy(-_), s"eigenvalues not descending: $ls")
  }

  test("agg_count_min_sketch: estimates over-count by at most eps*N") {
    val exact = TestData.events(spark, sfDir)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    val est = Aggregates.defs("agg_count_min_sketch")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet)
    exact.foreach { case (t, n) =>
      assert(est(t) >= n, s"$t: CMS must never under-count")
      assert(est(t) <= n + (0.001 * total).toLong + 1,
        s"$t: est ${est(t)} vs exact $n exceeds the eps*N bound")
    }
  }

  test("profile_columns_approx tracks the exact profiler within 5 percent") {
    val exact = Maintenance.defs("profile_columns")(spark, sfDir)
      .select("col_name", "n_distinct", "n_nulls")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = Maintenance.defs("profile_columns_approx")(spark, sfDir)
      .select("col_name", "n_distinct", "n_nulls")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (c, (dExact, nulls)) =>
      val (dApprox, nullsA) = approx(c)
      assert(nullsA === nulls, s"$c: null counts are exact in both")
      assert(math.abs(dApprox - dExact).toDouble <= 0.05 * dExact + 1,
        s"$c: approx $dApprox vs exact $dExact")
    }
  }

  test("cappedTwoHop: sound subset under any cap, exact when cap covers max degree") {
    import spark.implicits._
    // star hub 0→1..12 plus a chain — degree skew on purpose
    val edges = ((1L to 12L).map(x => (0L, x)) ++
      (1L until 8L).map(x => (x, x + 1))).toDF("a", "b")
    val adj = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    def pairs(cap: Int): Map[(Long, Long), Long] =
      GraphOps.cappedTwoHop(adj, cap)
        .as[(Long, Long, Long)].collect()
        .map { case (x, y, n) => (x, y) -> n }.toMap
    val uncapped = pairs(Int.MaxValue)
    val capped = pairs(3)
    // sound subset: every capped pair exists uncapped with count <=
    assert(capped.keySet.subsetOf(uncapped.keySet))
    capped.foreach { case (k, n) => assert(n <= uncapped(k)) }
    assert(capped.size < uncapped.size, "cap 3 must actually bite the hub")
    // cap >= max degree (13 here): recall 1.0, identical counts
    assert(pairs(13) === uncapped)
  }

  test("set ops: algebraic laws hold") {
    val a = SortsSetOps.defs("setop_union_distinct")(spark, sfDir).count()
    val i = SortsSetOps.defs("setop_intersect")(spark, sfDir).count()
    val e = SortsSetOps.defs("setop_except")(spark, sfDir).count()
    val richDistinct = TestData.customer(spark, sfDir)
      .filter(col("c_acctbal") > 5000.0).select("c_custkey").distinct().count()
    // |A| = |A∩B| + |A\B| ; |A∪B| >= max(|A|,|B|)
    assert(richDistinct === i + e)
    assert(a >= richDistinct)
  }

  test("IVF ANN recall@5 vs brute force is measurably high") {
    val brute = Vectors.defs("knn_batch_topk")(spark, sfDir)
      .filter(col("qid") < 5)
      .select("qid", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = AnnSearch.defs("ann_ivf_topk")(spark, sfDir)
      .filter(col("rnk") <= 3)
      .select("qid", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // brute top-3 per query vs ivf top-3: overlap fraction
    val recalls = brute.keys.toSeq.sorted.map { q =>
      val b = brute(q)
      val hits = ivf.getOrElse(q, Set.empty).count(b.contains)
      hits.toDouble / b.size
    }
    val mean = recalls.sum / recalls.length
    // nProbe=2 of 4 partitions with random (unclustered) vectors:
    // expect roughly half the true neighbors to live in probed
    // partitions; assert a conservative floor and record the value.
    info(s"IVF recall@3 per query: ${recalls.mkString(", ")} (mean $mean)")
    assert(mean >= 0.3, s"IVF recall collapsed: $mean")
  }

  test("HNSW-lite: layer law holds and search recall@5 vs brute force is real") {
    // layer membership is the md5 1/16 sample — assert the observed
    // rate is in a loose binomial band (the "geometric level law"
    // anchor: 500 nodes, p = 1/16 => ~31 expected, 3sigma ~ 16)
    val e = TestData.embeddings(spark, sfDir)
    val n = e.count().toDouble
    val l1n = AnnSearch.defs("ann_hnsw_build")(spark, sfDir)
      .select("src").distinct().count().toDouble
    assert(l1n > 0 && l1n < n / 4,
      s"layer-1 sample rate broke the level law: $l1n of $n")
    // build edges connect only layer members and never self
    val edges = AnnSearch.defs("ann_hnsw_build")(spark, sfDir)
      .select("src", "nn").as[(Long, Long)].collect()
    assert(edges.nonEmpty && edges.forall { case (a, b) => a != b })
    // recall@5 of the layered search vs the brute-force top-5
    val brute = Vectors.defs("knn_batch_topk")(spark, sfDir)
      .filter(col("qid") < 3)
      .select("qid", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hnsw = AnnSearch.defs("ann_hnsw_topk")(spark, sfDir)
      .select("qid", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.keys.toSeq.sorted.map { q =>
      val b = brute(q)
      hnsw.getOrElse(q, Set.empty).count(b.contains).toDouble / b.size
    }
    val mean = recalls.sum / recalls.length
    // the degree-8 SEARCH adjacency (r12 fix) must find most true
    // neighbors AND no query may come back dead — the r11 floor of
    // mean >= 0.2 let a 0.0-recall query pass
    info(s"HNSW recall@5 per query: ${recalls.mkString(", ")} (mean $mean)")
    assert(mean >= 0.6, s"layered search recall collapsed: $mean")
    assert(recalls.forall(_ >= 0.2),
      s"a query retrieved (almost) none of its true top-5: $recalls")
    assert(hnsw.keys.toSet === brute.keys.toSet,
      "every query must produce results")
  }

  test("graph ANN descents run in at most 3 Spark jobs and no checkpoint") {
    // BeamDescent walks the broadcast packed graph inside the one job
    // that maps the sorted query frame: a call pays the sort's range
    // sample, its map stage and the result stage, never a job per hop
    // (the per-hop DataFrame descent ran 26 and 12). Memos are warmed
    // first so only the keys' own calls count.
    val keys = Seq("ann_hnsw_topk", "ann_graph_topk")
    keys.foreach(k => AnnSearch.defs(k)(spark, sfDir).collect())
    keys.foreach { k =>
      val ckpts = scala.collection.mutable.Buffer[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
      CkptAudit.sink = ckpts
      val (_, jobs) =
        try countJobs(AnnSearch.defs(k)(spark, sfDir).collect())
        finally CkptAudit.sink = null
      assert(jobs >= 1 && jobs <= 3, s"$k ran $jobs Spark jobs")
      assert(ckpts.isEmpty, s"$k recorded ${ckpts.length} .ckpt() sites")
    }
  }

  test("BeamDescent equals GraftEngine.graphSearch row for row") {
    // graphSearch keeps the per-hop DataFrame descent (AnnSearch.
    // beamCut), so it is the reference for the packed kernel. Query
    // ids lie outside the corpus (graphSearch never drops the query's
    // own id). Generated: isolated nodes, seeds without neighbours or
    // without vectors, edges to missing ids, beams wider than the
    // reachable set, 0 hops, zero vectors (NaN cosine, r4 0.0), empty
    // query frames, and coarse {-1, 0, 1} vectors whose r4 ties pin the
    // id-asc tie-break.
    import org.scalacheck.{Gen, Prop, Test => SC}
    import org.scalacheck.Prop.propBoolean
    val engine = new graft.api.GraftEngine(spark)
    val gen = for {
      n <- Gen.choose(1, 60)
      dim <- Gen.choose(2, 8)
      coarse <- Gen.oneOf(true, false)
      elem = if (coarse) Gen.choose(-1, 1).map(_.toDouble)
             else Gen.choose(-1.0, 1.0)
      vec = Gen.frequency(1 -> Gen.const(List.fill(dim)(0.0)),
                          8 -> Gen.listOfN(dim, elem))
      vs <- Gen.listOfN(n, vec)
      id = (i: Int) => 3L * i // sparse ids: id order is not position
      nEdges <- Gen.choose(0, 2 * n)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0, n), Gen.choose(0, n - 1)))
      seeds <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0, n)))
      qs <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, vec))
      beam <- Gen.choose(1, 10)
      hops <- Gen.choose(0, 3)
      k <- Gen.choose(1, 10)
    } yield (vs.zipWithIndex.map { case (v, i) => (id(i), v) },
      edges.map { case (a, b) => (id(a), id(b)) }, seeds.distinct.map(id),
      qs.zipWithIndex.map { case (v, j) => (1000L + j, v) }, beam, hops, k)
    // no shrinking: every shrink step would rerun both Spark descents
    val prop = Prop.forAllNoShrink(gen) {
      case (vecs, edges, seeds, qs, beam, hops, k) =>
        val queries = qs.toDF("qid", "qv")
        val entry = (for ((q, _) <- qs; e <- seeds) yield (q, e)).toDF("qid", "id")
        val ref = engine.graphSearch(vecs.toDF("id", "embedding"),
            edges.toDF("a", "b"), queries, entry, hops, beam, k)
          .select("qid", "rnk", "id", "cos").as[(Long, Int, Long, Double)]
          .collect().sortBy(r => (r._1, r._2)).toSeq
        val g = spark.sparkContext.broadcast(BeamDescent.pack(
          vecs.map { case (i, v) => (i, v.toArray) }, seeds,
          seedsSkipQuery = false,
          Seq(BeamDescent.Level(None, edges, beam, hops, k))))
        val got = try BeamDescent.search(queries, g)
            .as[(Long, Int, Long, Double)].collect().toSeq
          finally g.destroy()
        (got == ref) :| s"kernel $got\nreference $ref"
    }
    val res = SC.check(SC.Parameters.default.withMinSuccessfulTests(30)
      .withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("assignToCentroids and the n-nearest probe equal their cross-join forms row for row") {
    // VectorReference.assignToCentroids is the k× cross join + groupBy
    // form the one-pass argmin replaced, and VectorReference.probe the
    // cross join + row_number window the n-nearest probe replaced
    // (n = 1..4, ranks compared too). Generated: coarse {-1, 0, 1}
    // vectors and duplicated centroid vectors under distinct cids
    // (ties go to the least cid, whatever the table order), null,
    // short and NaN/null-element embeddings (NULL distance sorts
    // first, NaN last), short centroids, empty centroid tables, Int
    // and Long cids, driver-local and distributed centroid tables,
    // ARRAY<FLOAT> embeddings and centroids (the references see them
    // widened to ARRAY<DOUBLE>), n <= 0 (no rows) and key columns with
    // and without the embedding.
    // Ids are unique, as at every caller: the reference's groupBy
    // would merge duplicates. Vectors are compared with -0.0 == 0.0
    // because the reference groups on (and so normalizes) them.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test => SC}
    import org.scalacheck.Prop.propBoolean
    val elem = Gen.frequency(
      30 -> Gen.choose(-1, 1).map(_.toDouble), 10 -> Gen.choose(-1.0, 1.0),
      1 -> Gen.const(-0.0), 1 -> Gen.const(Double.NaN), 1 -> Gen.const(null))
    def vec(dim: Int): Gen[Seq[Any]] = Gen.frequency(
      1 -> Gen.const(null), 1 -> Gen.listOfN(dim - 1, elem),
      16 -> Gen.listOfN(dim, elem))
    val gen = for {
      dim <- Gen.choose(1, 4)
      n <- Gen.choose(0, 30)
      vs <- Gen.listOfN(n, vec(dim))
      k <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 6))
      cvs <- Gen.listOfN(k, vec(dim))
      dups <- Gen.listOfN(k, Gen.oneOf(true, false))
      picked <- Gen.pick(k, 0 until 50)
      order <- Gen.listOfN(k, Gen.choose(0, 1000))
      cids = picked.zip(order).sortBy(_._2).map(_._1) // table order != cid order
      longCid <- Gen.oneOf(true, false)
      localTable <- Gen.oneOf(true, false)
      withEmb <- Gen.oneOf(true, false)
      nProbe <- Gen.frequency(1 -> Gen.choose(-2, 0), 6 -> Gen.choose(1, 4))
      floatEmb <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
      floatCv <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    } yield {
      // a duplicated centroid copies its predecessor's vector
      val cv = cvs.indices.map(j => if (j > 0 && dups(j)) cvs(j - 1) else cvs(j))
      (vs, cids.toSeq.zip(cv), longCid, localTable, withEmb, nProbe, floatEmb, floatCv)
    }
    def key(v: Any): Any = v match {
      case d: Double => if (d == 0.0) 0L else java.lang.Double.doubleToLongBits(d)
      case f: Float => key(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(key)
      case o => o
    }
    // no shrinking: every shrink step would rerun both Spark plans
    val prop = Prop.forAllNoShrink(gen) {
      case (vs, cents, longCid, localTable, withEmb, nProbe, floatEmb, floatCv) =>
        def column(name: String, asFloat: Boolean) =
          StructField(name, ArrayType(if (asFloat) FloatType else DoubleType))
        def values(v: Seq[Any], asFloat: Boolean): Seq[Any] =
          if (v == null || !asFloat) v
          else v.map { case d: Double => d.toFloat; case o => o }
        def widened(df: org.apache.spark.sql.DataFrame, c: String) =
          df.withColumn(c, col(c).cast(ArrayType(DoubleType)))
        val corpus = spark.createDataFrame(spark.sparkContext.parallelize(
            vs.zipWithIndex.map { case (v, i) => Row(3L * i, values(v, floatEmb)) }, 3),
          StructType(Seq(StructField("vec_id", LongType), column("embedding", floatEmb))))
        val cidType = if (longCid) LongType else IntegerType
        val centRows = cents.map { case (c, v) =>
          Row(if (longCid) c.toLong else c, values(v, floatCv)) }
        val centSchema = StructType(Seq(StructField("cid", cidType), column("cv", floatCv)))
        val table =
          if (localTable) spark.createDataFrame(java.util.Arrays.asList(centRows: _*), centSchema)
          else spark.createDataFrame(spark.sparkContext.parallelize(centRows, 2), centSchema)
        val (corpusRef, tableRef) = (widened(corpus, "embedding"), widened(table, "cv"))
        val keys = if (withEmb) Seq("vec_id", "embedding") else Seq("vec_id")
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.toSeq.map(key)).sortBy(_.head.asInstanceOf[Long]).toSeq
        val got = rows(V.assignToCentroids(corpus, table, keys))
        val ref = rows(VectorReference.assignToCentroids(corpusRef, tableRef, keys))
        val probed = rows(V.nearestCentroids(corpus, col("embedding"), table,
          Seq("vec_id"), nProbe).select("vec_id", "cluster", "rank"))
        val probedRef = rows(VectorReference.probe(corpusRef, tableRef, Seq("vec_id"), nProbe))
        ((got == ref) :| s"kernel $got\nreference $ref") &&
          ((probed.sortBy(_.toString) == probedRef.sortBy(_.toString)) :|
            s"probe $probed\nreference $probedRef")
    }
    val res = SC.check(SC.Parameters.default.withMinSuccessfulTests(40)
      .withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("connectedComponents equals ComponentsReference row for row") {
    // ComponentsReference.minLabelComponents is the label propagation
    // connectedComponents replaced, run to its fixpoint. Generated:
    // unions of cliques, paths of 50-300 nodes (ids shuffled along the
    // path), random sparse graphs with self-loops and repeated edges,
    // edges to ids left out of `ids`, null endpoints, Int and Long ids.
    // Both the driver finish and the forced distributed rounds
    // (localEdges = 0) must match, comp column type included.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test => SC}
    import org.scalacheck.Prop.propBoolean
    val cliques = for {
      k <- Gen.choose(1, 12)
      sizes <- Gen.listOfN(k, Gen.choose(1, 8))
    } yield {
      val starts = sizes.scanLeft(0)(_ + _)
      (starts.last, sizes.zip(starts).flatMap { case (n, s0) =>
        for (i <- s0 until s0 + n; j <- i + 1 until s0 + n) yield (i, j) })
    }
    val paths = Gen.choose(50, 300).map(n => (n, (0 until n - 1).map(i => (i, i + 1))))
    val sparse = for {
      n <- Gen.choose(1, 300)
      m <- Gen.choose(0, n)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    val gen = for {
      g <- Gen.frequency(3 -> cliques, 1 -> paths, 3 -> sparse)
      seed <- Gen.choose(0L, Long.MaxValue)
      perm = new scala.util.Random(seed).shuffle((0 until g._1).toVector)
      left <- Gen.listOf(Gen.choose(0, g._1 - 1)).map(_.take(3).toSet)
      nulls <- Gen.choose(0, 2)
      longIds <- Gen.oneOf(true, false)
    } yield (g._1, g._2.map { case (a, b) => (perm(a), perm(b)) }, left, nulls, longIds)
    // no shrinking: every shrink step would rerun the reference's rounds
    val prop = Prop.forAllNoShrink(gen) { case (n, es, left, nulls, longIds) =>
      val t = if (longIds) LongType else IntegerType
      def v(i: Int): Any = if (longIds) 7L * i else 7 * i
      val ids = spark.createDataFrame(spark.sparkContext.parallelize(
          (0 until n).filterNot(left).map(i => Row(v(i))), 2),
        StructType(Seq(StructField("id", t))))
      val pairRows = es.map { case (a, b) => Row(v(a), v(b)) } ++
        (0 until nulls).map(i => if (i % 2 == 0) Row(null, v(0)) else Row(v(0), null))
      val pairs = spark.createDataFrame(spark.sparkContext.parallelize(pairRows, 3),
        StructType(Seq(StructField("src", t), StructField("dst", t))))
      def rows(df: org.apache.spark.sql.DataFrame) =
        (df.schema("comp").dataType,
          df.collect().map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
            .sorted.toSeq)
      val ref = rows(ComponentsReference.minLabelComponents(ids, pairs))
      Seq(GraphOps.LocalEdges, 0L).map { le =>
        val got = rows(GraphOps.connectedComponents(ids, pairs, le))
        (got == ref) :| s"localEdges $le: $got\nreference $ref"
      }.reduce(_ && _)
    }
    val res = SC.check(SC.Parameters.default.withMinSuccessfulTests(16)
      .withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("connected components: a warm dedup_minhash_components runs at most 8 jobs, the facade 5") {
    // The MinHash pair list is far under GraphOps.LocalEdges, so the
    // components are one driver union-find: the key pays the edge
    // filter's broadcast and collect, the broadcast of the node → root
    // table and its sort, whatever the diameter. Memos are warmed first.
    val key = GraphOps.defs("dedup_minhash_components")
    key(spark, sfDir).collect()
    val ckpts = scala.collection.mutable.Buffer[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
    CkptAudit.sink = ckpts
    val (_, jobs) =
      try countJobs(key(spark, sfDir).collect())
      finally CkptAudit.sink = null
    assert(jobs >= 1 && jobs <= 8, s"dedup_minhash_components ran $jobs Spark jobs")
    assert(ckpts.isEmpty, s"dedup_minhash_components recorded ${ckpts.length} .ckpt() sites")
    val engine = new graft.api.GraftEngine(spark)
    val ids = (1L to 200L).toDF("id")
    val pairs = (1L to 199L).filter(_ % 5 != 0).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (comps, facadeJobs) = countJobs(engine.dedupComponents(ids, pairs).collect())
    assert(comps.map(_.getLong(1)).distinct.length === 40)
    assert(facadeJobs >= 1 && facadeJobs <= 5, s"dedupComponents ran $facadeJobs Spark jobs")
  }

  test("neighbor jaccard: bounded by min degree, in (0, 1], consistent with wedges") {
    val rows = GraphOps.defs("graph_neighbor_jaccard")(spark, sfDir)
      .select("x", "y", "n_common", "dx", "dy", "j_u")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r._1 < r._2)
      assert(r._3 >= 1 && r._3 <= math.min(r._4, r._5),
        s"common neighbors exceed a degree: $r")
      assert(r._6 > 0 && r._6 <= 1000000L, s"J outside (0, 1]: $r")
    }
    // descending with the (x, y) tie-break
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._6 > b._6 || (a._6 == b._6
        && (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))) })
  }

  test("katz centrality: top-20 well-formed, hubs outrank, exact leaf closed form") {
    val rows = GraphOps.defs("graph_katz_centrality")(spark, sfDir)
      .select("vec_id", "degree", "katz_u")
      .as[(Long, Long, Long)].collect()
    assert(rows.length === 20)
    // descending by katz_u with the id tie-break
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._3 > b._3 || (a._3 == b._3 && a._1 < b._1) })
    // every node starts at 1e6 and only gains from in-walks
    assert(rows.forall(_._3 >= 1000000L))
    // the top node must be a hub: its degree clears the median
    // degree of the listed 20 (walk counting rewards connectivity)
    val degs = rows.map(_._2).sorted
    assert(rows.head._2 >= degs(degs.length / 2),
      s"top katz node should be a hub: ${rows.head} vs $degs")
  }

  test("ewma anomaly: breaches genuinely exit the band; chart well-formed") {
    val rows = TimeSeries.defs("ts_ewma_anomaly")(spark, sfDir)
      .select("hr", "cnt", "ewma", "lcl", "ucl")
      .as[(Long, Long, Double, Double, Double)].collect()
    // every emitted row is a true breach of ITS OWN band, and the
    // band is the same (global steady-state limits) on every row
    rows.foreach { r =>
      assert(r._3 > r._5 || r._3 < r._4, s"non-breach emitted: $r")
      assert(r._4 < r._5)
    }
    if (rows.length >= 2) {
      assert(rows.map(_._4).distinct.length === 1)
      assert(rows.map(_._5).distinct.length === 1)
    }
    // the smoothed value lives inside the observed count range
    val hourly = TestData.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) DIV 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
      .agg(min("cnt"), max("cnt")).as[(Long, Long)].collect()(0)
    rows.foreach { r =>
      assert(r._3 >= hourly._1 - 1 && r._3 <= hourly._2 + 1, r)
    }
  }

  test("sampled betweenness: star center dominates every leaf") {
    // planted star: center 0, leaves 1..20, seeds = leaves 1..8.
    // Every leaf-leaf shortest path crosses the center; no leaf lies
    // on any shortest path — the definitional betweenness contrast.
    val nodes = (0L to 20L).toDF("id")
    val edges = (1L to 20L).map(l => (0L, l)).toDF("a", "b")
    val seeds = (1L to 8L).toDF("seed")
    val bc = GraphOps.sampledBetweenness(nodes, edges, seeds, 4)
      .as[(Long, Long)].collect().toMap
    val leaves = (1L to 20L).map(bc)
    assert(bc(0L) > leaves.max * 10,
      s"center ${bc(0L)} must dominate leaves (max ${leaves.max})")
    assert(leaves.forall(_ === 0L),
      s"no leaf lies on any shortest path: ${leaves}")
  }

  test("HNSW sweep: cost strictly rises in beam, recall never falls in beam") {
    val sweep = AnnSearch.defs("ann_hnsw_sweep")(spark, sfDir)
      .as[(Int, Int, Long, Long, Long, Double)].collect()
    assert(sweep.length === 6, "3 beams x 2 entry widths")
    sweep.groupBy(_._2).foreach { case (ent, rows) =>
      val byBeam = rows.sortBy(_._1)
      assert(byBeam.map(_._1).toSeq === Seq(4, 8, 16))
      // the cost axis must be real: wider beams scan strictly more
      assert(byBeam.map(_._4).sliding(2).forall(p => p(0) < p(1)),
        s"ent=$ent: n_scanned not strictly increasing: ${byBeam.toSeq}")
      // the quality axis must not invert: recall@5 non-decreasing in
      // beam at fixed entries (the reading that makes the sweep a
      // tuning curve rather than noise)
      assert(byBeam.map(_._6).sliding(2).forall(p => p(0) <= p(1)),
        s"ent=$ent: recall decreasing in beam: ${byBeam.toSeq}")
    }
    // the widest setting clears the declared key's recall floor
    assert(sweep.filter(_._1 == 16).map(_._6).max >= 0.6,
      s"beam-16 recall below the hnsw_topk floor: ${sweep.toSeq}")
  }

  test("LSH multiprobe: p7 dominates p1 on both axes of the curve") {
    val rows = AnnSearch.defs("ann_lsh_multiprobe")(spark, sfDir)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet === Set("p1", "p7"))
    // more probes must scan strictly more candidates (the cost axis
    // is real) and must never LOSE hits (p1's bucket is probed by p7
    // too — containment makes this structural, so a violation means
    // the min_flip tagging broke)
    assert(rows("p7")._3 > rows("p1")._3,
      s"p7 candidates not above p1: $rows")
    assert(rows("p7")._4 >= rows("p1")._4, s"p7 lost hits vs p1: $rows")
    assert(rows("p7")._4 > 0, s"multiprobe found no truth at all: $rows")
  }

  test("matryoshka sweep: recall never falls as the prefix widens") {
    val rows = AnnSearch.defs("ann_matryoshka_sweep")(spark, sfDir)
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(8, 16, 32))
    assert(rows.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
      s"recall hits decreasing in dim: ${rows.toSeq}")
    // the widest prefix must be genuinely useful, not noise
    assert(rows.last._4 >= 0.5,
      s"dim-32 recall below 0.5: ${rows.toSeq}")
  }

  test("Louvain refine: Q strictly improves over LPA; one-community input is a fixpoint") {
    // Q·4m² = Σ_c (4m·e_c − tot_c²) — exact integers, so the
    // monotonicity claim needs no quantization tolerance.
    val edges = GraphOps.fixtureKnnEdges(spark, sfDir)
      .select("a", "b").as[(Long, Long)].collect()
    val lpa = GraphOps.defs("graph_label_propagation")(spark, sfDir)
      .select("vec_id", "community").as[(Long, Long)].collect().toMap
    val ref = GraphOps.defs("graph_louvain_refine")(spark, sfDir)
      .select("vec_id", "community").as[(Long, Long)].collect().toMap
    def q4m2(labels: Map[Long, Long]): Long = {
      val m = edges.length.toLong
      val deg = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
      val ein = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (a, b) =>
        if (labels(a) == labels(b)) ein(labels(a)) += 1 }
      val tot = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      labels.foreach { case (id, l) => tot(l) += deg(id) }
      labels.values.toSet.toSeq
        .map((c: Long) => 4L * m * ein(c) - tot(c) * tot(c)).sum
    }
    val moved = ref.count { case (id, l) => lpa(id) != l }
    val nComm = lpa.values.toSet.size
    info(s"louvain moved $moved nodes across $nComm LPA communities; " +
      s"Q*4m^2 ${q4m2(lpa)} -> ${q4m2(ref)}")
    assert(moved > 0, "the fixture admits positive moves; refine must move")
    // r13 batched-sweep capacity: the conflict-free batch must move a
    // node count that SCALES with community count (the r12 verdict's
    // weak grade was 3 moves total regardless of graph size). With 3
    // sweeps and up to one accepted move per touched-community pair,
    // demand strictly more than the old 3-move ceiling AND at least
    // one move per ~16 communities.
    assert(moved > 3, s"batched sweeps must exceed the old 3-move cap: $moved")
    assert(moved >= nComm / 16,
      s"move capacity must scale with community count: $moved < $nComm/16")
    assert(q4m2(ref) > q4m2(lpa),
      s"each applied move must strictly raise Q: ${q4m2(lpa)} -> ${q4m2(ref)}")
    // all-one-community labels expose no foreign neighbor: a fixpoint
    val one = TestData.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), lit(0L).as("label"))
    val out = GraphOps.louvainRefine(one,
      GraphOps.fixtureKnnEdges(spark, sfDir), 3)
    assert(out.filter(col("label") =!= 0L).count() === 0,
      "refining a single-community labeling must be a no-op")
  }

  test("intrinsic dim: planted 2-D manifold reads low, full-rank gaussian near ambient") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val n = 200
    // a 2-D LINEAR manifold embedded in dim-16 (all vectors are
    // a·u + b·v for two fixed directions): intrinsic dim 2
    val u = Array.tabulate(dim)(j => math.sin(j + 1.0))
    val v = Array.tabulate(dim)(j => math.cos(2.0 * j + 0.5))
    val twoD = (0 until n).map { i =>
      val a = rnd.nextGaussian(); val b = rnd.nextGaussian()
      (i.toLong, Array.tabulate(dim)(j => a * u(j) + b * v(j)).toSeq)
    }
    val full = (0 until n).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq))
    def dhat(data: Seq[(Long, Seq[Double])]): Double = {
      val df = data.toDF("vec_id", "embedding")
      val ids = data.map(_._1)
      // EXACT all-pairs candidates (test-only; the key rides the
      // blocked kNN memo) — the estimator sees the true 2-NN
      val cands = ids.flatMap(q => ids.filter(_ != q).map(nn => (q, nn)))
        .toDF("qid", "nn")
      GraphOps.intrinsicDim(df, cands).collect()(0).getAs[Double]("d_hat")
    }
    val d2 = dhat(twoD)
    val dFull = dhat(full)
    info(s"intrinsic dim: 2-D manifold d_hat=$d2, full-rank d_hat=$dFull (ambient $dim)")
    assert(d2 < 4.0, s"2-D manifold must read well below ambient: $d2")
    assert(dFull > 8.0, s"full-rank gaussian must read near ambient: $dFull")
    assert(dFull > 2.0 * d2, "the estimator must separate the two by a wide margin")
  }

  test("design effect: perfect clustering reads ICC = 1 / DEFF = m, mixed reads ~0") {
    import spark.implicits._
    // 20 balanced clusters of 50, zero within-cluster variance:
    // MSW = 0 ⇒ ICC = 1 exactly, DEFF = 1 + (m̄−1) = 50 exactly
    val perfect = (0 until 1000).map(i => (i % 20L, 1000L * (i % 20)))
      .toDF("cluster", "y")
    val p = Stats.designEffect(perfect).collect()(0)
    assert(p.getAs[Double]("icc") === 1.0, s"perfect clustering: $p")
    assert(p.getAs[Double]("deff") === 50.0, s"DEFF = m̄ exactly: $p")
    // same values scattered across coprime clusters: every cluster
    // sees a near-uniform mix ⇒ ICC near 0 (slightly negative is the
    // finite-sample expectation), DEFF near 1
    val mixed = (0 until 1000).map(i => (i % 23L, 1000L * (i % 20)))
      .toDF("cluster", "y")
    val q = Stats.designEffect(mixed).collect()(0)
    assert(math.abs(q.getAs[Double]("icc")) < 0.1, s"mixed clusters: $q")
    // empty / single-cluster inputs read NULL, never a throw
    val one = (0 until 10).map(i => (0L, i.toLong)).toDF("cluster", "y")
    val r = Stats.designEffect(one).collect()(0)
    assert(r.isNullAt(r.fieldIndex("icc")))
  }

  test("distinct-n rises with n on the fixture; storage savings reconcile with survivors") {
    val dn = TextAnalysis.defs("text_distinct_n")(spark, sfDir)
      .select("lang", "n", "total_ngrams", "distinct_ngrams",
        "distinct_ratio")
      .as[(String, Int, Long, Long, Double)].collect()
      .groupBy(_._1)
    dn.values.foreach { rows =>
      val byN = rows.sortBy(_._2)
      assert(byN.map(_._2).toSeq === Seq(1, 2, 3))
      byN.foreach { r =>
        assert(r._4 <= r._3 && r._5 > 0.0 && r._5 <= 1.0, s"$r")
      }
      assert(byN.map(_._5).sliding(2).forall(p => p(0) <= p(1)),
        s"templated text: longer n-grams must be more distinct: ${byN.toSeq}")
    }
    val sv = GraphOps.defs("dedup_storage_savings")(spark, sfDir)
      .collect()(0)
    val surv = GraphOps.defs("dedup_survivors")(spark, sfDir)
      .select("n_docs", "n_survivors").as[(Long, Long)].collect()
    assert(sv.getAs[Long]("n_docs") === surv.map(_._1).sum,
      "doc total must reconcile with the per-lang survivors key")
    assert(sv.getAs[Long]("n_survivors") === surv.map(_._2).sum,
      "survivor total must reconcile with the per-lang survivors key")
    assert(sv.getAs[Long]("bytes_saved") < sv.getAs[Long]("bytes_total"))
  }

  test("score calibration: ECE reconciles with per-bin gaps and pair totals") {
    val rows = TextOps.defs("eval_score_calibration")(spark, sfDir)
      .select("bin", "n_pairs", "n_pos", "gap", "ece")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0 && r._1 <= 10))
    val ece = rows.head._5
    assert(rows.forall(_._5 === ece), "ECE is one corpus-level number")
    assert(ece >= 0.0 && ece <= 1.0)
    // ECE is the pair-weighted mean of the per-bin gaps: recompute
    // from the published columns (r4 slack: each gap is rounded)
    val n = rows.map(_._2).sum
    val recomputed = rows.map(r => r._2.toDouble * r._4).sum / n
    assert(math.abs(recomputed - ece) < 1e-3,
      s"ECE $ece must reconcile with per-bin gaps $recomputed")
    // the scored-pair population is the jaccard detector's
    val jac = TextOps.plantedDetectorScores(spark, sfDir)
      .filter(col("detector") === "jaccard").count()
    assert(n === jac, "calibration bins must cover every scored pair")
  }

  test("energy distance: exchangeable split reads ~0, planted shift dominates") {
    val sample = TestData.embeddings(spark, sfDir)
      .filter(substring(md5(col("vec_id").cast("string")), 1, 2) < "20")
      .select("vec_id", "embedding")
    val a = sample.filter(col("vec_id") % 2 === 0)
    val b = sample.filter(col("vec_id") % 2 === 1)
    val base = Vectors.energyDistance(a, b).collect()(0)
    val e0 = base.getAs[Double]("energy")
    val mc = base.getAs[Double]("mean_cross")
    assert(math.abs(e0) < 0.1 * mc,
      s"exchangeable halves must read near-zero energy: $e0 vs mean $mc")
    // +5 per coordinate: a pure location shift per-dim drift also
    // sees — but energy must catch it at full magnitude too
    val shifted = b.withColumn("embedding",
      transform(col("embedding"), x => x + lit(5.0)))
    val e1 = Vectors.energyDistance(a, shifted).collect()(0)
      .getAs[Double]("energy")
    assert(e1 > 1.0 && e1 > 10 * math.abs(e0),
      s"planted shift must dominate: $e1 vs $e0")
  }

  test("media detector AUC: dhash dominates blockhash on byte-level near-dups") {
    // 56 locality-sensitive gradient bits vs 16 coarse mean bits:
    // the gradient hash must rank planted byte-variants far better —
    // the decision the key exists to inform. Deterministic fixture ⇒
    // hard pins, not tolerances (sf0.001 reads 0.9999 vs 0.7495).
    val rows = MultimodalOps.defs("eval_media_detector_auc")(spark, sfDir)
      .select("detector", "auc", "pr_auc")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows.keySet === Set("blockhash", "dhash"))
    assert(rows("dhash")._1 > rows("blockhash")._1,
      s"dhash must out-rank blockhash: $rows")
    assert(rows("dhash")._1 >= 0.95,
      s"dhash must be near-perfect on appended-byte variants: $rows")
    assert(rows("dhash")._2 > rows("blockhash")._2,
      s"and dominate on average precision too: $rows")
  }

  test("Burrows Delta: full pair grid, nonnegative, languages separate") {
    val langs = TestData.documents(spark, sfDir)
      .select("lang").distinct().count()
    val rows = TextAnalysis.defs("text_burrows_delta")(spark, sfDir)
      .select("lang_a", "lang_b", "n_words", "n_scored", "delta")
      .collect()
    assert(rows.length === langs * (langs - 1) / 2,
      "one row per unordered lang pair")
    // the fixture vocabulary is smaller than the top-50 cut (31
    // distinct tokens) — the basis is min(50, |vocab|), same for
    // every pair
    val vocab = TestData.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .distinct().count()
    val expected = math.min(50L, vocab)
    rows.foreach { r =>
      assert(r.getLong(2) === expected, s"word basis must be $expected: $r")
      assert(r.getLong(3) > 0L, "the fixture langs differ on top words")
      assert(r.getDouble(4) > 0.0, s"distinct langs must separate: $r")
    }
  }

  test("threshold sweep: flagged and recall non-increasing in the threshold") {
    val rows = TextOps.defs("dedup_threshold_sweep")(spark, sfDir)
      .select("threshold_u", "n_flagged", "recall")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.length === 5)
    assert(rows.map(_._2).sliding(2).forall(p => p(0) >= p(1)),
      s"flagged must shrink as the threshold rises: ${rows.toSeq}")
    assert(rows.map(_._3).sliding(2).forall(p => p(0) >= p(1)),
      s"recall must shrink as the threshold rises: ${rows.toSeq}")
  }

  test("Nelson-Aalen dominates KM: exp(-H) >= survival at every grid point") {
    // −ln(1−x) ≥ x ⇒ the Fleming–Harrington survival exp(−H_NA)
    // upper-bounds the KM product-limit estimate on the SAME risk
    // sets — the textbook inequality, checked on the fixture grid.
    val na = TimeSeries.defs("events_nelson_aalen")(spark, sfDir)
      .select("t_hr", "surv_fh").as[(Long, Double)].collect().toMap
    val km = TimeSeries.defs("events_survival_km")(spark, sfDir)
      .select("t_hr", "survival").as[(Long, Double)].collect().toMap
    assert(na.keySet === km.keySet, "same event-duration grid")
    // quantization slack: both sides round at 1e-4 (r4) on top of
    // micro-unit terms, so allow one ulp of the published precision
    assert(na.forall { case (t, s) => s >= km(t) - 2e-4 },
      s"exp(-H) must dominate KM: ${na.toSeq.sorted} vs ${km.toSeq.sorted}")
  }

  test("conductance: phi in [0,1], cut identity, one community cuts nothing") {
    val edges = GraphOps.fixtureKnnEdges(spark, sfDir)
      .select("a", "b").as[(Long, Long)].collect()
    val labels = GraphOps.defs("graph_label_propagation")(spark, sfDir)
      .select("vec_id", "community").as[(Long, Long)].collect().toMap
    val rows = GraphOps.defs("graph_conductance")(spark, sfDir)
      .select("community", "vol", "cut", "conductance")
      .collect()
    rows.foreach { r =>
      if (!r.isNullAt(3)) {
        val phi = r.getDouble(3)
        assert(phi >= 0.0 && phi <= 1.0, s"phi out of range: $r")
      }
      assert(r.getLong(2) <= r.getLong(1), "cut cannot exceed volume")
    }
    val interEdges = edges.count { case (a, b) => labels(a) != labels(b) }
    assert(rows.map(_.getLong(2)).sum === 2L * interEdges,
      "each inter-community edge contributes to exactly two cuts")
    // all-one-community labels: zero cut everywhere
    val one = TestData.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), lit(0L).as("label"))
    val oneRows = GraphOps.conductance(one,
      GraphOps.fixtureKnnEdges(spark, sfDir)).collect()
    assert(oneRows.length === 1 && oneRows(0).getAs[Long]("cut") === 0L)
  }

  test("KM Greenwood CI brackets the curve; survival matches the bare KM key") {
    val ci = SparkEntry.queries("events_km_ci")(spark, sfDir).collect()
    assert(ci.nonEmpty)
    ci.filter(!_.isNullAt(4)).foreach { r =>
      val (s, lo, hi) = (r.getAs[Double]("survival"),
        r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
      assert(lo <= s + 1e-9 && s <= hi + 1e-9, s"CI [$lo,$hi] vs $s")
      assert(r.getAs[Double]("se") > 0)
    }
    val km = SparkEntry.queries("events_survival_km")(spark, sfDir)
      .select($"t_hr", $"survival").as[(Long, Double)].collect().toMap
    ci.foreach(r => assert(
      km(r.getAs[Long]("t_hr")) === r.getAs[Double]("survival"),
      "km_ci survival must equal the bare KM key"))
  }

  test("path-length distribution: shares sum to 1, mean consistent, seeds at dist 0") {
    val rows = SparkEntry.queries("graph_path_length_dist")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val totalPct = rows.map(_.getAs[Double]("pct")).sum
    assert(math.abs(totalPct - 1.0) < 1e-2, s"pct sum $totalPct")
    val d0 = rows.find(_.getAs[Long]("dist") == 0L).get
    assert(d0.getAs[Long]("n_pairs") === 8L, "8 seeds at distance 0")
    // histogram-derived mean equals the emitted mean within r4 slack
    val nz = rows.filter(_.getAs[Long]("dist") > 0L)
    val m = nz.map(r => r.getAs[Long]("dist").toDouble
      * r.getAs[Long]("n_pairs")).sum / nz.map(_.getAs[Long]("n_pairs")).sum
    assert(math.abs(m - rows.head.getAs[Double]("mean_path_len")) < 1e-3)
  }

  test("bucketed triplets: label invariants + positive recall vs brute force") {
    val rows = SparkEntry.queries("triplet_mine_bucketed")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val labels = TestData.embeddings(spark, sfDir)
      .select($"vec_id", $"label").as[(Long, Long)].collect().toMap
    rows.foreach { r =>
      val a = labels(r.getAs[Long]("anchor_id"))
      assert(labels(r.getAs[Long]("pos_id")) == a,
        "positive must share the anchor's label")
      assert(labels(r.getAs[Long]("neg_id")) != a,
        "negative must differ from the anchor's label")
    }
    // positive recall vs the brute-force miner at equal k: the
    // probed buckets must find the true same-label max-cosine for
    // most anchors (the IVF recall trade, not a correctness bug)
    val brute = SparkEntry.queries("triplet_mine")(spark, sfDir)
      .select($"anchor_id", $"pos_id").as[(Long, Long)].collect().toMap
    val hits = rows.count(r =>
      brute.get(r.getAs[Long]("anchor_id"))
        .contains(r.getAs[Long]("pos_id")))
    val recall = hits.toDouble / rows.length
    assert(recall >= 0.7, s"bucketed positive recall $recall < 0.7")
  }

  test("HNSW incremental insert equals the rebuild restricted to the batch") {
    // The index-maintenance contract (VERDICT r14 #6): because level
    // assignment is content-derived and the link recipe probes the
    // same centroids over the same post-insert corpus, an
    // insert-then-read index is BIT-IDENTICAL to a full rebuild on
    // the batch nodes — and the insert emits ONLY batch-src rows
    // (existing rows untouched).
    val inserted = SparkEntry.queries("ann_hnsw_insert")(spark, sfDir)
      .collect()
    assert(inserted.nonEmpty, "fixture batch must be non-empty")
    assert(inserted.forall(_.getAs[Long]("src") % 10 == 7),
      "insert must only emit batch-src edges")
    val insL0 = inserted.filter(_.getAs[Long]("layer") == 0L)
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nn"),
        r.getAs[Double]("cos"))).sorted.toSeq
    val rebuildL0 = GraphOps.directedKnn(spark, sfDir, 3)
      .filter(col("qid") % 10 === 7)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn"),
        r.getAs[Double]("score"))).sorted.toSeq
    assert(insL0 === rebuildL0, "layer-0 insert must equal rebuild")
    val insL1 = inserted.filter(_.getAs[Long]("layer") == 1L)
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nn"),
        r.getAs[Double]("cos"))).sorted.toSeq
    val rebuildL1 = AnnSearch.hnswL1Edges(spark, sfDir)
      .filter(col("src") % 10 === 7)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("nn"),
        r.getAs[Double]("score"))).sorted.toSeq
    assert(insL1 === rebuildL1, "layer-1 insert must equal rebuild")
  }

  test("k-core profile: monotone in k and consistent with the single-k key") {
    // peeling at a larger k can only shrink the core (containment),
    // and the k = 2 row must reproduce graph_k_core's census exactly
    val prof = SparkEntry.queries("graph_kcore_profile")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("k"),
        r.getAs[Long]("n_core_nodes"), r.getAs[Long]("n_core_edges")))
    assert(prof.map(_._1).toSeq === Seq(2L, 3L, 4L))
    prof.sliding(2).foreach { w =>
      assert(w(0)._2 >= w(1)._2 && w(0)._3 >= w(1)._3,
        s"core must shrink with k: $w")
    }
    val single = SparkEntry.queries("graph_k_core")(spark, sfDir)
      .collect()
    val inCore = single.count(_.getAs[Boolean]("in_core")).toLong
    val degSum = single.map(_.getAs[Long]("core_degree")).sum
    assert(prof(0)._2 === inCore,
      s"k=2 node census drifted: ${prof(0)._2} vs $inCore")
    assert(prof(0)._3 === degSum / 2,
      s"k=2 edge census drifted: ${prof(0)._3} vs ${degSum / 2}")
  }

  test("HNSW delete+compact equals the rebuild without the deleted vectors") {
    // The delete contract (VERDICT r15 #4): repaired rows are the
    // rebuild's rows for the affected nodes (same probes, same live
    // candidate clusters), and an UNTOUCHED survivor's old list is
    // also the rebuild's list (its candidate set only shrank, and
    // none of its top-3 were deleted) — so compact(old index) is
    // BIT-IDENTICAL to a full rebuild on the live corpus, per layer.
    val e = TestData.embeddings(spark, sfDir)
    val cents = graft.operators.Vectors.fixedCentroids(e)
    val live = e.filter(col("vec_id") % 10 =!= 6)
    val out = SparkEntry.queries("ann_hnsw_delete")(spark, sfDir).collect()
    assert(out.nonEmpty, "fixture must have affected survivors")
    assert(out.forall(r => r.getAs[Long]("src") % 10 != 6),
      "delete must only repair surviving srcs")
    assert(out.forall(r => r.getAs[Long]("nn") % 10 != 6),
      "repaired lists must not reference tombstones")
    def key(src: Long, nn: Long, c: Double) = (src, nn, c)
    // layer 0: untouched old rows + repaired rows == rebuild on live
    val old0 = GraphOps.directedKnnEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn"),
        r.getAs[Double]("score")))
    val aff0 = old0.filter(t => t._2 % 10 == 6 && t._1 % 10 != 6)
      .map(_._1).toSet
    val untouched0 = old0.filter(t =>
      t._1 % 10 != 6 && !aff0.contains(t._1))
    val rep0 = out.filter(_.getAs[Long]("layer") == 0L)
      .map(r => key(r.getAs[Long]("src"), r.getAs[Long]("nn"),
        r.getAs[Double]("cos")))
    assert(rep0.map(_._1).toSet === aff0,
      "layer-0 repair set must be exactly the affected survivors")
    val rebuild0 = AnnSearch.probedLink(live, live, cents, 3)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("nn"),
        r.getAs[Double]("score")))
    assert((untouched0 ++ rep0).sorted.toSeq === rebuild0.sorted.toSeq,
      "layer-0 compacted index must equal the rebuild")
    // layer 1: same contract on the sparse routing layer
    val old1 = AnnSearch.hnswL1Edges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nn"),
        r.getAs[Double]("score")))
    val aff1 = old1.filter(t => t._2 % 10 == 6 && t._1 % 10 != 6)
      .map(_._1).toSet
    val untouched1 = old1.filter(t =>
      t._1 % 10 != 6 && !aff1.contains(t._1))
    val rep1 = out.filter(_.getAs[Long]("layer") == 1L)
      .map(r => key(r.getAs[Long]("src"), r.getAs[Long]("nn"),
        r.getAs[Double]("cos")))
    assert(rep1.map(_._1).toSet === aff1,
      "layer-1 repair set must be exactly the affected survivors")
    val l1Live = AnnSearch.hnswLayer1(e)
      .filter(col("vec_id") % 10 =!= 6)
    val rebuild1 = AnnSearch.probedLink(l1Live, l1Live, cents, 3)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("nn"),
        r.getAs[Double]("score")))
    assert((untouched1 ++ rep1).sorted.toSeq === rebuild1.sorted.toSeq,
      "layer-1 compacted index must equal the rebuild")
  }

  test("KN perplexity separates repetitive < natural < unique-heavy docs") {
    import spark.implicits._
    val engine = new graft.api.GraftEngine(spark)
    // 30-doc synthetic corpus: 10 repetitive two-token loops, 10
    // "natural" cyclic docs over a 20-token vocabulary, 10 docs of
    // doc-unique rare tokens (every bigram a singleton type).
    val vocab = (0 until 20).map(i => s"w$i")
    val docs = ((1 to 10).map(i =>
        (i.toLong, Seq.fill(20)("x y").mkString(" "))) ++
      (11 to 20).map { i =>
        // alternating +7/+11 walk: every context has ~2 successors,
        // so P(w|v) ~ 0.5 — between the repetitive (~1) and the
        // all-singleton (~0.25 discounted) regimes
        val toks = (0 until 40).scanLeft(i % 20)((t, j) =>
          (t + (if (j % 2 == 0) 7 else 11)) % 20).map(vocab)
        (i.toLong, toks.mkString(" "))
      } ++
      (21 to 30).map(i =>
        (i.toLong, (0 until 40).map(j => s"r${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val kn = engine.knPerplexity(docs, "doc_id", "text")
      .select($"doc_id", $"ppl_kn").as[(Long, Double)].collect().toMap
    def mean(ids: Range) = ids.map(i => kn(i.toLong)).sum / ids.size
    val (rep, nat, unq) = (mean(1 to 10), mean(11 to 20), mean(21 to 30))
    assert(rep < nat && nat < unq,
      s"KN ordering violated: rep=$rep nat=$nat unique=$unq")
    // the discrimination is real, not marginal: the quality filter
    // must put a decade between repeated boilerplate and noise
    assert(unq / rep > 2.0, s"KN separation too weak: ${unq / rep}")
    // order-3 (VERDICT r15 missing #6): the same corpus must separate
    // at the trigram grain too, with the same decade between
    // boilerplate and noise
    val kn3 = engine.knPerplexity3(docs, "doc_id", "text")
      .select($"doc_id", $"ppl_kn3").as[(Long, Double)].collect().toMap
    def mean3(ids: Range) = ids.map(i => kn3(i.toLong)).sum / ids.size
    val (rep3, nat3, unq3) =
      (mean3(1 to 10), mean3(11 to 20), mean3(21 to 30))
    assert(rep3 < nat3 && nat3 < unq3,
      s"KN3 ordering violated: rep=$rep3 nat=$nat3 unique=$unq3")
    assert(unq3 / rep3 > 2.0, s"KN3 separation too weak: ${unq3 / rep3}")
  }

  test("sign-test sharded lnC prefix is bit-identical to the monolithic window") {
    // VERDICT r14 #1 done-criterion: shardedPrefixSum(j-grid) ≡ the
    // monolithic unpartitioned cumulative at arbitrary n, including
    // n that is not a multiple of the 64-row shard or the 2^16 block
    // (boundary shards exercise the offset reconstruction).
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 63, 64, 65, 200, 1021)) {
      val base = spark.range(0, n + 1).toDF("j")
        .withColumn("step_u",
          when(col("j") > 0, floor(log((lit(n.toLong) - col("j") + 1L)
            .cast("double") / col("j").cast("double")) * 1000000 + 0.5)
            .cast("long")).otherwise(0L))
        .withColumn("g", lit(0))
      val mono = base.withColumn("lnc_u", sum("step_u").over(
          Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0)))
        .select("j", "lnc_u")
      val shard = Curation.shardedPrefixSum(base, "g", "j", "step_u", "x")
        .withColumn("lnc_u", col("x") + col("step_u"))
        .select("j", "lnc_u")
      assert(mono.exceptAll(shard).isEmpty && shard.exceptAll(mono).isEmpty,
        s"sharded prefix diverged from monolithic at n=$n")
    }
  }

  test("Horvitz-Thompson: full-census strata estimate exactly; sampled strata bounded") {
    val rows = ScalePatterns.defs("sample_horvitz_thompson")(spark, sfDir)
      .select("lang", "n_pop", "n_sampled", "ht_total_chars",
        "true_total_chars")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, ns, ht, tt) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      if (np <= 30) {
        assert(ns === np, s"census stratum must sample everything: $r")
        assert(ht === tt, s"census stratum must estimate exactly: $r")
      } else {
        assert(ns <= np && ht >= 0, s"sane sampled stratum: $r")
      }
    }
  }

  test("personalized PageRank: seed component dominates, unreachable reads exactly 0") {
    import spark.implicits._
    // two 5-node paths, seeds only in the first: no teleport + no
    // path into the second component ⇒ its mass is EXACTLY zero
    // (not merely small) — the property that separates PPR from
    // global PR, whose uniform teleport re-inflates everything.
    val nodes = (0L to 9L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L)).toDF("a", "b")
    val r = GraphOps.personalizedPagerank(nodes, edges,
        Seq(0L).toDF("id"), 3)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Long]("r")).toMap
    assert((5L to 9L).forall(r(_) == 0L),
      s"disconnected component must read exactly 0: $r")
    assert(r(0L) > 0L && r(1L) > 0L,
      s"seed component must hold positive mass: $r")
    // empty seed set: all-zero ranks, never a DIV-by-zero throw
    val rEmpty = GraphOps.personalizedPagerank(nodes, edges,
        spark.emptyDataset[Long].toDF("id"), 3)
      .collect().map(_.getAs[Long]("r"))
    assert(rEmpty.forall(_ == 0L), "empty seed set must read all zeros")
  }

  test("Louvain coarsen: phase 2 strictly improves Q over the one-level refine") {
    // Coarsening conserves Q exactly (super-degrees/m unchanged), so
    // the node-projected coarse labels' Q is the fine Q plus the sum
    // of accepted coarse gains — Q·4m² must be ≥ refine's, strictly
    // greater on the fixture (whole-community merges are available:
    // VERDICT r13 missing #2). Same exact-integer Q, no tolerance.
    val edges = GraphOps.fixtureKnnEdges(spark, sfDir)
      .select("a", "b").as[(Long, Long)].collect()
    val ref = GraphOps.defs("graph_louvain_refine")(spark, sfDir)
      .select("vec_id", "community").as[(Long, Long)].collect().toMap
    val coar = GraphOps.defs("graph_louvain_coarsen")(spark, sfDir)
      .select("vec_id", "community").as[(Long, Long)].collect().toMap
    def q4m2(labels: Map[Long, Long]): Long = {
      val m = edges.length.toLong
      val deg = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
      val ein = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (a, b) =>
        if (labels(a) == labels(b)) ein(labels(a)) += 1 }
      val tot = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      labels.foreach { case (id, l) => tot(l) += deg(id) }
      labels.values.toSet.toSeq
        .map((c: Long) => 4L * m * ein(c) - tot(c) * tot(c)).sum
    }
    // every node of a merged community moves together: the coarse
    // labels must be a COARSENING of the fine partition (fine-equal
    // nodes stay together)
    val fineGroups = ref.groupBy(_._2).values
    assert(fineGroups.forall(g => g.keySet.map(coar).size == 1),
      "phase 2 must move whole communities, never split one")
    val merged = coar.values.toSet.size
    val fineN = ref.values.toSet.size
    info(s"louvain coarsen: $fineN fine communities -> $merged; " +
      s"Q*4m^2 ${q4m2(ref)} -> ${q4m2(coar)}")
    assert(merged < fineN,
      "the fixture admits whole-community merges; coarse sweep must merge")
    assert(q4m2(coar) > q4m2(ref),
      s"coarse moves must strictly raise Q: ${q4m2(ref)} -> ${q4m2(coar)}")
    // multi-level (VERDICT r15 #6): level 2 must be a coarsening of
    // level 1 and extend the exact monotone chain Q_refine ≤ Q_L1 ≤
    // Q_L2, STRICT at L2 on the fixture (the merged super-communities
    // admit further merges level 1's single sweep could not see)
    val ml = GraphOps.defs("graph_louvain_multilevel")(spark, sfDir)
      .select("vec_id", "community").as[(Long, Long)].collect().toMap
    val l1Groups = coar.groupBy(_._2).values
    assert(l1Groups.forall(g => g.keySet.map(ml).size == 1),
      "level 2 must move whole level-1 communities, never split one")
    info(s"louvain multilevel: ${coar.values.toSet.size} L1 communities" +
      s" -> ${ml.values.toSet.size}; Q*4m^2 ${q4m2(coar)} -> ${q4m2(ml)}")
    assert(q4m2(ml) > q4m2(coar),
      s"level 2 must strictly raise Q: ${q4m2(coar)} -> ${q4m2(ml)}")
  }

  test("PQ sweep: distortion strictly decreases with subquantizer count; recall floor") {
    // Finer sub-splits strictly REFINE the code: choosing the same
    // codeword for both halves of a split subspace reproduces the
    // coarser assignment, so each per-sub min can only improve —
    // distortion is non-increasing by construction, strict on this
    // corpus. Recall@10 at the fixture's 2-bit (K=4) codebook is
    // noise-level (the ann_opq_adc_topk lesson: 0.26/0.20/0.22 at
    // sf0.001) — pin a floor, not monotonicity; the sweep's decision
    // value is the distortion column at constant query cost.
    val rows = ProductQuantize.defs("ann_pq_sweep")(spark, sfDir)
      .select("m", "distortion_sum_u", "recall")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(4, 8, 16))
    assert(rows.map(_._2).sliding(2).forall(p => p(0) > p(1)),
      s"finer sub-splits must strictly refine the code: ${rows.toSeq}")
    assert(rows.forall(_._3 >= 0.1), s"recall floor 0.1: ${rows.toSeq}")
  }

  test("neighbor preservation: sq8 near-lossless, shape + floors per method") {
    // The readout's decision value: int8 SQ preserves the top-10
    // almost exactly (it quantizes VALUES, not structure) while the
    // 2-bit-codebook PQ arms and the 16/32-dim prefixes sit at the
    // noise floor on this isotropic unit-norm fixture — within-family
    // monotonicity is NOT pinned for the tiny-codebook arms (the
    // ann_pq_sweep / opq lesson: K=4 recall is noise; 0.26 vs 0.20
    // at sf0.001), floors are.
    val rows = ProductQuantize.defs("vec_neighbor_preservation")(
        spark, sfDir)
      .select("method", "bits_per_vec", "n_truth", "n_hits", "overlap")
      .as[(String, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq ===
      Seq("bin1", "mat16", "mat32", "pq4", "pq8", "sq8"))
    rows.foreach { r =>
      assert(r._3 === 50L, s"truth census drifted: $r")
      assert(r._4 >= 0L && r._4 <= r._3, s"hits outside [0, truth]: $r")
      assert(r._5 >= 0.0 && r._5 <= 1.0)
    }
    val byM = rows.map(r => r._1 -> r._5).toMap
    assert(byM("sq8") >= 0.8,
      s"int8 SQ must be near-lossless on neighbors: $byM")
    // every lossy arm still beats the random-overlap floor
    // (10/corpus would be ~0.02 at sf0.001)
    assert(rows.forall(_._5 >= 0.05), s"noise floor: $byM")
    // bits ordering sanity: the readout's ranking context column
    assert(rows.map(r => r._1 -> r._2).toMap ===
      Map("bin1" -> 64L, "mat16" -> 512L, "mat32" -> 1024L,
        "pq4" -> 8L, "pq8" -> 16L, "sq8" -> 512L))
  }

  test("PQ encode: codes in range, subspace errors bounded by scalar worst case") {
    val rows = ProductQuantize.defs("vec_pq_encode")(spark, sfDir)
      .select("vec_id", "sub", "code", "sub_err")
      .as[(Long, Int, Long, Double)].collect()
    assert(rows.length === TestData.embeddings(spark, sfDir).count() * 8)
    assert(rows.forall { case (_, s, c, e) => s >= 0 && s < 8 && c >= 0 && c < 4 && e >= 0.0 })
    // codebook vectors encode themselves with zero subspace error
    rows.filter(_._1 < 4).foreach { case (v, _, c, e) =>
      assert(c === v && e === 0.0, s"codebook vector $v must self-encode")
    }
  }

  test("PQ-ADC top-k overlaps exact L2 top-k (compression quality)") {
    import graft.functions.{VectorOps => V}
    val e = TestData.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") === 42).select(col("embedding").as("qv"))
    val exact = e.filter(col("vec_id") =!= 42).crossJoin(q)
      .withColumn("d", V.sqDist(col("embedding"), col("qv")))
      .orderBy(col("d").asc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val adc = ProductQuantize.defs("ann_pq_adc_topk")(spark, sfDir)
      .select("vec_id").as[Long].collect().toSet
    val overlap = adc.count(exact.contains).toDouble / exact.size
    info(s"ADC@10 vs exact-L2@10 overlap: $overlap")
    // 4 codewords x 8 subspaces is a very coarse codebook (2-bit
    // codes); require the approximation to beat random top-10
    // selection (10/500 = 2%) by a wide margin.
    assert(overlap >= 0.1, s"ADC approximation collapsed: $overlap")
  }

  test("HLL sketch merge: per-group and unioned estimates track exact distincts") {
    val est = Aggregates.defs("agg_sketch_merge")(spark, sfDir)
      .select("event_type", "est_distinct_users")
      .as[(String, Long)].collect().toMap
    val ev = TestData.events(spark, sfDir)
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    val exactAll = ev.select(countDistinct(col("user_id"))).as[Long].head()
    assert(est.keySet == exact.keySet + "(all)")
    // lgConfigK=12 keeps HLL++ error ~1.6 %; allow 5 %.
    exact.foreach { case (t, n) =>
      assert(math.abs(est(t) - n) <= math.max(1L, (n * 0.05).toLong),
        s"per-type estimate off for $t: ${est(t)} vs $n")
    }
    assert(math.abs(est("(all)") - exactAll)
        <= math.max(1L, (exactAll * 0.05).toLong),
      s"merged estimate off: ${est("(all)")} vs $exactAll")
  }

  test("binary codes: hamming(a,a)=0, symmetric, n_pos consistent") {
    val codes = BinaryQuantize.defs("vec_binary_quantize")(spark, sfDir)
      .select("vec_id", "w0", "w1", "n_pos")
      .as[(Long, Long, Long, Int)].collect()
    assert(codes.nonEmpty)
    codes.foreach { case (_, w0, w1, nPos) =>
      assert((w0 >>> 32) == 0 && (w1 >>> 32) == 0,
        "codes must stay in the low 32 bits (DuckDB shift range)")
      assert(java.lang.Long.bitCount(w0) + java.lang.Long.bitCount(w1) == nPos)
    }
    // hamming distance properties over the first few codes
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val cs = codes.take(20).map(c => (c._2, c._3))
    for (a <- cs; b <- cs) {
      assert(ham(a, a) == 0)
      assert(ham(a, b) == ham(b, a))
      assert(ham(a, b) >= 0 && ham(a, b) <= 64)
    }
  }

  test("hamming and matryoshka cascades retain most of exact top-10") {
    val exact = Vectors.defs("vec_cosine_topk")(spark, sfDir)
      .select("vec_id").as[Long].collect().toSet // query = vec 0, top 10
    def overlap(key: String) = {
      val got = SparkEntry.queries(key)(spark, sfDir)
        .select("vec_id").as[Long].collect().toSet
      exact.intersect(got).size / 10.0
    }
    val h = overlap("ann_hamming_topk")
    val m = overlap("ann_matryoshka_topk")
    info(s"hamming overlap@10: $h, matryoshka overlap@10: $m")
    // 50 candidates from 500 vectors: random selection would retain
    // ~10 % of the exact set; both cascades must do far better. Sign
    // bits see all 64 dims, so the hamming bar is higher; the
    // matryoshka prefix sees 16 of 64 dims of an ISOTROPIC random
    // fixture (1/4 of the signal — real MRL embeddings front-load
    // variance into the prefix), so its bar is 3× random.
    assert(h >= 0.5, s"hamming cascade collapsed: $h")
    assert(m >= 0.3, s"matryoshka cascade collapsed: $m")
  }

  test("triplet invariants: pos label = anchor label != neg label") {
    val t = Vectors.defs("triplet_mine")(spark, sfDir)
      .select("anchor_id", "pos_id", "neg_id").as[(Long, Long, Long)].collect()
    val labels = TestData.embeddings(spark, sfDir)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(t.nonEmpty)
    t.foreach { case (a, p, n) =>
      assert(p != a, "positive must not be the anchor")
      assert(labels(p) === labels(a), "positive shares the anchor label")
      assert(labels(n) !== labels(a), "negative has a different label")
    }
  }
}
