package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData
import graft.TestData.r4

/** §2.D aggregations (SURVEY.md).
  *
  * Every groupBy here plans to `HashAggregateExec` partial+final (the
  * map-side combine halves shuffle volume — the property that matters
  * at 100 TB). High-cardinality keys shuffle on the group key; low
  * cardinality outputs stay tiny. Floats follow the determinism
  * protocol: aggregate in double, `round(x,4)` mirrored in the oracle.
  */
object Aggregates {
  type Q = (SparkSession, String) => DataFrame

  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  val defs: Map[String, Q] = Map(
    // TPC-H Q1 shape — the flagship (M1).
    "agg_hash_group" -> ((s, d) =>
      TestData.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r4(sum("l_quantity")).as("sum_qty"),
          r4(sum("l_extendedprice")).as("sum_base_price"),
          r4(sum(revenue)).as("sum_disc_price"),
          r4(avg("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "agg_high_cardinality" -> ((s, d) =>
      TestData.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
        .orderBy("user_id", "event_type")),

    "agg_count_distinct" -> ((s, d) =>
      TestData.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("distinct_users"),
             count(lit(1)).as("n"))
        .orderBy("event_type")),

    // HLL++ sketch — oracle-omitted (±2% rsd; property-tested vs exact).
    "agg_approx_hll" -> ((s, d) =>
      TestData.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy("event_type")),

    // Quantile sketch (Greenwald-Khanna) — oracle-omitted
    // (sketch-specific); property-tested against the exact percentile.
    "agg_approx_percentile" -> ((s, d) =>
      TestData.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_percentile(col("l_quantity"), lit(0.5), lit(1000))
               .as("approx_median"),
             approx_percentile(col("l_quantity"), lit(0.9), lit(1000))
               .as("approx_p90"))
        .orderBy("l_returnflag")),

    // Frequent-items sketch (datasketches ItemsSketch via Spark 4's
    // approx_top_k) — the bounded-memory heavy-hitters pass a 100 TB
    // profile job runs instead of a full wordcount. Oracle-omitted
    // (sketch contract is approximate); PropertySpec pins that on the
    // fixture (cardinality ≪ sketch capacity) the estimates equal the
    // exact counts.
    "agg_approx_topk" -> ((s, d) =>
      TestData.events(s, d)
        .select(expr("approx_top_k(event_type, 5, 64)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("event_type"), col("e.count").as("est_n"))
        .orderBy("event_type")),

    // MERGEABLE sketches — the property that makes approximate
    // aggregation work at 100 TB: per-group (in production,
    // per-partition / per-day) HLL sketches are built independently,
    // then UNIONED into a global sketch without touching the raw data
    // again. The declared query emits each group's estimate plus the
    // merged '(all)' estimate from hll_union_agg over the per-group
    // sketch BINARIES — the re-aggregation a warehouse rollup table
    // runs nightly. Oracle-omitted (datasketches binary contract);
    // PropertySpec pins per-group and merged estimates within 5 % of
    // exact distinct counts.
    "agg_sketch_merge" -> ((s, d) => {
      val sk = TestData.events(s, d)
        .groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      sk.select(col("event_type"),
          expr("hll_sketch_estimate(sk)").as("est_distinct_users"))
        .unionByName(sk
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("est_distinct_users"))
          .withColumn("event_type", lit("(all)"))
          .select("event_type", "est_distinct_users"))
        .orderBy("event_type")
    }),

    // COUNT-MIN SKETCH point estimates — the bounded-memory frequency
    // table (heavy-hitter counts without a groupBy state per key).
    // Built via df.stat.countMinSketch: a driver action over a
    // KB-scale sketch (the df.stat.bloomFilter precedent — documented
    // bounded driver work); the probe list is the |event types|
    // distinct set, also bounded. Oracle-omitted (sketch-specific);
    // PropertySpec pins the CMS contract: estimate ≥ exact always,
    // and ≤ exact + eps·N at the declared eps.
    "agg_count_min_sketch" -> ((s, d) => {
      import s.implicits._
      val ev = TestData.events(s, d)
      val cms = ev.stat.countMinSketch(
        col("event_type"), eps = 0.001, confidence = 0.99, seed = 42)
      val types = ev.select("event_type").distinct().as[String].collect().sorted
      types.toSeq.map(t => (t, cms.estimateCount(t)))
        .toDF("event_type", "est_n")
        .orderBy("event_type")
    }),

    "agg_grouping_sets" -> ((s, d) =>
      TestData.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(r4(sum(revenue)).as("rev"),
             grouping(col("l_returnflag")).as("g_flag"),
             grouping(col("l_linestatus")).as("g_status"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    "agg_rollup" -> ((s, d) =>
      TestData.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(r4(sum(revenue)).as("rev"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    "agg_cube" -> ((s, d) =>
      TestData.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(r4(sum(revenue)).as("rev"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // Deterministic arg-max: max price per customer plus the MIN
    // orderkey among tied argmax rows, via lexicographic struct max
    // (negated key ⇒ min). One shuffle, no self-join.
    "agg_argmax_deterministic" -> ((s, d) =>
      TestData.orders(s, d)
        .groupBy("o_custkey")
        .agg(max(struct(col("o_totalprice").as("p"),
                        (-col("o_orderkey")).as("nk"))).as("m"))
        .select(col("o_custkey"),
                r4(col("m.p")).as("max_price"),
                (-col("m.nk")).as("argmax_key"))
        .orderBy("o_custkey")),

    "agg_stats_numeric" -> ((s, d) =>
      TestData.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          r4(stddev_samp(col("l_extendedprice"))).as("sd_price"),
          r4(var_samp(col("l_discount"))).as("var_disc"),
          r4(corr(col("l_extendedprice"), col("l_quantity"))).as("corr_pq"),
          r4(covar_samp(col("l_extendedprice"), col("l_quantity"))).as("cov_pq"))
        .orderBy("l_returnflag")),

    // Collect + sort emitted as a joined string (scalar output is
    // byte-stable across engines; raw lists are not).
    "agg_collect_sorted" -> ((s, d) =>
      TestData.nation(s, d)
        .groupBy("n_regionkey")
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",")
          .as("nations"))
        .orderBy("n_regionkey")),

    "agg_percentile_exact" -> ((s, d) =>
      TestData.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          r4(percentile(col("l_quantity"), lit(0.5))).as("median_qty"),
          r4(percentile(col("l_quantity"), lit(0.9))).as("p90_qty"))
        .orderBy("l_returnflag")),

    // DISCRETE percentile (percentile_disc semantics: the smallest
    // STORED value whose cumulative share reaches p — never an
    // interpolated value that doesn't occur in the data). The rank
    // index is pure integer arithmetic (ceil(p·n) as (p·n + denom−1)
    // DIV denom), so the selected rows are exact cross-engine with no
    // float boundary; emitted values are stored doubles, no r4 needed.
    "agg_percentile_disc" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("l_returnflag")
        .orderBy("l_quantity", "l_orderkey", "l_linenumber")
      TestData.lineitem(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(W.partitionBy("l_returnflag")))
        .groupBy("l_returnflag")
        .agg(
          max(when(col("rn") === expr("(n + 1) DIV 2"), col("l_quantity")))
            .as("p50_disc"),
          max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("l_quantity")))
            .as("p90_disc"))
        .orderBy("l_returnflag")
    }),

    "agg_pivot" -> ((s, d) =>
      TestData.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(r4(sum(revenue)))
        .orderBy("l_returnflag")),

    // Deterministic mode: most frequent l_quantity per flag, ties
    // broken toward the smallest value. Spark's builtin `mode` is
    // tie-arbitrary, so both engines run the identical count +
    // row_number formulation — engine-neutral by construction, and
    // the same two-phase agg + tiny window shape at any scale (the
    // window partitions by group key over one row per DISTINCT
    // value, not per input row).
    "agg_mode" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag")
        .orderBy(col("n_rows").desc, col("l_quantity").asc)
      TestData.lineitem(s, d)
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
                col("n_rows"))
        .orderBy("l_returnflag")
    }),

    // Bivariate statistics: correlation / covariance / least-squares
    // regression per group — one two-phase hash aggregate (the co-
    // moments are associative partials), so the shape is identical to
    // agg_stats_numeric at any scale.
    "agg_corr_regr" -> ((s, d) =>
      TestData.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          r4(corr("l_quantity", "l_extendedprice")).as("r"),
          r4(covar_pop("l_quantity", "l_extendedprice")).as("cov_p"),
          r4(covar_samp("l_quantity", "l_extendedprice")).as("cov_s"),
          r4(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope"),
          r4(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("icept"),
          r4(regr_r2(col("l_extendedprice"), col("l_quantity"))).as("r2"))
        .orderBy("l_returnflag")),

    // Boolean / bitwise aggregates: exact integer & boolean lattice
    // folds (no float drift possible), map-side combinable.
    "agg_bool_bit" -> ((s, d) =>
      TestData.events(s, d)
        .groupBy("event_type")
        .agg(
          bool_and(col("value") > 10.0).as("all_gt10"),
          bool_or(col("value") > 1000.0).as("any_gt1000"),
          bit_and(col("event_id")).as("b_and"),
          bit_or(col("event_id")).as("b_or"),
          bit_xor(col("event_id")).as("b_xor"))
        .orderBy("event_type")),

    // Fixed-width histogram: bucket = floor(value/50) — a groupBy on
    // a derived integer key, the building block of distribution
    // profiling over a 100 TB column (two-phase agg, tiny output).
    "agg_histogram" -> ((s, d) =>
      TestData.events(s, d)
        .groupBy(col("event_type"),
          floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bucket")),

    // Interpolated median per group — both engines define median as
    // quantile_cont(0.5), exact two-point interpolation; same
    // sort-based aggregate shape as agg_percentile_exact.
    "agg_median" -> ((s, d) =>
      TestData.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(r4(median(col("l_quantity"))).as("med_qty"),
             r4(median(col("l_extendedprice"))).as("med_price"))
        .orderBy("l_returnflag")),

    // Wide→long reshape (melt): the inverse of agg_pivot. Zero
    // shuffle — Generate expands each row map-side; the trailing sort
    // is only the determinism order.
    "agg_unpivot" -> ((s, d) =>
      TestData.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0 && col("l_linenumber") === 1)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // fixture — sort by every output column for a total order
        // (remaining ties are identical rows).
        .orderBy("l_orderkey", "metric", "val")),

    // AUDIENCE OVERLAP MATRIX (round 8): |A∩B| distinct users for
    // every segment pair — the campaign/cohort overlap readout. The
    // 100 TB shape: ONE user-grain aggregate folds each user to a
    // 5-bit behavior mask, a second map-side-combinable aggregate
    // folds the corpus to the ≤2^5-row mask HISTOGRAM, and the 15
    // pair counts expand from that tiny table — the pairwise numbers
    // never touch user-grain data again (the same
    // fold-the-distinct-table-not-the-corpus move as
    // pipeline_bpe_apply). Oracle derives the pairs INDEPENDENTLY
    // (per-user boolean flags + 15 direct conditional counts, no
    // bitmask machinery).
    "agg_segment_overlap" -> ((s, d) => {
      val cnts = segTypes.zipWithIndex.map { case (t, i) =>
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c$i")
      }
      // Denominator is count(*) over ALL the user's events — NOT the
      // sum of the segType counts — mirroring the oracle exactly, so
      // a regenerated fixture with event types outside segTypes
      // cannot silently diverge the two sides (r8 advice item).
      val perUser = TestData.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("ctotal"), cnts: _*)
      val total = col("ctotal")
      val mask = segTypes.indices.map(i =>
        when(col(s"c$i") * segTypes.size >= total, lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _)
      val hist = perUser.select(mask.as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n_users"))
      val pairs = for {
        i <- segTypes.indices; j <- segTypes.indices if i <= j
      } yield struct(lit(segTypes(i)).as("seg_a"),
        lit(segTypes(j)).as("seg_b"),
        when(shiftright(col("mask"), i) % 2 === 1 &&
             shiftright(col("mask"), j) % 2 === 1, col("n_users"))
          .otherwise(0L).as("n"))
      hist.select(explode(array(pairs: _*)).as("p"))
        .groupBy(col("p.seg_a").as("seg_a"), col("p.seg_b").as("seg_b"))
        .agg(sum(col("p.n")).as("n_users_both"))
        .orderBy("seg_a", "seg_b")
    }),

    // PARETO SHARE (round 8): "the top decile of customers drives
    // X % of revenue" — the dashboard number next to the Gini. Per
    // nation: customers ranked by revenue cents DESC (tie → min
    // custkey), top ⌈n/10⌉ summed, share = top/total r4'd once.
    // Integer cents end to end; the rank window runs over the
    // CUSTOMER-grain aggregate (customers-sized, not order-grain).
    "agg_pareto_share" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy("nationkey")
        .orderBy(col("cents").desc, col("custkey"))
      val perCust = TestData.orders(s, d)
        .join(broadcast(TestData.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"),
          col("c_custkey").as("custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("cents"))
      perCust
        .withColumn("rk", row_number().over(W))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("nationkey")))
        .withColumn("top", col("rk") <= expr("(n + 9) DIV 10"))
        .groupBy("nationkey")
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("top"), 1L).otherwise(0L)).as("n_top"),
          sum(when(col("top"), col("cents")).otherwise(0L)).as("top_cents"),
          sum(col("cents")).as("total_cents"))
        .withColumn("top_share",
          r4(col("top_cents").cast("double") / col("total_cents")))
        .select("nationkey", "n_customers", "n_top", "top_cents",
          "total_cents", "top_share")
        .orderBy("nationkey")
    }),

    // GINI CONCENTRATION (round 8): revenue-concentration
    // coefficient per customer nation — the inequality readout
    // behind "top 1 % of customers drive X %" dashboards. The
    // rank-sum closed form G = (2·Σ(i·x_i) − (n+1)·Σx_i)/(n·Σx_i)
    // over values sorted ascending is EXACT-INTEGER end to end when
    // x is in cents: rank·cents products are BIGINTs, ties
    // contribute the same Σi·x_i under any tie order (equal x), and
    // the single division is r4'd. Per-group rank via the window
    // over (nation, cents) — at skewed group sizes swap in
    // rangedRank, same contract.
    "agg_gini_concentration" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy("nationkey").orderBy("cents", "o_orderkey")
      val o = TestData.orders(s, d)
        .join(broadcast(TestData.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("nationkey"),
          col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      o.withColumn("i", row_number().over(W).cast("long"))
        .groupBy("nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sum("cents").as("sum_cents"),
          sum(col("i") * col("cents")).as("rank_sum"))
        .withColumn("gini", r4(
          (lit(2L) * col("rank_sum")
            - (col("n_orders") + 1L) * col("sum_cents")).cast("double")
            / (col("n_orders") * col("sum_cents"))))
        .select("nationkey", "n_orders", "sum_cents", "gini")
        .orderBy("nationkey")
    }),

    // LORENZ DECILES (round 13): the CURVE behind the gini scalar —
    // per nation, the cumulative revenue share held by the bottom
    // 10%, 20%, … of orders; the readout an inequality analysis
    // publishes next to agg_gini_concentration when one number isn't
    // enough ("the bottom half holds 9%" is a Lorenz point). Decile
    // assignment is pure integer arithmetic off the same per-nation
    // rank window gini already rides: bucket = (i−1)·10 DIV n + 1
    // (sizes within 1 of n/10, Σ = n exactly); cumulative cents are
    // exact BIGINTs over the ≤10-row per-nation bucket grid; ONE
    // r4'd division per output row. total = 0 would be an ANSI x/0
    // throw vs DuckDB NULL — guarded at the definition site.
    "agg_lorenz_deciles" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val wr = W.partitionBy("nationkey").orderBy("cents", "o_orderkey")
      val o = TestData.orders(s, d)
        .join(broadcast(TestData.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("nationkey"),
          col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      o.withColumn("i", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(W.partitionBy("nationkey")))
        .withColumn("decile", expr("((i - 1) * 10) DIV n + 1"))
        .groupBy("nationkey", "decile")
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("bucket_cents"))
        .withColumn("cum_cents", sum("bucket_cents").over(
          W.partitionBy("nationkey").orderBy("decile")
            .rowsBetween(W.unboundedPreceding, 0)))
        .withColumn("total_cents", sum("bucket_cents").over(
          W.partitionBy("nationkey")))
        .withColumn("cum_share", when(col("total_cents") > 0,
          r4(col("cum_cents").cast("double")
            / col("total_cents").cast("double"))))
        .select("nationkey", "decile", "n_rows", "bucket_cents",
          "cum_cents", "cum_share")
        .orderBy("nationkey", "decile")
    }),

    // HERFINDAHL–HIRSCHMAN INDEX (round 9): market concentration per
    // nation over customer revenue shares — the antitrust-style
    // readout next to Gini/Theil/Pareto, and the one regulators
    // quote. ALL integer: share_ppm = cents·1e6 DIV S (exact),
    // hhi_ppm = Σ share_ppm² DIV 1e6 (each square ≤ 1e12, the sum
    // ≤ (Σ share)² = 1e12 — ANSI-safe by construction at any n);
    // effective-competitor count 1e6/hhi r4'd once. Customer-grain
    // aggregate → nation stats broadcast back → one rollup.
    "agg_hhi_concentration" -> ((s, d) => {
      val cust = TestData.orders(s, d)
        .join(broadcast(TestData.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"),
          col("c_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("cents"))
      val stats = cust.groupBy("nationkey").agg(sum("cents").as("s"))
      cust.join(broadcast(stats), "nationkey")
        .withColumn("share_ppm", expr("cents * 1000000 DIV s"))
        .groupBy("nationkey")
        .agg(count(lit(1)).as("n_customers"),
          expr("sum(share_ppm * share_ppm) DIV 1000000").as("hhi_ppm"))
        .withColumn("effective_n",
          when(col("hhi_ppm") > 0, r4(lit(1000000.0) / col("hhi_ppm"))))
        .select("nationkey", "n_customers", "hhi_ppm", "effective_n")
        .orderBy("nationkey")
    }),

    // THEIL T INDEX (round 9): the decomposable inequality measure
    // next to the Gini — T = (1/n)·Σ (x/μ)·ln(x/μ) over order value
    // cents per nation. Determinism: x/μ = x·n/S with exact BIGINT
    // x·n (cents ≲ 5e7 × n ≲ 2^31 stays < 2^63), each order's
    // transcendental term quantized to integer MICRO-NATS before the
    // (order-free) sum — the PSI/entropy/PMI precedent — and the
    // final ÷n is integer DIV. Shape: nation-grain stats broadcast
    // back onto the order stream, one corpus-grain aggregate.
    "agg_theil_index" -> ((s, d) => {
      val o = TestData.orders(s, d)
        .join(broadcast(TestData.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("nationkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val stats = o.groupBy("nationkey")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"))
      o.join(broadcast(stats), "nationkey")
        .withColumn("ratio",
          (col("cents") * col("n")).cast("double") / col("s"))
        .withColumn("term_u",
          floor(col("ratio") * log(col("ratio")) * 1000000 + 0.5)
            .cast("long"))
        .groupBy("nationkey")
        .agg(max("n").as("n_orders"),
          sum("term_u").as("sum_term_u"))
        .withColumn("theil_micro", expr("sum_term_u DIV n_orders"))
        .withColumn("theil", r4(col("theil_micro") / 1000000.0))
        .select("nationkey", "n_orders", "sum_term_u", "theil_micro", "theil")
        .orderBy("nationkey")
    }),

    // BENFORD FIRST-DIGIT DEVIATION (round 9): the forensic
    // data-quality screen — leading-digit distribution of order
    // values vs Benford's log10(1+1/d), in integer PPM. The digit
    // comes from the BIGINT-floored value's string head (identical
    // in both engines; no float formatting), observed shares are
    // exact integer n_d·1e6 DIV n, the expected share's log10 is the
    // only transcendental and is quantized per digit (9 values).
    // One corpus scan → 9-row aggregate at any scale.
    "agg_benford_deviation" -> ((s, d) => {
      // values < 1 would floor to digit 0 (Benford is defined on the
      // leading SIGNIFICANT digit) — filter the digit domain 1..9
      // explicitly, mirrored in the oracle, so a fixture with
      // sub-unit values can't divide by zero in the expected term.
      val digits = TestData.orders(s, d)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .filter(col("digit").between(1, 9))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      digits
        .withColumn("n_total", sum("n_obs").over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("obs_ppm", expr("n_obs * 1000000 DIV n_total"))
        .withColumn("exp_ppm",
          floor(log10(lit(1.0) + lit(1.0) / col("digit")) * 1000000 + 0.5)
            .cast("long"))
        .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
        .select("digit", "n_obs", "obs_ppm", "exp_ppm", "dev_ppm")
        .orderBy("digit")
    }),

    // WINSORIZED MEAN (round 9): the outlier-robust mean every
    // metrics platform reports when heavy tails make the raw mean
    // lie — clamp at the exact p05/p95 order statistics (integer
    // cents, the agg_percentile_disc rank convention with stable
    // tie-break) and average the clamped values. Shape: the 3-row
    // cut table broadcasts back onto the line stream; two passes
    // over the group, both map-side-combinable aggregates.
    "agg_winsorized_mean" -> ((s, d) => {
      val li = Stats.flagCents(s, d)
      val cuts = Stats.flagCentsCuts(li, "(n + 1) DIV 20", "p05_cents",
        "(19 * (n + 1)) DIV 20", "p95_cents")
      li.join(broadcast(cuts), "l_returnflag")
        .withColumn("clamped",
          greatest(col("p05_cents"), least(col("p95_cents"), col("cents"))))
        .groupBy("l_returnflag")
        .agg(max("n_rows").as("n_rows"),
          max("p05_cents").as("p05_cents"),
          max("p95_cents").as("p95_cents"),
          r4(sum("cents").cast("double") / count(lit(1))).as("mean_cents"),
          r4(sum("clamped").cast("double") / count(lit(1)))
            .as("winsorized_mean_cents"))
        .orderBy("l_returnflag")
    }),

    // WEIGHTED MEDIAN (round 8): the order statistic under a weight
    // column (here: price weighted by quantity — "the price of the
    // median UNIT SOLD", which line-grain median misses when cheap
    // lines carry big quantities). Definition: least v with
    // cumweight(≤v)·2 ≥ totweight — exact BIGINT comparisons on
    // integer weights, the value an actual data element. Shape:
    // per-(group, value) pre-aggregate (map-side combinable)
    // collapses ties BEFORE the window, then the cumulative runs
    // over the value-DISTINCT rows (price-domain-sized, not
    // line-grain); values r4-quantized as both sort key and output
    // (float sort-key rule).
    "agg_weighted_median" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      // r19 measured and rejected: spreading the projected scan before
      // the (flag, v) pre-aggregate read 0.98 -> 1.31 s (runs=6
      // interleaved) — the exchange below the partial agg ships full
      // rows and forfeits the map-side combine (profile_columns_approx
      // note). Scan-grain aggregates keep the agg on the scan.
      val g = TestData.lineitem(s, d)
        .select(col("l_returnflag"),
          r4(col("l_extendedprice")).as("v"),
          col("l_quantity").cast("long").as("w"))
        .groupBy("l_returnflag", "v").agg(sum("w").as("w"))
      g.withColumn("cw", sum("w").over(W.partitionBy("l_returnflag")
          .orderBy("v")
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
        .withColumn("tw", sum("w").over(W.partitionBy("l_returnflag")))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag")
        .agg(min(col("v")).as("weighted_median"),
          min(col("tw")).as("total_weight"))
        .orderBy("l_returnflag")
    }),

    // SKETCHED AUDIENCE OVERLAP (round 8): the same pairwise
    // |A∩B| readout as agg_segment_overlap but via HLL inclusion-
    // exclusion — est(A) + est(B) − est(A∪B) with the union taken in
    // SKETCH SPACE (hll_union of the two binaries, never re-reading
    // users). This is the shape that survives when the mask-
    // histogram trick runs out: segments beyond one machine word,
    // per-day sketches unioned over arbitrary date ranges, overlap
    // across tables that can't be co-scanned. Membership = the same
    // scale-free count≥mean rule, so PropertySpec can bound the
    // estimate against the exact key's matrix. Oracle-omitted
    // (datasketches estimates are impl-specific); lgConfigK 14 ⇒
    // rsd ≈ 0.8 %, property bound ±5 % of the exact union.
    "agg_hll_intersection" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val members = TestData.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .withColumn("tot", sum("c").over(W))
        .filter(col("c") * lit(segTypes.size) >= col("tot"))
        .select("user_id", "event_type")
      val sk = members.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val a = sk.select(col("event_type").as("seg_a"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("seg_b"), col("sk").as("skb"))
      a.join(b, col("seg_a") < col("seg_b"))
        .select(col("seg_a"), col("seg_b"),
          expr("hll_sketch_estimate(ska)").as("est_a"),
          expr("hll_sketch_estimate(skb)").as("est_b"),
          expr("hll_sketch_estimate(hll_union(ska, skb))").as("est_union"))
        .withColumn("est_inter", greatest(lit(0L),
          col("est_a") + col("est_b") - col("est_union")))
        .orderBy("seg_a", "seg_b")
    })
  )

  /** Behavioral segments for `agg_segment_overlap`: the fixture's
    * event-type domain, bit i of the per-user mask. Membership is
    * SCALE-FREE — a user is in segment i when their count of type i
    * is at least their across-type mean (c_i·|types| ≥ total), an
    * integer-exact predicate with no tuned threshold to drift when
    * the fixture regenerates at a different density.
    */
  private[graft] lazy val segTypes =
    Seq("click", "error", "purchase", "signup", "view")

  val oracles: Map[String, String] = Map(
    // Same DESC rank with custkey tie-break, same ceil-div top cut,
    // integer cents, one r4'd division.
    "agg_pareto_share" ->
      """WITH pc AS (
        |  SELECT c_nationkey::BIGINT AS nationkey, c_custkey AS custkey,
        |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT nationkey, cents,
        |    row_number() OVER (PARTITION BY nationkey
        |      ORDER BY cents DESC, custkey) AS rk,
        |    count(*) OVER (PARTITION BY nationkey) AS n
        |  FROM pc),
        |g AS (
        |  SELECT nationkey, count(*)::BIGINT AS n_customers,
        |    sum(CASE WHEN rk <= (n + 9) // 10 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_top,
        |    sum(CASE WHEN rk <= (n + 9) // 10 THEN cents ELSE 0 END)::BIGINT
        |      AS top_cents,
        |    sum(cents)::BIGINT AS total_cents
        |  FROM r GROUP BY 1)
        |SELECT nationkey, n_customers, n_top, top_cents, total_cents,
        |  floor((top_cents::DOUBLE / total_cents)*10000 + 0.5)/10000
        |    AS top_share
        |FROM g ORDER BY nationkey""".stripMargin,
    // Same rank-sum closed form over ascending cents; rank·cents
    // products ::BIGINT; one r4'd division.
    "agg_gini_concentration" ->
      """WITH o AS (
        |  SELECT c_nationkey::BIGINT AS nationkey, o_orderkey,
        |    floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT nationkey, cents,
        |    row_number() OVER (PARTITION BY nationkey
        |      ORDER BY cents, o_orderkey) AS i
        |  FROM o),
        |g AS (
        |  SELECT nationkey, count(*)::BIGINT AS n_orders,
        |    sum(cents)::BIGINT AS sum_cents,
        |    sum(i * cents)::BIGINT AS rank_sum
        |  FROM r GROUP BY 1)
        |SELECT nationkey, n_orders, sum_cents,
        |  floor(((2 * rank_sum - (n_orders + 1) * sum_cents)::DOUBLE
        |    / (n_orders * sum_cents))*10000 + 0.5)/10000 AS gini
        |FROM g ORDER BY nationkey""".stripMargin,
    // Same per-nation rank window as gini; bucket = (i−1)·10 // n + 1
    // integer deciles; exact BIGINT cumulatives, one r4'd share.
    "agg_lorenz_deciles" ->
      """WITH o AS (
        |  SELECT c_nationkey::BIGINT AS nationkey, o_orderkey,
        |    floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT nationkey, cents,
        |    row_number() OVER (PARTITION BY nationkey
        |      ORDER BY cents, o_orderkey)::BIGINT AS i,
        |    (count(*) OVER (PARTITION BY nationkey))::BIGINT AS n
        |  FROM o),
        |b AS (
        |  SELECT nationkey, ((i - 1) * 10) // n + 1 AS decile,
        |    count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS bucket_cents
        |  FROM r GROUP BY 1, 2),
        |c AS (
        |  SELECT *,
        |    (sum(bucket_cents) OVER (PARTITION BY nationkey
        |      ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_cents,
        |    (sum(bucket_cents) OVER (PARTITION BY nationkey))::BIGINT
        |      AS total_cents
        |  FROM b)
        |SELECT nationkey, decile, n_rows, bucket_cents, cum_cents,
        |  CASE WHEN total_cents > 0 THEN
        |    floor(cum_cents::DOUBLE / total_cents::DOUBLE * 10000 + 0.5)
        |      / 10000 END AS cum_share
        |FROM c ORDER BY nationkey, decile""".stripMargin,
    // cents·1e6 // S exact per customer; Σ share² // 1e6 exact; the
    // only float is the final effective-n division, r4'd.
    "agg_hhi_concentration" ->
      """WITH cu AS (
        |  SELECT c_nationkey::BIGINT AS nationkey, c_custkey,
        |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |st AS (SELECT nationkey, sum(cents)::BIGINT AS s FROM cu GROUP BY 1),
        |sh AS (
        |  SELECT cu.nationkey, (cents * 1000000 // s)::BIGINT AS share_ppm
        |  FROM cu JOIN st USING (nationkey))
        |SELECT nationkey, count(*)::BIGINT AS n_customers,
        |  (sum(share_ppm * share_ppm) // 1000000)::BIGINT AS hhi_ppm,
        |  CASE WHEN (sum(share_ppm * share_ppm) // 1000000) > 0 THEN
        |    floor((1000000.0 / (sum(share_ppm * share_ppm) // 1000000))
        |      *10000 + 0.5)/10000 END AS effective_n
        |FROM sh GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    // Identical op order: BIGINT cents·n first, one double division,
    // ln, micro-nat floor BEFORE the sum, integer // at the end.
    "agg_theil_index" ->
      """WITH o AS (
        |  SELECT c_nationkey::BIGINT AS nationkey,
        |    floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |st AS (
        |  SELECT nationkey, count(*)::BIGINT AS n, sum(cents)::BIGINT AS s
        |  FROM o GROUP BY 1),
        |t AS (
        |  SELECT o.nationkey, st.n,
        |    floor(((o.cents * st.n)::DOUBLE / st.s)
        |      * ln((o.cents * st.n)::DOUBLE / st.s) * 1000000 + 0.5)::BIGINT
        |      AS term_u
        |  FROM o JOIN st USING (nationkey))
        |SELECT nationkey, max(n)::BIGINT AS n_orders,
        |  sum(term_u)::BIGINT AS sum_term_u,
        |  (sum(term_u)::BIGINT // max(n)::BIGINT)::BIGINT AS theil_micro,
        |  floor(((sum(term_u)::BIGINT // max(n)::BIGINT) / 1000000.0)
        |    *10000 + 0.5)/10000 AS theil
        |FROM t GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "agg_benford_deviation" ->
      """WITH d AS (
        |  SELECT digit, count(*)::BIGINT AS n_obs FROM (
        |    SELECT substring(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::INT
        |      AS digit FROM orders)
        |  WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
        |t AS (SELECT *, (sum(n_obs) OVER ())::BIGINT AS n_total FROM d)
        |SELECT digit, n_obs,
        |  (n_obs * 1000000 // n_total)::BIGINT AS obs_ppm,
        |  floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5)::BIGINT AS exp_ppm,
        |  ((n_obs * 1000000 // n_total)
        |    - floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5))::BIGINT
        |    AS dev_ppm
        |FROM t ORDER BY digit""".stripMargin,
    "agg_winsorized_mean" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    floor(l_extendedprice * 100 + 0.5)::BIGINT AS cents
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, cents,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cents, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM li),
        |cuts AS (
        |  SELECT l_returnflag, max(n)::BIGINT AS n_rows,
        |    max(CASE WHEN rn = (n + 1) // 20 THEN cents END)::BIGINT
        |      AS p05_cents,
        |    max(CASE WHEN rn = (19 * (n + 1)) // 20 THEN cents END)::BIGINT
        |      AS p95_cents
        |  FROM r GROUP BY 1)
        |SELECT li.l_returnflag, max(n_rows)::BIGINT AS n_rows,
        |  max(p05_cents)::BIGINT AS p05_cents,
        |  max(p95_cents)::BIGINT AS p95_cents,
        |  floor((sum(cents)::DOUBLE / count(*))*10000 + 0.5)/10000
        |    AS mean_cents,
        |  floor((sum(greatest(p05_cents, least(p95_cents, cents)))::DOUBLE
        |      / count(*))*10000 + 0.5)/10000 AS winsorized_mean_cents
        |FROM li JOIN cuts USING (l_returnflag)
        |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin,
    // Same least-v-with-cw*2>=tw form; windowed sums ::BIGINT
    // (HUGEINT trap); values r4'd before grouping on both sides.
    "agg_weighted_median" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |    floor((l_extendedprice)*10000 + 0.5)/10000 AS v,
        |    sum(l_quantity::BIGINT)::BIGINT AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v,
        |    (sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cw,
        |    (sum(w) OVER (PARTITION BY l_returnflag))::BIGINT AS tw
        |  FROM g)
        |SELECT l_returnflag, min(v) AS weighted_median,
        |  min(tw)::BIGINT AS total_weight
        |FROM c WHERE cw * 2 >= tw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Independent derivation: per-user counts → boolean flags →
    // 15 direct conditional distinct-user counts, unioned.
    "agg_segment_overlap" -> {
      val flags = segTypes.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) * " +
          s"${segTypes.size} >= count(*) AS f$i"
      }.mkString(",\n        |    ")
      val pairSelects = (for {
        i <- segTypes.indices; j <- segTypes.indices if i <= j
      } yield s"SELECT '${segTypes(i)}' AS seg_a, '${segTypes(j)}' AS seg_b, " +
        s"sum(CASE WHEN f$i AND f$j THEN 1 ELSE 0 END)::BIGINT " +
        s"AS n_users_both FROM s").mkString("\n        |UNION ALL\n        |")
      s"""WITH s AS (
        |  SELECT user_id,
        |    $flags
        |  FROM events GROUP BY user_id)
        |SELECT * FROM (
        |$pairSelects)
        |ORDER BY seg_a, seg_b""".stripMargin
    },
    "agg_median" ->
      """SELECT l_returnflag,
        |  floor((median(l_quantity))*10000 + 0.5)/10000 AS med_qty,
        |  floor((median(l_extendedprice))*10000 + 0.5)/10000 AS med_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_corr_regr" ->
      """SELECT l_returnflag,
        |  floor((corr(l_quantity, l_extendedprice))*10000 + 0.5)/10000 AS r,
        |  floor((covar_pop(l_quantity, l_extendedprice))*10000 + 0.5)/10000 AS cov_p,
        |  floor((covar_samp(l_quantity, l_extendedprice))*10000 + 0.5)/10000 AS cov_s,
        |  floor((regr_slope(l_extendedprice, l_quantity))*10000 + 0.5)/10000 AS slope,
        |  floor((regr_intercept(l_extendedprice, l_quantity))*10000 + 0.5)/10000 AS icept,
        |  floor((regr_r2(l_extendedprice, l_quantity))*10000 + 0.5)/10000 AS r2
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_bool_bit" ->
      """SELECT event_type,
        |  bool_and(value > 10.0) AS all_gt10,
        |  bool_or(value > 1000.0) AS any_gt1000,
        |  bit_and(event_id)::BIGINT AS b_and,
        |  bit_or(event_id)::BIGINT AS b_or,
        |  bit_xor(event_id)::BIGINT AS b_xor
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_histogram" ->
      """SELECT event_type, floor(value / 50.0)::BIGINT AS bucket,
        |  count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    "agg_unpivot" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_quantity, l_extendedprice, l_discount
        |  FROM lineitem WHERE l_orderkey % 10 = 0 AND l_linenumber = 1)
        |UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
        |ORDER BY l_orderkey, metric, val""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, count(*)::BIGINT AS n_rows
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY n_rows DESC, l_quantity ASC) AS rn FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, n_rows
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "agg_hash_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity))*10000 + 0.5)/10000 AS sum_qty,
        |  floor((sum(l_extendedprice))*10000 + 0.5)/10000 AS sum_base_price,
        |  floor((sum(l_extendedprice * (1.0 - l_discount)))*10000 + 0.5)/10000 AS sum_disc_price,
        |  floor((avg(l_discount))*10000 + 0.5)/10000 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_high_cardinality" ->
      """SELECT user_id, event_type, count(*) AS n, floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_extendedprice * (1.0 - l_discount)))*10000 + 0.5)/10000 AS rev,
        |  grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_extendedprice * (1.0 - l_discount)))*10000 + 0.5)/10000 AS rev, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_extendedprice * (1.0 - l_discount)))*10000 + 0.5)/10000 AS rev, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_argmax_deterministic" ->
      """WITH m AS (
        |  SELECT o_custkey, max(o_totalprice) AS mp FROM orders GROUP BY o_custkey)
        |SELECT m.o_custkey, floor((m.mp)*10000 + 0.5)/10000 AS max_price,
        |       min(o.o_orderkey) AS argmax_key
        |FROM m JOIN orders o ON o.o_custkey = m.o_custkey AND o.o_totalprice = m.mp
        |GROUP BY m.o_custkey, m.mp ORDER BY m.o_custkey""".stripMargin,
    "agg_stats_numeric" ->
      """SELECT l_returnflag,
        |  floor((stddev_samp(l_extendedprice))*10000 + 0.5)/10000 AS sd_price,
        |  floor((var_samp(l_discount))*10000 + 0.5)/10000 AS var_disc,
        |  floor((corr(l_extendedprice, l_quantity))*10000 + 0.5)/10000 AS corr_pq,
        |  floor((covar_samp(l_extendedprice, l_quantity))*10000 + 0.5)/10000 AS cov_pq
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_collect_sorted" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "agg_percentile_exact" ->
      """SELECT l_returnflag,
        |  floor((quantile_cont(l_quantity, 0.5))*10000 + 0.5)/10000 AS median_qty,
        |  floor((quantile_cont(l_quantity, 0.9))*10000 + 0.5)/10000 AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile_disc" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END) AS p50_disc,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN l_quantity END)
        |    AS p90_disc
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_pivot" ->
      """SELECT l_returnflag,
        |  floor((sum(CASE WHEN l_linestatus = 'F'
        |    THEN l_extendedprice * (1.0 - l_discount) END))*10000 + 0.5)/10000 AS "F",
        |  floor((sum(CASE WHEN l_linestatus = 'O'
        |    THEN l_extendedprice * (1.0 - l_discount) END))*10000 + 0.5)/10000 AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
