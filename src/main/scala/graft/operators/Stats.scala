package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TestData
import graft.TestData.r4

/** §2.R10 statistical-testing operators (SURVEY.md).
  *
  * The experimentation stack's nonparametric wing: rank/ECDF tests
  * (Mann-Whitney U, Kolmogorov-Smirnov), association measures
  * (Cramér's V, Spearman ρ) and a resampling CI (deterministic
  * Poisson bootstrap). The shared scale discipline: NOTHING here
  * ranks at corpus grain. Every rank/ECDF readout folds the corpus
  * to a VALUE-DISTINCT cell table first (the agg_weighted_median
  * "aggregate-below-window" move) whose size is bounded by the
  * quantized value DOMAIN, not the row count — windows then run over
  * that bounded grid. All sums are exact BIGINTs; transcendentals
  * and divisions happen once, in mirrored op order, r4-quantized.
  */
object Stats {
  type Q = (SparkSession, String) => DataFrame

  /** Per-user total event value (micro-quantized BEFORE the sum —
    * running DOUBLE sums are engine-order-specific), md5-hash variant
    * split (the events_ab_lift assignment), folded to the WHOLE-UNIT
    * value grid: one row per distinct unit value with control /
    * treatment user counts. Grid size is bounded by the value DOMAIN
    * (~thousands of units) at any corpus size — this is what makes
    * the unpartitioned cumulative windows downstream scale-safe.
    */
  private def variantUnitCells(s: SparkSession, d: String): DataFrame =
    TestData.events(s, d)
      .withColumn("v_u", floor(col("value") * 1000000 + 0.5).cast("long"))
      .groupBy("user_id").agg(sum("v_u").as("sum_u"))
      .withColumn("variant",
        when(conv(substring(md5(col("user_id").cast("string")), 1, 2),
          16, 10).cast("int") % 2 === 0, "control").otherwise("treatment"))
      // IEEE floor on the DOUBLE ratio, not integer division: Spark
      // `DIV` truncates toward zero while DuckDB `//` floors, so they
      // disagree on every negative non-exact quotient (refund-heavy
      // users). floor(sum_u/1e6) is exact for |sum_u| < 2^53 µ-units
      // (~9e9 whole units) and identical in both engines — the
      // ts_theil_sen quantizer discipline (CLAUDE.md trap).
      .withColumn("x",
        floor(col("sum_u").cast("double") / 1000000.0).cast("long"))
      .groupBy("x")
      .agg(sum(when(col("variant") === "control", 1L).otherwise(0L))
             .as("cc"),
           sum(when(col("variant") === "treatment", 1L).otherwise(0L))
             .as("ct"))

  /** Per-nation Welch-z variant tests shared by the multiple-testing
    * keys (`agg_bh_fdr`, `agg_holm_bonferroni`): per-customer total
    * spend in whole dollars via the NEGATIVE-SAFE IEEE-floor
    * quantizer, md5 customer split, per-nation sufficient stats, z,
    * and the Lin-approximated micro-quantized p. One row per nation
    * with (nationkey, n_c, n_t, z, p_u); degenerate nations carry
    * NULL z/p (and drop out of the procedures' m).
    */
  private def nationPValues(s: SparkSession, d: String): DataFrame = {
    val pu = TestData.orders(s, d)
      .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5)
        .cast("long"))
      .groupBy("o_custkey").agg(sum("cents").as("sum_cents"))
      .withColumn("x",
        floor(col("sum_cents").cast("double") / 100.0).cast("long"))
      .withColumn("variant",
        when(conv(substring(md5(col("o_custkey").cast("string")), 1, 2),
          16, 10).cast("int") % 2 === 0, "control").otherwise("treatment"))
      .join(TestData.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").cast("long")
          .as("nationkey")),
        col("o_custkey") === col("c_custkey"))
    pu.groupBy("nationkey")
      .agg(sum(when(col("variant") === "control", 1L).otherwise(0L))
          .as("n_c"),
        sum(when(col("variant") === "treatment", 1L).otherwise(0L))
          .as("n_t"),
        sum(when(col("variant") === "control", col("x")).otherwise(0L))
          .as("sx_c"),
        sum(when(col("variant") === "treatment", col("x")).otherwise(0L))
          .as("sx_t"),
        sum(when(col("variant") === "control", col("x") * col("x"))
          .otherwise(0L)).as("sxx_c"),
        sum(when(col("variant") === "treatment", col("x") * col("x"))
          .otherwise(0L)).as("sxx_t"))
      .transform(twoGroupVars).transform(welchZP)
  }

  /** [[nationPValues]] with the number of defined tests `m_tests`
    * and each nation's rank `rk` by ascending p (NULL p last, ties
    * by nationkey) — the input of the step-up procedures.
    */
  private def rankedNationPValues(s: SparkSession, d: String): DataFrame =
    nationPValues(s, d)
      .withColumn("m_tests", sum(when(col("p_u").isNotNull, 1L)
        .otherwise(0L)).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("p_u").asc_nulls_last, col("nationkey"))))

  /** The step-up decision over ranked tests carrying a per-rank
    * `flag`: every defined test ranked at or below the largest
    * flagged rank is significant.
    */
  private def stepUp(flagged: DataFrame): DataFrame = flagged
    .withColumn("k_max",
      max(when(col("flag"), col("rk"))).over(Window.partitionBy()))
    .withColumn("significant", when(col("p_u").isNotNull,
      col("k_max").isNotNull && col("rk") <= col("k_max"))
      .otherwise(lit(false)))

  /** Per-user counts x1..x3 of the event types `t1`..`t3` (users
    * with at least one of them) and their doubled within-user
    * midranks r1..r3 — closed form over three values, ties averaged.
    */
  private def userActionRanks(s: SparkSession, d: String, t1: String,
                              t2: String, t3: String): DataFrame = {
    def r2(j: Column, a: Column, b2: Column): Column =
      lit(2L) * (when(a < j, 1L).otherwise(0L)
        + when(b2 < j, 1L).otherwise(0L)) +
        (lit(1L) + when(a === j, 1L).otherwise(0L)
          + when(b2 === j, 1L).otherwise(0L)) + 1L
    TestData.events(s, d)
      .filter(col("event_type").isin(t1, t2, t3))
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === t1, 1L).otherwise(0L)).as("x1"),
        sum(when(col("event_type") === t2, 1L).otherwise(0L)).as("x2"),
        sum(when(col("event_type") === t3, 1L).otherwise(0L)).as("x3"))
      .withColumn("r1", r2(col("x1"), col("x2"), col("x3")))
      .withColumn("r2", r2(col("x2"), col("x1"), col("x3")))
      .withColumn("r3", r2(col("x3"), col("x1"), col("x2")))
  }

  /** Value-cell size cap of the rank tests' tie term: t³−t < 2^63
    * per value cell below 2^21.
    */
  private val TieCubeCap = 2097152L

  /** Pooled doubled midranks of document length across languages,
    * over the value-DISTINCT grid (never per row): per `lang` the
    * count n_g and doubled rank sum r2_g, and the 1-row tie term
    * (tie_raw = Σ(c³−c) over value cells below [[TieCubeCap]], and
    * the largest cell c_max).
    */
  private def langMidrankSums(s: SparkSession,
                              d: String): (DataFrame, DataFrame) = {
    val cells = TestData.documents(s, d)
      .select(col("lang"), col("n_chars").cast("long").as("x"))
      .groupBy("lang", "x").agg(count(lit(1)).as("cg"))
      .ckpt() // consumed by the value grid AND the join
    val vals = cells.groupBy("x").agg(sum("cg").as("c"))
      .withColumn("cum_lt",
        coalesce(sum("c").over(Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("r2", lit(2L) * col("cum_lt") + col("c") + 1)
      .ckpt() // consumed by ranks AND the tie rollup
    val groups = cells
      .join(broadcast(vals.select("x", "r2")), "x")
      .groupBy("lang")
      .agg(sum("cg").as("n_g"), sum(col("cg") * col("r2")).as("r2_g"))
    val ties = vals.agg(
      sum(when(col("c") < TieCubeCap,
        col("c") * col("c") * col("c") - col("c"))).as("tie_raw"),
      max("c").as("c_max"))
    (groups, ties)
  }

  /** Shared per-flag Spearman sufficient-stat stage (see
    * `agg_spearman_rho` / `agg_spearman_ci`): joint-domain cell grid
    * → tie-aware doubled marginal ranks → exact BIGINT (n, sxy, sxx,
    * syy) + the r4'd ρ. Three consumers of the tiny cell table —
    * checkpointed once.
    */
  private def spearmanStats(s: SparkSession, d: String): DataFrame =
    spearmanCore(TestData.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        floor(col("l_quantity") + 0.5).cast("long").as("qx"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("qy")))

  /** Per-flag Spearman (n, sxy, sxx, syy, rho) of integer (flag, qx,
    * qy) rows over the joint-domain cell grid (see [[spearmanStats]]).
    * Shared with `GraftEngine.spearmanRho`.
    */
  private[graft] def spearmanCore(li: DataFrame): DataFrame = {
    val cells = li.groupBy("flag", "qx", "qy")
      .agg(count(lit(1)).as("c"))
      .ckpt()
    def marginalRank(valCol: String): DataFrame = {
      val w = Window.partitionBy("flag").orderBy(valCol)
      cells.groupBy("flag", valCol).agg(sum("c").as("cm"))
        .withColumn("cum_lt", coalesce(sum("cm").over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum("cm").over(Window.partitionBy("flag")))
        .withColumn(s"d_$valCol",
          lit(2L) * col("cum_lt") + col("cm") + 1 - (col("n") + 1))
        .select(col("flag"), col(valCol), col(s"d_$valCol"))
    }
    cells
      .join(marginalRank("qx"), Seq("flag", "qx"))
      .join(marginalRank("qy"), Seq("flag", "qy"))
      .groupBy("flag")
      .agg(sum("c").as("n"),
        sum(col("c") * col("d_qx") * col("d_qy")).as("sxy"),
        sum(col("c") * col("d_qx") * col("d_qx")).as("sxx"),
        sum(col("c") * col("d_qy") * col("d_qy")).as("syy"))
      .withColumn("rho", when(col("sxx") > 0 && col("syy") > 0,
        r4(col("sxy").cast("double")
          / sqrt(col("sxx").cast("double") * col("syy").cast("double")))))
  }

  /** Fisher's combined-probability core (see `agg_fisher_combined`):
    * input (p_u: micro-unit p values, non-null), output the 1-row
    * X² = −2Σln p readout with df = 2m and the Wilson-Hilferty
    * normal verdict. ln terms ε-clipped (p_u ≥ 1) and
    * micro-quantized at the definition site; the cube root is
    * exp(ln(x)/3) in BOTH engines. Shared with
    * `GraftEngine.fisherCombined`.
    */
  private[graft] def fisherCombinedCore(ps: DataFrame): DataFrame =
    ps
      .withColumn("lnp_u",
        floor(log(greatest(col("p_u"), lit(1L)).cast("double")
          / 1000000.0) * 1000000 + 0.5).cast("long"))
      .agg(count(lit(1)).as("m_tests"), sum("lnp_u").as("ln_su"))
      .withColumn("x2", when(col("m_tests") > 0,
        r4(lit(-2.0) * col("ln_su").cast("double") / 1000000.0)))
      .withColumn("df", lit(2L) * col("m_tests"))
      .withColumn("z_wh", when(col("x2") > 0 && col("df") > 0,
        r4((exp(log(col("x2") / col("df").cast("double")) / 3.0)
          - (lit(1.0) - lit(2.0) / (lit(9.0) * col("df").cast("double"))))
          / sqrt(lit(2.0) / (lit(9.0) * col("df").cast("double"))))))
      .withColumn("significant_95",
        when(col("z_wh").isNotNull, col("z_wh") > 1.644854))
      .select("m_tests", "x2", "df", "z_wh", "significant_95")

  /** Storey λ = ½ null-fraction core (see `agg_storey_pi0`): input
    * (p_u) micro-unit p values; π̂0 = 2·#{p > ½}/m clamped to 1.
    * Shared with `GraftEngine.storeyPi0`.
    */
  private[graft] def storeyPi0Core(ps: DataFrame): DataFrame =
    ps
      .agg(count(lit(1)).as("m_tests"),
        sum(when(col("p_u") > 500000L, 1L).otherwise(0L)).as("n_above"))
      .withColumn("pi0", when(col("m_tests") > 0,
        r4(least(lit(1.0), lit(2.0) * col("n_above").cast("double")
          / col("m_tests").cast("double")))))
      .select("m_tests", "n_above", "pi0")

  /** Negative-binomial method-of-moments core (see
    * `agg_negative_binomial`): input (y: count) rows; r̂ = m²/(s²−m),
    * p̂ = m/s² from EXACT (n, Σy, Σy²) sufficient stats — the count
    * model you reach for when `agg_poisson_glm`/`ts_poisson_
    * dispersion` read overdispersed (NB ≡ gamma-mixed Poisson; its
    * extra r parameter absorbs the excess variance). s² ≤ m (equi-/
    * under-dispersed) ⇒ r̂ NULL — NB degenerates to Poisson there,
    * honestly reported via the flag. Divisions once on the 1-row
    * readout. Shared with `GraftEngine.negativeBinomialFit`.
    */
  private[graft] def negBinomialCore(units: DataFrame): DataFrame =
    units
      .agg(count(lit(1)).as("n"), coalesce(sum("y"), lit(0L)).as("sy"),
        coalesce(sum(col("y") * col("y")), lit(0L)).as("syy"))
      .withColumn("mean_y", when(col("n") > 0,
        col("sy").cast("double") / col("n").cast("double")))
      .withColumn("var_y", when(col("n") > 1,
        (col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double")
            / col("n").cast("double"))
          / (col("n") - 1).cast("double")))
      .withColumn("overdispersed",
        when(col("var_y").isNotNull && col("mean_y") > 0,
          col("var_y") > col("mean_y")))
      .withColumn("r_hat", when(col("overdispersed") === true,
        r4(col("mean_y") * col("mean_y")
          / (col("var_y") - col("mean_y")))))
      .withColumn("p_hat", when(col("var_y") > 0,
        r4(col("mean_y") / col("var_y"))))
      .select(col("n"), r4(col("mean_y")).as("mean_y"),
        r4(col("var_y")).as("var_y"), col("overdispersed"),
        col("r_hat"), col("p_hat"))

  /** Huber M-estimator core (see `agg_huber_mean`): input
    * (seg, tie, cents) rows — `tie` makes (cents, tie) a total order
    * per segment for the rank-based median/MAD. 3 unrolled clipped-
    * mean rounds, every mean an exact long-sum divide, every m_k
    * IEEE-floor re-quantized to integer cents. Shared with
    * `GraftEngine.huberMean`.
    */
  private[graft] def huberMean(units: DataFrame): DataFrame = {
    val W = Window.partitionBy("seg").orderBy("cents", "tie")
    val base = units.ckpt() // median + MAD + 3 round means
    val med = base
      .withColumn("rn", row_number().over(W))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("seg")))
      .groupBy("seg")
      .agg(max("n").as("n_rows"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col("cents")))
          .as("m0"),
        r4(sum(col("cents")).cast("double") / count(lit(1)))
          .as("mean_cents"))
    val Wd = Window.partitionBy("seg").orderBy("adev", "tie")
    val mad = base.join(broadcast(med), "seg")
      .withColumn("adev", abs(col("cents") - col("m0")))
      .withColumn("rn", row_number().over(Wd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("seg")))
      .groupBy("seg")
      .agg(max("n_rows").as("n_rows"), max("m0").as("m0"),
        max("mean_cents").as("mean_cents"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col("adev")))
          .as("mad_cents"))
      .withColumn("h", floor(lit(1.345)
        * (lit(1.4826) * col("mad_cents").cast("double")) + 0.5)
        .cast("long"))
    var cur = mad.withColumn("m", col("m0"))
    for (_ <- 1 to 3) {
      cur = base.join(broadcast(cur), "seg")
        .withColumn("cl", greatest(col("m") - col("h"),
          least(col("m") + col("h"), col("cents"))))
        .groupBy("seg")
        .agg(max("n_rows").as("n_rows"), max("m0").as("m0"),
          max("mean_cents").as("mean_cents"),
          max("mad_cents").as("mad_cents"), max("h").as("h"),
          floor(sum(col("cl")).cast("double") / count(lit(1)) + 0.5)
            .cast("long").as("m"))
    }
    cur.select(col("seg"), col("n_rows"), col("m0").as("median_cents"),
      col("mad_cents"), col("h").as("halfwidth_cents"),
      col("m").as("huber_cents"), col("mean_cents"))
  }

  /** ICC + Kish design effect core (see `agg_design_effect`): input
    * (cluster, y: integer units) rows, output the 1-row
    * (k_clusters, n_units, m0, icc, deff) readout. Shared with
    * `GraftEngine.designEffect`.
    */
  private[graft] def designEffect(units: DataFrame): DataFrame = {
    val g = units.groupBy("cluster")
      .agg(count(lit(1)).as("n_g"), sum("y").as("sx"),
        sum(col("y") * col("y")).as("sxx"))
      .withColumn("t_u", floor(col("sx").cast("double")
        * col("sx").cast("double") / col("n_g").cast("double") + 0.5)
        .cast("long"))
    g.agg(count(lit(1)).as("k_clusters"), sum("n_g").as("n_units"),
        sum("sx").as("sum_all"), sum("sxx").as("sxx_all"),
        sum("t_u").as("t_sum_u"),
        sum(col("n_g") * col("n_g")).as("nn_sum"))
      .withColumn("ssb", when(col("n_units") > 0,
        col("t_sum_u").cast("double")
          - col("sum_all").cast("double") * col("sum_all").cast("double")
            / col("n_units").cast("double")))
      .withColumn("ssw",
        col("sxx_all").cast("double") - col("t_sum_u").cast("double"))
      .withColumn("msb", when(col("k_clusters") > 1,
        col("ssb") / (col("k_clusters") - 1).cast("double")))
      .withColumn("msw", when(col("n_units") > col("k_clusters"),
        col("ssw") / (col("n_units") - col("k_clusters")).cast("double")))
      .withColumn("m0_raw", when(col("k_clusters") > 1
          && col("n_units") > 0,
        (col("n_units").cast("double") - col("nn_sum").cast("double")
          / col("n_units").cast("double"))
          / (col("k_clusters") - 1).cast("double")))
      .withColumn("icc", when(col("msb").isNotNull
          && col("msw").isNotNull
          && col("msb") + (col("m0_raw") - 1.0) * col("msw") > 0,
        TestData.r4((col("msb") - col("msw"))
          / (col("msb") + (col("m0_raw") - 1.0) * col("msw")))))
      .withColumn("deff", when(col("icc").isNotNull,
        TestData.r4(lit(1.0) + (col("n_units").cast("double")
          / col("k_clusters").cast("double") - 1.0) * col("icc"))))
      .select(col("k_clusters"), col("n_units"),
        when(col("m0_raw").isNotNull, TestData.r4(col("m0_raw")))
          .as("m0"),
        col("icc"), col("deff"))
  }

  /** Bowley skew + Moors kurtosis core (see `agg_quantile_skew`):
    * input (seg, tie, cents) rows; octiles E1..E7 by the rank
    * convention rk = max(1, (n+1)·k DIV 8) off one per-segment
    * rangedRank; both shape statistics are ratios of exact integer
    * cents with ONE guarded division each, r4. Shared with
    * `GraftEngine.quantileShape`.
    */
  private[graft] def quantileShape(units: DataFrame): DataFrame = {
    val ranked = graft.operators.Curation.rangedRank(
      units.select("seg", "cents", "tie"), "seg",
      Seq(col("cents"), col("tie")), "rk")
      .ckpt() // two consumers: sizes + the octile picks
    val sizes = (1 to 7).foldLeft(
        ranked.groupBy("seg").agg(count(lit(1)).as("n_s"))) {
      (df, k) => df.withColumn(s"r$k",
        greatest(lit(1L), expr(s"((n_s + 1) * $k) DIV 8")))
    }
    val octAggs = max("n_s").as("n") +:
      (1 to 7).map(k =>
        max(when(col("rk") === col(s"r$k"), col("cents"))).as(s"e$k"))
    ranked.join(broadcast(sizes), "seg")
      .groupBy("seg")
      .agg(octAggs.head, octAggs.tail: _*)
      .withColumn("bowley", when(col("e6") - col("e2") > 0,
        r4((col("e6") + col("e2") - lit(2L) * col("e4"))
          .cast("double")
          / (col("e6") - col("e2")).cast("double"))))
      .withColumn("moors", when(col("e6") - col("e2") > 0,
        r4(((col("e7") - col("e5")) + (col("e3") - col("e1")))
          .cast("double")
          / (col("e6") - col("e2")).cast("double"))))
      .select(col("seg"), col("n"), col("e2").as("q1_cents"),
        col("e4").as("median_cents"), col("e6").as("q3_cents"),
        col("bowley"), col("moors"))
      .orderBy("seg")
  }

  /** Hodges-Lehmann two-sample shift core (see `agg_hodges_lehmann`):
    * input the (x, cc, ct) cell grid; output the 1-row (n_pairs,
    * hl_shift, quantizer) readout — the weighted median (rank
    * ⌈(W+1)/2⌉ — upper-middle on even pair counts) of all
    * treatment−control differences over the domain² diff grid.
    * Weights ct·cc ≤ n_t·n_c < 2^63 (the KS bound).
    *
    * The diff grid is quadratic in the value DOMAIN (constant in
    * rows), so the domain is AUTO-COARSENED (VERDICT r14 #4): with
    * domain SPAN s = max−min+1, the quantizer f = 10^⌈log10(s/1e5)⌉
    * (1 when s ≤ 1e5) regroups the grid on floor(x/f) — the
    * negative-safe IEEE floor, mirrored. Span-derived (ADVICE r15),
    * not cell-count-derived: floor(x/f) lands every value in one of
    * ≤ s/f + 1 ≤ ~1e5 buckets BY CONSTRUCTION, so the cross product
    * is bounded at ~1e10 cell pairs even when the raw domain is
    * sparse (1e7 cells spaced 1e6 apart defeated the count-based f). hl_shift is
    * reported back in ORIGINAL units (coarse median × f, exact
    * within one quantizer step — the property-pinned contract);
    * `quantizer` makes the resolution explicit. Shared with
    * `GraftEngine.hodgesLehmann`.
    */
  /** The shared coarse weighted diff grid behind [[hodgesLehmannCore]]
    * and [[hodgesLehmannCiCore]]: returns (grid, fRow) where grid =
    * (diff, w, wtot, cumw, nc, nt) over the auto-coarsened domain²
    * cross product and fRow carries the quantizer f. Order statistics
    * of the coarse diffs commute with the monotone floor(·/f), so any
    * rank pick off this grid is within one quantizer step of its
    * fine-grid value (the property-pinned contract).
    */
  private[graft] def hlDiffGrid(
      cells: DataFrame): (DataFrame, DataFrame) = {
    val W = Window.orderBy("diff")
    val cc0 = cells.ckpt() // quantizer + regroup branches
    val fRow = cc0.agg((max("x") - min("x") + lit(1L)).as("m"))
      .select(when(col("m") > 100000L,
        pow(lit(10.0), ceil(log10(col("m").cast("double") / 100000.0)))
          .cast("long")).otherwise(1L).as("f"))
    val coarse = cc0.crossJoin(broadcast(fRow))
      .withColumn("xq", floor(col("x").cast("double")
        / col("f").cast("double")).cast("long"))
      .groupBy("xq")
      .agg(sum("cc").as("cc"), sum("ct").as("ct"))
      .ckpt() // both sides of the cross join + the group sizes
    val sizes = coarse.agg(sum("cc").as("nc"), sum("ct").as("nt"))
    val t = coarse.select(col("xq").as("xt"), col("ct"))
      .filter(col("ct") > 0)
    val c = coarse.select(col("xq").as("xc"), col("cc"))
      .filter(col("cc") > 0)
    val grid = t.crossJoin(broadcast(c))
      .select((col("xt") - col("xc")).as("diff"),
        (col("ct") * col("cc")).as("w"))
      .groupBy("diff").agg(sum("w").as("w"))
      .withColumn("wtot", sum("w").over(Window.partitionBy()))
      .withColumn("cumw", sum("w").over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(sizes))
    (grid, fRow)
  }

  private[graft] def hodgesLehmannCore(cells: DataFrame): DataFrame = {
    val (grid, fRow) = hlDiffGrid(cells)
    grid
      .filter(col("cumw") * 2 >= col("wtot") + 1)
      .agg(max("wtot").as("n_pairs"), min("diff").as("hl_q"))
      .crossJoin(broadcast(fRow))
      .select(col("n_pairs"), (col("hl_q") * col("f")).as("hl_shift"),
        col("f").as("quantizer"))
  }

  /** Moses rank-based 95 % CI for the Hodges-Lehmann shift (see
    * `agg_hodges_lehmann_ci`): over the same weighted diff grid, the
    * bounds are the k-th and (N+1−k)-th order statistics of the
    * N = n_c·n_t pairwise differences with
    * k = max(1, ⌊N/2 − 1.959964·√(n_c·n_t·(n_c+n_t+1)/12)⌋) — the
    * normal-approximation rank inversion (ties make it mildly
    * conservative, documented). The only float is the engine-
    * identical IEEE sqrt; rank picks are conditional min/max over
    * the cumulative weights. Bounds are reported in original units
    * (×f) — order statistics commute with the monotone coarsening,
    * so each bound is within one quantizer step of the fine value.
    * Shared with `GraftEngine.hodgesLehmannCi`.
    */
  private[graft] def hodgesLehmannCiCore(cells: DataFrame): DataFrame = {
    val (grid, fRow) = hlDiffGrid(cells)
    grid
      .withColumn("k_lo", greatest(lit(1L),
        floor(col("wtot").cast("double") / 2.0
          - lit(1.959964) * sqrt(col("nc").cast("double")
            * col("nt").cast("double")
            * (col("nc") + col("nt") + lit(1L)).cast("double") / 12.0))
          .cast("long")))
      .withColumn("k_hi", col("wtot") + 1L - col("k_lo"))
      .agg(max("wtot").as("n_pairs"),
        min(when(col("cumw") * 2 >= col("wtot") + 1, col("diff")))
          .as("hl_q"),
        min(when(col("cumw") >= col("k_lo"), col("diff"))).as("lo_q"),
        min(when(col("cumw") >= col("k_hi"), col("diff"))).as("hi_q"))
      .crossJoin(broadcast(fRow))
      .select(col("n_pairs"), (col("hl_q") * col("f")).as("hl_shift"),
        (col("lo_q") * col("f")).as("ci_lo"),
        (col("hi_q") * col("f")).as("ci_hi"),
        col("f").as("quantizer"))
  }

  /** Distribution-free median CI core (see `agg_median_ci`): input
    * (seg, tie, cents) rows; per-segment median + the sign-test-
    * inversion 95 % bounds at ranks clamp([1,n], (n ∓ 1.96√n)/2 and
    * 1 + (n + 1.96√n)/2). Exact order statistics off one rangedRank;
    * the only float is the engine-identical IEEE sqrt. Shared with
    * `GraftEngine.medianCi`.
    */
  private[graft] def medianCiCore(units: DataFrame): DataFrame = {
    val ranked = graft.operators.Curation.rangedRank(
      units.select("seg", "cents", "tie"), "seg",
      Seq(col("cents"), col("tie")), "rk")
      .ckpt() // sizes + the three rank picks
    val sizes = ranked.groupBy("seg").agg(count(lit(1)).as("n_s"))
      .withColumn("r_med", expr("(n_s + 1) DIV 2"))
      .withColumn("r_lo", greatest(lit(1L),
        floor((col("n_s").cast("double") - lit(1.959964)
          * sqrt(col("n_s").cast("double"))) / 2.0).cast("long")))
      .withColumn("r_hi", least(col("n_s"),
        ceil((col("n_s").cast("double") + 1.0 + lit(1.959964)
          * sqrt(col("n_s").cast("double"))) / 2.0).cast("long")))
    ranked.join(broadcast(sizes), "seg")
      .groupBy("seg")
      .agg(max("n_s").as("n"),
        max(when(col("rk") === col("r_med"), col("cents")))
          .as("median_cents"),
        max(when(col("rk") === col("r_lo"), col("cents")))
          .as("ci_lo_cents"),
        max(when(col("rk") === col("r_hi"), col("cents")))
          .as("ci_hi_cents"))
      .orderBy("seg")
  }

  /** Per-`lang` row count n_g, exact sums sx / sxx of `x` and the
    * sample variance s2 (NULL below two rows) of (lang, x) units.
    */
  private[graft] def langVariances(units: DataFrame): DataFrame =
    units.groupBy("lang")
      .agg(count(lit(1)).as("n_g"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("s2", when(col("n_g") > 1,
        (col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")
            / col("n_g").cast("double"))
          / (col("n_g") - 1).cast("double")))

  /** Welch's ANOVA core (see `agg_welch_anova`): input (lang, x:
    * BIGINT) rows, output the 1-row (k, N, f_welch, df1, df2)
    * readout. Quantization: w in nano units (n/s²·1e9), w·m in nano,
    * the A-numerator terms w·(m−m̄_w)² in nano, the Λ terms
    * (1−w/W)²/(n−1) in pico (1e12) — each per-group term is ONE
    * mirrored expression floored before its sum. Shared with
    * `GraftEngine.welchAnova`.
    */
  private[graft] def welchAnovaCore(units: DataFrame): DataFrame = {
    val g = langVariances(units)
      .withColumn("m", when(col("n_g") > 0,
        col("sx").cast("double") / col("n_g").cast("double")))
      // Overflow guard (ADVICE r14): near-zero variance (s² ≈ 1/n_g
      // for integer data with one deviating row) drives w = n_g/s²
      // toward n_g² — w_u·1e9 and wm_u = w_u·m must stay < 2^63 or
      // the cast throws under ANSI. NULL-out BOTH nano terms past
      // 4.6e18 (< 2^62) — the group then counts as degenerate and
      // the readout degrades to NULL F per the protocol, mirroring
      // the tie-cube 2^21 guard pattern. Bound: s² ≳ n_g·1e9/2^62.
      // (the cap comparisons live INSIDE the s2 > 0 branch — &&
      // does not short-circuit, so a bare conjunction would divide
      // by a zero-variance group's s2: the definition-site rule)
      .withColumn("w_ok", when(col("s2") > 0,
        col("n_g").cast("double") / col("s2") * 1.0e9 < 4.6e18
          && abs(col("n_g").cast("double") / col("s2") * col("m")
            * 1.0e9) < 4.6e18).otherwise(false))
      .withColumn("w_u", when(col("w_ok"),
        floor(col("n_g").cast("double") / col("s2") * 1.0e9 + 0.5)
          .cast("long")))
      .withColumn("wm_u", when(col("w_ok"),
        floor(col("n_g").cast("double") / col("s2") * col("m")
          * 1.0e9 + 0.5).cast("long")))
      .ckpt() // scalar totals + the per-group terms
    val tot = g.agg(count(lit(1)).as("k_groups"),
      sum("n_g").as("n_total"),
      sum(when(col("w_u").isNull, 1L).otherwise(0L))
        .as("n_degenerate"),
      sum("w_u").as("w_sum_u"), sum("wm_u").as("wm_sum_u"))
    g.crossJoin(broadcast(tot))
      .withColumn("mw", when(col("n_degenerate") === 0
          && col("w_sum_u") > 0,
        col("wm_sum_u").cast("double") / col("w_sum_u").cast("double")))
      .withColumn("num_u", when(col("mw").isNotNull,
        floor(col("w_u").cast("double") * (col("m") - col("mw"))
          * (col("m") - col("mw")) + 0.5).cast("long")))
      .withColumn("lam_u", when(col("mw").isNotNull,
        floor((lit(1.0) - col("w_u").cast("double")
            / col("w_sum_u").cast("double"))
          * (lit(1.0) - col("w_u").cast("double")
            / col("w_sum_u").cast("double"))
          / (col("n_g") - 1).cast("double") * 1.0e12 + 0.5)
          .cast("long")))
      .groupBy("k_groups", "n_total", "n_degenerate")
      .agg(sum("num_u").as("num_sum_u"), sum("lam_u").as("lam_sum_u"))
      .withColumn("df1", col("k_groups") - 1)
      .withColumn("s_l", when(col("n_degenerate") === 0,
        col("lam_sum_u").cast("double") / 1.0e12))
      .withColumn("f_welch", when(col("s_l").isNotNull
          && col("k_groups") > 1,
        r4((col("num_sum_u").cast("double") / 1.0e9
            / (col("k_groups") - 1).cast("double"))
          / (lit(1.0) + lit(2.0) * (col("k_groups") - 2).cast("double")
            / (col("k_groups") * col("k_groups") - 1).cast("double")
            * col("s_l")))))
      .withColumn("df2", when(col("s_l") > 0 && col("k_groups") > 1,
        r4((col("k_groups") * col("k_groups") - 1).cast("double")
          / (lit(3.0) * col("s_l")))))
      .select("k_groups", "n_total", "df1", "f_welch", "df2")
  }

  /** Two-regressor logistic IRLS core (see `agg_logistic_irls`):
    * input (y: 0/1, x1, x2: BIGINT) rows, output the 1-row fitted
    * readout. Three unrolled Newton/IRLS rounds from β = 0 (the
    * `events_cox_ph` scalar-chain recipe): per round, η = b0 + b1x1
    * + b2x2 is an EXACT micro BIGINT, the sigmoid is the round's one
    * per-row transcendental quantized to micro at its definition
    * site (p_u; saturation 0/1e6 contributes zero weight — no
    * clamp needed), the six X'WX and three X'(y−p) sufficient stats
    * are per-row micro-floored mirrored expressions (residual terms
    * (y·1e6 − p_u)·x are exact integers), and the 3×3 Newton step is
    * Cramer's rule assembled once on the 1-row readout in mirrored
    * IEEE order, each δ component floored back to micro. det = 0
    * (collinear / degenerate) zeroes the okl flag ⇒ NULL readout.
    * Bounds: per-row W terms ≤ 0.25·x²·1e6 ⇒ with |x| ≤ 1e4 the
    * sums hold to ~3.7e6 rows per 2^63 decade — standardize larger
    * features first (documented). Four passes over the
    * localCheckpointed units. Shared with `GraftEngine.logisticIrls`.
    */
  private[graft] def logisticIrlsCore(units0: DataFrame): DataFrame = {
    val units = units0
      .select(col("y").cast("long").as("y"),
        col("x1").cast("long").as("x1"), col("x2").cast("long").as("x2"))
      .ckpt() // 3 IRLS rounds + the readout
    def pd: Column = col("p_u").cast("double") / 1000000.0
    def wErr: Column = col("y") * lit(1000000L) - col("p_u")
    def withP(df: DataFrame): DataFrame = df
      .withColumn("eta_u", col("b0")
        + col("b1") * col("x1") + col("b2") * col("x2"))
      .withColumn("p_u", floor(lit(1.0)
        / (lit(1.0) + exp(-col("eta_u").cast("double") / 1000000.0))
        * 1000000 + 0.5).cast("long"))
    def newton(prev: DataFrame): DataFrame = {
      val s = withP(units.crossJoin(broadcast(prev)))
        .agg(max("b0").as("pb0"), max("b1").as("pb1"),
          max("b2").as("pb2"), max("okl").as("ok_prev"),
          sum(floor(pd * (lit(1.0) - pd) * 1000000 + 0.5).cast("long"))
            .as("sw"),
          sum(floor(pd * (lit(1.0) - pd) * col("x1").cast("double")
            * 1000000 + 0.5).cast("long")).as("sw1"),
          sum(floor(pd * (lit(1.0) - pd) * col("x2").cast("double")
            * 1000000 + 0.5).cast("long")).as("sw2"),
          sum(floor(pd * (lit(1.0) - pd) * col("x1").cast("double")
            * col("x1").cast("double") * 1000000 + 0.5).cast("long"))
            .as("sw11"),
          sum(floor(pd * (lit(1.0) - pd) * col("x1").cast("double")
            * col("x2").cast("double") * 1000000 + 0.5).cast("long"))
            .as("sw12"),
          sum(floor(pd * (lit(1.0) - pd) * col("x2").cast("double")
            * col("x2").cast("double") * 1000000 + 0.5).cast("long"))
            .as("sw22"),
          sum(wErr).as("r0"), sum(wErr * col("x1")).as("r1"),
          sum(wErr * col("x2")).as("r2"))
        .withColumn("a11", col("sw").cast("double"))
        .withColumn("a12", col("sw1").cast("double"))
        .withColumn("a13", col("sw2").cast("double"))
        .withColumn("a22", col("sw11").cast("double"))
        .withColumn("a23", col("sw12").cast("double"))
        .withColumn("a33", col("sw22").cast("double"))
        .withColumn("q0", col("r0").cast("double"))
        .withColumn("q1", col("r1").cast("double"))
        .withColumn("q2", col("r2").cast("double"))
        .withColumn("det",
          col("a11") * (col("a22") * col("a33") - col("a23") * col("a23"))
            - col("a12") * (col("a12") * col("a33")
              - col("a23") * col("a13"))
            + col("a13") * (col("a12") * col("a23")
              - col("a22") * col("a13")))
        .withColumn("d0",
          col("q0") * (col("a22") * col("a33") - col("a23") * col("a23"))
            - col("a12") * (col("q1") * col("a33")
              - col("a23") * col("q2"))
            + col("a13") * (col("q1") * col("a23")
              - col("a22") * col("q2")))
        .withColumn("d1",
          col("a11") * (col("q1") * col("a33") - col("a23") * col("q2"))
            - col("q0") * (col("a12") * col("a33")
              - col("a23") * col("a13"))
            + col("a13") * (col("a12") * col("q2")
              - col("q1") * col("a13")))
        .withColumn("d2",
          col("a11") * (col("a22") * col("q2") - col("q1") * col("a23"))
            - col("a12") * (col("a12") * col("q2")
              - col("q1") * col("a13"))
            + col("q0") * (col("a12") * col("a23")
              - col("a22") * col("a13")))
      // each step is clamped to +/-30 natural units: a near-singular
      // (but nonzero) det would otherwise step beta so far that the
      // next round's exact BIGINT eta overflows. 30 >> any real
      // logistic coefficient on sanely-scaled features; mirrored.
      s.select(
        (col("pb0") + when(col("det") =!= 0.0,
          least(greatest(floor(col("d0") / col("det") * 1000000 + 0.5)
            .cast("long"), lit(-30000000L)), lit(30000000L)))
          .otherwise(0L)).as("b0"),
        (col("pb1") + when(col("det") =!= 0.0,
          least(greatest(floor(col("d1") / col("det") * 1000000 + 0.5)
            .cast("long"), lit(-30000000L)), lit(30000000L)))
          .otherwise(0L)).as("b1"),
        (col("pb2") + when(col("det") =!= 0.0,
          least(greatest(floor(col("d2") / col("det") * 1000000 + 0.5)
            .cast("long"), lit(-30000000L)), lit(30000000L)))
          .otherwise(0L)).as("b2"),
        when(col("det") =!= 0.0, col("ok_prev")).otherwise(0L).as("okl"))
    }
    val seed = units0.sparkSession.range(1)
      .select(lit(0L).as("b0"), lit(0L).as("b1"), lit(0L).as("b2"),
        lit(1L).as("okl"))
    // MEASURED AND REJECTED (r19.2): 1-row ckpt fences between the
    // rounds (hoping to shrink per-broadcast-build planning) — jobs
    // unchanged (10), wall 0.68-1.02 -> 0.82-1.13 s, sum-job-ms
    // 151-197 -> 199-230. The nested scalar chain is the floor.
    val s3 = newton(newton(newton(seed)))
    withP(units.crossJoin(broadcast(s3)))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        max("b0").as("b0"), max("b1").as("b1"), max("b2").as("b2"),
        max("okl").as("okl"),
        // (y·1e6 − p_u)² ≤ 1e12 < 2^53 — the double square is exact,
        // and the µ-floored per-row term keeps the sum in 2^63 to
        // ~9e12 rows (summing raw squares would cap at 9e6)
        sum(floor(wErr.cast("double") * wErr.cast("double")
          / 1000000.0).cast("long")).as("sse_u"))
      .withColumn("ok", col("okl") === 1 && col("n") > 0)
      .withColumn("beta0",
        when(col("ok"), r4(col("b0").cast("double") / 1000000.0)))
      .withColumn("beta1",
        when(col("ok"), r4(col("b1").cast("double") / 1000000.0)))
      .withColumn("beta2",
        when(col("ok"), r4(col("b2").cast("double") / 1000000.0)))
      .withColumn("brier", when(col("ok"),
        r4(col("sse_u").cast("double") / 1.0e6
          / col("n").cast("double"))))
      .select("n", "n_pos", "beta0", "beta1", "beta2", "brier")
  }

  /** The intercept-only seed of the one-regressor log-link GLM cores:
    * b0 = ln(ȳ) quantized to micro once (0 when Σy = 0), b1 = 0,
    * okl = 1.
    */
  private def logMeanSeed(units: DataFrame): DataFrame = units
    .agg(coalesce(sum("y"), lit(0L)).as("sy"), count(lit(1)).as("nn"))
    .select(when(col("sy") > 0,
      floor(log(col("sy").cast("double") / col("nn").cast("double"))
        * 1000000 + 0.5).cast("long")).otherwise(0L).as("b0"),
      lit(0L).as("b1"), lit(1L).as("okl"))

  /** Cramer's rule on one round's 2×2 IRLS system: the information
    * matrix ((w, wx), (wx, wxx)) from the integer sums named `w`,
    * `wx`, `wxx`, the score (r0, r1); adds `det`, `d0` and `d1`.
    */
  private def solve2(s: DataFrame, w: String, wx: String, wxx: String): DataFrame = s
    .withColumn("a11", col(w).cast("double"))
    .withColumn("a12", col(wx).cast("double"))
    .withColumn("a22", col(wxx).cast("double"))
    .withColumn("q0", col("r0").cast("double"))
    .withColumn("q1", col("r1").cast("double"))
    .withColumn("det", col("a11") * col("a22") - col("a12") * col("a12"))
    .withColumn("d0", col("q0") * col("a22") - col("a12") * col("q1"))
    .withColumn("d1", col("a11") * col("q1") - col("a12") * col("q0"))

  /** One round's new scalars: b0 and b1 move by the micro steps `u0`
    * and `u1`, each floored and clamped to ±30e6 (the IRLS guard);
    * det = 0 moves neither and zeroes okl.
    */
  private def newtonStep2(s: DataFrame): DataFrame = {
    def step(u: String): Column =
      when(col("det") =!= 0.0, least(greatest(
        floor(col(u) + 0.5).cast("long"),
        lit(-30000000L)), lit(30000000L))).otherwise(0L)
    s.select(
      (col("pb0") + step("u0")).as("b0"),
      (col("pb1") + step("u1")).as("b1"),
      when(col("det") =!= 0.0, col("ok_prev")).otherwise(0L).as("okl"))
  }

  /** The 1-row readout of a one-regressor log-link GLM over the rows
    * scored at the final betas: n, Σy, the betas and the rate ratio
    * e^β1 (NULL unless every round kept a nonsingular step), and the
    * dispersion from the per-row micro Pearson terms `pearson`.
    */
  private def logLinkReadout(scored: DataFrame, pearson: Column): DataFrame =
    scored
      .agg(count(lit(1)).as("n"), sum("y").as("sum_y"),
        max("b0").as("b0"), max("b1").as("b1"), max("okl").as("okl"),
        sum(pearson).as("pchi_u"))
    .withColumn("ok", col("okl") === 1 && col("n") > 0)
    .withColumn("beta0",
      when(col("ok"), r4(col("b0").cast("double") / 1000000.0)))
    .withColumn("beta1",
      when(col("ok"), r4(col("b1").cast("double") / 1000000.0)))
    .withColumn("rate_ratio", when(col("ok"),
      r4(exp(least(greatest(col("b1").cast("double") / 1000000.0,
        lit(-13.0)), lit(13.0))))))
    .withColumn("dispersion", when(col("ok") && col("n") > 2,
      r4(col("pchi_u").cast("double") / 1.0e6
        / (col("n") - 2).cast("double"))))

  /** One-regressor Poisson GLM core (see `agg_poisson_glm`): input
    * (y: count, x: BIGINT) rows, output the 1-row fitted readout
    * (log link, canonical). Three unrolled Newton/IRLS rounds on the
    * [[logisticIrlsCore]] scalar-chain recipe, SEEDED at the
    * intercept-only MLE b0 = ln(ȳ) (micro-quantized once) — from
    * β = 0 the first Poisson step overshoots by ~ȳ and three rounds
    * cannot walk back; from the mean seed Newton is in its quadratic
    * regime. Per round η = b0 + b1·x is an exact micro BIGINT; μ_u =
    * floor(e^clamp(η,±13)·1e6 + 0.5) is the round's ONE per-row
    * transcendental (the Cox rail); because W = μ for the canonical
    * log link, ALL sufficient stats are exact integer products of
    * mu_u (no per-row float floors): X'WX = (Σμ, Σμx, Σμx²),
    * X'(y−μ) = (Σ(y·1e6−μ_u), Σ(y·1e6−μ_u)x). The 2×2 Cramer step is
    * assembled once on the 1-row readout in mirrored IEEE order,
    * each component floored to micro and clamped ±30e6 (the IRLS
    * guard); det = 0 zeroes okl ⇒ NULL readout. Emits betas, the
    * rate ratio e^β1, and the Pearson dispersion X²/(n−2) — the
    * in-sample overdispersion readout `ts_poisson_dispersion`
    * detects marginally. Bounds: Σμ_u·x² < 2^63 needs μ̄·x² rows
    * < 9e12 (μ̄ in natural units, e.g. μ̄ = 20, |x| ≤ 1e3 ⇒ ~4.6e8
    * rows) — standardize larger features first (the logistic
    * protocol); the η = +13 rail bounds μ_u at 4.4e11 on pathological
    * intermediate rounds. Four passes over the localCheckpointed
    * units. Shared with `GraftEngine.poissonGlm`.
    */
  private[graft] def poissonIrlsCore(units0: DataFrame): DataFrame = {
    val units = units0
      .select(col("y").cast("long").as("y"), col("x").cast("long").as("x"))
      .ckpt() // seed + 3 IRLS rounds + the readout
    def we: Column = col("y") * lit(1000000L) - col("mu_u")
    def withMu(df: DataFrame): DataFrame = df
      .withColumn("eta_u", col("b0") + col("b1") * col("x"))
      .withColumn("mu_u", floor(exp(least(greatest(
        col("eta_u").cast("double") / 1000000.0, lit(-13.0)), lit(13.0)))
        * 1000000 + 0.5).cast("long"))
    def newton(prev: DataFrame): DataFrame =
      newtonStep2(solve2(withMu(units.crossJoin(broadcast(prev)))
        .agg(max("b0").as("pb0"), max("b1").as("pb1"),
          max("okl").as("ok_prev"),
          sum("mu_u").as("sw"), sum(col("mu_u") * col("x")).as("sw1"),
          sum(col("mu_u") * col("x") * col("x")).as("sw11"),
          sum(we).as("r0"), sum(we * col("x")).as("r1")), "sw", "sw1", "sw11")
        .withColumn("u0", col("d0") / col("det") * 1000000)
        .withColumn("u1", col("d1") / col("det") * 1000000))
    val s3 = newton(newton(newton(logMeanSeed(units))))
    // per-row Pearson term (y·1e6−μ_u)²/μ_u is ALREADY in micro
    // units ((Δ·1e6)²/(μ·1e6) = 1e6·Δ²/μ); mu_u ≥ 2 (the −13
    // rail) ⇒ no x/0 site. we² can pass 2^53 — the double
    // product is the same IEEE value in both engines (mirrored
    // op order), which is all the readout needs.
    logLinkReadout(withMu(units.crossJoin(broadcast(s3))),
        floor(we.cast("double") * we.cast("double")
          / col("mu_u").cast("double") + 0.5).cast("long"))
      .select("n", "sum_y", "beta0", "beta1", "rate_ratio", "dispersion")
  }

  /** One-regressor Gamma GLM core, log link (see `agg_gamma_glm`,
    * VERDICT r16 #5): input (y: POSITIVE integer cents, x: BIGINT)
    * rows, output the 1-row fitted readout — the revenue-per-user
    * model for positive skewed continuous spend that Poisson/NB
    * (counts) cannot fit. The unrolled-IRLS recipe transfers from
    * [[poissonIrlsCore]] with ONE structural simplification: for the
    * Gamma variance V(μ) = μ² under the log link the working weights
    * are IDENTICALLY 1 (w = (dμ/dη)²/V = μ²/μ² = 1), so X'X =
    * (n, Σx, Σx²) is a CONSTANT exact-integer matrix across rounds
    * and only the score vector moves: z = (y−μ)/μ per row, quantized
    * to micro at its definition site (the ratio of the two exact
    * BIGINTs y·1e6 and μ_u) and CLAMPED ±1e9 (relative residual
    * ≤ 1000× — a low-rail μ under a large y would otherwise push
    * z·x past 2^63; bound: n·|x|·1e9 < 2^63 ⇒ n·x̄ < 9e9).
    * η clamps asymmetric (−13, +20): the low rail keeps μ_u ≥ 2 (no
    * x/0 site), the high rail admits cent-scale means (ln of a
    * ~$5k-cents mean ≈ 13.1 — the Poisson ±13 rail would saturate).
    * Step = Cramer on the constant X'X, floor(d/det + 0.5) (the
    * score is already micro — unlike Poisson's natural-unit system),
    * clamped ±30e6; det = 0 zeroes okl ⇒ NULL readout. Emits betas,
    * e^β1 per-click spend ratio, the Pearson dispersion X²/(n−2)
    * (≈ 1/shape for a true Gamma) and the MoM shape 1/dispersion.
    * Seeded at b0 = ln(ȳ) (the Poisson lesson: from β = 0 three
    * rounds cannot walk back). Four passes over the checkpointed
    * units. Shared with `GraftEngine.gammaGlm`.
    */
  private[graft] def gammaIrlsCore(units0: DataFrame): DataFrame = {
    val units = units0
      .select(col("y").cast("long").as("y"), col("x").cast("long").as("x"))
      .filter(col("y") > 0)
      .ckpt() // seed + 3 IRLS rounds + the readout
    def withZ(df: DataFrame): DataFrame = df
      .withColumn("eta_u", col("b0") + col("b1") * col("x"))
      .withColumn("mu_u", floor(exp(least(greatest(
        col("eta_u").cast("double") / 1000000.0, lit(-13.0)), lit(20.0)))
        * 1000000 + 0.5).cast("long"))
      .withColumn("z_u", least(greatest(
        floor((col("y") * lit(1000000L) - col("mu_u")).cast("double")
          / col("mu_u").cast("double") * 1000000 + 0.5).cast("long"),
        lit(-1000000000L)), lit(1000000000L)))
    // the score is already micro, so the step is d/det unscaled
    def newton(prev: DataFrame): DataFrame =
      newtonStep2(solve2(withZ(units.crossJoin(broadcast(prev)))
        .agg(max("b0").as("pb0"), max("b1").as("pb1"),
          max("okl").as("ok_prev"),
          count(lit(1)).as("nn"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"),
          sum("z_u").as("r0"), sum(col("z_u") * col("x")).as("r1")),
        "nn", "sx", "sxx")
        .withColumn("u0", col("d0") / col("det"))
        .withColumn("u1", col("d1") / col("det")))
    val s3 = newton(newton(newton(logMeanSeed(units))))
    // Pearson term ((y−μ)/μ)² = (z_u/1e6)²; ×1e6 ⇒ micro units
    logLinkReadout(withZ(units.crossJoin(broadcast(s3))),
        floor(col("z_u").cast("double") * col("z_u").cast("double")
          / 1000000.0 + 0.5).cast("long"))
      .withColumn("shape_hat", when(col("ok") && col("n") > 2
          && col("pchi_u") > 0,
        r4((col("n") - 2).cast("double") * 1.0e6
          / col("pchi_u").cast("double"))))
      .select("n", "sum_y", "beta0", "beta1", "rate_ratio",
        "dispersion", "shape_hat")
  }

  /** One-covariate ANCOVA core (see `agg_ancova`): input (g, y, x)
    * rows, output per-group adjusted means under the pooled
    * within-group slope — "do the groups differ AFTER adjusting for
    * the covariate", the question raw group means can't answer when
    * the covariate is unbalanced across groups. All within-group
    * centered moments are exact BIGINTs (cxy_g = n·Σxy − ΣxΣy;
    * bound n·Σ|xy| < 2^63 — ~9e3 groups-rows at raw scale 1e3·1e3·
    * 1e9, standardize larger features first, the GLM protocol);
    * Sxy_g = cxy_g/n_g is micro-quantized at its group row
    * (negative-safe IEEE floor — covariances CAN be negative), the
    * pooled slope ΣSxy_u/ΣSxx_u is ONE readout division, and the
    * adjusted mean ȳ_g − b_w·(x̄_g − x̄) assembles in mirrored
    * doubles. Zero pooled covariate variance ⇒ NULL slope and
    * adjusted ≡ raw semantics read through the NULL (DegenerateSpec).
    * Shared with `GraftEngine.ancova`.
    */
  private[graft] def ancovaCore(units: DataFrame): DataFrame = {
    val g = units.groupBy("g")
      .agg(count(lit(1)).as("n_g"), sum("y").as("sy"),
        sum("x").as("sx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("sxy_u", floor(
        (col("n_g") * col("sxy") - col("sx") * col("sy")).cast("double")
          / col("n_g").cast("double") * 1000000 + 0.5).cast("long"))
      .withColumn("sxx_u", floor(
        (col("n_g") * col("sxx") - col("sx") * col("sx")).cast("double")
          / col("n_g").cast("double") * 1000000 + 0.5).cast("long"))
    val tot = g.agg(sum("n_g").as("nn"), sum("sx").as("sx_all"),
      sum("sxy_u").as("ssxy_u"), sum("sxx_u").as("ssxx_u"))
    g.crossJoin(broadcast(tot))
      .withColumn("slope", when(col("ssxx_u") > 0,
        col("ssxy_u").cast("double") / col("ssxx_u").cast("double")))
      .select(col("g"), col("n_g"),
        r4(col("sy").cast("double") / col("n_g").cast("double"))
          .as("mean_y"),
        r4(col("sx").cast("double") / col("n_g").cast("double"))
          .as("mean_x"),
        when(col("slope").isNotNull, r4(col("slope")))
          .as("slope_within"),
        when(col("slope").isNotNull, r4(
          col("sy").cast("double") / col("n_g").cast("double")
            - col("slope")
              * (col("sx").cast("double") / col("n_g").cast("double")
                - col("sx_all").cast("double") / col("nn").cast("double"))))
          .as("adj_mean_y"))
      .orderBy("g")
  }

  /** Partial-correlation core (see `agg_partial_corr`): input
    * (flag, x, y, z) rows, output per-flag corr(x,y) and
    * corr(x,y | z). Shared with `GraftEngine.partialCorr`.
    */
  private[graft] def partialCorrCore(units: DataFrame): DataFrame =
    units.groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("z") * col("z")).as("szz"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("z")).as("sxz"),
          sum(col("y") * col("z")).as("syz"))
        .withColumn("cxx", col("n").cast("double")
          * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
        .withColumn("cyy", col("n").cast("double")
          * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double"))
        .withColumn("czz", col("n").cast("double")
          * col("szz").cast("double")
          - col("sz").cast("double") * col("sz").cast("double"))
        .withColumn("cxy", col("n").cast("double")
          * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        .withColumn("cxz", col("n").cast("double")
          * col("sxz").cast("double")
          - col("sx").cast("double") * col("sz").cast("double"))
        .withColumn("cyz", col("n").cast("double")
          * col("syz").cast("double")
          - col("sy").cast("double") * col("sz").cast("double"))
        .withColumn("rxy", when(col("cxx") > 0 && col("cyy") > 0,
          col("cxy") / sqrt(col("cxx") * col("cyy"))))
        .withColumn("rxz", when(col("cxx") > 0 && col("czz") > 0,
          col("cxz") / sqrt(col("cxx") * col("czz"))))
        .withColumn("ryz", when(col("cyy") > 0 && col("czz") > 0,
          col("cyz") / sqrt(col("cyy") * col("czz"))))
        .withColumn("pden", when(col("rxz").isNotNull
            && col("ryz").isNotNull,
          (lit(1.0) - col("rxz") * col("rxz"))
            * (lit(1.0) - col("ryz") * col("ryz"))))
        .withColumn("partial", when(col("rxy").isNotNull
            && col("pden") > 0,
          (col("rxy") - col("rxz") * col("ryz")) / sqrt(col("pden"))))
        .select(col("flag"), col("n"), r4(col("rxy")).as("corr_xy"),
          r4(col("partial")).as("partial_xy_given_z"))
        .orderBy("flag")

  /** Cronbach's alpha core (see `agg_cronbach_alpha`): input a
    * subject-wide frame with the k item columns, output the 1-row
    * (n_users, k_items, sum_item_var, total_var, alpha) readout.
    * Item variances sum in the FIXED order of `items` in one
    * mirrored expression. Shared with `GraftEngine.cronbachAlpha`.
    */
  private[graft] def cronbachAlphaCore(wide: DataFrame,
                                       items: Seq[String]): DataFrame = {
    val k = items.size
    val pu = wide.withColumn("tot", items.map(col).reduce(_ + _))
    val aggs = (count(lit(1)).as("n") +:
      items.flatMap(t => Seq(sum(col(t)).as(s"s_$t"),
        sum(col(t) * col(t)).as(s"ss_$t")))) ++
      Seq(sum("tot").as("s_tot"),
        sum(col("tot") * col("tot")).as("ss_tot"))
    def v(sc: String, ssc: String): Column =
      ((col("n").cast("double") * col(ssc).cast("double")
        - col(sc).cast("double") * col(sc).cast("double"))
        / (col("n").cast("double") * (col("n") - 1).cast("double")))
    pu.agg(aggs.head, aggs.tail: _*)
      .withColumn("v_items", when(col("n") > 1,
        items.map(t => v(s"s_$t", s"ss_$t")).reduce(_ + _)))
      .withColumn("v_total", when(col("n") > 1,
        v("s_tot", "ss_tot")))
      .withColumn("alpha", when(col("v_total") > 0,
        r4(lit(k.toDouble) / (k - 1).toDouble
          * (lit(1.0) - col("v_items") / col("v_total")))))
      .select(col("n").as("n_users"), lit(k.toLong).as("k_items"),
        r4(col("v_items")).as("sum_item_var"),
        r4(col("v_total")).as("total_var"), col("alpha"))
  }

  /** Decision-stump core (see `agg_decision_stump`): input (y: 0/1,
    * x: BIGINT) rows; candidate cuts on the x-DISTINCT cell grid,
    * one cumulative window, per-cut information gain as ONE mirrored
    * guarded-p·ln(p) expression micro-nat-quantized for the argmax
    * (ig_u is the sort key — float argmax flips across engines);
    * TakeOrderedAndProject winner. Empty input ⇒ 0 rows. Shared
    * with `GraftEngine.decisionStump`.
    */
  private[graft] def decisionStumpCore(units: DataFrame): DataFrame = {
    val W = Window.orderBy("x")
    def h(a: Column, b: Column): Column = {
      val s = (a + b).cast("double")
      (when(a > 0, -(a.cast("double") / s) * log(a.cast("double") / s))
        .otherwise(0.0)
        + when(b > 0, -(b.cast("double") / s)
          * log(b.cast("double") / s)).otherwise(0.0))
    }
    val cells = units.groupBy("x")
      .agg(sum("y").as("pos"), sum(lit(1L) - col("y")).as("neg"))
      .ckpt() // totals + the cut grid
    val tot = cells.agg(sum("pos").as("tp"), sum("neg").as("tn"))
    cells
      .withColumn("pos_le", sum("pos").over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("neg_le", sum("neg").over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .withColumn("n", col("tp") + col("tn"))
      .filter(col("pos_le") + col("neg_le") < col("n"))
      .withColumn("pos_gt", col("tp") - col("pos_le"))
      .withColumn("neg_gt", col("tn") - col("neg_le"))
      .withColumn("s_le", col("pos_le") + col("neg_le"))
      .withColumn("s_gt", col("pos_gt") + col("neg_gt"))
      .withColumn("ig", h(col("tp"), col("tn"))
        - (col("s_le").cast("double") / col("n").cast("double")
            * h(col("pos_le"), col("neg_le"))
          + col("s_gt").cast("double") / col("n").cast("double")
            * h(col("pos_gt"), col("neg_gt"))))
      .withColumn("ig_u", floor(col("ig") * 1000000 + 0.5).cast("long"))
      .orderBy(col("ig_u").desc, col("x"))
      .limit(1)
      .select(col("x").as("threshold"), col("pos_le"), col("neg_le"),
        col("pos_gt"), col("neg_gt"), col("ig_u"),
        r4(col("ig")).as("info_gain"),
        r4((greatest(col("pos_le"), col("neg_le"))
          + greatest(col("pos_gt"), col("neg_gt"))).cast("double")
          / col("n").cast("double")).as("train_accuracy"))
  }

  /** Two-way ANOVA core (see `agg_two_way_anova`): input (a, b, y:
    * BIGINT) rows, output the 1-row decomposition + three F
    * readouts. Sufficient statistics only: per-cell / per-level
    * (n, Σy) exact BIGINTs; every s²/n ratio is floored to WHOLE
    * quantized units in ONE mirrored expression before its sum
    * (the k-group protocol), and the correction term C = S²/N is
    * quantized ONCE — so the sequential decomposition
    * SS_A + SS_B + SS_AB + SS_W = SS_T holds EXACTLY in quantized
    * units by construction (SS_AB is the between-cells remainder;
    * on unbalanced designs it is the Type-I-style interaction and
    * may go slightly negative — F_AB is NULL there). Bounds:
    * Σy² < 2^63 ⇒ n ≲ 7.6e10 at |y| ≤ 1e4 (whole dollars) —
    * pre-scale y past that, documented. Shared with
    * `GraftEngine.twoWayAnova`.
    */
  private[graft] def twoWayAnovaCore(units0: DataFrame): DataFrame = {
    val units = units0.select(col("a"), col("b"),
      col("y").cast("long").as("y"))
      .ckpt() // 4 grouping passes
    def q(sCol: Column, nCol: Column): Column =
      floor(sCol.cast("double") * sCol.cast("double")
        / nCol.cast("double") + 0.5).cast("long")
    val cellAgg = units.groupBy("a", "b")
      .agg(count(lit(1)).as("n_ab"), sum("y").as("s_ab"))
      .agg(count(lit(1)).as("n_cells"),
        sum(q(col("s_ab"), col("n_ab"))).as("ssq_ab_u"))
    val aAgg = units.groupBy("a")
      .agg(count(lit(1)).as("n_a"), sum("y").as("s_a"))
      .agg(count(lit(1)).as("k_a"),
        sum(q(col("s_a"), col("n_a"))).as("ssq_a_u"))
    val bAgg = units.groupBy("b")
      .agg(count(lit(1)).as("n_b"), sum("y").as("s_b"))
      .agg(count(lit(1)).as("k_b"),
        sum(q(col("s_b"), col("n_b"))).as("ssq_b_u"))
    units.agg(count(lit(1)).as("n"), sum("y").as("s"),
        sum(col("y") * col("y")).as("syy"))
      .crossJoin(broadcast(cellAgg)).crossJoin(broadcast(aAgg))
      .crossJoin(broadcast(bAgg))
      .withColumn("c_u", when(col("n") > 0, q(col("s"), col("n"))))
      .withColumn("ss_a", col("ssq_a_u") - col("c_u"))
      .withColumn("ss_b", col("ssq_b_u") - col("c_u"))
      .withColumn("ss_ab", col("ssq_ab_u") - col("ssq_a_u")
        - col("ssq_b_u") + col("c_u"))
      .withColumn("ss_w", col("syy") - col("ssq_ab_u"))
      .withColumn("ss_t", col("syy") - col("c_u"))
      .withColumn("df_w", col("n") - col("n_cells"))
      .withColumn("msw", when(col("df_w") > 0 && col("ss_w") > 0,
        col("ss_w").cast("double") / col("df_w").cast("double")))
      .withColumn("f_a", when(col("msw").isNotNull && col("k_a") > 1,
        r4(col("ss_a").cast("double") / (col("k_a") - 1).cast("double")
          / col("msw"))))
      .withColumn("f_b", when(col("msw").isNotNull && col("k_b") > 1,
        r4(col("ss_b").cast("double") / (col("k_b") - 1).cast("double")
          / col("msw"))))
      .withColumn("f_ab", when(col("msw").isNotNull && col("k_a") > 1
          && col("k_b") > 1 && col("ss_ab") > 0,
        r4(col("ss_ab").cast("double")
          / ((col("k_a") - 1) * (col("k_b") - 1)).cast("double")
          / col("msw"))))
      .select("n", "k_a", "k_b", "n_cells", "ss_a", "ss_b", "ss_ab",
        "ss_w", "ss_t", "f_a", "f_b", "f_ab")
  }

  /** Bartlett equal-variance core (see `agg_bartlett_test`): input
    * (lang, x: BIGINT) rows, output the 1-row (k, N, df, T)
    * readout. Per-group transcendentals micro-quantized BEFORE the
    * k-row sums; pooled numerator in whole units; 1/(n−1) nano via
    * integer DIV; ln(s²_p) the single readout transcendental,
    * mirrored. Shared with `GraftEngine.bartlettTest`.
    */
  private[graft] def bartlettCore(units: DataFrame): DataFrame = {
    val g = langVariances(units)
      .withColumn("ln_s2_u", when(col("s2") > 0,
        floor(log(col("s2")) * 1000000 + 0.5).cast("long")))
      .withColumn("w_u", when(col("s2") > 0,
        floor((col("n_g") - 1).cast("double") * col("s2") + 0.5)
          .cast("long")))
      .withColumn("inv_n", when(col("n_g") > 1,
        expr("1000000000 DIV (n_g - 1)")))
    g.agg(count(lit(1)).as("k_groups"), sum("n_g").as("n_total"),
        sum(when(col("ln_s2_u").isNull, 1L).otherwise(0L))
          .as("n_degenerate"),
        sum((col("n_g") - 1) * col("ln_s2_u")).as("lnterm_u"),
        sum("w_u").as("w_sum"), sum("inv_n").as("inv_sum_n"))
      .withColumn("df", col("k_groups") - 1)
      .withColumn("s2p", when(col("n_degenerate") === 0
          && col("n_total") > col("k_groups"),
        col("w_sum").cast("double")
          / (col("n_total") - col("k_groups")).cast("double")))
      .withColumn("t_raw", when(col("s2p") > 0,
        (col("n_total") - col("k_groups")).cast("double")
          * log(col("s2p"))
          - col("lnterm_u").cast("double") / 1000000.0))
      .withColumn("c_corr", when(col("t_raw").isNotNull
          && col("k_groups") > 1,
        lit(1.0) + (col("inv_sum_n").cast("double") / 1.0e9
          - lit(1.0) / (col("n_total") - col("k_groups"))
            .cast("double"))
          / (lit(3.0) * (col("k_groups") - 1).cast("double"))))
      .withColumn("bartlett_t", when(col("c_corr").isNotNull,
        r4(col("t_raw") / col("c_corr"))))
      .select("k_groups", "n_total", "df", "bartlett_t")
  }

  /** Per-user paired before/after delta in whole units (the
    * `agg_paired_t` stage shared by the round-15 paired tests):
    * (min+max)/2 timestamp split, micro-quantized values BEFORE the
    * per-half sums, negative-safe IEEE-floor descale. One row per
    * user: (user_id, d_w).
    */
  private def pairedUserDeltas(s: SparkSession, d: String): DataFrame = {
    val ev = TestData.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("v_u", floor(col("value") * 1000000 + 0.5)
        .cast("long"))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) DIV 2").as("mid"))
    ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("ts_us") < col("mid"), col("v_u"))
          .otherwise(0L)).as("s1"),
        sum(when(col("ts_us") >= col("mid"), col("v_u"))
          .otherwise(0L)).as("s2"))
      .withColumn("d_w", floor((col("s1") - col("s2")).cast("double")
        / 1000000.0).cast("long"))
      .select("user_id", "d_w")
  }

  /** Wilcoxon signed-rank core (see `agg_wilcoxon_signed_rank`):
    * input (d_w) paired-delta rows; zeros dropped per the standard
    * procedure; midranks of |d| in 2× units over the |d|-DISTINCT
    * cell grid (r2 = 2·cum_lt + t + 1 — the doubled-midrank
    * machinery); 2W⁺ exact BIGINT (bound ~2n² < 2^63 ⇒ n ≲ 2e9);
    * tie cube guarded per cell at t < 2^21 (explicit NULL overflow
    * mode, the Mann-Whitney protocol); normal-approximation z
    * assembled once in doubles, mirrored, r4. Shared with
    * `GraftEngine.wilcoxonSignedRank`.
    */
  private[graft] def wilcoxonSignedRank(deltas: DataFrame): DataFrame = {
    val W = Window.orderBy("adev")
    val tieLim = lit(2097152L) // 2^21: t³−t < 2^63 per cell
    deltas.filter(col("d_w") =!= 0)
      .withColumn("adev", abs(col("d_w")))
      .groupBy("adev")
      .agg(sum(when(col("d_w") > 0, 1L).otherwise(0L)).as("np"),
        count(lit(1)).as("t"))
      .withColumn("cum_lt", coalesce(sum("t").over(
        W.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(sum("t").as("n_nonzero"),
        sum(col("np") * (lit(2L) * col("cum_lt") + col("t")
          + lit(1L))).as("w2_plus"),
        sum(when(col("t") < tieLim,
          col("t") * col("t") * col("t") - col("t"))).as("tie_raw"),
        max("t").as("t_max"))
      .withColumn("tie_sum",
        when(col("t_max") < tieLim, col("tie_raw")))
      .withColumn("e2", expr("n_nonzero * (n_nonzero + 1) DIV 2"))
      .withColumn("var2", when(col("n_nonzero") > 0
          && col("tie_sum").isNotNull,
        col("n_nonzero").cast("double")
          * (col("n_nonzero") + lit(1L)).cast("double")
          * (lit(2L) * col("n_nonzero") + lit(1L)).cast("double")
          / 6.0
          - col("tie_sum").cast("double") / 12.0))
      .withColumn("z_wilcoxon", when(col("var2") > 0,
        r4((col("w2_plus") - col("e2")).cast("double")
          / sqrt(col("var2")))))
      .withColumn("significant_95", when(col("z_wilcoxon").isNotNull,
        abs(col("z_wilcoxon")) > 1.959964))
      .select("n_nonzero", "w2_plus", "tie_sum", "z_wilcoxon",
        "significant_95")
  }

  /** Exact two-sided sign test core (see `agg_sign_test`): input
    * (d_w) paired-delta rows; zeros dropped; p = min(1, 2·min(P(X ≤
    * k), P(X ≥ k))) under Binomial(n, 1/2) via the Fisher ratio-
    * recursion protocol — ln C(n,j) accumulated from micro-quantized
    * steps ln((n−j+1)/j) (exact-BIGINT prefix over the j-grid),
    * exp terms nano-quantized BEFORE the tail sums, decision an
    * exact integer comparison. Arithmetic bounds: n·693147 and Σ lnC
    * steps < 2^63 to n ~ 1e12; tail sums ≤ (n+1)·1e9 ⇒ n ≲ 9e9.
    *
    * Scale shape (VERDICT r14 #1): the (n+1)-row j-grid is CORPUS-
    * sized (n = paired users), so it is generated TWO-LEVEL
    * (j = jb·2^16 + jo; the largest materialized array is
    * max(n/2^16 + 1, 2^16) elements, never one (n+1)-element row) with
    * blocks spread across tasks, and the lnC cumulative runs on
    * [[Curation.shardedPrefixSum]] — bit-identical to the monolithic
    * window (integer addition is associative; the unchanged DuckDB
    * oracle computes exactly that), but every window task holds a
    * bounded shard instead of the whole grid. Practical reach is the
    * arithmetic ~9e9-user tail-sum bound, not task memory.
    * Shared with `GraftEngine.signTestExact`.
    */
  private[graft] def signTestExact(deltas: DataFrame): DataFrame = {
    // ln2 micro-quantized once (floor(ln 2 · 1e6 + 0.5) = 693147) —
    // a literal in BOTH engines, the spectral-peak protocol.
    val ln2u = 693147L
    val B = 65536L // j-grid block width (see scaladoc)
    val grid = deltas.filter(col("d_w") =!= 0)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("d_w") > 0, 1L).otherwise(0L)), lit(0L))
          .as("k_pos"))
      .select(col("n"), col("k_pos"),
        explode(sequence(lit(0L), expr(s"n DIV ${B}L"))).as("jb"))
      // one task per block: the 1-row aggregate parent would
      // otherwise expand the WHOLE grid inside a single task
      .repartition(col("jb"))
      .select(col("n"), col("k_pos"), col("jb"),
        explode(sequence(lit(0L),
          least(lit(B - 1L), col("n") - col("jb") * lit(B)))).as("jo"))
      .withColumn("j", col("jb") * lit(B) + col("jo"))
      .withColumn("step_u", when(col("j") > 0,
        floor(log((col("n") - col("j") + lit(1L)).cast("double")
          / col("j").cast("double")) * 1000000 + 0.5).cast("long"))
        .otherwise(0L))
      .withColumn("g", lit(0))
    // docsPerShard = the j-grid block width B (ADVICE r15): shard
    // count is then n/2^16 — broadcast-sized to the ~9e9 arithmetic
    // reach (~140k offset rows), instead of the default 64 whose
    // (n+1)/64 offsets would re-create a broadcast bottleneck.
    // Bit-identical either way (integer addition is associative).
    Curation.shardedPrefixSum(grid, "g", "j", "step_u", "lnc_x",
      docsPerShard = B)
      .withColumn("lnc_u", col("lnc_x") + col("step_u"))
      .withColumn("term_n",
        floor(exp((col("lnc_u") - col("n") * lit(ln2u)).cast("double")
          / 1000000.0) * 1000000000L + 0.5).cast("long"))
      .agg(max("n").as("n_nonzero"), max("k_pos").as("k_pos"),
        sum(when(col("j") <= col("k_pos"), col("term_n"))
          .otherwise(0L)).as("p_le_nano"),
        sum(when(col("j") >= col("k_pos"), col("term_n"))
          .otherwise(0L)).as("p_ge_nano"))
      .withColumn("p_two_nano", least(lit(1000000000L),
        lit(2L) * least(col("p_le_nano"), col("p_ge_nano"))))
      .withColumn("p_two", r4(col("p_two_nano") / 1000000000.0))
      .withColumn("significant_95", col("p_two_nano") < 50000000L)
      .select("n_nonzero", "k_pos", "p_le_nano", "p_ge_nano",
        "p_two", "significant_95")
  }

  /** Cliff's delta core (see `agg_cliffs_delta`): input the
    * (x, cc, ct) value-distinct two-group cell grid, output the
    * 1-row ordinal-effect-size readout. gt/lt/tie pair counts are
    * exact BIGINTs off one cumulative window over the grid
    * (ct·cum_cc < n_c·n_t < 2^63 to ~3e9 users — the KS bound);
    * delta and the Romano magnitude band are the only readout
    * floats. Shared with `GraftEngine.cliffsDelta`.
    */
  private[graft] def cliffsDelta(cells: DataFrame): DataFrame = {
    val W = Window.orderBy("x")
    cells
      .withColumn("cum_cc_lt",
        coalesce(sum("cc").over(
          W.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(sum("cc").as("n_control"), sum("ct").as("n_treatment"),
        sum(col("ct") * col("cum_cc_lt")).as("n_gt"),
        sum(col("ct") * col("cc")).as("n_tie"))
      .withColumn("n_lt", col("n_control") * col("n_treatment")
        - col("n_gt") - col("n_tie"))
      .withColumn("delta",
        when(col("n_control") * col("n_treatment") > 0,
          TestData.r4((col("n_gt") - col("n_lt")).cast("double")
            / (col("n_control") * col("n_treatment")).cast("double"))))
      // Romano et al. bands on the r4'd delta — the quantized value
      // is what both engines band, so the boundary is engine-stable.
      .withColumn("magnitude",
        when(col("delta").isNull, lit(null).cast("string"))
          .when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large"))
      .select("n_control", "n_treatment", "n_gt", "n_tie", "n_lt",
        "delta", "magnitude")
  }

  /** Mood's median test core (see `agg_mood_median`): input the
    * (x, cc, ct) cell grid, output the 1-row 2×2 above/not-above
    * grand-median readout. The grand median is the rank-⌈(n+1)/2⌉
    * order statistic over the grid (cum_n·2 ≥ n+1; the median —
    * upper-middle on even n — deterministic and engine-identical);
    * all four cell counts are exact BIGINTs; the
    * Pearson χ² assembles once in doubles on the 1-row readout
    * (N·det² overflows BIGINT at ~5e4 users, so the float readout
    * is the spec — mirrored op order, r4). Any zero marginal ⇒
    * NULL χ² (the x/0 definition-site guard). Shared with
    * `GraftEngine.moodMedianTest`.
    */
  private[graft] def moodMedian(cells: DataFrame): DataFrame = {
    val W = Window.orderBy("x")
    val Wall = Window.partitionBy()
    cells
      .withColumn("cum_n", sum(col("cc") + col("ct")).over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cc") + col("ct")).over(Wall))
      .withColumn("m",
        min(when(col("cum_n") * 2 >= col("n") + 1, col("x"))).over(Wall))
      .agg(max("m").as("grand_median"),
        sum(when(col("x") > col("m"), col("cc")).otherwise(0L))
          .as("c_above"),
        sum(when(col("x") <= col("m"), col("cc")).otherwise(0L))
          .as("c_below"),
        sum(when(col("x") > col("m"), col("ct")).otherwise(0L))
          .as("t_above"),
        sum(when(col("x") <= col("m"), col("ct")).otherwise(0L))
          .as("t_below"))
      .withColumn("chi2",
        when((col("c_above") + col("c_below")) > 0
            && (col("t_above") + col("t_below")) > 0
            && (col("c_above") + col("t_above")) > 0
            && (col("c_below") + col("t_below")) > 0,
          TestData.r4(
            (col("c_above") + col("c_below") + col("t_above")
              + col("t_below")).cast("double")
              * (col("c_above").cast("double")
                  * col("t_below").cast("double")
                - col("c_below").cast("double")
                  * col("t_above").cast("double"))
              * (col("c_above").cast("double")
                  * col("t_below").cast("double")
                - col("c_below").cast("double")
                  * col("t_above").cast("double"))
              / ((col("c_above") + col("c_below")).cast("double")
                * (col("t_above") + col("t_below")).cast("double")
                * (col("c_above") + col("t_above")).cast("double")
                * (col("c_below") + col("t_below")).cast("double")))))
      .withColumn("reject_95",
        when(col("chi2").isNotNull, col("chi2") > 3.841459))
      .select("grand_median", "c_above", "c_below", "t_above",
        "t_below", "chi2", "reject_95")
  }

  /** Jarque-Bera normality core (see `agg_jarque_bera`): input
    * (flag, x: integer units) rows, output per-flag skewness /
    * excess kurtosis / JB with the χ²₂ 5 % verdict. Pure sufficient
    * statistics — one map-side-combining pass collects (n, Σx..Σx⁴)
    * exact BIGINTs (Σx⁴ < 2^63 needs n·max(x)⁴ < 9.2e18: fine to
    * ~1.5e12 rows at x ≤ 50, pre-scale x past that); central
    * moments and JB assemble once in doubles on the group-count
    * readout, mirrored op order, r4. m2 ≤ 0 (constant group) and
    * n = 0 read NULL at the definition site — never an ANSI throw.
    */
  private[graft] def jarqueBera(units: DataFrame): DataFrame =
    units.groupBy("flag")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      .withColumn("mean", when(col("n") > 0,
        col("s1").cast("double") / col("n").cast("double")))
      .withColumn("m2", when(col("n") > 0,
        col("s2").cast("double") / col("n").cast("double")
          - col("mean") * col("mean")))
      .withColumn("m3", when(col("n") > 0,
        col("s3").cast("double") / col("n").cast("double")
          - lit(3.0) * col("mean")
            * (col("s2").cast("double") / col("n").cast("double"))
          + lit(2.0) * col("mean") * col("mean") * col("mean")))
      .withColumn("m4", when(col("n") > 0,
        col("s4").cast("double") / col("n").cast("double")
          - lit(4.0) * col("mean")
            * (col("s3").cast("double") / col("n").cast("double"))
          + lit(6.0) * col("mean") * col("mean")
            * (col("s2").cast("double") / col("n").cast("double"))
          - lit(3.0) * col("mean") * col("mean") * col("mean")
            * col("mean")))
      .withColumn("skewness", when(col("m2") > 0,
        TestData.r4(col("m3") / (col("m2") * sqrt(col("m2"))))))
      .withColumn("kurtosis_excess", when(col("m2") > 0,
        TestData.r4(col("m4") / (col("m2") * col("m2")) - 3.0)))
      .withColumn("jb", when(col("m2") > 0,
        TestData.r4(col("n").cast("double") / 6.0
          * (col("skewness") * col("skewness")
            + col("kurtosis_excess") * col("kurtosis_excess") / 4.0))))
      .withColumn("normal_rejected_95",
        when(col("jb").isNotNull, col("jb") > 5.991465))
      .select(col("flag"), col("n"),
        when(col("mean").isNotNull, TestData.r4(col("mean")))
          .as("mean"),
        col("skewness"), col("kurtosis_excess"), col("jb"),
        col("normal_rejected_95"))
      .orderBy("flag")

  /** Per-arm sufficient statistics of the two-group value cells
    * (x, cc, ct): counts n_c / n_t and the exact sums sx_*, sxx_*.
    */
  private[graft] def twoGroupSums(cells: DataFrame): DataFrame =
    cells
      .agg(sum("cc").as("n_c"), sum("ct").as("n_t"),
        sum(col("cc") * col("x")).as("sx_c"),
        sum(col("ct") * col("x")).as("sx_t"),
        sum(col("cc") * col("x") * col("x")).as("sxx_c"),
        sum(col("ct") * col("x") * col("x")).as("sxx_t"))

  /** Per-arm means m_c / m_t over (n_*, sx_*) sums. The n = 0 guards
    * sit at the definition: Spark 4 ANSI throws on double x/0 where
    * DuckDB reads NULL, so the guard makes both engines NULL-propagate
    * identically (DegenerateSpec pins).
    */
  private[graft] def twoGroupMeans(sums: DataFrame): DataFrame =
    sums
      .withColumn("m_c", when(col("n_c") > 0,
        col("sx_c").cast("double") / col("n_c").cast("double")))
      .withColumn("m_t", when(col("n_t") > 0,
        col("sx_t").cast("double") / col("n_t").cast("double")))

  /** [[twoGroupMeans]] plus the per-arm sample variances v_c / v_t
    * (NULL below two units) over (n_*, sx_*, sxx_*) sums.
    */
  private[graft] def twoGroupVars(sums: DataFrame): DataFrame =
    twoGroupMeans(sums)
      .withColumn("v_c", when(col("n_c") > 1,
        (col("sxx_c").cast("double")
          - col("sx_c").cast("double") * col("sx_c").cast("double")
            / col("n_c").cast("double"))
          / (col("n_c") - 1).cast("double")))
      .withColumn("v_t", when(col("n_t") > 1,
        (col("sxx_t").cast("double")
          - col("sx_t").cast("double") * col("sx_t").cast("double")
            / col("n_t").cast("double"))
          / (col("n_t") - 1).cast("double")))

  /** Welch z of m_t − m_c over [[twoGroupVars]] (NULL unless both
    * variances are positive) and its two-sided p in integer micro
    * units (the Lin approximation, shared with the oracle).
    */
  private[graft] def welchZP(vars: DataFrame): DataFrame =
    vars
      .withColumn("z", when(col("v_c") > 0 && col("v_t") > 0,
        r4((col("m_t") - col("m_c"))
          / sqrt(col("v_c") / col("n_c").cast("double")
            + col("v_t") / col("n_t").cast("double")))))
      .withColumn("p_u", when(col("z").isNotNull,
        floor(least(lit(1.0), lit(2.0)
          * exp(lit(-0.717) * abs(col("z"))
            - lit(0.416) * col("z") * col("z"))) * 1000000 + 0.5)
          .cast("long")))

  /** Line-item prices in integer cents per return flag:
    * (l_returnflag, l_orderkey, l_linenumber, cents).
    */
  private[graft] def flagCents(s: SparkSession, d: String): DataFrame =
    TestData.lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))

  /** Two order statistics of [[flagCents]] per return flag: n_rows and
    * the cents at the 1-based ranks `loRank` and `hiRank` (SQL over
    * the flag's row count n), named `lo` and `hi`. Ties break on
    * (l_orderkey, l_linenumber).
    */
  private[graft] def flagCentsCuts(li: DataFrame, loRank: String, lo: String,
                                   hiRank: String, hi: String): DataFrame = {
    val W = Window.partitionBy("l_returnflag")
      .orderBy("cents", "l_orderkey", "l_linenumber")
    li.withColumn("rn", row_number().over(W))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("l_returnflag")))
      .groupBy("l_returnflag")
      .agg(max("n").as("n_rows"),
        max(when(col("rn") === expr(loRank), col("cents"))).as(lo),
        max(when(col("rn") === expr(hiRank), col("cents"))).as(hi))
  }

  /** Welch two-sample t over the two-group value cells (x, cc, ct).
    * Shared with `GraftEngine.welchT`.
    */
  private[graft] def welchTCore(cells: DataFrame): DataFrame =
    twoGroupVars(twoGroupSums(cells))
      .withColumn("se2", col("v_c") / col("n_c").cast("double")
        + col("v_t") / col("n_t").cast("double"))
      .withColumn("t_stat", when(col("v_c") > 0 && col("v_t") > 0,
        r4((col("m_t") - col("m_c")) / sqrt(col("se2")))))
      .withColumn("df_welch", when(col("v_c") > 0 && col("v_t") > 0,
        r4(col("se2") * col("se2")
          / (col("v_c") / col("n_c") * (col("v_c") / col("n_c"))
              / (col("n_c") - 1).cast("double")
            + col("v_t") / col("n_t") * (col("v_t") / col("n_t"))
              / (col("n_t") - 1).cast("double")))))
      // Empty-variant guard: n=0 means 0/0 — NaN in Spark, NULL in
      // DuckDB. NULL the mean explicitly (t/df are already NULL via
      // the v>0 guards, which are NaN-false / NULL-propagating).
      .select(col("n_c").as("n_control"), col("n_t").as("n_treatment"),
        when(col("n_c") > 0, r4(col("m_c"))).as("mean_control"),
        when(col("n_t") > 0, r4(col("m_t"))).as("mean_treatment"),
        col("t_stat"), col("df_welch"))

  /** Cohen's d and Hedges' g over the two-group value cells (x, cc, ct).
    * Shared with `GraftEngine.cohensD`.
    */
  private[graft] def cohensDCore(cells: DataFrame): DataFrame =
    twoGroupMeans(twoGroupSums(cells))
      .withColumn("ss_c", when(col("n_c") > 0,
        col("sxx_c").cast("double")
          - col("sx_c").cast("double") * col("sx_c").cast("double")
            / col("n_c").cast("double")))
      .withColumn("ss_t", when(col("n_t") > 0,
        col("sxx_t").cast("double")
          - col("sx_t").cast("double") * col("sx_t").cast("double")
            / col("n_t").cast("double")))
      .withColumn("sp2", when(col("n_c") + col("n_t") > 2,
        (col("ss_c") + col("ss_t"))
          / (col("n_c") + col("n_t") - 2).cast("double")))
      // Degenerate-split guard: one empty variant (m NaN vs NULL)
      // or N ≤ 2 (sp2 x/0 → ±Inf in Spark, NULL in DuckDB) must
      // NULL every readout — `ok` makes the failure mode explicit.
      .withColumn("ok", col("n_c") > 0 && col("n_t") > 0
        && col("n_c") + col("n_t") > 2)
      .withColumn("cohens_d", when(col("ok") && col("sp2") > 0,
        r4((col("m_t") - col("m_c")) / sqrt(col("sp2")))))
      .withColumn("hedges_g", when(col("ok") && col("sp2") > 0,
        r4((col("m_t") - col("m_c")) / sqrt(col("sp2"))
          * (lit(1.0) - lit(3.0)
            / ((col("n_c") + col("n_t")) * 4 - 9).cast("double")))))
      .select(col("n_c").as("n_control"), col("n_t").as("n_treatment"),
        when(col("ok"), r4(col("sp2"))).as("pooled_var"), col("cohens_d"),
        col("hedges_g"))

  /** Per-flag two-regressor OLS over (flag, x1, x2, y) integer units.
    * Shared with `GraftEngine.olsTwo`.
    */
  private[graft] def olsTwoCore(units: DataFrame): DataFrame =
    TimeSeries.olsTwoFit(TimeSeries.olsTwoSums(units.groupBy("flag"),
        "x1", "x2", "y"), lit(true), "b1", "b2")
      .withColumn("icept", when(col("det") =!= 0.0,
        col("sy").cast("double") / col("n").cast("double")
          - col("b1") * (col("s1").cast("double")
            / col("n").cast("double"))
          - col("b2") * (col("s2").cast("double")
            / col("n").cast("double"))))
      .withColumn("r2", when(col("det") =!= 0.0 && col("cyy") > 0,
        (col("b1") * col("cx1y") + col("b2") * col("cx2y"))
          / col("cyy")))
      .select(col("flag"), col("n"),
        r4(col("b1")).as("beta_qty"),
        r4(col("b2")).as("beta_disc"),
        r4(col("icept")).as("intercept"),
        r4(col("r2")).as("r_squared"))
      .orderBy("flag")

  /** Two-sample Kolmogorov-Smirnov D over the two-group value cells
    * (x, cc, ct). Shared with `GraftEngine.ksTest`.
    */
  private[graft] def ksTestCore(cells: DataFrame): DataFrame = {
    val W = Window.orderBy("x")
    cells
      .withColumn("cum_cc", sum("cc").over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_ct", sum("ct").over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_c", sum("cc").over(Window.partitionBy()))
      .withColumn("n_t", sum("ct").over(Window.partitionBy()))
      .agg(max("n_c").as("n_control"), max("n_t").as("n_treatment"),
        max(abs(col("cum_cc") * col("n_t") - col("cum_ct") * col("n_c")))
          .as("d_num"))
      // Empty-variant guard: n_c·n_t = 0 would be NaN in Spark but
      // NULL in DuckDB (double x/0 diverges cross-engine) — a
      // degenerate md5 split on a tiny slice must NULL, not NaN.
      .withColumn("d_stat",
        when(col("n_control") > 0 && col("n_treatment") > 0,
          r4(col("d_num").cast("double")
            / (col("n_control") * col("n_treatment")).cast("double"))))
      .withColumn("p_approx",
        when(col("n_control") > 0 && col("n_treatment") > 0,
          r4(least(lit(1.0),
            lit(2.0) * exp(lit(-2.0)
              * pow(col("d_num").cast("double")
                  / (col("n_control") * col("n_treatment"))
                    .cast("double"), 2)
              * (col("n_control") * col("n_treatment")).cast("double")
              / (col("n_control") + col("n_treatment"))
                .cast("double"))))))
      .select("n_control", "n_treatment", "d_num", "d_stat", "p_approx")
  }

  /** Mann-Whitney U over the two-group value cells (x, cc, ct).
    * Shared with `GraftEngine.mannWhitney`.
    */
  private[graft] def mannWhitneyCore(cells: DataFrame): DataFrame = {
    val W = Window.orderBy("x")
    val tieLim = lit(2097152L) // 2^21: t³−t < 2^63 per cell
    val t = col("cc") + col("ct")
    cells
      .withColumn("cum_cc_lt",
        coalesce(sum("cc").over(
          W.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(sum("cc").as("n_control"), sum("ct").as("n_treatment"),
        sum(col("ct") * (lit(2L) * col("cum_cc_lt") + col("cc")))
          .as("u2_treatment"),
        sum(when(t < tieLim, t * t * t - t)).as("tie_raw"),
        max(t).as("t_max"))
      .withColumn("tie_sum", when(col("t_max") < tieLim, col("tie_raw")))
      // N ≤ 1 ⇒ tie correction divides by N(N−1) = 0 — an ANSI
      // throw in Spark 4, NULL in DuckDB; guard to NULL (⇒ z NULL).
      .withColumn("var_u",
        when(col("n_control") + col("n_treatment") > 1,
          (col("n_control") * col("n_treatment")).cast("double")
            * ((col("n_control") + col("n_treatment") + 1).cast("double")
              - col("tie_sum").cast("double")
                / ((col("n_control") + col("n_treatment"))
                  * (col("n_control") + col("n_treatment") - 1))
                  .cast("double"))
            / 12.0))
      .withColumn("z", when(col("var_u") > 0, r4(
        ((col("u2_treatment") - col("n_control") * col("n_treatment"))
          .cast("double") / 2.0) / sqrt(col("var_u")))))
      .select("n_control", "n_treatment", "u2_treatment", "tie_sum", "z")
  }

  /** Label-permutation test over per-unit (x, t, h28) rows (t = 1 is the
    * treatment arm, h28 the unit's 28-bit hash) and `b` hash-seeded
    * replicates. Shared with `GraftEngine.permutationTest`.
    */
  private[graft] def permutationTestCore(pu: DataFrame, b: Int): DataFrame = {
    val obs = pu.agg(
      sum(when(col("t") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("t") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("t") === 0, col("x")).otherwise(0L)).as("s0"),
      sum(when(col("t") === 1, col("x")).otherwise(0L)).as("s1"))
    val reps = pu.select(col("x"), col("h28"),
        explode(lit((0 until b).toArray)).as("b"))
      .withColumn("arm",
        ((col("h28") * (lit(2654435761L) + col("b") * lit(96542L)))
          % 268435456L) % 2)
      .groupBy("b")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nb0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb1"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sb0"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sb1"))
      .filter(col("nb0") > 0 && col("nb1") > 0)
    reps.crossJoin(broadcast(obs))
      .withColumn("ge",
        (abs(col("sb1") * col("nb0") - col("sb0") * col("nb1"))
          * (col("n1") * col("n0")))
          >= (abs(col("s1") * col("n0") - col("s0") * col("n1"))
            * (col("nb1") * col("nb0"))))
      .agg(count(lit(1)).as("b_used"),
        sum(when(col("ge"), 1L).otherwise(0L)).as("n_ge"),
        max("n0").as("n0"), max("n1").as("n1"),
        max("s0").as("s0"), max("s1").as("s1"))
      .withColumn("diff_obs", when(col("n0") > 0 && col("n1") > 0,
        r4(col("s1").cast("double") / col("n1").cast("double")
          - col("s0").cast("double") / col("n0").cast("double"))))
      .withColumn("p_u", expr("(1 + n_ge) * 1000000 DIV (b_used + 1)"))
      .select("b_used", "n0", "n1", "diff_obs", "n_ge", "p_u")
  }

  /** Poisson-bootstrap 90 % CI of the mean over (o_orderkey, cents) rows
    * and `b` hash-seeded replicates. Shared with `GraftEngine.bootstrapCi`.
    */
  private[graft] def bootstrapCiCore(o: DataFrame, b: Int): DataFrame = {
    val u = (((col("h28") * (lit(2654435761L) + col("b") * lit(96542L)))
      % 268435456L).cast("double") + lit(0.5)) / lit(268435456.0)
    val pois = when(u < 0.3678794412, 0L).when(u < 0.7357588823, 1L)
      .when(u < 0.9196986029, 2L).when(u < 0.9810118431, 3L)
      .when(u < 0.9963401532, 4L).when(u < 0.9994058152, 5L)
      .when(u < 0.9999167589, 6L).when(u < 0.9999897508, 7L)
      .otherwise(8L)
    val reps = o
      .withColumn("h28",
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 7),
          16, 10).cast("long"))
      .select(col("o_orderkey"), col("cents"), col("h28"),
        explode(lit((0 until b).toArray)).as("b"))
      .withColumn("w", pois)
      .groupBy("b")
      .agg(sum("w").as("n_eff"), sum(col("w") * col("cents")).as("wsum"))
      .filter(col("n_eff") > 0)
      .withColumn("mean_q", floor(col("wsum").cast("double")
        / col("n_eff").cast("double") * 10000 + 0.5).cast("long"))
    val wR = Window.orderBy("mean_q", "b")
    val boot = reps
      .withColumn("rn", row_number().over(wR))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy()))
      .agg(max("nb").as("b_replicates"),
        max(when(col("rn") === expr("(nb + 1) DIV 20"), col("mean_q")))
          .as("lo_q"),
        max(when(col("rn") === expr("(19 * (nb + 1)) DIV 20"),
          col("mean_q"))).as("hi_q"))
    val point = o.agg(count(lit(1)).as("n_orders"),
      r4(sum("cents").cast("double") / count(lit(1))).as("mean_cents"))
    point.crossJoin(boot)
      .withColumn("boot_lo_cents", r4(col("lo_q") / 10000.0))
      .withColumn("boot_hi_cents", r4(col("hi_q") / 10000.0))
      .select("n_orders", "mean_cents", "b_replicates",
        "boot_lo_cents", "boot_hi_cents")
  }

  /** Mutual information and normalized MI of the (nationkey, c_mktsegment)
    * contingency grid. Shared with `GraftEngine.mutualInformation`.
    */
  private[graft] def mutualInformationCore(f: DataFrame): DataFrame = {
    val cells = f.groupBy("nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("r_i", sum("cnt").over(Window.partitionBy("nationkey")))
      .withColumn("c_j", sum("cnt").over(
        Window.partitionBy("c_mktsegment")))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))
    val mi = cells
      .withColumn("t_u", floor(col("cnt").cast("double")
        * log(col("n").cast("double") * col("cnt").cast("double")
          / (col("r_i").cast("double") * col("c_j").cast("double")))
        * 1000000 + 0.5).cast("long"))
      .agg(max("n").as("n"), sum("t_u").as("mi_sum_u"))
    def margEnt(k: String, out: String): DataFrame =
      cells.groupBy(col(k)).agg(max("n").as("n"),
          sum("cnt").as("m"))
        .withColumn("h_u", floor(-(col("m").cast("double")
            / col("n").cast("double"))
          * log(col("m").cast("double") / col("n").cast("double"))
          * 1000000 + 0.5).cast("long"))
        .agg(sum("h_u").as(out))
    mi.crossJoin(margEnt("nationkey", "hr_u"))
      .crossJoin(margEnt("c_mktsegment", "hc_u"))
      .withColumn("mi_nats", r4(col("mi_sum_u").cast("double")
        / (lit(1000000.0) * col("n").cast("double"))))
      .withColumn("h_row", r4(col("hr_u") / 1000000.0))
      .withColumn("h_col", r4(col("hc_u") / 1000000.0))
      .withColumn("nmi", when(least(col("hr_u"), col("hc_u")) > 0,
        r4((col("mi_sum_u").cast("double")
            / (lit(1000000.0) * col("n").cast("double")))
          / (least(col("hr_u"), col("hc_u")).cast("double")
            / 1000000.0))))
      .select("n", "mi_nats", "h_row", "h_col", "nmi")
  }

  /** One-way ANOVA sums of squares of `x` across `lang` groups:
    * k_groups, n_total, the exact sums, t_sum_u = Σ round(Sx_g²/n_g)
    * in whole units, and ssb / ssw assembled once on the 1-row
    * readout.
    */
  private[graft] def anovaSums(units: DataFrame, x: String): DataFrame =
    units
      .groupBy("lang")
      .agg(count(lit(1)).as("n_g"), sum(x).as("sx"),
        sum(col(x) * col(x)).as("sxx"))
      .withColumn("t_u", floor(col("sx").cast("double")
        * col("sx").cast("double") / col("n_g").cast("double") + 0.5)
        .cast("long"))
      .agg(count(lit(1)).as("k_groups"), sum("n_g").as("n_total"),
        sum("sx").as("sum_all"), sum("sxx").as("sxx_all"),
        sum("t_u").as("t_sum_u"))
      .withColumn("ssb", col("t_sum_u").cast("double")
        - col("sum_all").cast("double") * col("sum_all").cast("double")
          / col("n_total").cast("double"))
      .withColumn("ssw",
        col("sxx_all").cast("double") - col("t_sum_u").cast("double"))

  /** The F ratio over [[anovaSums]]. k = 1 ⇒ df_between = 0: F is
    * undefined (ANSI x/0 throw vs DuckDB NULL) — the k_groups > 1
    * clause guards it.
    */
  private[graft] def anovaFStat: Column = when(
    col("ssw") > 0 && col("n_total") > col("k_groups")
      && col("k_groups") > 1,
    r4((col("ssb") / (col("k_groups") - 1).cast("double"))
      / (col("ssw")
        / (col("n_total") - col("k_groups")).cast("double"))))

  /** One-way ANOVA F of `n_chars` across `lang` groups.
    * Shared with `GraftEngine.anovaF`.
    */
  private[graft] def anovaFCore(docs: DataFrame): DataFrame =
    anovaSums(docs, "n_chars")
      .withColumn("f_stat", anovaFStat)
      .select(col("k_groups"), col("n_total"), col("t_sum_u"),
        r4(col("ssb")).as("ssb"), r4(col("ssw")).as("ssw"),
        col("f_stat"))

  /** Beta-binomial empirical-Bayes shrinkage of per-group rates over
    * (nationkey, n, x, p_u) rows with n > 0 (p_u = x·10⁶ DIV n), method of
    * moments across groups. Shared with `GraftEngine.ebShrink`.
    */
  private[graft] def ebShrinkCore(g: DataFrame): DataFrame = {
    val mom = g.agg(count(lit(1)).as("k"),
      sum("p_u").as("sp"), sum(col("p_u") * col("p_u")).as("spp"))
    g.crossJoin(broadcast(mom))
      .withColumn("m", col("sp").cast("double")
        / (col("k").cast("double") * 1000000.0))
      .withColumn("v",
        (col("k").cast("double") * col("spp").cast("double")
          - col("sp").cast("double") * col("sp").cast("double"))
          / (col("k").cast("double") * col("k").cast("double")
            * 1000000000000.0))
      .withColumn("ok", col("v") > 0 && col("m") > 0
        && col("m") < 1 && col("m") * (lit(1.0) - col("m")) > col("v"))
      .withColumn("common", when(col("ok"),
        col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0)))
      .withColumn("alpha", when(col("ok"), col("m") * col("common")))
      .withColumn("beta",
        when(col("ok"), (lit(1.0) - col("m")) * col("common")))
      .select(col("nationkey"), col("n"), col("x"), col("p_u"),
        when(col("ok"), r4((col("x").cast("double") + col("alpha"))
            / (col("n").cast("double") + col("alpha") + col("beta"))))
          .otherwise(r4(col("x").cast("double") / col("n").cast("double")))
          .as("shrunk"))
      .orderBy("nationkey")
  }

  /** Wilson 95 % score interval per variant over (variant, n, x) success
    * counts. Shared with `GraftEngine.wilsonCi`.
    */
  private[graft] def wilsonCiCore(counts: DataFrame): DataFrame = {
    val z = 1.959964
    val z2 = z * z
    counts
      .withColumn("ph", col("x").cast("double") / col("n").cast("double"))
      .withColumn("center",
        (col("ph") + lit(z2) / (lit(2.0) * col("n").cast("double")))
          / (lit(1.0) + lit(z2) / col("n").cast("double")))
      .withColumn("half",
        lit(z) * sqrt(col("ph") * (lit(1.0) - col("ph"))
            / col("n").cast("double")
          + lit(z2) / (lit(4.0) * col("n").cast("double")
            * col("n").cast("double")))
          / (lit(1.0) + lit(z2) / col("n").cast("double")))
      .select(col("variant"), col("n"), col("x"),
        r4(col("ph")).as("p_hat"),
        r4(col("center") - col("half")).as("ci_lo"),
        r4(col("center") + col("half")).as("ci_hi"))
      .orderBy("variant")
  }

  /** Paired t over per-unit integer deltas `d_w`.
    * Shared with `GraftEngine.pairedT`.
    */
  private[graft] def pairedTCore(deltas: DataFrame): DataFrame =
    deltas
      .agg(count(lit(1)).as("n_users"), sum("d_w").as("sum_d"),
        sum(col("d_w") * col("d_w")).as("sum_dd"))
      .withColumn("mean_d", when(col("n_users") > 0,
        r4(col("sum_d").cast("double") / col("n_users").cast("double"))))
      .withColumn("var_d", when(col("n_users") > 1,
        (col("sum_dd").cast("double")
          - col("sum_d").cast("double") * col("sum_d").cast("double")
            / col("n_users").cast("double"))
          / (col("n_users") - 1).cast("double")))
      .withColumn("t_paired", when(col("var_d") > 0,
        r4((col("sum_d").cast("double") / col("n_users").cast("double"))
          / sqrt(col("var_d") / col("n_users").cast("double")))))
      .withColumn("significant_95", when(col("var_d") > 0,
        abs(col("t_paired")) > 1.959964))
      .select("n_users", "sum_d", "mean_d", "t_paired",
        "significant_95")

  /** Cramér's V of the (nationkey, c_mktsegment) contingency grid, zero
    * cells included. Shared with `GraftEngine.cramersV`.
    */
  private[graft] def cramersVCore(f: DataFrame): DataFrame = {
    contingencyMargins(contingencyGrid(f))
      .withColumn("e", (col("r_i") * col("c_j")).cast("double")
        / col("n").cast("double"))
      .withColumn("term_u", floor(
        (col("cnt").cast("double") - col("e"))
          * (col("cnt").cast("double") - col("e")) / col("e")
          * 1000000 + 0.5).cast("long"))
      .agg(max("n").as("n_rows"),
        countDistinct("nationkey").as("n_r"),
        countDistinct("c_mktsegment").as("n_c"),
        sum("term_u").as("chi2_micro"))
      // A single-category dimension has min(r,c)−1 = 0 — V is
      // undefined (Spark ANSI would throw on the double x/0 where
      // DuckDB reads NULL): guard to NULL in both engines.
      .withColumn("cramers_v",
        when(col("n_rows") > 0
          && least(col("n_r") - 1, col("n_c") - 1) > 0,
          r4(sqrt(
            (col("chi2_micro").cast("double") / 1000000.0)
              / (col("n_rows")
                * least(col("n_r") - 1, col("n_c") - 1))
                .cast("double")))))
      .select("n_rows", "n_r", "n_c", "chi2_micro", "cramers_v")
  }

  /** The customer fixture's (nationkey, c_mktsegment) pairs: the
    * contingency every nation × segment association key reads.
    */
  private[graft] def nationSegments(s: SparkSession, d: String): DataFrame =
    TestData.customer(s, d)
      .select(col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment"))

  /** Observed (nationkey, c_mktsegment, cnt) cells of the pairs `f`. */
  private[graft] def nationSegmentCells(f: DataFrame): DataFrame =
    f.groupBy("nationkey", "c_mktsegment").agg(count(lit(1)).as("cnt"))

  /** [[nationSegmentCells]] completed to the full nation × segment
    * grid: absent cells read cnt = 0.
    */
  private[graft] def contingencyGrid(f: DataFrame): DataFrame =
    f.select("nationkey").distinct()
      .crossJoin(f.select("c_mktsegment").distinct())
      .join(nationSegmentCells(f), Seq("nationkey", "c_mktsegment"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))

  /** Row total r_i, column total c_j and grand total n on every cell. */
  private[graft] def contingencyMargins(cells: DataFrame): DataFrame =
    cells
      .withColumn("r_i", sum("cnt").over(Window.partitionBy("nationkey")))
      .withColumn("c_j", sum("cnt").over(
        Window.partitionBy("c_mktsegment")))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))

  /** Fisher-z 95 % CI of per-flag Spearman ρ over (flag, n, rho) rows.
    * Shared with `GraftEngine.spearmanCi`.
    */
  private[graft] def spearmanCiCore(stats: DataFrame): DataFrame = {
    def tanhE(x: Column): Column =
      (exp(lit(2.0) * x) - 1.0) / (exp(lit(2.0) * x) + 1.0)
    stats
      .withColumn("zr", when(col("rho").isNotNull
          && abs(col("rho")) < 1.0,
        lit(0.5) * log((lit(1.0) + col("rho"))
          / (lit(1.0) - col("rho")))))
      .withColumn("se", when(col("n") > 3,
        lit(1.0) / sqrt((col("n") - 3).cast("double"))))
      .select(col("flag"), col("n"), col("rho"),
        when(col("zr").isNotNull && col("se").isNotNull,
          r4(tanhE(col("zr") - lit(1.959964) * col("se"))))
          .as("ci_lo"),
        when(col("zr").isNotNull && col("se").isNotNull,
          r4(tanhE(col("zr") + lit(1.959964) * col("se"))))
          .as("ci_hi"))
      .orderBy("flag")
  }

  /** Per-flag Kendall τ-b over (flag, qx, qy) integer pairs from the
    * value-distinct cell grid. Shared with `GraftEngine.kendallTau`.
    */
  private[graft] def kendallTauCore(li: DataFrame): DataFrame = {
    val cells = li.groupBy("flag", "qx", "qy")
      .agg(count(lit(1)).as("c"))
      .ckpt()
    val cd = cells.as("a").join(cells.as("b"),
        col("a.flag") === col("b.flag")
          && col("a.qx") < col("b.qx") && col("a.qy") =!= col("b.qy"))
      .groupBy(col("a.flag").as("flag"))
      .agg(sum(when(col("a.qy") < col("b.qy"),
          col("a.c") * col("b.c")).otherwise(0L)).as("n_concordant"),
        sum(when(col("a.qy") > col("b.qy"),
          col("a.c") * col("b.c")).otherwise(0L)).as("n_discordant"))
    def tieSum(k: String, out: String): DataFrame =
      cells.groupBy("flag", k).agg(sum("c").as("t"))
        .groupBy("flag")
        .agg(sum(expr("(t * (t - 1)) DIV 2")).as(out))
    cells.groupBy("flag").agg(sum("c").as("n"))
      .join(cd, "flag")
      .join(tieSum("qx", "ties_x"), "flag")
      .join(tieSum("qy", "ties_y"), "flag")
      .withColumn("n0", expr("(n * (n - 1)) DIV 2"))
      .withColumn("tau_b", when(
        col("n0") > col("ties_x") && col("n0") > col("ties_y"),
        r4((col("n_concordant") - col("n_discordant")).cast("double")
          / sqrt((col("n0") - col("ties_x")).cast("double")
            * (col("n0") - col("ties_y")).cast("double")))))
      .select("flag", "n", "n_concordant", "n_discordant",
        "ties_x", "ties_y", "tau_b")
      .orderBy("flag")
  }

  /** Holm step-down over (nationkey, p_u) micro-unit p values at level
    * `alphaMicro`: adds m_tests, rk and significant (NULL p never rejects).
    * Shared with `GraftEngine.holmStepDown`.
    */
  private[graft] def holmStepDownCore(tests: DataFrame, alphaMicro: Long): DataFrame = {
    val W = Window.partitionBy()
    val wRank = Window.orderBy(col("p_u").asc_nulls_last, col("nationkey"))
    tests
      .withColumn("m_tests",
        sum(when(col("p_u").isNotNull, 1L).otherwise(0L)).over(W))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("flag", col("p_u").isNotNull
        && col("p_u") * (col("m_tests") - col("rk") + 1)
          <= lit(alphaMicro))
      .withColumn("k_stop",
        min(when(!col("flag") && col("rk") <= col("m_tests"),
          col("rk"))).over(W))
      .withColumn("significant", when(col("p_u").isNotNull,
        col("k_stop").isNull || col("rk") < col("k_stop"))
        .otherwise(lit(false)))
  }

  val defs: Map[String, Q] = Map(
    // CLIFF'S DELTA (round 15): the ordinal effect size published
    // next to agg_mann_whitney's p — "what FRACTION of cross-variant
    // pairs does treatment win, net of losses" (δ = (gt−lt)/(n_c·n_t),
    // the quantity a heavy-tailed experiment readout trusts when
    // Cohen's d's means are unstable). Same value-distinct cell grid
    // as the U test: gt = Σ ct·cumcc(<v), tie = Σ ct·cc, lt by the
    // pair-count identity — all exact BIGINTs (bounded by n_c·n_t,
    // the KS cross-multiplication bound). Romano magnitude bands on
    // the r4'd delta. Identities 2·gt + tie = U2 and
    // gt+lt+tie = n_c·n_t pinned in EngineApiSpec against the MW key.
    "agg_cliffs_delta" -> ((s, d) => cliffsDelta(variantUnitCells(s, d))),

    // MOOD'S MEDIAN TEST (round 15): the coarsest, most robust
    // two-sample location test — "do the variants straddle the grand
    // median equally" — the sanity gate a skew-heavy metric review
    // runs when even rank tests feel fragile. Grand median = lower
    // median by rank over the SAME cell grid (cum·2 ≥ n+1); the 2×2
    // above/not-above counts are exact window-free aggregates of the
    // grid; Pearson χ² (1 df) assembles once in doubles (N·det²
    // passes 2^63 only to ~5e4 users — the documented reason the χ²
    // is a float readout, not a cross-multiplied integer), mirrored,
    // r4; any zero marginal ⇒ NULL χ² at the definition site.
    "agg_mood_median" -> ((s, d) => moodMedian(variantUnitCells(s, d))),

    // JARQUE-BERA (round 15): the normality gate per lineitem return
    // flag — "can the t/z machinery downstream assume Gaussian tails
    // on this segment's quantities" (JB = n/6·(g₁² + g₂²/4) against
    // χ²₂). Whole-unit quantities via the floor(x+0.5) quantizer;
    // ONE pass of exact-BIGINT raw moments n, Σx..Σx⁴ (bound
    // documented on the core); moments→JB assembled once in doubles
    // on the 3-row readout, r4'd skew/kurt feed JB so both engines
    // band the identical quantized value.
    "agg_jarque_bera" -> ((s, d) =>
      jarqueBera(TestData.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          floor(col("l_quantity") + 0.5).cast("long").as("x")))),

    // EXACT SRM CHECK (round 15): sample-ratio-mismatch under the
    // EXACT Binomial(n, ½) null — events_ab_srm's χ² is asymptotic
    // and silently wrong exactly where SRM matters most (small
    // slices, early ramp); this is the sign-test machinery's FOURTH
    // reuse (variant indicator = the sign). One ±1 row per user
    // through the SAME exact chain — k_pos reads "control users".
    "events_ab_srm_exact" -> ((s, d) =>
      signTestExact(TestData.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("n_ev"))
        .withColumn("d_w",
          when(conv(substring(md5(col("user_id").cast("string")), 1, 2),
            16, 10).cast("int") % 2 === 0, 1L).otherwise(-1L))
        .select("d_w"))),

    // HODGES-LEHMANN SHIFT (round 15): the effect-size ESTIMATE that
    // belongs to the Mann-Whitney test — the median of all
    // treatment−control differences ("how much did the experiment
    // move a typical user", robust where the mean difference is
    // hostage to tails; δ/U say direction and significance, HL says
    // the AMOUNT in value units). Differences live on the CELL-GRID
    // CROSS PRODUCT (domain², never user²) with weight ct·cc — the
    // ts_theil_sen pairwise-domain precedent; weighted lower median
    // via one cumulative over the diff-distinct grid (2·cumw ≥ W+1).
    // All integers end to end. Planted-shift exactness pinned in
    // DegenerateSpec.
    "agg_hodges_lehmann" -> ((s, d) =>
      hodgesLehmannCore(variantUnitCells(s, d))),

    // HODGES-LEHMANN 95% CI (round 16): the error bar on the shift —
    // a point estimate without its Moses rank interval is a number
    // nobody can act on (is +3 units real or noise?). Bounds = the
    // k-th / (N+1−k)-th order statistics of the pairwise differences
    // at the normal-approximation rank k = ⌊N/2 − 1.96·√(n_c·n_t·
    // (n_c+n_t+1)/12)⌋ — THREE conditional rank picks over the SAME
    // weighted diff grid one pass builds (see [[hodgesLehmannCiCore]]
    // for why coarsened order statistics stay within one quantizer
    // step). ci_lo ≤ hl_shift ≤ ci_hi by construction (pinned).
    "agg_hodges_lehmann_ci" -> ((s, d) =>
      hodgesLehmannCiCore(variantUnitCells(s, d))),

    // MEDIAN CI (round 15): the distribution-free 95 % confidence
    // interval on each segment's median (order-statistic inversion
    // of the sign test: ranks (n ∓ 1.96√n)/2) — the error bar the
    // agg_median / quantile dashboards publish; parametric ±1.96·SE
    // is wrong exactly where medians are used (skewed balances).
    // Exact order statistics off the SAME per-segment rangedRank as
    // agg_quantile_skew; IEEE sqrt is correctly rounded and engine-
    // identical (the Neyman precedent); rank picks clamped to
    // [1, n]. All integer cents.
    "agg_median_ci" -> ((s, d) =>
      medianCiCore(TestData.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          col("c_custkey").as("tie"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long")
            .as("cents")))),

    // WELCH'S ANOVA (round 15): the k-group mean test that does NOT
    // assume equal variances — the missing middle of the family
    // (agg_anova_f assumes homogeneity, agg_welch_t is 2-group only;
    // when agg_bartlett_test/levene REJECT homogeneity, this is the
    // test you are allowed to run). Per-group sufficient stats exact;
    // every per-group ratio (w = n/s², w·m, w·(m−m̄_w)²,
    // (1−w/W)²/(n−1)) quantized to integer units in ONE mirrored
    // expression BEFORE its k-row sum (float accumulation across
    // groups is engine-order-specific); the two scalar divisions
    // (m̄_w, F) happen once on the 1-row readout. Any n < 2 or
    // zero-variance group ⇒ NULL F (the Bartlett degenerate
    // protocol). Emits F, df1 = k−1 and the Welch df2.
    "agg_welch_anova" -> ((s, d) =>
      welchAnovaCore(TestData.documents(s, d)
        .select(col("lang"), col("n_chars").cast("long").as("x")))),

    // TWO-REGRESSOR LOGISTIC FIT (round 15, VERDICT r14 missing #2):
    // the fitted probabilistic classifier the eval family
    // (AUC/calibration/Brier/lift) existed to evaluate but the
    // engine couldn't FIT — agg_ols_multi is linear only. Heavy
    // purchaser (≥14 purchases — the fixture's every-user-converts
    // grain makes "any purchase" one-class) ~ clicks + views per
    // user; 3 unrolled IRLS rounds on the
    // [[logisticIrlsCore]] protocol (exact micro η, per-row
    // micro-quantized sigmoid, Cramer 3×3 step on the 1-row
    // readout). Emits the fitted betas + in-sample Brier score —
    // the fit → score → calibrate loop closer. Planted-coefficient
    // recovery + fitted-AUC floor pinned in EngineApiSpec.
    "agg_logistic_irls" -> ((s, d) => {
      val u = TestData.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("np"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x2"))
        .withColumn("y", when(col("np") >= 14, 1L).otherwise(0L))
      logisticIrlsCore(u.select("y", "x1", "x2"))
    }),

    // ONE-REGRESSOR POISSON GLM (round 16, VERDICT r15 #2): the rate
    // model for count data — ts_poisson_dispersion DETECTS
    // overdispersion but nothing fitted a rate; this closes the gap
    // the way agg_logistic_irls closed it for classification.
    // Purchases-per-user ~ clicks-per-user on the events fixture
    // (log link): 3 unrolled IRLS rounds on [[poissonIrlsCore]]
    // (exact micro η, μ_u the one per-row transcendental, EXACT
    // integer X'WX because W = μ, 2×2 Cramer step clamped ±30e6,
    // intercept seeded at ln ȳ). Emits betas, the per-click rate
    // ratio e^β1, and the in-sample Pearson dispersion (the in-model
    // sibling of ts_poisson_dispersion's marginal test). The fixture
    // reads near-equidispersed (0.94 — purchase counts are
    // synthetic-Poisson; pinned in band), β1 ≈ 0 (clicks don't drive
    // purchases there). Planted-rate-ratio recovery AND planted
    // overdispersion > 1 pinned in EngineApiSpec.
    // ONE-COVARIATE ANCOVA (round 17): per-lang chars-per-doc
    // ADJUSTED for token count — the anova_f family's answer to
    // "does the group effect survive the covariate" (a language can
    // read char-heavy only because its docs are longer). Pooled
    // within-group slope + adjusted means on [[ancovaCore]]; exact
    // within-group moments, micro-quantized per-group covariances,
    // one readout division.
    "agg_ancova" -> ((s, d) =>
      ancovaCore(TestData.documents(s, d)
        .select(col("lang").as("g"), col("n_chars").as("y"),
          size(split(col("text"), " ")).cast("long").as("x")))),

    // ONE-REGRESSOR GAMMA GLM (round 17, VERDICT r16 #5): the
    // revenue-per-user model — per-user purchase spend (EXACT
    // integer cents, per-event floor(value·100 + 0.5) BEFORE the
    // user sum) regressed on clicks-per-user under a log link.
    // Counts have poisson_glm/negative_binomial; positive skewed
    // continuous spend had no fitter. Gamma's structural gift under
    // the log link: working weights ≡ 1, so X'X is a CONSTANT
    // exact-integer matrix and only the micro-quantized relative
    // residuals (y−μ)/μ move per round — see [[gammaIrlsCore]] for
    // the full determinism protocol (asymmetric η rails, z clamp,
    // Cramer step). Emits betas, per-click spend ratio, Pearson
    // dispersion (≈ 1/shape) and the MoM shape. Planted exact-rate
    // recovery + the Poisson-key-overdisperses-on-spend honesty pin
    // in EngineApiSpec; degenerate frames in DegenerateSpec.
    "agg_gamma_glm" -> ((s, d) => {
      val u = TestData.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase",
            floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L))
          .as("y"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"))
      gammaIrlsCore(u.select("y", "x"))
    }),

    "agg_poisson_glm" -> ((s, d) => {
      val u = TestData.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("y"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"))
      poissonIrlsCore(u.select("y", "x"))
    }),

    // NEGATIVE-BINOMIAL FIT (round 16): the count model the Poisson
    // family hands off to — agg_poisson_glm's dispersion readout and
    // ts_poisson_dispersion DETECT overdispersion; this key FITS the
    // model that absorbs it (NB = gamma-mixed Poisson; method of
    // moments r̂ = m²/(s²−m), p̂ = m/s²). Per-user TOTAL event counts
    // (user activity heterogeneity makes the fixture genuinely
    // overdispersed, probed); exact sufficient stats, divisions once
    // on the 1-row readout, honest NULL r̂ when s² ≤ m.
    "agg_negative_binomial" -> ((s, d) =>
      negBinomialCore(TestData.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("y"))
        .select("y"))),

    // TWO-WAY ANOVA (round 15, VERDICT r14 #8): the two-factor test
    // with interaction that completes the k-group family (one-way F,
    // Welch, Bartlett/Levene, KW/Friedman are all single-factor) —
    // "does balance differ by nation, by segment, and does the
    // nation effect DEPEND on the segment". Whole-dollar response;
    // the sequential decomposition and its exact-identity guarantee
    // live on [[twoWayAnovaCore]].
    "agg_two_way_anova" -> ((s, d) =>
      twoWayAnovaCore(TestData.customer(s, d)
        .select(col("c_nationkey").cast("long").as("a"),
          col("c_mktsegment").as("b"),
          floor(col("c_acctbal") + 0.5).cast("long").as("y")))),

    // TUKEY HSD (round 15 continuation): the post-hoc pairwise
    // comparison that belongs to agg_anova_f's verdict (Dunn exists
    // for the rank world; this is its parametric sibling) — WHICH
    // language pairs differ, with the studentized-range correction
    // that keeps the familywise α honest. Tukey-Kramer form for
    // unequal n: q_ij = |m_i − m_j| / √(MSE/2·(1/n_i + 1/n_j));
    // critical values are the ∞-df studentized-range 0.05 constants
    // for k = 2..10 (published Harter table; a CASE ladder literal
    // in BOTH engines — df here is corpus-sized so ∞-df is the
    // honest row; NULL beyond k = 10, documented). Sufficient stats
    // exact (the anova_f t_u protocol); MSE once on the 1-row
    // totals; pairs via a self-join of the k-row group frame.
    "agg_tukey_hsd" -> ((s, d) => {
      val g = TestData.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_g"), sum("n_chars").as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sxx"))
        .withColumn("t_u", floor(col("sx").cast("double")
          * col("sx").cast("double") / col("n_g").cast("double") + 0.5)
          .cast("long"))
        .withColumn("m", col("sx").cast("double")
          / col("n_g").cast("double"))
        .ckpt() // totals + both sides of the pair join
      val tot = g.agg(count(lit(1)).as("k_groups"),
          sum("n_g").as("n_total"), sum("sxx").as("sxx_all"),
          sum("t_u").as("t_sum_u"))
        .withColumn("ssw_u", col("sxx_all") - col("t_sum_u"))
        .withColumn("mse", when(col("n_total") > col("k_groups"),
          col("ssw_u").cast("double")
            / (col("n_total") - col("k_groups")).cast("double")))
        .withColumn("q_crit",
          when(col("k_groups") === 2, 2.772)
            .when(col("k_groups") === 3, 3.314)
            .when(col("k_groups") === 4, 3.633)
            .when(col("k_groups") === 5, 3.858)
            .when(col("k_groups") === 6, 4.030)
            .when(col("k_groups") === 7, 4.170)
            .when(col("k_groups") === 8, 4.286)
            .when(col("k_groups") === 9, 4.387)
            .when(col("k_groups") === 10, 4.474))
      val b = g.select(col("lang").as("lang_b"), col("n_g").as("n_b"),
        col("m").as("m_b"))
      g.select(col("lang").as("lang_a"), col("n_g").as("n_a"),
          col("m").as("m_a"))
        .join(b, col("lang_a") < col("lang_b"))
        .crossJoin(broadcast(tot))
        .withColumn("q_stat", when(col("mse") > 0,
          r4(abs(col("m_a") - col("m_b"))
            / sqrt(col("mse") / 2.0
              * (lit(1.0) / col("n_a").cast("double")
                + lit(1.0) / col("n_b").cast("double"))))))
        .withColumn("significant_95",
          when(col("q_stat").isNotNull && col("q_crit").isNotNull,
            col("q_stat") > col("q_crit")))
        .select(col("lang_a"), col("lang_b"), col("n_a"), col("n_b"),
          r4(col("m_a") - col("m_b")).as("mean_diff"), col("q_stat"),
          col("q_crit"), col("significant_95"))
        .orderBy("lang_a", "lang_b")
    }),

    // PARTIAL CORRELATION (round 15 continuation): corr(quantity,
    // price | discount) per return flag — the "does the raw
    // correlation survive holding the confounder fixed" readout that
    // sits between agg_corr_regr (marginal) and agg_ols_multi
    // (fully-adjusted betas). Exact BIGINT sufficient stats in ONE
    // map-side pass; the three pairwise r's and the partial assemble
    // once on the ≤3-row readout in mirrored doubles (products taken
    // double-first — no n·Σx² BIGINT overflow), r4. Zero-variance or
    // |r| = 1 control ⇒ NULL at the definition site.
    "agg_partial_corr" -> ((s, d) =>
      partialCorrCore(TestData.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          floor(col("l_quantity") + 0.5).cast("long").as("x"),
          floor(col("l_extendedprice") + 0.5).cast("long").as("y"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("z")))),

    // CRONBACH'S ALPHA (round 15 continuation): internal-consistency
    // reliability of the 5 per-user event-type counts as a scale
    // ("do these activity items measure one underlying engagement
    // trait") — the classical-test-theory member the k-group family
    // lacked. α = k/(k−1)·(1 − Σᵢvarᵢ/var_total). Exact BIGINT
    // sufficient stats for the 5 items + the per-user total in ONE
    // pass; the 5 item variances sum in a FIXED-ORDER single
    // mirrored expression (k is a literal — no data-order float
    // drift), divisions once on the 1-row readout, r4. n < 2 or
    // zero total variance ⇒ NULL.
    "agg_cronbach_alpha" -> ((s, d) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val cnts = types.map(t =>
        sum(when(col("event_type") === t, 1L).otherwise(0L))
          .as(s"c_$t"))
      cronbachAlphaCore(TestData.events(s, d).groupBy("user_id")
        .agg(cnts.head, cnts.tail: _*), types.map(t => s"c_$t"))
    }),

    // BOWLEY SKEW + MOORS KURTOSIS (round 15): the QUANTILE-based
    // shape profile next to agg_jarque_bera's moment-based one —
    // octile statistics are defined (and stable) on the heavy-tailed
    // balance distributions where 3rd/4th moments explode; the pair
    // is the robust "is this segment's distribution lopsided/fat-
    // tailed" dashboard line. Octiles E1..E7 by the rank convention
    // rk = max(1, (n+1)·k DIV 8) over the per-segment rangedRank
    // (exact order statistics, integer cents); Bowley =
    // (E6+E2−2·E4)/(E6−E2) and Moors = ((E7−E5)+(E3−E1))/(E6−E2)
    // are ratios of EXACT integers — one guarded division each on
    // the segment-count readout, r4. Zero IQR ⇒ NULL.
    "agg_quantile_skew" -> ((s, d) =>
      quantileShape(TestData.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          col("c_custkey").as("tie"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long")
            .as("cents")))),

    // BARTLETT'S TEST (round 15): the VARIANCE-homogeneity gate with
    // power under normality — published next to agg_levene_test
    // (Levene is the robust one; when agg_jarque_bera clears the
    // groups, Bartlett is the sharper instrument; disagreement
    // between them is itself the tail-heaviness signal). Sufficient
    // stats per lang (n, Σx, Σx² exact BIGINTs on n_chars); per-
    // group transcendentals micro-quantized BEFORE the k-row sums:
    // (n_i−1)·ln(s²_i) in micro-nats and the pooled-numerator
    // (n_i−1)·s²_i in whole units (float accumulation over groups is
    // engine-order-specific even at k = dozens); 1/(n_i−1) in nano
    // units via integer DIV. ln(s²_p) is the single readout
    // transcendental, mirrored. Emits T and df (the χ²_{k−1}
    // comparison is the consumer's, as with agg_anova_f); any
    // zero-variance or n < 2 group ⇒ NULL T.
    "agg_bartlett_test" -> ((s, d) =>
      bartlettCore(TestData.documents(s, d)
        .select(col("lang"), col("n_chars").cast("long").as("x")))),

    // WILCOXON SIGNED-RANK (round 15): the nonparametric member of
    // the PAIRED family (mcnemar = binary, paired_t = normal-theory,
    // THIS = magnitude-aware rank) — the within-user before/after
    // test that survives heavy-tailed deltas where the t's variance
    // is untrustworthy. Shared pairedUserDeltas stage; zeros dropped
    // (the standard procedure); the |d|-distinct cell grid carries
    // the doubled midranks — never a user-grain rank window.
    "agg_wilcoxon_signed_rank" -> ((s, d) =>
      wilcoxonSignedRank(pairedUserDeltas(s, d))),

    // EXACT SIGN TEST (round 15): the assumption-FREE paired test —
    // only the SIGN of each user's delta counts, so it is valid
    // under any delta distribution (the court-of-last-resort when
    // even Wilcoxon's symmetry assumption is suspect), and the
    // binomial null is EXACT (the Fisher ratio-recursion recipe,
    // third reuse). Same shared delta stage; (n+1)-row j-grid.
    "agg_sign_test" -> ((s, d) =>
      signTestExact(pairedUserDeltas(s, d))),

    // MANN-WHITNEY U (round 10): the nonparametric A/B test the
    // experimentation stack reaches for when per-user value is
    // heavy-tailed and the t-test's mean is untrustworthy. U counts
    // cross-variant wins (ties = ½), computed ENTIRELY from the
    // value-distinct cell table: U2 = Σ_v ct(v)·(2·cumcc(<v) + cc(v))
    // — 2× units keep the tie half-counts integer. The tie-corrected
    // normal approximation z uses Σ(t³−t) from the same grid.
    // Bounds: t³ < 2^63 needs per-cell t < 2^21 (~2.1M users on ONE
    // unit value). A mass-point cell CAN exceed that in production,
    // so the cube is guarded per cell and the overflow mode is
    // EXPLICIT: any cell with t ≥ 2^21 ⇒ tie_sum (and hence z) NULL
    // in both engines, never an ANSI throw / silent wrap.
    // Shape: user-shard aggregate → domain-sized grid → one window
    // over the grid → 1-row readout. No corpus-grain window.
    "agg_mann_whitney" -> ((s, d) => mannWhitneyCore(variantUnitCells(s, d))),

    // KOLMOGOROV-SMIRNOV TWO-SAMPLE (round 10): distribution-shape
    // drift between the variants — D = max |F_c − F_t| over the
    // value grid, which the usual "did the experiment move the whole
    // distribution, not just the mean" gate reads next to the MW
    // test. Exact integers via cross-multiplication:
    // d_num = max |cumcc·n_t − cumct·n_c| (bounded by n_c·n_t < 2^63
    // up to ~3e9 users); the only floats are the final D division
    // and the asymptotic p ≈ 2·exp(−2·D²·n_c·n_t/(n_c+n_t)), both in
    // mirrored op order, r4'd. Same domain-sized grid as the U test.
    "agg_ks_test" -> ((s, d) => ksTestCore(variantUnitCells(s, d))),

    // CRAMÉR'S V (round 10): effect size of the nation × market-
    // segment association — the "is this categorical dependence real
    // or just big-n significant" readout a segmentation analysis
    // publishes next to the χ² p-value. The FULL grid (distinct
    // nations × distinct segments, zero cells included via cross
    // join + left join — excluded zero cells would understate χ²)
    // is cells-sized at any corpus size; margins are window sums
    // over the grid. Each cell's χ² term is one mirrored IEEE
    // expression quantized to integer MICRO-units before the sum
    // (entropy/PSI precedent), so no n⁴ integer products anywhere.
    "agg_cramers_v" -> ((s, d) => cramersVCore(nationSegments(s, d))),

    // G-TEST OF INDEPENDENCE (round 13): the likelihood-ratio
    // sibling of agg_cramers_v's Pearson χ² over the SAME
    // nation × segment contingency — G = 2·Σ O·ln(O/E) is additive
    // across nested partitions (a table collapse decomposes G
    // exactly, which χ² does not), the property that makes it the
    // right independence test for hierarchical slice audits. Zero
    // cells contribute EXACTLY 0 (lim x·ln x = 0), so unlike the χ²
    // no zero-cell grid completion join exists anywhere — observed
    // cells only. Each term micro-nat quantized in identical op
    // order before the one BIGINT sum (PSI/entropy protocol);
    // marginals via windows over the CELL grid (category²-sized).
    // df = (r−1)(c−1); the 95 % verdict is left to the caller (χ²
    // critical values are df-dependent — publishing G + df is the
    // decomposable artifact).
    "agg_g_test" -> ((s, d) => {
      contingencyMargins(nationSegmentCells(nationSegments(s, d)))
        .withColumn("term_u", floor(
          col("cnt").cast("double")
            * log(col("cnt").cast("double") * col("n").cast("double")
              / (col("r_i").cast("double") * col("c_j").cast("double")))
            * 1000000 + 0.5).cast("long"))
        .agg(max("n").as("n_rows"),
          countDistinct("nationkey").as("n_r"),
          countDistinct("c_mktsegment").as("n_c"),
          sum("term_u").as("g_half_micro"))
        .withColumn("df", (col("n_r") - 1) * (col("n_c") - 1))
        .withColumn("g_stat", r4(lit(2.0)
          * col("g_half_micro").cast("double") / 1000000.0))
        .select("n_rows", "n_r", "n_c", "df", "g_half_micro", "g_stat")
    }),

    // WILSON SCORE INTERVAL (round 12): the per-arm 95 % rate CI the
    // experiment readouts publish next to the z/OR effect tests —
    // Wilson, not Wald, because it never leaves [0, 1] and stays
    // calibrated at extreme rates/small n (the two places Wald CIs
    // lie; containment pinned in ClosedFormProps on arbitrary (n, x)).
    // Inputs are the exact event-grain purchase cells; the interval
    // is one mirrored IEEE expression per arm (z = 1.959964, z² a
    // plain literal product), r4. One aggregate + 2-row readout.
    "agg_wilson_ci" -> ((s, d) => wilsonCiCore(
      TestData.events(s, d)
        .withColumn("t",
          (conv(substring(md5(col("user_id").cast("string")), 1, 2),
            16, 10).cast("int") % 2 =!= 0).cast("int"))
        .withColumn("purch",
          when(col("event_type") === "purchase", 1L).otherwise(0L))
        .groupBy(when(col("t") === 0, "control").otherwise("treatment")
          .as("variant"))
        .agg(count(lit(1)).as("n"), sum("purch").as("x")))),

    // EMPIRICAL-BAYES SHRINKAGE (round 12): beta-binomial shrinkage
    // of per-nation urgent-order rates — the small-n leaderboard fix
    // (a 3-order nation at 100 % must not outrank a 300-order nation
    // at 40 %). Method-of-moments Beta prior from the 25 group
    // rates, fit on MICRO-quantized rates so the moment sums are
    // exact BIGINTs (Σp_u, Σp_u² — no float accumulation over
    // groups); α, β and each shrunken rate are one mirrored IEEE
    // readout. shrunk = (x+α)/(n+α+β) is EXACTLY the convex mix
    // w·raw + (1−w)·priormean with w = n/(n+α+β) — between-ness
    // pinned in ClosedFormProps. Degenerate moments (zero variance,
    // v ≥ m(1−m), m ∈ {0,1}) fall back to the raw rate, stated.
    // Shape: one group aggregate + a 1-row moment broadcast.
    "agg_eb_shrinkage" -> ((s, d) => {
      val g = TestData.orders(s, d)
        .join(broadcast(TestData.customer(s, d)
            .select(col("c_custkey"),
              col("c_nationkey").cast("long").as("nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy("nationkey")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1L)
            .otherwise(0L)).as("x"))
        .withColumn("p_u", expr("x * 1000000 DIV n"))
        .ckpt() // two consumers: moments + readout
      ebShrinkCore(g)
    }),

    // SPEARMAN ρ (round 10): rank correlation of quantity vs
    // discount per return flag — the monotone-association readout
    // that survives nonlinearity and outliers where Pearson lies.
    // Ranks are never materialized per ROW: the corpus folds to the
    // JOINT (qty, discount) cell table (≤ 50·11 cells per group —
    // the rank grids are the bounded attribute DOMAINS), marginal
    // 2×average-ranks come from cumulative windows over each
    // marginal (2·avg_rank = 2·cum_lt + c + 1, integer under ties),
    // and ρ's sums are exact BIGINTs over centered rank deviations
    // d = 2r − (n+1) (Σ c·d = 0 exactly, so ρ = Sxy/√(Sxx·Syy)
    // directly). Bound: |d| ≤ 2n ⇒ Sxy ≤ 4n³ < 2^63 for n ≲ 1.3e6
    // rows per group; past that, scale d to doubles first.
    "agg_spearman_rho" -> ((s, d) =>
      spearmanStats(s, d)
        .select("flag", "n", "sxy", "sxx", "syy", "rho")
        .orderBy("flag")),

    // SPEARMAN ρ FISHER-z CI (round 16): the error bar on the rank
    // correlation — z = atanh(ρ) = ½·ln((1+ρ)/(1−ρ)) is approximately
    // normal with SE 1/√(n−3), back-transformed by tanh expressed as
    // (e^{2x}−1)/(e^{2x}+1) — ln/exp/sqrt only, mirrored, applied to
    // the ALREADY-r4'd ρ so both engines transform the identical
    // value. |ρ| = 1 or n ≤ 3 reads NULL bounds (atanh diverges /
    // SE undefined). Same cell-grid stage as the ρ key.
    "agg_spearman_ci" -> ((s, d) => spearmanCiCore(spearmanStats(s, d))),

    // TUKEY FENCES (round 10): the boxplot outlier screen per return
    // flag — exact q1/q3 order statistics (percentile_disc rank
    // convention, stable unique tie-break), fences at 1.5·IQR, and
    // the count outside each fence. ALL-INTEGER: fences compare in
    // DOUBLED cents (2·q1 − 3·IQR needs no halves), so there is no
    // float boundary anywhere. Shape: the 2-row cut table broadcasts
    // back onto the line stream; both aggregates map-side-combine.
    "agg_tukey_fences" -> ((s, d) => {
      val li = flagCents(s, d)
      val cuts = flagCentsCuts(li, "(n + 1) DIV 4", "q1_cents", "(3 * (n + 1)) DIV 4", "q3_cents")
        .withColumn("iqr_cents", col("q3_cents") - col("q1_cents"))
      li.join(broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(max("n_rows").as("n_rows"),
          max("q1_cents").as("q1_cents"),
          max("q3_cents").as("q3_cents"),
          max("iqr_cents").as("iqr_cents"),
          sum(when(lit(2L) * col("cents")
            < lit(2L) * col("q1_cents") - lit(3L) * col("iqr_cents"), 1L)
            .otherwise(0L)).as("n_low"),
          sum(when(lit(2L) * col("cents")
            > lit(2L) * col("q3_cents") + lit(3L) * col("iqr_cents"), 1L)
            .otherwise(0L)).as("n_high"))
        .withColumn("outlier_frac", r4(
          (col("n_low") + col("n_high")).cast("double") / col("n_rows")))
        .select("l_returnflag", "n_rows", "q1_cents", "q3_cents",
          "iqr_cents", "n_low", "n_high", "outlier_frac")
        .orderBy("l_returnflag")
    }),

    // RATIO ESTIMATOR (round 13): the survey-sampling estimator of
    // spend-per-order by market segment with its LINEARIZED (Taylor)
    // variance — the companion readout to sample_two_stage /
    // sample_neyman_allocation: a design-based CI on a ratio of two
    // totals, which a naive per-row mean gets wrong (customers are
    // the sampling units, orders are not independent draws).
    // Var(R̂) ≈ Σ(y_i − R̂x_i)²/((n−1)·n·x̄²) expands to pure
    // sufficient statistics (Syy − 2R̂Sxy + R̂²Sxx) — one user-grain
    // fold, exact BIGINT sums (y in WHOLE DOLLARS: Σy² exact to
    // ~1e6 customers at ~1e6 dollars each, documented — pre-scale
    // past that, the anova rule), divisions once per segment row in
    // mirrored order, fpc omitted (n ≪ N at scale, stated).
    // Guards: n ≤ 1 or Σx = 0 ⇒ NULL ratio/CI.
    "agg_ratio_estimator" -> ((s, d) => {
      val cu = TestData.orders(s, d)
        .join(broadcast(TestData.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("c_custkey"))
        .agg(count(lit(1)).as("x"),
          sum(floor(col("o_totalprice") + 0.5).cast("long")).as("y"))
      cu.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("ratio_raw", when(col("sx") > 0,
          col("sy").cast("double") / col("sx").cast("double")))
        .withColumn("se_raw", when(
          col("ratio_raw").isNotNull && col("n_customers") > 1,
          sqrt((col("syy").cast("double")
            - lit(2.0) * col("ratio_raw") * col("sxy").cast("double")
            + col("ratio_raw") * col("ratio_raw")
              * col("sxx").cast("double"))
            / (col("n_customers") - 1).cast("double")
            / col("n_customers").cast("double")
            / ((col("sx").cast("double") / col("n_customers").cast("double"))
              * (col("sx").cast("double")
                / col("n_customers").cast("double"))))))
        .select(col("c_mktsegment"), col("n_customers"), col("sx"),
          col("sy"), r4(col("ratio_raw")).as("ratio"),
          r4(col("se_raw")).as("se"),
          r4(col("ratio_raw") - lit(1.96) * col("se_raw")).as("ci_lo"),
          r4(col("ratio_raw") + lit(1.96) * col("se_raw")).as("ci_hi"))
        .orderBy("c_mktsegment")
    }),

    // PERCENTILE_CONT (round 13): the INTERPOLATED percentile family
    // (SQL-standard PERCENTILE_CONT semantics) next to the
    // discontinuous agg_percentile_disc/exact — the convention BI
    // tools and pandas default to, and the one that differs exactly
    // when (n−1)·p is fractional. The interpolation is ALL-INTEGER:
    // h = (n−1)p + 1 with p = k/100 gives lo = (n−1)k DIV 100 + 1,
    // rem = (n−1)k MOD 100, and the interpolated value ×100 =
    // 100·x_lo + rem·(x_hi − x_lo) — exact BIGINT centi-cents, no
    // float boundary anywhere (the order stats come from the same
    // rank-convention window as trimmed_mean). Four percentiles ride
    // ONE window pass + ONE aggregate per flag.
    "agg_percentile_cont" -> ((s, d) => {
      val W = Window.partitionBy("l_returnflag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
      val li = TestData.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long")
            .as("cents"))
        .withColumn("rn", row_number().over(W).cast("long"))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("l_returnflag")))
      val ks = Seq(25, 50, 75, 90)
      val aggs = max("n").as("n_rows") +: ks.flatMap { k =>
        Seq(
          max(when(col("rn") ===
            expr(s"((n - 1) * $k) DIV 100 + 1"), col("cents")))
            .as(s"lo$k"),
          max(when(col("rn") ===
            expr(s"((n - 1) * $k) DIV 100 + 1"
              + s" + (CASE WHEN ((n - 1) * $k) % 100 > 0"
              + " THEN 1 ELSE 0 END)"), col("cents"))).as(s"hi$k"),
          max(expr(s"((n - 1) * $k) % 100")).as(s"rem$k"))
      }
      val base = li.groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
      ks.foldLeft(base) { (df, k) =>
        df.withColumn(s"p${k}_x100",
          lit(100L) * col(s"lo$k")
            + col(s"rem$k") * (col(s"hi$k") - col(s"lo$k")))
      }
        .select((col("l_returnflag") +: col("n_rows") +:
          ks.map(k => col(s"p${k}_x100"))): _*)
        .orderBy("l_returnflag")
    }),

    // TRIMMED MEAN (round 10): the winsorized mean's sibling — DROP
    // the tails outside the exact p05/p95 order statistics instead
    // of clamping them (the robust-metrics pair every platform
    // offers; trimming discards tail mass, winsorizing caps it —
    // reporting both bounds the tail influence). Same rank-convention
    // cut table, broadcast back; kept-row mean in exact integer cents
    // until the final r4 division.
    "agg_trimmed_mean" -> ((s, d) => {
      val li = flagCents(s, d)
      val cuts = flagCentsCuts(li, "(n + 1) DIV 20", "p05_cents", "(19 * (n + 1)) DIV 20", "p95_cents")
      li.join(broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(max("n_rows").as("n_rows"),
          max("p05_cents").as("p05_cents"),
          max("p95_cents").as("p95_cents"),
          sum(when(col("cents").between(col("p05_cents"), col("p95_cents")),
            1L).otherwise(0L)).as("n_kept"),
          sum(when(col("cents").between(col("p05_cents"), col("p95_cents")),
            col("cents")).otherwise(0L)).as("kept_cents"),
          r4(sum("cents").cast("double") / count(lit(1))).as("mean_cents"))
        .withColumn("trimmed_mean_cents",
          r4(col("kept_cents").cast("double") / col("n_kept")))
        .select("l_returnflag", "n_rows", "n_kept", "p05_cents",
          "p95_cents", "mean_cents", "trimmed_mean_cents")
        .orderBy("l_returnflag")
    }),

    // KENDALL τ-b (round 10): the concordance-based rank correlation
    // published next to Spearman ρ when the reader wants a pair-level
    // probability interpretation ("how often do two random rows order
    // the same way on qty and discount"). NEVER pairwise at corpus
    // grain: the corpus folds to the same JOINT (qty, discount) cell
    // grid as agg_spearman_rho (≤ 50·11 cells per flag — the bounded
    // attribute DOMAINS), and concordant/discordant counts come from
    // ONE theta self-join over that grid (grid² ≤ 3·550² rows at ANY
    // corpus size — the ts_mann_kendall time-grid precedent). Tie
    // terms n1/n2 from the marginals; tx·(tx−1) is always even so
    // DIV 2 is exact. Bounds: C, D ≤ n²/2 < 2^63 for n ≲ 4.2e9 rows
    // per flag; the (n0−n1)·(n0−n2) product under the √ would hit
    // ~n⁴, so the √ multiplies DOUBLES (mirrored op order, r4).
    "agg_kendall_tau" -> ((s, d) => {
      val li = TestData.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          floor(col("l_quantity") + 0.5).cast("long").as("qx"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("qy"))
      kendallTauCore(li)
    }),

    // ONE-WAY ANOVA F (round 10): does document length differ by
    // language — the k-group mean-difference gate that runs before
    // any per-language length normalization is tuned. Everything is
    // sufficient statistics: one map-side-combining pass computes
    // per-group (n, Σx, Σx²) exact BIGINTs (x = n_chars; Σx² is
    // exact to ~9e18/max(x²) ≈ 1e11 rows at x ~ 1e4 — documented,
    // past that pre-scale x). The only divisions (sx²/n per group)
    // happen on the ≤ dozens-of-groups readout, each term quantized
    // to WHOLE units before the cross-group sum (entropy/PSI
    // precedent; unit choice documented: term < 2^63 needs
    // mean²·n_g < 9.2e18). F assembled once in doubles, r4.
    // HUBER M-ESTIMATOR (round 14): the robust location estimate
    // completing the family — median (fully robust, throws away
    // magnitude), trimmed/winsorized (fixed cut fractions), and now
    // Huber (adaptive: inliers contribute their VALUE, outliers clip
    // to a MAD-scaled bound — the statistics a balance/revenue
    // dashboard wants when tails are real but heavy). 3 UNROLLED
    // clipped-mean rounds per market segment: m_k = round(mean(
    // clip(y, m_{k−1} ± h))), h = round(1.345·1.4826·MAD) cents;
    // m_0 = the lower median, both order statistics via the
    // trimmed-mean rank convention (windows PARTITIONED by segment).
    // Determinism: cents in, every mean is an EXACT long-sum divide
    // (avg over BIGINT in both engines), every m_k re-quantized to
    // integer cents by the negative-safe IEEE floor(x+0.5). MAD = 0
    // ⇒ h = 0 ⇒ the recursion is a fixpoint at the median — no
    // division, no guard needed. One-outlier insensitivity
    // (|Δhuber| ≤ 3h/n + rounding vs the mean's unbounded shift)
    // pinned in ClosedFormProps on the same recursion.
    "agg_huber_mean" -> ((s, d) =>
      huberMean(TestData.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          col("c_custkey").as("tie"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents")))
        .orderBy("seg")),

    // DESIGN EFFECT (round 14): ICC + Kish DEFF over the natural
    // nation clustering of customer balances — the number that
    // prices `sample_two_stage`'s cluster draws ("how much does
    // sampling whole clusters inflate variance vs SRS"; n_effective
    // = n/DEFF is the sample-size answer every survey plan needs).
    // Pure ANOVA sufficient statistics (the agg_anova_f machinery:
    // per-cluster (n, Σy, Σy²) exact BIGINTs in cents, divisions
    // once on the 1-row readout): ICC = (MSB − MSW)/(MSB +
    // (m0 − 1)·MSW) with the unequal-cluster m0 = (N − Σn²/N)/(k−1),
    // DEFF = 1 + (m̄ − 1)·ICC on the r4'd ICC. Bound: Σy² in cents —
    // fine to ~9e6 units at 1e6-cent balances; switch to whole
    // dollars past that (the ratio_estimator precedent). Guards:
    // k ≤ 1, N ≤ k, or a non-positive ICC denominator ⇒ NULL.
    // Planted perfect-clustering ICC ≈ 1 / shuffled ICC ≈ 0 pinned
    // in PropertySpec via the generic core.
    "agg_design_effect" -> ((s, d) =>
      designEffect(TestData.customer(s, d)
        .select(col("c_nationkey").as("cluster"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("y")))),

    "agg_anova_f" -> ((s, d) => anovaFCore(TestData.documents(s, d))),

    // ANOVA EFFECT SIZES (round 16): the F statistic says WHETHER
    // language means differ; η² = SSB/SST says HOW MUCH of the
    // variance the grouping explains (the number a curation decision
    // actually needs — a significant-but-η²=0.01 effect is ignorable
    // at corpus scale), with the small-sample-honest ω² =
    // (SSB − (k−1)·MSW)/(SST + MSW) (can be ≤ 0 — reported, not
    // clipped) and Cohen's f = √(η²/(1−η²)) for power work. Same
    // exact sufficient stats as agg_anova_f, three mirrored readout
    // divisions on the 1-row frame.
    "agg_eta_squared" -> ((s, d) => {
      anovaSums(TestData.documents(s, d), "n_chars")
        .withColumn("sst", col("ssb") + col("ssw"))
        .withColumn("msw", when(col("n_total") > col("k_groups"),
          col("ssw") / (col("n_total") - col("k_groups")).cast("double")))
        .withColumn("eta2", when(col("sst") > 0,
          r4(col("ssb") / col("sst"))))
        .withColumn("omega2", when(col("msw").isNotNull
            && col("sst") + col("msw") > 0,
          r4((col("ssb") - (col("k_groups") - 1).cast("double")
            * col("msw")) / (col("sst") + col("msw")))))
        .withColumn("cohens_f", when(col("eta2").isNotNull
            && col("eta2") < 1.0 && col("eta2") >= 0.0,
          r4(sqrt(col("eta2") / (lit(1.0) - col("eta2"))))))
        .select("k_groups", "n_total", "eta2", "omega2", "cohens_f")
    }),

    // BROWN–FORSYTHE (LEVENE) TEST (round 13): variance homogeneity
    // across languages — agg_anova_f compares MEANS assuming equal
    // spread; this is the gate that checks the assumption (and a
    // dispersion-difference detector in its own right: same median
    // length, wildly different tails). Brown–Forsythe = one-way
    // ANOVA F on z = |x − median_g| — the median variant is the
    // robust form. Exactness: per-group DOUBLED median m2 =
    // x_(⌈n/2⌉) + x_(⌈(n+1)/2⌉) (the runs-test order-stat trick)
    // keeps z2 = |2x − m2| an exact integer — the ×2 scale cancels
    // in F; ranks via rangedRank (no single-task sort at language
    // skew), then the agg_anova_f sufficient-stats assembly verbatim
    // on z2 (whole-unit t_u terms, readout-only divisions, k ≤ 1 /
    // ssw ≤ 0 guards). Bound: z2² ≤ (2·max x)² per row — Σ exact to
    // ~5e9 rows at x ~ 2e4, documented.
    "agg_levene_test" -> ((s, d) => {
      val ranked = graft.operators.Curation.rangedRank(
        TestData.documents(s, d).select("lang", "n_chars", "doc_id"),
        "lang", Seq(col("n_chars"), col("doc_id")), "rk")
        .ckpt() // three consumers: sizes + lo/hi picks + z
      val sizes = ranked.groupBy("lang").agg(count(lit(1)).as("n_l"))
        .withColumn("r_lo", expr("(n_l + 1) DIV 2"))
        .withColumn("r_hi", expr("(n_l + 2) DIV 2"))
      val lo = ranked.join(
          broadcast(sizes.select(col("lang").as("ll"), col("r_lo"))),
          col("lang") === col("ll") && col("rk") === col("r_lo"))
        .select(col("lang"), col("n_chars").as("v_lo"))
      val hi = ranked.join(
          broadcast(sizes.select(col("lang").as("lh"), col("r_hi"))),
          col("lang") === col("lh") && col("rk") === col("r_hi"))
        .select(col("lang"), col("n_chars").as("v_hi"))
      val m2 = lo.join(hi, "lang")
        .select(col("lang"), (col("v_lo") + col("v_hi")).as("m2"))
      anovaSums(ranked.join(broadcast(m2), "lang")
          .withColumn("z2", abs(col("n_chars") * 2 - col("m2"))), "z2")
        .withColumn("bf_stat", anovaFStat)
        .select(col("k_groups"), col("n_total"), col("t_sum_u"),
          r4(col("ssb")).as("ssb"), r4(col("ssw")).as("ssw"),
          col("bf_stat"))
    }),

    // KRUSKAL-WALLIS H (round 13): the k-group generalization of the
    // Mann-Whitney U — does document length DISTRIBUTION differ by
    // language when tails make agg_anova_f's means untrustworthy.
    // The whole corpus folds to the VALUE-DISTINCT cell grid (lang ×
    // n_chars cells, then the n_chars value domain for ranks — the
    // agg_mann_whitney move at k groups): midranks come from one
    // domain-grid window as DOUBLED integers R2(v) = 2·cum<(v) +
    // c(v) + 1 (the Spearman doubling — ties stay exact), per-group
    // rank sums R2_g = Σ cnt·R2 are exact BIGINTs, and each group's
    // R_g²/n_g term is quantized to a whole unit at the k-row
    // readout (the anova t_u pattern; term = R2_g²/n_g, the ×4
    // deferred to the H assembly). Tie correction Σ(t³−t) reuses the
    // MW per-cell 2^21 cube guard (overflow ⇒ NULL, never a wrap).
    // Bounds: cnt·R2 ≤ 2N·n_g per cell ⇒ R2_g exact to N ≲ 2e9 rows
    // (documented); R2_g² runs in IEEE doubles, mirrored op order.
    // All-one-value corpus ⇒ tie denom 0 ⇒ H NULL in both engines.
    "agg_kruskal_wallis" -> ((s, d) => {
      val tieLim = lit(TieCubeCap)
      val (rankSums, ties) = langMidrankSums(s, d)
      val groups = rankSums
        .withColumn("term_u", floor(col("r2_g").cast("double")
          * col("r2_g").cast("double") / col("n_g").cast("double") + 0.5)
          .cast("long"))
      groups
        .agg(count(lit(1)).as("k_groups"), sum("n_g").as("n_total"),
          sum("term_u").as("t_sum_u"))
        .crossJoin(ties)
        .withColumn("tie_sum", when(col("c_max") < tieLim, col("tie_raw")))
        // n_total = 1 ⇒ N³−N = 0: the tie-denominator division is an
        // ANSI double x/0 throw in Spark, NULL in DuckDB — guard at
        // the DEFINITION site (DegenerateSpec discipline).
        .withColumn("tie_denom", when(col("n_total") > 1,
          lit(1.0) - col("tie_sum").cast("double")
            / (col("n_total").cast("double") * col("n_total").cast("double")
              * col("n_total").cast("double")
              - col("n_total").cast("double"))))
        .withColumn("h_stat", when(
          col("k_groups") > 1 && col("tie_denom") > 0,
          r4((lit(12.0) / (col("n_total").cast("double")
              * (col("n_total") + 1).cast("double"))
            * (col("t_sum_u").cast("double") / 4.0)
            - lit(3.0) * (col("n_total") + 1).cast("double"))
            / col("tie_denom"))))
        .select("k_groups", "n_total", "t_sum_u", "tie_sum", "h_stat")
    }),

    // DUNN POST-HOC (round 13): the pairwise follow-up to
    // agg_kruskal_wallis — KW says "SOME language differs"; Dunn says
    // WHICH pairs, on the same pooled midranks, with a Bonferroni
    // family correction. Same value-grid machinery (doubled midranks
    // off the domain-bounded grid, exact BIGINT per-group rank sums);
    // z_ij = (R̄_i − R̄_j)/√(V(1/n_i + 1/n_j)) with the tie-corrected
    // V = (N(N+1) − Σ(t³−t)/(N−1))/12 assembled once in mirrored
    // doubles, and the k²-sized pair frame comes from one theta
    // self-join of the k-row group table. The Bonferroni decision is
    // ALL-INTEGER: p is the same exp-approximation micro-unit the
    // Welch readout uses, and significance is p_micro·n_pairs <
    // 50000 (α = 0.05) — integer cross-multiplication, no float
    // boundary. Tie-cube overflow or N ≤ 1 ⇒ NULL z (never a throw).
    "agg_dunn_posthoc" -> ((s, d) => {
      val tieLim = lit(TieCubeCap)
      val (rankSums, ties) = langMidrankSums(s, d)
      val groups = rankSums.ckpt() // self-joined for pairs + the N rollup
      val tot = groups.agg(sum("n_g").as("n_total"),
        count(lit(1)).as("k_groups"))
      val nD = col("n_total").cast("double")
      val pairs = groups.select(col("lang").as("lang_a"),
          col("n_g").as("n_a"), col("r2_g").as("r2_a"))
        .join(groups.select(col("lang").as("lang_b"),
          col("n_g").as("n_b"), col("r2_g").as("r2_b")),
          col("lang_a") < col("lang_b"))
        .crossJoin(broadcast(ties)).crossJoin(broadcast(tot))
      pairs
        .withColumn("tie_sum", when(col("c_max") < tieLim, col("tie_raw")))
        .withColumn("v_pool", when(col("n_total") > 1,
          (nD * (col("n_total") + 1).cast("double")
            - col("tie_sum").cast("double")
              / (col("n_total") - 1).cast("double")) / 12.0))
        .withColumn("z", when(col("v_pool") > 0,
          r4(((col("r2_a").cast("double") / col("n_a").cast("double")
            - col("r2_b").cast("double") / col("n_b").cast("double"))
            / 2.0)
            / sqrt(col("v_pool")
              * (lit(1.0) / col("n_a").cast("double")
                + lit(1.0) / col("n_b").cast("double"))))))
        .withColumn("p_micro", when(col("z").isNotNull,
          floor(least(lit(1.0), lit(2.0)
            * exp(lit(-0.717) * abs(col("z"))
              - lit(0.416) * col("z") * col("z"))) * 1000000 + 0.5)
            .cast("long")))
        .withColumn("n_pairs",
          expr("k_groups * (k_groups - 1) DIV 2"))
        .withColumn("significant", when(col("p_micro").isNotNull,
          col("p_micro") * col("n_pairs") < 50000L))
        .select("lang_a", "lang_b", "n_a", "n_b", "z", "p_micro",
          "significant")
        .orderBy("lang_a", "lang_b")
    }),

    // JONCKHEERE-TERPSTRA (round 13): the ORDERED-alternative k-group
    // trend test — Kruskal-Wallis asks "do the groups differ AT ALL";
    // J-T asks "do they INCREASE along a known ordering" (here:
    // account balance across the ordinal nation index), with far more
    // power when the ordering is real. J = Σ_{g<g'} U(g,g') would be
    // k² Mann-Whitney passes; instead the whole statistic is ONE
    // 2-D dominance prefix over the COMPLETED (group × value) grid:
    // J2 = Σ_cells c·(2·T_lt + S_eq), T_lt(v,g) = Σ_{w<v,g'<g} c —
    // two stacked windows (value order within group, then group order
    // within value), every term an exact BIGINT. The grid is
    // domain-bounded: distinct cents values × k groups (the cramers_v
    // zero-cell completion move — absent cells must contribute their
    // cumulative position). Doubling keeps tie half-counts integer:
    // E[J2] = (N² − Σn²) DIV 2 is exact (the difference is even).
    // The tie-corrected variance assembles three guarded BIGINT sums
    // (per-group and per-value cubes under a 2^20 cap — overflow ⇒
    // NULL z, never a wrap) in mirrored doubles at the 1-row readout.
    "agg_jonckheere_terpstra" -> ((s, d) => {
      val lim = lit(1048576L) // 2^20: 2n³ < 2^63 per group/value
      val cu = TestData.customer(s, d)
        .select(col("c_nationkey").cast("long").as("g"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("v"))
      val cells = cu.groupBy("g", "v").agg(count(lit(1)).as("c"))
        .ckpt() // grid completion + two marginal rollups
      val grid = cells.select("v").distinct()
        .crossJoin(broadcast(cells.select("g").distinct()))
        .join(cells, Seq("g", "v"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wV = Window.partitionBy("g").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wG = Window.partitionBy("v").orderBy("g")
        .rowsBetween(Window.unboundedPreceding, -1)
      val j2 = grid
        .withColumn("cumlt", coalesce(sum("c").over(wV), lit(0L)))
        .withColumn("t_lt", coalesce(sum("cumlt").over(wG), lit(0L)))
        .withColumn("s_eq", coalesce(sum("c").over(wG), lit(0L)))
        .agg(sum(col("c") * (lit(2L) * col("t_lt") + col("s_eq")))
          .as("j2"))
      val gs = cells.groupBy("g").agg(sum("c").as("n_g"))
        .agg(count(lit(1)).as("k_groups"), sum("n_g").as("n_total"),
          sum(col("n_g") * col("n_g")).as("sum_n2"),
          sum(when(col("n_g") < lim, col("n_g") * (col("n_g") - 1)
            * (lit(2L) * col("n_g") + 5))).as("g1"),
          sum(when(col("n_g") < lim, col("n_g") * (col("n_g") - 1)
            * (col("n_g") - 2))).as("g2"),
          sum(col("n_g") * (col("n_g") - 1)).as("g3"),
          max("n_g").as("g_max"))
      val vs = cells.groupBy("v").agg(sum("c").as("t_v"))
        .agg(sum(when(col("t_v") < lim, col("t_v") * (col("t_v") - 1)
            * (lit(2L) * col("t_v") + 5))).as("t1"),
          sum(when(col("t_v") < lim, col("t_v") * (col("t_v") - 1)
            * (col("t_v") - 2))).as("t2"),
          sum(col("t_v") * (col("t_v") - 1)).as("t3"),
          max("t_v").as("t_max"))
      val nD = col("n_total").cast("double")
      j2.crossJoin(gs).crossJoin(vs)
        .withColumn("e2",
          expr("(n_total * n_total - sum_n2) DIV 2"))
        .withColumn("var_j", when(
          col("g_max") < lim && col("t_max") < lim && col("n_total") > 2,
          (nD * (nD - 1.0) * (lit(2.0) * nD + 5.0)
            - col("g1").cast("double") - col("t1").cast("double")) / 72.0
            + col("g2").cast("double") * col("t2").cast("double")
              / (lit(36.0) * nD * (nD - 1.0) * (nD - 2.0))
            + col("g3").cast("double") * col("t3").cast("double")
              / (lit(8.0) * nD * (nD - 1.0))))
        .withColumn("z", when(col("var_j") > 0, r4(
          ((col("j2") - col("e2")).cast("double") / 2.0)
            / sqrt(col("var_j")))))
        .select(col("k_groups"), col("n_total"), col("j2"), col("e2"),
          col("sum_n2"), r4(col("var_j")).as("var_j"), col("z"))
    }),

    // WELCH'S t (round 10): the unequal-variance two-sample t on
    // per-user total value — the parametric companion the MW-U /
    // KS readouts are compared against (same md5 variant split,
    // same user-grain fold). Sufficient statistics (n, Σx, Σx²) come
    // EXACTLY from the whole-unit value grid (x ≤ ~1e4 units ⇒ Σx²
    // exact for n ≲ 9e10 users — documented); every division and the
    // Welch–Satterthwaite df happen once on the 1-row readout in
    // mirrored op order, r4. Degenerate guard: either variance 0 ⇒
    // NULL t and df (a constant-metric variant is a broken assign).
    // MEAN-DIFFERENCE CI (round 16): the effect-size interval every
    // A/B readout publishes next to the Welch verdict — t says
    // whether the means differ; this says BY HOW MUCH, with the
    // error bar (diff ± 1.96·SE_Welch at the corpus-scale ∞-df z —
    // the Tukey convention). Same variantUnitCells sufficient stats
    // as agg_welch_t; significance ⇔ 0 outside the interval.
    "agg_mean_diff_ci" -> ((s, d) => {
      twoGroupVars(twoGroupSums(variantUnitCells(s, d)))
        .withColumn("se", when(col("v_c") > 0 && col("v_t") > 0,
          sqrt(col("v_c") / col("n_c").cast("double")
            + col("v_t") / col("n_t").cast("double"))))
        .withColumn("diff", col("m_t") - col("m_c"))
        .select(col("n_c").as("n_control"), col("n_t").as("n_treatment"),
          r4(col("diff")).as("mean_diff"),
          when(col("se").isNotNull,
            r4(col("diff") - lit(1.959964) * col("se"))).as("ci_lo"),
          when(col("se").isNotNull,
            r4(col("diff") + lit(1.959964) * col("se"))).as("ci_hi"),
          when(col("se").isNotNull,
            abs(col("diff")) > lit(1.959964) * col("se"))
            .as("significant_95"))
    }),

    "agg_welch_t" -> ((s, d) => welchTCore(variantUnitCells(s, d))),

    // COHEN'S d / HEDGES' g (round 10): the standardized effect size
    // published NEXT to a significance test — agg_welch_t answers
    // "is the variant different", this answers "by how many pooled
    // standard deviations" (the number a power calculation and a
    // ship/no-ship review actually consume). Same sufficient
    // statistics as Welch from the same whole-unit value grid (n,
    // Σx, Σx² exact BIGINTs; Σx² exact for n ≲ 9e10 users at x ~1e4
    // units — documented). Pooled variance uses the classical
    // (n_c−1)s_c² + (n_t−1)s_t² form; Hedges' small-sample factor is
    // the standard J ≈ 1 − 3/(4N−9) approximation. All divisions on
    // the 1-row readout, mirrored op order, r4. Zero pooled variance
    // ⇒ NULL d and g (a constant metric has no effect scale).
    "agg_cohens_d" -> ((s, d) => cohensDCore(variantUnitCells(s, d))),

    // TWO-REGRESSOR OLS (round 11): l_extendedprice ~ quantity +
    // discount per return flag — the most-asked analytics question
    // agg_corr_regr's single regressor can't answer ("how much does
    // each driver contribute, holding the other fixed"). Pure
    // sufficient statistics: ONE map-side-combining pass → per-group
    // (n, Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2, Σx1y, Σx2y, Σy²) exact
    // BIGINTs in whole-dollar/unit quantization (Σy² ≈ 7.4e14/flag
    // at sf0.1; bound n·max(y)² < 2^63 ⇒ n ≲ 8e8 rows/flag at
    // y ≤ 1.1e5 — past that pre-scale y, documented). The normal
    // equations UNROLL to Cramer's rule on the centered 2×2 system —
    // a closed form over the sufficient stats, assembled ONCE per
    // ≤3-row readout in mirrored IEEE op order, r4. Guards:
    // det = 0 (collinear regressors) ⇒ NULL betas/intercept/R²;
    // Syy = 0 (constant response) ⇒ NULL R².
    "agg_ols_multi" -> ((s, d) => olsTwoCore(
      TestData.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          floor(col("l_quantity") + 0.5).cast("long").as("x1"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("x2"),
          floor(col("l_extendedprice") + 0.5).cast("long").as("y")))),

    // COCHRAN'S Q (round 13): the k-treatment extension of McNemar —
    // do the three funnel actions (click, purchase, error) have the
    // same per-user incidence, with each user as their own block.
    // The identity Q = (k−1)(k·ΣG_j² − T²)/(k·T − ΣL_i²) keeps
    // EVERYTHING integer until one readout division: G_j = users
    // doing action j, L_i = per-user action count, T = ΣG = ΣL.
    // Universe = users with ≥1 of the three actions — an all-zero
    // row adds 0 to every term (and an all-k row adds k² to both
    // k·T and ΣL²), so Q is invariant to the universe choice;
    // documented rather than completed with a users-dimension join.
    // One user-sharded fold, a 1-row readout; G² ≤ n² exact to
    // ~3e9 users. All-concordant rows ⇒ denominator 0 ⇒ NULL.
    "agg_cochran_q" -> ((s, d) => {
      val b = TestData.events(s, d)
        .filter(col("event_type").isin("click", "purchase", "error"))
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("b1"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("b2"),
          max(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("b3"))
      val l = col("b1") + col("b2") + col("b3")
      b.agg(count(lit(1)).as("n_users"),
          sum("b1").as("g1"), sum("b2").as("g2"), sum("b3").as("g3"),
          sum(l * l).as("l2_sum"))
        .withColumn("t_total", col("g1") + col("g2") + col("g3"))
        .withColumn("q_num", lit(2L)
          * (lit(3L) * (col("g1") * col("g1") + col("g2") * col("g2")
            + col("g3") * col("g3"))
            - col("t_total") * col("t_total")))
        .withColumn("q_den", lit(3L) * col("t_total") - col("l2_sum"))
        .withColumn("q_stat", when(col("q_den") > 0,
          r4(col("q_num").cast("double") / col("q_den").cast("double"))))
        .select("n_users", "g1", "g2", "g3", "t_total", "l2_sum",
          "q_num", "q_den", "q_stat")
    }),

    // FRIEDMAN TEST (round 13): the within-block RANK companion to
    // agg_cochran_q — Cochran asks "same incidence" on binary flags,
    // Friedman asks "same MAGNITUDE ordering" on the three per-user
    // action COUNTS, robust to users whose overall volume differs by
    // orders of magnitude (each user is ranked against only itself).
    // k = 3 treatments ⇒ the within-row midranks are a CLOSED FORM:
    // R2_j = 2·#{l: x_l<x_j} + #{l: x_l=x_j} + 1 (doubled — ties stay
    // integer; ΣR2 = 12 per row by construction). The tie-corrected
    // statistic collapses to all-integers: χ² = 2·Σ_j(R2_j − 4n)² /
    // (A2 − 48n) with A2 = ΣR2², one division at the 1-row readout.
    // Fully-tied rows shift every term equally ⇒ χ² is invariant to
    // the all-zero-user universe choice (documented, as cochran_q).
    // All-rows-fully-tied ⇒ denominator 0 ⇒ NULL. Bound: Σ(R2−4n)²
    // ≤ 12n² ⇒ exact to n ≲ 8e8 users, documented.
    "agg_friedman_test" -> ((s, d) => {
      userActionRanks(s, d, "click", "purchase", "error")
        .agg(count(lit(1)).as("n_users"),
          sum("r1").as("rs1"), sum("r2").as("rs2"), sum("r3").as("rs3"),
          sum(col("r1") * col("r1") + col("r2") * col("r2")
            + col("r3") * col("r3")).as("a2"))
        .withColumn("chi2_num", lit(2L)
          * ((col("rs1") - lit(4L) * col("n_users"))
              * (col("rs1") - lit(4L) * col("n_users"))
            + (col("rs2") - lit(4L) * col("n_users"))
              * (col("rs2") - lit(4L) * col("n_users"))
            + (col("rs3") - lit(4L) * col("n_users"))
              * (col("rs3") - lit(4L) * col("n_users"))))
        .withColumn("chi2_den", col("a2") - lit(48L) * col("n_users"))
        .withColumn("chi2_f", when(col("chi2_den") > 0,
          r4(col("chi2_num").cast("double")
            / col("chi2_den").cast("double"))))
        .select("n_users", "rs1", "rs2", "rs3", "a2",
          "chi2_num", "chi2_den", "chi2_f")
    }),

    // PAGE TREND TEST (round 13): the ORDERED-alternative version of
    // agg_friedman_test — Friedman asks "do the three actions differ
    // per user at all"; Page asks "do per-user counts INCREASE along
    // the funnel order view < click < purchase", the within-block
    // analog of what Jonckheere-Terpstra does across groups. L2 =
    // Σ_j j·R2_j over the same closed-form doubled within-row
    // midranks. The variance is NOT the textbook no-tie constant:
    // under row-wise permutation exchangeability the EXACT
    // tie-aware conditional moments collapse to E[L2] = 24n and
    // Var(L2) = A2 − 48n — the same A2 = ΣR2² as Friedman's
    // denominator (for k = 3: Σj² = 14, Σ_{j≠j'}jj' = 22, ΣR2 = 12
    // per row ⇒ per-row variance Q4 − 48; property-pinned in
    // ClosedFormProps by exhaustive 3! permutation). All integers
    // until the final z; fully-tied rows cancel in BOTH moments ⇒
    // universe-invariant; all-tied corpus ⇒ Var 0 ⇒ NULL z.
    "agg_page_trend" -> ((s, d) => {
      userActionRanks(s, d, "view", "click", "purchase")
        .agg(count(lit(1)).as("n_users"),
          sum(col("r1") + lit(2L) * col("r2") + lit(3L) * col("r3"))
            .as("l2"),
          sum(col("r1") * col("r1") + col("r2") * col("r2")
            + col("r3") * col("r3")).as("a2"))
        .withColumn("e2", lit(24L) * col("n_users"))
        .withColumn("var_l2", col("a2") - lit(48L) * col("n_users"))
        .withColumn("z", when(col("var_l2") > 0,
          r4((col("l2") - col("e2")).cast("double")
            / sqrt(col("var_l2").cast("double")))))
        .select("n_users", "l2", "e2", "var_l2", "z")
    }),

    // McNEMAR PAIRED TEST (round 11): did users' purchase behavior
    // change between the first and second half of the observation
    // window — the PAIRED nominal test (each user is their own
    // control) the unpaired quartet can't answer. Split point =
    // (min+max)/2 of event time (one scalar probe, broadcast);
    // per-user (purchased-in-H1, purchased-in-H2) flags fold
    // user-sharded; χ² = (b−c)²/(b+c) over the discordant counts —
    // EXACT integers until one final division (no transcendental at
    // all). b+c = 0 (no discordant users) ⇒ NULL χ²/verdict.
    "agg_mcnemar" -> ((s, d) => {
      val ev = TestData.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
      val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) DIV 2").as("mid"))
      ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase"
            && col("ts_us") < col("mid"), 1).otherwise(0)).as("a1"),
          max(when(col("event_type") === "purchase"
            && col("ts_us") >= col("mid"), 1).otherwise(0)).as("a2"))
        .agg(
          sum(when(col("a1") === 1 && col("a2") === 1, 1L).otherwise(0L))
            .as("n_11"),
          sum(when(col("a1") === 1 && col("a2") === 0, 1L).otherwise(0L))
            .as("n_10"),
          sum(when(col("a1") === 0 && col("a2") === 1, 1L).otherwise(0L))
            .as("n_01"),
          sum(when(col("a1") === 0 && col("a2") === 0, 1L).otherwise(0L))
            .as("n_00"))
        .withColumn("chi2", when(col("n_10") + col("n_01") > 0,
          r4(((col("n_10") - col("n_01"))
              * (col("n_10") - col("n_01"))).cast("double")
            / (col("n_10") + col("n_01")).cast("double"))))
        .withColumn("significant_95",
          when(col("n_10") + col("n_01") > 0, col("chi2") > 3.841459))
        .select("n_11", "n_10", "n_01", "n_00", "chi2",
          "significant_95")
    }),

    // EXACT McNEMAR (round 15 continuation): the asymptotic χ²
    // above is silently wrong exactly where paired designs need it
    // most (few discordant users — the b+c that drives the test is
    // routinely tiny even on a huge corpus). Discordant users map to
    // ±1 deltas (H1-only purchase = +1, H2-only = −1; concordant
    // users are the zeros the chain drops), then the EXACT
    // Binomial(b+c, ½) sign-test machinery — its FIFTH reuse — gives
    // the p the χ² approximates: k_pos reads b, n_nonzero reads
    // b+c. Identical output contract to agg_sign_test.
    "agg_mcnemar_exact" -> ((s, d) => {
      val ev = TestData.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
      val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) DIV 2").as("mid"))
      signTestExact(ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase"
            && col("ts_us") < col("mid"), 1L).otherwise(0L)).as("a1"),
          max(when(col("event_type") === "purchase"
            && col("ts_us") >= col("mid"), 1L).otherwise(0L)).as("a2"))
        .withColumn("d_w", col("a1") - col("a2"))
        .select("d_w"))
    }),

    // DECISION STUMP (round 15 continuation): the 1-split learner —
    // "what single activity threshold best separates heavy
    // purchasers", the interpretable baseline every fitted model
    // (agg_logistic_irls) should beat, and the primitive a
    // distributed tree learner evaluates millions of times. Candidate
    // cuts live on the value-DISTINCT grid (never user count): one
    // cumulative window over the ordered cells gives every cut's
    // (pos≤, neg≤) exactly; each cut's information gain is ONE
    // mirrored expression of guarded p·ln(p) terms, quantized to
    // integer micro-nats as the argmax sort key (float argmax flips
    // across engines — the pagerank lesson); the winner is a
    // TakeOrderedAndProject, never a rank window. Max-x cut excluded
    // (empty right child). Emits the best threshold, its gain and
    // the stump's training accuracy (exact-integer majority counts).
    "agg_decision_stump" -> ((s, d) => {
      val u = TestData.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("np"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"))
        .select(when(col("np") >= 14, 1L).otherwise(0L).as("y"),
          col("x"))
      decisionStumpCore(u)
    }),

    // PAIRED t (round 11): the continuous sibling of agg_mcnemar —
    // per-user H1-vs-H2 value difference, t = mean(d)/(sd(d)/√n).
    // Differences quantized to WHOLE units via the IEEE-floor
    // quantizer (negative-safe — the r11 variantUnitCells rule)
    // BEFORE the sufficient-statistic sums, so Σd/Σd² are exact
    // BIGINTs (n·max(d)² < 2^63 ⇒ n ≲ 9e14/max(d)² users —
    // documented); one mirrored readout, r4. n ≤ 1 or zero variance
    // ⇒ NULL t.
    "agg_paired_t" -> ((s, d) => pairedTCore(pairedUserDeltas(s, d))),

    // BENJAMINI-HOCHBERG FDR (round 11): the multiple-testing layer
    // every segment-level experiment readout needs — 25 per-nation
    // variant tests at α = 0.05 expect ~1 false positive; BH's
    // step-up rule (largest k with p_(k) ≤ k·q/m, q = 0.10) is the
    // standard FDR control. The per-nation test is a Welch z on
    // per-customer total spend (whole dollars via the IEEE-floor
    // quantizer; n·max(x)² < 2^63 ⇒ n ≲ 3.7e5 customers/nation at
    // x ≲ 5e6 — document/pre-scale past that) under the md5
    // customer-key split. p from |z| via the Lin (1989) exponential
    // approximation 2·exp(−0.717|z| − 0.416z²) — exp is the ONLY
    // transcendental, mirrored op order, micro-quantized. The
    // step-up is integer-exact: p_u·m ≤ k·100000 cross-multiplied
    // (q·1e6 = 1e5), k_max via one window max over the NATION-sized
    // grid. Degenerate nations (one-sided split, zero variance) get
    // NULL z/p and drop out of m. Monotone step-up property pinned
    // in ClosedFormProps.
    // MANY-VS-CONTROL COMPARISONS (round 17): the Dunnett-style
    // question — "which nations differ from the REFERENCE nation in
    // customer spend" — with Bonferroni family-wise control (the
    // exact Dunnett distribution needs correlation-adjusted tables;
    // Bonferroni is the standard conservative closed form, and the
    // critical value comes from INVERTING the Lin p≈2e^(−0.717z
    // −0.416z²) approximation the p-value family already uses:
    // z* = (−0.717 + √(0.717² − 4·0.416·ln(p*/2)))/(2·0.416) with
    // p* = α/k — sqrt is the only non-arithmetic op, mirrored).
    // Per-nation Welch z vs nation 0 from exact whole-dollar
    // sufficient stats (the bh_fdr quantizer); k counts the defined
    // comparisons. Bonferroni-vs-percomparison containment pinned.
    "agg_many_vs_control" -> ((s, d) => {
      val stats = TestData.orders(s, d)
        .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5)
          .cast("long"))
        .groupBy("o_custkey").agg(sum("cents").as("sum_cents"))
        .withColumn("x",
          floor(col("sum_cents").cast("double") / 100.0).cast("long"))
        .join(TestData.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey").cast("long")
            .as("nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("nationkey")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("m",
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("v", when(col("n") > 1,
          (col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")
              / col("n").cast("double"))
            / (col("n") - 1).cast("double")))
        .ckpt() // the control row + the comparison rows
      val ctrl = stats.filter(col("nationkey") === 0)
        .select(col("n").as("n0"), col("m").as("m0"),
          col("v").as("v0"))
      val cmp = stats.filter(col("nationkey") =!= 0)
        .crossJoin(broadcast(ctrl))
        .withColumn("z", when(col("v") > 0 && col("v0") > 0,
          r4((col("m") - col("m0"))
            / sqrt(col("v") / col("n").cast("double")
              + col("v0") / col("n0").cast("double")))))
      val k = cmp.agg(
        sum(when(col("z").isNotNull, 1L).otherwise(0L)).as("k"))
      cmp.crossJoin(broadcast(k))
        .withColumn("z_crit", when(col("k") > 0,
          r4((lit(-0.717) + sqrt(lit(0.717) * lit(0.717)
            - lit(4.0) * lit(0.416)
              * log(lit(0.05) / col("k").cast("double") / lit(2.0))))
            / (lit(2.0) * lit(0.416)))))
        .withColumn("significant_fw", when(col("z").isNotNull,
          abs(col("z")) > col("z_crit")).otherwise(lit(false)))
        .select(col("nationkey"), col("n"), r4(col("m")).as("mean_x"),
          col("z"), col("k"), col("z_crit"), col("significant_fw"))
        .orderBy("nationkey")
    }),

    "agg_bh_fdr" -> ((s, d) => {
      stepUp(rankedNationPValues(s, d)
        .withColumn("flag", col("p_u").isNotNull
          && col("p_u") * col("m_tests") <= col("rk") * 100000L))
        .select(col("nationkey"), (col("n_c") + col("n_t")).as("n_users"),
          col("z"), col("p_u"), col("rk"), col("significant"))
        .orderBy("nationkey")
    }),

    // BENJAMINI-YEKUTIELI (round 13): BH's dependence-safe sibling —
    // the same step-up over the SAME per-nation Welch-z p-values,
    // with the threshold deflated by the harmonic factor c(m) =
    // Σ_{j≤m} 1/j, which makes FDR control valid under ARBITRARY
    // dependence between the tests (correlated nations are the rule,
    // not the exception, when segments share customers). The harmonic
    // sum is defined in integer MICRO-units as Σ(1e6 DIV j) —
    // computed from the rank rows themselves (one window sum, no
    // literal table) and identical in both engines by integer-DIV
    // construction (documented as the spec). Decision stays all
    // integer: p_u·m·c_micro ≤ rk·1e5·1e6 (α = 0.1, matching BH's) —
    // c_micro is a HARMONIC micro-sum ≈ 1e6·ln(m), so the LHS is
    // bounded by 1e6·m·1e6·ln(m) = 1e12·m·ln(m) < 2^63 for m into
    // the hundreds of millions of tests. BY ⊆ BH
    // rejection containment holds by c(m) ≥ 1.
    "agg_benjamini_yekutieli" -> ((s, d) => {
      stepUp(rankedNationPValues(s, d)
        .withColumn("c_micro",
          sum(when(col("rk") <= col("m_tests"),
            expr("1000000 DIV rk"))).over(Window.partitionBy()))
        .withColumn("flag", col("p_u").isNotNull
          && col("p_u") * col("m_tests") * col("c_micro")
            <= col("rk") * lit(100000L) * lit(1000000L)))
        .select(col("nationkey"), (col("n_c") + col("n_t")).as("n_users"),
          col("z"), col("p_u"), col("rk"), col("c_micro"),
          col("significant"))
        .orderBy("nationkey")
    }),

    // FISHER'S COMBINED TEST (round 16): the other direction of the
    // multiple-testing family — BH/BY/Holm ask WHICH nations moved;
    // Fisher's method asks whether the experiment moved ANYTHING
    // (X² = −2Σln p ~ χ²(2m) pools weak consistent signals the
    // per-test procedures all miss). Same shared per-nation Welch-z
    // p stage. Each ln term is micro-quantized at its definition
    // site (ε-clip p_u ≥ 1 micro — a saturated test would be −∞);
    // the global verdict via the Wilson-Hilferty cube-root normal
    // approximation, expressed as exp(ln(x)/3) (ln/exp are the
    // precedented transcendentals; a bare pow(x, 1/3) is not
    // engine-identical). 1-row readout.
    "agg_fisher_combined" -> ((s, d) =>
      fisherCombinedCore(nationPValues(s, d)
        .filter(col("p_u").isNotNull).select("p_u"))),

    // STOREY π0 (round 16): the fraction of tests that are truly
    // null — BH controls FDR assuming π0 = 1 (all null), which
    // over-corrects exactly when many nations DID move; Storey's
    // λ = ½ estimator π̂0 = #{p > λ}/((1−λ)m) measures the excess
    // mass in the flat half of the p distribution. All integer
    // counts off the same shared p stage; one clamped r4 ratio.
    "agg_storey_pi0" -> ((s, d) =>
      storeyPi0Core(nationPValues(s, d)
        .filter(col("p_u").isNotNull).select("p_u"))),

    // HOLM-BONFERRONI (round 11): the step-DOWN companion to
    // agg_bh_fdr — familywise-error control (α = 0.05) over the SAME
    // per-nation Welch-z p-values: reject in p-ascending order while
    // p_(k) ≤ α/(m−k+1), STOP at the first failure (unlike BH's
    // step-up, a later success cannot rescue earlier ranks).
    // Integer-exact: p_u·(m−k+1) ≤ 50000 cross-multiplied; the stop
    // rank is one window min over the unflagged ranks. Strictly less
    // powerful than BH at matching levels — monotone containment of
    // the rejection sets is the natural cross-key property.
    "agg_holm_bonferroni" -> ((s, d) => {
      holmStepDownCore(nationPValues(s, d), 50000L)
        .select(col("nationkey"), (col("n_c") + col("n_t")).as("n_users"),
          col("z"), col("p_u"), col("rk"), col("significant"))
        .orderBy("nationkey")
    }),

    // ADJUSTED STANDARDIZED RESIDUALS (round 10): the per-cell
    // drill-down behind agg_cramers_v — V says "nationkey and
    // segment are associated", this says WHICH cells drive it
    // (Haberman's adjusted residuals; |adj| > 2 is the usual
    // flag). Same FULL contingency grid (zero cells present via
    // cross-join + left-join), margins via windows over the
    // CELL-sized grid (the cramers_v plan shape — scan below,
    // windows above the bounded grid). Everything is one closed-form
    // double expression per cell from exact BIGINT (cnt, r_i, c_j,
    // n), mirrored op order, r4. Degenerate single-row/column
    // margins (r_i = n or c_j = n) ⇒ NULL residual.
    "agg_contingency_stdres" -> ((s, d) => {
      contingencyMargins(contingencyGrid(nationSegments(s, d)))
        .withColumn("e", (col("r_i") * col("c_j")).cast("double")
          / col("n").cast("double"))
        .withColumn("den2", col("e")
          * (lit(1.0) - col("r_i").cast("double") / col("n").cast("double"))
          * (lit(1.0) - col("c_j").cast("double") / col("n").cast("double")))
        .withColumn("adj_residual", when(col("den2") > 0,
          r4((col("cnt").cast("double") - col("e")) / sqrt(col("den2")))))
        .select(col("nationkey"), col("c_mktsegment"), col("cnt"),
          r4(col("e")).as("expected"), col("adj_residual"))
        .orderBy("nationkey", "c_mktsegment")
    }),

    // MUTUAL INFORMATION (round 10): MI and normalized MI between
    // nationkey and market segment — the information-theoretic
    // association score published next to Cramér's V (V is
    // χ²-normalized; NMI = MI/min(H_r, H_c) is the [0,1] reading a
    // feature-selection pass ranks by). Determinism: the entropy/PSI
    // precedent — every transcendental term is quantized to integer
    // MICRO-NATS before its sum, identical op order in both engines:
    // MI terms cnt·ln(n·cnt/(r_i·c_j)) over PRESENT cells only
    // (cnt = 0 contributes exactly 0), marginal-entropy terms
    // −(m/n)·ln(m/n) over the margins. Bound: cnt·ln(n)·1e6 < 2^63
    // ⇒ n ≲ 2e11 rows (documented; past that drop to milli-nats).
    // One r4 division each at the readout.
    "agg_mutual_information" -> ((s, d) =>
      mutualInformationCore(nationSegments(s, d))),

    // PERMUTATION TEST (round 12): the distribution-free companion
    // to the Welch/MW-U parametric family — p = share of B = 32
    // label permutations whose |mean difference| reaches the
    // observed one (add-one convention: p = (1 + #≥)/(B + 1), so p
    // is never 0 and a zero observed difference reads exactly 1).
    // Permuted arms come from ONE salted md5 per user ('pm|' + id —
    // independent of the observed variant hash by salt) re-mixed
    // per replicate with the bootstrap's odd-multiplier constants
    // (product < 2^60, ANSI-safe; PlanSpec-pinned single-hash-site
    // precedent). The ≥ comparison never touches a float:
    // |s1·n0 − s0·n1|·(n1ᵒn0ᵒ) vs the observed cross-product —
    // exact BIGINTs. Worst-case bound is n³-scaled, not n²:
    // |s1·n0 − s0·n1| ≤ Σ|x|·n and the ×(n1·n0) ≤ n²/4 factor give
    // ~Σ|x|·n³/4 < 2^63 ⇒ ANSI Long overflow begins around
    // ~1.5e4 users at fixture per-user sums (~25k micro-unit-floored
    // values); past that compare in doubles. One-armed
    // replicates are skipped and b_used reported. Shape: user-shard
    // fold → ×B map-side explode → B-group aggregate → 1-row
    // readout. p ∈ [1/(B+1), 1] + zero-diff ⇒ p = 1 pinned in
    // ClosedFormProps.
    "agg_permutation_pvalue" -> ((s, d) => {
      val B = 32
      val pu = TestData.events(s, d)
        .withColumn("v_u", floor(col("value") * 1000000 + 0.5).cast("long"))
        .groupBy("user_id").agg(sum("v_u").as("sum_u"))
        .withColumn("x",
          floor(col("sum_u").cast("double") / 1000000.0).cast("long"))
        .withColumn("t",
          (conv(substring(md5(col("user_id").cast("string")), 1, 2),
            16, 10).cast("int") % 2 =!= 0).cast("long"))
        .withColumn("h28",
          conv(substring(md5(concat(lit("pm|"),
            col("user_id").cast("string"))), 1, 7), 16, 10).cast("long"))
        .ckpt() // two consumers: observed + replicates
      permutationTestCore(pu, B)
    }),

    // POISSON-BOOTSTRAP CI (round 10): the resampling confidence
    // interval for the mean order value — the scale-correct
    // bootstrap (each row draws an independent Poisson(1) replicate
    // weight; no sampling-with-replacement shuffle exists at 100 TB).
    // Seeding: ONE md5 per row folds to a 28-bit base draw; each of
    // the B=32 replicates re-mixes it with an odd multiplicative
    // constant mod 2^28 (product < 2^60 — ANSI-safe) — the md5 is
    // the cost at corpus scale, so it is paid once, not B times
    // (measured 5.4 s → the md5-per-(row,b) form was the bench's
    // slowest key). The uniform feeds the Poisson(1) inverse CDF
    // (9-step literal threshold ladder, capped at 8 — residual mass
    // ~1e-7; the privacy_dp_noise seeded-draw precedent); production
    // swaps the CSPRNG, same plan. Shape: ×B map-side explode →
    // B-group aggregate (partial agg collapses each task to ≤B
    // rows) → order stats over the 32 replicate means
    // (percentile_disc rank convention, stable tie-break on b).
    // Replicate means are quantized (×1e4 cents) before ranking.
    "sample_bootstrap_ci" -> ((s, d) => {
      val B = 32
      val o = TestData.orders(s, d)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      bootstrapCiCore(o, B)
    })
  )

  /** Shared DuckDB CTE reproducing [[variantUnitCells]]. */
  private val CellsCte =
    """WITH pu AS (
      |  SELECT user_id,
      |    sum(floor(value * 1000000 + 0.5)::BIGINT)::BIGINT AS sum_u
      |  FROM events GROUP BY 1),
      |v AS (
      |  SELECT floor(sum_u::DOUBLE / 1000000)::BIGINT AS x,
      |    CASE WHEN ('0x' || substring(md5(user_id::VARCHAR), 1, 2))::INT
      |      % 2 = 0 THEN 'control' ELSE 'treatment' END AS variant
      |  FROM pu),
      |cells AS (
      |  SELECT x,
      |    sum(CASE WHEN variant = 'control' THEN 1 ELSE 0 END)::BIGINT
      |      AS cc,
      |    sum(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END)::BIGINT
      |      AS ct
      |  FROM v GROUP BY 1)""".stripMargin

  /** Shared DuckDB CTE chain reproducing [[nationPValues]] — ends in
    * `pp(nationkey, n_c, n_t, ..., z, p_u)`.
    */
  private val NationPCte =
    """WITH pc AS (
      |  SELECT o_custkey,
      |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT
      |      AS sum_cents
      |  FROM orders GROUP BY 1),
      |pu AS (
      |  SELECT o_custkey,
      |    floor(sum_cents::DOUBLE / 100.0)::BIGINT AS x,
      |    CASE WHEN ('0x' || substring(md5(o_custkey::VARCHAR), 1, 2))
      |      ::INT % 2 = 0 THEN 'control' ELSE 'treatment' END AS variant
      |  FROM pc),
      |j AS (
      |  SELECT c.c_nationkey::BIGINT AS nationkey, pu.x, pu.variant
      |  FROM pu JOIN customer c ON pu.o_custkey = c.c_custkey),
      |cells AS (
      |  SELECT nationkey,
      |    sum(CASE WHEN variant = 'control' THEN 1 ELSE 0 END)::BIGINT
      |      AS n_c,
      |    sum(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END)::BIGINT
      |      AS n_t,
      |    sum(CASE WHEN variant = 'control' THEN x ELSE 0 END)::BIGINT
      |      AS sx_c,
      |    sum(CASE WHEN variant = 'treatment' THEN x ELSE 0 END)::BIGINT
      |      AS sx_t,
      |    sum(CASE WHEN variant = 'control' THEN x * x ELSE 0 END)
      |      ::BIGINT AS sxx_c,
      |    sum(CASE WHEN variant = 'treatment' THEN x * x ELSE 0 END)
      |      ::BIGINT AS sxx_t
      |  FROM j GROUP BY 1),
      |st AS (
      |  SELECT *,
      |    CASE WHEN n_c > 0 THEN sx_c::DOUBLE / n_c::DOUBLE END AS m_c,
      |    CASE WHEN n_t > 0 THEN sx_t::DOUBLE / n_t::DOUBLE END AS m_t,
      |    CASE WHEN n_c > 1 THEN
      |      (sxx_c::DOUBLE - sx_c::DOUBLE * sx_c::DOUBLE / n_c::DOUBLE)
      |        / (n_c - 1)::DOUBLE END AS v_c,
      |    CASE WHEN n_t > 1 THEN
      |      (sxx_t::DOUBLE - sx_t::DOUBLE * sx_t::DOUBLE / n_t::DOUBLE)
      |        / (n_t - 1)::DOUBLE END AS v_t
      |  FROM cells),
      |zz AS (
      |  SELECT *,
      |    CASE WHEN v_c > 0 AND v_t > 0 THEN
      |      floor((m_t - m_c)
      |        / sqrt(v_c / n_c::DOUBLE + v_t / n_t::DOUBLE)
      |        * 10000 + 0.5) / 10000 END AS z
      |  FROM st),
      |pp AS (
      |  SELECT *,
      |    CASE WHEN z IS NOT NULL THEN
      |      floor(least(1.0, 2.0 * exp(-0.717 * abs(z)
      |        - 0.416 * z * z)) * 1000000 + 0.5)::BIGINT END AS p_u
      |  FROM zz)""".stripMargin

  /** Shared DuckDB CTE chain reproducing [[pairedUserDeltas]] —
    * ends in `dw(user_id, d_w)`. Consumed by the round-15 paired
    * tests (the paired_t oracle predates it and stays standalone).
    */
  private val PairedDeltaCte =
    """WITH mid AS (
      |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
      |  FROM events),
      |pu AS (
      |  SELECT user_id,
      |    sum(CASE WHEN epoch_us(ts) < mid THEN
      |      floor(value * 1000000 + 0.5)::BIGINT ELSE 0 END)::BIGINT
      |      AS s1,
      |    sum(CASE WHEN epoch_us(ts) >= mid THEN
      |      floor(value * 1000000 + 0.5)::BIGINT ELSE 0 END)::BIGINT
      |      AS s2
      |  FROM events CROSS JOIN mid GROUP BY 1),
      |dw AS (
      |  SELECT user_id,
      |    floor((s1 - s2)::DOUBLE / 1000000.0)::BIGINT AS d_w
      |  FROM pu)""".stripMargin

  /** The exact-binomial sign-test chain (Fisher ratio-recursion
    * protocol) as a DuckDB CTE suffix expecting a preceding
    * `dw(..., d_w)` CTE — shared by `agg_sign_test` and
    * `events_ab_srm_exact`.
    */
  private val SignTestChainSql =
    """|nk AS (
        |  SELECT count(*)::BIGINT AS n,
        |    coalesce(sum(CASE WHEN d_w > 0 THEN 1 ELSE 0 END), 0)
        |      ::BIGINT AS k_pos
        |  FROM dw WHERE d_w <> 0),
        |grid AS (
        |  SELECT n, k_pos, unnest(range(0, n + 1)) AS j FROM nk),
        |st AS (
        |  SELECT *, CASE WHEN j > 0 THEN
        |      floor(ln((n - j + 1)::DOUBLE / j::DOUBLE)
        |        * 1000000 + 0.5)::BIGINT
        |    ELSE 0 END AS step_u
        |  FROM grid),
        |cu AS (
        |  SELECT *, (sum(step_u) OVER (ORDER BY j
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS lnc_u
        |  FROM st),
        |tm AS (
        |  SELECT *, floor(exp((lnc_u - n * 693147)::DOUBLE / 1000000.0)
        |    * 1000000000 + 0.5)::BIGINT AS term_n
        |  FROM cu),
        |a AS (
        |  SELECT max(n)::BIGINT AS n_nonzero,
        |    max(k_pos)::BIGINT AS k_pos,
        |    sum(CASE WHEN j <= k_pos THEN term_n ELSE 0 END)::BIGINT
        |      AS p_le_nano,
        |    sum(CASE WHEN j >= k_pos THEN term_n ELSE 0 END)::BIGINT
        |      AS p_ge_nano
        |  FROM tm),
        |b AS (
        |  SELECT *, least(1000000000,
        |    2 * least(p_le_nano, p_ge_nano))::BIGINT AS p_two_nano
        |  FROM a)
        |SELECT n_nonzero, k_pos, p_le_nano, p_ge_nano,
        |  floor((p_two_nano / 1000000000.0) * 10000 + 0.5) / 10000
        |    AS p_two,
        |  p_two_nano < 50000000 AS significant_95
        |FROM b""".stripMargin

  /** The stump's guarded two-class entropy as DuckDB SQL — mirrors
    * [[decisionStumpCore]]'s h() token for token.
    */
  private def stumpHSql(a: String, b: String): String =
    s"""(CASE WHEN $a > 0 THEN -($a::DOUBLE / ($a + $b)::DOUBLE)
       |      * ln($a::DOUBLE / ($a + $b)::DOUBLE) ELSE 0.0 END
       |    + CASE WHEN $b > 0 THEN -($b::DOUBLE / ($a + $b)::DOUBLE)
       |      * ln($b::DOUBLE / ($a + $b)::DOUBLE) ELSE 0.0 END)"""
      .stripMargin

  /** One unrolled IRLS round as a DuckDB CTE block (see the
    * `agg_logistic_irls` oracle): `cur`{a,b,c} stage η, the
    * micro-quantized sigmoid and the residual; `cur`{d,e,f}
    * aggregate the micro-floored sufficient stats and assemble the
    * Cramer 3×3; `cur` steps β. Generated so all three rounds are
    * textually identical (the coxRoundSql discipline).
    */
  private def irlsRoundSql(cur: String, prev: String): String =
    s"""${cur}a AS (
       |  SELECT u.*, p.b0, p.b1, p.b2, p.okl,
       |    (p.b0 + p.b1 * u.x1 + p.b2 * u.x2)::BIGINT AS eta_u
       |  FROM u CROSS JOIN $prev p),
       |${cur}b AS (
       |  SELECT *, floor(1.0 / (1.0 + exp(-(eta_u::DOUBLE) / 1000000.0))
       |    * 1000000 + 0.5)::BIGINT AS p_u
       |  FROM ${cur}a),
       |${cur}c AS (
       |  SELECT *, p_u::DOUBLE / 1000000.0 AS pd,
       |    (y * 1000000 - p_u)::BIGINT AS we
       |  FROM ${cur}b),
       |${cur}d AS (
       |  SELECT max(b0)::BIGINT AS pb0, max(b1)::BIGINT AS pb1,
       |    max(b2)::BIGINT AS pb2, max(okl)::BIGINT AS ok_prev,
       |    sum(floor(pd * (1.0 - pd) * 1000000 + 0.5)::BIGINT)::BIGINT
       |      AS sw,
       |    sum(floor(pd * (1.0 - pd) * x1::DOUBLE * 1000000 + 0.5)
       |      ::BIGINT)::BIGINT AS sw1,
       |    sum(floor(pd * (1.0 - pd) * x2::DOUBLE * 1000000 + 0.5)
       |      ::BIGINT)::BIGINT AS sw2,
       |    sum(floor(pd * (1.0 - pd) * x1::DOUBLE * x1::DOUBLE
       |      * 1000000 + 0.5)::BIGINT)::BIGINT AS sw11,
       |    sum(floor(pd * (1.0 - pd) * x1::DOUBLE * x2::DOUBLE
       |      * 1000000 + 0.5)::BIGINT)::BIGINT AS sw12,
       |    sum(floor(pd * (1.0 - pd) * x2::DOUBLE * x2::DOUBLE
       |      * 1000000 + 0.5)::BIGINT)::BIGINT AS sw22,
       |    sum(we)::BIGINT AS r0, sum(we * x1)::BIGINT AS r1,
       |    sum(we * x2)::BIGINT AS r2
       |  FROM ${cur}c),
       |${cur}e AS (
       |  SELECT *, sw::DOUBLE AS a11, sw1::DOUBLE AS a12,
       |    sw2::DOUBLE AS a13, sw11::DOUBLE AS a22, sw12::DOUBLE AS a23,
       |    sw22::DOUBLE AS a33, r0::DOUBLE AS q0, r1::DOUBLE AS q1,
       |    r2::DOUBLE AS q2
       |  FROM ${cur}d),
       |${cur}f AS (
       |  SELECT *,
       |    a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * a23 - a22 * a13) AS det,
       |    q0 * (a22 * a33 - a23 * a23) - a12 * (q1 * a33 - a23 * q2)
       |      + a13 * (q1 * a23 - a22 * q2) AS d0,
       |    a11 * (q1 * a33 - a23 * q2) - q0 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * q2 - q1 * a13) AS d1,
       |    a11 * (a22 * q2 - q1 * a23) - a12 * (a12 * q2 - q1 * a13)
       |      + q0 * (a12 * a23 - a22 * a13) AS d2
       |  FROM ${cur}e),
       |$cur AS (
       |  SELECT
       |    (pb0 + CASE WHEN det != 0 THEN
       |      least(greatest(floor(d0 / det * 1000000 + 0.5)::BIGINT,
       |        -30000000), 30000000) ELSE 0 END)::BIGINT
       |      AS b0,
       |    (pb1 + CASE WHEN det != 0 THEN
       |      least(greatest(floor(d1 / det * 1000000 + 0.5)::BIGINT,
       |        -30000000), 30000000) ELSE 0 END)::BIGINT
       |      AS b1,
       |    (pb2 + CASE WHEN det != 0 THEN
       |      least(greatest(floor(d2 / det * 1000000 + 0.5)::BIGINT,
       |        -30000000), 30000000) ELSE 0 END)::BIGINT
       |      AS b2,
       |    (CASE WHEN det != 0 THEN ok_prev ELSE 0 END)::BIGINT AS okl
       |  FROM ${cur}f)""".stripMargin

  /** One generated Poisson-IRLS round (see [[poissonIrlsCore]]) —
    * mirrors the Scala round token for token: exact micro η, the
    * ±13-clamped exp, exact integer sufficient stats (W = μ), 2×2
    * Cramer step floored to micro and clamped ±30e6.
    */
  private def poissonRoundSql(cur: String, prev: String): String =
    s"""${cur}a AS (
       |  SELECT u.*, p.b0, p.b1, p.okl,
       |    (p.b0 + p.b1 * u.x)::BIGINT AS eta_u
       |  FROM u CROSS JOIN $prev p),
       |${cur}b AS (
       |  SELECT *, floor(exp(least(greatest(eta_u::DOUBLE / 1000000.0,
       |    -13.0), 13.0)) * 1000000 + 0.5)::BIGINT AS mu_u
       |  FROM ${cur}a),
       |${cur}c AS (
       |  SELECT max(b0)::BIGINT AS pb0, max(b1)::BIGINT AS pb1,
       |    max(okl)::BIGINT AS ok_prev,
       |    sum(mu_u)::BIGINT AS sw, sum(mu_u * x)::BIGINT AS sw1,
       |    sum(mu_u * x * x)::BIGINT AS sw11,
       |    sum(y * 1000000 - mu_u)::BIGINT AS r0,
       |    sum((y * 1000000 - mu_u) * x)::BIGINT AS r1
       |  FROM ${cur}b),
       |${cur}d AS (
       |  SELECT *, sw::DOUBLE AS a11, sw1::DOUBLE AS a12,
       |    sw11::DOUBLE AS a22, r0::DOUBLE AS q0, r1::DOUBLE AS q1
       |  FROM ${cur}c),
       |${cur}e AS (
       |  SELECT *, a11 * a22 - a12 * a12 AS det,
       |    q0 * a22 - a12 * q1 AS d0, a11 * q1 - a12 * q0 AS d1
       |  FROM ${cur}d),
       |$cur AS (
       |  SELECT
       |    (pb0 + CASE WHEN det != 0 THEN
       |      least(greatest(floor(d0 / det * 1000000 + 0.5)::BIGINT,
       |        -30000000), 30000000) ELSE 0 END)::BIGINT AS b0,
       |    (pb1 + CASE WHEN det != 0 THEN
       |      least(greatest(floor(d1 / det * 1000000 + 0.5)::BIGINT,
       |        -30000000), 30000000) ELSE 0 END)::BIGINT AS b1,
       |    (CASE WHEN det != 0 THEN ok_prev ELSE 0 END)::BIGINT AS okl
       |  FROM ${cur}e)""".stripMargin

  /** One Gamma-IRLS round as a generated CTE block (mirrors
    * [[gammaIrlsCore]] token for token): constant X'X, micro
    * z = (y−μ)/μ clamped ±1e9, asymmetric η rails (−13, +20),
    * Cramer step floor(d/det + 0.5) clamped ±30e6.
    */
  private def gammaRoundSql(cur: String, prev: String): String =
    s"""${cur}a AS (
       |  SELECT u.*, p.b0, p.b1, p.okl,
       |    (p.b0 + p.b1 * u.x)::BIGINT AS eta_u
       |  FROM u CROSS JOIN $prev p),
       |${cur}b AS (
       |  SELECT *, floor(exp(least(greatest(eta_u::DOUBLE / 1000000.0,
       |    -13.0), 20.0)) * 1000000 + 0.5)::BIGINT AS mu_u
       |  FROM ${cur}a),
       |${cur}z AS (
       |  SELECT *, least(greatest(
       |    floor((y * 1000000 - mu_u)::DOUBLE / mu_u::DOUBLE
       |      * 1000000 + 0.5)::BIGINT,
       |    -1000000000), 1000000000)::BIGINT AS z_u
       |  FROM ${cur}b),
       |${cur}c AS (
       |  SELECT max(b0)::BIGINT AS pb0, max(b1)::BIGINT AS pb1,
       |    max(okl)::BIGINT AS ok_prev,
       |    count(*)::BIGINT AS nn, sum(x)::BIGINT AS sx,
       |    sum(x * x)::BIGINT AS sxx,
       |    sum(z_u)::BIGINT AS r0, sum(z_u * x)::BIGINT AS r1
       |  FROM ${cur}z),
       |${cur}d AS (
       |  SELECT *, nn::DOUBLE AS a11, sx::DOUBLE AS a12,
       |    sxx::DOUBLE AS a22, r0::DOUBLE AS q0, r1::DOUBLE AS q1
       |  FROM ${cur}c),
       |${cur}e AS (
       |  SELECT *, a11 * a22 - a12 * a12 AS det,
       |    q0 * a22 - a12 * q1 AS d0, a11 * q1 - a12 * q0 AS d1
       |  FROM ${cur}d),
       |$cur AS (
       |  SELECT
       |    (pb0 + CASE WHEN det != 0 THEN
       |      least(greatest(floor(d0 / det + 0.5)::BIGINT,
       |        -30000000), 30000000) ELSE 0 END)::BIGINT AS b0,
       |    (pb1 + CASE WHEN det != 0 THEN
       |      least(greatest(floor(d1 / det + 0.5)::BIGINT,
       |        -30000000), 30000000) ELSE 0 END)::BIGINT AS b1,
       |    (CASE WHEN det != 0 THEN ok_prev ELSE 0 END)::BIGINT AS okl
       |  FROM ${cur}e)""".stripMargin

  val oracles: Map[String, String] = Map(
    // ANCOVA mirrored: exact within-group moments, per-group
    // micro-quantized covariances (negative-safe floor), one pooled
    // readout division, adjusted means in identical op order.
    "agg_ancova" ->
      """WITH u AS (
        |  SELECT lang AS g, n_chars AS y,
        |    len(string_split(text, ' '))::BIGINT AS x
        |  FROM documents),
        |grp AS (
        |  SELECT g, count(*)::BIGINT AS n_g, sum(y)::BIGINT AS sy,
        |    sum(x)::BIGINT AS sx, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx
        |  FROM u GROUP BY 1),
        |gq AS (
        |  SELECT *,
        |    floor((n_g * sxy - sx * sy)::DOUBLE / n_g::DOUBLE
        |      * 1000000 + 0.5)::BIGINT AS sxy_u,
        |    floor((n_g * sxx - sx * sx)::DOUBLE / n_g::DOUBLE
        |      * 1000000 + 0.5)::BIGINT AS sxx_u
        |  FROM grp),
        |tot AS (
        |  SELECT sum(n_g)::BIGINT AS nn, sum(sx)::BIGINT AS sx_all,
        |    sum(sxy_u)::BIGINT AS ssxy_u, sum(sxx_u)::BIGINT AS ssxx_u
        |  FROM gq)
        |SELECT g, n_g,
        |  floor(sy::DOUBLE / n_g::DOUBLE * 10000 + 0.5) / 10000
        |    AS mean_y,
        |  floor(sx::DOUBLE / n_g::DOUBLE * 10000 + 0.5) / 10000
        |    AS mean_x,
        |  CASE WHEN ssxx_u > 0 THEN
        |    floor(ssxy_u::DOUBLE / ssxx_u::DOUBLE * 10000 + 0.5) / 10000
        |    END AS slope_within,
        |  CASE WHEN ssxx_u > 0 THEN
        |    floor((sy::DOUBLE / n_g::DOUBLE
        |      - (ssxy_u::DOUBLE / ssxx_u::DOUBLE)
        |        * (sx::DOUBLE / n_g::DOUBLE
        |          - sx_all::DOUBLE / nn::DOUBLE)) * 10000 + 0.5) / 10000
        |    END AS adj_mean_y
        |FROM gq CROSS JOIN tot ORDER BY g""".stripMargin,
    // Gamma IRLS: per-user spend-cents units MATERIALIZED (per-event
    // cent floors BEFORE the user sum), ln-mean seed, three
    // generated identical rounds, mirrored readout.
    "agg_gamma_glm" ->
      s"""WITH u AS MATERIALIZED (
        |  SELECT y, x FROM (
        |    SELECT sum(CASE WHEN event_type = 'purchase' THEN
        |        floor(value * 100 + 0.5)::BIGINT ELSE 0 END)
        |        ::BIGINT AS y,
        |      sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |        ::BIGINT AS x
        |    FROM events GROUP BY user_id)
        |  WHERE y > 0),
        |s0 AS (
        |  SELECT CASE WHEN sum(y) > 0 THEN
        |      floor(ln(sum(y)::DOUBLE / count(*)::DOUBLE)
        |        * 1000000 + 0.5)::BIGINT
        |    ELSE 0 END AS b0, 0::BIGINT AS b1, 1::BIGINT AS okl
        |  FROM u),
        |${gammaRoundSql("r1", "s0")},
        |${gammaRoundSql("r2", "r1")},
        |${gammaRoundSql("r3", "r2")},
        |fa AS (
        |  SELECT u.*, p.b0, p.b1, p.okl,
        |    (p.b0 + p.b1 * u.x)::BIGINT AS eta_u
        |  FROM u CROSS JOIN r3 p),
        |fb AS (
        |  SELECT *, floor(exp(least(greatest(eta_u::DOUBLE / 1000000.0,
        |    -13.0), 20.0)) * 1000000 + 0.5)::BIGINT AS mu_u
        |  FROM fa),
        |fz AS (
        |  SELECT *, least(greatest(
        |    floor((y * 1000000 - mu_u)::DOUBLE / mu_u::DOUBLE
        |      * 1000000 + 0.5)::BIGINT,
        |    -1000000000), 1000000000)::BIGINT AS z_u
        |  FROM fb),
        |fd AS (
        |  SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sum_y,
        |    max(b0)::BIGINT AS b0, max(b1)::BIGINT AS b1,
        |    max(okl)::BIGINT AS okl,
        |    sum(floor(z_u::DOUBLE * z_u::DOUBLE / 1000000.0 + 0.5)
        |      ::BIGINT)::BIGINT AS pchi_u
        |  FROM fz),
        |fe AS (SELECT *, (okl = 1 AND n > 0) AS ok FROM fd)
        |SELECT n, sum_y,
        |  CASE WHEN ok THEN
        |    floor(b0::DOUBLE / 1000000.0 * 10000 + 0.5) / 10000
        |    END AS beta0,
        |  CASE WHEN ok THEN
        |    floor(b1::DOUBLE / 1000000.0 * 10000 + 0.5) / 10000
        |    END AS beta1,
        |  CASE WHEN ok THEN
        |    floor(exp(least(greatest(b1::DOUBLE / 1000000.0, -13.0),
        |      13.0)) * 10000 + 0.5) / 10000 END AS rate_ratio,
        |  CASE WHEN ok AND n > 2 THEN
        |    floor(pchi_u::DOUBLE / 1000000.0 / (n - 2)::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS dispersion,
        |  CASE WHEN ok AND n > 2 AND pchi_u > 0 THEN
        |    floor((n - 2)::DOUBLE * 1000000.0 / pchi_u::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS shape_hat
        |FROM fe""".stripMargin,
    // Exact sufficient stats, same readout op order, NULL r on
    // non-overdispersed input.
    "agg_negative_binomial" ->
      """WITH u AS (
        |  SELECT count(*)::BIGINT AS y FROM events GROUP BY user_id),
        |a AS (
        |  SELECT count(*)::BIGINT AS n,
        |    coalesce(sum(y), 0)::BIGINT AS sy,
        |    coalesce(sum(y * y), 0)::BIGINT AS syy
        |  FROM u),
        |b AS (
        |  SELECT n, sy, syy,
        |    CASE WHEN n > 0 THEN sy::DOUBLE / n::DOUBLE END AS mean_y,
        |    CASE WHEN n > 1 THEN
        |      (syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE)
        |        / (n - 1)::DOUBLE END AS var_y
        |  FROM a),
        |c2 AS (
        |  SELECT *,
        |    CASE WHEN var_y IS NOT NULL AND mean_y > 0 THEN
        |      var_y > mean_y END AS overdispersed
        |  FROM b)
        |SELECT n,
        |  floor(mean_y * 10000 + 0.5) / 10000 AS mean_y,
        |  floor(var_y * 10000 + 0.5) / 10000 AS var_y,
        |  overdispersed,
        |  CASE WHEN overdispersed THEN
        |    floor(mean_y * mean_y / (var_y - mean_y) * 10000 + 0.5)
        |      / 10000 END AS r_hat,
        |  CASE WHEN var_y > 0 THEN
        |    floor(mean_y / var_y * 10000 + 0.5) / 10000 END AS p_hat
        |FROM c2""".stripMargin,
    // Poisson IRLS: the per-user units CTE MATERIALIZED, the ln-mean
    // seed, three generated identical Newton rounds, readout
    // mirrored (Pearson terms per-row-floored micro).
    "agg_poisson_glm" ->
      s"""WITH u AS MATERIALIZED (
        |  SELECT sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END)::BIGINT AS y,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      ::BIGINT AS x
        |  FROM events GROUP BY user_id),
        |s0 AS (
        |  SELECT CASE WHEN sum(y) > 0 THEN
        |      floor(ln(sum(y)::DOUBLE / count(*)::DOUBLE)
        |        * 1000000 + 0.5)::BIGINT
        |    ELSE 0 END AS b0, 0::BIGINT AS b1, 1::BIGINT AS okl
        |  FROM u),
        |${poissonRoundSql("r1", "s0")},
        |${poissonRoundSql("r2", "r1")},
        |${poissonRoundSql("r3", "r2")},
        |fa AS (
        |  SELECT u.*, p.b0, p.b1, p.okl,
        |    (p.b0 + p.b1 * u.x)::BIGINT AS eta_u
        |  FROM u CROSS JOIN r3 p),
        |fb AS (
        |  SELECT *, floor(exp(least(greatest(eta_u::DOUBLE / 1000000.0,
        |    -13.0), 13.0)) * 1000000 + 0.5)::BIGINT AS mu_u
        |  FROM fa),
        |fc AS (
        |  SELECT *, (y * 1000000 - mu_u)::BIGINT AS we
        |  FROM fb),
        |fd AS (
        |  SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sum_y,
        |    max(b0)::BIGINT AS b0, max(b1)::BIGINT AS b1,
        |    max(okl)::BIGINT AS okl,
        |    sum(floor(we::DOUBLE * we::DOUBLE / mu_u::DOUBLE + 0.5)
        |      ::BIGINT)::BIGINT AS pchi_u
        |  FROM fc),
        |fe AS (SELECT *, (okl = 1 AND n > 0) AS ok FROM fd)
        |SELECT n, sum_y,
        |  CASE WHEN ok THEN
        |    floor(b0::DOUBLE / 1000000.0 * 10000 + 0.5) / 10000
        |    END AS beta0,
        |  CASE WHEN ok THEN
        |    floor(b1::DOUBLE / 1000000.0 * 10000 + 0.5) / 10000
        |    END AS beta1,
        |  CASE WHEN ok THEN
        |    floor(exp(least(greatest(b1::DOUBLE / 1000000.0, -13.0),
        |      13.0)) * 10000 + 0.5) / 10000 END AS rate_ratio,
        |  CASE WHEN ok AND n > 2 THEN
        |    floor(pchi_u::DOUBLE / 1000000.0 / (n - 2)::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS dispersion
        |FROM fe""".stripMargin,
    // Logistic IRLS: the per-user units CTE MATERIALIZED, the three
    // Newton rounds as generated identical blocks, readout mirrored.
    "agg_logistic_irls" ->
      s"""WITH u AS MATERIALIZED (
        |  SELECT CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END::BIGINT AS y,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      ::BIGINT AS x1,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      ::BIGINT AS x2
        |  FROM events GROUP BY user_id),
        |s0 AS (SELECT 0::BIGINT AS b0, 0::BIGINT AS b1,
        |  0::BIGINT AS b2, 1::BIGINT AS okl),
        |${irlsRoundSql("r1", "s0")},
        |${irlsRoundSql("r2", "r1")},
        |${irlsRoundSql("r3", "r2")},
        |fa AS (
        |  SELECT u.*, p.b0, p.b1, p.b2, p.okl,
        |    (p.b0 + p.b1 * u.x1 + p.b2 * u.x2)::BIGINT AS eta_u
        |  FROM u CROSS JOIN r3 p),
        |fb AS (
        |  SELECT *, floor(1.0 / (1.0 + exp(-(eta_u::DOUBLE) / 1000000.0))
        |    * 1000000 + 0.5)::BIGINT AS p_u
        |  FROM fa),
        |fc AS (
        |  SELECT *, (y * 1000000 - p_u)::BIGINT AS we
        |  FROM fb),
        |fd AS (
        |  SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
        |    max(b0)::BIGINT AS b0, max(b1)::BIGINT AS b1,
        |    max(b2)::BIGINT AS b2, max(okl)::BIGINT AS okl,
        |    sum(floor(we::DOUBLE * we::DOUBLE / 1000000.0)::BIGINT)
        |      ::BIGINT AS sse_u
        |  FROM fc),
        |fe AS (SELECT *, (okl = 1 AND n > 0) AS ok FROM fd)
        |SELECT n, n_pos,
        |  CASE WHEN ok THEN
        |    floor(b0::DOUBLE / 1000000.0 * 10000 + 0.5) / 10000
        |    END AS beta0,
        |  CASE WHEN ok THEN
        |    floor(b1::DOUBLE / 1000000.0 * 10000 + 0.5) / 10000
        |    END AS beta1,
        |  CASE WHEN ok THEN
        |    floor(b2::DOUBLE / 1000000.0 * 10000 + 0.5) / 10000
        |    END AS beta2,
        |  CASE WHEN ok THEN
        |    floor(sse_u::DOUBLE / 1000000.0 / n::DOUBLE * 10000 + 0.5)
        |      / 10000 END AS brier
        |FROM fe""".stripMargin,
    // Two-way ANOVA: the four sufficient-stat groupings as CTEs over
    // the MATERIALIZED base; per-group s²/n floored to whole units,
    // the correction quantized once, F readouts mirrored.
    "agg_two_way_anova" ->
      """WITH base AS MATERIALIZED (
        |  SELECT c_nationkey::BIGINT AS a, c_mktsegment AS b,
        |    floor(c_acctbal + 0.5)::BIGINT AS y
        |  FROM customer),
        |cg AS (
        |  SELECT count(*)::BIGINT AS n_cells,
        |    sum(floor(s_ab::DOUBLE * s_ab::DOUBLE / n_ab::DOUBLE + 0.5)
        |      ::BIGINT)::BIGINT AS ssq_ab_u
        |  FROM (SELECT count(*)::BIGINT AS n_ab, sum(y)::BIGINT AS s_ab
        |        FROM base GROUP BY a, b)),
        |ag AS (
        |  SELECT count(*)::BIGINT AS k_a,
        |    sum(floor(s_a::DOUBLE * s_a::DOUBLE / n_a::DOUBLE + 0.5)
        |      ::BIGINT)::BIGINT AS ssq_a_u
        |  FROM (SELECT count(*)::BIGINT AS n_a, sum(y)::BIGINT AS s_a
        |        FROM base GROUP BY a)),
        |bg AS (
        |  SELECT count(*)::BIGINT AS k_b,
        |    sum(floor(s_b::DOUBLE * s_b::DOUBLE / n_b::DOUBLE + 0.5)
        |      ::BIGINT)::BIGINT AS ssq_b_u
        |  FROM (SELECT count(*)::BIGINT AS n_b, sum(y)::BIGINT AS s_b
        |        FROM base GROUP BY b)),
        |tg AS (
        |  SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS s,
        |    sum(y * y)::BIGINT AS syy
        |  FROM base),
        |j AS (
        |  SELECT *, CASE WHEN n > 0 THEN
        |      floor(s::DOUBLE * s::DOUBLE / n::DOUBLE + 0.5)::BIGINT
        |    END AS c_u
        |  FROM tg CROSS JOIN cg CROSS JOIN ag CROSS JOIN bg),
        |k AS (
        |  SELECT *, (ssq_a_u - c_u)::BIGINT AS ss_a,
        |    (ssq_b_u - c_u)::BIGINT AS ss_b,
        |    (ssq_ab_u - ssq_a_u - ssq_b_u + c_u)::BIGINT AS ss_ab,
        |    (syy - ssq_ab_u)::BIGINT AS ss_w,
        |    (syy - c_u)::BIGINT AS ss_t,
        |    (n - n_cells)::BIGINT AS df_w
        |  FROM j),
        |m AS (
        |  SELECT *, CASE WHEN df_w > 0 AND ss_w > 0 THEN
        |      ss_w::DOUBLE / df_w::DOUBLE END AS msw
        |  FROM k)
        |SELECT n, k_a, k_b, n_cells, ss_a, ss_b, ss_ab, ss_w, ss_t,
        |  CASE WHEN msw IS NOT NULL AND k_a > 1 THEN
        |    floor(ss_a::DOUBLE / (k_a - 1)::DOUBLE / msw * 10000 + 0.5)
        |      / 10000 END AS f_a,
        |  CASE WHEN msw IS NOT NULL AND k_b > 1 THEN
        |    floor(ss_b::DOUBLE / (k_b - 1)::DOUBLE / msw * 10000 + 0.5)
        |      / 10000 END AS f_b,
        |  CASE WHEN msw IS NOT NULL AND k_a > 1 AND k_b > 1
        |      AND ss_ab > 0 THEN
        |    floor(ss_ab::DOUBLE / ((k_a - 1) * (k_b - 1))::DOUBLE / msw
        |      * 10000 + 0.5) / 10000 END AS f_ab
        |FROM m""".stripMargin,
    // Tukey-Kramer HSD: anova_f sufficient stats, pair self-join of
    // the k-row group frame, infinite-df studentized-range literals.
    "agg_tukey_hsd" ->
      """WITH g AS (
        |  SELECT lang, count(*)::BIGINT AS n_g,
        |    sum(n_chars)::BIGINT AS sx,
        |    sum(n_chars * n_chars)::BIGINT AS sxx
        |  FROM documents GROUP BY 1),
        |g2 AS MATERIALIZED (
        |  SELECT *, floor(sx::DOUBLE * sx::DOUBLE / n_g::DOUBLE + 0.5)
        |      ::BIGINT AS t_u,
        |    sx::DOUBLE / n_g::DOUBLE AS m
        |  FROM g),
        |tot AS (
        |  SELECT count(*)::BIGINT AS k_groups,
        |    sum(n_g)::BIGINT AS n_total,
        |    (sum(sxx) - sum(t_u))::BIGINT AS ssw_u
        |  FROM g2),
        |t2 AS (
        |  SELECT *, CASE WHEN n_total > k_groups THEN
        |      ssw_u::DOUBLE / (n_total - k_groups)::DOUBLE END AS mse,
        |    CASE k_groups WHEN 2 THEN 2.772 WHEN 3 THEN 3.314
        |      WHEN 4 THEN 3.633 WHEN 5 THEN 3.858 WHEN 6 THEN 4.030
        |      WHEN 7 THEN 4.170 WHEN 8 THEN 4.286 WHEN 9 THEN 4.387
        |      WHEN 10 THEN 4.474 END AS q_crit
        |  FROM tot),
        |p AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b, a.n_g AS n_a,
        |    b.n_g AS n_b, a.m AS m_a, b.m AS m_b
        |  FROM g2 a JOIN g2 b ON a.lang < b.lang),
        |q AS (
        |  SELECT p.*, t2.mse, t2.q_crit,
        |    CASE WHEN mse > 0 THEN
        |      floor(abs(m_a - m_b) / sqrt(mse / 2.0
        |        * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE))
        |        * 10000 + 0.5) / 10000 END AS q_stat
        |  FROM p CROSS JOIN t2)
        |SELECT lang_a, lang_b, n_a, n_b,
        |  floor((m_a - m_b) * 10000 + 0.5) / 10000 AS mean_diff,
        |  q_stat, q_crit,
        |  CASE WHEN q_stat IS NOT NULL AND q_crit IS NOT NULL THEN
        |    q_stat > q_crit END AS significant_95
        |FROM q ORDER BY lang_a, lang_b""".stripMargin,
    // Exact McNemar: the paired flags fold to ±1 deltas, then the
    // shared exact-binomial chain.
    "agg_mcnemar_exact" ->
      s"""WITH mid AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events),
        |pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase'
        |      AND epoch_us(ts) < mid THEN 1 ELSE 0 END) AS a1,
        |    max(CASE WHEN event_type = 'purchase'
        |      AND epoch_us(ts) >= mid THEN 1 ELSE 0 END) AS a2
        |  FROM events CROSS JOIN mid GROUP BY 1),
        |dw AS (SELECT user_id, (a1 - a2)::BIGINT AS d_w FROM pu),
        |$SignTestChainSql""".stripMargin,
    // Decision stump: same heavy-purchaser units, cut grid cum
    // window, mirrored guarded-entropy gain, micro-nat argmax.
    "agg_decision_stump" ->
      s"""WITH u AS (
        |  SELECT CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END::BIGINT AS y,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      ::BIGINT AS x
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT x, sum(y)::BIGINT AS pos, sum(1 - y)::BIGINT AS neg
        |  FROM u GROUP BY 1),
        |tot AS (SELECT sum(pos)::BIGINT AS tp, sum(neg)::BIGINT AS tn
        |        FROM cells),
        |cum AS (
        |  SELECT x, pos, neg,
        |    (sum(pos) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW))::BIGINT AS pos_le,
        |    (sum(neg) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW))::BIGINT AS neg_le
        |  FROM cells),
        |j AS (
        |  SELECT cum.*, tot.tp, tot.tn, (tp + tn)::BIGINT AS n
        |  FROM cum CROSS JOIN tot),
        |g AS (
        |  SELECT *, (tp - pos_le)::BIGINT AS pos_gt,
        |    (tn - neg_le)::BIGINT AS neg_gt,
        |    (pos_le + neg_le)::BIGINT AS s_le,
        |    (tp - pos_le + tn - neg_le)::BIGINT AS s_gt
        |  FROM j WHERE pos_le + neg_le < n),
        |e AS (
        |  SELECT *, ${stumpHSql("tp", "tn")}
        |    - (s_le::DOUBLE / n::DOUBLE
        |        * ${stumpHSql("pos_le", "neg_le")}
        |      + s_gt::DOUBLE / n::DOUBLE
        |        * ${stumpHSql("pos_gt", "neg_gt")}) AS ig
        |  FROM g),
        |q AS (SELECT *, floor(ig * 1000000 + 0.5)::BIGINT AS ig_u
        |      FROM e)
        |SELECT x AS threshold, pos_le, neg_le, pos_gt, neg_gt, ig_u,
        |  floor(ig * 10000 + 0.5) / 10000 AS info_gain,
        |  floor((greatest(pos_le, neg_le) + greatest(pos_gt, neg_gt))
        |    ::DOUBLE / n::DOUBLE * 10000 + 0.5) / 10000
        |    AS train_accuracy
        |FROM q ORDER BY ig_u DESC, x LIMIT 1""".stripMargin,
    // Partial correlation: exact sufficient stats, mirrored
    // double-first readout assembly.
    "agg_partial_corr" ->
      """WITH b0 AS (
        |  SELECT l_returnflag AS flag,
        |    floor(l_quantity + 0.5)::BIGINT AS x,
        |    floor(l_extendedprice + 0.5)::BIGINT AS y,
        |    floor(l_discount * 100 + 0.5)::BIGINT AS z
        |  FROM lineitem),
        |g AS (
        |  SELECT flag, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(z)::BIGINT AS sz,
        |    sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
        |    sum(z * z)::BIGINT AS szz,
        |    sum(x * y)::BIGINT AS sxy, sum(x * z)::BIGINT AS sxz,
        |    sum(y * z)::BIGINT AS syz
        |  FROM b0 GROUP BY 1),
        |c AS (
        |  SELECT *,
        |    n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS cxx,
        |    n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS cyy,
        |    n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE AS czz,
        |    n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS cxy,
        |    n::DOUBLE * sxz::DOUBLE - sx::DOUBLE * sz::DOUBLE AS cxz,
        |    n::DOUBLE * syz::DOUBLE - sy::DOUBLE * sz::DOUBLE AS cyz
        |  FROM g),
        |r AS (
        |  SELECT *,
        |    CASE WHEN cxx > 0 AND cyy > 0 THEN
        |      cxy / sqrt(cxx * cyy) END AS rxy,
        |    CASE WHEN cxx > 0 AND czz > 0 THEN
        |      cxz / sqrt(cxx * czz) END AS rxz,
        |    CASE WHEN cyy > 0 AND czz > 0 THEN
        |      cyz / sqrt(cyy * czz) END AS ryz
        |  FROM c),
        |p AS (
        |  SELECT *, CASE WHEN rxz IS NOT NULL AND ryz IS NOT NULL THEN
        |    (1.0 - rxz * rxz) * (1.0 - ryz * ryz) END AS pden
        |  FROM r),
        |q AS (
        |  SELECT *, CASE WHEN rxy IS NOT NULL AND pden > 0 THEN
        |    (rxy - rxz * ryz) / sqrt(pden) END AS partial
        |  FROM p)
        |SELECT flag, n,
        |  floor(rxy * 10000 + 0.5) / 10000 AS corr_xy,
        |  floor(partial * 10000 + 0.5) / 10000 AS partial_xy_given_z
        |FROM q ORDER BY flag""".stripMargin,
    // Cronbach: 5 fixed items, fixed-order variance sum, one-row
    // mirrored readout.
    "agg_cronbach_alpha" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      ::BIGINT AS c_click,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      ::BIGINT AS c_view,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      ::BIGINT AS c_purchase,
        |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |      ::BIGINT AS c_signup,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      ::BIGINT AS c_error
        |  FROM events GROUP BY 1),
        |pt AS (SELECT *, (c_click + c_view + c_purchase + c_signup
        |  + c_error)::BIGINT AS tot FROM pu),
        |a AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(c_click)::BIGINT AS s_click,
        |    sum(c_click * c_click)::BIGINT AS ss_click,
        |    sum(c_view)::BIGINT AS s_view,
        |    sum(c_view * c_view)::BIGINT AS ss_view,
        |    sum(c_purchase)::BIGINT AS s_purchase,
        |    sum(c_purchase * c_purchase)::BIGINT AS ss_purchase,
        |    sum(c_signup)::BIGINT AS s_signup,
        |    sum(c_signup * c_signup)::BIGINT AS ss_signup,
        |    sum(c_error)::BIGINT AS s_error,
        |    sum(c_error * c_error)::BIGINT AS ss_error,
        |    sum(tot)::BIGINT AS s_tot, sum(tot * tot)::BIGINT AS ss_tot
        |  FROM pt),
        |v AS (
        |  SELECT *,
        |    CASE WHEN n > 1 THEN
        |      (n::DOUBLE * ss_click::DOUBLE
        |        - s_click::DOUBLE * s_click::DOUBLE)
        |        / (n::DOUBLE * (n - 1)::DOUBLE)
        |      + (n::DOUBLE * ss_view::DOUBLE
        |        - s_view::DOUBLE * s_view::DOUBLE)
        |        / (n::DOUBLE * (n - 1)::DOUBLE)
        |      + (n::DOUBLE * ss_purchase::DOUBLE
        |        - s_purchase::DOUBLE * s_purchase::DOUBLE)
        |        / (n::DOUBLE * (n - 1)::DOUBLE)
        |      + (n::DOUBLE * ss_signup::DOUBLE
        |        - s_signup::DOUBLE * s_signup::DOUBLE)
        |        / (n::DOUBLE * (n - 1)::DOUBLE)
        |      + (n::DOUBLE * ss_error::DOUBLE
        |        - s_error::DOUBLE * s_error::DOUBLE)
        |        / (n::DOUBLE * (n - 1)::DOUBLE)
        |      END AS v_items,
        |    CASE WHEN n > 1 THEN
        |      (n::DOUBLE * ss_tot::DOUBLE
        |        - s_tot::DOUBLE * s_tot::DOUBLE)
        |        / (n::DOUBLE * (n - 1)::DOUBLE) END AS v_total
        |  FROM a)
        |SELECT n AS n_users, 5::BIGINT AS k_items,
        |  floor(v_items * 10000 + 0.5) / 10000 AS sum_item_var,
        |  floor(v_total * 10000 + 0.5) / 10000 AS total_var,
        |  CASE WHEN v_total > 0 THEN
        |    floor((5.0 / 4.0 * (1.0 - v_items / v_total))
        |      * 10000 + 0.5) / 10000 END AS alpha
        |FROM v""".stripMargin,
    // Same cells grid; domain² diff grid with ct·cc weights;
    // weighted lower median by one cumulative.
    "agg_hodges_lehmann" ->
      s"""$CellsCte,
        |fz AS (
        |  SELECT CASE WHEN (max(x) - min(x) + 1) > 100000 THEN
        |      power(10, ceil(log10((max(x) - min(x) + 1)::DOUBLE
        |        / 100000.0)))::BIGINT
        |    ELSE 1 END AS f
        |  FROM cells),
        |qc AS (
        |  SELECT floor(x::DOUBLE / f::DOUBLE)::BIGINT AS xq,
        |    sum(cc)::BIGINT AS cc, sum(ct)::BIGINT AS ct
        |  FROM cells CROSS JOIN fz GROUP BY 1),
        |t AS (SELECT xq AS xt, ct FROM qc WHERE ct > 0),
        |c2 AS (SELECT xq AS xc, cc FROM qc WHERE cc > 0),
        |dg AS (
        |  SELECT xt - xc AS diff, sum(ct * cc)::BIGINT AS w
        |  FROM t CROSS JOIN c2 GROUP BY 1),
        |cw AS (
        |  SELECT *, (sum(w) OVER ())::BIGINT AS wtot,
        |    (sum(w) OVER (ORDER BY diff
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cumw
        |  FROM dg)
        |SELECT max(wtot)::BIGINT AS n_pairs,
        |  (min(diff) * (SELECT max(f) FROM fz))::BIGINT AS hl_shift,
        |  (SELECT max(f) FROM fz)::BIGINT AS quantizer
        |FROM cw WHERE cumw * 2 >= wtot + 1""".stripMargin,
    // Same grid; three conditional rank picks (median + the Moses
    // k / N+1−k bounds), IEEE sqrt the only float.
    "agg_hodges_lehmann_ci" ->
      s"""$CellsCte,
        |fz AS (
        |  SELECT CASE WHEN (max(x) - min(x) + 1) > 100000 THEN
        |      power(10, ceil(log10((max(x) - min(x) + 1)::DOUBLE
        |        / 100000.0)))::BIGINT
        |    ELSE 1 END AS f
        |  FROM cells),
        |qc AS (
        |  SELECT floor(x::DOUBLE / f::DOUBLE)::BIGINT AS xq,
        |    sum(cc)::BIGINT AS cc, sum(ct)::BIGINT AS ct
        |  FROM cells CROSS JOIN fz GROUP BY 1),
        |sz AS (SELECT sum(cc)::BIGINT AS nc, sum(ct)::BIGINT AS nt
        |       FROM qc),
        |t AS (SELECT xq AS xt, ct FROM qc WHERE ct > 0),
        |c2 AS (SELECT xq AS xc, cc FROM qc WHERE cc > 0),
        |dg AS (
        |  SELECT xt - xc AS diff, sum(ct * cc)::BIGINT AS w
        |  FROM t CROSS JOIN c2 GROUP BY 1),
        |cw AS (
        |  SELECT *, (sum(w) OVER ())::BIGINT AS wtot,
        |    (sum(w) OVER (ORDER BY diff
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cumw
        |  FROM dg),
        |ck AS (
        |  SELECT *,
        |    greatest(1, floor(wtot::DOUBLE / 2.0 - 1.959964
        |      * sqrt(nc::DOUBLE * nt::DOUBLE
        |        * (nc + nt + 1)::DOUBLE / 12.0))::BIGINT) AS k_lo
        |  FROM cw CROSS JOIN sz)
        |SELECT max(wtot)::BIGINT AS n_pairs,
        |  (min(CASE WHEN cumw * 2 >= wtot + 1 THEN diff END)
        |    * (SELECT max(f) FROM fz))::BIGINT AS hl_shift,
        |  (min(CASE WHEN cumw >= k_lo THEN diff END)
        |    * (SELECT max(f) FROM fz))::BIGINT AS ci_lo,
        |  (min(CASE WHEN cumw >= wtot + 1 - k_lo THEN diff END)
        |    * (SELECT max(f) FROM fz))::BIGINT AS ci_hi,
        |  (SELECT max(f) FROM fz)::BIGINT AS quantizer
        |FROM ck""".stripMargin,
    // Per-segment row_number rank; sign-test-inversion rank picks
    // with the clamped IEEE-sqrt bounds; exact integer cents.
    "agg_median_ci" ->
      """WITH base AS (
        |  SELECT c_mktsegment AS seg, c_custkey AS tie,
        |    floor(c_acctbal * 100 + 0.5)::BIGINT AS cents
        |  FROM customer),
        |r0 AS (
        |  SELECT seg, cents,
        |    row_number() OVER (PARTITION BY seg
        |      ORDER BY cents, tie) AS rk,
        |    count(*) OVER (PARTITION BY seg) AS n_s
        |  FROM base)
        |SELECT seg, max(n_s)::BIGINT AS n,
        |  max(CASE WHEN rk = (n_s + 1) // 2 THEN cents END)::BIGINT
        |    AS median_cents,
        |  max(CASE WHEN rk = greatest(1,
        |    floor((n_s::DOUBLE - 1.959964 * sqrt(n_s::DOUBLE)) / 2.0)
        |      ::BIGINT) THEN cents END)::BIGINT AS ci_lo_cents,
        |  max(CASE WHEN rk = least(n_s,
        |    ceil((n_s::DOUBLE + 1.0 + 1.959964 * sqrt(n_s::DOUBLE))
        |      / 2.0)::BIGINT) THEN cents END)::BIGINT AS ci_hi_cents
        |FROM r0 GROUP BY seg ORDER BY seg""".stripMargin,
    // Per-group nano/pico-quantized terms before every k-row sum;
    // two scalar divisions on the 1-row readout, mirrored.
    "agg_welch_anova" ->
      """WITH g0 AS (
        |  SELECT lang, count(*)::BIGINT AS n_g, sum(x)::BIGINT AS sx,
        |    sum(x * x)::BIGINT AS sxx
        |  FROM (SELECT lang, n_chars::BIGINT AS x FROM documents)
        |  GROUP BY 1),
        |g1 AS (
        |  SELECT *,
        |    CASE WHEN n_g > 0 THEN sx::DOUBLE / n_g::DOUBLE END AS m,
        |    CASE WHEN n_g > 1 THEN
        |      (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n_g::DOUBLE)
        |        / (n_g - 1)::DOUBLE END AS s2
        |  FROM g0),
        |g1b AS (
        |  SELECT *, CASE WHEN s2 > 0 THEN
        |      n_g::DOUBLE / s2 * 1.0e9 < 4.6e18
        |      AND abs(n_g::DOUBLE / s2 * m * 1.0e9) < 4.6e18
        |    ELSE false END AS w_ok
        |  FROM g1),
        |g2 AS (
        |  SELECT *,
        |    CASE WHEN w_ok THEN
        |      floor(n_g::DOUBLE / s2 * 1.0e9 + 0.5)::BIGINT END AS w_u,
        |    CASE WHEN w_ok THEN
        |      floor(n_g::DOUBLE / s2 * m * 1.0e9 + 0.5)::BIGINT END
        |      AS wm_u
        |  FROM g1b),
        |tot AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(n_g)::BIGINT
        |      AS n_total,
        |    sum(CASE WHEN w_u IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_degenerate,
        |    sum(w_u)::BIGINT AS w_sum_u, sum(wm_u)::BIGINT AS wm_sum_u
        |  FROM g2),
        |j AS (
        |  SELECT g2.*, tot.*,
        |    CASE WHEN n_degenerate = 0 AND w_sum_u > 0 THEN
        |      wm_sum_u::DOUBLE / w_sum_u::DOUBLE END AS mw
        |  FROM g2 CROSS JOIN tot),
        |t2 AS (
        |  SELECT k_groups, n_total, n_degenerate,
        |    sum(CASE WHEN mw IS NOT NULL THEN
        |      floor(w_u::DOUBLE * (m - mw) * (m - mw) + 0.5)::BIGINT
        |      END)::BIGINT AS num_sum_u,
        |    sum(CASE WHEN mw IS NOT NULL THEN
        |      floor((1.0 - w_u::DOUBLE / w_sum_u::DOUBLE)
        |        * (1.0 - w_u::DOUBLE / w_sum_u::DOUBLE)
        |        / (n_g - 1)::DOUBLE * 1.0e12 + 0.5)::BIGINT
        |      END)::BIGINT AS lam_sum_u
        |  FROM j GROUP BY 1, 2, 3),
        |t3 AS (
        |  SELECT *,
        |    CASE WHEN n_degenerate = 0 THEN
        |      lam_sum_u::DOUBLE / 1.0e12 END AS s_l
        |  FROM t2)
        |SELECT k_groups, n_total, (k_groups - 1)::BIGINT AS df1,
        |  CASE WHEN s_l IS NOT NULL AND k_groups > 1 THEN
        |    floor((num_sum_u::DOUBLE / 1.0e9
        |        / (k_groups - 1)::DOUBLE)
        |      / (1.0 + 2.0 * (k_groups - 2)::DOUBLE
        |        / (k_groups * k_groups - 1)::DOUBLE * s_l)
        |      * 10000 + 0.5) / 10000 END AS f_welch,
        |  CASE WHEN s_l > 0 AND k_groups > 1 THEN
        |    floor((k_groups * k_groups - 1)::DOUBLE / (3.0 * s_l)
        |      * 10000 + 0.5) / 10000 END AS df2
        |FROM t3""".stripMargin,
    // Per-segment row_number rank (≡ rangedRank), octile rank picks
    // with the max(1, (n+1)k//8) convention, exact-integer ratios.
    "agg_quantile_skew" ->
      """WITH base AS (
        |  SELECT c_mktsegment AS seg, c_custkey AS tie,
        |    floor(c_acctbal * 100 + 0.5)::BIGINT AS cents
        |  FROM customer),
        |r0 AS (
        |  SELECT seg, cents,
        |    row_number() OVER (PARTITION BY seg
        |      ORDER BY cents, tie) AS rk,
        |    count(*) OVER (PARTITION BY seg) AS n_s
        |  FROM base),
        |oct AS (
        |  SELECT seg, max(n_s)::BIGINT AS n,
        |    max(CASE WHEN rk = greatest(1, ((n_s + 1) * 1) // 8)
        |      THEN cents END)::BIGINT AS e1,
        |    max(CASE WHEN rk = greatest(1, ((n_s + 1) * 2) // 8)
        |      THEN cents END)::BIGINT AS e2,
        |    max(CASE WHEN rk = greatest(1, ((n_s + 1) * 3) // 8)
        |      THEN cents END)::BIGINT AS e3,
        |    max(CASE WHEN rk = greatest(1, ((n_s + 1) * 4) // 8)
        |      THEN cents END)::BIGINT AS e4,
        |    max(CASE WHEN rk = greatest(1, ((n_s + 1) * 5) // 8)
        |      THEN cents END)::BIGINT AS e5,
        |    max(CASE WHEN rk = greatest(1, ((n_s + 1) * 6) // 8)
        |      THEN cents END)::BIGINT AS e6,
        |    max(CASE WHEN rk = greatest(1, ((n_s + 1) * 7) // 8)
        |      THEN cents END)::BIGINT AS e7
        |  FROM r0 GROUP BY 1)
        |SELECT seg, n, e2 AS q1_cents, e4 AS median_cents,
        |  e6 AS q3_cents,
        |  CASE WHEN e6 - e2 > 0 THEN
        |    floor((e6 + e2 - 2 * e4)::DOUBLE / (e6 - e2)::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS bowley,
        |  CASE WHEN e6 - e2 > 0 THEN
        |    floor(((e7 - e5) + (e3 - e1))::DOUBLE / (e6 - e2)::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS moors
        |FROM oct ORDER BY seg""".stripMargin,
    // Sufficient stats per lang; micro-nat (n−1)·ln s², whole-unit
    // pooled numerator, nano 1/(n−1); one readout ln + C correction.
    "agg_bartlett_test" ->
      """WITH g AS (
        |  SELECT lang, count(*)::BIGINT AS n_g,
        |    sum(n_chars)::BIGINT AS sx,
        |    sum(n_chars * n_chars)::BIGINT AS sxx
        |  FROM documents GROUP BY 1),
        |v AS (
        |  SELECT *,
        |    CASE WHEN n_g > 1 THEN
        |      (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n_g::DOUBLE)
        |        / (n_g - 1)::DOUBLE END AS s2
        |  FROM g),
        |u AS (
        |  SELECT *,
        |    CASE WHEN s2 > 0 THEN
        |      floor(ln(s2) * 1000000 + 0.5)::BIGINT END AS ln_s2_u,
        |    CASE WHEN s2 > 0 THEN
        |      floor((n_g - 1)::DOUBLE * s2 + 0.5)::BIGINT END AS w_u,
        |    CASE WHEN n_g > 1 THEN (1000000000 // (n_g - 1))::BIGINT
        |      END AS inv_n
        |  FROM v),
        |a AS (
        |  SELECT count(*)::BIGINT AS k_groups,
        |    sum(n_g)::BIGINT AS n_total,
        |    sum(CASE WHEN ln_s2_u IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_degenerate,
        |    sum((n_g - 1) * ln_s2_u)::BIGINT AS lnterm_u,
        |    sum(w_u)::BIGINT AS w_sum, sum(inv_n)::BIGINT AS inv_sum_n
        |  FROM u),
        |b AS (
        |  SELECT *, (k_groups - 1)::BIGINT AS df,
        |    CASE WHEN n_degenerate = 0 AND n_total > k_groups THEN
        |      w_sum::DOUBLE / (n_total - k_groups)::DOUBLE END AS s2p
        |  FROM a),
        |c AS (
        |  SELECT *,
        |    CASE WHEN s2p > 0 THEN
        |      (n_total - k_groups)::DOUBLE * ln(s2p)
        |        - lnterm_u::DOUBLE / 1000000.0 END AS t_raw
        |  FROM b),
        |e AS (
        |  SELECT *,
        |    CASE WHEN t_raw IS NOT NULL AND k_groups > 1 THEN
        |      1.0 + (inv_sum_n::DOUBLE / 1.0e9
        |        - 1.0 / (n_total - k_groups)::DOUBLE)
        |        / (3.0 * (k_groups - 1)::DOUBLE) END AS c_corr
        |  FROM c)
        |SELECT k_groups, n_total, df,
        |  CASE WHEN c_corr IS NOT NULL THEN
        |    floor(t_raw / c_corr * 10000 + 0.5) / 10000 END
        |    AS bartlett_t
        |FROM e""".stripMargin,
    // Shared delta CTE; doubled midranks over the |d|-distinct grid,
    // guarded tie cube, mirrored z assembly.
    "agg_wilcoxon_signed_rank" ->
      s"""$PairedDeltaCte,
        |cells AS (
        |  SELECT abs(d_w) AS adev,
        |    sum(CASE WHEN d_w > 0 THEN 1 ELSE 0 END)::BIGINT AS np,
        |    count(*)::BIGINT AS t
        |  FROM dw WHERE d_w <> 0 GROUP BY 1),
        |cum AS (
        |  SELECT *,
        |    (coalesce(sum(t) OVER (ORDER BY adev
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |      ::BIGINT AS cum_lt
        |  FROM cells),
        |a0 AS (
        |  SELECT sum(t)::BIGINT AS n_nonzero,
        |    sum(np * (2 * cum_lt + t + 1))::BIGINT AS w2_plus,
        |    sum(CASE WHEN t < 2097152 THEN t * t * t - t END)::BIGINT
        |      AS tie_raw,
        |    max(t)::BIGINT AS t_max
        |  FROM cum),
        |a AS (
        |  SELECT n_nonzero, w2_plus,
        |    (CASE WHEN t_max < 2097152 THEN tie_raw END)::BIGINT
        |      AS tie_sum,
        |    (n_nonzero * (n_nonzero + 1) // 2)::BIGINT AS e2
        |  FROM a0),
        |b AS (
        |  SELECT *,
        |    CASE WHEN n_nonzero > 0 AND tie_sum IS NOT NULL THEN
        |      n_nonzero::DOUBLE * (n_nonzero + 1)::DOUBLE
        |        * (2 * n_nonzero + 1)::DOUBLE / 6.0
        |        - tie_sum::DOUBLE / 12.0 END AS var2
        |  FROM a),
        |c AS (
        |  SELECT *,
        |    CASE WHEN var2 > 0 THEN
        |      floor((w2_plus - e2)::DOUBLE / sqrt(var2)
        |        * 10000 + 0.5) / 10000 END AS z_wilcoxon
        |  FROM b)
        |SELECT n_nonzero, w2_plus, tie_sum, z_wilcoxon,
        |  CASE WHEN z_wilcoxon IS NOT NULL THEN
        |    abs(z_wilcoxon) > 1.959964 END AS significant_95
        |FROM c""".stripMargin,
    // Shared delta CTE; Fisher ratio-recursion binomial: micro-
    // quantized ln steps, exact-BIGINT lnC prefix, nano-quantized
    // exp terms, integer tail sums and decision.
    "agg_sign_test" ->
      s"""$PairedDeltaCte,
        |$SignTestChainSql""".stripMargin,
    // Variant-indicator signs (+1 control / −1 treatment) through
    // the SAME exact-binomial chain — the exact SRM verdict.
    "events_ab_srm_exact" ->
      s"""WITH pu AS (SELECT user_id FROM events GROUP BY 1),
        |dw AS (
        |  SELECT user_id,
        |    CASE WHEN ('0x' || substring(md5(user_id::VARCHAR), 1, 2))
        |      ::INT % 2 = 0 THEN 1 ELSE -1 END AS d_w
        |  FROM pu),
        |$SignTestChainSql""".stripMargin,
    // Same cells grid as the U test; gt/tie exact, lt by identity.
    "agg_cliffs_delta" ->
      s"""$CellsCte,
        |cum AS (
        |  SELECT *,
        |    (coalesce(sum(cc) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS cum_cc_lt
        |  FROM cells),
        |a AS (
        |  SELECT sum(cc)::BIGINT AS n_control,
        |    sum(ct)::BIGINT AS n_treatment,
        |    sum(ct * cum_cc_lt)::BIGINT AS n_gt,
        |    sum(ct * cc)::BIGINT AS n_tie
        |  FROM cum),
        |b AS (
        |  SELECT *,
        |    (n_control * n_treatment - n_gt - n_tie)::BIGINT AS n_lt,
        |    CASE WHEN n_control * n_treatment > 0 THEN
        |      floor((n_gt - (n_control * n_treatment - n_gt - n_tie))
        |        ::DOUBLE / (n_control * n_treatment)::DOUBLE
        |        * 10000 + 0.5) / 10000 END AS delta
        |  FROM a)
        |SELECT n_control, n_treatment, n_gt, n_tie, n_lt, delta,
        |  CASE WHEN delta IS NULL THEN NULL
        |    WHEN abs(delta) < 0.147 THEN 'negligible'
        |    WHEN abs(delta) < 0.33 THEN 'small'
        |    WHEN abs(delta) < 0.474 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM b""".stripMargin,
    // Lower median by rank over the grid, 2×2 exact counts, float
    // Pearson χ² on the 1-row readout (mirrored op order).
    "agg_mood_median" ->
      s"""$CellsCte,
        |cum AS (
        |  SELECT *,
        |    (sum(cc + ct) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_n,
        |    (sum(cc + ct) OVER ())::BIGINT AS n
        |  FROM cells),
        |md AS (
        |  SELECT *,
        |    (min(CASE WHEN cum_n * 2 >= n + 1 THEN x END) OVER ())
        |      ::BIGINT AS m
        |  FROM cum),
        |a AS (
        |  SELECT max(m)::BIGINT AS grand_median,
        |    sum(CASE WHEN x > m THEN cc ELSE 0 END)::BIGINT AS c_above,
        |    sum(CASE WHEN x <= m THEN cc ELSE 0 END)::BIGINT AS c_below,
        |    sum(CASE WHEN x > m THEN ct ELSE 0 END)::BIGINT AS t_above,
        |    sum(CASE WHEN x <= m THEN ct ELSE 0 END)::BIGINT AS t_below
        |  FROM md),
        |b AS (
        |  SELECT *,
        |    CASE WHEN c_above + c_below > 0 AND t_above + t_below > 0
        |        AND c_above + t_above > 0 AND c_below + t_below > 0 THEN
        |      floor((c_above + c_below + t_above + t_below)::DOUBLE
        |        * (c_above::DOUBLE * t_below::DOUBLE
        |          - c_below::DOUBLE * t_above::DOUBLE)
        |        * (c_above::DOUBLE * t_below::DOUBLE
        |          - c_below::DOUBLE * t_above::DOUBLE)
        |        / ((c_above + c_below)::DOUBLE
        |          * (t_above + t_below)::DOUBLE
        |          * (c_above + t_above)::DOUBLE
        |          * (c_below + t_below)::DOUBLE) * 10000 + 0.5) / 10000
        |    END AS chi2
        |  FROM a)
        |SELECT grand_median, c_above, c_below, t_above, t_below, chi2,
        |  CASE WHEN chi2 IS NOT NULL THEN chi2 > 3.841459 END
        |    AS reject_95
        |FROM b""".stripMargin,
    // Exact-BIGINT raw moments per flag; moments → JB in doubles on
    // the 3-row readout; r4'd skew/kurt feed JB (both engines band
    // the identical quantized value).
    "agg_jarque_bera" ->
      """WITH base AS (
        |  SELECT l_returnflag AS flag,
        |    floor(l_quantity + 0.5)::BIGINT AS x
        |  FROM lineitem),
        |g AS (
        |  SELECT flag, count(*)::BIGINT AS n, sum(x)::BIGINT AS s1,
        |    sum(x * x)::BIGINT AS s2, sum(x * x * x)::BIGINT AS s3,
        |    sum(x * x * x * x)::BIGINT AS s4
        |  FROM base GROUP BY 1),
        |m AS (
        |  SELECT flag, n,
        |    CASE WHEN n > 0 THEN s1::DOUBLE / n::DOUBLE END AS mean,
        |    CASE WHEN n > 0 THEN s2::DOUBLE / n::DOUBLE
        |      - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
        |    END AS m2,
        |    CASE WHEN n > 0 THEN s3::DOUBLE / n::DOUBLE
        |      - 3.0 * (s1::DOUBLE / n::DOUBLE)
        |        * (s2::DOUBLE / n::DOUBLE)
        |      + 2.0 * (s1::DOUBLE / n::DOUBLE)
        |        * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
        |    END AS m3,
        |    CASE WHEN n > 0 THEN s4::DOUBLE / n::DOUBLE
        |      - 4.0 * (s1::DOUBLE / n::DOUBLE)
        |        * (s3::DOUBLE / n::DOUBLE)
        |      + 6.0 * (s1::DOUBLE / n::DOUBLE)
        |        * (s1::DOUBLE / n::DOUBLE) * (s2::DOUBLE / n::DOUBLE)
        |      - 3.0 * (s1::DOUBLE / n::DOUBLE)
        |        * (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
        |        * (s1::DOUBLE / n::DOUBLE)
        |    END AS m4
        |  FROM g),
        |sk AS (
        |  SELECT flag, n, mean, m2,
        |    CASE WHEN m2 > 0 THEN
        |      floor(m3 / (m2 * sqrt(m2)) * 10000 + 0.5) / 10000
        |    END AS skewness,
        |    CASE WHEN m2 > 0 THEN
        |      floor((m4 / (m2 * m2) - 3.0) * 10000 + 0.5) / 10000
        |    END AS kurtosis_excess
        |  FROM m),
        |jb AS (
        |  SELECT *,
        |    CASE WHEN m2 > 0 THEN
        |      floor(n::DOUBLE / 6.0 * (skewness * skewness
        |        + kurtosis_excess * kurtosis_excess / 4.0)
        |        * 10000 + 0.5) / 10000
        |    END AS jb
        |  FROM sk)
        |SELECT flag, n,
        |  CASE WHEN mean IS NOT NULL THEN
        |    floor(mean * 10000 + 0.5) / 10000 END AS mean,
        |  skewness, kurtosis_excess, jb,
        |  CASE WHEN jb IS NOT NULL THEN jb > 5.991465 END
        |    AS normal_rejected_95
        |FROM jb
        |ORDER BY flag""".stripMargin,
    "agg_mann_whitney" ->
      s"""$CellsCte,
        |cum AS (
        |  SELECT *,
        |    (coalesce(sum(cc) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS cum_cc_lt
        |  FROM cells),
        |a0 AS (
        |  SELECT sum(cc)::BIGINT AS n_control,
        |    sum(ct)::BIGINT AS n_treatment,
        |    sum(ct * (2 * cum_cc_lt + cc))::BIGINT AS u2_treatment,
        |    sum(CASE WHEN cc + ct < 2097152 THEN
        |      (cc + ct) * (cc + ct) * (cc + ct) - (cc + ct) END)::BIGINT
        |      AS tie_raw,
        |    max(cc + ct)::BIGINT AS t_max
        |  FROM cum),
        |a AS (
        |  SELECT n_control, n_treatment, u2_treatment,
        |    (CASE WHEN t_max < 2097152 THEN tie_raw END)::BIGINT
        |      AS tie_sum
        |  FROM a0),
        |b AS (
        |  SELECT *,
        |    (n_control * n_treatment)::DOUBLE
        |      * ((n_control + n_treatment + 1)::DOUBLE
        |        - tie_sum::DOUBLE
        |          / ((n_control + n_treatment)
        |            * (n_control + n_treatment - 1))::DOUBLE)
        |      / 12.0 AS var_u
        |  FROM a)
        |SELECT n_control, n_treatment, u2_treatment, tie_sum,
        |  CASE WHEN var_u > 0 THEN
        |    floor(((u2_treatment - n_control * n_treatment)::DOUBLE / 2.0)
        |      / sqrt(var_u) * 10000 + 0.5) / 10000 END AS z
        |FROM b""".stripMargin,
    "agg_ks_test" ->
      s"""$CellsCte,
        |cum AS (
        |  SELECT *,
        |    (sum(cc) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_cc,
        |    (sum(ct) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_ct,
        |    (sum(cc) OVER ())::BIGINT AS n_c,
        |    (sum(ct) OVER ())::BIGINT AS n_t
        |  FROM cells),
        |a AS (
        |  SELECT max(n_c)::BIGINT AS n_control,
        |    max(n_t)::BIGINT AS n_treatment,
        |    max(abs(cum_cc * n_t - cum_ct * n_c))::BIGINT AS d_num
        |  FROM cum)
        |SELECT n_control, n_treatment, d_num,
        |  CASE WHEN n_control > 0 AND n_treatment > 0 THEN
        |    floor(d_num::DOUBLE / (n_control * n_treatment)::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS d_stat,
        |  CASE WHEN n_control > 0 AND n_treatment > 0 THEN
        |    floor(least(1.0, 2.0 * exp(-2.0
        |      * pow(d_num::DOUBLE / (n_control * n_treatment)::DOUBLE, 2)
        |      * (n_control * n_treatment)::DOUBLE
        |      / (n_control + n_treatment)::DOUBLE)) * 10000 + 0.5) / 10000
        |    END AS p_approx
        |FROM a""".stripMargin,
    // z² written as the literal product so both engines compute the
    // identical IEEE value; interval one mirrored expression per arm.
    "agg_wilson_ci" ->
      """WITH v AS (
        |  SELECT CASE WHEN ('0x' || substring(md5(user_id::VARCHAR),
        |      1, 2))::INT % 2 = 0 THEN 'control' ELSE 'treatment' END
        |      AS variant,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS purch
        |  FROM events),
        |g AS (
        |  SELECT variant, count(*)::BIGINT AS n, sum(purch)::BIGINT AS x
        |  FROM v GROUP BY 1),
        |e AS (
        |  SELECT *, x::DOUBLE / n::DOUBLE AS ph,
        |    1.959964 * 1.959964 AS z2
        |  FROM g),
        |c AS (
        |  SELECT *,
        |    (ph + z2 / (2.0 * n::DOUBLE)) / (1.0 + z2 / n::DOUBLE)
        |      AS center,
        |    1.959964 * sqrt(ph * (1.0 - ph) / n::DOUBLE
        |        + z2 / (4.0 * n::DOUBLE * n::DOUBLE))
        |      / (1.0 + z2 / n::DOUBLE) AS half
        |  FROM e)
        |SELECT variant, n, x,
        |  floor(ph*10000 + 0.5)/10000 AS p_hat,
        |  floor((center - half)*10000 + 0.5)/10000 AS ci_lo,
        |  floor((center + half)*10000 + 0.5)/10000 AS ci_hi
        |FROM c ORDER BY variant""".stripMargin,
    // Micro-quantized rates before the moment sums; α/β and each
    // shrunken rate mirrored op-for-op; degenerate moments fall back
    // to the raw rate.
    "agg_eb_shrinkage" ->
      """WITH g AS (
        |  SELECT c_nationkey::BIGINT AS nationkey,
        |    count(*)::BIGINT AS n,
        |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |p AS (SELECT *, (x * 1000000 // n)::BIGINT AS p_u FROM g),
        |mom AS (
        |  SELECT count(*)::BIGINT AS k, sum(p_u)::BIGINT AS sp,
        |    sum(p_u * p_u)::BIGINT AS spp
        |  FROM p),
        |e AS (
        |  SELECT p.*, mom.k, mom.sp, mom.spp,
        |    sp::DOUBLE / (k::DOUBLE * 1000000.0) AS m,
        |    (k::DOUBLE * spp::DOUBLE - sp::DOUBLE * sp::DOUBLE)
        |      / (k::DOUBLE * k::DOUBLE * 1000000000000.0) AS v
        |  FROM p CROSS JOIN mom),
        |c AS (
        |  SELECT *,
        |    v > 0 AND m > 0 AND m < 1 AND m * (1.0 - m) > v AS ok,
        |    CASE WHEN v > 0 AND m > 0 AND m < 1 AND m * (1.0 - m) > v
        |      THEN m * (1.0 - m) / v - 1.0 END AS com
        |  FROM e),
        |ab AS (
        |  SELECT *, CASE WHEN ok THEN m * com END AS alpha,
        |    CASE WHEN ok THEN (1.0 - m) * com END AS beta
        |  FROM c)
        |SELECT nationkey, n, x, p_u,
        |  CASE WHEN ok THEN
        |    floor((x::DOUBLE + alpha) / (n::DOUBLE + alpha + beta)
        |      * 10000 + 0.5) / 10000
        |  ELSE floor(x::DOUBLE / n::DOUBLE * 10000 + 0.5) / 10000
        |  END AS shrunk
        |FROM ab ORDER BY nationkey""".stripMargin,
    // Observed cells only (zero cells contribute exactly 0 to G);
    // identical op order inside the micro-nat term.
    "agg_g_test" ->
      """WITH f AS (
        |  SELECT c_nationkey::BIGINT AS nationkey, c_mktsegment
        |  FROM customer),
        |cells AS (
        |  SELECT nationkey, c_mktsegment, count(*)::BIGINT AS cnt
        |  FROM f GROUP BY 1, 2),
        |m AS (
        |  SELECT *,
        |    (sum(cnt) OVER (PARTITION BY nationkey))::BIGINT AS r_i,
        |    (sum(cnt) OVER (PARTITION BY c_mktsegment))::BIGINT AS c_j,
        |    (sum(cnt) OVER ())::BIGINT AS n
        |  FROM cells),
        |a AS (
        |  SELECT max(n)::BIGINT AS n_rows,
        |    count(DISTINCT nationkey)::BIGINT AS n_r,
        |    count(DISTINCT c_mktsegment)::BIGINT AS n_c,
        |    sum(floor(cnt::DOUBLE
        |      * ln(cnt::DOUBLE * n::DOUBLE
        |        / (r_i::DOUBLE * c_j::DOUBLE))
        |      * 1000000 + 0.5)::BIGINT)::BIGINT AS g_half_micro
        |  FROM m)
        |SELECT n_rows, n_r, n_c,
        |  ((n_r - 1) * (n_c - 1))::BIGINT AS df, g_half_micro,
        |  floor(2.0 * g_half_micro::DOUBLE / 1000000.0 * 10000 + 0.5)
        |    / 10000 AS g_stat
        |FROM a""".stripMargin,
    "agg_cramers_v" ->
      """WITH f AS (
        |  SELECT c_nationkey::BIGINT AS nationkey, c_mktsegment
        |  FROM customer),
        |cells AS (
        |  SELECT nationkey, c_mktsegment, count(*)::BIGINT AS cnt
        |  FROM f GROUP BY 1, 2),
        |grid AS (
        |  SELECT n.nationkey, s.c_mktsegment,
        |    coalesce(c.cnt, 0)::BIGINT AS cnt
        |  FROM (SELECT DISTINCT nationkey FROM f) n
        |  CROSS JOIN (SELECT DISTINCT c_mktsegment FROM f) s
        |  LEFT JOIN cells c ON n.nationkey = c.nationkey
        |    AND s.c_mktsegment = c.c_mktsegment),
        |m AS (
        |  SELECT *,
        |    (sum(cnt) OVER (PARTITION BY nationkey))::BIGINT AS r_i,
        |    (sum(cnt) OVER (PARTITION BY c_mktsegment))::BIGINT AS c_j,
        |    (sum(cnt) OVER ())::BIGINT AS n
        |  FROM grid),
        |t AS (
        |  SELECT *,
        |    (r_i * c_j)::DOUBLE / n::DOUBLE AS e
        |  FROM m),
        |a AS (
        |  SELECT max(n)::BIGINT AS n_rows,
        |    count(DISTINCT nationkey)::BIGINT AS n_r,
        |    count(DISTINCT c_mktsegment)::BIGINT AS n_c,
        |    sum(floor((cnt::DOUBLE - e) * (cnt::DOUBLE - e) / e
        |      * 1000000 + 0.5)::BIGINT)::BIGINT AS chi2_micro
        |  FROM t)
        |SELECT n_rows, n_r, n_c, chi2_micro,
        |  CASE WHEN n_rows > 0 AND least(n_r - 1, n_c - 1) > 0 THEN
        |    floor(sqrt((chi2_micro::DOUBLE / 1000000.0)
        |      / (n_rows * least(n_r - 1, n_c - 1))::DOUBLE) * 10000 + 0.5)
        |      / 10000 END AS cramers_v
        |FROM a""".stripMargin,
    "agg_contingency_stdres" ->
      """WITH f AS (
        |  SELECT c_nationkey::BIGINT AS nationkey, c_mktsegment
        |  FROM customer),
        |cells AS (
        |  SELECT nationkey, c_mktsegment, count(*)::BIGINT AS cnt
        |  FROM f GROUP BY 1, 2),
        |grid AS (
        |  SELECT n.nationkey, s.c_mktsegment,
        |    coalesce(c.cnt, 0)::BIGINT AS cnt
        |  FROM (SELECT DISTINCT nationkey FROM f) n
        |  CROSS JOIN (SELECT DISTINCT c_mktsegment FROM f) s
        |  LEFT JOIN cells c ON n.nationkey = c.nationkey
        |    AND s.c_mktsegment = c.c_mktsegment),
        |m AS (
        |  SELECT *,
        |    (sum(cnt) OVER (PARTITION BY nationkey))::BIGINT AS r_i,
        |    (sum(cnt) OVER (PARTITION BY c_mktsegment))::BIGINT AS c_j,
        |    (sum(cnt) OVER ())::BIGINT AS n
        |  FROM grid),
        |t AS (
        |  SELECT *,
        |    (r_i * c_j)::DOUBLE / n::DOUBLE AS e
        |  FROM m),
        |u AS (
        |  SELECT *,
        |    e * (1.0 - r_i::DOUBLE / n::DOUBLE)
        |      * (1.0 - c_j::DOUBLE / n::DOUBLE) AS den2
        |  FROM t)
        |SELECT nationkey, c_mktsegment, cnt,
        |  floor(e * 10000 + 0.5) / 10000 AS expected,
        |  CASE WHEN den2 > 0 THEN
        |    floor((cnt::DOUBLE - e) / sqrt(den2) * 10000 + 0.5) / 10000
        |    END AS adj_residual
        |FROM u ORDER BY nationkey, c_mktsegment""".stripMargin,
    "agg_mutual_information" ->
      """WITH f AS (
        |  SELECT c_nationkey::BIGINT AS nationkey, c_mktsegment
        |  FROM customer),
        |cells AS (
        |  SELECT nationkey, c_mktsegment, count(*)::BIGINT AS cnt
        |  FROM f GROUP BY 1, 2),
        |m AS (
        |  SELECT *,
        |    (sum(cnt) OVER (PARTITION BY nationkey))::BIGINT AS r_i,
        |    (sum(cnt) OVER (PARTITION BY c_mktsegment))::BIGINT AS c_j,
        |    (sum(cnt) OVER ())::BIGINT AS n
        |  FROM cells),
        |mi AS (
        |  SELECT max(n)::BIGINT AS n,
        |    sum(floor(cnt::DOUBLE
        |      * ln(n::DOUBLE * cnt::DOUBLE / (r_i::DOUBLE * c_j::DOUBLE))
        |      * 1000000 + 0.5)::BIGINT)::BIGINT AS mi_sum_u
        |  FROM m),
        |hr AS (
        |  SELECT sum(floor(-(g.m::DOUBLE / g.n::DOUBLE)
        |      * ln(g.m::DOUBLE / g.n::DOUBLE) * 1000000 + 0.5)::BIGINT
        |    )::BIGINT AS hr_u
        |  FROM (SELECT nationkey, max(n)::BIGINT AS n,
        |          sum(cnt)::BIGINT AS m
        |        FROM m GROUP BY 1) g),
        |hc AS (
        |  SELECT sum(floor(-(g.m::DOUBLE / g.n::DOUBLE)
        |      * ln(g.m::DOUBLE / g.n::DOUBLE) * 1000000 + 0.5)::BIGINT
        |    )::BIGINT AS hc_u
        |  FROM (SELECT c_mktsegment, max(n)::BIGINT AS n,
        |          sum(cnt)::BIGINT AS m
        |        FROM m GROUP BY 1) g)
        |SELECT n,
        |  floor(mi_sum_u::DOUBLE / (1000000.0 * n::DOUBLE)
        |    * 10000 + 0.5) / 10000 AS mi_nats,
        |  floor(hr_u / 1000000.0 * 10000 + 0.5) / 10000 AS h_row,
        |  floor(hc_u / 1000000.0 * 10000 + 0.5) / 10000 AS h_col,
        |  CASE WHEN least(hr_u, hc_u) > 0 THEN
        |    floor((mi_sum_u::DOUBLE / (1000000.0 * n::DOUBLE))
        |      / (least(hr_u, hc_u)::DOUBLE / 1000000.0)
        |      * 10000 + 0.5) / 10000 END AS nmi
        |FROM mi CROSS JOIN hr CROSS JOIN hc""".stripMargin,
    "agg_spearman_rho" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    floor(l_quantity + 0.5)::BIGINT AS qx,
        |    floor(l_discount * 100 + 0.5)::BIGINT AS qy
        |  FROM lineitem),
        |cells AS (
        |  SELECT flag, qx, qy, count(*)::BIGINT AS c
        |  FROM li GROUP BY 1, 2, 3),
        |xm AS (
        |  SELECT flag, qx,
        |    2 * (coalesce(sum(cm) OVER (PARTITION BY flag ORDER BY qx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0))::BIGINT
        |      + cm + 1
        |      - ((sum(cm) OVER (PARTITION BY flag))::BIGINT + 1) AS d_qx
        |  FROM (SELECT flag, qx, sum(c)::BIGINT AS cm FROM cells
        |        GROUP BY 1, 2)),
        |ym AS (
        |  SELECT flag, qy,
        |    2 * (coalesce(sum(cm) OVER (PARTITION BY flag ORDER BY qy
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0))::BIGINT
        |      + cm + 1
        |      - ((sum(cm) OVER (PARTITION BY flag))::BIGINT + 1) AS d_qy
        |  FROM (SELECT flag, qy, sum(c)::BIGINT AS cm FROM cells
        |        GROUP BY 1, 2)),
        |a AS (
        |  SELECT cells.flag, sum(c)::BIGINT AS n,
        |    sum(c * d_qx * d_qy)::BIGINT AS sxy,
        |    sum(c * d_qx * d_qx)::BIGINT AS sxx,
        |    sum(c * d_qy * d_qy)::BIGINT AS syy
        |  FROM cells
        |  JOIN xm ON cells.flag = xm.flag AND cells.qx = xm.qx
        |  JOIN ym ON cells.flag = ym.flag AND cells.qy = ym.qy
        |  GROUP BY 1)
        |SELECT flag, n, sxy, sxx, syy,
        |  CASE WHEN sxx > 0 AND syy > 0 THEN
        |    floor(sxy::DOUBLE / sqrt(sxx::DOUBLE * syy::DOUBLE)
        |      * 10000 + 0.5) / 10000 END AS rho
        |FROM a ORDER BY flag""".stripMargin,
    // Same cell-grid CTEs; Fisher z on the r4'd rho, tanh as
    // (e^2x - 1)/(e^2x + 1) — mirrored transcendentals.
    "agg_spearman_ci" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    floor(l_quantity + 0.5)::BIGINT AS qx,
        |    floor(l_discount * 100 + 0.5)::BIGINT AS qy
        |  FROM lineitem),
        |cells AS (
        |  SELECT flag, qx, qy, count(*)::BIGINT AS c
        |  FROM li GROUP BY 1, 2, 3),
        |xm AS (
        |  SELECT flag, qx,
        |    2 * (coalesce(sum(cm) OVER (PARTITION BY flag ORDER BY qx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0))::BIGINT
        |      + cm + 1
        |      - ((sum(cm) OVER (PARTITION BY flag))::BIGINT + 1) AS d_qx
        |  FROM (SELECT flag, qx, sum(c)::BIGINT AS cm FROM cells
        |        GROUP BY 1, 2)),
        |ym AS (
        |  SELECT flag, qy,
        |    2 * (coalesce(sum(cm) OVER (PARTITION BY flag ORDER BY qy
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0))::BIGINT
        |      + cm + 1
        |      - ((sum(cm) OVER (PARTITION BY flag))::BIGINT + 1) AS d_qy
        |  FROM (SELECT flag, qy, sum(c)::BIGINT AS cm FROM cells
        |        GROUP BY 1, 2)),
        |a AS (
        |  SELECT cells.flag, sum(c)::BIGINT AS n,
        |    sum(c * d_qx * d_qy)::BIGINT AS sxy,
        |    sum(c * d_qx * d_qx)::BIGINT AS sxx,
        |    sum(c * d_qy * d_qy)::BIGINT AS syy
        |  FROM cells
        |  JOIN xm ON cells.flag = xm.flag AND cells.qx = xm.qx
        |  JOIN ym ON cells.flag = ym.flag AND cells.qy = ym.qy
        |  GROUP BY 1),
        |b AS (
        |  SELECT flag, n,
        |    CASE WHEN sxx > 0 AND syy > 0 THEN
        |      floor(sxy::DOUBLE / sqrt(sxx::DOUBLE * syy::DOUBLE)
        |        * 10000 + 0.5) / 10000 END AS rho
        |  FROM a),
        |c2 AS (
        |  SELECT *,
        |    CASE WHEN rho IS NOT NULL AND abs(rho) < 1.0 THEN
        |      0.5 * ln((1.0 + rho) / (1.0 - rho)) END AS zr,
        |    CASE WHEN n > 3 THEN 1.0 / sqrt((n - 3)::DOUBLE) END AS se
        |  FROM b)
        |SELECT flag, n, rho,
        |  CASE WHEN zr IS NOT NULL AND se IS NOT NULL THEN
        |    floor((exp(2.0 * (zr - 1.959964 * se)) - 1.0)
        |      / (exp(2.0 * (zr - 1.959964 * se)) + 1.0) * 10000 + 0.5)
        |      / 10000 END AS ci_lo,
        |  CASE WHEN zr IS NOT NULL AND se IS NOT NULL THEN
        |    floor((exp(2.0 * (zr + 1.959964 * se)) - 1.0)
        |      / (exp(2.0 * (zr + 1.959964 * se)) + 1.0) * 10000 + 0.5)
        |      / 10000 END AS ci_hi
        |FROM c2 ORDER BY flag""".stripMargin,
    "agg_tukey_fences" ->
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
        |    max(CASE WHEN rn = (n + 1) // 4 THEN cents END)::BIGINT
        |      AS q1_cents,
        |    max(CASE WHEN rn = (3 * (n + 1)) // 4 THEN cents END)::BIGINT
        |      AS q3_cents
        |  FROM r GROUP BY 1),
        |c2 AS (
        |  SELECT *, (q3_cents - q1_cents)::BIGINT AS iqr_cents FROM cuts)
        |SELECT li.l_returnflag, max(n_rows)::BIGINT AS n_rows,
        |  max(q1_cents)::BIGINT AS q1_cents,
        |  max(q3_cents)::BIGINT AS q3_cents,
        |  max(iqr_cents)::BIGINT AS iqr_cents,
        |  sum(CASE WHEN 2 * cents < 2 * q1_cents - 3 * iqr_cents
        |    THEN 1 ELSE 0 END)::BIGINT AS n_low,
        |  sum(CASE WHEN 2 * cents > 2 * q3_cents + 3 * iqr_cents
        |    THEN 1 ELSE 0 END)::BIGINT AS n_high,
        |  floor(((sum(CASE WHEN 2 * cents < 2 * q1_cents - 3 * iqr_cents
        |      THEN 1 ELSE 0 END)
        |    + sum(CASE WHEN 2 * cents > 2 * q3_cents + 3 * iqr_cents
        |      THEN 1 ELSE 0 END))::DOUBLE / max(n_rows))
        |    * 10000 + 0.5) / 10000 AS outlier_frac
        |FROM li JOIN c2 USING (l_returnflag)
        |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin,
    // Sufficient-stats Taylor variance; whole-dollar y; mirrored
    // readout order.
    "agg_ratio_estimator" ->
      """WITH cu AS (
        |  SELECT c_mktsegment, c_custkey, count(*)::BIGINT AS x,
        |    sum(floor(o_totalprice + 0.5)::BIGINT)::BIGINT AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |a AS (
        |  SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
        |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy,
        |    sum(y * y)::BIGINT AS syy
        |  FROM cu GROUP BY 1),
        |b AS (
        |  SELECT *,
        |    CASE WHEN sx > 0 THEN sy::DOUBLE / sx::DOUBLE END AS ratio_raw
        |  FROM a),
        |c AS (
        |  SELECT *,
        |    CASE WHEN ratio_raw IS NOT NULL AND n_customers > 1 THEN
        |      sqrt((syy::DOUBLE - 2.0 * ratio_raw * sxy::DOUBLE
        |          + ratio_raw * ratio_raw * sxx::DOUBLE)
        |        / (n_customers - 1)::DOUBLE / n_customers::DOUBLE
        |        / ((sx::DOUBLE / n_customers::DOUBLE)
        |          * (sx::DOUBLE / n_customers::DOUBLE)))
        |      END AS se_raw
        |  FROM b)
        |SELECT c_mktsegment, n_customers, sx, sy,
        |  floor(ratio_raw * 10000 + 0.5) / 10000 AS ratio,
        |  floor(se_raw * 10000 + 0.5) / 10000 AS se,
        |  floor((ratio_raw - 1.96 * se_raw) * 10000 + 0.5) / 10000 AS ci_lo,
        |  floor((ratio_raw + 1.96 * se_raw) * 10000 + 0.5) / 10000 AS ci_hi
        |FROM c ORDER BY c_mktsegment""".stripMargin,
    // Integer PERCENTILE_CONT: lo/hi order stats + rem off one rank
    // window; value ×100 = 100·lo + rem·(hi − lo), exact.
    "agg_percentile_cont" -> {
      val ks = Seq(25, 50, 75, 90)
      val picks = ks.map { k =>
        s"""    max(CASE WHEN rn = ((n - 1) * $k) // 100 + 1
           |      THEN cents END)::BIGINT AS lo$k,
           |    max(CASE WHEN rn = ((n - 1) * $k) // 100 + 1
           |        + (CASE WHEN ((n - 1) * $k) % 100 > 0 THEN 1 ELSE 0 END)
           |      THEN cents END)::BIGINT AS hi$k,
           |    max(((n - 1) * $k) % 100)::BIGINT AS rem$k""".stripMargin
      }.mkString(",\n")
      val outs = ks.map(k =>
        s"(100 * lo$k + rem$k * (hi$k - lo$k))::BIGINT AS p${k}_x100")
        .mkString(",\n  ")
      s"""WITH li AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    floor(l_extendedprice * 100 + 0.5)::BIGINT AS cents
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, cents,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cents, l_orderkey, l_linenumber)::BIGINT AS rn,
        |    (count(*) OVER (PARTITION BY l_returnflag))::BIGINT AS n
        |  FROM li),
        |a AS (
        |  SELECT l_returnflag, max(n)::BIGINT AS n_rows,
        |$picks
        |  FROM r GROUP BY 1)
        |SELECT l_returnflag, n_rows,
        |  $outs
        |FROM a ORDER BY l_returnflag""".stripMargin
    },
    "agg_trimmed_mean" ->
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
        |  sum(CASE WHEN cents BETWEEN p05_cents AND p95_cents
        |    THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  max(p05_cents)::BIGINT AS p05_cents,
        |  max(p95_cents)::BIGINT AS p95_cents,
        |  floor((sum(cents)::DOUBLE / count(*)) * 10000 + 0.5) / 10000
        |    AS mean_cents,
        |  floor((sum(CASE WHEN cents BETWEEN p05_cents AND p95_cents
        |      THEN cents ELSE 0 END)::DOUBLE
        |    / sum(CASE WHEN cents BETWEEN p05_cents AND p95_cents
        |      THEN 1 ELSE 0 END)) * 10000 + 0.5) / 10000
        |    AS trimmed_mean_cents
        |FROM li JOIN cuts USING (l_returnflag)
        |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin,
    "agg_kendall_tau" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    floor(l_quantity + 0.5)::BIGINT AS qx,
        |    floor(l_discount * 100 + 0.5)::BIGINT AS qy
        |  FROM lineitem),
        |cells AS (
        |  SELECT flag, qx, qy, count(*)::BIGINT AS c
        |  FROM li GROUP BY 1, 2, 3),
        |cd AS (
        |  SELECT a.flag,
        |    sum(CASE WHEN a.qy < b.qy THEN a.c * b.c ELSE 0 END)::BIGINT
        |      AS n_concordant,
        |    sum(CASE WHEN a.qy > b.qy THEN a.c * b.c ELSE 0 END)::BIGINT
        |      AS n_discordant
        |  FROM cells a JOIN cells b
        |    ON a.flag = b.flag AND a.qx < b.qx AND a.qy <> b.qy
        |  GROUP BY 1),
        |tx AS (
        |  SELECT flag, sum((t * (t - 1)) // 2)::BIGINT AS ties_x
        |  FROM (SELECT flag, qx, sum(c)::BIGINT AS t FROM cells
        |        GROUP BY 1, 2) GROUP BY 1),
        |ty AS (
        |  SELECT flag, sum((t * (t - 1)) // 2)::BIGINT AS ties_y
        |  FROM (SELECT flag, qy, sum(c)::BIGINT AS t FROM cells
        |        GROUP BY 1, 2) GROUP BY 1),
        |nn AS (
        |  SELECT flag, sum(c)::BIGINT AS n,
        |    ((sum(c) * (sum(c) - 1)) // 2)::BIGINT AS n0
        |  FROM cells GROUP BY 1)
        |SELECT nn.flag, n, n_concordant, n_discordant, ties_x, ties_y,
        |  CASE WHEN n0 > ties_x AND n0 > ties_y THEN
        |    floor((n_concordant - n_discordant)::DOUBLE
        |      / sqrt((n0 - ties_x)::DOUBLE * (n0 - ties_y)::DOUBLE)
        |      * 10000 + 0.5) / 10000 END AS tau_b
        |FROM nn JOIN cd ON nn.flag = cd.flag
        |JOIN tx ON nn.flag = tx.flag JOIN ty ON nn.flag = ty.flag
        |ORDER BY nn.flag""".stripMargin,
    // Rank-convention median/MAD per segment, 3 unrolled clipped
    // exact-BIGINT-avg rounds, IEEE floor(x+0.5) re-quantization.
    "agg_huber_mean" ->
      """WITH base AS (
        |  SELECT c_mktsegment AS seg, c_custkey,
        |    floor(c_acctbal * 100 + 0.5)::BIGINT AS cents
        |  FROM customer),
        |r0 AS (
        |  SELECT seg, c_custkey, cents,
        |    row_number() OVER (PARTITION BY seg
        |      ORDER BY cents, c_custkey) AS rn,
        |    count(*) OVER (PARTITION BY seg) AS n
        |  FROM base),
        |med AS (
        |  SELECT seg, max(n)::BIGINT AS n_rows,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN cents END)::BIGINT AS m0,
        |    floor(sum(cents)::DOUBLE / count(*) * 10000 + 0.5) / 10000
    |      AS mean_cents
        |  FROM r0 GROUP BY 1),
        |d1 AS (
        |  SELECT b.seg, b.c_custkey, abs(b.cents - m.m0) AS adev,
        |    row_number() OVER (PARTITION BY b.seg
        |      ORDER BY abs(b.cents - m.m0), b.c_custkey) AS rn,
        |    count(*) OVER (PARTITION BY b.seg) AS n
        |  FROM base b JOIN med m ON b.seg = m.seg),
        |mad AS (
        |  SELECT seg,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN adev END)::BIGINT
        |      AS mad_cents
        |  FROM d1 GROUP BY 1),
        |h0 AS (
        |  SELECT med.seg, med.n_rows, med.m0, med.mean_cents,
        |    mad.mad_cents,
        |    floor(1.345 * (1.4826 * mad.mad_cents::DOUBLE) + 0.5)::BIGINT
        |      AS h
        |  FROM med JOIN mad ON med.seg = mad.seg),
        |m1 AS (
        |  SELECT b.seg,
        |    floor(sum(greatest(t.m0 - t.h, least(t.m0 + t.h, b.cents)))
        |      ::DOUBLE / count(*) + 0.5)::BIGINT AS m
        |  FROM base b JOIN h0 t ON b.seg = t.seg GROUP BY 1),
        |m2 AS (
        |  SELECT b.seg,
        |    floor(sum(greatest(p.m - t.h, least(p.m + t.h, b.cents)))
        |      ::DOUBLE / count(*) + 0.5)::BIGINT AS m
        |  FROM base b JOIN h0 t ON b.seg = t.seg
        |  JOIN m1 p ON b.seg = p.seg GROUP BY 1),
        |m3 AS (
        |  SELECT b.seg,
        |    floor(sum(greatest(p.m - t.h, least(p.m + t.h, b.cents)))
        |      ::DOUBLE / count(*) + 0.5)::BIGINT AS m
        |  FROM base b JOIN h0 t ON b.seg = t.seg
        |  JOIN m2 p ON b.seg = p.seg GROUP BY 1)
        |SELECT t.seg, t.n_rows, t.m0 AS median_cents, t.mad_cents,
        |  t.h AS halfwidth_cents, m3.m AS huber_cents, t.mean_cents
        |FROM h0 t JOIN m3 ON t.seg = m3.seg
        |ORDER BY t.seg""".stripMargin,
    // ANOVA sufficient stats in cents, unequal-cluster m0, r4'd ICC
    // feeding the Kish DEFF — all divisions on the 1-row readout.
    "agg_design_effect" ->
      """WITH u AS (
        |  SELECT c_nationkey AS cluster,
        |    floor(c_acctbal * 100 + 0.5)::BIGINT AS y
        |  FROM customer),
        |g AS (
        |  SELECT cluster, count(*)::BIGINT AS n_g, sum(y)::BIGINT AS sx,
        |    sum(y * y)::BIGINT AS sxx
        |  FROM u GROUP BY 1),
        |g2 AS (
        |  SELECT *, floor(sx::DOUBLE * sx::DOUBLE / n_g::DOUBLE + 0.5)
        |    ::BIGINT AS t_u
        |  FROM g),
        |a AS (
        |  SELECT count(*)::BIGINT AS k_clusters,
        |    sum(n_g)::BIGINT AS n_units,
        |    sum(sx)::BIGINT AS sum_all, sum(sxx)::BIGINT AS sxx_all,
        |    sum(t_u)::BIGINT AS t_sum_u,
        |    sum(n_g * n_g)::BIGINT AS nn_sum
        |  FROM g2),
        |b AS (
        |  SELECT *,
        |    CASE WHEN n_units > 0 THEN t_sum_u::DOUBLE
        |      - sum_all::DOUBLE * sum_all::DOUBLE / n_units::DOUBLE
        |    END AS ssb,
        |    sxx_all::DOUBLE - t_sum_u::DOUBLE AS ssw
        |  FROM a),
        |c AS (
        |  SELECT *,
        |    CASE WHEN k_clusters > 1 THEN
        |      ssb / (k_clusters - 1)::DOUBLE END AS msb,
        |    CASE WHEN n_units > k_clusters THEN
        |      ssw / (n_units - k_clusters)::DOUBLE END AS msw,
        |    CASE WHEN k_clusters > 1 AND n_units > 0 THEN
        |      (n_units::DOUBLE - nn_sum::DOUBLE / n_units::DOUBLE)
        |        / (k_clusters - 1)::DOUBLE END AS m0_raw
        |  FROM b),
        |e AS (
        |  SELECT *,
        |    CASE WHEN msb IS NOT NULL AND msw IS NOT NULL
        |      AND msb + (m0_raw - 1.0) * msw > 0 THEN
        |      floor((msb - msw) / (msb + (m0_raw - 1.0) * msw)
        |        * 10000 + 0.5) / 10000 END AS icc
        |  FROM c)
        |SELECT k_clusters, n_units,
        |  CASE WHEN m0_raw IS NOT NULL THEN
        |    floor(m0_raw * 10000 + 0.5) / 10000 END AS m0,
        |  icc,
        |  CASE WHEN icc IS NOT NULL THEN
        |    floor((1.0 + (n_units::DOUBLE / k_clusters::DOUBLE - 1.0)
        |      * icc) * 10000 + 0.5) / 10000 END AS deff
        |FROM e""".stripMargin,
    "agg_anova_f" ->
      """WITH g AS (
        |  SELECT lang, count(*)::BIGINT AS n_g,
        |    sum(n_chars)::BIGINT AS sx,
        |    sum(n_chars * n_chars)::BIGINT AS sxx,
        |    floor(sum(n_chars)::DOUBLE * sum(n_chars)::DOUBLE
        |      / count(*)::DOUBLE + 0.5)::BIGINT AS t_u
        |  FROM documents GROUP BY 1),
        |a AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(n_g)::BIGINT AS n_total,
        |    sum(sx)::BIGINT AS sum_all, sum(sxx)::BIGINT AS sxx_all,
        |    sum(t_u)::BIGINT AS t_sum_u
        |  FROM g),
        |b AS (
        |  SELECT *,
        |    t_sum_u::DOUBLE
        |      - sum_all::DOUBLE * sum_all::DOUBLE / n_total::DOUBLE AS ssb,
        |    sxx_all::DOUBLE - t_sum_u::DOUBLE AS ssw
        |  FROM a)
        |SELECT k_groups, n_total, t_sum_u,
        |  floor(ssb * 10000 + 0.5) / 10000 AS ssb,
        |  floor(ssw * 10000 + 0.5) / 10000 AS ssw,
        |  CASE WHEN ssw > 0 AND n_total > k_groups AND k_groups > 1 THEN
        |    floor((ssb / (k_groups - 1)::DOUBLE)
        |      / (ssw / (n_total - k_groups)::DOUBLE) * 10000 + 0.5) / 10000
        |    END AS f_stat
        |FROM b""".stripMargin,
    // Same anova sufficient stats; eta2/omega2/f on the 1-row frame
    // in mirrored op order (eta2 computed from the RAW ssb/sst, the
    // readout r4's only the outputs).
    "agg_eta_squared" ->
      """WITH g AS (
        |  SELECT lang, count(*)::BIGINT AS n_g,
        |    sum(n_chars)::BIGINT AS sx,
        |    sum(n_chars * n_chars)::BIGINT AS sxx,
        |    floor(sum(n_chars)::DOUBLE * sum(n_chars)::DOUBLE
        |      / count(*)::DOUBLE + 0.5)::BIGINT AS t_u
        |  FROM documents GROUP BY 1),
        |a AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(n_g)::BIGINT AS n_total,
        |    sum(sx)::BIGINT AS sum_all, sum(sxx)::BIGINT AS sxx_all,
        |    sum(t_u)::BIGINT AS t_sum_u
        |  FROM g),
        |b AS (
        |  SELECT *,
        |    t_sum_u::DOUBLE
        |      - sum_all::DOUBLE * sum_all::DOUBLE / n_total::DOUBLE AS ssb,
        |    sxx_all::DOUBLE - t_sum_u::DOUBLE AS ssw
        |  FROM a),
        |c2 AS (
        |  SELECT *, ssb + ssw AS sst,
        |    CASE WHEN n_total > k_groups THEN
        |      ssw / (n_total - k_groups)::DOUBLE END AS msw
        |  FROM b),
        |e AS (
        |  SELECT *,
        |    CASE WHEN sst > 0 THEN
        |      floor(ssb / sst * 10000 + 0.5) / 10000 END AS eta2
        |  FROM c2)
        |SELECT k_groups, n_total, eta2,
        |  CASE WHEN msw IS NOT NULL AND sst + msw > 0 THEN
        |    floor((ssb - (k_groups - 1)::DOUBLE * msw) / (sst + msw)
        |      * 10000 + 0.5) / 10000 END AS omega2,
        |  CASE WHEN eta2 IS NOT NULL AND eta2 < 1.0
        |      AND eta2 >= 0.0 THEN
        |    floor(sqrt(eta2 / (1.0 - eta2)) * 10000 + 0.5)
        |      / 10000 END AS cohens_f
        |FROM e""".stripMargin,
    // Doubled-median z2 = |2x − m2| exact integers, then the anova_f
    // assembly verbatim; monolithic per-lang rank ≡ rangedRank.
    "agg_levene_test" ->
      """WITH r AS (
        |  SELECT lang, n_chars, row_number() OVER (
        |    PARTITION BY lang ORDER BY n_chars, doc_id)::BIGINT AS rk
        |  FROM documents),
        |sz AS (SELECT lang, count(*)::BIGINT AS n_l FROM documents
        |       GROUP BY 1),
        |lo AS (SELECT r.lang, r.n_chars AS v_lo FROM r JOIN sz
        |       ON r.lang = sz.lang AND r.rk = (sz.n_l + 1) // 2),
        |hi AS (SELECT r.lang, r.n_chars AS v_hi FROM r JOIN sz
        |       ON r.lang = sz.lang AND r.rk = (sz.n_l + 2) // 2),
        |m2 AS (SELECT lo.lang, (v_lo + v_hi)::BIGINT AS m2
        |       FROM lo JOIN hi ON lo.lang = hi.lang),
        |z AS (
        |  SELECT r.lang, abs(r.n_chars * 2 - m2.m2)::BIGINT AS z2
        |  FROM r JOIN m2 ON r.lang = m2.lang),
        |g AS (
        |  SELECT lang, count(*)::BIGINT AS n_g, sum(z2)::BIGINT AS sx,
        |    sum(z2 * z2)::BIGINT AS sxx,
        |    floor(sum(z2)::DOUBLE * sum(z2)::DOUBLE
        |      / count(*)::DOUBLE + 0.5)::BIGINT AS t_u
        |  FROM z GROUP BY 1),
        |a AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(n_g)::BIGINT AS n_total,
        |    sum(sx)::BIGINT AS sum_all, sum(sxx)::BIGINT AS sxx_all,
        |    sum(t_u)::BIGINT AS t_sum_u
        |  FROM g),
        |b AS (
        |  SELECT *,
        |    t_sum_u::DOUBLE
        |      - sum_all::DOUBLE * sum_all::DOUBLE / n_total::DOUBLE AS ssb,
        |    sxx_all::DOUBLE - t_sum_u::DOUBLE AS ssw
        |  FROM a)
        |SELECT k_groups, n_total, t_sum_u,
        |  floor(ssb * 10000 + 0.5) / 10000 AS ssb,
        |  floor(ssw * 10000 + 0.5) / 10000 AS ssw,
        |  CASE WHEN ssw > 0 AND n_total > k_groups AND k_groups > 1 THEN
        |    floor((ssb / (k_groups - 1)::DOUBLE)
        |      / (ssw / (n_total - k_groups)::DOUBLE) * 10000 + 0.5) / 10000
        |    END AS bf_stat
        |FROM b""".stripMargin,
    // Doubled midranks R2 = 2·cum< + c + 1 off the value grid, exact
    // BIGINT group rank sums, anova-style whole-unit R2²/n terms,
    // MW tie-cube guard; the ×4 deferred to the H assembly.
    "agg_kruskal_wallis" ->
      """WITH cells AS (
        |  SELECT lang, n_chars::BIGINT AS x, count(*)::BIGINT AS cg
        |  FROM documents GROUP BY 1, 2),
        |vals AS (
        |  SELECT x, c,
        |    (coalesce(sum(c) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS cum_lt
        |  FROM (SELECT x, sum(cg)::BIGINT AS c FROM cells GROUP BY 1)),
        |r AS (SELECT x, (2 * cum_lt + c + 1)::BIGINT AS r2 FROM vals),
        |g AS (
        |  SELECT cells.lang, sum(cg)::BIGINT AS n_g,
        |    sum(cg * r2)::BIGINT AS r2_g
        |  FROM cells JOIN r ON cells.x = r.x GROUP BY 1),
        |gu AS (
        |  SELECT lang, n_g,
        |    floor(r2_g::DOUBLE * r2_g::DOUBLE / n_g::DOUBLE + 0.5)::BIGINT
        |      AS term_u
        |  FROM g),
        |t AS (
        |  SELECT sum(CASE WHEN c < 2097152 THEN c * c * c - c END)::BIGINT
        |      AS tie_raw,
        |    max(c)::BIGINT AS c_max
        |  FROM vals),
        |a AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(n_g)::BIGINT AS n_total,
        |    sum(term_u)::BIGINT AS t_sum_u
        |  FROM gu),
        |b AS (
        |  SELECT k_groups, n_total, t_sum_u,
        |    CASE WHEN c_max < 2097152 THEN tie_raw END AS tie_sum
        |  FROM a CROSS JOIN t),
        |h AS (
        |  SELECT *,
        |    CASE WHEN n_total > 1 THEN
        |      1.0 - tie_sum::DOUBLE
        |        / (n_total::DOUBLE * n_total::DOUBLE * n_total::DOUBLE
        |          - n_total::DOUBLE) END AS tie_denom
        |  FROM b)
        |SELECT k_groups, n_total, t_sum_u, tie_sum,
        |  CASE WHEN k_groups > 1 AND tie_denom > 0 THEN
        |    floor((12.0 / (n_total::DOUBLE * (n_total + 1)::DOUBLE)
        |      * (t_sum_u::DOUBLE / 4.0)
        |      - 3.0 * (n_total + 1)::DOUBLE) / tie_denom
        |      * 10000 + 0.5) / 10000 END AS h_stat
        |FROM h""".stripMargin,
    // Same doubled-midrank grid as kruskal_wallis; pairwise z off the
    // k-row self-join; integer Bonferroni on the micro p.
    "agg_dunn_posthoc" ->
      """WITH cells AS (
        |  SELECT lang, n_chars::BIGINT AS x, count(*)::BIGINT AS cg
        |  FROM documents GROUP BY 1, 2),
        |vals AS (
        |  SELECT x, c,
        |    (coalesce(sum(c) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS cum_lt
        |  FROM (SELECT x, sum(cg)::BIGINT AS c FROM cells GROUP BY 1)),
        |r AS (SELECT x, (2 * cum_lt + c + 1)::BIGINT AS r2 FROM vals),
        |g AS (
        |  SELECT cells.lang, sum(cg)::BIGINT AS n_g,
        |    sum(cg * r2)::BIGINT AS r2_g
        |  FROM cells JOIN r ON cells.x = r.x GROUP BY 1),
        |t AS (
        |  SELECT sum(CASE WHEN c < 2097152 THEN c * c * c - c END)::BIGINT
        |      AS tie_raw,
        |    max(c)::BIGINT AS c_max
        |  FROM vals),
        |tt AS (
        |  SELECT sum(n_g)::BIGINT AS n_total, count(*)::BIGINT AS k_groups
        |  FROM g),
        |p AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b,
        |    a.n_g AS n_a, b.n_g AS n_b, a.r2_g AS r2_a, b.r2_g AS r2_b,
        |    t.tie_raw, t.c_max, tt.n_total, tt.k_groups
        |  FROM g a JOIN g b ON a.lang < b.lang
        |  CROSS JOIN t CROSS JOIN tt),
        |q AS (
        |  SELECT *,
        |    CASE WHEN c_max < 2097152 THEN tie_raw END AS tie_sum
        |  FROM p),
        |v AS (
        |  SELECT *,
        |    CASE WHEN n_total > 1 THEN
        |      (n_total::DOUBLE * (n_total + 1)::DOUBLE
        |        - tie_sum::DOUBLE / (n_total - 1)::DOUBLE) / 12.0
        |      END AS v_pool
        |  FROM q),
        |z AS (
        |  SELECT *,
        |    CASE WHEN v_pool > 0 THEN
        |      floor(((r2_a::DOUBLE / n_a::DOUBLE
        |        - r2_b::DOUBLE / n_b::DOUBLE) / 2.0)
        |        / sqrt(v_pool * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE))
        |        * 10000 + 0.5) / 10000 END AS z
        |  FROM v),
        |w2 AS (
        |  SELECT *,
        |    CASE WHEN z IS NOT NULL THEN
        |      floor(least(1.0, 2.0 * exp(-0.717 * abs(z)
        |        - 0.416 * z * z)) * 1000000 + 0.5)::BIGINT END AS p_micro,
        |    (k_groups * (k_groups - 1) // 2)::BIGINT AS n_pairs
        |  FROM z)
        |SELECT lang_a, lang_b, n_a, n_b, z, p_micro,
        |  CASE WHEN p_micro IS NOT NULL THEN
        |    p_micro * n_pairs < 50000 END AS significant
        |FROM w2 ORDER BY lang_a, lang_b""".stripMargin,
    // The 2-D dominance prefix over the completed (group × value)
    // grid; doubled J2, exact-even E[J2], guarded cube sums, variance
    // assembled in mirrored doubles.
    "agg_jonckheere_terpstra" ->
      """WITH cu AS (
        |  SELECT c_nationkey::BIGINT AS g,
        |    floor(c_acctbal * 100 + 0.5)::BIGINT AS v
        |  FROM customer),
        |cells AS (SELECT g, v, count(*)::BIGINT AS c FROM cu GROUP BY 1, 2),
        |grid AS (
        |  SELECT gg.g, vv.v, coalesce(cells.c, 0)::BIGINT AS c
        |  FROM (SELECT DISTINCT v FROM cells) vv
        |  CROSS JOIN (SELECT DISTINCT g FROM cells) gg
        |  LEFT JOIN cells ON cells.g = gg.g AND cells.v = vv.v),
        |p1 AS (
        |  SELECT g, v, c,
        |    (coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0))::BIGINT AS cumlt
        |  FROM grid),
        |p2 AS (
        |  SELECT g, v, c,
        |    (coalesce(sum(cumlt) OVER (PARTITION BY v ORDER BY g
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0))::BIGINT AS t_lt,
        |    (coalesce(sum(c) OVER (PARTITION BY v ORDER BY g
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0))::BIGINT AS s_eq
        |  FROM p1),
        |j AS (SELECT sum(c * (2 * t_lt + s_eq))::BIGINT AS j2 FROM p2),
        |gsz AS (SELECT g, sum(c)::BIGINT AS n_g FROM cells GROUP BY 1),
        |gs AS (
        |  SELECT count(*)::BIGINT AS k_groups, sum(n_g)::BIGINT AS n_total,
        |    sum(n_g * n_g)::BIGINT AS sum_n2,
        |    sum(CASE WHEN n_g < 1048576
        |      THEN n_g * (n_g - 1) * (2 * n_g + 5) END)::BIGINT AS g1,
        |    sum(CASE WHEN n_g < 1048576
        |      THEN n_g * (n_g - 1) * (n_g - 2) END)::BIGINT AS g2,
        |    sum(n_g * (n_g - 1))::BIGINT AS g3,
        |    max(n_g)::BIGINT AS g_max
        |  FROM gsz),
        |vsz AS (SELECT v, sum(c)::BIGINT AS t_v FROM cells GROUP BY 1),
        |vs AS (
        |  SELECT
        |    sum(CASE WHEN t_v < 1048576
        |      THEN t_v * (t_v - 1) * (2 * t_v + 5) END)::BIGINT AS t1,
        |    sum(CASE WHEN t_v < 1048576
        |      THEN t_v * (t_v - 1) * (t_v - 2) END)::BIGINT AS t2,
        |    sum(t_v * (t_v - 1))::BIGINT AS t3,
        |    max(t_v)::BIGINT AS t_max
        |  FROM vsz),
        |a AS (
        |  SELECT *, ((n_total * n_total - sum_n2) // 2)::BIGINT AS e2
        |  FROM j CROSS JOIN gs CROSS JOIN vs),
        |b AS (
        |  SELECT *,
        |    CASE WHEN g_max < 1048576 AND t_max < 1048576
        |        AND n_total > 2 THEN
        |      (n_total::DOUBLE * (n_total::DOUBLE - 1.0)
        |          * (2.0 * n_total::DOUBLE + 5.0)
        |        - g1::DOUBLE - t1::DOUBLE) / 72.0
        |      + g2::DOUBLE * t2::DOUBLE
        |        / (36.0 * n_total::DOUBLE * (n_total::DOUBLE - 1.0)
        |          * (n_total::DOUBLE - 2.0))
        |      + g3::DOUBLE * t3::DOUBLE
        |        / (8.0 * n_total::DOUBLE * (n_total::DOUBLE - 1.0))
        |      END AS var_j
        |  FROM a)
        |SELECT k_groups, n_total, j2, e2, sum_n2,
        |  floor(var_j * 10000 + 0.5) / 10000 AS var_j,
        |  CASE WHEN var_j > 0 THEN
        |    floor(((j2 - e2)::DOUBLE / 2.0) / sqrt(var_j) * 10000 + 0.5)
        |      / 10000 END AS z
        |FROM b""".stripMargin,
    // Same cell sufficient stats; diff ± 1.96·SE_Welch, mirrored.
    "agg_mean_diff_ci" ->
      s"""$CellsCte,
        |a AS (
        |  SELECT sum(cc)::BIGINT AS n_c, sum(ct)::BIGINT AS n_t,
        |    sum(cc * x)::BIGINT AS sx_c, sum(ct * x)::BIGINT AS sx_t,
        |    sum(cc * x * x)::BIGINT AS sxx_c,
        |    sum(ct * x * x)::BIGINT AS sxx_t
        |  FROM cells),
        |b AS (
        |  SELECT *,
        |    sx_c::DOUBLE / n_c::DOUBLE AS m_c,
        |    sx_t::DOUBLE / n_t::DOUBLE AS m_t,
        |    (sxx_c::DOUBLE - sx_c::DOUBLE * sx_c::DOUBLE / n_c::DOUBLE)
        |      / (n_c - 1)::DOUBLE AS v_c,
        |    (sxx_t::DOUBLE - sx_t::DOUBLE * sx_t::DOUBLE / n_t::DOUBLE)
        |      / (n_t - 1)::DOUBLE AS v_t
        |  FROM a),
        |c AS (
        |  SELECT *, m_t - m_c AS diff,
        |    CASE WHEN v_c > 0 AND v_t > 0 THEN
        |      sqrt(v_c / n_c::DOUBLE + v_t / n_t::DOUBLE) END AS se
        |  FROM b)
        |SELECT n_c AS n_control, n_t AS n_treatment,
        |  floor(diff * 10000 + 0.5) / 10000 AS mean_diff,
        |  CASE WHEN se IS NOT NULL THEN
        |    floor((diff - 1.959964 * se) * 10000 + 0.5) / 10000
        |    END AS ci_lo,
        |  CASE WHEN se IS NOT NULL THEN
        |    floor((diff + 1.959964 * se) * 10000 + 0.5) / 10000
        |    END AS ci_hi,
        |  CASE WHEN se IS NOT NULL THEN
        |    abs(diff) > 1.959964 * se END AS significant_95
        |FROM c""".stripMargin,
    "agg_welch_t" ->
      s"""$CellsCte,
        |a AS (
        |  SELECT sum(cc)::BIGINT AS n_c, sum(ct)::BIGINT AS n_t,
        |    sum(cc * x)::BIGINT AS sx_c, sum(ct * x)::BIGINT AS sx_t,
        |    sum(cc * x * x)::BIGINT AS sxx_c,
        |    sum(ct * x * x)::BIGINT AS sxx_t
        |  FROM cells),
        |b AS (
        |  SELECT *,
        |    sx_c::DOUBLE / n_c::DOUBLE AS m_c,
        |    sx_t::DOUBLE / n_t::DOUBLE AS m_t,
        |    (sxx_c::DOUBLE - sx_c::DOUBLE * sx_c::DOUBLE / n_c::DOUBLE)
        |      / (n_c - 1)::DOUBLE AS v_c,
        |    (sxx_t::DOUBLE - sx_t::DOUBLE * sx_t::DOUBLE / n_t::DOUBLE)
        |      / (n_t - 1)::DOUBLE AS v_t
        |  FROM a),
        |c AS (
        |  SELECT *, v_c / n_c::DOUBLE + v_t / n_t::DOUBLE AS se2 FROM b)
        |SELECT n_c AS n_control, n_t AS n_treatment,
        |  CASE WHEN n_c > 0 THEN
        |    floor(m_c * 10000 + 0.5) / 10000 END AS mean_control,
        |  CASE WHEN n_t > 0 THEN
        |    floor(m_t * 10000 + 0.5) / 10000 END AS mean_treatment,
        |  CASE WHEN v_c > 0 AND v_t > 0 THEN
        |    floor((m_t - m_c) / sqrt(se2) * 10000 + 0.5) / 10000
        |    END AS t_stat,
        |  CASE WHEN v_c > 0 AND v_t > 0 THEN
        |    floor(se2 * se2
        |      / (v_c / n_c * (v_c / n_c) / (n_c - 1)::DOUBLE
        |        + v_t / n_t * (v_t / n_t) / (n_t - 1)::DOUBLE)
        |      * 10000 + 0.5) / 10000 END AS df_welch
        |FROM c""".stripMargin,
    "agg_cohens_d" ->
      s"""$CellsCte,
        |a AS (
        |  SELECT sum(cc)::BIGINT AS n_c, sum(ct)::BIGINT AS n_t,
        |    sum(cc * x)::BIGINT AS sx_c, sum(ct * x)::BIGINT AS sx_t,
        |    sum(cc * x * x)::BIGINT AS sxx_c,
        |    sum(ct * x * x)::BIGINT AS sxx_t
        |  FROM cells),
        |b AS (
        |  SELECT *,
        |    sx_c::DOUBLE / n_c::DOUBLE AS m_c,
        |    sx_t::DOUBLE / n_t::DOUBLE AS m_t,
        |    sxx_c::DOUBLE - sx_c::DOUBLE * sx_c::DOUBLE / n_c::DOUBLE
        |      AS ss_c,
        |    sxx_t::DOUBLE - sx_t::DOUBLE * sx_t::DOUBLE / n_t::DOUBLE
        |      AS ss_t
        |  FROM a),
        |c AS (
        |  SELECT *, (ss_c + ss_t) / (n_c + n_t - 2)::DOUBLE AS sp2
        |  FROM b)
        |SELECT n_c AS n_control, n_t AS n_treatment,
        |  CASE WHEN n_c > 0 AND n_t > 0 AND n_c + n_t > 2 THEN
        |    floor(sp2 * 10000 + 0.5) / 10000 END AS pooled_var,
        |  CASE WHEN n_c > 0 AND n_t > 0 AND n_c + n_t > 2
        |      AND sp2 > 0 THEN
        |    floor((m_t - m_c) / sqrt(sp2) * 10000 + 0.5) / 10000
        |    END AS cohens_d,
        |  CASE WHEN n_c > 0 AND n_t > 0 AND n_c + n_t > 2
        |      AND sp2 > 0 THEN
        |    floor((m_t - m_c) / sqrt(sp2)
        |      * (1.0 - 3.0 / ((n_c + n_t) * 4 - 9)::DOUBLE)
        |      * 10000 + 0.5) / 10000 END AS hedges_g
        |FROM c""".stripMargin,
    // Same (min+max)//2 split, per-user flag fold, exact-integer χ².
    // Same doubled within-row midranks as friedman on the funnel
    // triple; exact conditional moments E=24n, Var=A2−48n.
    "agg_page_trend" ->
      """WITH b AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
        |      AS x1,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |      AS x2,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS x3
        |  FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1),
        |r AS (
        |  SELECT
        |    (2 * ((CASE WHEN x2 < x1 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x3 < x1 THEN 1 ELSE 0 END))
        |      + (1 + (CASE WHEN x2 = x1 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x3 = x1 THEN 1 ELSE 0 END)) + 1)::BIGINT AS r1,
        |    (2 * ((CASE WHEN x1 < x2 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x3 < x2 THEN 1 ELSE 0 END))
        |      + (1 + (CASE WHEN x1 = x2 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x3 = x2 THEN 1 ELSE 0 END)) + 1)::BIGINT AS r2,
        |    (2 * ((CASE WHEN x1 < x3 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x2 < x3 THEN 1 ELSE 0 END))
        |      + (1 + (CASE WHEN x1 = x3 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x2 = x3 THEN 1 ELSE 0 END)) + 1)::BIGINT AS r3
        |  FROM b),
        |a AS (
        |  SELECT count(*)::BIGINT AS n_users,
        |    sum(r1 + 2 * r2 + 3 * r3)::BIGINT AS l2,
        |    sum(r1 * r1 + r2 * r2 + r3 * r3)::BIGINT AS a2
        |  FROM r),
        |c AS (
        |  SELECT *, (24 * n_users)::BIGINT AS e2,
        |    (a2 - 48 * n_users)::BIGINT AS var_l2
        |  FROM a)
        |SELECT n_users, l2, e2, var_l2,
        |  CASE WHEN var_l2 > 0 THEN
        |    floor((l2 - e2)::DOUBLE / sqrt(var_l2::DOUBLE) * 10000 + 0.5)
        |      / 10000 END AS z
        |FROM c""".stripMargin,
    // Closed-form doubled midranks within the 3-value row, then the
    // all-integer tie-corrected χ² = 2Σ(R2_j−4n)²/(A2−48n).
    "agg_friedman_test" ->
      """WITH b AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |      AS x1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS x2,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
        |      AS x3
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase', 'error')
        |  GROUP BY 1),
        |r AS (
        |  SELECT
        |    (2 * ((CASE WHEN x2 < x1 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x3 < x1 THEN 1 ELSE 0 END))
        |      + (1 + (CASE WHEN x2 = x1 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x3 = x1 THEN 1 ELSE 0 END)) + 1)::BIGINT AS r1,
        |    (2 * ((CASE WHEN x1 < x2 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x3 < x2 THEN 1 ELSE 0 END))
        |      + (1 + (CASE WHEN x1 = x2 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x3 = x2 THEN 1 ELSE 0 END)) + 1)::BIGINT AS r2,
        |    (2 * ((CASE WHEN x1 < x3 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x2 < x3 THEN 1 ELSE 0 END))
        |      + (1 + (CASE WHEN x1 = x3 THEN 1 ELSE 0 END)
        |        + (CASE WHEN x2 = x3 THEN 1 ELSE 0 END)) + 1)::BIGINT AS r3
        |  FROM b),
        |a AS (
        |  SELECT count(*)::BIGINT AS n_users,
        |    sum(r1)::BIGINT AS rs1, sum(r2)::BIGINT AS rs2,
        |    sum(r3)::BIGINT AS rs3,
        |    sum(r1 * r1 + r2 * r2 + r3 * r3)::BIGINT AS a2
        |  FROM r),
        |c AS (
        |  SELECT *,
        |    (2 * ((rs1 - 4 * n_users) * (rs1 - 4 * n_users)
        |      + (rs2 - 4 * n_users) * (rs2 - 4 * n_users)
        |      + (rs3 - 4 * n_users) * (rs3 - 4 * n_users)))::BIGINT
        |      AS chi2_num,
        |    (a2 - 48 * n_users)::BIGINT AS chi2_den
        |  FROM a)
        |SELECT n_users, rs1, rs2, rs3, a2, chi2_num, chi2_den,
        |  CASE WHEN chi2_den > 0 THEN
        |    floor(chi2_num::DOUBLE / chi2_den::DOUBLE * 10000 + 0.5) / 10000
        |    END AS chi2_f
        |FROM c""".stripMargin,
    // Integer identity Q = (k−1)(kΣG² − T²)/(kT − ΣL²), k = 3;
    // universe-invariant (all-zero and all-k rows cancel).
    "agg_cochran_q" ->
      """WITH b AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |      AS b1,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS b2,
        |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
        |      AS b3
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase', 'error')
        |  GROUP BY 1),
        |a AS (
        |  SELECT count(*)::BIGINT AS n_users,
        |    sum(b1)::BIGINT AS g1, sum(b2)::BIGINT AS g2,
        |    sum(b3)::BIGINT AS g3,
        |    sum((b1 + b2 + b3) * (b1 + b2 + b3))::BIGINT AS l2_sum
        |  FROM b),
        |c AS (
        |  SELECT *, (g1 + g2 + g3)::BIGINT AS t_total FROM a),
        |e AS (
        |  SELECT *,
        |    (2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)
        |      - t_total * t_total))::BIGINT AS q_num,
        |    (3 * t_total - l2_sum)::BIGINT AS q_den
        |  FROM c)
        |SELECT n_users, g1, g2, g3, t_total, l2_sum, q_num, q_den,
        |  CASE WHEN q_den > 0 THEN
        |    floor(q_num::DOUBLE / q_den::DOUBLE * 10000 + 0.5) / 10000
        |    END AS q_stat
        |FROM e""".stripMargin,
    "agg_mcnemar" ->
      """WITH mid AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events),
        |pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase'
        |      AND epoch_us(ts) < mid THEN 1 ELSE 0 END) AS a1,
        |    max(CASE WHEN event_type = 'purchase'
        |      AND epoch_us(ts) >= mid THEN 1 ELSE 0 END) AS a2
        |  FROM events CROSS JOIN mid GROUP BY 1),
        |a AS (
        |  SELECT
        |    sum(CASE WHEN a1 = 1 AND a2 = 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_11,
        |    sum(CASE WHEN a1 = 1 AND a2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_10,
        |    sum(CASE WHEN a1 = 0 AND a2 = 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_01,
        |    sum(CASE WHEN a1 = 0 AND a2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_00
        |  FROM pu),
        |b AS (
        |  SELECT *,
        |    CASE WHEN n_10 + n_01 > 0 THEN
        |      floor(((n_10 - n_01) * (n_10 - n_01))::DOUBLE
        |        / (n_10 + n_01)::DOUBLE * 10000 + 0.5) / 10000 END
        |      AS chi2
        |  FROM a)
        |SELECT n_11, n_10, n_01, n_00, chi2,
        |  CASE WHEN n_10 + n_01 > 0 THEN chi2 > 3.841459 END
        |    AS significant_95
        |FROM b""".stripMargin,
    // Same split, IEEE-floor whole-unit differences, mirrored t.
    "agg_paired_t" ->
      """WITH mid AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events),
        |pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN epoch_us(ts) < mid THEN
        |      floor(value * 1000000 + 0.5)::BIGINT ELSE 0 END)::BIGINT
        |      AS s1,
        |    sum(CASE WHEN epoch_us(ts) >= mid THEN
        |      floor(value * 1000000 + 0.5)::BIGINT ELSE 0 END)::BIGINT
        |      AS s2
        |  FROM events CROSS JOIN mid GROUP BY 1),
        |dw AS (
        |  SELECT floor((s1 - s2)::DOUBLE / 1000000.0)::BIGINT AS d_w
        |  FROM pu),
        |a AS (
        |  SELECT count(*)::BIGINT AS n_users, sum(d_w)::BIGINT AS sum_d,
        |    sum(d_w * d_w)::BIGINT AS sum_dd
        |  FROM dw),
        |b AS (
        |  SELECT *,
        |    CASE WHEN n_users > 1 THEN
        |      (sum_dd::DOUBLE - sum_d::DOUBLE * sum_d::DOUBLE
        |        / n_users::DOUBLE) / (n_users - 1)::DOUBLE END AS var_d
        |  FROM a),
        |c AS (
        |  SELECT *,
        |    CASE WHEN var_d > 0 THEN
        |      floor((sum_d::DOUBLE / n_users::DOUBLE)
        |        / sqrt(var_d / n_users::DOUBLE) * 10000 + 0.5) / 10000
        |      END AS t_paired
        |  FROM b)
        |SELECT n_users, sum_d,
        |  CASE WHEN n_users > 0 THEN
        |    floor((sum_d::DOUBLE / n_users::DOUBLE) * 10000 + 0.5) / 10000
        |    END AS mean_d,
        |  t_paired,
        |  CASE WHEN var_d > 0 THEN abs(t_paired) > 1.959964 END
        |    AS significant_95
        |FROM c""".stripMargin,
    // Same IEEE-floor dollar quantizer, Welch z, Lin p-approximation
    // and integer cross-multiplied step-up as the Spark side.
    // Same shared p CTE; micro-harmonic c(m) = Σ(1e6 // j) summed
    // from the rank rows; all-integer step-up.
    "agg_benjamini_yekutieli" ->
      s"""$NationPCte,
        |r AS (
        |  SELECT *,
        |    (sum(CASE WHEN p_u IS NOT NULL THEN 1 ELSE 0 END) OVER ())
        |      ::BIGINT AS m_tests,
        |    row_number() OVER (ORDER BY p_u ASC NULLS LAST, nationkey)
        |      AS rk
        |  FROM pp),
        |h AS (
        |  SELECT *,
        |    (sum(CASE WHEN rk <= m_tests THEN 1000000 // rk END) OVER ())
        |      ::BIGINT AS c_micro
        |  FROM r),
        |f AS (
        |  SELECT *,
        |    (p_u IS NOT NULL AND p_u * m_tests * c_micro
        |      <= rk * 100000 * 1000000) AS flag
        |  FROM h),
        |k AS (SELECT *, max(CASE WHEN flag THEN rk END) OVER () AS k_max
        |      FROM f)
        |SELECT nationkey, (n_c + n_t)::BIGINT AS n_users, z, p_u, rk,
        |  c_micro,
        |  CASE WHEN p_u IS NOT NULL THEN
        |    (k_max IS NOT NULL AND rk <= k_max) ELSE false END
        |    AS significant
        |FROM k ORDER BY nationkey""".stripMargin,
    // Many-vs-control mirrored: whole-dollar sufficient stats per
    // nation, Welch z against nation 0, the Lin-inverse Bonferroni
    // critical (sqrt only), r4'd-z vs r4'd-critical comparison.
    "agg_many_vs_control" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT
        |      AS sum_cents
        |  FROM orders GROUP BY 1),
        |pu AS (
        |  SELECT o_custkey,
        |    floor(sum_cents::DOUBLE / 100.0)::BIGINT AS x
        |  FROM pc),
        |j AS (
        |  SELECT c.c_nationkey::BIGINT AS nationkey, pu.x
        |  FROM pu JOIN customer c ON pu.o_custkey = c.c_custkey),
        |st AS (
        |  SELECT nationkey, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx
        |  FROM j GROUP BY 1),
        |sv AS (
        |  SELECT *, sx::DOUBLE / n::DOUBLE AS m,
        |    CASE WHEN n > 1 THEN
        |      (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE)
        |        / (n - 1)::DOUBLE END AS v
        |  FROM st),
        |ctl AS (SELECT n AS n0, m AS m0, v AS v0 FROM sv
        |        WHERE nationkey = 0),
        |cmp AS (
        |  SELECT sv.*, ctl.n0, ctl.m0, ctl.v0,
        |    CASE WHEN sv.v > 0 AND ctl.v0 > 0 THEN
        |      floor((sv.m - ctl.m0)
        |        / sqrt(sv.v / sv.n::DOUBLE + ctl.v0 / ctl.n0::DOUBLE)
        |        * 10000 + 0.5) / 10000 END AS z
        |  FROM sv CROSS JOIN ctl WHERE sv.nationkey <> 0),
        |kk AS (
        |  SELECT sum(CASE WHEN z IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS k
        |  FROM cmp),
        |fin AS (
        |  SELECT cmp.*, kk.k,
        |    CASE WHEN kk.k > 0 THEN
        |      floor((-0.717 + sqrt(0.717 * 0.717
        |        - 4.0 * 0.416 * ln(0.05 / kk.k::DOUBLE / 2.0)))
        |        / (2.0 * 0.416) * 10000 + 0.5) / 10000 END AS z_crit
        |  FROM cmp CROSS JOIN kk)
        |SELECT nationkey, n,
        |  floor(m * 10000 + 0.5) / 10000 AS mean_x,
        |  z, k, z_crit,
        |  CASE WHEN z IS NOT NULL THEN abs(z) > z_crit
        |    ELSE false END AS significant_fw
        |FROM fin ORDER BY nationkey""".stripMargin,
    "agg_bh_fdr" ->
      s"""$NationPCte,
        |r AS (
        |  SELECT *,
        |    (sum(CASE WHEN p_u IS NOT NULL THEN 1 ELSE 0 END) OVER ())
        |      ::BIGINT AS m_tests,
        |    row_number() OVER (ORDER BY p_u ASC NULLS LAST, nationkey)
        |      AS rk
        |  FROM pp),
        |f AS (
        |  SELECT *,
        |    (p_u IS NOT NULL AND p_u * m_tests <= rk * 100000) AS flag
        |  FROM r),
        |k AS (SELECT *, max(CASE WHEN flag THEN rk END) OVER () AS k_max
        |      FROM f)
        |SELECT nationkey, (n_c + n_t)::BIGINT AS n_users, z, p_u, rk,
        |  CASE WHEN p_u IS NOT NULL THEN
        |    (k_max IS NOT NULL AND rk <= k_max) ELSE false END
        |    AS significant
        |FROM k ORDER BY nationkey""".stripMargin,
    // Same shared p CTE; ε-clipped micro ln terms, Wilson-Hilferty
    // cube root as exp(ln(x)/3) — mirrored transcendentals only.
    "agg_fisher_combined" ->
      s"""$NationPCte,
        |t AS (
        |  SELECT floor(ln(greatest(p_u, 1)::DOUBLE / 1000000.0)
        |    * 1000000 + 0.5)::BIGINT AS lnp_u
        |  FROM pp WHERE p_u IS NOT NULL),
        |a AS (
        |  SELECT count(*)::BIGINT AS m_tests,
        |    sum(lnp_u)::BIGINT AS ln_su
        |  FROM t),
        |b AS (
        |  SELECT m_tests,
        |    CASE WHEN m_tests > 0 THEN
        |      floor(-2.0 * ln_su::DOUBLE / 1000000.0 * 10000 + 0.5)
        |        / 10000 END AS x2,
        |    (2 * m_tests)::BIGINT AS df
        |  FROM a),
        |c3 AS (
        |  SELECT *,
        |    CASE WHEN x2 > 0 AND df > 0 THEN
        |      floor((exp(ln(x2 / df::DOUBLE) / 3.0)
        |        - (1.0 - 2.0 / (9.0 * df::DOUBLE)))
        |        / sqrt(2.0 / (9.0 * df::DOUBLE)) * 10000 + 0.5)
        |        / 10000 END AS z_wh
        |  FROM b)
        |SELECT m_tests, x2, df, z_wh,
        |  CASE WHEN z_wh IS NOT NULL THEN z_wh > 1.644854 END
        |    AS significant_95
        |FROM c3""".stripMargin,
    // Same shared p CTE; integer counts, one clamped r4 ratio.
    "agg_storey_pi0" ->
      s"""$NationPCte,
        |a AS (
        |  SELECT count(*)::BIGINT AS m_tests,
        |    sum(CASE WHEN p_u > 500000 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_above
        |  FROM pp WHERE p_u IS NOT NULL)
        |SELECT m_tests, n_above,
        |  CASE WHEN m_tests > 0 THEN
        |    floor(least(1.0, 2.0 * n_above::DOUBLE / m_tests::DOUBLE)
        |      * 10000 + 0.5) / 10000 END AS pi0
        |FROM a""".stripMargin,
    // Same shared per-nation p CTE; step-DOWN: stop at the first
    // rank failing p_u·(m−k+1) ≤ 50000, reject strictly before it.
    "agg_holm_bonferroni" ->
      s"""$NationPCte,
        |r AS (
        |  SELECT *,
        |    (sum(CASE WHEN p_u IS NOT NULL THEN 1 ELSE 0 END) OVER ())
        |      ::BIGINT AS m_tests,
        |    row_number() OVER (ORDER BY p_u ASC NULLS LAST, nationkey)
        |      AS rk
        |  FROM pp),
        |f AS (
        |  SELECT *,
        |    (p_u IS NOT NULL
        |      AND p_u * (m_tests - rk + 1) <= 50000) AS flag
        |  FROM r),
        |k AS (SELECT *,
        |        min(CASE WHEN NOT flag AND rk <= m_tests THEN rk END)
        |          OVER () AS k_stop
        |      FROM f)
        |SELECT nationkey, (n_c + n_t)::BIGINT AS n_users, z, p_u, rk,
        |  CASE WHEN p_u IS NOT NULL THEN
        |    (k_stop IS NULL OR rk < k_stop) ELSE false END
        |    AS significant
        |FROM k ORDER BY nationkey""".stripMargin,
    // Same whole-unit quantization, same centered-moment and
    // Cramer's-rule op order as the Spark readout.
    "agg_ols_multi" ->
      """WITH f AS (
        |  SELECT l_returnflag AS flag,
        |    floor(l_quantity + 0.5)::BIGINT AS x1,
        |    floor(l_discount * 100 + 0.5)::BIGINT AS x2,
        |    floor(l_extendedprice + 0.5)::BIGINT AS y
        |  FROM lineitem),
        |g AS (
        |  SELECT flag, count(*)::BIGINT AS n,
        |    sum(x1)::BIGINT AS s1, sum(x2)::BIGINT AS s2,
        |    sum(y)::BIGINT AS sy,
        |    sum(x1 * x1)::BIGINT AS s11, sum(x2 * x2)::BIGINT AS s22,
        |    sum(x1 * x2)::BIGINT AS s12, sum(x1 * y)::BIGINT AS s1y,
        |    sum(x2 * y)::BIGINT AS s2y, sum(y * y)::BIGINT AS syy
        |  FROM f GROUP BY 1),
        |c AS (
        |  SELECT *,
        |    s11::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE AS cxx1,
        |    s22::DOUBLE - s2::DOUBLE * s2::DOUBLE / n::DOUBLE AS cxx2,
        |    s12::DOUBLE - s1::DOUBLE * s2::DOUBLE / n::DOUBLE AS cx12,
        |    s1y::DOUBLE - s1::DOUBLE * sy::DOUBLE / n::DOUBLE AS cx1y,
        |    s2y::DOUBLE - s2::DOUBLE * sy::DOUBLE / n::DOUBLE AS cx2y,
        |    syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE AS cyy
        |  FROM g),
        |dd AS (SELECT *, cxx1 * cxx2 - cx12 * cx12 AS det FROM c),
        |b AS (
        |  SELECT *,
        |    CASE WHEN det <> 0.0 THEN
        |      (cx1y * cxx2 - cx2y * cx12) / det END AS b1,
        |    CASE WHEN det <> 0.0 THEN
        |      (cx2y * cxx1 - cx1y * cx12) / det END AS b2
        |  FROM dd)
        |SELECT flag, n,
        |  floor(b1 * 10000 + 0.5) / 10000 AS beta_qty,
        |  floor(b2 * 10000 + 0.5) / 10000 AS beta_disc,
        |  CASE WHEN det <> 0.0 THEN
        |    floor((sy::DOUBLE / n::DOUBLE - b1 * (s1::DOUBLE / n::DOUBLE)
        |      - b2 * (s2::DOUBLE / n::DOUBLE)) * 10000 + 0.5) / 10000
        |    END AS intercept,
        |  CASE WHEN det <> 0.0 AND cyy > 0 THEN
        |    floor((b1 * cx1y + b2 * cx2y) / cyy * 10000 + 0.5) / 10000
        |    END AS r_squared
        |FROM b ORDER BY flag""".stripMargin,
    // Salted per-user hash, bootstrap remix constants, exact
    // cross-multiplied >= comparison, add-one p.
    "agg_permutation_pvalue" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(floor(value * 1000000 + 0.5)::BIGINT)::BIGINT AS sum_u
        |  FROM events GROUP BY 1),
        |u AS (
        |  SELECT floor(sum_u::DOUBLE / 1000000)::BIGINT AS x,
        |    CASE WHEN ('0x' || substring(md5(user_id::VARCHAR), 1, 2))
        |      ::INT % 2 = 0 THEN 0 ELSE 1 END AS t,
        |    ('0x' || substring(md5('pm|' || user_id::VARCHAR), 1, 7))
        |      ::BIGINT AS h28
        |  FROM pu),
        |obs AS (
        |  SELECT
        |    sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN t = 0 THEN x ELSE 0 END)::BIGINT AS s0,
        |    sum(CASE WHEN t = 1 THEN x ELSE 0 END)::BIGINT AS s1
        |  FROM u),
        |reps AS (
        |  SELECT b,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS nb0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nb1,
        |    sum(CASE WHEN arm = 0 THEN x ELSE 0 END)::BIGINT AS sb0,
        |    sum(CASE WHEN arm = 1 THEN x ELSE 0 END)::BIGINT AS sb1
        |  FROM (
        |    SELECT u.x, t.b,
        |      ((u.h28 * (2654435761 + t.b * 96542)) % 268435456) % 2
        |        AS arm
        |    FROM u CROSS JOIN range(32) AS t(b)) q
        |  GROUP BY b
        |  HAVING sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
        |    AND sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0),
        |g AS (
        |  SELECT count(*)::BIGINT AS b_used,
        |    sum(CASE WHEN abs(sb1 * nb0 - sb0 * nb1) * (n1 * n0)
        |      >= abs(s1 * n0 - s0 * n1) * (nb1 * nb0)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_ge,
        |    max(n0)::BIGINT AS n0, max(n1)::BIGINT AS n1,
        |    max(s0)::BIGINT AS s0, max(s1)::BIGINT AS s1
        |  FROM reps CROSS JOIN obs)
        |SELECT b_used, n0, n1,
        |  CASE WHEN n0 > 0 AND n1 > 0 THEN
        |    floor((s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE)
        |      * 10000 + 0.5) / 10000 END AS diff_obs,
        |  n_ge,
        |  ((1 + n_ge) * 1000000 // (b_used + 1))::BIGINT AS p_u
        |FROM g""".stripMargin,
    "sample_bootstrap_ci" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
        |    ('0x' || substring(md5(o_orderkey::VARCHAR), 1, 7))::BIGINT
        |      AS h28
        |  FROM orders),
        |reps AS (
        |  SELECT b, sum(w)::BIGINT AS n_eff,
        |    sum(w * cents)::BIGINT AS wsum
        |  FROM (
        |    SELECT cents, b,
        |      CASE WHEN u < 0.3678794412 THEN 0 WHEN u < 0.7357588823 THEN 1
        |        WHEN u < 0.9196986029 THEN 2 WHEN u < 0.9810118431 THEN 3
        |        WHEN u < 0.9963401532 THEN 4 WHEN u < 0.9994058152 THEN 5
        |        WHEN u < 0.9999167589 THEN 6 WHEN u < 0.9999897508 THEN 7
        |        ELSE 8 END AS w
        |    FROM (
        |      SELECT o.cents AS cents, t.b AS b,
        |        ((((o.h28 * (2654435761 + t.b * 96542)) % 268435456)
        |          ::DOUBLE + 0.5) / 268435456.0) AS u
        |      FROM o CROSS JOIN range(32) AS t(b)) q1) q2
        |  GROUP BY b HAVING sum(w) > 0),
        |rk AS (
        |  SELECT b,
        |    floor(wsum::DOUBLE / n_eff::DOUBLE * 10000 + 0.5)::BIGINT
        |      AS mean_q
        |  FROM reps),
        |rr AS (
        |  SELECT mean_q,
        |    row_number() OVER (ORDER BY mean_q, b) AS rn,
        |    (count(*) OVER ())::BIGINT AS nb
        |  FROM rk),
        |boot AS (
        |  SELECT max(nb)::BIGINT AS b_replicates,
        |    max(CASE WHEN rn = (nb + 1) // 20 THEN mean_q END)::BIGINT
        |      AS lo_q,
        |    max(CASE WHEN rn = (19 * (nb + 1)) // 20 THEN mean_q END)::BIGINT
        |      AS hi_q
        |  FROM rr),
        |point AS (
        |  SELECT count(*)::BIGINT AS n_orders,
        |    floor(sum(cents)::DOUBLE / count(*) * 10000 + 0.5) / 10000
        |      AS mean_cents
        |  FROM o)
        |SELECT n_orders, mean_cents, b_replicates,
        |  floor(lo_q / 10000.0 * 10000 + 0.5) / 10000 AS boot_lo_cents,
        |  floor(hi_q / 10000.0 * 10000 + 0.5) / 10000 AS boot_hi_cents
        |FROM point CROSS JOIN boot""".stripMargin
  )
}
