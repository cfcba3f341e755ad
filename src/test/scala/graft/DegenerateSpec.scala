package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.GraftEngine

/** Degenerate-input battery for the round-9/10 facade surface
  * (VERDICT r10 "What's missing" #5): EngineApiSpec pins parity on
  * the HEALTHY fixture, so a divergence that only fires on degenerate
  * input (the r9 seasonalStrength NaN, the r10-flagged ljungBox
  * den=0 and empty-variant cases) had no systematic net. This spec
  * runs every generically-shaped stats/TS facade over shared empty /
  * single-row / constant-column / negative-value / one-sided frames
  * and asserts the contract the oracles rely on: the facade either
  * returns NULL readouts or drops rows — it NEVER emits NaN/Infinity
  * (which DuckDB cannot produce from its NULL-on-x/0 semantics) and
  * never throws (ANSI overflow / division errors must be guarded).
  */
class DegenerateSpec extends SparkSpec {

  private lazy val engine = new GraftEngine(spark)

  /** Collects and asserts no Double/Float NaN or ±Infinity anywhere. */
  private def assertClean(df: => DataFrame, label: String): Unit = {
    val rows =
      try df.collect()
      catch {
        case e: Throwable =>
          fail(s"$label threw on degenerate input: ${e.getMessage}")
      }
    rows.foreach { r =>
      (0 until r.length).foreach { i =>
        r.get(i) match {
          case d: java.lang.Double =>
            assert(!d.isNaN && !d.isInfinite,
              s"$label col ${r.schema.fieldNames(i)} emitted $d")
          case f: java.lang.Float =>
            assert(!f.isNaN && !f.isInfinite,
              s"$label col ${r.schema.fieldNames(i)} emitted $f")
          case _ => ()
        }
      }
    }
  }

  // ---- shared degenerate frames -----------------------------------

  private def valueFrame(rows: Seq[(Long, String)]): DataFrame = {
    val schema = StructType(Seq(StructField("x", LongType),
      StructField("variant", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
  }

  private lazy val vEmpty = valueFrame(Nil)
  private lazy val vSingle = valueFrame(Seq((7L, "control")))
  private lazy val vConstant = valueFrame(
    (1 to 6).map(i => (5L, if (i % 2 == 0) "control" else "treatment")))
  private lazy val vNegative = valueFrame(Seq((-3L, "control"),
    (-1L, "treatment"), (-7L, "control"), (2L, "treatment"),
    (-2L, "control"), (0L, "treatment")))
  private lazy val vOneSided = valueFrame(
    Seq((1L, "control"), (4L, "control"), (9L, "control")))

  private def seriesFrame(rows: Seq[(Long, Long)]): DataFrame = {
    val schema = StructType(Seq(StructField("hr", LongType),
      StructField("n", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
  }

  private lazy val sEmpty = seriesFrame(Nil)
  private lazy val sSingle = seriesFrame(Seq((0L, 5L)))
  private lazy val sConstant = seriesFrame((0L to 30L).map(h => (h, 4L)))
  private lazy val sNegative = seriesFrame(
    (0L to 30L).map(h => (h, (h % 5) - 2)))

  private def twoGroupFrames: Seq[(String, DataFrame)] = Seq(
    "empty" -> vEmpty, "single" -> vSingle, "constant" -> vConstant,
    "negative" -> vNegative, "one-sided" -> vOneSided)

  private def seriesFrames: Seq[(String, DataFrame)] = Seq(
    "empty" -> sEmpty, "single" -> sSingle, "constant" -> sConstant,
    "negative" -> sNegative)

  // ---- two-group stats facades -------------------------------------

  test("mannWhitney survives every degenerate two-group frame") {
    twoGroupFrames.foreach { case (n, f) =>
      assertClean(engine.mannWhitney(f, "x", "variant"), s"mannWhitney/$n")
    }
  }

  test("ksTest survives every degenerate two-group frame") {
    twoGroupFrames.foreach { case (n, f) =>
      assertClean(engine.ksTest(f, "x", "variant"), s"ksTest/$n")
    }
  }

  test("welchT survives every degenerate two-group frame") {
    twoGroupFrames.foreach { case (n, f) =>
      assertClean(engine.welchT(f, "x", "variant"), s"welchT/$n")
    }
  }

  test("cohensD survives every degenerate two-group frame") {
    twoGroupFrames.foreach { case (n, f) =>
      assertClean(engine.cohensD(f, "x", "variant"), s"cohensD/$n")
    }
  }

  // ---- association facades -----------------------------------------

  private def pairFrame(rows: Seq[(String, Long, Long)]): DataFrame = {
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("qx", LongType), StructField("qy", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
  }

  test("spearmanRho / kendallTau survive constant and tiny inputs") {
    val frames = Seq(
      "empty" -> pairFrame(Nil),
      "single" -> pairFrame(Seq(("a", 1L, 2L))),
      "constant-x" -> pairFrame((1L to 5L).map(i => ("a", 3L, i))),
      "constant-both" -> pairFrame((1L to 5L).map(_ => ("a", 3L, 4L))),
      "negative" -> pairFrame((1L to 5L).map(i => ("a", -i, i - 3L))))
    frames.foreach { case (n, f) =>
      assertClean(engine.spearmanRho(f, "g", "qx", "qy"), s"spearman/$n")
      assertClean(engine.kendallTau(f, "g", "qx", "qy"), s"kendall/$n")
    }
  }

  test("cramersV / contingencyStdres / mutualInformation survive single-category grids") {
    val schema = StructType(Seq(StructField("a", StringType),
      StructField("b", StringType)))
    def cat(rows: Seq[(String, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    val frames = Seq(
      "empty" -> cat(Nil),
      "single" -> cat(Seq(("x", "y"))),
      "one-row-cat" -> cat((1 to 6).map(i => ("x", s"b$i"))),
      "one-col-cat" -> cat((1 to 6).map(i => (s"a$i", "y"))),
      "one-cell" -> cat((1 to 6).map(_ => ("x", "y"))))
    frames.foreach { case (n, f) =>
      assertClean(engine.cramersV(f, "a", "b"), s"cramersV/$n")
      assertClean(engine.contingencyStdres(f, "a", "b"), s"stdres/$n")
      assertClean(engine.mutualInformation(f, "a", "b"), s"mi/$n")
    }
  }

  test("anovaF survives one-group / constant / single-row frames") {
    val schema = StructType(Seq(StructField("lang", StringType),
      StructField("n_chars", LongType)))
    def g(rows: Seq[(String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    val frames = Seq(
      "empty" -> g(Nil),
      "single" -> g(Seq(("en", 10L))),
      "one-group" -> g((1L to 5L).map(i => ("en", i * 3))),
      "constant" -> g((1 to 6).map(i => (s"l${i % 2}", 4L))))
    frames.foreach { case (n, f) =>
      assertClean(engine.anovaF(f, "lang", "n_chars"), s"anovaF/$n")
    }
  }

  // ---- time-series facades -----------------------------------------

  test("pacfLags3 / ljungBox / mannKendall / runsTest survive constant and tiny series") {
    seriesFrames.foreach { case (n, f) =>
      assertClean(engine.pacfLags3(f, "hr", "n"), s"pacf/$n")
      assertClean(engine.ljungBox(f, "hr", "n"), s"ljungBox/$n")
      assertClean(engine.mannKendall(f, "hr", "n"), s"mannKendall/$n")
      assertClean(engine.runsTest(f, "hr", "n"), s"runsTest/$n")
    }
  }

  test("spectralPeak / levelShift / seasonalStrength / seasonalAnomaly survive degenerate series") {
    seriesFrames.foreach { case (n, f) =>
      assertClean(engine.spectralPeak(f, "hr", "n", Seq(6, 12)),
        s"spectral/$n")
      assertClean(engine.levelShift(f, "hr", "n", 4, 3), s"levelShift/$n")
      assertClean(engine.seasonalStrength(f, "hr", "n", 6, 3),
        s"seasonalStrength/$n")
      assertClean(engine.seasonalAnomaly(f, "hr", "n", 6, 3),
        s"seasonalAnomaly/$n")
    }
  }

  test("snaiveBacktest survives too-short series") {
    seriesFrames.foreach { case (n, f) =>
      assertClean(engine.snaiveBacktest(f, "hr", "n", 12), s"snaive/$n")
    }
  }

  test("bollingerBands / rollingCorr survive degenerate series") {
    seriesFrames.foreach { case (n, f) =>
      assertClean(engine.bollingerBands(f, "hr", "n", 4, 2),
        s"bollinger/$n")
      val two = f.withColumn("n2", col("n") * 2)
      assertClean(engine.rollingCorr(two, "hr", "n", "n2", 4),
        s"rollingCorr/$n")
    }
  }

  // ---- survival / lifecycle ----------------------------------------

  test("olsTwo survives collinear / constant / tiny frames") {
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("x1", LongType), StructField("x2", LongType),
      StructField("y", LongType)))
    def ols(rows: Seq[(String, Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    val frames = Seq(
      "empty" -> ols(Nil),
      "single" -> ols(Seq(("a", 1L, 2L, 3L))),
      "collinear" -> ols((1L to 6L).map(i => ("a", i, 2 * i, i + 1))),
      "constant-x2" -> ols((1L to 6L).map(i => ("a", i, 7L, i * 2))),
      "constant-y" -> ols((1L to 6L).map(i => ("a", i, 11 - i, 5L))))
    frames.foreach { case (n, f) =>
      assertClean(engine.olsTwo(f, "g", "x1", "x2", "y"), s"olsTwo/$n")
    }
  }

  test("assertConstraints survives empty and all-null frames") {
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    def t(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val frames = Seq(
      "empty" -> t(Nil),
      "all-null" -> t((1 to 4).map(_ => Row(null, null))))
    frames.foreach { case (n, f) =>
      assertClean(engine.assertConstraints(f, "t",
        unique = Seq("k"), acceptedValues = Map("v" -> Seq("a", "b")),
        positive = Seq("k"), maxNullRatePct = Map("v" -> 1)),
        s"assertConstraints/$n")
      assertClean(engine.assertReferential(f, "k", "t", f, "k", "t"),
        s"assertReferential/$n")
    }
  }

  test("logRank survives empty / single-subject / one-group frames") {
    val schema = StructType(Seq(StructField("dur", LongType),
      StructField("ev", LongType), StructField("grp", StringType)))
    def lr(rows: Seq[(Long, Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    val frames = Seq(
      "empty" -> lr(Nil),
      "single" -> lr(Seq((3L, 1L, "control"))),
      "one-group" -> lr((1L to 5L).map(d => (d, 1L, "control"))),
      "all-censored" -> lr(Seq((2L, 0L, "control"), (4L, 0L, "treatment"))),
      "tied-times" -> lr((1 to 6).map(i =>
        (3L, 1L, if (i % 2 == 0) "control" else "treatment"))))
    frames.foreach { case (n, f) =>
      assertClean(engine.logRank(f, "dur", "ev", "grp"), s"logRank/$n")
    }
  }

  test("sesBacktest survives empty / short / negative series") {
    seriesFrames.foreach { case (n, f) =>
      assertClean(engine.sesBacktest(f, "hr", "n"), s"sesBacktest/$n")
    }
  }

  test("holtBacktest survives empty / short / negative series") {
    seriesFrames.foreach { case (n, f) =>
      assertClean(engine.holtBacktest(f, "hr", "n"), s"holtBacktest/$n")
    }
  }

  test("sampledBetweenness survives empty / edgeless / isolated-seed graphs") {
    val nSchema = StructType(Seq(StructField("id", LongType)))
    val eSch = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType)))
    val sSch = StructType(Seq(StructField("seed", LongType)))
    def fr(sch: StructType, rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), sch)
    // all-integer algebra: the risks are empty frontiers and
    // unreached nodes (bc_u = 0), never a divide (sigma >= 1 on
    // every reached child by construction)
    assertClean(engine.sampledBetweenness(fr(nSchema, Nil), "id",
      fr(eSch, Nil), "a", "b", fr(sSch, Nil), "seed"),
      "betweenness/empty")
    assertClean(engine.sampledBetweenness(
      fr(nSchema, (1L to 4L).map(Row(_))), "id", fr(eSch, Nil), "a", "b",
      fr(sSch, Seq(Row(1L))), "seed"), "betweenness/edgeless")
    assertClean(engine.sampledBetweenness(
      fr(nSchema, (1L to 4L).map(Row(_))), "id",
      fr(eSch, Seq(Row(2L, 3L))), "a", "b",
      fr(sSch, Seq(Row(1L))), "seed"), "betweenness/isolated-seed")
    // depth = 1: no interior nodes exist — all-zero scores, no NPE
    assertClean(engine.sampledBetweenness(
      fr(nSchema, (1L to 4L).map(Row(_))), "id",
      fr(eSch, Seq(Row(1L, 2L), Row(2L, 3L))), "a", "b",
      fr(sSch, Seq(Row(1L))), "seed", depth = 1), "betweenness/depth-1")
  }

  test("mergedQuantiles survives empty / single-row / constant / one-shard frames") {
    val schema = StructType(Seq(StructField("sh", LongType),
      StructField("cents", LongType), StructField("k1", LongType),
      StructField("k2", LongType)))
    def fr(rows: Seq[(Long, Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    // all-integer closed form: no division to guard anywhere; the
    // contract is "no throw, no NaN" on degenerate shard shapes
    assertClean(engine.mergedQuantiles(fr(Nil), "sh", "cents",
      Seq("k1", "k2")), "mergedQuantiles/empty")
    assertClean(engine.mergedQuantiles(fr(Seq((0L, 7L, 1L, 1L))),
      "sh", "cents", Seq("k1", "k2")), "mergedQuantiles/single")
    assertClean(engine.mergedQuantiles(
      fr((1L to 40L).map(i => (i % 3, 5L, i, 1L))),
      "sh", "cents", Seq("k1", "k2")), "mergedQuantiles/constant")
    assertClean(engine.mergedQuantiles(
      fr((1L to 40L).map(i => (0L, i * 10, i, 1L))),
      "sh", "cents", Seq("k1", "k2")), "mergedQuantiles/one-shard")
  }

  test("ar2Backtest survives empty / short / constant / negative series") {
    // constant series ⇒ centered moments all 0 ⇒ det = 0 ⇒ NULL phi
    // and NULL scores, never a divide; empty ⇒ n = 0 with NULL
    // sufficient sums (NULL propagates past every division)
    seriesFrames.foreach { case (n, f) =>
      assertClean(engine.ar2Backtest(f, "hr", "n"), s"ar2Backtest/$n")
    }
    val const = seriesFrame((1L to 40L).map(h => (h, 7L)))
    assertClean(engine.ar2Backtest(const, "hr", "n"), "ar2Backtest/constant")
  }

  test("holtWintersBacktest survives empty / short / negative series") {
    // every fixture here is far shorter than the 181-hour tap span,
    // so the 25-tap gate must yield n_scored = 0 without throwing
    seriesFrames.foreach { case (n, f) =>
      assertClean(engine.holtWintersBacktest(f, "hr", "n"),
        s"holtWintersBacktest/$n")
    }
  }

  test("markovAttribution survives empty / no-conversion / all-conversion journeys") {
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType)))
    def fr(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val frames = Seq(
      "empty" -> fr(Nil),
      "no-conv" -> fr((1L to 6L).map(i =>
        Row(i % 2, i, i, if (i % 3 == 0) "a" else "b"))),
      "all-first-conv" -> fr((1L to 4L).map(i => Row(i, i, i, "buy"))),
      "single-event" -> fr(Seq(Row(1L, 1L, 1L, "a"))))
    frames.foreach { case (n, f) =>
      assertClean(engine.markovAttribution(f, "user_id", "ts",
        "event_id", "event_type", "buy"), s"markovAttr/$n")
    }
  }

  test("weightedTopK survives empty / zero-weight / k-exceeds-rows frames") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("w", DoubleType)))
    def fr(rows: Seq[(Long, Double)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    assertClean(engine.weightedTopK(fr(Nil), "id", "w", 5),
      "weightedTopK/empty")
    assertClean(engine.weightedTopK(
      fr(Seq((1L, 0.0), (2L, -3.0))), "id", "w", 5),
      "weightedTopK/nonpositive-weights")
    val small = engine.weightedTopK(
      fr(Seq((1L, 2.0), (2L, 5.0))), "id", "w", 10).collect()
    assert(small.length === 2, "k > n must return all weighted rows")
  }

  test("heapsLaw survives empty / single-doc / empty-text corpora") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def fr(rows: Seq[(Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    assertClean(engine.heapsLaw(fr(Nil), "doc_id", "text"),
      "heaps/empty")
    assertClean(engine.heapsLaw(fr(Seq((1L, "a b"))), "doc_id", "text"),
      "heaps/single-doc")
    assertClean(engine.heapsLaw(fr(Seq((1L, ""), (2L, ""))),
      "doc_id", "text"), "heaps/empty-text")
  }

  test("wilsonCi / ebShrink survive empty / extreme-rate / one-group frames") {
    val wSchema = StructType(Seq(StructField("variant", StringType),
      StructField("s", LongType)))
    def wf(rows: Seq[(String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), wSchema)
    assertClean(engine.wilsonCi(wf(Nil), "variant", "s"), "wilson/empty")
    assertClean(engine.wilsonCi(wf(Seq(("a", 0L))), "variant", "s"),
      "wilson/all-fail")
    assertClean(engine.wilsonCi(wf(Seq(("a", 1L), ("a", 1L))),
      "variant", "s"), "wilson/all-succeed")

    val eSchema = StructType(Seq(StructField("g", StringType),
      StructField("n", LongType), StructField("x", LongType)))
    def ef(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), eSchema)
    assertClean(engine.ebShrink(ef(Nil), "g", "n", "x"), "eb/empty")
    assertClean(engine.ebShrink(ef(Seq(("a", 5L, 2L))), "g", "n", "x"),
      "eb/one-group")
    assertClean(engine.ebShrink(
      ef(Seq(("a", 5L, 2L), ("b", 10L, 4L))), "g", "n", "x"),
      "eb/equal-rates-zero-variance")
    // zero-n group: p_u DIV and the raw-rate fallback must both stay
    // behind the n > 0 guard (NULL shrunk, no ANSI divide-by-zero)
    assertClean(engine.ebShrink(
      ef(Seq(("a", 0L, 0L), ("b", 10L, 4L), ("c", 8L, 1L))),
      "g", "n", "x"), "eb/zero-n-group")
    assertClean(engine.ebShrink(ef(Seq(("a", 0L, 0L))), "g", "n", "x"),
      "eb/all-zero-n")
  }

  test("rakeWeights survives empty / single-cell / zero-count frames") {
    val schema = StructType(Seq(StructField("r", StringType),
      StructField("c", LongType), StructField("cnt", LongType)))
    def fr(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    assertClean(engine.rakeWeights(fr(Nil), "r", "c", "cnt"),
      "rake/empty")
    assertClean(engine.rakeWeights(fr(Seq(("a", 0L, 7L))), "r", "c", "cnt"),
      "rake/single-cell")
    assertClean(engine.rakeWeights(
      fr(Seq(("a", 0L, 0L), ("b", 1L, 5L))), "r", "c", "cnt"),
      "rake/zero-count-stratum")
  }

  test("exponentialityKs survives empty / single-event / zero-gap frames") {
    val schema = StructType(Seq(StructField("u", LongType),
      StructField("ts", TimestampType), StructField("tie", LongType)))
    def fr(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    def t(ms: Long) = new java.sql.Timestamp(ms)
    assertClean(engine.exponentialityKs(fr(Nil), "u", "ts", "tie"),
      "expks/empty")
    assertClean(engine.exponentialityKs(
      fr(Seq(Row(1L, t(1000L), 1L))), "u", "ts", "tie"),
      "expks/single-event")
    assertClean(engine.exponentialityKs(
      fr((1L to 5L).map(i => Row(1L, t(1000L), i))), "u", "ts", "tie"),
      "expks/all-zero-gaps")
  }

  test("permutationTest survives empty / one-armed / constant frames") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("arm", LongType), StructField("v", LongType)))
    def fr(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    assertClean(engine.permutationTest(fr(Nil), "id", "arm", "v"),
      "perm/empty")
    assertClean(engine.permutationTest(
      fr((1L to 6L).map(i => (i, 1L, i))), "id", "arm", "v"),
      "perm/one-armed")
    assertClean(engine.permutationTest(
      fr((1L to 6L).map(i => (i, i % 2, 5L))), "id", "arm", "v"),
      "perm/constant")
    // An arm label outside 0/1 joins neither arm (the
    // agg_permutation_pvalue rule t === 1): no treated units, NULL diff.
    val offLabel = engine.permutationTest(
      fr((1L to 6L).map(i => (i, 2L * (i % 2), i))), "id", "arm", "v")
    assertClean(offLabel, "perm/off-label-arm")
    val r = offLabel.collect().head
    assert(r.getAs[Long]("n0") == 3L && r.getAs[Long]("n1") == 0L &&
      r.isNullAt(r.fieldIndex("diff_obs")))
  }

  test("rrEstimate survives empty / single-user / all-true frames") {
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("truth", LongType), StructField("variant", StringType)))
    def fr(rows: Seq[(Long, Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    assertClean(engine.rrEstimate(fr(Nil), "user_id", "truth", "variant"),
      "rr/empty")
    assertClean(engine.rrEstimate(fr(Seq((1L, 1L, "a"))),
      "user_id", "truth", "variant"), "rr/single")
    assertClean(engine.rrEstimate(
      fr((1L to 6L).map(i => (i, 1L, "a"))),
      "user_id", "truth", "variant"), "rr/all-true")
  }

  test("holtWintersInterval survives empty / short / constant series") {
    // under 20 scored points the band ranks hit no row ⇒ NULL band,
    // and a fully-tapped constant series reads resid ≡ 0 everywhere
    assertClean(engine.holtWintersInterval(sEmpty, "hr", "n"),
      "hwInterval/empty")
    assertClean(engine.holtWintersInterval(sSingle, "hr", "n"),
      "hwInterval/single")
    assertClean(engine.holtWintersInterval(sConstant, "hr", "n"),
      "hwInterval/short-constant")
    val longConstant = seriesFrame((0L to 400L).map(h => (h, 4L)))
    val rows = engine.holtWintersInterval(longConstant, "hr", "n")
      .collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("covered")),
      "constant series: zero residuals must cover everywhere")
  }

  test("hurstExponent survives empty / short / constant series") {
    seriesFrames.foreach { case (n, f) =>
      assertClean(engine.hurstExponent(f, "hr", "n"), s"hurst/$n")
    }
    // a constant 64-point series: every block filtered by sdd > 0
    val const = seriesFrame((0L until 64L).map(t => (t, 5L)))
    assertClean(engine.hurstExponent(const, "hr", "n"), "hurst/constant")
  }

  test("msprtSequential survives empty / one-armed / all-success looks") {
    val schema = StructType(Seq(StructField("day", LongType),
      StructField("t", LongType), StructField("s", LongType)))
    def fr(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    val frames = Seq(
      "empty" -> fr(Nil),
      "one-armed" -> fr((1L to 6L).map(d => (d, 1L, d % 2))),
      "all-success" -> fr((1L to 6L).map(d => (d, d % 2, 1L))),
      "no-success" -> fr((1L to 6L).map(d => (d, d % 2, 0L))),
      "single-look" -> fr(Seq((1L, 0L, 1L), (1L, 1L, 0L))))
    frames.foreach { case (n, f) =>
      assertClean(engine.msprtSequential(f, "day", "t", "s"),
        s"msprt/$n")
    }
    // An arm label outside 0/1 joins neither arm (the events_ab_sequential
    // rule t === 1), so a 0/2-labelled frame has no treatment looks.
    val offLabel = engine.msprtSequential(
      fr((1L to 6L).map(d => (d, 2L * (d % 2), 1L))), "day", "t", "s")
    assertClean(offLabel, "msprt/off-label-arm")
    assert(offLabel.collect().map(_.getAs[Long]("n_t")).toSeq == Seq.fill(6)(0L))
  }

  test("oddsRatio survives empty / one-armed / all-success frames") {
    val schema = StructType(Seq(StructField("t", LongType),
      StructField("s", LongType)))
    def orf(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    // Haldane +0.5 keeps every cell positive: no NaN/throw anywhere
    Seq("empty" -> orf(Nil),
      "one-armed" -> orf((1 to 5).map(_ => (1L, 1L))),
      "all-success" -> orf(Seq((0L, 1L), (1L, 1L))),
      "no-success" -> orf(Seq((0L, 0L), (1L, 0L)))).foreach {
      case (n, f) => assertClean(engine.oddsRatio(f, "t", "s"),
        s"oddsRatio/$n")
    }
  }

  test("mcNemar / pairedT survive empty, concordant-only and constant frames") {
    val schema = StructType(Seq(StructField("a1", LongType),
      StructField("a2", LongType)))
    def mc(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    assertClean(engine.mcNemar(mc(Nil), "a1", "a2"), "mcNemar/empty")
    assertClean(engine.mcNemar(
      mc((1 to 5).map(_ => (1L, 1L))), "a1", "a2"),
      "mcNemar/concordant-only")
    val dSchema = StructType(Seq(StructField("d_w", LongType)))
    def pt(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), dSchema)
    assertClean(engine.pairedT(pt(Nil), "d_w"), "pairedT/empty")
    assertClean(engine.pairedT(pt(Seq(3L)), "d_w"), "pairedT/single")
    assertClean(engine.pairedT(pt(Seq.fill(5)(2L)), "d_w"),
      "pairedT/constant")
  }

  test("bhStepUp / kaplanMeierBy survive empty and all-null frames") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p_u", LongType)))
    def bh(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    assertClean(engine.bhStepUp(bh(Nil), "id", "p_u"), "bh/empty")
    assertClean(engine.bhStepUp(
      bh((1 to 4).map(i => Row(i.toLong, null))), "id", "p_u"),
      "bh/all-null")
    assertClean(engine.bhStepUp(
      bh(Seq(Row(1L, 0L), Row(2L, 1000000L))), "id", "p_u"),
      "bh/extremes")
    assertClean(engine.holmStepDown(bh(Nil), "id", "p_u"), "holm/empty")
    assertClean(engine.holmStepDown(
      bh((1 to 4).map(i => Row(i.toLong, null))), "id", "p_u"),
      "holm/all-null")
    assertClean(engine.holmStepDown(
      bh(Seq(Row(1L, 0L), Row(2L, 1000000L))), "id", "p_u"),
      "holm/extremes")

    val kmSchema = StructType(Seq(StructField("dur", LongType),
      StructField("ev", LongType), StructField("g", StringType)))
    val kmEmpty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 1), kmSchema)
    assertClean(engine.kaplanMeierBy(kmEmpty, "dur", "ev", "g"),
      "kmBy/empty")
  }

  test("kaplanMeier survives all-censored, empty and single-duration frames") {
    val schema = StructType(Seq(StructField("dur", LongType),
      StructField("ev", LongType)))
    def km(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    val frames = Seq(
      "empty" -> km(Nil),
      "single-event" -> km(Seq((5L, 1L))),
      "single-censor" -> km(Seq((5L, 0L))),
      "all-censored" -> km((1L to 6L).map(d => (d, 0L))),
      "all-events-one-t" -> km((1 to 6).map(_ => (3L, 1L))))
    frames.foreach { case (n, f) =>
      assertClean(engine.kaplanMeier(f, "dur", "ev"), s"km/$n")
    }
  }

  test("modularity / captureRecapture / rakeKeywords survive empty inputs") {
    val lSchema = StructType(Seq(StructField("id", LongType),
      StructField("label", LongType)))
    val eSchema = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType)))
    def fr(schema: StructType, rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    // nodes but no edges: m = 0 must NULL the q terms, never divide
    assertClean(engine.modularity(
      fr(lSchema, (1L to 4L).map(i => Row(i, i % 2))), "id", "label",
      fr(eSchema, Nil)), "modularity/no-edges")
    assertClean(engine.modularity(fr(lSchema, Nil), "id", "label",
      fr(eSchema, Nil)), "modularity/empty")

    val pSchema = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType)))
    assertClean(engine.captureRecapture(fr(pSchema, Nil),
      fr(pSchema, Nil)), "captureRecapture/both-empty")
    assertClean(engine.captureRecapture(
      fr(pSchema, Seq(Row(1L, 2L))), fr(pSchema, Nil)),
      "captureRecapture/one-empty")

    val dSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    assertClean(engine.rakeKeywords(fr(dSchema, Nil), "text",
      Seq("the", "a")), "rake/empty")
    assertClean(engine.rakeKeywords(
      fr(dSchema, Seq(Row(1L, "the a the a"))), "text", Seq("the", "a")),
      "rake/all-stopwords")

    // louvainRefine: all-integer gain algebra, so the risk is empty
    // frames and isolated nodes (deg = 0) rather than x/0 — assert
    // the no-op contract on each
    assertClean(engine.louvainRefine(fr(lSchema, Nil), "id", "label",
      fr(eSchema, Nil)), "louvain/empty")
    assertClean(engine.louvainRefine(
      fr(lSchema, (1L to 4L).map(i => Row(i, i % 2))), "id", "label",
      fr(eSchema, Nil)), "louvain/no-edges")
    assertClean(engine.louvainRefine(
      fr(lSchema, Seq(Row(1L, 1L))), "id", "label",
      fr(eSchema, Nil)), "louvain/single-node")
  }

  test("fisherExact / nelsonAalen survive empty / one-armed / all-success frames") {
    val fschema = StructType(Seq(StructField("t", IntegerType),
      StructField("purch", LongType)))
    def ff(rows: Seq[(Int, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), fschema)
    assertClean(engine.fisherExact(ff(Nil), "t", "purch"),
      "fisher/empty")
    // one-armed: support has the single point k = r1 ⇒ p = 1 exactly
    val oneArm = engine.fisherExact(
      ff(Seq((1, 1L), (1, 0L), (1, 1L))), "t", "purch").collect()
    assert(oneArm(0).getAs[Double]("p_two_sided") === 1.0)
    // all-success: zero-failure margin ⇒ 1-point support ⇒ p = 1
    val allS = engine.fisherExact(
      ff(Seq((0, 1L), (0, 1L), (1, 1L))), "t", "purch").collect()
    assert(allS(0).getAs[Double]("p_two_sided") === 1.0)
    // a textbook 2x2: must be strictly inside (0, 1)
    val mid = engine.fisherExact(
      ff(Seq.fill(8)((0, 1L)) ++ Seq.fill(2)((0, 0L))
        ++ Seq.fill(2)((1, 1L)) ++ Seq.fill(8)((1, 0L))), "t", "purch")
      .collect()
    val p = mid(0).getAs[Double]("p_two_sided")
    assert(p > 0.0 && p < 0.05, s"8/2 vs 2/8 must be significant: $p")

    // TOST on the same frames: empty/one-armed ⇒ NULL p, no throw;
    // two large identical arms must read EQUIVALENT (the test's
    // whole point: equivalence is positively demonstrated)
    assertClean(engine.tostEquivalence(ff(Nil), "t", "purch"),
      "tost/empty")
    assertClean(engine.tostEquivalence(
      ff(Seq((1, 1L), (1, 0L))), "t", "purch"), "tost/one-armed")
    // identical 30% arms at n=2000/side: Δ = 0 exactly and the two
    // one-sided z's coincide — but 2000/side is UNDERPOWERED for a
    // δ=0.01 margin at p=0.3 (se ≈ 0.0145 > δ), so equivalence must
    // honestly read FALSE (absence of evidence, correctly reported)
    val same = ff((0 until 4000).map(i =>
      (i % 2, if ((i / 2) % 10 < 3) 1L else 0L)))
    val eq = engine.tostEquivalence(same, "t", "purch").collect()(0)
    assert(eq.getAs[Double]("delta") === 0.0)
    assert(eq.getAs[Double]("z_lower") === eq.getAs[Double]("z_upper"))
    assert(!eq.getAs[Boolean]("equivalent"),
      s"underpowered identical arms must NOT claim equivalence: $eq")
    // a POWERED case: identical 0.5% arms at n=60000/side
    // (se ≈ 4.1e-4 ≪ δ) must positively demonstrate equivalence
    val powered = spark.range(120000)
      .select((col("id") % 2).cast("int").as("t"),
        when((col("id") / 2) % 200 < 1, 1L).otherwise(0L).as("purch"))
    val eq2 = engine.tostEquivalence(powered, "t", "purch").collect()(0)
    assert(eq2.getAs[Boolean]("equivalent"),
      s"powered identical arms must read equivalent: $eq2")

    // bayesAb on the same degenerate frames: empty ⇒ empty output;
    // one-armed treatment (uniform posterior) ⇒ P = E[1 − p_c]
    assertClean(engine.bayesAb(ff(Nil), "t", "purch"), "bayes/empty")
    val oneArmB = engine.bayesAb(
      ff(Seq((0, 1L), (0, 1L), (0, 0L))), "t", "purch").collect()
    // control posterior Beta(3, 2): E[1 - p_c] = 2/5 = 0.4
    assert(oneArmB(0).getAs[Double]("p_beats_control") === 0.4)
    // dominant treatment must read near 1, dominant control near 0
    val dom = engine.bayesAb(
      ff(Seq.fill(20)((1, 1L)) ++ Seq.fill(20)((0, 0L))), "t", "purch")
      .collect()(0).getAs[Double]("p_beats_control")
    assert(dom > 0.99, s"dominant treatment: $dom")

    val dschema = StructType(Seq(StructField("dur", LongType),
      StructField("ev", LongType)))
    def df(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), dschema)
    assertClean(engine.nelsonAalen(df(Nil), "dur", "ev"), "na/empty")
    // all-censored: no event rows survive the d_t > 0 filter
    assert(engine.nelsonAalen(df(Seq((3L, 0L), (5L, 0L))), "dur", "ev")
      .count() === 0L)
    // single subject with an event: H = d/n = 1 exactly
    val single = engine.nelsonAalen(df(Seq((4L, 1L))), "dur", "ev")
      .collect()
    assert(single(0).getAs[Double]("cum_hazard") === 1.0)
  }

  test("intrinsicDim / personalizedPagerank / louvainCoarsen survive degenerate inputs") {
    val vschema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    def vf(rows: Seq[(Long, Seq[Double])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
      vschema)
    val pschema = StructType(Seq(StructField("qid", LongType),
      StructField("nn", LongType)))
    def pf(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), pschema)
    assertClean(engine.intrinsicDim(vf(Nil), "vec_id", "embedding",
      pf(Nil)), "intrinsicDim/empty")
    // energyDistance: empty / single sides read NULL, never a throw
    assertClean(engine.energyDistance(vf(Nil), vf(Nil),
      "vec_id", "embedding"), "energy/empty")
    val one = vf(Seq((1L, Seq(1.0, 2.0))))
    val two = vf(Seq((2L, Seq(0.0, 0.0)), (3L, Seq(1.0, 1.0))))
    assertClean(engine.energyDistance(one, two,
      "vec_id", "embedding"), "energy/single-ref")
    val r1 = engine.energyDistance(one, two, "vec_id", "embedding")
      .collect()(0)
    assert(r1.isNullAt(r1.fieldIndex("energy")),
      "a 1-row side has no within-mean: energy must be NULL")
    // all-duplicate vectors: every r1 = 0 ⇒ d_hat NULL, never a
    // log(0)/x-over-0 throw
    val dups = vf((0L to 3L).map(i => (i, Seq(1.0, 2.0))))
    val dupC = pf(Seq((0L, 1L), (0L, 2L), (1L, 0L), (1L, 2L),
      (2L, 0L), (2L, 1L), (3L, 0L), (3L, 1L)))
    val r = engine.intrinsicDim(dups, "vec_id", "embedding", dupC)
      .collect()
    assert(r(0).isNullAt(r(0).fieldIndex("d_hat")))
    assert(r(0).getAs[Long]("n_used") === 0L)

    val nschema = StructType(Seq(StructField("id", LongType)))
    def nf(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), nschema)
    val eschema = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType)))
    def ef(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), eschema)
    assertClean(engine.personalizedPagerank(nf(Nil), "id", ef(Nil),
      nf(Nil), "id"), "ppr/empty")
    assertClean(engine.personalizedPagerank(nf(Seq(1L, 2L)), "id",
      ef(Seq((1L, 2L))), nf(Nil), "id"), "ppr/no-seeds")
    assertClean(engine.louvainCoarsen(
      nf(Seq(1L, 2L)).select(col("id"), col("id").as("label")), "id",
      "label", ef(Nil)), "louvainCoarsen/no-edges")
  }

  test("riskRatio / cohensH / senSlopeCi survive degenerate frames") {
    val fs = StructType(Seq(StructField("t", IntegerType),
      StructField("p", LongType)))
    def ff(rows: Seq[(Int, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), fs)
    // zero cells everywhere: the +0.5 adjustments keep RR defined
    assertClean(engine.riskRatio(ff(Seq((0, 0L), (1, 0L))), "t", "p"),
      "rr/no-successes")
    assertClean(engine.riskRatio(ff(Nil), "t", "p"), "rr/empty")
    // one-armed: cohensH reads NULL h and NULL magnitude
    val oneArm = engine.cohensH(ff(Seq((1, 1L), (1, 0L))), "t", "p")
      .collect()(0)
    assert(oneArm.isNullAt(oneArm.fieldIndex("h")))
    assert(oneArm.isNullAt(oneArm.fieldIndex("magnitude")))
    // perfect split: h = ±π within rounding
    val full = engine.cohensH(ff(Seq((1, 1L), (0, 0L))), "t", "p")
      .collect()(0)
    assert(math.abs(full.getAs[Double]("h") - math.Pi) < 1e-3)
    val ss = StructType(Seq(StructField("t", LongType),
      StructField("v", LongType)))
    def sf4(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.senSlopeCi(sf4(Nil), "t", "v"), "sen/empty")
    assertClean(engine.senSlopeCi(sf4(Seq((1L, 5L))), "t", "v"),
      "sen/single")
    // constant series: every slope 0, var_num 0 ⇒ NULL CI, median 0
    val const = engine.senSlopeCi(
      sf4((1L to 10L).map(t => (t, 5L))), "t", "v").collect()(0)
    assert(const.getAs[Double]("slope_per_hour") === 0.0)
    assert(const.isNullAt(const.fieldIndex("slope_lo")))
    // exact ramp: slope 5 with a tight all-equal slope grid
    val ramp = engine.senSlopeCi(
      sf4((1L to 12L).map(t => (t, 5L * t))), "t", "v").collect()(0)
    assert(ramp.getAs[Double]("slope_per_hour") === 5.0)
  }

  test("poissonDispersion survives degenerate frames") {
    val ps = StructType(Seq(StructField("y", LongType)))
    def pf(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), ps)
    assertClean(engine.poissonDispersion(pf(Nil), "y"), "pd/empty")
    assertClean(engine.poissonDispersion(pf(Seq(5L)), "y"),
      "pd/single")
    // constant counts: s² = 0 ⇒ ratio 0, z defined and negative
    val c = engine.poissonDispersion(pf(Seq(4L, 4L, 4L, 4L)), "y")
      .collect()(0)
    assert(c.getAs[Double]("var_ratio") === 0.0)
    assert(c.getAs[Boolean]("overdispersed_95") === false)
    // all-zero counts: mean 0 ⇒ NULL ratio (x/0 guard), no throw
    assertClean(engine.poissonDispersion(pf(Seq(0L, 0L)), "y"),
      "pd/zeros")
  }

  test("hodgesLehmann / medianCi survive degenerate frames") {
    val hs = StructType(Seq(StructField("g", StringType),
      StructField("v", LongType)))
    def hf2(rows: Seq[(String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), hs)
    assertClean(engine.hodgesLehmann(hf2(Nil), "v", "g"), "hl/empty")
    // one-sided split: no cross pairs ⇒ empty diff grid, NULL readout
    assertClean(engine.hodgesLehmann(
      hf2(Seq(("control", 1L), ("control", 2L))), "v", "g"),
      "hl/one-sided")
    val ms = StructType(Seq(StructField("g", StringType),
      StructField("k", LongType), StructField("y", LongType)))
    def mf(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ms)
    assertClean(engine.medianCi(mf(Nil), "g", "k", "y"), "mci/empty")
    // single row: median = lo = hi = the value (clamped ranks)
    val one = engine.medianCi(mf(Seq(("a", 1L, -7L))), "g", "k", "y")
      .collect()(0)
    assert(one.getAs[Long]("median_cents") === -7L)
    assert(one.getAs[Long]("ci_lo_cents") === -7L)
    assert(one.getAs[Long]("ci_hi_cents") === -7L)
  }

  test("welchAnova / archLmTest / forecastCombination survive degenerate frames") {
    val ws = StructType(Seq(StructField("g", StringType),
      StructField("y", LongType)))
    def wf(rows: Seq[(String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ws)
    assertClean(engine.welchAnova(wf(Nil), "g", "y"), "welchA/empty")
    // a constant group poisons F (zero variance ⇒ infinite weight)
    val wa = engine.welchAnova(wf(Seq(("a", 5L), ("a", 5L),
      ("b", 1L), ("b", 9L))), "g", "y").collect()(0)
    assert(wa.isNullAt(wa.fieldIndex("f_welch")))
    assertClean(engine.welchAnova(wf(Seq(("a", 1L), ("a", 2L))),
      "g", "y"), "welchA/one-group")
    // NEAR-zero variance (ADVICE r14): one deviating row among 4000
    // identical ⇒ s² ≈ 1/n_g ⇒ w ≈ n_g²·1e9 > 2^62 — must take the
    // w_ok NULL branch (degenerate F), never an ANSI cast overflow
    val nz = engine.welchAnova(wf(
      (1 to 4000).map(_ => ("a", 1000000L)) ++ Seq(("a", 1000001L),
        ("b", 1L), ("b", 9L))), "g", "y").collect()(0)
    assert(nz.isNullAt(nz.fieldIndex("f_welch")))
    val ts3 = StructType(Seq(StructField("t", LongType),
      StructField("v", LongType)))
    def s3(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ts3)
    assertClean(engine.archLmTest(s3(Nil), "t", "v"), "arch/empty")
    // constant series: every e² = 0 ⇒ cyy = 0 ⇒ NULL, never a throw
    val ac = engine.archLmTest(
      s3((1L to 10L).map(t => (t, 7L))), "t", "v").collect()(0)
    assert(ac.isNullAt(ac.fieldIndex("lm")))
    assertClean(engine.forecastCombination(s3(Nil), "t", "v"),
      "combo/empty")
    // under 181 hours nothing is fully tapped: 4 NULL rows, no throw
    val fc = engine.forecastCombination(
      s3((1L to 50L).map(t => (t, t % 7))), "t", "v").collect()
    assert(fc.length === 4 && fc.forall(_.isNullAt(
      fc(0).fieldIndex("mae"))))
  }

  test("bounceRate survives degenerate frames") {
    val ss = StructType(Seq(StructField("lt", StringType),
      StructField("ne", LongType)))
    def sf3(rows: Seq[(String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.bounceRate(sf3(Nil), "lt", "ne"),
      "bounce/empty")
    val all = engine.bounceRate(
      sf3(Seq(("view", 1L), ("view", 1L))), "lt", "ne").collect()(0)
    assert(all.getAs[Double]("bounce_rate") === 1.0)
  }

  test("logisticIrls survives degenerate frames") {
    val ls = StructType(Seq(StructField("y", LongType),
      StructField("x1", LongType), StructField("x2", LongType)))
    def lf(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ls)
    assertClean(engine.logisticIrls(lf(Nil), "y", "x1", "x2"),
      "irls/empty")
    // constant regressors: the 3×3 is singular ⇒ det 0 ⇒ NULL betas
    val const = engine.logisticIrls(lf(Seq((1L, 5L, 3L), (0L, 5L, 3L),
      (1L, 5L, 3L))), "y", "x1", "x2").collect()(0)
    assert(const.isNullAt(const.fieldIndex("beta1")))
    // one-class responses: finite intercept-ish fit, never a throw
    assertClean(engine.logisticIrls(lf(Seq((1L, 1L, 2L), (1L, 2L, 1L),
      (1L, 3L, 3L))), "y", "x1", "x2"), "irls/all-pos")
    assertClean(engine.logisticIrls(lf(Seq((0L, 1L, 2L), (0L, 2L, 1L),
      (0L, 3L, 3L))), "y", "x1", "x2"), "irls/all-neg")
    // perfect separation: the ±30 step clamp keeps η bounded
    assertClean(engine.logisticIrls(lf(Seq((1L, 10L, 1L), (1L, 9L, 2L),
      (0L, 1L, 1L), (0L, 2L, 2L))), "y", "x1", "x2"), "irls/separated")
  }

  test("logLoss / durbinWatson / partialCorr / cronbachAlpha survive degenerate frames") {
    val sc2 = StructType(Seq(StructField("s", LongType),
      StructField("y", LongType)))
    def sf4(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), sc2)
    assertClean(engine.logLoss(sf4(Nil), "s", "y"), "ll/empty")
    // saturated scores (0 and 1e4) take the epsilon clip, no ln(0)
    assertClean(engine.logLoss(sf4(Seq((0L, 0L), (10000L, 1L))),
      "s", "y"), "ll/saturated")
    // one-class labels: base rate 0 or 1 => NULL baseline/skill
    val oc = engine.logLoss(sf4(Seq((5000L, 1L), (7000L, 1L))),
      "s", "y").collect()(0)
    assert(oc.isNullAt(oc.fieldIndex("log_loss_base")))
    assertClean(engine.durbinWatson(sf4(Nil), "s", "y"), "dw/empty")
    // single point: det = 0 => NULL fit => NULL dw
    val dw1 = engine.durbinWatson(sf4(Seq((5L, 3L))), "s", "y")
      .collect()(0)
    assert(dw1.isNullAt(dw1.fieldIndex("dw")))
    // perfectly linear series: residuals all 0 => den 0 => NULL dw
    assertClean(engine.durbinWatson(
      sf4((1L to 10L).map(t => (t, 2 * t + 1))), "s", "y"), "dw/linear")
    val pc4 = StructType(Seq(StructField("g", StringType),
      StructField("x", LongType), StructField("y", LongType),
      StructField("z", LongType)))
    def pf(rows: Seq[(String, Long, Long, Long)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), pc4)
    assertClean(engine.partialCorr(pf(Nil), "g", "x", "y", "z"),
      "pc/empty")
    // constant control: czz = 0 => NULL partial, corr_xy intact
    val cc = engine.partialCorr(pf(Seq(("a", 1L, 2L, 7L),
      ("a", 2L, 4L, 7L), ("a", 3L, 6L, 7L))), "g", "x", "y", "z")
      .collect()(0)
    assert(cc.getAs[Double]("corr_xy") === 1.0)
    assert(cc.isNullAt(cc.fieldIndex("partial_xy_given_z")))
    // |r_xz| = 1: the partial denominator hits 0 => NULL, no throw
    assertClean(engine.partialCorr(pf(Seq(("a", 1L, 5L, 1L),
      ("a", 2L, 9L, 2L), ("a", 3L, 2L, 3L))), "g", "x", "y", "z"),
      "pc/collinear")
    val cw = StructType(Seq(StructField("i1", LongType),
      StructField("i2", LongType)))
    def cf2(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), cw)
    assertClean(engine.cronbachAlpha(cf2(Nil), Seq("i1", "i2")),
      "ca/empty")
    // constant items: zero total variance => NULL alpha
    val ca = engine.cronbachAlpha(cf2(Seq((5L, 5L), (5L, 5L))),
      Seq("i1", "i2")).collect()(0)
    assert(ca.isNullAt(ca.fieldIndex("alpha")))
  }

  test("decisionStump survives degenerate frames") {
    val ds = StructType(Seq(StructField("y", LongType),
      StructField("x", LongType)))
    def df2(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ds)
    // empty and single-distinct-x inputs: no valid cut => 0 rows
    assert(engine.decisionStump(df2(Nil), "y", "x").count() === 0L)
    assert(engine.decisionStump(df2(Seq((1L, 5L), (0L, 5L))),
      "y", "x").count() === 0L)
    // one-class y: every cut has zero gain; the argmax still returns
    // a clean row (smallest x) with ig 0
    val oc = engine.decisionStump(df2(Seq((1L, 1L), (1L, 2L),
      (1L, 3L))), "y", "x").collect()(0)
    assert(oc.getAs[Long]("ig_u") === 0L)
    assert(oc.getAs[Double]("train_accuracy") === 1.0)
  }

  test("twoWayAnova survives degenerate frames") {
    val ws2 = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType), StructField("y", LongType)))
    def wf2(rows: Seq[(Long, String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ws2)
    assertClean(engine.twoWayAnova(wf2(Nil), "a", "b", "y"),
      "twa/empty")
    // one observation per cell: df_w = 0 => NULL F's, no throw
    assertClean(engine.twoWayAnova(wf2(Seq((0L, "u", 1L),
      (0L, "v", 2L), (1L, "u", 3L), (1L, "v", 4L))), "a", "b", "y"),
      "twa/saturated")
    // single level of each factor, constant y
    val c = engine.twoWayAnova(wf2(Seq((0L, "u", 5L), (0L, "u", 5L))),
      "a", "b", "y").collect()(0)
    assert(c.isNullAt(c.fieldIndex("f_a")))
    // negative values flow through the whole-unit quantization
    assertClean(engine.twoWayAnova(wf2(Seq((0L, "u", -7L),
      (0L, "v", -3L), (1L, "u", -9L), (1L, "v", -1L),
      (0L, "u", -6L), (1L, "v", -2L))), "a", "b", "y"), "twa/negative")
  }

  test("coxPh survives degenerate frames") {
    val cx = StructType(Seq(StructField("dur", LongType),
      StructField("ev", LongType), StructField("g1", LongType)))
    def xf(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), cx)
    assertClean(engine.coxPh(xf(Nil), "dur", "ev", "g1"), "cox/empty")
    // no events: empty grid ⇒ NULL readout, never a throw
    val ne = engine.coxPh(xf(Seq((1L, 0L), (2L, 0L), (3L, 0L))
      .map(t => (t._1, t._2, t._1 % 2))), "dur", "ev", "g1").collect()(0)
    assert(ne.isNullAt(ne.fieldIndex("beta")))
    // single group: information is exactly 0 at every round ⇒ NULL
    val sg = engine.coxPh(xf(Seq((1L, 1L, 1L), (2L, 1L, 1L),
      (3L, 1L, 1L))), "dur", "ev", "g1").collect()(0)
    assert(sg.isNullAt(sg.fieldIndex("beta")))
    // perfectly separated one-sided events: the clamp keeps e^β
    // finite and the readout clean (β runs toward the ±13 rail)
    assertClean(engine.coxPh(xf(Seq((1L, 1L, 1L), (2L, 1L, 1L),
      (3L, 0L, 0L), (4L, 0L, 0L))), "dur", "ev", "g1"), "cox/onesided")
    // all tied at one hour, both groups: estimable, finite
    assertClean(engine.coxPh(xf(Seq((5L, 1L, 0L), (5L, 1L, 1L),
      (5L, 1L, 0L), (5L, 1L, 1L))), "dur", "ev", "g1"), "cox/tied")
  }

  test("quantileShape / bartlettTest / competingRisks survive degenerate frames") {
    val qs = StructType(Seq(StructField("g", StringType),
      StructField("k", LongType), StructField("y", LongType)))
    def qf(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), qs)
    assertClean(engine.quantileShape(qf(Nil), "g", "k", "y"),
      "qshape/empty")
    // single row: all octiles collapse to the value, IQR 0 ⇒ NULLs
    val single = engine.quantileShape(
      qf(Seq(("a", 1L, -42L))), "g", "k", "y").collect()(0)
    assert(single.getAs[Long]("median_cents") === -42L)
    assert(single.isNullAt(single.fieldIndex("bowley")))
    assertClean(engine.quantileShape(
      qf(Seq(("a", 1L, 5L), ("a", 2L, 5L), ("a", 3L, 5L))),
      "g", "k", "y"), "qshape/constant")
    val bs = StructType(Seq(StructField("g", StringType),
      StructField("y", LongType)))
    def bf(rows: Seq[(String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), bs)
    assertClean(engine.bartlettTest(bf(Nil), "g", "y"),
      "bartlett/empty")
    // a constant group poisons the whole T (ln 0) ⇒ NULL, no throw
    val bc = engine.bartlettTest(bf(Seq(("a", 5L), ("a", 5L),
      ("b", 1L), ("b", 9L))), "g", "y").collect()(0)
    assert(bc.isNullAt(bc.fieldIndex("bartlett_t")))
    assertClean(engine.bartlettTest(bf(Seq(("a", 1L))), "g", "y"),
      "bartlett/single")
    val cs = StructType(Seq(StructField("dur", LongType),
      StructField("cz", LongType)))
    def cf(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), cs)
    assertClean(engine.competingRisks(cf(Nil), "dur", "cz"),
      "cr/empty")
    // all censored: no event rows survive the grid filter
    assert(engine.competingRisks(
      cf(Seq((1L, 0L), (2L, 0L))), "dur", "cz").count() === 0L)
    // one event of each cause at the same hour: CIFs split 50/50
    val both = engine.competingRisks(
      cf(Seq((3L, 1L), (3L, 2L))), "dur", "cz").collect()(0)
    assert(both.getAs[Double]("cif_purchase") === 0.5)
    assert(both.getAs[Double]("cif_error") === 0.5)
  }

  test("adfTest / kpssTest survive degenerate frames") {
    val ts2 = StructType(Seq(StructField("t", LongType),
      StructField("v", LongType)))
    def s2(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ts2)
    assertClean(engine.adfTest(s2(Nil), "t", "v"), "adf/empty")
    assertClean(engine.adfTest(s2(Seq((1L, 5L), (2L, 7L))), "t", "v"),
      "adf/too-short")
    // constant series: cxx1 = 0 ⇒ det = 0 ⇒ every readout NULL
    val const = engine.adfTest(
      s2((1L to 10L).map(t => (t, 5L))), "t", "v").collect()(0)
    assert(const.isNullAt(const.fieldIndex("t_gamma")))
    // exact ramp: Δy and Δy₋₁ constant ⇒ collinear ⇒ NULL, no throw
    assertClean(engine.adfTest(
      s2((1L to 20L).map(t => (t, 5L * t))), "t", "v"), "adf/ramp")
    assertClean(engine.kpssTest(s2(Nil), "t", "v"), "kpss/empty")
    // constant series: zero deviations ⇒ slr5 = 0 ⇒ NULL η
    val kc = engine.kpssTest(
      s2((1L to 10L).map(t => (t, 5L))), "t", "v").collect()(0)
    assert(kc.isNullAt(kc.fieldIndex("eta")))
    assertClean(engine.kpssTest(s2(Seq((1L, -3L))), "t", "v"),
      "kpss/single")
  }

  test("wilcoxonSignedRank / signTestExact survive degenerate frames") {
    val ds = StructType(Seq(StructField("d", LongType)))
    def df1(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), ds)
    assertClean(engine.wilcoxonSignedRank(df1(Nil), "d"), "wsr/empty")
    // all-zero deltas: everything drops, n_nonzero NULL sums, no z
    assertClean(engine.wilcoxonSignedRank(df1(Seq(0L, 0L)), "d"),
      "wsr/all-zero")
    // single nonzero delta: Var2 > 0 (no ties), z defined
    assertClean(engine.wilcoxonSignedRank(df1(Seq(-7L)), "d"),
      "wsr/single")
    assertClean(engine.signTestExact(df1(Nil), "d"), "sign/empty")
    // all-zero deltas: n = 0 ⇒ the j-grid is {0}, p reads exactly 1
    val z = engine.signTestExact(df1(Seq(0L, 0L)), "d").collect()(0)
    assert(z.getAs[Double]("p_two") === 1.0)
    assert(z.getAs[Boolean]("significant_95") === false)
    // one-sided: n = 3 all negative ⇒ p = 2/8 = 0.25
    val neg = engine.signTestExact(df1(Seq(-1L, -2L, -3L)), "d")
      .collect()(0)
    assert(neg.getAs[Double]("p_two") === 0.25)
  }

  test("coxCIndex survives degenerate frames") {
    val ss = StructType(Seq(StructField("dur", LongType),
      StructField("ev", LongType), StructField("g1", LongType)))
    def cf3(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.coxCIndex(cf3(Nil), "dur", "ev", "g1"),
      "cidx/empty")
    // no events: zero comparable pairs, NULL c
    assertClean(engine.coxCIndex(
      cf3(Seq((5L, 0L, 1L), (7L, 0L, 0L))), "dur", "ev", "g1"),
      "cidx/no-events")
    // all same duration: nobody at risk strictly after ⇒ NULL c
    val tied = engine.coxCIndex(
      cf3(Seq((5L, 1L, 1L), (5L, 1L, 0L))), "dur", "ev", "g1")
      .collect()(0)
    assert(tied.isNullAt(tied.fieldIndex("c_index")))
    // single variant: every comparable pair is score-tied ⇒ C = 1/2
    val one = engine.coxCIndex(
      cf3(Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))),
      "dur", "ev", "g1").collect()(0)
    assert(one.getAs[Double]("c_index") === 0.5)
  }

  test("ksSeparation survives degenerate frames") {
    val ss = StructType(Seq(StructField("det", StringType),
      StructField("s", LongType), StructField("y", LongType)))
    def kf(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.ksSeparation(kf(Nil), "det", "s", "y"),
      "ksd/empty")
    // one-class: n_neg = 0 ⇒ NULL ks, never a throw
    assertClean(engine.ksSeparation(
      kf(Seq(("a", 1L, 1L), ("a", 2L, 1L))), "det", "s", "y"),
      "ksd/one-class")
    // perfectly separated: KS exactly 1 at the boundary score
    val sep = engine.ksSeparation(
      kf(Seq(("a", 1L, 0L), ("a", 2L, 0L), ("a", 8L, 1L),
        ("a", 9L, 1L))), "det", "s", "y").collect()(0)
    assert(sep.getAs[Double]("ks") === 1.0)
    assert(sep.getAs[Long]("ks_threshold_u") === 2L)
  }

  test("spearmanCi survives degenerate frames") {
    val ss = StructType(Seq(StructField("g", StringType),
      StructField("x", LongType), StructField("y", LongType)))
    def sf3(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.spearmanCi(sf3(Nil), "g", "x", "y"), "sci/empty")
    // n <= 3: SE undefined, NULL bounds, no throw
    assertClean(engine.spearmanCi(
      sf3(Seq(("a", 1L, 2L), ("a", 2L, 1L))), "g", "x", "y"),
      "sci/tiny")
    // constant x: zero rank variance, NULL rho and bounds
    assertClean(engine.spearmanCi(
      sf3((1L to 6L).map(i => ("a", 5L, i))), "g", "x", "y"),
      "sci/const-x")
  }

  test("negativeBinomialFit survives degenerate frames") {
    val ss = StructType(Seq(StructField("y", LongType)))
    def nf(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), ss)
    assertClean(engine.negativeBinomialFit(nf(Nil), "y"), "nb/empty")
    assertClean(engine.negativeBinomialFit(nf(Seq(5L)), "y"),
      "nb/single")
    assertClean(engine.negativeBinomialFit(nf(Seq(0L, 0L, 0L)), "y"),
      "nb/all-zero")
  }

  test("spectralEntropy survives degenerate frames") {
    val ss = StructType(Seq(StructField("hr", LongType),
      StructField("n", LongType)))
    def sf2(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.spectralEntropy(sf2(Nil), "hr", "n"),
      "spent/empty")
    assertClean(engine.spectralEntropy(sf2(Seq((5L, 3L))), "hr", "n"),
      "spent/single")
    // constant series: all deviations 0 ⇒ zero power everywhere ⇒
    // shares and entropy read NULL, never a throw
    val cst = engine.spectralEntropy(
      sf2((0L until 48L).map(h => (h, 7L))), "hr", "n").collect()
    assert(cst.forall(_.isNullAt(2)), "constant series must read NULL")
  }

  test("fisherCombined / storeyPi0 survive degenerate frames") {
    val ss = StructType(Seq(StructField("p_u", LongType)))
    def pf(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), ss)
    assertClean(engine.fisherCombined(pf(Nil), "p_u"), "fisher/empty")
    assertClean(engine.storeyPi0(pf(Nil), "p_u"), "storey/empty")
    // saturated p = 0 (a micro-floored exp underflow): the ε-clip
    // makes the term ln(1e-6), never −∞
    assertClean(engine.fisherCombined(pf(Seq(0L)), "p_u"),
      "fisher/zero-p")
    assertClean(engine.fisherCombined(pf(Seq(1000000L)), "p_u"),
      "fisher/single-flat")
    assertClean(engine.storeyPi0(pf(Seq(500000L)), "p_u"),
      "storey/boundary")
  }

  test("hodgesLehmannCi survives degenerate frames") {
    val ss = StructType(Seq(StructField("v", LongType),
      StructField("g", StringType)))
    def hf(rows: Seq[(Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.hodgesLehmannCi(hf(Nil), "v", "g"), "hlci/empty")
    // one-sided input: no (t, c) pairs ⇒ empty grid ⇒ NULL readout
    assertClean(engine.hodgesLehmannCi(
      hf(Seq((1L, "control"), (2L, "control"))), "v", "g"),
      "hlci/one-sided")
    // single pair: every pick is the one diff
    val one = engine.hodgesLehmannCi(
      hf(Seq((3L, "control"), (8L, "treatment"))), "v", "g").collect()(0)
    assert(one.getAs[Long]("hl_shift") === 5L
      && one.getAs[Long]("ci_lo") === 5L
      && one.getAs[Long]("ci_hi") === 5L)
    // constant identical groups: shift and both bounds exactly 0
    val cst = engine.hodgesLehmannCi(
      hf(Seq((4L, "control"), (4L, "treatment"), (4L, "control"),
        (4L, "treatment"))), "v", "g").collect()(0)
    assert(cst.getAs[Long]("hl_shift") === 0L
      && cst.getAs[Long]("ci_lo") === 0L
      && cst.getAs[Long]("ci_hi") === 0L)
  }

  test("knPerplexity3 survives degenerate frames") {
    val ss = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def df2(rows: Seq[(Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.knPerplexity3(df2(Nil), "doc_id", "text"),
      "kn3/empty")
    // all docs under 3 tokens: every doc drops, empty output
    assert(engine.knPerplexity3(
      df2(Seq((1L, "a"), (2L, "a b"))), "doc_id", "text").count() === 0L)
    // single 3-token doc: one trigram, c3 = c12 = 1, defined
    assertClean(engine.knPerplexity3(
      df2(Seq((1L, "a b c"))), "doc_id", "text"), "kn3/single")
    // constant-token doc: trigram (x,x,x) with itself as backoff
    assertClean(engine.knPerplexity3(
      df2(Seq((1L, "x x x x x"))), "doc_id", "text"), "kn3/constant")
  }

  test("poissonGlm survives degenerate frames") {
    val ss = StructType(Seq(StructField("y", LongType),
      StructField("x", LongType)))
    def pf2(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.poissonGlm(pf2(Nil), "y", "x"), "pois/empty")
    // all-zero counts: ln-mean seed guard, det = 0 ⇒ NULL betas
    assertClean(engine.poissonGlm(pf2(Seq((0L, 1L), (0L, 2L))), "y", "x"),
      "pois/all-zero")
    // constant regressor: collinear with intercept ⇒ det = 0 ⇒ NULL
    val cr = engine.poissonGlm(pf2(Seq((3L, 5L), (7L, 5L))), "y", "x")
      .collect()(0)
    assert(cr.isNullAt(cr.fieldIndex("beta1")))
    assertClean(engine.poissonGlm(pf2(Seq((2L, 1L))), "y", "x"),
      "pois/single")
    // negative regressor values: DIV-free quantizers stay safe
    assertClean(engine.poissonGlm(
      pf2(Seq((1L, -3L), (4L, -1L), (9L, 2L))), "y", "x"), "pois/neg-x")
  }

  test("r17 facades survive degenerate frames (ccf/zipf/ancova/boxcox/bayesFactor)") {
    import org.apache.spark.sql.functions.{col => c}
    // crossCorrelation: empty, single-period, constant series
    val ts3 = StructType(Seq(StructField("t", LongType),
      StructField("x", LongType), StructField("y", LongType)))
    def tf(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ts3)
    assertClean(engine.crossCorrelation(tf(Nil), "t", "x", "y"),
      "ccf/empty")
    assertClean(engine.crossCorrelation(tf(Seq((1L, 5L, 7L))),
      "t", "x", "y"), "ccf/single")
    val const = engine.crossCorrelation(
      tf((1L to 20L).map(t => (t, 4L, t))), "t", "x", "y").collect()
    // constant x: denx = 0 ⇒ every ccf NULL, never a throw
    assert(const.forall(_.isNullAt(3)), "ccf/constant-x must be NULL")
    // zipfFit: empty and single-type tables
    val fs = StructType(Seq(StructField("word", StringType),
      StructField("n", LongType)))
    def ff(rows: Seq[(String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), fs)
    assertClean(engine.zipfFit(ff(Nil), "word", "n"), "zipf/empty")
    val one = engine.zipfFit(ff(Seq(("a", 7L))), "word", "n").collect()(0)
    assert(one.isNullAt(one.fieldIndex("slope")), "zipf/single ⇒ NULL")
    // ancova: empty, one group, zero covariate variance
    val as3 = StructType(Seq(StructField("g", StringType),
      StructField("y", LongType), StructField("x", LongType)))
    def af(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), as3)
    assertClean(engine.ancova(af(Nil), "g", "y", "x"), "ancova/empty")
    val zv = engine.ancova(
      af(Seq(("a", 3L, 5L), ("a", 9L, 5L), ("b", 4L, 5L))),
      "g", "y", "x").collect()
    assert(zv.forall(_.isNullAt(zv(0).fieldIndex("slope_within"))),
      "ancova/zero covariate variance ⇒ NULL slope")
    // boxCoxLambda: empty, constant, non-positive rows excluded
    val ys = StructType(Seq(StructField("y", LongType)))
    def yf(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(v => Row(v)), 1), ys)
    assertClean(engine.boxCoxLambda(yf(Nil), "y"), "boxcox/empty")
    val cst = engine.boxCoxLambda(yf(Seq(7L, 7L, 7L)), "y").collect()
    assert(cst.length === 5 && cst.forall(_.isNullAt(1)),
      "boxcox/constant ⇒ NULL ll rows")
    assertClean(engine.boxCoxLambda(yf(Seq(-3L, 0L)), "y"),
      "boxcox/non-positive")
    // bayesFactorAb: empty and one-armed inputs
    val bs = StructType(Seq(StructField("t", IntegerType),
      StructField("conv", LongType)))
    def bf(rows: Seq[(Int, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), bs)
    assertClean(engine.bayesFactorAb(bf(Nil), "t", "conv"), "bf/empty")
    val oneArm = engine.bayesFactorAb(
      bf(Seq((0, 1L), (0, 0L))), "t", "conv").collect()(0)
    assert(oneArm.isNullAt(oneArm.fieldIndex("ln_bf10")),
      "bf/one-arm ⇒ NULL")
  }

  test("abSampleSizeCore one-class / empty reads NULL n_per_arm") {
    val cs = StructType(Seq(StructField("conv", LongType)))
    def cf(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(v => Row(v)), 1), cs)
    // one-class (every unit converts — the r16 events_ab_sample_size
    // degeneracy): zero binomial variance ⇒ NULL, never 0
    val ones = operators.TimeSeries.abSampleSizeCore(
      spark, cf(Seq(1L, 1L, 1L))).collect()
    assert(ones.length === 3)
    ones.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("n_per_arm")), s"one-class: $r")
      assert(r.isNullAt(r.fieldIndex("delta_abs")))
    }
    // one-class all-zero: same guard, NULL
    val zeros = operators.TimeSeries.abSampleSizeCore(
      spark, cf(Seq(0L, 0L))).collect()
    assert(zeros.forall(r => r.isNullAt(r.fieldIndex("n_per_arm"))))
    // empty: p_pool NULL ⇒ NULL sweep, no throw
    assertClean(operators.TimeSeries.abSampleSizeCore(spark, cf(Nil)),
      "ssz/empty")
    // balanced: finite, quadratic in the relative MDE
    val bal = operators.TimeSeries.abSampleSizeCore(
      spark, cf(Seq(0L, 1L, 0L, 1L))).collect()
      .map(r => (r.getAs[Long]("rel_mde_pct"), r.getAs[Long]("n_per_arm")))
      .sortBy(_._1)
    assert(bal(0)._2 > bal(1)._2 && bal(1)._2 > bal(2)._2)
  }

  test("gammaGlm survives degenerate frames") {
    val ss = StructType(Seq(StructField("y", LongType),
      StructField("x", LongType)))
    def gf2(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.gammaGlm(gf2(Nil), "y", "x"), "gamma/empty")
    // all-non-positive y: the Gamma domain filter leaves an empty
    // frame — NULL readout, never a throw
    assertClean(engine.gammaGlm(gf2(Seq((0L, 1L), (-5L, 2L))), "y", "x"),
      "gamma/non-positive")
    // constant regressor: collinear with intercept ⇒ det = 0 ⇒ NULL
    val cr = engine.gammaGlm(gf2(Seq((300L, 5L), (700L, 5L))), "y", "x")
      .collect()(0)
    assert(cr.isNullAt(cr.fieldIndex("beta1")))
    assertClean(engine.gammaGlm(gf2(Seq((200L, 1L))), "y", "x"),
      "gamma/single")
    // negative regressor values: micro z quantizer is negative-safe
    assertClean(engine.gammaGlm(
      gf2(Seq((100L, -3L), (400L, -1L), (900L, 2L))), "y", "x"),
      "gamma/neg-x")
    // constant y over varying x: slope exactly 0, dispersion 0
    val cy = engine.gammaGlm(
      gf2(Seq((500L, 0L), (500L, 1L), (500L, 2L))), "y", "x").collect()(0)
    assert(cy.getAs[Double]("beta1") === 0.0)
    assert(cy.getAs[Double]("dispersion") === 0.0)
  }

  test("isotonicFit survives degenerate frames") {
    val ss = StructType(Seq(StructField("s", LongType),
      StructField("y", LongType)))
    def sf2(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ss)
    assertClean(engine.isotonicFit(sf2(Nil), "s", "y"), "iso/empty")
    // single cell: fit = its own rate
    val one = engine.isotonicFit(sf2(Seq((5L, 1L))), "s", "y").collect()
    assert(one.length === 1 && one(0).getAs[Long]("fit_u") === 1000000L)
    // constant score, mixed labels: one pooled cell at the mean
    val const = engine.isotonicFit(
      sf2(Seq((3L, 0L), (3L, 1L))), "s", "y").collect()
    assert(const.length === 1 && const(0).getAs[Long]("fit_u") === 500000L)
    // one-class (all negative): fit identically 0
    val neg = engine.isotonicFit(
      sf2(Seq((1L, 0L), (2L, 0L), (9L, 0L))), "s", "y").collect()
    assert(neg.forall(_.getAs[Long]("fit_u") === 0L))
    // anti-monotone input pools to the global mean everywhere
    val anti = engine.isotonicFit(
      sf2(Seq((1L, 1L), (2L, 0L))), "s", "y").collect()
    assert(anti.forall(_.getAs[Long]("fit_u") === 500000L))
  }

  test("harmonicCloseness / adamicAdar / hubness / liftCurve survive degenerate frames") {
    val es = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType)))
    def ef2(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), es)
    val ns = StructType(Seq(StructField("x", LongType)))
    def nf2(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), ns)
    // empty graph, one seed: reaches only itself, hc = 0, zero-node
    // normalization reads NULL (never a throw)
    assertClean(engine.harmonicCloseness(nf2(Nil), ef2(Nil),
      nf2(Seq(1L)), "x"), "closeness/empty-graph")
    // deg-1 endpoints exist in the weight frame: the guarded
    // 1e6/ln(deg) definition site must not ANSI-throw
    assertClean(engine.adamicAdar(ef2(Seq((1L, 2L)))), "aa/one-edge")
    val path = engine.adamicAdar(ef2(Seq((1L, 2L), (2L, 3L))))
      .collect()
    assert(path.length === 1 && path(0).getAs[Long]("x") === 1L
      && path(0).getAs[Long]("y") === 3L
      && path(0).getAs[Long]("n_common") === 1L)
    assertClean(engine.adamicAdar(ef2(Nil)), "aa/empty")
    // no directed edges: every node an antihub, m2 = 0 ⇒ NULL skew
    val hub = engine.hubness(nf2(Seq(1L, 2L, 3L)), "x",
      ef2(Nil).select(col("a").as("t")), "t").collect()(0)
    assert(hub.getAs[Long]("n_antihubs") === 3L)
    assert(hub.isNullAt(hub.fieldIndex("hubness_skew")))
    assertClean(engine.hubness(nf2(Nil), "x",
      ef2(Nil).select(col("a").as("t")), "t"), "hubness/empty")
    // all-negative labels: pp = 0 ⇒ gain/lift NULL per band
    assertClean(engine.liftCurve(ef2(Seq((5000L, 0L), (9000L, 0L))),
      "a", "b"), "lift/no-positives")
    assertClean(engine.liftCurve(ef2(Nil), "a", "b"), "lift/empty")
  }

  test("turningPointTest / permutationEntropy / brierScore / readability survive degenerate frames") {
    val ts = StructType(Seq(StructField("t", LongType),
      StructField("v", LongType)))
    def sf2(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ts)
    assertClean(engine.turningPointTest(sf2(Nil), "t", "v"), "tp/empty")
    assertClean(engine.turningPointTest(sf2(Seq((1L, 5L), (2L, 5L))),
      "t", "v"), "tp/too-short")
    // constant series: zero turning points, z well-defined negative
    val const = engine.turningPointTest(
      sf2(Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L))), "t", "v")
      .collect()(0)
    assert(const.getAs[Long]("n_turning") === 0L)
    assertClean(engine.permutationEntropy(sf2(Nil), "t", "v"),
      "pe/empty")
    assertClean(engine.permutationEntropy(sf2(Seq((1L, 3L), (2L, 9L))),
      "t", "v"), "pe/too-short")
    // constant series: one pattern (code 7) ⇒ entropy exactly 0
    val pe = engine.permutationEntropy(
      sf2(Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L))), "t", "v")
      .collect()(0)
    assert(pe.getAs[Long]("entropy_micro") === 0L)
    assert(pe.getAs[Long]("n_patterns") === 1L)
    assertClean(engine.brierScore(sf2(Nil), "t", "v"), "brier/empty")
    // all-positive labels at a perfect score: BS = 0, UNC = 0
    val perfect = engine.brierScore(
      sf2(Seq((10000L, 1L), (10000L, 1L))), "t", "v").collect()(0)
    assert(perfect.getAs[Double]("brier") === 0.0)
    assert(perfect.getAs[Double]("uncertainty") === 0.0)
    val ds = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    def df2(rows: Seq[(Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ds)
    assertClean(engine.colemanLiau(df2(Nil)), "cli/empty")
    assertClean(engine.ariIndex(df2(Nil)), "ari/empty")
    assertClean(engine.smogGrade(df2(Nil)), "smog/empty")
    // no polysyllables: smog reads exactly the 3.1291 intercept
    val simple = engine.smogGrade(df2(Seq((1L, "a b c."))))
      .collect()(0)
    assert(simple.getAs[Double]("smog") === 3.1291)
    // zero-word docs are dropped, not divided by
    assert(engine.colemanLiau(df2(Seq((1L, "!!!")))).count() === 0L)
    assert(engine.ariIndex(df2(Seq((1L, "   ")))).count() === 0L)
  }

  test("cliffsDelta / moodMedianTest / jarqueBera survive degenerate frames") {
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("v", LongType)))
    def f(rows: Seq[(String, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    assertClean(engine.cliffsDelta(f(Nil), "v", "g"), "cliffs/empty")
    // one-sided split: n_t = 0 ⇒ delta and magnitude NULL
    val oneSided = engine.cliffsDelta(
      f(Seq(("control", 1L), ("control", 2L))), "v", "g").collect()(0)
    assert(oneSided.isNullAt(oneSided.fieldIndex("delta")))
    assert(oneSided.isNullAt(oneSided.fieldIndex("magnitude")))
    assertClean(engine.moodMedianTest(f(Nil), "v", "g"), "mood/empty")
    // single row: a zero marginal ⇒ NULL χ², never a throw
    val single = engine.moodMedianTest(
      f(Seq(("control", 5L))), "v", "g").collect()(0)
    assert(single.isNullAt(single.fieldIndex("chi2")))
    assertClean(engine.moodMedianTest(
      f(Seq(("control", -5L), ("treatment", -5L))), "v", "g"),
      "mood/constant-negative")
    assertClean(engine.jarqueBera(f(Nil), "g", "v"), "jb/empty")
    // constant group: m2 = 0 ⇒ NULL skew/kurt/jb at the definition
    // site (the x/0 guard), n and mean still read
    val cjb = engine.jarqueBera(
      f(Seq(("a", 7L), ("a", 7L), ("a", 7L))), "g", "v").collect()(0)
    assert(cjb.isNullAt(cjb.fieldIndex("jb")))
    assert(cjb.getAs[Double]("mean") === 7.0)
    assertClean(engine.jarqueBera(f(Seq(("b", -3L))), "g", "v"),
      "jb/single-negative")
  }

  test("huberMean survives empty / constant / single-row groups") {
    val hschema = StructType(Seq(StructField("seg", StringType),
      StructField("tie", LongType), StructField("cents", LongType)))
    def hf(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), hschema)
    assertClean(engine.huberMean(hf(Nil), "seg", "tie", "cents"),
      "huber/empty")
    // constant group: MAD = 0 ⇒ h = 0 ⇒ the recursion is a fixpoint
    // at the median — exact, no guard path
    val const = engine.huberMean(
      hf(Seq(("a", 1L, 7L), ("a", 2L, 7L), ("a", 3L, 7L))),
      "seg", "tie", "cents").collect()(0)
    assert(const.getAs[Long]("huber_cents") === 7L)
    assert(const.getAs[Long]("halfwidth_cents") === 0L)
    // single row: median = the value, MAD = 0, huber = the value
    val single = engine.huberMean(hf(Seq(("b", 1L, -42L))),
      "seg", "tie", "cents").collect()(0)
    assert(single.getAs[Long]("huber_cents") === -42L)
  }

  test("detectorAuc survives empty / one-class / single-score frames") {
    val schema = StructType(Seq(StructField("detector", StringType),
      StructField("score_u", LongType), StructField("is_pos", LongType)))
    def sc(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    assertClean(engine.detectorAuc(sc(Nil)), "detectorAuc/empty")
    // all-positive: n_neg = 0 ⇒ auc NULL (never a throw or NaN)
    val allPos = engine.detectorAuc(
      sc(Seq(("d", 3L, 1L), ("d", 5L, 1L)))).collect()
    assert(allPos(0).isNullAt(allPos(0).fieldIndex("auc")))
    assert(allPos(0).getAs[Double]("pr_auc") === 1.0)
    // all-negative: n_pos = 0 ⇒ both NULL
    val allNeg = engine.detectorAuc(
      sc(Seq(("d", 3L, 0L), ("d", 5L, 0L)))).collect()
    assert(allNeg(0).isNullAt(allNeg(0).fieldIndex("auc")))
    assert(allNeg(0).isNullAt(allNeg(0).fieldIndex("pr_auc")))
    // single score value for everything: AUC is the pure-tie 0.5
    val oneScore = engine.detectorAuc(
      sc(Seq(("d", 4L, 1L), ("d", 4L, 0L)))).collect()
    assert(oneScore(0).getAs[Double]("auc") === 0.5)
  }

  test("delongAucCi survives empty / one-class / tiny frames") {
    val schema = StructType(Seq(StructField("detector", StringType),
      StructField("score_u", LongType), StructField("is_pos", LongType)))
    def sc(rows: Seq[(String, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    assertClean(engine.delongAucCi(sc(Nil)), "delong/empty")
    // one-class: auc and CI all NULL, never a throw
    val allPos = engine.delongAucCi(
      sc(Seq(("d", 3L, 1L), ("d", 5L, 1L)))).collect()(0)
    assert(allPos.isNullAt(allPos.fieldIndex("auc")))
    assert(allPos.isNullAt(allPos.fieldIndex("se_auc")))
    assert(allPos.isNullAt(allPos.fieldIndex("ci_lo")))
    // m = 1 (one positive): point AUC defined, variance needs m ≥ 2
    // ⇒ NULL se/CI — (m−1) in the denominator, no throw either way
    val onePos = engine.delongAucCi(
      sc(Seq(("d", 3L, 1L), ("d", 1L, 0L), ("d", 2L, 0L)))).collect()(0)
    assert(onePos.getAs[Double]("auc") === 1.0)
    assert(onePos.isNullAt(onePos.fieldIndex("se_auc")))
    // pure ties everywhere: AUC 0.5, variance 0, CI = [0.5, 0.5]
    val ties = engine.delongAucCi(
      sc(Seq(("d", 4L, 1L), ("d", 4L, 1L), ("d", 4L, 0L),
        ("d", 4L, 0L)))).collect()(0)
    assert(ties.getAs[Double]("auc") === 0.5)
    assert(ties.getAs[Double]("ci_lo") === 0.5
      && ties.getAs[Double]("ci_hi") === 0.5)
  }

  test("delongCompare one-positive/one-negative; newcombe tail side; " +
      "boxcox single positive row (r18 ADVICE)") {
    // delongCompare with m = 1 (one positive pair): the paired
    // variance needs m ≥ 2 — se/z/p read NULL, never a
    // condition-site divide-by-zero (the r18 definition-site guard;
    // the scaladoc claimed this contract untested before).
    val ps = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType), StructField("detector", StringType),
      StructField("score_u", LongType), StructField("is_pos", LongType)))
    def pf(rows: Seq[(Long, Long, String, Long, Long)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), ps)
    val onePos = engine.delongCompare(pf(Seq(
      (1L, 2L, "a", 5L, 1L), (1L, 3L, "a", 2L, 0L),
      (1L, 4L, "a", 3L, 0L),
      (1L, 2L, "b", 4L, 1L), (1L, 3L, "b", 1L, 0L),
      (1L, 4L, "b", 2L, 0L))), "a", "b").collect()(0)
    assert(onePos.getAs[Double]("auc_a") === 1.0)
    assert(onePos.isNullAt(onePos.fieldIndex("se_diff")))
    assert(onePos.isNullAt(onePos.fieldIndex("z")))
    val oneNeg = engine.delongCompare(pf(Seq(
      (1L, 2L, "a", 5L, 1L), (1L, 5L, "a", 6L, 1L),
      (1L, 3L, "a", 2L, 0L),
      (1L, 2L, "b", 4L, 1L), (1L, 5L, "b", 5L, 1L),
      (1L, 3L, "b", 1L, 0L))), "a", "b").collect()(0)
    assert(oneNeg.isNullAt(oneNeg.fieldIndex("z")))
    assertClean(engine.delongCompare(pf(Nil), "a", "b"),
      "delongcmp/empty")
    // Newcombe method 10 at x_t = n_t small-n (p̂_t = 1 ⇒ Wilson
    // u_t = 1 exactly): the WIDER tail must be the LOWER one —
    // radical (p_t−l_t)² + (u_c−p_c)². The r17 transposed form put
    // the wide treatment term in the UPPER radical (and pushed
    // ci_hi above 1 on this input).
    val ns = StructType(Seq("n_c", "n_t", "x_c", "x_t")
      .map(f => StructField(f, LongType)))
    val nc = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(10L, 10L, 3L, 10L)), 1), ns)
    val nr = operators.TimeSeries.newcombeDiffCi(nc).collect()(0)
    val nd = nr.getAs[Double]("diff")
    val nlo = nr.getAs[Double]("ci_lo")
    val nhi = nr.getAs[Double]("ci_hi")
    assert(nd - nlo > (nhi - nd) + 1e-9,
      s"lower tail must be the wide one at p_t = 1: $nr")
    assert(nhi <= 1.0 + 1e-9, s"ci_hi must respect [−1, 1]: $nr")
    assert(nlo <= nd && nd <= nhi)
    // boxCoxLambda with exactly ONE positive row (n = 1 after the
    // y > 0 filter): the va = …/(n−1) ratio now lives inside its
    // when value branch — NULL ll, no ANSI x/0 throw (r18 ADVICE).
    val ys = StructType(Seq(StructField("y", LongType)))
    def yf(rows: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(v => Row(v)), 1), ys)
    val single = engine.boxCoxLambda(yf(Seq(5L)), "y").collect()
    assert(single.length === 5 && single.forall(_.isNullAt(1)),
      "boxcox/single-positive ⇒ NULL ll rows")
    assertClean(engine.boxCoxLambda(yf(Seq(-3L, 7L)), "y"),
      "boxcox/one-positive-after-filter")
  }

  test("burstiness / transitionEntropy / markovStationary survive single-symbol input") {
    val gaps = seriesFrame(Seq((1L, 0L))) // one zero gap: σ+μ = 0
    assertClean(engine.burstiness(gaps, "hr", "n"), "burstiness/zero-gap")
    assertClean(engine.burstiness(sEmpty, "hr", "n"), "burstiness/empty")

    val schema = StructType(Seq(StructField("f", StringType),
      StructField("t", StringType)))
    def tr(rows: Seq[(String, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
    val frames = Seq("empty" -> tr(Nil),
      "self-loop" -> tr(Seq(("a", "a"))),
      "one-transition" -> tr(Seq(("a", "b"))))
    frames.foreach { case (n, f) =>
      assertClean(engine.transitionEntropy(f, "f", "t"), s"transEnt/$n")
      assertClean(engine.markovStationary(f, "f", "t"), s"markov/$n")
    }
  }

  test("an IVF index built from an empty corpus searches to 0 rows and compacts") {
    import spark.implicits._
    val corpus = Seq.empty[(Long, Seq[Double])].toDF("id", "embedding")
    val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(1.0, 1.0))).toDF("cid", "cv")
    val queries = Seq((7L, Seq(0.5, 0.5))).toDF("id", "embedding")
    withTempDir("ivf_empty") { path =>
      assert(engine.buildIvfIndex(corpus, cents, path).count() === 0)
      assert(engine.ivfSearch(path, cents, queries, 5, 2).count() === 0)
      engine.compactIvfIndex(path)
      assert(engine.ivfSearch(path, cents, queries, 5, 2).count() === 0)
    }
  }

  test("connected components converge on long chains and odd shapes") {
    // Each shape has its own id range, so one call checks them all;
    // both the driver finish and the forced distributed rounds run.
    // The 52- and 200-node paths need more than 25 two-hop rounds of
    // label propagation.
    import spark.implicits._
    import graft.operators.GraphOps
    val rnd = new scala.util.Random(17)
    def path(from: Long, n: Int) = (from until from + n - 1).map(i => (i, i + 1))
    val shapes: Seq[(Seq[Long], Seq[(Long, Long)], Long => Long)] = Seq(
      ((1L to 52L), path(1L, 52), _ => 1L),
      ((101L to 300L), path(101L, 200), _ => 101L),
      // a star whose centre is its largest id
      ((401L to 431L), (401L to 430L).map(i => (431L, i)), _ => 401L),
      ((501L to 510L), path(501L, 10) :+ ((510L, 501L)), _ => 501L),
      (Seq(601L), Seq((601L, 601L)), _ => 601L),
      ((701L to 703L), Seq((701L, 702L), (702L, 701L), (701L, 702L), (703L, 702L)),
        _ => 701L),
      (Seq(801L, 802L), Nil, identity),
      // 900 and -1 are outside `ids`: they must not join 901..903
      (Seq(901L, 902L, 903L), Seq((901L, 900L), (900L, 902L), (-1L, 903L),
        (902L, -1L)), identity))
    val ids = shapes.flatMap(_._1)
    val pairs = rnd.shuffle(shapes.flatMap(_._2).map { case (a, b) =>
      (Option(a), Option(b)) } ++ Seq((None, Some(901L)), (Some(902L), None)))
    val expected = shapes.flatMap { case (ns, _, c) => ns.map(n => n -> c(n)) }
      .sorted
    val idsDf = ids.toDF("id")
    val pairsDf = pairs.toDF("src", "dst")
    for (localEdges <- Seq(GraphOps.LocalEdges, 0L)) {
      val got = GraphOps.connectedComponents(idsDf, pairsDf, localEdges)
      assert(got.schema("comp").dataType === LongType)
      assert(got.as[(Long, Long)].collect().sorted.toSeq === expected,
        s"localEdges = $localEdges")
      val empty = GraphOps.connectedComponents(idsDf,
        Seq.empty[(Long, Long)].toDF("src", "dst"), localEdges)
      assert(empty.as[(Long, Long)].collect().sorted.toSeq ===
        ids.sorted.map(i => (i, i)), s"no pairs, localEdges = $localEdges")
    }
    intercept[IllegalArgumentException](GraphOps.connectedComponents(
      Seq("a", "b").toDF("id"), Seq(("a", "b")).toDF("src", "dst")))
  }
}
