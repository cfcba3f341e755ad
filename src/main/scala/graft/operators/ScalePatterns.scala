package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData
import graft.TestData.r4
import graft.sources.WriteOnce
import graft.withConf
import org.apache.spark.network.util.JavaUtils

/** Scale-pattern operators: the shuffle-shaping techniques a 100 TB
  * deployment leans on, each oracle-checked for exactness.
  *
  *   - Salting: a skewed groupBy key (events are dominated by a few
  *     event types at production scale) is split into `key × salt`
  *     partial groups so no single reducer owns a hot key; a second
  *     tiny aggregation merges the partials. Associative aggregates
  *     (count/sum) make the two-phase form exact.
  *   - Bucketing: both join sides are written bucketed by the join
  *     key into the session warehouse; the join then plans with NO
  *     shuffle exchange on either side (asserted in PlanSpec) — at
  *     scale this is the difference between a co-located merge and
  *     re-shuffling 100 TB per join.
  */
object ScalePatterns {
  type Q = (SparkSession, String) => DataFrame

  /** Make a bucketed catalog table over `df` — `table` of `sfDir`,
    * bucketed by `key` — available and return its name (`base` plus
    * the input's hash). The files live in the session warehouse and
    * are rewritten only when `WriteOnce.ensure` finds no committed
    * write for the same input; a catalog (in-memory, per-session)
    * that forgot the table gets the existing directory re-registered
    * as an external bucketed table, with no rewrite.
    */
  private def ensureBucketedTable(s: SparkSession, base: String, key: String,
      sfDir: String, table: String)(df: => DataFrame): String = synchronized {
    val name = WriteOnce.tagged(base, sfDir, table)
    val loc = new java.io.File(
      new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, name)
    WriteOnce.ensure(loc.getAbsolutePath, WriteOnce.inputTag(sfDir, table)) {
      s.sql(s"DROP TABLE IF EXISTS $name")
      JavaUtils.deleteQuietly(loc)
      df.write.mode("overwrite").bucketBy(8, key).sortBy(key)
        .saveAsTable(name)
    }
    if (!s.catalog.tableExists(name))
      s.sql(s"""CREATE TABLE $name (${df.schema.toDDL})
               |USING PARQUET
               |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
               |LOCATION '${loc.getAbsolutePath}'""".stripMargin)
    name
  }

  /** Scoped AQE-skew-join configuration: thresholds scaled from the
    * 256 MB production default down to fixture-sized partitions so
    * the skew split actually exercises at sf0.001–0.1; broadcast is
    * disabled for the scope (a broadcast join would hide the skew
    * machinery this key demonstrates).
    */
  private[graft] def withSkewJoinConf[T](s: SparkSession)(body: => T): T =
    withConf(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256b",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256b",
      // apply the split even where it inserts an extra shuffle — the
      // demonstration must fire at every fixture scale
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** The forced-skew join behind `join_skew_aqe` (exposed for
    * PlanSpec): 75 % of events collapse onto one hot key, SMJ pinned
    * by hint so AQE's OptimizeSkewedJoin (not a broadcast) is the
    * remedy under test.
    */
  private[graft] def skewAqeJoin(s: SparkSession, d: String): DataFrame = {
    // AQE splits a skewed REDUCE partition along its MAP-output
    // chunks — a single-file fixture scan is one map task, which is
    // unsplittable. The explicit repartition stands in for the
    // thousands of scan tasks a real table has; at 100 TB it is
    // unnecessary (and would be dropped).
    val facts = TestData.events(s, d)
      .repartition(16, col("event_id"))
      .select(when(expr("event_id % 4 != 0"), lit(1L))
          .otherwise(col("user_id")).as("k"),
        col("value"))
    val dim = TestData.customer(s, d).select("c_custkey", "c_mktsegment")
    facts.join(dim.hint("merge"), col("k") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
  }

  val defs: Map[String, Q] = Map(
    "agg_skew_salted" -> ((s, d) => {
      val salted = TestData.events(s, d)
        .withColumn("salt", pmod(col("user_id"), lit(16)))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"), sum("value").as("pv"))
      salted.groupBy("event_type")
        .agg(sum("pn").as("n"), r4(sum("pv")).as("sum_value"))
        .orderBy("event_type")
    }),

    "join_bucketed_colocated" -> ((s, d) => {
      // Bucketed tables live in the session warehouse. Rewriting them
      // per invocation inflated bench totals ~2 s; the tables are a
      // pure function of the fixture, so reuse committed buckets for
      // the same input (re-registering the external table when the
      // in-memory catalog forgot it across sessions) and rewrite only
      // when the input sf dir changed.
      // Table name carries a short hash of the input tag so the
      // sf0.01 (Verify) and sf0.1 (Bench) bucket sets coexist in the
      // warehouse instead of evicting each other every round.
      val oName = ensureBucketedTable(s, "graft_orders_b", "o_custkey", d, "orders")(
        TestData.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"))
      val cName = ensureBucketedTable(s, "graft_customer_b", "c_custkey", d, "customer")(
        TestData.customer(s, d).select("c_custkey", "c_mktsegment"))
      // merge hint: pin SMJ so the plan demonstrates bucketed
      // co-location (no exchange, no sort — PlanSpec) instead of a
      // broadcast that would hide it.
      s.table(oName).hint("merge")
        .join(s.table(cName),
              col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), r4(sum("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // Deterministic hash sampling: keep a row iff the first hex byte
    // of md5(primary key) is below the rate threshold (0x0d/0x100 ≈
    // 5 %). Unlike rand()-based TABLESAMPLE this is reproducible
    // across engines, runs, AND cluster sizes — the only sampling
    // discipline usable in a verified training-data pipeline; the
    // filter is map-side, so sampling 100 TB costs one scan.
    // TWO-STAGE CLUSTER SAMPLE (round 13): the survey-sampling
    // workhorse for when element frames are too big to touch — stage
    // 1 selects whole nations (primary sampling units) at ~40% by a
    // salted md5 on the CLUSTER key, stage 2 subsamples customers
    // within selected nations at ~25% by a differently-salted md5 on
    // the ELEMENT key (distinct salts keep the stages independent;
    // same-key hashes would correlate them). Both predicates are
    // map-side CASE-free filters — content-derived, reproducible
    // across engines/runs/cluster sizes, no driver-side PSU list —
    // and the readout is one nation-grain aggregate. The design
    // weight is the constant 1/(0.4·0.25) = 10 (documented, not a
    // column). Output: per-PSU frame totals vs stage-2 takes.
    "sample_two_stage" -> ((s, d) =>
      TestData.customer(s, d)
        .select(col("c_nationkey").cast("long").as("nationkey"),
          col("c_custkey"))
        .filter(substring(md5(concat(lit("n1|"),
          col("nationkey").cast("string"))), 1, 2) < "66")
        .groupBy("nationkey")
        .agg(count(lit(1)).as("total_customers"),
          sum(when(substring(md5(concat(lit("c2|"),
            col("c_custkey").cast("string"))), 1, 2) < "40", 1L)
            .otherwise(0L)).as("sampled_customers"))
        .orderBy("nationkey")),

    "sample_hash" -> ((s, d) =>
      TestData.lineitem(s, d)
        .filter(substring(md5(concat_ws("|",
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"))), 1, 2) < "0d")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        // (l_orderkey, l_linenumber) is NOT unique in the fixture —
        // sort by every output column for a total order.
        .orderBy("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")),

    // STRATIFIED hash sampling: per-stratum rates (here: keep 50 % of
    // the dominant 'en' documents, 12.5 % of every minority language —
    // the rebalancing pass a multilingual training mix runs) with the
    // same deterministic md5-prefix discipline as sample_hash —
    // reproducible across engines, runs, and cluster sizes, and still
    // one map-side scan (the rate lookup is a CASE, not a join).
    "sample_stratified" -> ((s, d) =>
      TestData.documents(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) <
          when(col("lang") === "en", lit("80")).otherwise(lit("20")))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // SYSTEMATIC (every-k-th) SAMPLING (round 13): the ordered
    // sampling discipline the hash family cannot express — every
    // 10th document per language in doc_id order, the equal-spacing
    // guarantee a curriculum/eval slice wants (hash sampling
    // clusters by chance; systematic sampling NEVER takes two
    // adjacent rows). Rank via Curation.rangedRank — bounded task
    // size at any language skew, bit-identical to the monolithic
    // window (no single-task sort; the dedup_sorted_neighborhood
    // discipline) — then one map-side rk % 10 = 1 filter. Output
    // carries the rank so the caller can verify the spacing.
    "sample_systematic" -> ((s, d) => {
      val ranked = graft.operators.Curation.rangedRank(
        TestData.documents(s, d).select("doc_id", "lang"),
        "lang", Seq(col("doc_id")), "rk")
      ranked.filter(col("rk") % 10 === 1)
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "doc_id")
    }),

    // HORVITZ-THOMPSON ESTIMATOR (round 14): the unequal-probability
    // companion the sample_* family was missing — every sampler here
    // DRAWS deterministically, but nothing yet ESTIMATED a population
    // total from a weighted draw. Design: equal-allocation strata
    // π_h = min(1, K/N_h), K = 30 docs per lang (oversamples rare
    // languages — the multilingual-rebalance draw), inclusion via
    // the exact integer test h28·N_h < K·2^28 on the md5-28-bit hash
    // (sample_hash discipline: reproducible across engines, runs,
    // cluster sizes). HT total = Σ y_i/π_i, kept EXACT: strata with
    // N_h ≤ K are full-census (estimate ≡ truth, the built-in
    // self-check pinned in PropertySpec); sampled strata accumulate
    // Σ y·N_h as BIGINT with ONE integer DIV K on the readout.
    // Bound: y·N_h ≤ max_chars·N_h — document past ~1e6-char docs ×
    // 1e9-doc strata. One map-side scan + a strata-sized aggregate.
    "sample_horvitz_thompson" -> ((s, d) => {
      val k = 30L
      val docs = TestData.documents(s, d)
        .select("doc_id", "lang", "n_chars")
      val nh = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_pop"),
          sum("n_chars").as("true_total_chars"))
      docs.join(broadcast(nh), "lang")
        .withColumn("h28",
          conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
            .cast("long"))
        .withColumn("sampled", col("n_pop") <= k
          || col("h28") * col("n_pop") < lit(k * (1L << 28)))
        .groupBy("lang")
        .agg(max("n_pop").as("n_pop"),
          max("true_total_chars").as("true_total_chars"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("sampled") && col("n_pop") > k,
            col("n_chars") * col("n_pop")).otherwise(0L)).as("wsum"),
          sum(when(col("sampled") && col("n_pop") <= k, col("n_chars"))
            .otherwise(0L)).as("censum"))
        .withColumn("ht_total_chars",
          expr(s"wsum DIV $k") + col("censum"))
        .withColumn("rel_err", when(col("true_total_chars") > 0,
          TestData.r4((col("ht_total_chars") - col("true_total_chars"))
            .cast("double") / col("true_total_chars").cast("double"))))
        .select("lang", "n_pop", "n_sampled", "ht_total_chars",
          "true_total_chars", "rel_err")
        .orderBy("lang")
    }),

    // TRAIN/VAL/TEST SPLIT (round 7): the 80/10/10 split every
    // training pipeline runs, with the same deterministic md5
    // discipline as sample_hash — a document's split is a pure
    // function of its id (byte bucket < 204 / < 230 / rest of 256),
    // so the split reproduces across engines, runs, cluster sizes,
    // AND incremental corpus growth (new docs never move old docs
    // between splits — the property rand()-based splits lose). One
    // map-side scan + a strata-sized aggregate.
    "sample_train_split" -> ((s, d) =>
      TestData.documents(s, d)
        .withColumn("u",
          conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
            .cast("int"))
        .withColumn("split",
          when(col("u") < 204, "train")
            .when(col("u") < 230, "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"))
        .orderBy("split", "lang")),

    // WEIGHTED (Poisson/Bernoulli) sampling: keep each order with
    // probability ∝ its weight (o_totalprice) — the importance-
    // sampling discipline a data-mixing pipeline uses to up-weight
    // rare high-value strata without a shuffle. Same deterministic
    // md5 machinery as sample_hash, but the 28-bit uniform is
    // compared against an integer PER-ROW threshold floor(w·2^28/W):
    // inclusion is an exact integer comparison (no transcendental, no
    // float boundary), reproducible across engines/runs/cluster
    // sizes, and still one map-side scan at 100 TB.
    "sample_weighted" -> ((s, d) =>
      TestData.orders(s, d)
        .withColumn("u28",
          conv(substring(md5(col("o_orderkey").cast("string")), 1, 7),
            16, 10).cast("long"))
        // 2^28 / 4e6 = 67.108864: a ~150k-mean weight keeps ~3.5 %.
        .filter(col("u28") <
          floor(col("o_totalprice") * lit(67.108864)).cast("long"))
        .select(col("o_orderkey"), col("o_totalprice").as("weight"),
          col("u28"))
        .orderBy("o_orderkey")),

    // EXACT-k WEIGHTED SAMPLING WITHOUT REPLACEMENT (round 12,
    // Efraimidis–Spirakis): the missing member of the sampling
    // family — sample_weighted is Bernoulli (random output size);
    // this draws EXACTLY k rows with inclusion probability ∝ weight.
    // Per row: u = (u28+1)/2^28 from the same md5 machinery (never
    // 0, so ln is defined), E-S key u^(1/w) compared in LOG space —
    // ln(u)/w, nano-quantized at the definition site (ln(u)/w spans
    // ~1e-6..1e-3 at fixture weights; micro units would collapse
    // ranks — the one transcendental, mirrored op-for-op; ties break
    // on the unique id). Top-k via sort+limit (TakeOrderedAndProject
    // — one map-side key computation + a k-row heap per partition at
    // any corpus size, never a corpus-grain rank window). w ≤ 0 rows
    // are dropped at the definition site (ln(u)/w undefined — stated,
    // mirrored). Higher weight ⇒ rank never worse on the same
    // uniform: pinned in ClosedFormProps.
    "sample_weighted_topk" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      TestData.orders(s, d)
        .filter(col("o_totalprice") > 0)
        .withColumn("u28",
          conv(substring(md5(col("o_orderkey").cast("string")), 1, 7),
            16, 10).cast("long"))
        .withColumn("key_n",
          floor(log((col("u28") + 1).cast("double") / lit(268435456.0))
            / col("o_totalprice") * 1000000000 + 0.5).cast("long"))
        .orderBy(col("key_n").desc, col("o_orderkey"))
        .limit(20)
        .withColumn("rk", row_number().over(
          W.orderBy(col("key_n").desc, col("o_orderkey"))))
        .select(col("rk"), col("o_orderkey"),
          col("o_totalprice").as("weight"), col("key_n"))
        .orderBy("rk")
    }),

    // Salted join: the skew remedy when BOTH join sides are too large
    // to broadcast and a hot key would pin one reducer. The fact side
    // carries salt = pmod(row id, S); the other side is replicated
    // ×S via a tiny explode, so the hot key's rows spread across S
    // reducers. Exact for any join + associative aggregate. (AQE's
    // skewedJoin does this adaptively; the explicit form is the
    // contract that it stays exact.)
    "join_skew_salted" -> ((s, d) => {
      val S = 8
      val facts = TestData.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(S)))
      val dim = TestData.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          explode(array((0 until S).map(lit(_)): _*)).as("rep"))
      facts.join(dim.hint("shuffle_hash"),
          col("user_id") === col("c_custkey") && col("salt") === col("rep"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
        .orderBy("c_mktsegment")
    }),

    // AQE SKEW JOIN (round 8): the zero-code alternative to the
    // manual salt above — Spark's adaptive engine detects the
    // oversized shuffle partition at runtime and splits it across
    // tasks (exact: each split joins against a replicated read of the
    // dim side's matching partition, precisely what the salt does by
    // hand). The fixture forces a hot key (75 % of events collapse
    // onto user 1) and the thresholds scale the 256 MB production
    // default down to fixture bytes; result is config-independent, so
    // the oracle is the plain join. Materialized via localCheckpoint
    // INSIDE the scoped conf (AQE decides at execution time — a lazy
    // return would run under whatever conf the caller holds);
    // PlanSpec pins the skew=true split on the pre-checkpoint plan.
    "join_skew_aqe" -> ((s, d) =>
      withSkewJoinConf(s) { skewAqeJoin(s, d).ckpt() }
        .orderBy("c_mktsegment")),

    // BUCKETED interval join: the scale shape for temporal range
    // joins. A raw `p.ts BETWEEN s.ts AND s.ts + w` condition can't
    // equi-partition, so Spark plans it as a nested-loop per key; the
    // fix is to quantize time into w-wide buckets — each interval
    // spans at most 2 buckets, the left side emits both, the right
    // side emits one, and the join becomes an EQUI join on
    // (user, bucket) with the exact range predicate as a residual.
    // Every matching pair shares exactly one (bucket from the left's
    // two) with the right row, so no pair is duplicated and none is
    // lost — the oracle runs the plain unbucketed join. Output sums
    // integer microsecond delays: exact.
    "join_interval_bucketed" -> ((s, d) => {
      val B = 600L * 1000000L // bucket width = the 10-min window, in µs
      val ev = TestData.events(s, d)
      val sg = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("u"), col("ts").as("signup_ts"))
        .withColumn("b", explode(array(
          expr(s"unix_micros(signup_ts) DIV $B"),
          expr(s"unix_micros(signup_ts) DIV $B + 1"))))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"))
        .withColumn("pb", expr(s"unix_micros(purchase_ts) DIV $B"))
      sg.join(pu.hint("shuffle_hash"),
          col("u") === col("user_id") && col("b") === col("pb")
            && col("purchase_ts") >= col("signup_ts")
            && col("purchase_ts") <= col("signup_ts")
                 + expr("INTERVAL 10 MINUTES"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(unix_micros(col("purchase_ts"))
            - unix_micros(col("signup_ts"))).as("sum_delay_us"))
    }),

    // Bloom-filter semi-join reduction: a KB-scale filter built from
    // the selective dim side's keys kills non-joining fact rows
    // MAP-SIDE, before the shuffle — at 100 TB this is the difference
    // between shuffling the whole fact table and shuffling the ~1 %
    // that joins. Sound (no false negatives): the exact join after
    // the probe makes the result identical to the unfiltered join,
    // which is exactly what the oracle runs.
    "join_bloom_prefilter" -> ((s, d) => {
      import org.apache.spark.sql.graft.Bridge
      val rich = TestData.customer(s, d).filter(col("c_acctbal") > 9000.0)
        .select("c_custkey")
      val bloom = graft.functions.BloomMightContain.serialize(
        rich.stat.bloomFilter("c_custkey", 20000, 0.03))
      val probe = Bridge.column(graft.functions.BloomMightContain(
        Bridge.expression(col("o_custkey")), bloom))
      TestData.orders(s, d).filter(probe)
        .join(rich.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n"), r4(sum("o_totalprice")).as("revenue"))
    })
  )

  val oracles: Map[String, String] = Map(
    "agg_skew_salted" ->
      """SELECT event_type, count(*) AS n,
        |  floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // AQE's skew split is exact — the oracle is the plain join over
    // the same forced-skew key remap.
    "join_skew_aqe" ->
      """WITH f AS (
        |  SELECT CASE WHEN event_id % 4 <> 0 THEN 1 ELSE user_id END AS k,
        |    value
        |  FROM events)
        |SELECT c_mktsegment, count(*) AS n,
        |  floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM f JOIN customer ON k = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_bucketed_colocated" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  floor((sum(o_totalprice))*10000 + 0.5)/10000 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // Salted md5 per stage: 'n1|' on the cluster key, 'c2|' on the
    // element key.
    "sample_two_stage" ->
      """SELECT c_nationkey::BIGINT AS nationkey,
        |  count(*)::BIGINT AS total_customers,
        |  sum(CASE WHEN substring(md5('c2|' || c_custkey::VARCHAR), 1, 2)
        |    < '40' THEN 1 ELSE 0 END)::BIGINT AS sampled_customers
        |FROM customer
        |WHERE substring(md5('n1|' || c_nationkey::BIGINT::VARCHAR), 1, 2)
        |  < '66'
        |GROUP BY 1 ORDER BY nationkey""".stripMargin,
    "sample_hash" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE substring(md5(concat_ws('|', l_orderkey::VARCHAR,
        |  l_linenumber::VARCHAR)), 1, 2) < '0d'
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(doc_id::VARCHAR), 1, 2)
        |  < CASE WHEN lang = 'en' THEN '80' ELSE '20' END
        |ORDER BY doc_id""".stripMargin,
    // Exact integer inclusion test + one // K on the readout;
    // full-census strata bypass the hash entirely.
    "sample_horvitz_thompson" ->
      """WITH nh AS (
        |  SELECT lang, count(*)::BIGINT AS n_pop,
        |    sum(n_chars)::BIGINT AS true_total_chars
        |  FROM documents GROUP BY 1),
        |f AS (
        |  SELECT d.lang, d.n_chars, nh.n_pop, nh.true_total_chars,
        |    CASE WHEN nh.n_pop <= 30
        |      OR ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 7))::BIGINT
        |         * nh.n_pop < 30 * (1::BIGINT << 28)
        |      THEN 1 ELSE 0 END AS sampled
        |  FROM documents d JOIN nh USING (lang)),
        |agg AS (
        |  SELECT lang, max(n_pop)::BIGINT AS n_pop,
        |    max(true_total_chars)::BIGINT AS true_total_chars,
        |    sum(sampled)::BIGINT AS n_sampled,
        |    sum(CASE WHEN sampled = 1 AND n_pop > 30
        |      THEN n_chars * n_pop ELSE 0 END)::BIGINT AS wsum,
        |    sum(CASE WHEN sampled = 1 AND n_pop <= 30
        |      THEN n_chars ELSE 0 END)::BIGINT AS censum
        |  FROM f GROUP BY 1),
        |ht AS (
        |  SELECT *, (wsum // 30 + censum)::BIGINT AS ht_total_chars
        |  FROM agg)
        |SELECT lang, n_pop, n_sampled, ht_total_chars, true_total_chars,
        |  CASE WHEN true_total_chars > 0 THEN
        |    floor((ht_total_chars - true_total_chars)::DOUBLE
        |      / true_total_chars::DOUBLE * 10000 + 0.5) / 10000
        |  END AS rel_err
        |FROM ht ORDER BY lang""".stripMargin,
    // Monolithic per-lang rank (bit-identical to rangedRank by
    // construction), same % 10 pick.
    "sample_systematic" ->
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang ORDER BY doc_id)::BIGINT AS rk
        |  FROM documents)
        |WHERE rk % 10 = 1 ORDER BY lang, doc_id""".stripMargin,
    "sample_train_split" ->
      """WITH s AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 2))::INT < 204
        |      THEN 'train'
        |    WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 2))::INT < 230
        |      THEN 'val' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM s GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "sample_weighted" ->
      """SELECT o_orderkey, o_totalprice AS weight,
        |  ('0x' || substring(md5(o_orderkey::VARCHAR), 1, 7))::BIGINT AS u28
        |FROM orders
        |WHERE ('0x' || substring(md5(o_orderkey::VARCHAR), 1, 7))::BIGINT
        |  < floor(o_totalprice * 67.108864)::BIGINT
        |ORDER BY o_orderkey""".stripMargin,
    // Same md5 uniform, E-S key in log space nano-quantized, top-20.
    "sample_weighted_topk" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_totalprice AS weight,
        |    ('0x' || substring(md5(o_orderkey::VARCHAR), 1, 7))::BIGINT
        |      AS u28
        |  FROM orders WHERE o_totalprice > 0),
        |k AS (
        |  SELECT o_orderkey, weight,
        |    floor(ln((u28 + 1)::DOUBLE / 268435456.0)
        |      / weight * 1000000000 + 0.5)::BIGINT AS key_n
        |  FROM t),
        |top AS (
        |  SELECT * FROM k ORDER BY key_n DESC, o_orderkey LIMIT 20)
        |SELECT row_number() OVER (ORDER BY key_n DESC, o_orderkey) AS rk,
        |  o_orderkey, weight, key_n
        |FROM top ORDER BY rk""".stripMargin,
    "join_skew_salted" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_interval_bucketed" ->
      """SELECT count(*)::BIGINT AS n_pairs,
        |  sum(epoch_us(p.ts) - epoch_us(s.ts))::BIGINT AS sum_delay_us
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON s.user_id = p.user_id
        |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 10 MINUTE""".stripMargin,
    "join_bloom_prefilter" ->
      """SELECT count(*) AS n,
        |  floor((sum(o_totalprice))*10000 + 0.5)/10000 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000.0""".stripMargin
  )
}
