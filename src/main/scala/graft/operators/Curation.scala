package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData
import graft.TestData.r4

/** Training-data curation operators — the cleaning/selection passes a
  * corpus goes through between crawling and training ("building a very
  * large dataset", /root/reference/README.md:2; dedup/text-analysis
  * mandate, BASELINE.json:6): benchmark
  * decontamination, repetition-based quality filtering, PII
  * redaction, and the language-mix manifest that decides per-stratum
  * sampling rates.
  *
  * Scale shapes: decontamination broadcasts the (tiny) benchmark
  * shingle set and stays map-side on the corpus; repetition and PII
  * are one-pass map-side scans; the mix manifest is a language-sized
  * aggregate joined back as a broadcast.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  /** URL canonicalization as a reusable Column function (the
    * `dedup_url_canonical` core; also exposed as
    * `GraftEngine.canonicalizeUrl`): lowercase scheme+host, strip the
    * scheme's OWN default port (:443 for https, :80 for http — a
    * scheme-blind strip would conflate `http://host:443/`, a real
    * non-default port, with `http://host/`), drop utm_* tracking
    * params, sort the rest, drop the fragment. Pure map-side string
    * work.
    */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nofrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(nofrag, "^([a-zA-Z]+)://", 1))
    val host0 = lower(regexp_extract(nofrag, "^[a-zA-Z]+://([^/?#]+)", 1))
    val host = when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .otherwise(host0)
    val path = regexp_extract(nofrag, "://[^/?#]+(/[^?#]*)", 1)
    val q = regexp_extract(nofrag, "\\?([^#]*)", 1)
    val qs = array_join(
      array_sort(filter(split(q, "&"),
        p => substring(p, 1, 4) =!= "utm_" && p =!= "")), "&")
    concat(scheme, lit("://"), host, path,
      when(qs =!= "", concat(lit("?"), qs)).otherwise(lit("")))
  }

  private def shingles(text: org.apache.spark.sql.Column, k: Int) = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.WordShingles(
      Bridge.expression(text), Bridge.expression(lit(k))))
  }

  /** EXCLUSIVE running sum of `valCol` in (`partCol`, `orderCol`)
    * order as a HIERARCHICAL prefix sum, so no partition value (a
    * heavily skewed key like language) ever funnels through one task:
    *
    *  1. shard each partition into contiguous `orderCol` ranges
    *     (`orderCol DIV docsPerShard` — contiguity is what lets a
    *     constant per-shard offset reconstruct the global prefix; a
    *     mod-S shard could not);
    *  2. per-(part, shard) exclusive window cumsum — full parallelism,
    *     |parts|·|shards| tasks;
    *  3. per-shard totals (shard-count-sized aggregate), exclusive
    *     cumsum of those per part — a window over the TINY totals
    *     table;
    *  4. join the shard offsets back and add.
    *
    * Output is bit-identical to the monolithic
    * `Window.partitionBy(partCol).orderBy(orderCol)` cumsum (integer
    * addition is associative), which is exactly what the unchanged
    * DuckDB oracle computes. `docsPerShard` bounds task size; the
    * default is small so multi-shard reconstruction is genuinely
    * exercised on the 500-doc fixture (≈8 shards/lang) — at 100 TB
    * set it so shard count stays broadcast-sized
    * (e.g. 1M docs/shard ⇒ ~50k shards for 5e10 docs) while each
    * window task stays in memory.
    */
  private[graft] def shardedPrefixSum(
      df: DataFrame, partCol: String, orderCol: String, valCol: String,
      outCol: String, docsPerShard: Long = 64L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val sharded = df.withColumn("gpfx_shard",
      expr(s"$orderCol DIV $docsPerShard"))
    val wLocal = W.partitionBy(partCol, "gpfx_shard").orderBy(orderCol)
      .rowsBetween(W.unboundedPreceding, -1)
    val local = sharded.withColumn("gpfx_local",
      coalesce(sum(col(valCol)).over(wLocal), lit(0L)))
    val wShard = W.partitionBy(partCol).orderBy("gpfx_shard")
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col(partCol), col("gpfx_shard"))
      .agg(sum(col(valCol)).as("gpfx_tot"))
      .withColumn("gpfx_off", coalesce(sum(col("gpfx_tot")).over(wShard), lit(0L)))
      .select(col(partCol), col("gpfx_shard"), col("gpfx_off"))
    local.join(broadcast(offsets), Seq(partCol, "gpfx_shard"))
      .withColumn(outCol, col("gpfx_off") + col("gpfx_local"))
      .drop("gpfx_shard", "gpfx_local", "gpfx_off")
  }

  /** Global `row_number()` within `partCol` (ordered by `orderCols`)
    * WITHOUT a per-partition-value single-task sort — the rank-shaped
    * sibling of [[shardedPrefixSum]], for skewed partition keys (a
    * handful of languages over a 100 TB corpus):
    *
    *  1. `repartitionByRange` on (`partCol` ++ `orderCols`): every
    *     task holds a contiguous slice of the GLOBAL sort order, so a
    *     per-slice constant offset reconstructs the global rank (a
    *     hash shard could not);
    *  2. local `row_number` per (`partCol`, range id) — full
    *     parallelism, bounded task size regardless of key skew;
    *  3. per-(part, range) row counts, exclusive cumsum per part — a
    *     window over the TINY ranges-sized table;
    *  4. broadcast the offsets back and add.
    *
    * Bit-identical to the monolithic
    * `row_number().over(Window.partitionBy(partCol).orderBy(orderCols))`
    * PROVIDED (`partCol` ++ `orderCols`) is a total order (callers
    * append a unique tie-break — same contract the monolithic window
    * needs for determinism anyway): range boundaries then never split
    * equal keys, and rank arithmetic is exact integer addition. The
    * range id is `spark_partition_id()` AFTER the range exchange —
    * stable across task retries because boundary sampling is
    * deterministic (fixed per-partition seeds) and row→range
    * assignment is a pure function of the key; both consumers read
    * the SAME exchange (ReuseExchange dedupes the identical subtree).
    * Output rank is BIGINT. `numRanges` defaults to
    * `defaultParallelism`; at 100 TB size it like shuffle partitions
    * (rows/range bounded by task memory, ranges-table broadcastable).
    */
  private[graft] def rangedRank(
      df: DataFrame, partCol: String,
      orderCols: Seq[org.apache.spark.sql.Column], outCol: String,
      numRanges: Int = 0): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val n = if (numRanges > 0) numRanges
            else df.sparkSession.sparkContext.defaultParallelism
    // Materialize the partition-tagged frame ONCE: the local-rank
    // window and the offsets aggregate are two branches over it, and
    // un-checkpointed each re-runs the full upstream (scan + sort key
    // + range shuffle) — the self-join-recompute trap. One
    // materialization ≈ one shuffle write at any scale; the two
    // recomputed corpus passes it replaces cost more.
    val parted = df.repartitionByRange(n, (col(partCol) +: orderCols): _*)
      .withColumn("grr_pid", spark_partition_id())
      .ckpt()
    val wLocal = W.partitionBy(col(partCol), col("grr_pid"))
      .orderBy(orderCols: _*)
    val local = parted.withColumn("grr_local",
      row_number().over(wLocal).cast("long"))
    val wOff = W.partitionBy(partCol).orderBy("grr_pid")
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = parted.groupBy(col(partCol), col("grr_pid"))
      .agg(count(lit(1)).as("grr_n"))
      .withColumn("grr_off", coalesce(sum("grr_n").over(wOff), lit(0L)))
      .select(col(partCol), col("grr_pid"), col("grr_off"))
    local.join(broadcast(offsets), Seq(partCol, "grr_pid"))
      .withColumn(outCol, col("grr_off") + col("grr_local"))
      .drop("grr_pid", "grr_local", "grr_off")
  }

  /** Exact-substring dedup spans over a (doc_id, text) table: maximal
    * runs of `k`-token windows whose content appears in ≥ 2 distinct
    * documents, as 1-based token spans of length ≥ `minSpan`. Shape:
    * window-hash explode → hash groupBy (dup iff ≥ 2 distinct docs) →
    * join back → per-doc gaps-and-islands merge (windows ≤ k apart
    * fuse). The suffix-array formulation this approximates is
    * single-machine; window hashing is the shuffle-native equivalent
    * and exact for duplicated substrings ≥ k tokens. Integer
    * positions end to end. Output: (doc_id, span_start, span_end,
    * span_len, n_windows), unordered — callers sort.
    */
  def substringSpans(documents: DataFrame, k: Int, minSpan: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val W = org.apache.spark.sql.expressions.Window
    // Window hashes come from the one-pass WindowHashes expression
    // (60-bit md5-prefix folds; the HOF slice→join→md5 chain paid an
    // interpreted lambda stack per window) — 8-byte join keys instead
    // of 32-byte hex strings on the shuffle, same values in DuckDB.
    val wins = documents
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(Bridge.column(
        graft.functions.WindowHashes(
          Bridge.expression(col("toks")), Bridge.expression(lit(k))))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("h"))
    val dup = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val hits = wins.join(dup, "h").select("doc_id", "p")
    val wDoc = W.partitionBy("doc_id").orderBy("p")
    hits
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(wDoc) > k, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        wDoc.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .withColumn("span_len", col("span_end") - col("span_start") + 1)
      .filter(col("span_len") >= minSpan)
      .select("doc_id", "span_start", "span_end", "span_len", "n_windows")
  }

  /** Randomized-response debiasing core (see `privacy_rr_estimate`):
    * input one row per unit with (`user_id`, `truth` 0/1, `variant`);
    * `flipNum` of 2^28 is the flip probability (must stay < 2^27 so
    * 2p − 1 > 0 and the estimator is defined). Shared by the
    * declared key and `GraftEngine.rrEstimate`.
    */
  private[graft] def rrEstimate(users: DataFrame,
                                flipNum: Long): DataFrame = {
    require(flipNum >= 0 && flipNum < 134217728L,
      "flip probability must be < 1/2 (flipNum < 2^27)")
    val p = 1.0 - flipNum.toDouble / 268435456.0
    val flip = conv(substring(md5(concat(lit("rr|"),
      col("user_id").cast("string"))), 1, 7), 16, 10)
      .cast("long") < flipNum
    users
      .withColumn("reported",
        when(flip, lit(1L) - col("truth")).otherwise(col("truth")))
      .groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum("reported").as("n_reported"))
      .withColumn("ph", col("n_reported").cast("double")
        / col("n_users").cast("double"))
      .select(col("variant"), col("n_users"), col("n_reported"),
        r4(col("ph")).as("p_hat"),
        r4((col("ph") - lit(1.0 - p)) / lit(2.0 * p - 1.0)).as("pi_est"),
        r4(sqrt(col("ph") * (lit(1.0) - col("ph"))
            / col("n_users").cast("double")) / lit(2.0 * p - 1.0))
          .as("se"))
      .orderBy("variant")
  }

  /** Raking / iterative proportional fitting core (see
    * `sample_raking_ipf`): input a (row_key, col_key, cnt) cell
    * table; 3 unrolled rounds (row, col, row) scale integer MICRO
    * weights so both marginals approach UNIFORM targets (the
    * balancing spec a training mix runs to equalize strata). All
    * arithmetic is non-negative integer DIV in micro units: mass
    * m = cnt·w_u, factor = (target·1e6) DIV marginal-sum, w' =
    * w·factor DIV 1e6 — deterministic in both engines, and a row
    * round leaves every row marginal within DIV truncation of its
    * target (pinned in ClosedFormProps). Bounds: cnt·w_u ≤ ~2^43 at
    * fixture scale; document at 1e9+ cells, scale to milli units.
    */
  private[graft] def rakeIpf(cells: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    var t = cells.withColumn("w_u", lit(1000000L)).ckpt()
    // tt/nr/nc from the CHECKPOINTED cell table, itself checkpointed
    // (r19): `tot` is crossJoin-broadcast once per round, and each
    // broadcast build previously re-ran the whole upstream `cells`
    // aggregate (a corpus pass in the declared key) — 3 redundant
    // evaluations per run (the multi-branch-consumer trap). Values
    // identical: t = cells + a literal column, so the sums/distincts
    // are the same.
    val tot = t.agg(sum("cnt").as("tt"),
      countDistinct("row_key").as("nr"),
      countDistinct("col_key").as("nc")).ckpt()
    def round(keyCol: String, nCol: String): Unit = {
      val mSum = W.partitionBy(keyCol)
      t = t.crossJoin(broadcast(tot))
        .withColumn("m", col("cnt") * col("w_u"))
        .withColumn("msum", sum("m").over(mSum))
        .withColumn("tgt_u", expr(s"tt * 1000000 DIV $nCol"))
        // zero-mass marginal (all-zero cnt in a stratum — facade
        // input only; the declared key's counts are ≥ 1): identity
        // factor, never an ANSI integral-division throw
        .withColumn("factor_u", expr(
          "CASE WHEN msum > 0 THEN tgt_u * 1000000 DIV msum"
            + " ELSE CAST(1000000 AS BIGINT) END"))
        .withColumn("w_u", expr("w_u * factor_u DIV 1000000"))
        .select("row_key", "col_key", "cnt", "w_u")
        .ckpt()
    }
    round("row_key", "nr")
    round("col_key", "nc")
    round("row_key", "nr")
    t.withColumn("weighted_u", col("cnt") * col("w_u"))
      .select("row_key", "col_key", "cnt", "w_u", "weighted_u")
      .orderBy("row_key", "col_key")
  }

  /** Neyman allocation of a `budget` of samples across `l_returnflag`
    * strata of integer values `x` (largest-remainder apportionment).
    * Shared with `GraftEngine.neymanAllocation`.
    */
  private[graft] def neymanAllocationCore(units: DataFrame,
                                          budget: Long): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("l_returnflag"))
    val st = units
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_h"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("s_units", sqrt(
        (col("n_h").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
        / (col("n_h").cast("double") * (col("n_h") - 1).cast("double"))))
      .withColumn("w_u",
        floor(col("n_h").cast("double") * col("s_units") + 0.5)
          .cast("long"))
    val tot = st.agg(sum("w_u").as("w_total"))
    val appo = st.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * w_u) DIV w_total"))
      .withColumn("rem", expr(s"($budget * w_u) % w_total"))
    val baseSum = appo.agg(sum("base").as("base_sum"))
    appo.crossJoin(broadcast(baseSum))
      .withColumn("rk", row_number().over(W))
      .withColumn("extra",
        when(col("rk") <= lit(budget) - col("base_sum"), 1L).otherwise(0L))
      .select(col("l_returnflag"), col("n_h"),
        r4(col("s_units")).as("s_units"), col("w_u"),
        (col("base") + col("extra")).as("n_alloc"))
      .orderBy("l_returnflag")
  }

  /** k-anonymity suppression curve over quasi-identifier group sizes `gs`:
    * for each k in `ks`, the groups and rows below k. Shared with
    * `GraftEngine.suppressionCurve`.
    */
  private[graft] def suppressionCurveCore(groups: DataFrame,
                                          ks: Seq[Int]): DataFrame =
    groups
      .select(col("gs"), explode(lit(ks.toArray)).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("gs") < col("k"), 1L).otherwise(0L))
          .as("n_small_groups"),
        sum(when(col("gs") < col("k"), col("gs")).otherwise(0L))
          .as("n_suppressed"),
        sum("gs").as("n_rows"))
      .withColumn("suppressed_frac",
        r4(col("n_suppressed").cast("double") / col("n_rows")))
      .select("k", "n_groups", "n_small_groups", "n_suppressed",
        "n_rows", "suppressed_frac")
      .orderBy("k")

  val defs: Map[String, Q] = Map(
    // Benchmark DECONTAMINATION: flag corpus documents sharing any
    // 5-token shingle with the held-out evaluation set (here: a
    // planted eval split, doc_id % 97 = 3) — the pass that keeps test
    // data out of the training mix. The eval side is benchmark-sized
    // (thousands of docs at worst), so its shingle set broadcasts and
    // the corpus-side probe is one map-side scan + a small aggregate;
    // 13-gram character windows (the common production choice) drop
    // into the same shape via CharNgrams.
    "dedup_decontaminate" -> ((s, d) => {
      val docs = TestData.documents(s, d)
      val evalSet = docs.filter(expr("doc_id % 97 = 3"))
        .select(col("doc_id").as("eval_id"),
          explode(shingles(col("text"), 5)).as("sh"))
        .distinct()
      val corpus = docs.filter(expr("doc_id % 97 <> 3"))
        .select(col("doc_id"), explode(shingles(col("text"), 5)).as("sh"))
      corpus.join(broadcast(evalSet), "sh")
        .groupBy("doc_id")
        .agg(countDistinct(col("eval_id")).as("n_eval_hits"),
             min(col("eval_id")).as("first_eval_id"))
        .orderBy("doc_id")
    }),

    // Repetition ratio (Gopher-style quality signal): the fraction of
    // a document's 2-grams that are repeats — high values mark
    // degenerate boilerplate/keyword-stuffed pages. total = n_tokens−1
    // (with duplicates), distinct from the single-pass WordShingles
    // set; all map-side.
    "text_repetition_score" -> ((s, d) =>
      TestData.documents(s, d)
        .withColumn("n_toks", size(split(col("text"), " ")))
        .filter(col("n_toks") >= 2)
        .select(col("doc_id"),
          (col("n_toks") - 1).as("n_bigrams"),
          size(shingles(col("text"), 2)).as("n_distinct"),
          r4(lit(1.0) - size(shingles(col("text"), 2)).cast("double")
            / (col("n_toks") - 1)).as("rep_ratio"))
        .orderBy("doc_id")),

    // PII redaction: regex-scrub emails and phone-shaped numbers
    // (planted — the fixture is synthetic) and count what was removed
    // per doc. Patterns stay in the Java∩DuckDB regex subset; the
    // scrub is one map-side pass, the shape of every
    // normalize-before-training pass.
    "text_pii_redact" -> ((s, d) => {
      val planted = TestData.documents(s, d)
        .withColumn("text",
          when(expr("doc_id % 10 = 4"),
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@mail.example now")))
          .when(expr("doc_id % 10 = 9"),
            concat(col("text"), lit(" call 555-"),
              (col("doc_id") % 9000 + 1000).cast("string"), lit(" today")))
          .otherwise(col("text")))
      val email = "[a-z0-9.]+@[a-z0-9.]+"
      val phone = "[0-9]{3}-[0-9]{4}"
      planted.select(col("doc_id"),
          regexp_count(col("text"), lit(email)).as("n_emails"),
          regexp_count(col("text"), lit(phone)).as("n_phones"),
          md5(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
            phone, "<PHONE>")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // Mix manifest: per-language token counts vs an equal-share
    // target, yielding the per-stratum sampling rate a weighted
    // training mix applies (rate = min(1, target/actual); feed it to
    // sample_stratified / stratifiedSampleByHash). Language-sized
    // output at any corpus size.
    // Gopher-style rule filter (Rae et al. 2021 §A1.1 adapted to the
    // fixture's ranges): hard pass/fail rules instead of a soft score
    // — length ≥ 30 tokens, stopword ratio ≥ 0.02, mean token length
    // in [4.2, 5.0]. One map-side pass; the per-(lang, rule) fail
    // counts are what a curation run reports before committing to a
    // filter config. Ratios are single int/int divisions (exact IEEE
    // on both engines), so the rule boundaries cannot flip.
    "text_quality_rules" -> ((s, d) => {
      val stops = Seq("the", "a", "of", "and", "in")
      TestData.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("nt", size(col("toks")))
        .withColumn("ns",
          size(filter(col("toks"), t => t.isInCollection(stops))))
        .withColumn("al",
          aggregate(col("toks"), lit(0), (a, t) => a + length(t))
            .cast("double") / col("nt"))
        .withColumn("r_len", col("nt") >= 30)
        .withColumn("r_stop",
          col("ns").cast("double") / col("nt") >= 0.02)
        .withColumn("r_al", col("al") >= 4.2 && col("al") <= 5.0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("r_len"), 1L).otherwise(0L)).as("pass_len"),
          sum(when(col("r_stop"), 1L).otherwise(0L)).as("pass_stop"),
          sum(when(col("r_al"), 1L).otherwise(0L)).as("pass_avglen"),
          sum(when(col("r_len") && col("r_stop") && col("r_al"), 1L)
            .otherwise(0L)).as("pass_all"))
        .orderBy("lang")
    }),

    // Temperature-scaled language mixing (the multilingual-training
    // mix): w_l ∝ n_l^α with α = 0.3 — upweights low-resource
    // languages relative to proportional sampling. Language-sized
    // aggregate; pow is evaluated on both engines but only r4-rounded
    // OUTPUT columns are emitted (no boundary comparisons on it).
    "pipeline_mix_temperature" -> ((s, d) => {
      val per = TestData.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).as("nt"))
        .groupBy("lang").agg(sum(col("nt")).as("n_tokens"))
      val tot = per.agg(
        sum(pow(col("n_tokens").cast("double"), lit(0.3))).as("z"))
      per.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_tokens"),
          r4(pow(col("n_tokens").cast("double"), lit(0.3)) / col("z"))
            .as("weight"))
        .orderBy("lang")
    }),

    // EPOCH QUOTA APPORTIONMENT (round 8): turn mix shares into
    // integer per-source example counts for one training epoch —
    // largest-remainder (Hamilton) apportionment of a B-token budget
    // over per-lang token counts. ENTIRELY integer: base =
    // (B·c_i) DIV C, remainder = (B·c_i) MOD C, and the B − Σbase
    // leftover units go to the largest remainders (ties → lang asc),
    // so Σ quota = B exactly — no float shares to round and no
    // engine to disagree. (B·c_i must fit BIGINT: at petabyte token
    // counts apportion in millions-of-tokens units first.) The rank
    // window is sources-sized; everything upstream is the wordcount
    // aggregate.
    "pipeline_mix_epoch_schedule" -> ((s, d) => {
      val B = 1000000L
      val W = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("lang"))
      val per = TestData.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).as("nt"))
        .groupBy("lang").agg(sum(col("nt")).as("n_tokens"))
      val tot = per.agg(sum("n_tokens").as("c_total"))
      val appo = per.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($B * n_tokens) DIV c_total"))
        .withColumn("rem", expr(s"($B * n_tokens) % c_total"))
      val baseSum = appo.agg(sum("base").as("base_sum"))
      appo.crossJoin(broadcast(baseSum))
        .withColumn("rk", row_number().over(W))
        .withColumn("extra",
          when(col("rk") <= lit(B) - col("base_sum"), 1L).otherwise(0L))
        .select(col("lang"), col("n_tokens"), col("base"), col("extra"),
          (col("base") + col("extra")).as("epoch_quota"))
        .orderBy("lang")
    }),

    // NEYMAN ALLOCATION (round 10): the survey-sampling answer to
    // "given a budget of B QA samples, how many from each stratum" —
    // allocate ∝ N_h·S_h (big AND variable strata get more), the
    // variance-optimal split for estimating the overall mean. Exact
    // machinery: per-stratum (n, Σx, Σx²) in WHOLE currency units
    // (not cents — n·x² must stay < 2^63: x ≲ 1e5 units keeps Σx²
    // safe to ~9e8 rows/stratum, where cents would overflow at
    // ~9e4 — the unit choice IS the documented trade) are exact
    // BIGINTs; S_h = sqrt((n·Σx²−(Σx)²)/(n(n−1))) uses IEEE sqrt —
    // correctly-rounded, hence engine-identical on identical input
    // doubles — then the weight is quantized to an integer BEFORE
    // the Hamilton largest-remainder apportionment (DIV/MOD +
    // remainder rank, the pipeline_mix_epoch_schedule precedent;
    // Σ alloc = B exactly). B·w_u < 2^63 for w_u ≲ 9.2e14. Stratum
    // rank window is strata-sized.
    "sample_neyman_allocation" -> ((s, d) => neymanAllocationCore(
      TestData.lineitem(s, d)
        .withColumn("x",
          floor(col("l_extendedprice") + 0.5).cast("long")), 10000L)),

    // BALANCED DOWNSAMPLING (round 8): cap every class at the
    // minority class's size by keeping each lang's `cap` smallest
    // md5-rank docs — the class-balancing pass before training a
    // lang-ID/quality classifier. Hash-rank selection is
    // deterministic, reproducible across engines and cluster sizes,
    // and UNBIASED w.r.t. any data ordering (md5 of the id, ties
    // impossible on a unique id). Emits the per-class audit (before,
    // after, id checksum of the kept set — order-free BIGINT sum) so
    // the exact selection is hash-verified, not just its size. The
    // rank window partitions by class; at extreme class sizes swap
    // in rangedRank (same contract).
    "sample_balanced_downsample" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("u28"), col("doc_id"))
      val docs = TestData.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .withColumn("u28",
          conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
            .cast("long"))
      val cap = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .agg(min("n").as("cap"))
      docs.crossJoin(broadcast(cap))
        .withColumn("rk", row_number().over(W))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("rk") <= col("cap"), 1L).otherwise(0L)).as("n_after"),
          sum(when(col("rk") <= col("cap"), col("doc_id")).otherwise(0L))
            .as("kept_id_checksum"))
        .orderBy("lang")
    }),

    // The staged curation FUNNEL: how many docs survive each
    // successive filter — length rule, + stopword rule, + exact-dedup
    // survivorship (min doc_id per content hash), + repetition gate.
    // The stage counts are the go/no-go dashboard of a curation run;
    // each stage is the conjunction of all previous ones, so the
    // counts are monotone non-increasing. One scan + one hash-groupBy
    // for the dedup stage.
    "pipeline_curation_funnel" -> ((s, d) => {
      val docs = TestData.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("nt", size(col("toks")))
        .withColumn("ns", size(filter(col("toks"),
          t => t.isInCollection(Seq("the", "a", "of", "and", "in")))))
        .withColumn("bi", expr(
          "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .withColumn("rep",
          (col("nt") - lit(1) - size(array_distinct(col("bi")))).cast("double")
            / (col("nt") - lit(1)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val staged = docs
        .withColumn("s1", col("nt") >= 30)
        .withColumn("s2", col("s1")
          && col("ns").cast("double") / col("nt") >= 0.02)
        .withColumn("s3", col("s2")
          && row_number().over(w) === 1)
        .withColumn("s4", col("s3") && col("rep") < 0.2)
      staged.agg(
          count(lit(1)).as("n_total"),
          sum(when(col("s1"), 1L).otherwise(0L)).as("n_length"),
          sum(when(col("s2"), 1L).otherwise(0L)).as("n_stopword"),
          sum(when(col("s3"), 1L).otherwise(0L)).as("n_deduped"),
          sum(when(col("s4"), 1L).otherwise(0L)).as("n_final"))
    }),

    "pipeline_mix_manifest" -> ((s, d) => {
      val tok = TestData.documents(s, d)
        .select(col("lang"), (size(split(col("text"), " "))).as("nt"))
      val per = tok.groupBy("lang").agg(sum(col("nt")).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("total"),
                        count(lit(1)).as("n_langs"))
      per.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_tokens"),
          r4(least(lit(1.0),
            (col("total").cast("double") / col("n_langs"))
              / col("n_tokens"))).as("sample_rate"))
        .orderBy("lang")
    }),

    // K-ANONYMITY AUDIT: quasi-identifier groups (lang × source ×
    // length bucket) with fewer than k=5 members — the
    // re-identification risk report a governed training-data release
    // runs next to PII redaction. One aggregate on the QI key; the
    // report is group-sized, tiny at any corpus size.
    "privacy_k_anonymity" -> ((s, d) =>
      TestData.documents(s, d)
        .groupBy(col("lang"), col("source"),
          expr("n_chars DIV 100").as("len_bucket"))
        .agg(count(lit(1)).as("group_size"))
        .filter(col("group_size") < 5)
        .orderBy("lang", "source", "len_bucket")),

    // GENERALIZATION LADDER (round 9): k-anonymity's FIX, not just
    // its audit — widen the quasi-identifier (length bucket 10 →
    // 100 → 1000 → dropped) until every QI group reaches k=5, and
    // report the whole ladder with the minimal compliant level
    // flagged. This is the generalization step every release
    // pipeline runs between the audit and the publish. Shape: the
    // corpus explodes ×4 fixed levels (constant fanout), one
    // (level, QI) aggregate, then a LEVELS-sized (4-row) rollup +
    // window — nothing corpus-grain past the first aggregate.
    "privacy_generalization_ladder" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val lvls = TestData.documents(s, d)
        .select(col("lang"), col("source"), col("n_chars"),
          explode(lit(Array(0, 1, 2, 3))).as("level"))
        .withColumn("len_bucket",
          when(col("level") === 0, expr("n_chars DIV 10"))
            .when(col("level") === 1, expr("n_chars DIV 100"))
            .when(col("level") === 2, expr("n_chars DIV 1000"))
            .otherwise(lit(0L)))
      val perGroup = lvls
        .groupBy("level", "lang", "source", "len_bucket")
        .agg(count(lit(1)).as("gs"))
      perGroup.groupBy("level")
        .agg(count(lit(1)).as("n_groups"),
          min("gs").as("min_group_size"),
          sum(when(col("gs") < 5, 1L).otherwise(0L)).as("n_violations"))
        .withColumn("chosen",
          col("n_violations") === 0 &&
            col("level") === min(when(col("n_violations") === 0,
              col("level"))).over(W.partitionBy()))
        .select("level", "n_groups", "min_group_size", "n_violations",
          "chosen")
        .orderBy("level")
    }),

    // L-DIVERSITY AUDIT: k-anonymity's sharper sibling — a QI group
    // can be large yet still leak if every member shares the same
    // sensitive value. Per (nation, market-segment) QI group over the
    // order fact, count members AND distinct sensitive values
    // (order priority); report groups with fewer than l=3 distinct
    // values. Broadcast dim join + one aggregate; the report is
    // group-sized at any corpus size.
    "privacy_l_diversity" -> ((s, d) =>
      TestData.orders(s, d)
        .join(broadcast(TestData.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"),
          col("c_mktsegment"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("group_size"),
          countDistinct(col("o_orderstatus")).as("n_sensitive"))
        .filter(col("n_sensitive") < 3)
        .orderBy("nationkey", "c_mktsegment", "yr")),

    // DIFFERENTIALLY-PRIVATE RELEASE (round 8): the Laplace
    // mechanism over per-group counts (ε=1, sensitivity 1 ⇒ scale
    // b=1) — completing the privacy stack: k-anonymity and
    // l-diversity/t-closeness AUDIT a release, DP noising PERFORMS
    // one. Noise is SEEDED: u = (md5-fold(group)+0.5)/2^28 ∈ (0,1)
    // (the +0.5 makes u = exactly 0.5 impossible — ln(0) guard),
    // noise = −sign(u−½)·ln(1−2|u−½|), quantized to integer
    // MICRO-units before the count is added (quantize-before-sum:
    // one transcendental, identical op order both engines, the
    // released value an exact BIGINT in micro-counts). Seeding makes
    // the release reproducible/oracle-able; a production system
    // would draw u from a CSPRNG — same expression, same plan.
    // Map-side + groups-sized aggregate at any corpus size.
    "privacy_dp_noise" -> ((s, d) => {
      val u = (conv(substring(md5(col("lang")), 1, 7), 16, 10)
        .cast("double") + lit(0.5)) / lit(268435456.0)
      val noiseU = floor(
        -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
          * 1000000 + 0.5).cast("long")
      TestData.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("true_count"))
        .withColumn("noise_u", noiseU)
        .withColumn("released_count_u",
          col("true_count") * 1000000L + col("noise_u"))
        .orderBy("lang")
    }),

    // RAKING / ITERATIVE PROPORTIONAL FITTING (round 12): balance
    // the (mktsegment × region) customer table so BOTH marginals
    // approach uniform targets — the survey-weighting/training-mix
    // move when two stratification dimensions must be equalized at
    // once and per-cell resampling (sample_balanced_downsample's
    // one-dimension answer) can't satisfy both. 3 unrolled rounds
    // (row, col, row) of integer micro-weight scaling; every op is
    // non-negative DIV so the engines agree exactly; the cell grid
    // is DOMAIN-sized (5×5), so the per-round windows are tiny at
    // any corpus and the one corpus pass is the initial count.
    // A row round lands every row marginal within DIV truncation of
    // its target (ClosedFormProps); facade `rakeWeights`.
    "sample_raking_ipf" -> ((s, d) =>
      rakeIpf(TestData.customer(s, d)
        .join(broadcast(TestData.nation(s, d)
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_mktsegment").as("row_key"),
          col("n_regionkey").cast("long").as("col_key"))
        .agg(count(lit(1)).as("cnt")))),

    // RANDOMIZED RESPONSE ESTIMATE (round 12): Warner's local-DP
    // survey mechanism — each user reports their sensitive bit (did
    // they purchase) TRUTHFULLY with probability p = 3/4 and FLIPPED
    // with 1/4, so no individual report reveals the bit; the
    // aggregate debiases exactly: π̂ = (p̂_obs − (1−p))/(2p−1). The
    // local-DP member of the privacy family (k-anon/l-div/t-close
    // audit the TABLE, dp_noise perturbs the AGGREGATE, this
    // perturbs the INPUT). The flip coin is a SALTED md5 uniform
    // ('rr|' + user_id — independent of the variant hash by salt),
    // so both engines derive the same coins and the released counts
    // are exact integers; the estimator and its se are one mirrored
    // readout each, r4. Per md5-variant cohort; one user-shard
    // aggregate + a 2-row readout at any corpus size. The pin
    // (EngineApiSpec): the debiased estimate lands within 4·se of
    // the true (non-private) rate on the fixture, and p = 1 (no
    // flips) recovers the true rate exactly.
    "privacy_rr_estimate" -> ((s, d) =>
      rrEstimate(TestData.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("truth"))
        .withColumn("variant",
          when(conv(substring(md5(col("user_id").cast("string")), 1, 2),
            16, 10).cast("int") % 2 === 0, "control")
            .otherwise("treatment")),
        67108864L)),

    // T-CLOSENESS AUDIT (round 8): l-diversity's distributional
    // sharper sibling — a QI group with all l values present can
    // still leak if its sensitive-value DISTRIBUTION skews far from
    // the global one. Sensitive attribute = order priority (5
    // ORDERED levels), distance = Earth Mover's over the ordered
    // domain: EMD = Σ_j |Σ_{i≤j}(p_i − q_i)| / (m−1). Per-group
    // counts pivot to a FIXED 5-column layout, so the whole EMD is
    // ONE closed-form IEEE expression with deterministic op order
    // (the events_ab_significance precedent — no float-accumulation
    // ambiguity to mirror), r4-quantized on both engines. Shape:
    // broadcast dim join + one pivot aggregate + a broadcast of the
    // 1-row global distribution; the report is QI-group-sized at any
    // corpus size.
    "privacy_t_closeness" -> ((s, d) => {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
                      "4-NOT SPECIFIED", "5-LOW")
      val fact = TestData.orders(s, d)
        .join(broadcast(TestData.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("nationkey"),
          col("c_mktsegment"), col("o_orderpriority"))
      val cnt = (i: Int) =>
        sum(when(col("o_orderpriority") === prios(i), 1L).otherwise(0L))
      val grp = fact.groupBy("nationkey", "c_mktsegment")
        .agg(cnt(0).as("c0"), cnt(1).as("c1"), cnt(2).as("c2"),
             cnt(3).as("c3"), cnt(4).as("c4"),
             count(lit(1)).as("group_size"))
      val glob = fact.agg(cnt(0).as("g0"), cnt(1).as("g1"),
             cnt(2).as("g2"), cnt(3).as("g3"), cnt(4).as("g4"),
             count(lit(1)).as("n_total"))
      val dd = (i: Int) =>
        col(s"c$i").cast("double") / col("group_size") -
          col(s"g$i").cast("double") / col("n_total")
      grp.crossJoin(broadcast(glob))
        .withColumn("emd", r4(
          (abs(dd(0)) + abs(dd(0) + dd(1)) + abs(dd(0) + dd(1) + dd(2))
            + abs(dd(0) + dd(1) + dd(2) + dd(3))) / 4.0))
        .withColumn("t_violation", col("emd") > 0.05)
        .select("nationkey", "c_mktsegment", "group_size", "emd",
                "t_violation")
        .orderBy("nationkey", "c_mktsegment")
    }),

    // EXACT-SUBSTRING DEDUP SPANS (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): find every
    // maximal run of 13-token windows whose content also appears in
    // ANOTHER document, reported as (start, end) token spans of
    // length ≥ 20 — the pass that excises verbatim boilerplate/quotes
    // instead of dropping whole near-dup docs. See [[substringSpans]].
    "dedup_substring_spans" -> ((s, d) =>
      // r19: spread the 1-2-split scan under the rolling-hash span
      // kernel (measured 1.69 -> 1.55 s; cheap-kernel text keys
      // measured WORSE and keep the bare scan — see text_distinct_n)
      substringSpans(TextOps.spreadScan(TestData.documents(s, d)), 13, 20)
        .orderBy("doc_id", "span_start")),

    // DATASET CARDS: the per-(lang, source) governance manifest a
    // training-data release ships — doc/token volumes, exact-dup
    // counts (docs whose normalized hash appears more than once), and
    // the short-doc tail. One scan + one hash-partitioned window (dup
    // groups are tiny) + one (lang, source)-sized aggregate; every
    // emitted stat is an exact integer.
    "pipeline_dataset_cards" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      TestData.documents(s, d)
        .withColumn("nt", size(split(col("text"), " ")).cast("long"))
        .withColumn("h", md5(lower(trim(col("text")))))
        .withColumn("dup",
          when(count(lit(1)).over(W.partitionBy("h")) > 1, 1L).otherwise(0L))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(col("dup")).as("n_dup_docs"),
          sum(when(col("nt") < 30, 1L).otherwise(0L)).as("n_short_docs"))
        .orderBy("lang", "source")
    }),

    // END-TO-END CORPUS BUILD: the curation chain composed as ONE
    // declared pipeline — quality gate (≥30 tokens, bigram repetition
    // < 0.2) → benchmark decontamination (eval 5-shingle broadcast,
    // eval split excluded) → exact dedup (min doc_id survives) →
    // 2048-token concat-and-chunk packing — reporting per-language
    // docs / tokens / bins. Every stage is a shape already audited at
    // scale (map-side gates, broadcast probe, hash-groupBy dedup,
    // sharded hierarchical prefix sum); composing them costs no new
    // shuffle class.
    "pipeline_corpus_build" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val docs = TestData.documents(s, d)
        .withColumn("nt", size(split(col("text"), " ")))
      val quality = docs.filter(col("nt") >= 30)
        .withColumn("rep", lit(1.0)
          - size(shingles(col("text"), 2)).cast("double") / (col("nt") - 1))
        .filter(col("rep") < 0.2)
        // fence probe REJECTED (r19.2): quality feeds 2 branches but
        // persisting full-text rows measured worse (sum-job 786-928
        // -> 896-1018 ms; wall a wash) — the exploded/full-text-grain
        // rule again.
      val evalSh = docs.filter(expr("doc_id % 97 = 3"))
        .select(explode(shingles(col("text"), 5)).as("sh")).distinct()
      val contaminated = quality.filter(expr("doc_id % 97 <> 3"))
        .select(col("doc_id"), explode(shingles(col("text"), 5)).as("sh"))
        .join(broadcast(evalSh), "sh")
        .select("doc_id").distinct()
      val clean = quality.filter(expr("doc_id % 97 <> 3"))
        .join(contaminated, Seq("doc_id"), "left_anti")
      val wDedup = W.partitionBy(md5(lower(trim(col("text")))))
        .orderBy("doc_id")
      val unique = clean.withColumn("rn", row_number().over(wDedup))
        .filter(col("rn") === 1)
        .withColumn("ntl", col("nt").cast("long"))
      shardedPrefixSum(unique, "lang", "doc_id", "ntl", "start_off")
        .withColumn("bin_last", expr("(start_off + nt - 1) DIV 2048"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt").cast("long")).as("n_tokens"),
          (max(col("bin_last")) + 1).as("n_bins"))
        .orderBy("lang")
    }),

    // SEQUENCE PACKING (concat-and-chunk): the standard LLM-training
    // packing pass — concatenate each language's doc stream in doc_id
    // order, split every B=2048 tokens; a doc's bin span is pure
    // arithmetic on its cumulative start offset. The running offset is
    // a HIERARCHICAL prefix sum ([[shardedPrefixSum]]): language is a
    // heavily skewed key, so a plain per-lang window would funnel the
    // English partition through ONE task at 100 TB — sharding into
    // contiguous doc_id ranges keeps |langs|·|shards| tasks busy and
    // reconstructs identical offsets via per-shard constants. Token
    // count = whitespace tokens, matching text_tokenize_stats.
    "pipeline_pack_sequences" -> ((s, d) => {
      val B = 2048L
      val counted = TestData.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      shardedPrefixSum(counted, "lang", "doc_id", "n_tokens", "start_off")
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("start_off"),
          expr(s"start_off DIV $B").as("bin_first"),
          expr(s"(start_off + n_tokens - 1) DIV $B").as("bin_last"))
        .orderBy("lang", "doc_id")
    }),

    // URL-CANONICAL DEDUP (round 7): the crawl-frontier pass that
    // runs BEFORE content dedup — the same page reached via scheme/
    // host case variants, default ports, tracking params, param
    // order, or fragments must collapse to ONE canonical URL. The
    // fixture synthesizes deterministically messy URLs (case-varied
    // scheme/host, :443 default port, utm_ param, shuffled param
    // order, #fragment — and doc_id mod 50 path collisions so real
    // duplicate groups exist), and the canonicalizer works ON THE URL
    // STRING alone: lowercase scheme+host, strip the default port,
    // drop utm_* params, sort the rest, drop the fragment. The oracle
    // derives the canonical form INDEPENDENTLY from the generating
    // columns, so it checks the string-level canonicalizer, not a
    // shared implementation. Map-side projection + one hash-groupBy —
    // the dedup_exact_hash shape at any corpus size.
    "dedup_url_canonical" -> ((s, d) => {
      val messy = TestData.documents(s, d).withColumn("url", concat(
        when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("HTTPS")),
        lit("://"),
        when(col("doc_id") % 3 === 0, upper(col("source")))
          .otherwise(col("source")),
        lit(".example.com"),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/"), col("lang"), lit("/doc/"),
        (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 2 === 0, lit("?b=2&utm_source=feed&a=1"))
          .otherwise(lit("?a=1&b=2")),
        when(col("doc_id") % 7 === 0, lit("#sec")).otherwise(lit(""))))
      val canon = messy
        .withColumn("canonical_url", canonicalUrl(col("url")))
      canon.groupBy("canonical_url")
        .agg(min(col("doc_id")).as("survivor_id"),
             count(lit(1)).as("n_copies"))
        .orderBy("canonical_url")
    }),

    // GLOBAL TRAINING SHUFFLE into shards (round 7): the
    // order-randomization pass between curation and training — every
    // epoch reader needs the corpus in a reproducible pseudo-random
    // order, sharded so each trainer rank streams its own files.
    // Deterministic discipline: shard = md5-fold(doc_id) mod S,
    // position = rank of the SAME hash within the shard — one hash
    // shuffle, no rand(), identical on every engine/run/cluster size
    // (the sample_hash reproducibility rule applied to ordering). At
    // 100 TB set S = corpus_size / target_shard_size (e.g. 1M shards):
    // hash-balanced shards bound the per-shard window sort, and the
    // write is shuffle-partitioned by shard — the same shape
    // pack_sequences' sharded prefix sum pins.
    "pipeline_shuffle_shards" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val S = 16
      TestData.documents(s, d)
        .withColumn("h28",
          conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
            .cast("long"))
        .withColumn("shard", (col("h28") % S).cast("int"))
        .withColumn("pos", row_number().over(
          W.partitionBy(col("shard")).orderBy(col("h28"), col("doc_id")))
          - 1)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    }),

    // SUPPRESSION CURVE (round 10): k-anonymity's OTHER fix — where
    // the generalization ladder widens the QI, suppression drops the
    // undersized groups; this key publishes the cost curve (rows
    // lost at k ∈ {2,5,10,20}) a release pipeline reads to pick its
    // k. Shape: ONE QI-grain aggregate, then a ×4 fixed explode on
    // the GROUP-grain table (never the corpus) and a 4-row rollup.
    // Monotonicity in k (suppressing never shrinks as k grows) is
    // pinned in ClosedFormProps.
    "privacy_suppression_curve" -> ((s, d) => {
      val groups = TestData.documents(s, d)
        .groupBy(col("lang"), col("source"),
          expr("n_chars DIV 100").as("len_bucket"))
        .agg(count(lit(1)).as("gs"))
      suppressionCurveCore(groups, Seq(2, 5, 10, 20))
    })
  )

  val oracles: Map[String, String] = Map(
    "pipeline_dataset_cards" ->
      """WITH t AS (
        |  SELECT lang, source,
        |    len(string_split(text, ' '))::BIGINT AS nt,
        |    md5(lower(trim(text))) AS h
        |  FROM documents),
        |d AS (
        |  SELECT lang, source, nt,
        |    CASE WHEN count(*) OVER (PARTITION BY h) > 1 THEN 1 ELSE 0 END AS dup
        |  FROM t)
        |SELECT lang, source, count(*)::BIGINT AS n_docs,
        |  sum(nt)::BIGINT AS n_tokens,
        |  sum(dup)::BIGINT AS n_dup_docs,
        |  sum(CASE WHEN nt < 30 THEN 1 ELSE 0 END)::BIGINT AS n_short_docs
        |FROM d GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "dedup_substring_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 13),
        |w AS (
        |  SELECT doc_id, i + 1 AS p,
        |    ('0x' || substring(md5(array_to_string(toks[i + 1 : i + 13], ' ')),
        |      1, 15))::BIGINT AS h
        |  FROM t, LATERAL (SELECT unnest(range(0, len(toks) - 13 + 1)) AS i)),
        |dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, p FROM w JOIN dup USING (h)),
        |m AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 13
        |         THEN 1 ELSE 0 END AS brk
        |  FROM hits),
        |g AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |      FROM m),
        |sp AS (
        |  SELECT doc_id, min(p)::BIGINT AS span_start,
        |    (max(p) + 12)::BIGINT AS span_end, count(*)::BIGINT AS n_windows
        |  FROM g GROUP BY doc_id, grp)
        |SELECT doc_id, span_start, span_end,
        |  (span_end - span_start + 1)::BIGINT AS span_len, n_windows
        |FROM sp WHERE span_end - span_start + 1 >= 20
        |ORDER BY doc_id, span_start""".stripMargin,
    "privacy_k_anonymity" ->
      """SELECT lang, source, n_chars // 100 AS len_bucket,
        |  count(*)::BIGINT AS group_size
        |FROM documents GROUP BY 1, 2, 3
        |HAVING count(*) < 5
        |ORDER BY lang, source, len_bucket""".stripMargin,
    "privacy_generalization_ladder" ->
      """WITH lv AS (
        |  SELECT d.lang, d.source, l.level,
        |    CASE WHEN l.level = 0 THEN d.n_chars // 10
        |         WHEN l.level = 1 THEN d.n_chars // 100
        |         WHEN l.level = 2 THEN d.n_chars // 1000
        |         ELSE 0 END AS len_bucket
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS level) l),
        |pg AS (
        |  SELECT level, lang, source, len_bucket, count(*)::BIGINT AS gs
        |  FROM lv GROUP BY 1, 2, 3, 4),
        |agg AS (
        |  SELECT level, count(*)::BIGINT AS n_groups,
        |    min(gs)::BIGINT AS min_group_size,
        |    sum(CASE WHEN gs < 5 THEN 1 ELSE 0 END)::BIGINT AS n_violations
        |  FROM pg GROUP BY 1)
        |SELECT level, n_groups, min_group_size, n_violations,
        |  (n_violations = 0 AND level =
        |    (min(CASE WHEN n_violations = 0 THEN level END) OVER ()))
        |    AS chosen
        |FROM agg ORDER BY level""".stripMargin,
    "privacy_l_diversity" ->
      """SELECT c_nationkey::BIGINT AS nationkey, c_mktsegment,
        |  year(o_orderdate)::BIGINT AS yr,
        |  count(*)::BIGINT AS group_size,
        |  count(DISTINCT o_orderstatus)::BIGINT AS n_sensitive
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2, 3
        |HAVING count(DISTINCT o_orderstatus) < 3
        |ORDER BY nationkey, c_mktsegment, yr""".stripMargin,
    // Same seeded inverse-CDF draw, identical op order, micro-unit
    // quantize before the count joins the sum.
    "privacy_dp_noise" ->
      """WITH g AS (
        |  SELECT lang, count(*)::BIGINT AS true_count
        |  FROM documents GROUP BY lang),
        |n AS (
        |  SELECT lang, true_count,
        |    floor(-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
        |      * 1000000 + 0.5)::BIGINT AS noise_u
        |  FROM (SELECT lang, true_count,
        |          ((('0x' || substring(md5(lang), 1, 7))::BIGINT::DOUBLE + 0.5)
        |            / 268435456.0) AS u
        |        FROM g))
        |SELECT lang, true_count, noise_u,
        |  (true_count * 1000000 + noise_u)::BIGINT AS released_count_u
        |FROM n ORDER BY lang""".stripMargin,
    // 3 unrolled integer rounds; every windowed sum ::BIGINT (HUGEINT
    // trap); op order w·((tgt·1e6)//msum)//1e6 mirrored verbatim.
    "sample_raking_ipf" -> {
      def round(k: Int, keyCol: String, nCol: String): String = {
        val prev = if (k == 1) "w0" else s"r${k - 1}"
        s"""r$k AS MATERIALIZED (
          |  SELECT row_key, col_key, cnt,
          |    (w_u * ((tt * 1000000 // $nCol) * 1000000
          |      // (sum(cnt * w_u) OVER (PARTITION BY $keyCol))::BIGINT)
          |      // 1000000)::BIGINT AS w_u
          |  FROM $prev CROSS JOIN tot)""".stripMargin
      }
      s"""WITH cells AS (
        |  SELECT c_mktsegment AS row_key, n_regionkey::BIGINT AS col_key,
        |    count(*)::BIGINT AS cnt
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT sum(cnt)::BIGINT AS tt,
        |    count(DISTINCT row_key)::BIGINT AS nr,
        |    count(DISTINCT col_key)::BIGINT AS nc
        |  FROM cells),
        |w0 AS MATERIALIZED (
        |  SELECT row_key, col_key, cnt, 1000000::BIGINT AS w_u
        |  FROM cells),
        |${round(1, "row_key", "nr")},
        |${round(2, "col_key", "nc")},
        |${round(3, "row_key", "nr")}
        |SELECT row_key, col_key, cnt, w_u,
        |  (cnt * w_u)::BIGINT AS weighted_u
        |FROM r3 ORDER BY row_key, col_key""".stripMargin
    },
    // Salted rr-coin ('rr|' + user_id md5) mirrored; 0.25 and 0.5
    // are exact binary-fraction literals in both engines; estimator
    // and se one mirrored readout each, r4.
    "privacy_rr_estimate" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      ::BIGINT AS truth
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT CASE WHEN ('0x' || substring(md5(user_id::VARCHAR),
        |      1, 2))::INT % 2 = 0 THEN 'control' ELSE 'treatment' END
        |      AS variant,
        |    CASE WHEN ('0x' || substring(md5('rr|' || user_id::VARCHAR),
        |      1, 7))::BIGINT < 67108864
        |    THEN 1 - truth ELSE truth END AS reported
        |  FROM u),
        |g AS (
        |  SELECT variant, count(*)::BIGINT AS n_users,
        |    sum(reported)::BIGINT AS n_reported
        |  FROM r GROUP BY 1),
        |e AS (
        |  SELECT *, n_reported::DOUBLE / n_users::DOUBLE AS ph FROM g)
        |SELECT variant, n_users, n_reported,
        |  floor(ph*10000 + 0.5)/10000 AS p_hat,
        |  floor(((ph - 0.25) / 0.5)*10000 + 0.5)/10000 AS pi_est,
        |  floor((sqrt(ph * (1.0 - ph) / n_users::DOUBLE) / 0.5)
        |    *10000 + 0.5)/10000 AS se
        |FROM e ORDER BY variant""".stripMargin,
    // Identical op order to the Spark side: d_i = c_i/n_g − g_i/N
    // (each division DOUBLE), cumulative sums in fixed i order, abs
    // terms summed left-to-right, /4, then r4. All counts ::BIGINT
    // (DuckDB sum(CASE) is HUGEINT).
    "privacy_t_closeness" ->
      """WITH f AS (
        |  SELECT c_nationkey::BIGINT AS nationkey, c_mktsegment,
        |         o_orderpriority AS p
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (
        |  SELECT nationkey, c_mktsegment,
        |    sum(CASE WHEN p = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS c0,
        |    sum(CASE WHEN p = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN p = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS c2,
        |    sum(CASE WHEN p = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS c3,
        |    sum(CASE WHEN p = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS c4,
        |    count(*)::BIGINT AS group_size
        |  FROM f GROUP BY 1, 2),
        |gl AS (
        |  SELECT
        |    sum(CASE WHEN p = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS g0,
        |    sum(CASE WHEN p = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS g1,
        |    sum(CASE WHEN p = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS g2,
        |    sum(CASE WHEN p = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS g3,
        |    sum(CASE WHEN p = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS g4,
        |    count(*)::BIGINT AS n_total
        |  FROM f),
        |e AS (
        |  SELECT nationkey, c_mktsegment, group_size,
        |    floor((abs((c0::DOUBLE / group_size) - (g0::DOUBLE / n_total))
        |      + abs(((c0::DOUBLE / group_size) - (g0::DOUBLE / n_total))
        |          + ((c1::DOUBLE / group_size) - (g1::DOUBLE / n_total)))
        |      + abs(((c0::DOUBLE / group_size) - (g0::DOUBLE / n_total))
        |          + ((c1::DOUBLE / group_size) - (g1::DOUBLE / n_total))
        |          + ((c2::DOUBLE / group_size) - (g2::DOUBLE / n_total)))
        |      + abs(((c0::DOUBLE / group_size) - (g0::DOUBLE / n_total))
        |          + ((c1::DOUBLE / group_size) - (g1::DOUBLE / n_total))
        |          + ((c2::DOUBLE / group_size) - (g2::DOUBLE / n_total))
        |          + ((c3::DOUBLE / group_size) - (g3::DOUBLE / n_total))))
        |      / 4.0 * 10000 + 0.5) / 10000 AS emd
        |  FROM g CROSS JOIN gl)
        |SELECT nationkey, c_mktsegment, group_size, emd,
        |  emd > 0.05 AS t_violation
        |FROM e ORDER BY nationkey, c_mktsegment""".stripMargin,
    "pipeline_corpus_build" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, text, toks, len(toks) AS nt FROM t
        |  WHERE len(toks) >= 30
        |    AND 1.0 - len(list_distinct([toks[i] || ' ' || toks[i+1]
        |          for i in range(1, len(toks))]))::DOUBLE
        |        / (len(toks) - 1) < 0.2),
        |sh AS (
        |  SELECT doc_id, array_to_string(toks[i : i + 4], ' ') AS sh
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
        |  WHERE len(toks) >= 5),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 3),
        |contam AS (
        |  SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (sh)
        |  WHERE s.doc_id % 97 <> 3),
        |clean AS (
        |  SELECT * FROM q WHERE doc_id % 97 <> 3
        |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |uniq AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        |    FROM clean) WHERE rn = 1),
        |packed AS (
        |  SELECT lang, doc_id, nt,
        |    coalesce(sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS start_off
        |  FROM uniq)
        |SELECT lang, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens,
        |  (max((start_off + nt - 1) // 2048) + 1)::BIGINT AS n_bins
        |FROM packed GROUP BY 1 ORDER BY lang""".stripMargin,
    "pipeline_pack_sequences" ->
      """WITH t AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT lang, doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS start_off
        |  FROM t)
        |SELECT lang, doc_id, n_tokens, start_off,
        |  start_off // 2048 AS bin_first,
        |  (start_off + n_tokens - 1) // 2048 AS bin_last
        |FROM o ORDER BY lang, doc_id""".stripMargin,
    // Canonical form derived INDEPENDENTLY from the generating
    // columns (never from the messy string) — every variant
    // normalizes to https://<source>.example.com/<lang>/doc/<id%50>
    // with the sorted non-tracking params.
    "dedup_url_canonical" ->
      """SELECT 'https://' || source || '.example.com/' || lang ||
        |    '/doc/' || (doc_id % 50)::VARCHAR || '?a=1&b=2' AS canonical_url,
        |  min(doc_id) AS survivor_id, count(*)::BIGINT AS n_copies
        |FROM documents
        |GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    // Same 28-bit md5-fold as Spark's conv(substring(md5,1,7),16,10);
    // shard and in-shard rank are both pure functions of that hash.
    "pipeline_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT AS h28
        |  FROM documents)
        |SELECT doc_id, (h28 % 16)::INT AS shard,
        |  row_number() OVER (PARTITION BY h28 % 16 ORDER BY h28, doc_id) - 1
        |    AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    "dedup_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id, array_to_string(toks[i : i + 4], ' ') AS sh
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
        |  WHERE len(toks) >= 5),
        |ev AS (
        |  SELECT DISTINCT doc_id AS eval_id, sh FROM sh WHERE doc_id % 97 = 3),
        |hits AS (
        |  SELECT DISTINCT s.doc_id, e.eval_id
        |  FROM sh s JOIN ev e USING (sh) WHERE s.doc_id % 97 <> 3)
        |SELECT doc_id, count(*)::BIGINT AS n_eval_hits,
        |  min(eval_id) AS first_eval_id
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_repetition_score" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, len(toks) - 1 AS n_bigrams,
        |    len(list_distinct([toks[i] || ' ' || toks[i+1]
        |                       for i in range(1, len(toks))])) AS n_distinct
        |  FROM t WHERE len(toks) >= 2)
        |SELECT doc_id, n_bigrams, n_distinct,
        |  floor((1.0 - n_distinct::DOUBLE / n_bigrams)*10000 + 0.5)/10000
        |    AS rep_ratio
        |FROM b ORDER BY doc_id""".stripMargin,
    "text_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 4
        |           THEN text || ' contact user' || doc_id || '@mail.example now'
        |         WHEN doc_id % 10 = 9
        |           THEN text || ' call 555-' || (doc_id % 9000 + 1000) || ' today'
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS n_emails,
        |  len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS n_phones,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    "text_quality_rules" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT lang, len(toks) AS nt,
        |  len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'in'))) AS ns,
        |  list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) AS al
        |  FROM t)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN nt >= 30 THEN 1 ELSE 0 END)::BIGINT AS pass_len,
        |  sum(CASE WHEN ns::DOUBLE / nt >= 0.02 THEN 1 ELSE 0 END)::BIGINT
        |    AS pass_stop,
        |  sum(CASE WHEN al >= 4.2 AND al <= 5.0 THEN 1 ELSE 0 END)::BIGINT
        |    AS pass_avglen,
        |  sum(CASE WHEN nt >= 30 AND ns::DOUBLE / nt >= 0.02
        |        AND al >= 4.2 AND al <= 5.0 THEN 1 ELSE 0 END)::BIGINT
        |    AS pass_all
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    // Same all-integer apportionment (// and % on BIGINTs), same
    // largest-remainder rank with lang tie-break.
    // Same whole-unit sufficient stats + IEEE-sqrt S_h + Hamilton
    // apportionment (identical op order).
    "sample_neyman_allocation" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    floor(l_extendedprice + 0.5)::BIGINT AS x
        |  FROM lineitem),
        |st AS (
        |  SELECT l_returnflag, count(*)::BIGINT AS n_h,
        |    sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx
        |  FROM li GROUP BY 1),
        |s2 AS (
        |  SELECT *, sqrt((n_h::DOUBLE * sxx::DOUBLE
        |      - sx::DOUBLE * sx::DOUBLE)
        |    / (n_h::DOUBLE * (n_h - 1)::DOUBLE)) AS s_units
        |  FROM st),
        |w AS (
        |  SELECT *, floor(n_h::DOUBLE * s_units + 0.5)::BIGINT AS w_u
        |  FROM s2),
        |t AS (SELECT sum(w_u)::BIGINT AS w_total FROM w),
        |a AS (
        |  SELECT l_returnflag, n_h, s_units, w_u,
        |    ((10000 * w_u) // w_total)::BIGINT AS base,
        |    ((10000 * w_u) % w_total)::BIGINT AS rem
        |  FROM w CROSS JOIN t),
        |b AS (SELECT sum(base)::BIGINT AS base_sum FROM a),
        |r AS (
        |  SELECT a.*, base_sum,
        |    row_number() OVER (ORDER BY rem DESC, l_returnflag) AS rk
        |  FROM a CROSS JOIN b)
        |SELECT l_returnflag, n_h,
        |  floor(s_units * 10000 + 0.5) / 10000 AS s_units, w_u,
        |  (base + CASE WHEN rk <= 10000 - base_sum THEN 1 ELSE 0 END
        |    )::BIGINT AS n_alloc
        |FROM r ORDER BY l_returnflag""".stripMargin,
    "pipeline_mix_epoch_schedule" ->
      """WITH per AS (
        |  SELECT lang, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_tokens)::BIGINT AS c_total FROM per),
        |a AS (
        |  SELECT lang, n_tokens,
        |    ((1000000 * n_tokens) // c_total)::BIGINT AS base,
        |    ((1000000 * n_tokens) % c_total)::BIGINT AS rem
        |  FROM per CROSS JOIN t),
        |b AS (SELECT sum(base)::BIGINT AS base_sum FROM a),
        |r AS (
        |  SELECT a.lang, a.n_tokens, a.base, base_sum,
        |    row_number() OVER (ORDER BY rem DESC, lang) AS rk
        |  FROM a CROSS JOIN b)
        |SELECT lang, n_tokens, base,
        |  (CASE WHEN rk <= 1000000 - base_sum THEN 1 ELSE 0 END)::BIGINT
        |    AS extra,
        |  (base + CASE WHEN rk <= 1000000 - base_sum THEN 1 ELSE 0 END)::BIGINT
        |    AS epoch_quota
        |FROM r ORDER BY lang""".stripMargin,
    // Same md5-rank selection; kept-set checksum proves the exact
    // rows, not just the count.
    "sample_balanced_downsample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 7))::BIGINT AS u28
        |  FROM documents),
        |c AS (SELECT min(n)::BIGINT AS cap FROM
        |        (SELECT count(*) AS n FROM d GROUP BY lang)),
        |r AS (
        |  SELECT d.*, cap,
        |    row_number() OVER (PARTITION BY lang ORDER BY u28, doc_id) AS rk
        |  FROM d CROSS JOIN c)
        |SELECT lang, count(*)::BIGINT AS n_before,
        |  sum(CASE WHEN rk <= cap THEN 1 ELSE 0 END)::BIGINT AS n_after,
        |  sum(CASE WHEN rk <= cap THEN doc_id ELSE 0 END)::BIGINT
        |    AS kept_id_checksum
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "pipeline_mix_temperature" ->
      """WITH per AS (
        |  SELECT lang, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT sum(pow(n_tokens::DOUBLE, 0.3)) AS z FROM per)
        |SELECT lang, n_tokens,
        |  floor((pow(n_tokens::DOUBLE, 0.3) / z)*10000 + 0.5)/10000 AS weight
        |FROM per CROSS JOIN tot ORDER BY lang""".stripMargin,
    "pipeline_curation_funnel" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, text, len(toks) AS nt,
        |  len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in'))) AS ns,
        |  [toks[i] || ' ' || toks[i + 1] for i in range(1, len(toks))] AS bi
        |  FROM t),
        |r AS (SELECT doc_id, nt, ns,
        |  (nt - 1 - len(list_distinct(bi)))::DOUBLE / (nt - 1) AS rep,
        |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM s),
        |f AS (SELECT
        |  nt >= 30 AS s1,
        |  nt >= 30 AND ns::DOUBLE / nt >= 0.02 AS s2,
        |  nt >= 30 AND ns::DOUBLE / nt >= 0.02 AND rn = 1 AS s3,
        |  nt >= 30 AND ns::DOUBLE / nt >= 0.02 AND rn = 1 AND rep < 0.2 AS s4
        |  FROM r)
        |SELECT count(*)::BIGINT AS n_total,
        |  sum(CASE WHEN s1 THEN 1 ELSE 0 END)::BIGINT AS n_length,
        |  sum(CASE WHEN s2 THEN 1 ELSE 0 END)::BIGINT AS n_stopword,
        |  sum(CASE WHEN s3 THEN 1 ELSE 0 END)::BIGINT AS n_deduped,
        |  sum(CASE WHEN s4 THEN 1 ELSE 0 END)::BIGINT AS n_final
        |FROM f""".stripMargin,
    "pipeline_mix_manifest" ->
      """WITH per AS (
        |  SELECT lang, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (
        |  SELECT sum(n_tokens)::BIGINT AS total, count(*)::BIGINT AS n_langs
        |  FROM per)
        |SELECT lang, n_tokens,
        |  floor((least(1.0, (total::DOUBLE / n_langs) / n_tokens))*10000
        |    + 0.5)/10000 AS sample_rate
        |FROM per CROSS JOIN tot ORDER BY lang""".stripMargin,
    // Same QI as privacy_k_anonymity, group-grain ×4 explode.
    "privacy_suppression_curve" ->
      """WITH g AS (
        |  SELECT lang, source, n_chars // 100 AS len_bucket,
        |    count(*)::BIGINT AS gs
        |  FROM documents GROUP BY 1, 2, 3),
        |x AS (
        |  SELECT gs, k FROM g
        |  CROSS JOIN (SELECT unnest([2, 5, 10, 20]) AS k) l)
        |SELECT k, count(*)::BIGINT AS n_groups,
        |  sum(CASE WHEN gs < k THEN 1 ELSE 0 END)::BIGINT
        |    AS n_small_groups,
        |  sum(CASE WHEN gs < k THEN gs ELSE 0 END)::BIGINT AS n_suppressed,
        |  sum(gs)::BIGINT AS n_rows,
        |  floor((sum(CASE WHEN gs < k THEN gs ELSE 0 END)::DOUBLE
        |    / sum(gs)::BIGINT) * 10000 + 0.5) / 10000 AS suppressed_frac
        |FROM x GROUP BY k ORDER BY k""".stripMargin
  )
}
