package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.TestData
import graft.TestData.r4

/** §2.J text / LLM-data-pipeline operators (SURVEY.md): tokenize
  * stats, word counts, bigrams, exact + Jaccard dedup, MinHash-LSH,
  * deterministic featurization.
  *
  * Scale notes: bigrams are built with a single array-transform pass
  * (no positional self-join — one scan, no shuffle before the count).
  * Exact dedup is one hash-groupBy (the only shape that works at
  * 100 TB). Token-set Jaccard is the exact O(pairs) baseline blocked
  * by language; `dedup_minhash_lsh` is the declared sub-quadratic
  * path: MinHash signatures + banded bucket join so only same-bucket
  * candidates are compared.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  /** Canonical content hash for exact dedup (shared with the
    * index-build pipeline so both dedup identically).
    */
  def contentHash: org.apache.spark.sql.Column = md5(lower(trim(col("text"))))

  /** Exact token-set Jaccard-scored same-lang pairs (id_a < id_b) —
    * shared by `dedup_jaccard_pairs` and the component-formation edge
    * stage. Plan shape: a SHUFFLE join on the block key, never a
    * broadcast of the corpus — both sides hash-partition by block key
    * so no executor ever holds the whole table (the round-1 broadcast
    * form OOMs at 100 TB).
    *
    * The block key is (lang, log-scale size bucket): jac(A,B) > 0.9
    * forces |A|/|B| ∈ (0.9, 1/0.9), i.e. log₁₀ᐟ₉-bucketed sizes
    * differing by ≤ 1 — so blocking on own + adjacent size buckets
    * (side a emits all three, the ±1 adjacency becomes an equi key)
    * loses NO qualifying pair, while (a) keys fan out to
    * langs × ~40 size buckets instead of 5 langs — real parallelism
    * at scale — and (b) cross-size candidates are never generated.
    * The residual integer guard min·10 > max·9 removes same-bucket
    * pairs whose sizes still violate the ratio before the per-pair
    * intersect (codegen'd sorted-merge over pre-hashed arrays) runs.
    * Within-block work is still O(block²) — that is what makes this
    * the *exact baseline*; `dedup_minhash_lsh` is the sub-quadratic
    * scale path. Blocking is sound, so the DuckDB oracle keeps the
    * plain unblocked form.
    *
    * Input columns: (doc_id, lang, text). `threshold` ∈ (0, 1).
    */
  def jaccardPairs(documents: DataFrame,
                   threshold: Double = 0.9): DataFrame =
    jaccardSetPairs(
      documents.select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("elems")),
      threshold)

  /** The blocked-join core behind [[jaccardPairs]] and
    * `dedup_ngram_jaccard`: exact Jaccard > `threshold` over an
    * arbitrary set-valued column. Input: (doc_id, lang,
    * elems: ARRAY<STRING> of DISTINCT elements). Elements are hashed
    * once per doc (`xxhash64`, sorted), so each candidate pair costs
    * one codegen'd sorted-merge intersect on fixed-width longs.
    */
  def jaccardSetPairs(sets: DataFrame, threshold: Double): DataFrame =
    // r18: intersect ONCE in a projection behind a checkpoint fence —
    // un-fenced, the jac > t readout was substituted into the JOIN
    // CONDITION where its ratio ran sorted_intersect_count TWICE per
    // hash-matched pair, FIRST in the conjunct list (the
    // dedup_fuzzy_pairs plan pathology). The fence pays here because
    // the kernel is an O(|a|+|b|) merge over token-hash arrays
    // (measured: memo build 2.13 → 1.39 s); the CHEAP kernels
    // (bitmap popcount, cosine — see jaccardBitmapSetPairs /
    // containmentBitmapPairs / dup_pairs_cosine) measured WORSE
    // fenced (e.g. ngram 2.27 → 2.63 s: persisting the candidate set
    // costs more than their duplicated evaluation) and stay
    // un-fenced.
    jaccardSetScored(sets, threshold)
      .ckpt()
      .withColumn("jac", col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") > threshold)
      .select(col("id_a"), col("id_b"), col("jac"))

  /** [[jaccardSetPairs]]'s blocked candidate join + one-shot
    * intersect projection, PRE-checkpoint — exposed so PlanSpec can
    * pin the shuffle-join shape the fence hides from the keys.
    */
  private[graft] def jaccardSetScored(sets: DataFrame,
                                      threshold: Double): DataFrame = {
    val docs = sets
      .select(col("doc_id"), col("lang"),
        array_sort(transform(col("elems"), t => xxhash64(t))).as("th"))
      .withColumn("nt", size(col("th")))
      .withColumn("sb",
        floor(log(col("nt").cast("double")) / lit(math.log(1.0 / threshold)))
          .cast("int"))
    val a = docs.select(col("doc_id").as("id_a"), col("lang").as("la"),
        col("th").as("ta"), col("nt").as("na"),
        explode(array(col("sb") - 1, col("sb"), col("sb") + 1)).as("bk"))
    val b = docs.select(col("doc_id").as("id_b"), col("lang").as("lb"),
        col("th").as("tb"), col("nt").as("nb"), col("sb").as("bb"))
    a.join(b.hint("shuffle_hash"),
        col("la") === col("lb") && col("bk") === col("bb")
          && col("id_a") < col("id_b")
          && least(col("na"), col("nb")).cast("double")
               > greatest(col("na"), col("nb")) * threshold)
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        sortedIntersect(col("ta"), col("tb")).as("inter"))
  }

  /** The size of the intersection of two sorted hash arrays. */
  private def sortedIntersect(a: Column, b: Column): Column = {
    import graft.functions.SortedIntersectCount
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))
  }

  /** One (doc_id, lang, n, g) row per element hash g of each doc's
    * sorted hash set `th` of size n.
    */
  private def hashGrams(t: DataFrame): DataFrame =
    t.select(col("doc_id"), col("lang"), col("n"), explode(col("th")).as("g"))

  /** The prefix filter of a set-similarity join: each doc's grams
    * ranked rarest first (per-lang document frequency, ties by hash)
    * and kept while `keep` holds of the rank `rk`: (doc_id, lang, g).
    */
  private def rarePrefix(grams: DataFrame, keep: Column): DataFrame = {
    val freq = grams.groupBy("lang", "g").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("g"))
    grams.join(freq, Seq("lang", "g"))
      .withColumn("rk", row_number().over(w))
      .filter(keep)
      .select(col("doc_id"), col("lang"), col("g"))
  }

  /** PREFIX-FILTERED exact Jaccard set-similarity self-join (the
    * AllPairs/PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008):
    * each doc contributes only its p = n − ⌊t·n⌋ globally-RAREST
    * elements (canonical order: ascending per-lang document
    * frequency, ties by element) as candidate keys; two docs can
    * exceed Jaccard t only if |A∩B| > t·max(|A|,|B|), and by the
    * prefix lemma any such pair must share an element within both
    * prefixes — so the prefix-key equi-join is a SOUND candidate
    * generator. Random pairs rarely share *rare* elements, so the
    * candidate set collapses where plain size-blocking stays
    * quadratic (measured 11.7 s → ~2 s for `dedup_ngram_jaccard` at
    * sf0.1). All stages are shuffles (explode → freq agg → prefix
    * join → verify); nothing broadcasts the corpus.
    *
    * Input/output contract identical to [[jaccardSetPairs]].
    */
  def jaccardPrefixSetPairs(sets: DataFrame, threshold: Double): DataFrame = {
    val docs = sets
      .select(col("doc_id"), col("lang"),
        array_sort(transform(col("elems"), t => xxhash64(t))).as("th"))
      .withColumn("n", size(col("th")))
    val prefix = rarePrefix(hashGrams(docs),
      col("rk") <= col("n") - floor(col("n") * threshold))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.lang") === col("y.lang") && col("x.g") === col("y.g")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val side = docs.select(col("doc_id"), col("th"), col("n"))
    cand
      .join(side.select(col("doc_id").as("id_a"), col("th").as("ta"),
                        col("n").as("na")), "id_a")
      .join(side.select(col("doc_id").as("id_b"), col("th").as("tb"),
                        col("n").as("nb")), "id_b")
      .withColumn("inter", sortedIntersect(col("ta"), col("tb")))
      .withColumn("jac", col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") > threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** BITMAP exact Jaccard set-similarity self-join for SMALL element
    * universes: build a per-lang dense dictionary (element → bit
    * index, deterministic alphabetical order), encode each doc's set
    * as a fixed array of longs, and score each candidate pair with
    * AND + popcount over ~⌈universe/64⌉ words instead of an
    * O(|A|+|B|) merge.
    *
    * Strategy choice, measured at sf0.1 on `dedup_ngram_jaccard`
    * (3-gram universe = 377 grams/lang, corpus 5 000 docs):
    * plain size-blocked merge join 11.7 s; prefix-filtered
    * (AllPairs) 17.8 s — rare-gram prefixes don't exist in a
    * 377-gram universe, so the prefix join explodes; THIS bitmap
    * core 2.4 s (three-run median at local[32], round 5 — the
    * round-4 single-shot 8.0 s was attribution jitter, which is why
    * Bench now reports per-key medians). On natural text (element universe in the millions)
    * the ranking inverts: the dictionary no longer fits a broadcast
    * and [[jaccardPrefixSetPairs]] is the right core — pick by
    * universe size, exactly as production set-join engines do.
    * The broadcast here is the DICTIONARY (universe-sized), never
    * the corpus.
    */
  def jaccardBitmapSetPairs(sets: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val encoded = bitmapEncode(sets)
    // Same sound (lang, log-size-bucket ±1) blocking as the merge
    // core — but n-gram set sizes are homogeneous, so nearly every
    // doc lands in ONE bucket and a plain (lang, bucket) shuffle has
    // ~10 effective keys: parallelism collapse. SALT the block key:
    // side a keeps its own salt (id mod S), side b replicates to all
    // S salts — each pair is still generated exactly once (its
    // bucket and a's salt are unique), but the all-pairs work spreads
    // over langs × buckets × S reducers. The replicated side carries
    // only ~8-byte-per-word bitmaps, so the ×S shuffle stays tiny.
    val S = saltWidth(sets)
    val bucketed = encoded.withColumn("sb",
      floor(log(col("n").cast("double")) / lit(math.log(1.0 / threshold)))
        .cast("int"))
    val a = bucketed.select(col("doc_id").as("id_a"), col("lang").as("la"),
      col("bm").as("ba"), col("n").as("na"),
      pmod(col("doc_id"), lit(S)).cast("int").as("salt_a"),
      explode(array(col("sb") - 1, col("sb"), col("sb") + 1)).as("bk"))
    val b = bucketed.select(col("doc_id").as("id_b"), col("lang").as("lb"),
      col("bm").as("bb"), col("n").as("nb"), col("sb").as("sbb"),
      explode(expr(s"sequence(0, ${S - 1})")).as("salt_b"))
    a.join(b.hint("shuffle_hash"),
        col("la") === col("lb") && col("bk") === col("sbb")
          && col("salt_a") === col("salt_b")
          && col("id_a") < col("id_b")
          && least(col("na"), col("nb")).cast("double")
               > greatest(col("na"), col("nb")) * threshold)
      .withColumn("inter", Bridge.column(graft.functions.BitmapIntersectCount(
        Bridge.expression(col("ba")), Bridge.expression(col("bb")))))
      .withColumn("jac", col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") > threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Salt width for the replicated-side blocked joins: sized from the
    * session's scheduler parallelism (so pair work spreads across
    * whatever cluster this runs on, not a constant tuned for one box),
    * floored at 16 so small local runs still get multi-reducer spread.
    * Half the parallelism suffices because the salt MULTIPLIES the
    * (lang × bucket) block keys, which already number ≥ 2× the
    * langs — and the replicated side's shuffle volume scales with S,
    * so overshooting costs real bytes (measured: S=32 at local[32]
    * added ~0.4 s to each bitmap-core key vs S=16). Results are
    * S-invariant — S only distributes the same pairs.
    */
  private def saltWidth(sets: DataFrame): Int =
    math.max(16, sets.sparkSession.sparkContext.defaultParallelism / 2)

  /** Scale-adaptive scan spread for per-doc kernel pipelines
    * (guide §2.5): a fixture-scale documents scan plans 1-2 input
    * splits, so every downstream per-doc kernel (WordShingles,
    * CharNgrams, the explode → dict-join map side) ran
    * single-threaded — measured dedup_ngram_jaccard 1.87 -> 1.23 s
    * with the spread. At real scale the scan already has >= the
    * target split count and this is a structural NO-OP (no
    * repartition node is added), so the full-text shuffle is never
    * paid where it wouldn't help. Width = [[saltWidth]], the
    * session-derived parallelism, never a local constant.
    */
  private[graft] def spreadScan(df: DataFrame): DataFrame = {
    val w = saltWidth(df)
    if (df.rdd.getNumPartitions >= w) df else df.repartition(w)
  }

  /** Per-lang dictionary-bitmap encode shared by the bitmap set-join
    * cores: element → dense bit index (deterministic alphabetical
    * order), each doc's set folded into a fixed array of longs.
    * Checkpointed — the self-join branches downstream would otherwise
    * recompute the whole encode lineage (explode → dict join →
    * collect_set → bitmap fold), which dominated the measured runtime.
    * Output: (doc_id, lang, bm ARRAY<LONG>, n). The broadcasts are the
    * DICTIONARY and the per-lang widths (universe-sized), never the
    * corpus.
    */
  def bitmapEncode(sets: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val docs = sets.select(col("doc_id"), col("lang"),
      array_distinct(col("elems")).as("es"))
    val elems = docs.select(col("doc_id"), col("lang"),
      explode(col("es")).as("g"))
    val dict = elems.select("lang", "g").distinct()
      .withColumn("idx",
        row_number().over(Window.partitionBy("lang").orderBy("g")) - 1)
    val widths = dict.groupBy("lang").agg((max("idx") / 64 + 1)
      .cast("int").as("nwords"))
    elems.join(broadcast(dict), Seq("lang", "g"))
      // r19 (guide §2.5 parallelism): keyed user repartition so the
      // collect_set + bitmap-fold reduce side keeps [[saltWidth]]
      // tasks — its ENSURE_REQUIREMENTS exchange was AQE-coalesced
      // to ONE task (tiny bytes, real per-doc fold CPU; measured
      // dedup_ngram_jaccard 1.20 -> 1.38-1.97 s without it). The
      // groupBy rides this exchange (same keys): no exchange added.
      .repartition(saltWidth(sets), col("doc_id"), col("lang"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(collect_set(col("idx")).as("idxs"))
      .join(broadcast(widths), "lang")
      .withColumn("bm", Bridge.column(graft.functions.BitsetFromIndices(
        Bridge.expression(col("idxs")), Bridge.expression(col("nwords")))))
      .withColumn("n", size(col("idxs")))
      .select("doc_id", "lang", "bm", "n")
      .ckpt()
  }

  /** Directional CONTAINMENT pairs |A∩B|/|A| ≥ `threshold` over an
    * arbitrary set-valued column, bitmap core. Containment admits NO
    * sound size blocking (a tiny A can be fully contained in any
    * B ≥ t·|A|), so candidates are the salted per-lang all-pairs —
    * affordable exactly because each pair costs an AND+popcount over
    * a few words. Each unordered pair is scored once and exploded
    * into its two directions. On a large element universe the
    * dictionary stops broadcasting and the prefix-filter form
    * (A's rarest elements joined against full postings — sound by the
    * prefix lemma adapted to containment: if A∩B misses all of A's
    * (n − ⌈t·n⌉ + 1) rarest elements then |A∩B| < t·n) takes over;
    * DedupSpec pins that both exact cores agree. Output:
    * (id_a = contained, id_b = container, n_shared, n_a, containment).
    */
  def containmentBitmapPairs(sets: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    require(threshold == 0.9, "integer verify predicate is wired for t=0.9")
    // 64-bit coarse signature = OR-fold of the bitmap words (bit j set
    // iff some element has idx ≡ j mod 64). popcount(sigA & ~sigB) is
    // a LOWER bound on |A \ B| (distinct signature bits come from
    // distinct elements), so a pair can satisfy containment in SOME
    // direction only if one side's missing-bit count × 10 fits its
    // 10 % budget — a 2-long codegen predicate that kills ~all of the
    // per-lang all-pairs before the ⌈universe/64⌉-word full popcount
    // (which dominated the measured runtime: 16 words × 2.4 M pairs).
    val encoded = bitmapEncode(sets)
      .withColumn("sig", expr("aggregate(bm, 0L, (acc, w) -> acc | w)"))
    val S = saltWidth(sets)
    // r19: explicit a/b-side repartitions on the salt keys were
    // TRIED here and in jaccardBitmapSetPairs and measured a LOSS
    // (containment 1.48-1.61 without vs 1.64-1.78 with; ngram flat):
    // after the coarse-signature/bucket pre-filters the join itself
    // is cheap, so the two extra exchanges never pay. The real
    // single-task culprits were the scan (spreadScan) and the
    // bitmap-fold exchange (bitmapEncode).
    val a = encoded.select(col("doc_id").as("ida"), col("lang").as("la"),
      col("bm").as("ba"), col("n").as("na"), col("sig").as("sa"),
      pmod(col("doc_id"), lit(S)).cast("int").as("salt_a"))
    val b = encoded.select(col("doc_id").as("idb"), col("lang").as("lb"),
      col("bm").as("bb"), col("n").as("nb"), col("sig").as("sb"),
      explode(expr(s"sequence(0, ${S - 1})")).as("salt_b"))
    a.join(b.hint("shuffle_hash"),
        col("la") === col("lb") && col("salt_a") === col("salt_b")
          && col("ida") < col("idb")
          && (expr("bit_count(sa & ~sb) * 10 <= na")
              || expr("bit_count(sb & ~sa) * 10 <= nb")))
      .withColumn("inter", Bridge.column(graft.functions.BitmapIntersectCount(
        Bridge.expression(col("ba")), Bridge.expression(col("bb")))))
      // Kill ~all pairs BEFORE the direction explode: a direction can
      // only qualify if inter covers 90 % of the SMALLER side, and
      // this integer predicate evaluates inside the join's codegen
      // stage, where the Generate below would break the pipeline.
      .filter(col("inter") * 10 >= least(col("na"), col("nb")) * 9)
      .select(explode(array(
        struct(col("ida").as("id_a"), col("idb").as("id_b"),
               col("inter"), col("na").as("n_c")),
        struct(col("idb").as("id_a"), col("ida").as("id_b"),
               col("inter"), col("nb").as("n_c")))).as("e"))
      .select(col("e.id_a"), col("e.id_b"), col("e.inter"), col("e.n_c"))
      // exact-integer containment predicate for t = 0.9
      .filter(col("inter") * 10 >= col("n_c") * 9)
      .select(col("id_a"), col("id_b"),
        col("inter").cast("long").as("n_shared"),
        col("n_c").cast("long").as("n_a"),
        r4(col("inter").cast("double") / col("n_c")).as("containment"))
  }

  /** Per-lang element-universe cap under which the bitmap core is the
    * right containment/jaccard engine: the dictionary broadcast stays
    * KB-scale and the per-pair AND+popcount stays ≤ cap/64 words. Past
    * it, rare-element prefixes start existing and the prefix-filter
    * core wins (the crossover measured on the fixture: bitmap ~2 s vs
    * prefix 5.4 s at universe ≤ 31²; on natural text the ranking
    * inverts). 4096 elems = 64-word bitmaps — 4× the fixture's pair
    * cost, still far below a merge over raw element lists.
    */
  private[graft] val BitmapUniverseCap = 4096L

  /** Max per-lang distinct-element count, the statistic the core
    * choice keys on. One cheap two-phase aggregate (approx-distinct
    * partials map-side) + a bounded single-row collect — the same
    * stats-probe-then-plan shape a cost-based optimizer uses, and at
    * 100 TB this is the only part that touches the corpus twice.
    */
  private[graft] def maxLangUniverse(sets: DataFrame): Long = {
    val r = sets
      .select(col("lang"), explode(array_distinct(col("elems"))).as("g"))
      .groupBy("lang").agg(approx_count_distinct(col("g")).as("u"))
      .agg(coalesce(max(col("u")), lit(0L)).as("m"))
      .collect()
    if (r.isEmpty) 0L else r(0).getLong(0)
  }

  /** Auto-selecting directional-containment core: bitmap while every
    * per-lang dictionary is broadcast-safe, prefix-filter otherwise.
    * Both cores are exact (DedupSpec pins them equal to brute force),
    * so the switch is purely a cost decision — results are identical.
    */
  def containmentPairs(sets: DataFrame, threshold: Double): DataFrame =
    if (maxLangUniverse(sets) <= BitmapUniverseCap)
      containmentBitmapPairs(sets, threshold)
    else containmentPrefixPairs(sets, threshold)

  /** Prefix-filtered directional containment (the large-universe
    * core): A contributes its (n − ⌈t·n⌉ + 1) rarest elements as
    * candidate keys against B's FULL postings — sound (see
    * [[containmentBitmapPairs]]); exact verify via the codegen'd
    * sorted-merge intersect with the same integer predicate.
    */
  def containmentPrefixPairs(sets: DataFrame, threshold: Double): DataFrame = {
    require(threshold == 0.9, "integer verify predicate is wired for t=0.9")
    val t = sets
      .select(col("doc_id"), col("lang"),
        array_sort(transform(array_distinct(col("elems")), x => xxhash64(x)))
          .as("th"))
      .withColumn("n", size(col("th")))
    val grams = hashGrams(t)
    val prefix = rarePrefix(grams,
      col("rk") <= col("n") - expr("(n * 9 + 9) DIV 10") + 1)
    val cand = prefix
      .join(grams.select(col("doc_id").as("cb"), col("lang").as("lb"),
          col("g").as("gb")).hint("shuffle_hash"),
        col("lang") === col("lb") && col("g") === col("gb")
          && col("doc_id") =!= col("cb"))
      .select(col("doc_id").as("id_a"), col("cb").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val side = t.select(col("doc_id"), col("th"), col("n"))
    cand
      .join(side.select(col("doc_id").as("id_a"), col("th").as("ta"),
        col("n").as("na")), "id_a")
      .join(side.select(col("doc_id").as("id_b"), col("th").as("tb")), "id_b")
      .withColumn("inter", sortedIntersect(col("ta"), col("tb")))
      .filter(col("inter") * 10 >= col("na") * 9)
      .select(col("id_a"), col("id_b"),
        col("inter").cast("long").as("n_shared"),
        col("na").cast("long").as("n_a"),
        r4(col("inter").cast("double") / col("na")).as("containment"))
  }

  /** Word-2-shingle set per doc — the element sets the containment
    * cores run on (token sets are too coarse: the fixture vocabulary
    * is 31 tokens, so every doc "contains" every other).
    */
  def shingleSets(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    // r19: spread the raw docs BEFORE the per-doc shingle kernel
    // (and the maxLangUniverse probe job that consumes this frame) —
    // see [[spreadScan]]. Column pruning puts only (doc_id, lang,
    // text) under the exchange; the kernel stays above it.
    spreadScan(documents)
      .select(col("doc_id"), col("lang"),
        Bridge.column(graft.functions.WordShingles(
          Bridge.expression(col("text")), Bridge.expression(lit(2))))
          .as("elems"))
      .filter(size(col("elems")) >= 1)
  }

  /** Per-session memo of the fixture's exact Jaccard pairs: THREE
    * declared keys consume the same pair list in one run
    * (`dedup_jaccard_pairs` directly; `dedup_components` /
    * `dedup_survivors` as their edge stage via GraphOps) — materialize
    * it once per (session, input) instead of re-running the blocked
    * join per key. The result is a few-thousand-row (id_a, id_b, jac)
    * frame, checkpointed. Plan-shape coverage for the underlying
    * pipeline moves to [[jaccardPairs]] itself (PlanSpec builds it
    * directly), since the declared key now plans as a checkpoint scan.
    */
  private val pairsMemo = new graft.SessionMemo[DataFrame]

  def fixtureJaccardPairs(s: SparkSession, d: String): DataFrame =
    pairsMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "documents"),
      jaccardPairs(TestData.documents(s, d)).ckpt())

  /** Memoized MinHash-LSH near-dup pairs over the documents fixture —
    * shared by `dedup_minhash_lsh` and the component/cluster consumers
    * (the banded signature + verify pipeline is the expensive part;
    * the pair list is 3 scalars/pair).
    */
  private val mhPairsMemo = new graft.SessionMemo[DataFrame]

  def fixtureMinhashPairs(s: SparkSession, d: String): DataFrame =
    mhPairsMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "documents"), {
        val docs = TestData.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id").as("id"), col("lang").as("blockKey"),
            graft.functions.MinHashLsh.shinglesFromTokens(col("toks"))
              .as("shingles"))
        graft.functions.MinHashLsh.nearDupPairs(docs, 0.9).ckpt()
      })

  /** The jaccard detector of [[plantedDetectorScores]] at five
    * thresholds (micro-unit score ≥ threshold_u flags a pair): true
    * and false positives tp / fp, and the planted positives n_pos and
    * negatives n_neg.
    */
  private def jaccardThresholdCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = plantedDetectorScores(s, d)
      .filter(col("detector") === "jaccard")
      .groupBy("score_u")
      .agg(sum("is_pos").as("pos"),
        sum(lit(1L) - col("is_pos")).as("neg"))
    val thr = Seq(5000L, 7000L, 8000L, 9000L, 9500L)
      .toDF("threshold_u")
    cells.crossJoin(broadcast(thr))
      .groupBy("threshold_u")
      .agg(sum(when(col("score_u") >= col("threshold_u"), col("pos"))
          .otherwise(0L)).as("tp"),
        sum(when(col("score_u") >= col("threshold_u"), col("neg"))
          .otherwise(0L)).as("fp"),
        sum("pos").as("n_pos"), sum("neg").as("n_neg"))
  }

  /** Memoized planted-dup detector evaluation corpus (round 14):
    * every 5th doc gets a near-dup variant (3 appended novel tokens,
    * id + 1e6), then BOTH detectors score ALL same-lang pairs —
    * token-set Jaccard (1e-4 units) and SimHash bit agreement (60 −
    * Hamming) — with is_pos = (id_b = id_a + 1e6 ∧ id_a % 5 = 0).
    * Shared by `eval_detector_auc` and `dedup_threshold_sweep` (the
    * two pair joins are the expensive stage; the readouts are
    * grid-sized). Columns: (id_a, id_b, detector, score_u, is_pos).
    * Evaluation-sample shape by design: the per-lang all-pairs join
    * runs on the labeled eval corpus, never the full corpus.
    */
  private val detectorScoresMemo = new graft.SessionMemo[DataFrame]

  private[graft] def plantedDetectorScores(s: SparkSession,
                                           d: String): DataFrame =
    detectorScoresMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "documents"), {
        import org.apache.spark.sql.graft.Bridge
        import graft.functions.SortedIntersectCount
        val docs = TestData.documents(s, d).select("doc_id", "lang", "text")
        val planted = docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            concat(col("text"), lit(" zq1 zq2 zq3")).as("text"))
        // two detectors × two join sides consume the planted corpus
        val corpus = docs.unionAll(planted).ckpt()
        val toks = corpus.select(col("doc_id"), col("lang"),
            array_sort(transform(array_distinct(split(col("text"), " ")),
              t => xxhash64(t))).as("th"))
          .withColumn("nt", size(col("th")))
        val ta = toks.select(col("doc_id").as("id_a"), col("lang").as("la"),
          col("th").as("ha"), col("nt").as("na"))
        val tb = toks.select(col("doc_id").as("id_b"), col("lang").as("lb"),
          col("th").as("hb"), col("nt").as("nb"))
        val isect = Bridge.column(SortedIntersectCount(
          Bridge.expression(col("ha")), Bridge.expression(col("hb"))))
        val jacPairs = ta.join(tb.hint("shuffle_hash"),
            col("la") === col("lb") && col("id_a") < col("id_b"))
          .withColumn("inter", isect)
          .select(col("id_a"), col("id_b"), lit("jaccard").as("detector"),
            floor(col("inter").cast("double")
                / (col("na") + col("nb") - col("inter")) * 10000 + 0.5)
              .cast("long").as("score_u"))
        val sims = TextAnalysis.simhashOf(corpus)
          .join(corpus.select("doc_id", "lang"), Seq("doc_id"))
        val sa = sims.select(col("doc_id").as("id_a"), col("lang").as("la"),
          col("simhash").as("sha"))
        val sb = sims.select(col("doc_id").as("id_b"), col("lang").as("lb"),
          col("simhash").as("shb"))
        val simPairs = sa.join(sb.hint("shuffle_hash"),
            col("la") === col("lb") && col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), lit("simhash").as("detector"),
            (lit(60L) - bit_count(col("sha").bitwiseXOR(col("shb")))
              .cast("long")).as("score_u"))
        jacPairs.unionByName(simPairs)
          .withColumn("is_pos",
            when(col("id_b") === col("id_a") + 1000000L
              && col("id_a") % 5 === 0, 1L).otherwise(0L))
          // r19 (guide §2.4 — share one exchange): the memo
          // materializes HASH-PARTITIONED BY PAIR, and localCheckpoint
          // preserves the partitioning through the LogicalRDD, so
          // eval_delong_compare's A-side/B-side self-join on
          // (id_a, id_b) is co-partitioned and plans with ZERO
          // exchanges (both sides derive from this one leaf; the
          // alias-aware partitioning survives the renames). The
          // aggregate consumers (detectorAuc, brier, log_loss, ...)
          // are partial-aggregation keys — their exchange carries
          // cell counts regardless of input partitioning. One
          // build-time exchange buys every pair-grain consumer out of
          // its per-run pair shuffle.
          .repartition(col("id_a"), col("id_b"))
          .ckpt()
      })

  /** Exact ROC-AUC + step-form PR-AUC (average precision) per
    * detector, from a scored-pair frame with columns
    * (detector: STRING, score_u: BIGINT — quantized score, higher =
    * more positive, is_pos: BIGINT 0/1). AUC via the Mann-Whitney
    * rank-sum identity over the score-DISTINCT cell grid: in 2×
    * units (ties count 1), auc2_num = Σ_v pos(v)·(2·cum_neg(<v) +
    * neg(v)) — exact BIGINT, grid bounded by the score DOMAIN.
    * PR-AUC = Σ_v (pos(v)/n_pos)·precision(≥v) with the per-cell
    * term micro-quantized before the sum (PSI/entropy precedent);
    * the precision denominator cum_pos_ge + cum_neg_ge ≥ 1 on every
    * grid row by construction (a cell exists ⇒ ≥ 1 pair), so no x/0
    * site. Degenerate one-class inputs ⇒ auc NULL (pr_auc NULL when
    * n_pos = 0). Shared by `eval_detector_auc` and the facade's
    * `detectorAuc` (parity-pinned in EngineApiSpec); the grid ≡
    * brute-force-pairwise identity is pinned in ClosedFormProps.
    */
  /** Brier score + Murphy decomposition core (see
    * `eval_brier_score`): input (score_u: BIGINT 1e-4-unit score,
    * is_pos: BIGINT 0/1) rows, output the 1-row readout. BS
    * numerator Σ(score_u − y·1e4)² exact BIGINT (term ≤ 1e8 ⇒ safe
    * to ~9e10 pairs); reliability = Σ gap²//n_b over DIV-1000 bins
    * (all positive ⇒ Spark DIV ≡ DuckDB //; needs n_b < 3e5 — split
    * bins past that); resolution terms micro-quantized per bin
    * before the sum. Shared with `GraftEngine.brierScore`.
    */
  /** Cumulative gains/lift by score band core (see
    * `eval_lift_curve`): (score_u, is_pos) rows → the descending
    * DIV-1000 band table with cum recall (gain) and precision
    * multiple (lift). Shared with `GraftEngine.liftCurve`.
    */
  private[graft] def liftCurve(scored: DataFrame): DataFrame = {
    val W = Window.partitionBy(lit(1))
    val Wd = Window.orderBy(col("bin").desc)
    scored
      .withColumn("bin", expr("score_u DIV 1000"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"), sum("is_pos").as("n_pos"))
      .withColumn("cum_pairs", sum("n_pairs").over(
        Wd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_pos", sum("n_pos").over(
        Wd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nn", sum("n_pairs").over(W))
      .withColumn("pp", sum("n_pos").over(W))
      .withColumn("gain", when(col("pp") > 0,
        r4(col("cum_pos").cast("double") / col("pp").cast("double"))))
      .withColumn("lift", when(col("pp") > 0 && col("cum_pairs") > 0,
        r4((col("cum_pos").cast("double")
          / col("cum_pairs").cast("double"))
          / (col("pp").cast("double") / col("nn").cast("double")))))
      .select("bin", "n_pairs", "n_pos", "cum_pairs", "cum_pos",
        "gain", "lift")
      .orderBy(col("bin").desc)
  }

  private[graft] def brierScore(scored: DataFrame): DataFrame = {
    val W = Window.partitionBy(lit(1))
    scored
      .withColumn("bin", expr("score_u DIV 1000"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_b"), sum("is_pos").as("pos_b"),
        sum("score_u").as("s_b"),
        sum((col("score_u") - col("is_pos") * 10000L)
          * (col("score_u") - col("is_pos") * 10000L)).as("sq_b"))
      .withColumn("gap_num", abs(col("pos_b") * 10000L - col("s_b")))
      .withColumn("rel_t", expr("(gap_num * gap_num) DIV n_b"))
      .withColumn("nn", sum("n_b").over(W))
      .withColumn("pp", sum("pos_b").over(W))
      .withColumn("res_u", floor(col("n_b").cast("double")
        * (col("pos_b").cast("double") / col("n_b").cast("double")
          - col("pp").cast("double") / col("nn").cast("double"))
        * (col("pos_b").cast("double") / col("n_b").cast("double")
          - col("pp").cast("double") / col("nn").cast("double"))
        * 1000000 + 0.5).cast("long"))
      .agg(max("nn").as("n_pairs"), max("pp").as("n_pos"),
        sum("sq_b").as("bs_num"), sum("rel_t").as("rel_num"),
        sum("res_u").as("res_micro"))
      .withColumn("brier", when(col("n_pairs") > 0,
        r4(col("bs_num").cast("double")
          / (col("n_pairs") * 100000000L).cast("double"))))
      .withColumn("reliability", when(col("n_pairs") > 0,
        r4(col("rel_num").cast("double")
          / (col("n_pairs") * 100000000L).cast("double"))))
      .withColumn("resolution", when(col("n_pairs") > 0,
        r4(col("res_micro").cast("double")
          / (col("n_pairs").cast("double") * 1000000.0))))
      .withColumn("uncertainty", when(col("n_pairs") > 0,
        r4(col("n_pos").cast("double") / col("n_pairs").cast("double")
          * (lit(1.0) - col("n_pos").cast("double")
            / col("n_pairs").cast("double")))))
      .select("n_pairs", "n_pos", "brier", "reliability",
        "resolution", "uncertainty")
  }

  private[graft] def detectorAuc(scored: DataFrame): DataFrame = {
    val W = Window.partitionBy("detector").orderBy("score_u")
    val Wd = Window.partitionBy("detector").orderBy(col("score_u").desc)
    scored
      .groupBy("detector", "score_u")
      .agg(sum("is_pos").as("pos"),
        sum(lit(1L) - col("is_pos")).as("neg"))
      .withColumn("cum_neg_lt", coalesce(sum("neg").over(
        W.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cum_pos_ge", sum("pos").over(
        Wd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_neg_ge", sum("neg").over(
        Wd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ap_term_u",
        floor(col("pos").cast("double") * col("cum_pos_ge").cast("double")
            / (col("cum_pos_ge") + col("cum_neg_ge")).cast("double")
            * 1000000 + 0.5).cast("long"))
      .groupBy("detector")
      .agg(sum("pos").as("n_pos"), sum("neg").as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cum_neg_lt") + col("neg")))
          .as("auc2_num"),
        sum("ap_term_u").as("ap_sum_u"))
      .withColumn("auc", when(col("n_pos") > 0 && col("n_neg") > 0,
        r4(col("auc2_num").cast("double")
          / (lit(2.0) * (col("n_pos") * col("n_neg")).cast("double")))))
      .withColumn("pr_auc", when(col("n_pos") > 0,
        r4(col("ap_sum_u").cast("double")
          / (lit(1000000.0) * col("n_pos").cast("double")))))
      .select("detector", "n_pos", "n_neg", "auc", "pr_auc")
  }

  /** DeLong 95 % confidence interval on the ROC-AUC (see
    * `eval_auc_ci`, VERDICT r16 #3): the error bar the point AUCs
    * of [[detectorAuc]] lack. DeLong's estimator builds the variance
    * from PLACEMENT values — for each positive, the fraction of
    * negatives it outranks (V10); for each negative, the fraction of
    * positives outranking it (V01) — and those are exactly the
    * cell-grid cumulatives the AUC identity already computes: every
    * positive at score v shares v10_2 = 2·cum_neg_lt + neg (2n
    * units, ties ½), every negative v01_2 = 2·cum_pos_gt + pos (2m
    * units). Per-cell squared deviations from the pooled AUC keep an
    * EXACT integer numerator (m·v10_2 − auc2_num, |·| ≤ 2mn — the
    * same < 2^63 bound as auc2_num, needs m·n < 2^62 and exact-
    * double mn < 2^53 — ~9e7×9e7 pairs, far past any fixture) and
    * are nano-quantized (×1e9, ≤ pos·1e9 per cell ⇒ Σ ≤ m·1e9)
    * BEFORE the per-detector sum — float accumulation across the
    * grid is engine-order-specific. S10 = Σ/1e9/(m−1),
    * S01 = Σ/1e9/(n−1), Var = S10/m + S01/n, CI = AUC ± 1.96·√Var
    * clamped to [0, 1]. Needs m ≥ 2 AND n ≥ 2 — degenerate inputs
    * read NULL (DegenerateSpec). Shared by `eval_auc_ci` and
    * `GraftEngine.delongAucCi`.
    */
  private[graft] def delongAucCi(scored: DataFrame): DataFrame = {
    val W = Window.partitionBy("detector").orderBy("score_u")
    val Wd = Window.partitionBy("detector").orderBy(col("score_u").desc)
    val Wp = Window.partitionBy("detector")
    val cells = scored
      .groupBy("detector", "score_u")
      .agg(sum("is_pos").as("pos"),
        sum(lit(1L) - col("is_pos")).as("neg"))
      .withColumn("cum_neg_lt", coalesce(sum("neg").over(
        W.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cum_pos_gt", coalesce(sum("pos").over(
        Wd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("m", sum("pos").over(Wp))
      .withColumn("n", sum("neg").over(Wp))
      .withColumn("auc2_num",
        sum(col("pos") * (lit(2L) * col("cum_neg_lt") + col("neg")))
          .over(Wp))
    val dev10 = ((col("m") * (lit(2L) * col("cum_neg_lt") + col("neg"))
        - col("auc2_num")).cast("double")
      / (lit(2.0) * (col("m") * col("n")).cast("double")))
    val dev01 = ((col("n") * (lit(2L) * col("cum_pos_gt") + col("pos"))
        - col("auc2_num")).cast("double")
      / (lit(2.0) * (col("m") * col("n")).cast("double")))
    val terms = cells
      .withColumn("t10_u", when(col("m") > 0 && col("n") > 0,
        floor(col("pos").cast("double") * dev10 * dev10
          * 1000000000L + 0.5).cast("long")).otherwise(0L))
      .withColumn("t01_u", when(col("m") > 0 && col("n") > 0,
        floor(col("neg").cast("double") * dev01 * dev01
          * 1000000000L + 0.5).cast("long")).otherwise(0L))
      .groupBy("detector")
      .agg(max("m").as("m"), max("n").as("n"),
        max("auc2_num").as("auc2_num"),
        sum("t10_u").as("s10_u"), sum("t01_u").as("s01_u"))
    val aucRaw = (col("auc2_num").cast("double")
      / (lit(2.0) * (col("m") * col("n")).cast("double")))
    val seRaw = sqrt(
      col("s10_u").cast("double") / 1.0e9
          / (col("m") - 1L).cast("double") / col("m").cast("double")
        + col("s01_u").cast("double") / 1.0e9
          / (col("n") - 1L).cast("double") / col("n").cast("double"))
    terms
      .withColumn("auc", when(col("m") > 0 && col("n") > 0, r4(aucRaw)))
      .withColumn("se_auc",
        when(col("m") > 1 && col("n") > 1, r4(seRaw)))
      .withColumn("ci_lo", when(col("m") > 1 && col("n") > 1,
        r4(greatest(lit(0.0), aucRaw - lit(1.96) * seRaw))))
      .withColumn("ci_hi", when(col("m") > 1 && col("n") > 1,
        r4(least(lit(1.0), aucRaw + lit(1.96) * seRaw))))
      .select(col("detector"), col("m").as("n_pos"),
        col("n").as("n_neg"), col("auc"), col("se_auc"),
        col("ci_lo"), col("ci_hi"))
      .orderBy("detector")
  }

  /** PAIRED DeLong comparison of two detectors' AUCs on the SAME
    * scored pairs (see `eval_delong_compare`): [[delongAucCi]] gives
    * each detector an error bar, but "is simhash better than
    * jaccard" needs the PAIRED variance — the two detectors score
    * identical pairs, so their placement values are correlated and
    * Var(Â₁−Â₂) = [S10₁+S10₂−2S10₁₂]/m + [S01₁+S01₂−2S01₁₂]/n with
    * the cross-covariances S₁₂ over per-pair placement PAIRS. Each
    * pair's placement (2n-unit v10 for positives, 2m-unit v01 for
    * negatives) comes from its detector's cell grid; the wide
    * per-pair frame carries both detectors' placements; deviation
    * products are nano-quantized per pair (negative-safe IEEE floor
    * — cross products CAN be negative) before the exact BIGINT sums.
    * z = ΔAUC/se; two-sided p via the Lin exp approximation (the
    * bh_fdr protocol — the only transcendental). Degenerate m ≤ 1 or
    * n ≤ 1 reads NULL. Requires both detectors to score EXACTLY the
    * same pair set with the same labels (the planted corpus does).
    * Shared with `GraftEngine.delongCompare`.
    */
  private[graft] def delongCompare(scored: DataFrame, detA: String,
                                   detB: String): DataFrame = {
    // ONE pair-grain shuffle total (the A-side/B-side score join),
    // immediately collapsed to the JOINT RAW-SCORE cell grid
    // (sa, sb, is_pos) — the aggregate is map-side combinable, so
    // the shuffle after the join carries only cell-count rows. The
    // per-detector placement grids are then the MARGINALS of the
    // joint cells (score-domain-bounded windows), joined back
    // broadcast-style — deviations are cell-constant and quantize-
    // then-multiply-by-count is EXACTLY the per-pair sum, so the
    // whole restructure is bit-identical to the per-pair original
    // (the r17 8 s → cell-grain fix; pair-grain work is irreducible
    // to one join because the joint distribution does not factor).
    // (r18 note: a pair-grain PIVOT — groupBy(id_a, id_b) with
    // max(when(detector=X, score)) — was tried here to fold the two
    // exchanges into one, and MEASURED 5.0 s vs this join's 2.75 s:
    // the high-cardinality pair-key hash aggregate loses to
    // shuffle_hash. Kept the join.)
    val sideA = scored.filter(col("detector") === detA)
      .select(col("id_a"), col("id_b"), col("score_u").as("sa"),
        col("is_pos"))
    val sideB = scored.filter(col("detector") === detB)
      .select(col("id_a").as("ba"), col("id_b").as("bb"),
        col("score_u").as("sb"))
    val joint = sideA.join(sideB.hint("shuffle_hash"),
        col("id_a") === col("ba") && col("id_b") === col("bb"))
      .groupBy("sa", "sb", "is_pos")
      .agg(count(lit(1)).as("cnt"))
      .ckpt() // marginal grids + the placement join
    def marginal(sCol: String): DataFrame = {
      val Wm = Window.orderBy(col("s"))
      val Wmd = Window.orderBy(col("s").desc)
      joint.groupBy(col(sCol).as("s"))
        .agg(sum(when(col("is_pos") === 1, col("cnt")).otherwise(0L))
          .as("pos"),
          sum(when(col("is_pos") === 0, col("cnt")).otherwise(0L))
            .as("neg"))
        .withColumn("cum_neg_lt", coalesce(sum("neg").over(
          Wm.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("cum_pos_gt", coalesce(sum("pos").over(
          Wmd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("s"),
          (lit(2L) * col("cum_neg_lt") + col("neg")).as("v10_2"),
          (lit(2L) * col("cum_pos_gt") + col("pos")).as("v01_2"))
    }
    val ga = marginal("sa").select(col("s").as("gsa"),
      col("v10_2").as("va10"), col("v01_2").as("va01"))
    val gb = marginal("sb").select(col("s").as("gsb"),
      col("v10_2").as("vb10"), col("v01_2").as("vb01"))
    val wide = joint
      .join(broadcast(ga), col("sa") === col("gsa"))
      .join(broadcast(gb), col("sb") === col("gsb"))
      .select(col("is_pos"), col("cnt"),
        when(col("is_pos") === 1, col("va10")).otherwise(col("va01"))
          .as("va"),
        when(col("is_pos") === 1, col("vb10")).otherwise(col("vb01"))
          .as("vb"))
      .ckpt() // tot + the dev-product pass (un-checkpointed, the
              // marginal windows would replicate into every branch)
    val tot = wide.agg(
      sum(when(col("is_pos") === 1, col("cnt")).otherwise(0L)).as("m"),
      sum(when(col("is_pos") === 0, col("cnt")).otherwise(0L)).as("n"),
      sum(when(col("is_pos") === 1, col("cnt") * col("va"))
        .otherwise(0L)).as("a2a"),
      sum(when(col("is_pos") === 1, col("cnt") * col("vb"))
        .otherwise(0L)).as("a2b"))
    def dev(v: org.apache.spark.sql.Column,
            a2: org.apache.spark.sql.Column,
            scaleBy: org.apache.spark.sql.Column) =
      ((scaleBy * v - a2).cast("double")
        / (lit(2.0) * (col("m") * col("n")).cast("double")))
    val t = wide.crossJoin(broadcast(tot))
      .withColumn("da", when(col("is_pos") === 1,
        dev(col("va"), col("a2a"), col("m")))
        .otherwise(dev(col("va"), col("a2a"), col("n"))))
      .withColumn("db", when(col("is_pos") === 1,
        dev(col("vb"), col("a2b"), col("m")))
        .otherwise(dev(col("vb"), col("a2b"), col("n"))))
      .select(col("is_pos"),
        (col("cnt") * floor(col("da") * col("da") * 1000000000L + 0.5)
          .cast("long")).as("taa"),
        (col("cnt") * floor(col("db") * col("db") * 1000000000L + 0.5)
          .cast("long")).as("tbb"),
        (col("cnt") * floor(col("da") * col("db") * 1000000000L + 0.5)
          .cast("long")).as("tab"))
      .groupBy("is_pos")
      .agg(sum("taa").as("saa"), sum("tbb").as("sbb"),
        sum("tab").as("sab"))
    val piv = t.agg(
        max(when(col("is_pos") === 1, col("saa"))).as("s10a"),
        max(when(col("is_pos") === 1, col("sbb"))).as("s10b"),
        max(when(col("is_pos") === 1, col("sab"))).as("s10ab"),
        max(when(col("is_pos") === 0, col("saa"))).as("s01a"),
        max(when(col("is_pos") === 0, col("sbb"))).as("s01b"),
        max(when(col("is_pos") === 0, col("sab"))).as("s01ab"))
      .crossJoin(broadcast(tot))
    // Definition-site guard (r18 ADVICE): the /(m−1) and /(n−1) live
    // inside a when VALUE branch — with a one-positive (or
    // one-negative) input the old bare ratio divided by zero inside
    // the z/p_approx when CONDITIONS (`seRaw > 0` — ANSI throws on
    // DOUBLE x/0 and && does not short-circuit). seRaw is NULL
    // exactly when m ≤ 1 or n ≤ 1, so every seRaw > 0 condition
    // reads null → not-true, and the m > 1 && n > 1 readouts are
    // unchanged where they were defined.
    val varRaw = when(col("m") > 1 && col("n") > 1,
      (col("s10a") + col("s10b") - lit(2L) * col("s10ab"))
        .cast("double") / 1.0e9
        / (col("m") - 1L).cast("double") / col("m").cast("double")
      + (col("s01a") + col("s01b") - lit(2L) * col("s01ab"))
        .cast("double") / 1.0e9
        / (col("n") - 1L).cast("double") / col("n").cast("double"))
    val diffRaw = ((col("a2a") - col("a2b")).cast("double")
      / (lit(2.0) * (col("m") * col("n")).cast("double")))
    val seRaw = when(varRaw.isNotNull,
      sqrt(greatest(varRaw, lit(0.0))))
    val zRaw = diffRaw / seRaw
    piv
      .withColumn("auc_a", when(col("m") > 0 && col("n") > 0,
        r4(col("a2a").cast("double")
          / (lit(2.0) * (col("m") * col("n")).cast("double")))))
      .withColumn("auc_b", when(col("m") > 0 && col("n") > 0,
        r4(col("a2b").cast("double")
          / (lit(2.0) * (col("m") * col("n")).cast("double")))))
      .withColumn("auc_diff",
        when(col("m") > 0 && col("n") > 0, r4(diffRaw)))
      .withColumn("se_diff",
        when(col("m") > 1 && col("n") > 1, r4(seRaw)))
      .withColumn("z", when(col("m") > 1 && col("n") > 1
        && seRaw > 0, r4(zRaw)))
      .withColumn("p_approx", when(col("m") > 1 && col("n") > 1
        && seRaw > 0, r4(least(lit(1.0),
          lit(2.0) * exp(lit(-0.717) * abs(zRaw)
            - lit(0.416) * zRaw * zRaw)))))
      .withColumn("significant_95",
        when(col("p_approx").isNotNull, col("p_approx") < 0.05))
      .select(col("m").as("n_pos"), col("n").as("n_neg"),
        col("auc_a"), col("auc_b"), col("auc_diff"), col("se_diff"),
        col("z"), col("p_approx"), col("significant_95"))
  }

  /** Log-loss / cross-entropy core (see `eval_log_loss`): input
    * (score_u: 1e-4 units, is_pos: 0/1) rows; cell-grid ε-clipped
    * ln terms micro-quantized once per distinct score. Shared with
    * `GraftEngine.logLoss`.
    */
  private[graft] def logLossCore(scored: DataFrame): DataFrame = {
      val cells = scored
        .groupBy("score_u")
        .agg(sum("is_pos").as("pos"),
          sum(lit(1L) - col("is_pos")).as("neg"))
        .withColumn("pc",
          least(greatest(col("score_u"), lit(1L)), lit(9999L))
            .cast("double") / 10000.0)
        .withColumn("lnp_u",
          floor(log(col("pc")) * 1000000 + 0.5).cast("long"))
        .withColumn("ln1p_u",
          floor(log(lit(1.0) - col("pc")) * 1000000 + 0.5).cast("long"))
      cells.agg(sum(col("pos") + col("neg")).as("n_pairs"),
          sum("pos").as("n_pos"),
          sum(col("pos") * col("lnp_u") + col("neg") * col("ln1p_u"))
            .as("ll_su"))
        .withColumn("log_loss", when(col("n_pairs") > 0,
          r4(-(col("ll_su").cast("double") / 1.0e6
            / col("n_pairs").cast("double")))))
        .withColumn("br", when(col("n_pairs") > 0,
          col("n_pos").cast("double") / col("n_pairs").cast("double")))
        .withColumn("log_loss_base", when(col("br") > 0 && col("br") < 1,
          r4(-(col("br") * log(col("br"))
            + (lit(1.0) - col("br")) * log(lit(1.0) - col("br"))))))
        .withColumn("skill", when(col("log_loss_base") > 0,
          r4(lit(1.0) - col("log_loss") / col("log_loss_base"))))
        .select(col("n_pairs"), col("n_pos"), col("log_loss"),
          col("log_loss_base"), col("skill"))
  }

  /** KS separation core (see `eval_ks_separation`): input (detector,
    * score_u, is_pos) scored pairs; per detector the Kolmogorov-
    * Smirnov distance between the positive and negative score ECDFs
    * — max |F_pos − F_neg| over the score-DISTINCT grid, every gap
    * an exact cross-multiplied integer |cum_pos·n_neg − cum_neg·
    * n_pos| ≤ n_pos·n_neg < 2^63 (the cell-grid KS bound). Also
    * emits the argmax score (min tie-break) — the KS-optimal
    * threshold, the decision-theoretic companion to AUC's ranking
    * verdict. One-class inputs read NULL ks. Shared with
    * `GraftEngine.ksSeparation`.
    */
  private[graft] def ksSeparationCore(scored: DataFrame): DataFrame = {
    val W = Window.partitionBy("detector").orderBy("score_u")
      .rowsBetween(Window.unboundedPreceding, 0)
    val Wd = Window.partitionBy("detector")
    scored
      .groupBy("detector", "score_u")
      .agg(sum("is_pos").as("pos"),
        sum(lit(1L) - col("is_pos")).as("neg"))
      .withColumn("cum_pos", sum("pos").over(W))
      .withColumn("cum_neg", sum("neg").over(W))
      .withColumn("n_pos", sum("pos").over(Wd))
      .withColumn("n_neg", sum("neg").over(Wd))
      .withColumn("gap_num", abs(col("cum_pos") * col("n_neg")
        - col("cum_neg") * col("n_pos")))
      .withColumn("max_gap", max("gap_num").over(Wd))
      .groupBy("detector")
      .agg(max("n_pos").as("n_pos"), max("n_neg").as("n_neg"),
        max("gap_num").as("gap_num"),
        min(when(col("gap_num") === col("max_gap"), col("score_u")))
          .as("ks_threshold_u"))
      .withColumn("ks", when(col("n_pos") > 0 && col("n_neg") > 0,
        r4(col("gap_num").cast("double")
          / (col("n_pos") * col("n_neg")).cast("double"))))
      .select("detector", "n_pos", "n_neg", "gap_num",
        "ks_threshold_u", "ks")
  }

  /** Isotonic calibration fit core (see `eval_calibration_fit`):
    * input (score_u: BIGINT quantized score, is_pos: BIGINT 0/1)
    * rows; output the score-DISTINCT grid with the PAVA-fitted
    * monotone probability, via the minimax CLOSED FORM
    * fit(k) = max_{i≤k} min_{j≥k} avg(y_i..y_j) — no pooling
    * iteration, so it oracles exactly. Interval averages come off
    * one cumulative (pos, n) prefix over the grid; each ratio is
    * quantized to micro by INTEGER division (nonnegative ⇒ Spark DIV
    * ≡ DuckDB //), and because floor is monotone it COMMUTES with
    * the min/max extremes: fit_u = floor(1e6 · exact PAVA fit),
    * bit-identical in both engines (ClosedFormProps pins the grid
    * form ≡ the classic pool-adjacent-violators algorithm).
    * Scale shape: the interval grid is quadratic in the score
    * DOMAIN (≤ 1e4+1 distinct 1e-4-unit scores ⇒ ≤ ~5e7 interval
    * rows), CONSTANT in pair count — the rank-test cell-grid
    * discipline; the suffix-min window is partitioned by interval
    * start. (pos·1e6 < 2^63 bounds the eval sample at ~9e12
    * positives — documented.) Shared with `GraftEngine.isotonicFit`.
    */
  private[graft] def isotonicFitCore(scored: DataFrame): DataFrame = {
    // grid-sized unpartitioned prefix (score DOMAIN, bounded)
    val W = Window.orderBy("score_u")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cells = scored
      .groupBy("score_u")
      .agg(count(lit(1)).as("n_b"), sum("is_pos").as("pos_b"))
      .withColumn("cp", sum("pos_b").over(W))
      .withColumn("cn", sum("n_b").over(W))
      .ckpt() // i side, j side, readout
    val ci = cells.select(col("score_u").as("si"),
      (col("cp") - col("pos_b")).as("cpe"),
      (col("cn") - col("n_b")).as("cne"))
    val cj = cells.select(col("score_u").as("sj"), col("cp"), col("cn"))
    val Wsm = Window.partitionBy("si").orderBy(col("sj").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val fit = ci.crossJoin(broadcast(cj))
      .filter(col("si") <= col("sj"))
      .withColumn("r_u", expr("((cp - cpe) * 1000000L) DIV (cn - cne)"))
      .withColumn("g", min("r_u").over(Wsm))
      .groupBy(col("sj").as("score_u"))
      .agg(max("g").as("fit_u"))
    cells.join(broadcast(fit), Seq("score_u"))
      .select(col("score_u"), col("n_b").as("n_pairs"),
        col("pos_b").as("n_pos"), col("fit_u"),
        r4(col("fit_u").cast("double") / 1000000.0).as("fit"))
      .orderBy("score_u")
  }


  /** Per-`lang` conditional bigram entropy H(w2 | w1) over (lang, text)
    * documents. Shared with `GraftEngine.conditionalEntropy`.
    */
  private[graft] def conditionalEntropyCore(docs: DataFrame): DataFrame = {
    val bi = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(toks)-2)," +
          " i -> concat(toks[i], ' ', toks[i+1]))")).as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("c_b"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      // COUNT-grain fence measured AND REJECTED here (r19.2): bi
      // feeds marg + the probe join, but the fence read
      // 0.69/0.69 -> 0.72/0.78 s interleaved (sum-job DID halve,
      // 664-679 -> 331-403 ms — the persist round-trip eats the
      // saved explode at this grain's row count).
    val marg = bi.groupBy("lang", "w1").agg(sum("c_b").as("c_1"))
    bi.join(marg, Seq("lang", "w1"))
      .withColumn("t_u", floor(col("c_b").cast("double")
        * log(col("c_1").cast("double") / col("c_b").cast("double"))
        * 1000000 + 0.5).cast("long"))
      .groupBy("lang")
      .agg(sum("c_b").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        sum("t_u").as("h_sum_u"))
      .withColumn("cond_entropy_nats", r4(
        col("h_sum_u").cast("double")
          / (lit(1000000.0) * col("n_bigrams").cast("double"))))
      .select("lang", "n_bigrams", "n_distinct_bigrams",
        "cond_entropy_nats")
      .orderBy("lang")
  }

  /** Lincoln-Petersen (Chapman) estimate of the true duplicate-pair count
    * from two detectors' (id_a, id_b) pair sets. Shared with
    * `GraftEngine.captureRecapture`.
    */
  private[graft] def captureRecaptureCore(pairsA: DataFrame,
                                          pairsB: DataFrame): DataFrame = {
    val a = pairsA
      .select(col("id_a"), col("id_b"), lit(1L).as("in_a"))
    val b = pairsB
      .select(col("id_a"), col("id_b"), lit(1L).as("in_b"))
    a.join(b, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(coalesce(col("in_a"), lit(0L))).as("n_a"),
        sum(coalesce(col("in_b"), lit(0L))).as("n_b"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .withColumn("n_hat",
        expr("(n_a + 1) * (n_b + 1) DIV (n_both + 1) - 1"))
      .withColumn("coverage_a", when(col("n_b") > 0,
        r4(col("n_both").cast("double") / col("n_b").cast("double"))))
      .withColumn("coverage_b", when(col("n_a") > 0,
        r4(col("n_both").cast("double") / col("n_a").cast("double"))))
      .select("n_a", "n_b", "n_both", "n_hat", "coverage_a",
        "coverage_b")
  }

  val defs: Map[String, Q] = Map(
    "text_tokenize_stats" -> ((s, d) =>
      TestData.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          r4(aggregate(col("toks"), lit(0), (acc, t) => acc + length(t))
            .cast("double") / size(col("toks"))).as("avg_tok_len"))
        .orderBy("doc_id")),

    "text_wordcount_topk" -> ((s, d) =>
      TestData.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // Bigrams in one pass: transform over positions, then explode —
    // no positional self-join, no extra shuffle.
    "text_bigram_freq" -> ((s, d) =>
      TestData.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)),

    // CONDITIONAL BIGRAM ENTROPY (round 10): H(w₂|w₁) per language —
    // the corpus-level predictability profile (low = repetitive /
    // boilerplate-heavy, high = diverse) that text_bigram_lm_score
    // scores DOCS against; this ranks LANGUAGE SLICES for mix
    // design. H(w₂|w₁) = (1/N)·Σ_bigram c_b·ln(c_{w₁}/c_b), every
    // ln term ≥ 0 and quantized to integer MICRO-NATS before the
    // sum (entropy/PSI protocol; c_b·ln(N)·1e6 < 2^63 ⇒ N ≲ 2e11
    // bigrams/lang — documented). Vocabulary-shaped: one bigram
    // fold, one (lang, w₁)-marginal fold, one equi-join of the two
    // DISTINCT tables — corpus grain is touched exactly once.
    "text_conditional_entropy" -> ((s, d) =>
      conditionalEntropyCore(TestData.documents(s, d))),

    "dedup_exact_hash" -> ((s, d) =>
      TestData.documents(s, d)
        .withColumn("h", contentHash)
        .groupBy("h")
        .agg(min(col("doc_id")).as("survivor_id"),
             count(lit(1)).as("group_size"))
        .select("survivor_id", "group_size")
        .orderBy("survivor_id")),

    // Aggressive normalization BEFORE hashing — the step that turns
    // exact dedup into case/punctuation/whitespace-insensitive dedup
    // (crawl corpora are full of such trivial variants). The fixture
    // has none, so the query plants one per 10th doc (uppercased, '!'
    // noise, doubled spaces); normalization must collapse each pair
    // to one group. All map-side string ops + one hash groupBy.
    "text_normalize_dedup" -> ((s, d) => {
      val docs = TestData.documents(s, d).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(upper(col("text")), lit("  !!")).as("text"))
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      docs.unionAll(planted)
        .withColumn("h", md5(norm))
        .groupBy("h")
        .agg(min(col("doc_id")).as("canonical_id"),
             count(lit(1)).as("n_variants"))
        .select("canonical_id", "n_variants")
        .orderBy("canonical_id")
    }),

    // Exact token-set Jaccard > 0.9 among same-lang docs — the
    // ground-truth near-dup baseline the LSH variant approximates.
    // Shuffle join on the blocked key (see `jaccardPairs`); shared
    // with the component keys through the per-session memo.
    "dedup_jaccard_pairs" -> ((s, d) =>
      fixtureJaccardPairs(s, d)
        .select(col("id_a"), col("id_b"), r4(col("jac")).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // CAPTURE-RECAPTURE DEDUP AUDIT (round 11): Chapman's estimator
    // of the TOTAL near-dup pair population from two independent
    // detectors — simhash Hamming ≤ 3 (bit-level) and token-set
    // Jaccard > 0.9 (set-level). N̂ = (n_A+1)(n_B+1)/(m+1) − 1 where
    // m = pairs both detectors caught; coverage_X = m/n_other is
    // each detector's estimated recall. This is the residual-dup
    // risk number a dedup pipeline owner actually reports ("how many
    // near-dup pairs do we estimate NEITHER pass caught") — the
    // wildlife-census trick applied to dedup QA. Caveat documented:
    // correlated detectors (both keyed on token content) bias N̂
    // LOW, so it is a lower bound on the residual population. Both
    // detector frames are memoized/banded (no new pair machinery);
    // the readout is three counts + one integer Chapman division
    // (all positive ⇒ DIV ≡ //). Chapman ≥ observed-union and
    // identical-detectors ⇒ N̂ = union pinned in ClosedFormProps.
    "dedup_capture_recapture" -> ((s, d) =>
      captureRecaptureCore(TextAnalysis.fixtureSimhashPairs(s, d),
        fixtureJaccardPairs(s, d))),

    // DETECTOR KAPPA (round 13): Cohen's κ between the simhash and
    // jaccard near-dup detectors at DOC grain — capture-recapture
    // estimates how many dups BOTH miss; κ asks whether the two
    // detectors even agree on which docs are dup-involved beyond
    // chance (κ ≈ 0 ⇒ the "two independent detectors" assumption
    // behind the Chapman estimate is plausible; κ ≈ 1 ⇒ they're the
    // same detector twice and the audit is circular — the companion
    // diagnostic). A doc is flagged by a detector iff it appears in
    // any of its pairs; both pair lists ride the SessionMemo'd
    // fixture stages, so this key adds two tiny distinct-explodes.
    // κ = (n(a+d) − pe_num)/(n² − pe_num) with pe_num =
    // (a+b)(a+c) + (c+d)(b+d) — ALL integer until one r4'd division
    // (products ≤ n², exact to ~3e9 docs). Constant detectors
    // (pe = 1) ⇒ denominator 0 ⇒ NULL.
    "dedup_detector_kappa" -> ((s, d) => {
      val fa = TextAnalysis.fixtureSimhashPairs(s, d)
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct().withColumn("f_a", lit(1L))
      val fb = fixtureJaccardPairs(s, d)
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct().withColumn("f_b", lit(1L))
      TestData.documents(s, d).select("doc_id")
        .join(broadcast(fa), Seq("doc_id"), "left")
        .join(broadcast(fb), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("f_a").isNotNull && col("f_b").isNotNull, 1L)
            .otherwise(0L)).as("n11"),
          sum(when(col("f_a").isNotNull && col("f_b").isNull, 1L)
            .otherwise(0L)).as("n10"),
          sum(when(col("f_a").isNull && col("f_b").isNotNull, 1L)
            .otherwise(0L)).as("n01"))
        .withColumn("n00",
          col("n_docs") - col("n11") - col("n10") - col("n01"))
        .withColumn("pe_num",
          (col("n11") + col("n10")) * (col("n11") + col("n01"))
            + (col("n01") + col("n00")) * (col("n10") + col("n00")))
        .withColumn("kappa_num",
          col("n_docs") * (col("n11") + col("n00")) - col("pe_num"))
        .withColumn("kappa_den",
          col("n_docs") * col("n_docs") - col("pe_num"))
        .withColumn("kappa", when(col("kappa_den") > 0,
          r4(col("kappa_num").cast("double")
            / col("kappa_den").cast("double"))))
        .select("n_docs", "n11", "n10", "n01", "n00",
          "kappa_num", "kappa_den", "kappa")
    }),

    // DETECTOR ROC-AUC / PR-AUC (round 14): the threshold-FREE
    // detector evaluation the whole dedup family was missing —
    // kappa (above) compares two detectors at fixed thresholds;
    // this key ranks the detectors BEFORE any threshold is picked.
    // Ground truth is PLANTED (the fixture has zero exact dups —
    // probed): every 5th doc gets a near-dup variant (3 appended
    // novel tokens, id + 1e6), so positives are (x, x+1e6) pairs and
    // every other same-lang pair is a negative. Both detectors score
    // ALL same-lang pairs of the planted corpus: token-set Jaccard
    // (1e-4 units) and SimHash bit agreement (60 − Hamming). AUC is
    // EXACT via the Mann-Whitney rank-sum identity over the
    // score-DISTINCT cell grid (ties = ½, 2× units keep it integer;
    // grid ≤ 10001 + 61 rows regardless of pair count); PR-AUC is
    // step-form average precision over the same grid, per-cell term
    // micro-quantized before the sum (identical op order both
    // engines). auc2_num ≤ 2·n_pos·n_neg < 2^63 to ~2e9 pairs.
    // Scale shape: AUC evaluation runs on a LABELED EVAL SAMPLE (the
    // fixture is the sample) — the per-lang all-pairs join is
    // O(sample²) by design, never applied to the full corpus; the
    // readout itself is domain-bounded. See detectorAuc for the
    // reusable readout (facade parity-pinned).
    "eval_detector_auc" -> ((s, d) =>
      detectorAuc(plantedDetectorScores(s, d)).orderBy("detector")),

    // DELONG AUC CONFIDENCE INTERVAL (round 17, VERDICT r16 #3):
    // every detector comparison the eval family publishes (simhash
    // vs jaccard here, dhash vs blockhash in media) was a POINT
    // estimate — this adds the error bar, so "0.9999 vs 0.75" is
    // formally interpretable. DeLong variance from per-positive /
    // per-negative placement values, which are the SAME cell-grid
    // cumulatives the MW AUC identity already walks (one extra
    // descending cumulative for cum_pos_gt); exact integer deviation
    // numerators, nano-quantized squared terms before the
    // per-detector sum. Rides the memoized scored-pair stage.
    "eval_auc_ci" -> ((s, d) =>
      delongAucCi(plantedDetectorScores(s, d))),

    // PAIRED DeLong AUC COMPARISON (round 17): the verdict the CI
    // key stops short of — jaccard and simhash score the SAME pairs,
    // so "which detector is better" is a PAIRED test (placement
    // values are correlated; unpaired CIs overlap long after the
    // paired difference is significant). Cross-covariances from the
    // per-pair placement frame; see [[delongCompare]]. Rides the
    // memoized scored-pair stage.
    "eval_delong_compare" -> ((s, d) =>
      delongCompare(plantedDetectorScores(s, d), "jaccard", "simhash")),

    // KS SEPARATION (round 16): the decision-theoretic member of the
    // detector-eval triad — AUC ranks (average over all thresholds),
    // the sweep inspects FIXED thresholds, KS finds the SINGLE best
    // one: max |F_pos − F_neg| over the score grid IS the largest
    // achievable (TPR − FPR), and its argmax score is the optimal
    // flag cut under symmetric costs. Every gap an exact
    // cross-multiplied integer over the same memoized scored-pair
    // stage; emits the per-detector KS + the KS-optimal threshold.
    // KS ≥ AUC − ½ on every detector (pinned — KS is the MAX of
    // TPR − FPR, AUC − ½ its mean over FPR, and max ≥ mean).
    "eval_ks_separation" -> ((s, d) =>
      ksSeparationCore(plantedDetectorScores(s, d))
        .orderBy("detector")),

    // THRESHOLD SWEEP (round 14): the operational companion to the
    // AUC key — AUC ranks detectors threshold-free; this key PICKS
    // the threshold for the chosen one. Over the SAME planted-dup
    // evaluation corpus (memoized — the scored-pair stage is built
    // once per fixture), the jaccard detector's precision / recall /
    // F1 at θ ∈ {0.50, 0.70, 0.80, 0.90, 0.95}: every cut is two
    // conditional sums over the score-DISTINCT cell grid (never a
    // rescan of the pairs), and F1 = 2·tp/(n_flagged + n_pos) stays
    // a ratio of exact integers. Flagged and recall monotone
    // non-increasing in θ by construction (PropertySpec).
    "dedup_threshold_sweep" -> ((s, d) => {
      jaccardThresholdCounts(s, d)
        .withColumn("n_flagged", col("tp") + col("fp"))
        .withColumn("precision", when(col("n_flagged") > 0,
          r4(col("tp").cast("double") / col("n_flagged").cast("double"))))
        .withColumn("recall", when(col("n_pos") > 0,
          r4(col("tp").cast("double") / col("n_pos").cast("double"))))
        .withColumn("f1", when(col("n_flagged") + col("n_pos") > 0,
          r4(lit(2.0) * col("tp").cast("double")
            / (col("n_flagged") + col("n_pos")).cast("double"))))
        .select("threshold_u", "n_flagged", "tp", "fp", "n_pos",
          "precision", "recall", "f1")
        .orderBy("threshold_u")
    }),

    // SCORE CALIBRATION (round 14): the third leg of the eval
    // family — AUC ranks detectors, the threshold sweep picks the
    // operating point, and THIS key asks whether the jaccard score
    // can be read as a PROBABILITY (a dedup pipeline that gates
    // human review on "0.9 ≈ 90% dup" needs the reliability curve,
    // not just the ranking). Scores bucket into 10 deciles
    // (score_u DIV 1000); per bin the observed positive rate vs the
    // mean score, and the expected calibration error. EXACT
    // algebra win: n_b·|acc_b − conf_b| = |pos_b·1e4 − s_b| / 1e4
    // where s_b = Σ score_u — the per-bin ECE numerators are exact
    // BIGINTs with NO division before the readout. Same memoized
    // planted scored-pair stage; grid = ≤ 11 bins.
    "eval_score_calibration" -> ((s, d) => {
      val W = Window.partitionBy(lit(1))
      plantedDetectorScores(s, d)
        .filter(col("detector") === "jaccard")
        .withColumn("bin", expr("score_u DIV 1000"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_pairs"), sum("is_pos").as("n_pos"),
          sum("score_u").as("s_u"))
        .withColumn("gap_num",
          abs(col("n_pos") * 10000L - col("s_u")))
        .withColumn("pos_rate", r4(col("n_pos").cast("double")
          / col("n_pairs").cast("double")))
        .withColumn("mean_score", r4(col("s_u").cast("double")
          / (col("n_pairs") * 10000L).cast("double")))
        .withColumn("gap", r4(col("gap_num").cast("double")
          / (col("n_pairs") * 10000L).cast("double")))
        .withColumn("ece", r4(sum("gap_num").over(W).cast("double")
          / (sum("n_pairs").over(W) * 10000L).cast("double")))
        .select("bin", "n_pairs", "n_pos", "pos_rate", "mean_score",
          "gap", "ece")
        .orderBy("bin")
    }),

    // ISOTONIC CALIBRATION FIT (round 16, VERDICT r15 top_next): the
    // eval family could MEASURE mis-calibration (reliability curve,
    // ECE, Brier) but not FIX it — this key completes measure → fit →
    // CORRECT. PAVA isotonic regression of is_pos on the jaccard
    // score via the minimax closed form max_{i≤k} min_{j≥k}
    // avg(y_i..y_j) over the score-DISTINCT grid (see
    // isotonicFitCore): interval averages off one prefix pass,
    // micro-quantized by integer division (floor commutes with the
    // extremes ⇒ fit_u = floor(1e6·exact fit), engine-identical).
    // Output monotone in score BY CONSTRUCTION (pinned); fitted ECE
    // ≤ raw ECE pinned in EngineApiSpec on these planted scores.
    // Same memoized planted scored-pair stage.
    "eval_calibration_fit" -> ((s, d) =>
      isotonicFitCore(plantedDetectorScores(s, d)
        .filter(col("detector") === "jaccard")
        .select("score_u", "is_pos"))),

    // BRIER SCORE + MURPHY DECOMPOSITION (round 15): the proper-
    // scoring-rule closer of the eval family — AUC ranks, the sweep
    // picks a threshold, calibration draws the reliability curve,
    // and Brier = reliability − resolution + uncertainty says in ONE
    // number whether the score is both calibrated AND discriminating
    // (a detector can ace AUC yet carry a uselessly flat score).
    // Exactness: BS numerator Σ(score_u − y·1e4)² is an exact BIGINT
    // (term ≤ 1e8 ⇒ safe to ~9e10 pairs — documented); reliability
    // reuses calibration's exact |pos·1e4 − Σscore| bin numerators
    // as gap² DIV n_b (all positive ⇒ Spark DIV ≡ DuckDB //; gap² <
    // 2^63 needs n_b < 3e5 — documented, split bins past that);
    // resolution terms n_b·(acc_b − ȳ)² are per-bin closed forms
    // micro-quantized BEFORE the sum (PSI protocol). Same memoized
    // planted scored-pair stage; grid = ≤ 11 bins.
    "eval_brier_score" -> ((s, d) =>
      brierScore(plantedDetectorScores(s, d)
        .filter(col("detector") === "jaccard")
        .select("score_u", "is_pos"))),

    // LOG LOSS / CROSS-ENTROPY (round 15 continuation): the SECOND
    // proper scoring rule next to Brier — log loss punishes
    // confident wrong scores unboundedly where Brier saturates, so
    // the pair together tells whether a detector's tail confidence
    // can be trusted. Cell-grid form (score-DISTINCT rows, never
    // pair count): scores clipped to [1, 9999] 1e-4 units before the
    // ln (the standard ε-clip — a 0/1e4 score would be ±∞), each
    // cell's ln term micro-quantized once, weighted by exact
    // pos/neg counts. Emits the detector's log loss, the base-rate
    // (climatology) log loss, and the skill score 1 − LL/LL_base —
    // positive skill means the scores beat always-predict-the-rate.
    "eval_log_loss" -> ((s, d) =>
      logLossCore(plantedDetectorScores(s, d)
        .filter(col("detector") === "jaccard")
        .select("score_u", "is_pos"))),

    // MCC THRESHOLD SWEEP (round 15): Matthews correlation at the
    // same five jaccard cuts as dedup_threshold_sweep — the one
    // single-number confusion metric that stays honest under the
    // extreme class imbalance of dedup (F1 ignores true negatives,
    // which here are 99.8 % of pairs; a detector can game F1 and
    // still have near-zero MCC). tp/fp/tn/fn are exact BIGINTs off
    // the same score cell grid (numerator tp·tn − fp·fn < n² —
    // n ≲ 3e9 pairs documented); the denominator √ of four factor
    // products assembles in doubles on the 5-row readout, mirrored,
    // r4; any zero marginal ⇒ NULL MCC at the definition site.
    "eval_mcc_sweep" -> ((s, d) => {
      jaccardThresholdCounts(s, d)
        .withColumn("fn", col("n_pos") - col("tp"))
        .withColumn("tn", col("n_neg") - col("fp"))
        .withColumn("mcc", when(
          (col("tp") + col("fp")) > 0 && (col("tp") + col("fn")) > 0
            && (col("tn") + col("fp")) > 0
            && (col("tn") + col("fn")) > 0,
          r4((col("tp") * col("tn") - col("fp") * col("fn"))
            .cast("double")
            / sqrt((col("tp") + col("fp")).cast("double")
              * (col("tp") + col("fn")).cast("double")
              * (col("tn") + col("fp")).cast("double")
              * (col("tn") + col("fn")).cast("double")))))
        .select("threshold_u", "tp", "fp", "tn", "fn", "mcc")
        .orderBy("threshold_u")
    }),

    // CUMULATIVE GAINS / LIFT BY SCORE BAND (round 15): the
    // review-budget planner of the eval family — "if reviewers only
    // look at pairs scoring ≥ θ, what fraction of true dups do they
    // see, and at what concentration vs random" (gain = cum recall,
    // lift = precision multiple over base rate). Score-band form,
    // NOT decile-by-rank: ranks would need a corpus-grain window,
    // bands reuse the DIV-1000 bins — the same ≤ 11-row grid as
    // calibration, with two descending cumulative windows over it.
    // All counts exact BIGINTs; gain/lift divisions once per grid
    // row, guarded, mirrored, r4.
    "eval_lift_curve" -> ((s, d) =>
      liftCurve(plantedDetectorScores(s, d)
        .filter(col("detector") === "jaccard")
        .select("score_u", "is_pos"))),

    // Character-3-gram Jaccard near-dup pairs (> 0.7): catches
    // near-dups that word tokenization misses (joined/split words,
    // punctuation edits) — the n-gram member of the dedup family.
    // Bitmap core: the fixture's 3-gram universe is ~377 grams/lang,
    // so AND+popcount over 6 longs beats the O(|A|+|B|) merge per
    // pair (see jaccardBitmapSetPairs for the measured comparison).
    "dedup_ngram_jaccard" -> ((s, d) => {
      import org.apache.spark.sql.graft.Bridge
      jaccardBitmapSetPairs(
        // r19: spread the 1-2-split documents scan BEFORE the
        // per-doc CharNgrams kernel ([[spreadScan]]; measured
        // 1.87 -> 1.23 s)
        spreadScan(TestData.documents(s, d).filter(length(col("text")) >= 3))
          .select(col("doc_id"), col("lang"),
            Bridge.column(graft.functions.CharNgrams(
              Bridge.expression(col("text")), Bridge.expression(lit(3))))
              .as("elems")),
        0.7)
        .select(col("id_a"), col("id_b"), r4(col("jac")).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // MinHash-LSH near-dup pairs over word-2-shingles: banded
    // signatures (r=3, b=6) → bucket join → exact verify. Candidate
    // count stays ~linear where ML's 1-hash-per-band
    // approxSimilarityJoin degenerates to O(n²) on this corpus (see
    // graft.functions.MinHashLsh). Oracle-checked since round 6: the
    // md5-prefix base hash and exact band-tuple equi-join reproduce
    // in DuckDB, so the oracle mirrors the WHOLE pipeline (signature
    // → bands → candidates → exact verify) from the same permutation
    // constants; recall additionally property-tested in DedupSpec.
    "dedup_minhash_lsh" -> ((s, d) =>
      fixtureMinhashPairs(s, d)
        .select(col("id_a"), col("id_b"), r4(col("jac")).as("approx_jaccard"))
        .orderBy("id_a", "id_b")),

    // LSH BANDING TUNER (round 10): the knob table an operator reads
    // before picking (bands, rows) — for r ∈ {2, 3, 6} over the same
    // 18 permutations: the S-curve threshold (1/b)^(1/r), the
    // candidate-pair volume that banding actually produces on this
    // corpus, and how many survive exact verification at 0.9. More
    // rows per band ⇒ strictly nested candidate sets (every r=6 band
    // contains a full r=3 band contains a full r=2-aligned pair —
    // DedupSpec pins the nesting), so the table shows the exact
    // recall/cost trade. Signatures computed ONCE (the one-pass
    // MinHashSig expression, checkpointed); each banding is one
    // fixed-width band-key shuffle; verification joins shingles back
    // for surviving candidates only.
    "dedup_lsh_tuning" -> ((s, d) => {
      import org.apache.spark.sql.graft.Bridge
      import graft.functions.{MinHashLsh => M, MinHashSig}
      val numPerm = 18
      // r19: spreadScan — the 1-2-split documents scan serialized the
      // MinHashSig + shingle kernels onto one task (JobProfile: a
      // single-task 528 ms job); see [[spreadScan]].
      val docs = spreadScan(TestData.documents(s, d))
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id").as("id"), col("lang").as("blockKey"),
          M.shinglesFromTokens(col("toks")).as("shingles"))
      val hashed = docs.withColumn("mhs",
        Bridge.column(MinHashSig(Bridge.expression(col("shingles")),
          numPerm)))
      val sigCols = (0 until numPerm).map(k =>
        element_at(col("mhs"), k + 1).as(s"mh$k"))
      val sigs = hashed
        .select(col("id") +: col("blockKey") +: sigCols: _*)
        .ckpt()
      // r19: pre-hash + sort each shingle set ONCE per doc so every
      // candidate pair's verify is the codegen'd sorted-merge
      // intersect (array_intersect is CodegenFallback and builds a
      // fresh hash set per pair — the repo-wide SortedIntersectCount
      // recipe, same as containmentPrefixPairs). JobProfile: the
      // verify was a single 1124 ms task. Decision unchanged:
      // jac > 0.9 ⟺ 10·inter > 9·(na+nb−inter) exactly, and the key
      // emits only candidate/verified COUNTS.
      val sh = docs.select(col("id"),
        array_sort(transform(col("shingles"), x => xxhash64(x)))
          .as("th"),
        size(col("shingles")).as("n")).ckpt()
      val perR = Seq(2, 3, 6).map { r =>
        val bands = numPerm / r
        val bandKeys = (0 until bands).map { j =>
          val cols = (0 until r).map(i => col(s"mh${j * r + i}"))
          struct(lit(j).as("band"),
            concat_ws("|", col("blockKey") +: cols: _*).as("bkey"))
        }
        val buckets = sigs
          .select(col("id"), explode(array(bandKeys: _*)).as("bk"))
          .select(col("id"), col("bk.band"), col("bk.bkey"))
        val cand = buckets.as("x").join(buckets.as("y"),
            col("x.band") === col("y.band")
              && col("x.bkey") === col("y.bkey")
              && col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
          // MEASURED AND REJECTED (r19.2): a keyed repartition here
          // (the bitmapEncode recipe, so the ckpt'd candidates keep
          // saltWidth partitions) — the close-census single-task read
          // was stale; post-spreadScan the pipeline already runs 124
          // tasks and the extra exchange only cost (JobProfile
          // sum-job 695-912 -> 893-1121 ms, tasks 124 -> 214).
          .dropDuplicates("id_a", "id_b")
          .ckpt()
        val nVer = cand
          .join(sh.select(col("id").as("id_a"), col("th").as("ta"),
            col("n").as("na")), "id_a")
          .join(sh.select(col("id").as("id_b"), col("th").as("tb"),
            col("n").as("nb")), "id_b")
          .withColumn("inter", Bridge.column(
            graft.functions.SortedIntersectCount(
              Bridge.expression(col("ta")), Bridge.expression(col("tb")))))
          .filter(col("inter") * 10 > (col("na") + col("nb")
            - col("inter")) * 9)
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(nVer.agg(count(lit(1)).as("n_verified")))
          .select(lit(r).as("rows_per_band"), lit(bands).as("bands"),
            lit(TextOps.sCurveThreshold(bands, r)).as("threshold"),
            col("n_candidates"), col("n_verified"))
      }
      perR.reduce(_ unionByName _).orderBy("rows_per_band")
    }),

    // Fixed-size token chunking with overlap (32-token chunks,
    // stride 24) — the RAG/encoder preprocessing pass that turns
    // documents into model-window-sized pieces without losing
    // cross-boundary context. Pure map-side array arithmetic: one
    // scan, one generate, no shuffle before the output sort.
    "text_chunk_overlap" -> ((s, d) =>
      TestData.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("nc", expr(
          "IF(size(toks) <= 32, 1, ((size(toks) - 32 + 23) DIV 24) + 1)"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, nc - 1), i -> array_join(slice(toks, i * 24 + 1, 32), ' '))")))
        .select(col("doc_id"), col("pos").as("chunk_id"),
          size(split(col("col"), " ")).as("n_tokens"),
          md5(col("col")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // Directional CONTAINMENT dedup over word-2-shingles:
    // C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.9 flags documents whose
    // content substantially appears inside another (quotes, mirrors,
    // supersets) — the asymmetric case Jaccard misses because the
    // union in its denominator is dominated by the larger doc.
    // Core choice by MEASURED universe size ([[containmentPairs]],
    // same discipline as dedup_ngram_jaccard): the fixture's shingle
    // universe is ≤ 31² per lang, so rare-shingle prefixes don't
    // exist and the prefix join explodes (measured 5.4 s) while
    // AND+popcount over ≤16 words wins (~2 s) — the probe routes the
    // fixture to containmentBitmapPairs; past BitmapUniverseCap it
    // routes to containmentPrefixPairs, and DedupSpec pins that the
    // two exact cores agree (and that the switch engages on a
    // generated large-universe corpus). Verify predicate is exact
    // integer (inter·10 ≥ n_a·9): no float boundary to flip.
    "dedup_containment" -> ((s, d) =>
      containmentPairs(shingleSets(TestData.documents(s, d)), 0.9)
        .orderBy("id_a", "id_b")),

    // S3 stand-in (zero-egress env has no encoder model): 5-dim
    // deterministic featurization = counts of tokens starting a–e.
    "text_featurize" -> ((s, d) => {
      val letters = Seq("a", "b", "c", "d", "e")
      val dims = letters.map(l =>
        size(filter(col("toks"), t => t.startsWith(l))).as(s"f_$l"))
      TestData.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id") +: dims: _*)
        .orderBy("doc_id")
    })
  )

  /** Shared oracle SUFFIX for the detector-AUC readout: expects a
    * `scored(detector, score_u, is_pos)` CTE upstream and emits the
    * cell-grid Mann-Whitney AUC + micro-quantized step AP. Used by
    * `eval_detector_auc` (text detectors) and MultimodalOps'
    * `eval_media_detector_auc` (perceptual-hash detectors). Every
    * windowed sum ::BIGINT (HUGEINT→pandas float trap).
    */
  private[graft] val DetectorAucReadoutSql: String =
    """,cells AS (
      |  SELECT detector, score_u, sum(is_pos)::BIGINT AS pos,
      |    sum(1 - is_pos)::BIGINT AS neg
      |  FROM scored GROUP BY 1, 2),
      |w AS (
      |  SELECT detector, pos, neg,
      |    (coalesce(sum(neg) OVER (PARTITION BY detector ORDER BY score_u
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
      |      AS cum_neg_lt,
      |    (sum(pos) OVER (PARTITION BY detector ORDER BY score_u DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
      |      AS cum_pos_ge,
      |    (sum(neg) OVER (PARTITION BY detector ORDER BY score_u DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
      |      AS cum_neg_ge
      |  FROM cells),
      |agg AS (
      |  SELECT detector, sum(pos)::BIGINT AS n_pos,
      |    sum(neg)::BIGINT AS n_neg,
      |    sum(pos * (2 * cum_neg_lt + neg))::BIGINT AS auc2_num,
      |    sum(floor(pos::DOUBLE * cum_pos_ge::DOUBLE
      |      / (cum_pos_ge + cum_neg_ge)::DOUBLE * 1000000 + 0.5)::BIGINT)
      |      ::BIGINT AS ap_sum_u
      |  FROM w GROUP BY 1)
      |SELECT detector, n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    floor(auc2_num::DOUBLE / (2.0 * (n_pos * n_neg)::DOUBLE)
      |      * 10000 + 0.5) / 10000 END AS auc,
      |  CASE WHEN n_pos > 0 THEN
      |    floor(ap_sum_u::DOUBLE / (1000000.0 * n_pos::DOUBLE)
      |      * 10000 + 0.5) / 10000 END AS pr_auc
      |FROM agg ORDER BY detector""".stripMargin

  /** Shared oracle CTEs for the planted-dup evaluation corpus and
    * its jaccard-scored pairs (see plantedDetectorScores) — used by
    * both `eval_detector_auc` and `dedup_threshold_sweep`.
    */
  private val PlantedJacCtes =
    """WITH corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, text || ' zq1 zq2 zq3'
      |  FROM documents WHERE doc_id % 5 = 0),
      |t AS (
      |  SELECT doc_id, lang,
      |    unnest(list_distinct(string_split(text, ' '))) AS token
      |  FROM corpus),
      |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY 1),
      |allp AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM corpus a JOIN corpus b
      |    ON a.lang = b.lang AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM t a JOIN t b ON a.token = b.token AND a.lang = b.lang
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT p.id_a, p.id_b, 'jaccard' AS detector,
      |    floor(coalesce(i.inter, 0)::DOUBLE
      |      / (sa.sz + sb.sz - coalesce(i.inter, 0)) * 10000 + 0.5)
      |      ::BIGINT AS score_u
      |  FROM allp p
      |  LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
      |  JOIN sz sa ON sa.doc_id = p.id_a
      |  JOIN sz sb ON sb.doc_id = p.id_b)""".stripMargin

  /** Both-detector scored-pair oracle CTEs (jaccard + simhash over
    * the planted corpus), ending with `scored(detector, score_u,
    * is_pos)` — shared by `eval_detector_auc` and
    * `eval_ks_separation`.
    */
  private lazy val PlantedScoredCtes: String =
    s"""$PlantedJacCtes,
      |h AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS hv
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM corpus)),
      |bits AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS w
      |  FROM h, LATERAL (SELECT unnest(range(0, 60)) AS b)
      |  GROUP BY doc_id, b),
      |sim AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
      |      AS sh
      |  FROM bits GROUP BY 1),
      |simp AS (
      |  SELECT p.id_a, p.id_b, 'simhash' AS detector,
      |    (60 - bit_count(xor(a.sh, b.sh)))::BIGINT AS score_u
      |  FROM allp p JOIN sim a ON a.doc_id = p.id_a
      |  JOIN sim b ON b.doc_id = p.id_b),
      |scored AS (
      |  SELECT detector, score_u,
      |    CASE WHEN id_b = id_a + 1000000 AND id_a % 5 = 0
      |      THEN 1 ELSE 0 END AS is_pos
      |  FROM (SELECT * FROM jac UNION ALL SELECT * FROM simp))""".stripMargin

  val oracles: Map[String, String] = Map(
    // Same jac CTEs; ε-clipped ln terms micro-quantized per
    // score-distinct cell, exact pos/neg weights.
    "eval_log_loss" ->
      s"""$PlantedJacCtes,
        |lab AS (
        |  SELECT score_u,
        |    CASE WHEN id_b = id_a + 1000000 AND id_a % 5 = 0
        |      THEN 1 ELSE 0 END AS is_pos
        |  FROM jac),
        |cells AS (
        |  SELECT score_u, sum(is_pos)::BIGINT AS pos,
        |    sum(1 - is_pos)::BIGINT AS neg
        |  FROM lab GROUP BY 1),
        |q AS (
        |  SELECT *,
        |    least(greatest(score_u, 1), 9999)::DOUBLE / 10000.0 AS pc
        |  FROM cells),
        |w AS (
        |  SELECT *,
        |    floor(ln(pc) * 1000000 + 0.5)::BIGINT AS lnp_u,
        |    floor(ln(1.0 - pc) * 1000000 + 0.5)::BIGINT AS ln1p_u
        |  FROM q),
        |a AS (
        |  SELECT sum(pos + neg)::BIGINT AS n_pairs,
        |    sum(pos)::BIGINT AS n_pos,
        |    sum(pos * lnp_u + neg * ln1p_u)::BIGINT AS ll_su
        |  FROM w),
        |b AS (
        |  SELECT *,
        |    CASE WHEN n_pairs > 0 THEN
        |      floor(-(ll_su::DOUBLE / 1.0e6 / n_pairs::DOUBLE)
        |        * 10000 + 0.5) / 10000 END AS log_loss,
        |    CASE WHEN n_pairs > 0 THEN
        |      n_pos::DOUBLE / n_pairs::DOUBLE END AS br
        |  FROM a),
        |c2 AS (
        |  SELECT *,
        |    CASE WHEN br > 0 AND br < 1 THEN
        |      floor(-(br * ln(br) + (1.0 - br) * ln(1.0 - br))
        |        * 10000 + 0.5) / 10000 END AS log_loss_base
        |  FROM b)
        |SELECT n_pairs, n_pos, log_loss, log_loss_base,
        |  CASE WHEN log_loss_base > 0 THEN
        |    floor((1.0 - log_loss / log_loss_base) * 10000 + 0.5)
        |      / 10000 END AS skill
        |FROM c2""".stripMargin,
    // Same jac CTEs; minimax PAVA over the score-distinct grid —
    // interval averages off one cumulative prefix, micro integer
    // division, suffix-min per interval start, max per end.
    "eval_calibration_fit" ->
      s"""$PlantedJacCtes,
        |lab AS (
        |  SELECT score_u,
        |    CASE WHEN id_b = id_a + 1000000 AND id_a % 5 = 0
        |      THEN 1 ELSE 0 END AS is_pos
        |  FROM jac),
        |cells AS (
        |  SELECT score_u, count(*)::BIGINT AS n_b,
        |    sum(is_pos)::BIGINT AS pos_b
        |  FROM lab GROUP BY 1),
        |cum AS (
        |  SELECT score_u, n_b, pos_b,
        |    (sum(pos_b) OVER (ORDER BY score_u ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW))::BIGINT AS cp,
        |    (sum(n_b) OVER (ORDER BY score_u ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW))::BIGINT AS cn
        |  FROM cells),
        |pr AS (
        |  SELECT i.score_u AS si, j.score_u AS sj,
        |    ((j.cp - (i.cp - i.pos_b)) * 1000000)
        |      // (j.cn - (i.cn - i.n_b)) AS r_u
        |  FROM cum i JOIN cum j ON i.score_u <= j.score_u),
        |sm AS (
        |  SELECT si, sj,
        |    (min(r_u) OVER (PARTITION BY si ORDER BY sj DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      ::BIGINT AS g
        |  FROM pr),
        |ft AS (
        |  SELECT sj AS score_u, max(g)::BIGINT AS fit_u
        |  FROM sm GROUP BY 1)
        |SELECT c.score_u, c.n_b AS n_pairs, c.pos_b AS n_pos,
        |  f.fit_u,
        |  floor(f.fit_u::DOUBLE / 1000000.0 * 10000 + 0.5) / 10000
        |    AS fit
        |FROM cells c JOIN ft f ON c.score_u = f.score_u
        |ORDER BY c.score_u""".stripMargin,
    // Same jac CTEs; exact BIGINT ECE numerators |pos·1e4 − Σscore|,
    // bin-grid windows ::BIGINT.
    "eval_score_calibration" ->
      s"""$PlantedJacCtes,
        |lab AS (
        |  SELECT score_u // 1000 AS bin, score_u,
        |    CASE WHEN id_b = id_a + 1000000 AND id_a % 5 = 0
        |      THEN 1 ELSE 0 END AS is_pos
        |  FROM jac),
        |bins AS (
        |  SELECT bin, count(*)::BIGINT AS n_pairs,
        |    sum(is_pos)::BIGINT AS n_pos, sum(score_u)::BIGINT AS s_u
        |  FROM lab GROUP BY 1),
        |g AS (
        |  SELECT *, abs(n_pos * 10000 - s_u)::BIGINT AS gap_num,
        |    (sum(abs(n_pos * 10000 - s_u)) OVER ())::BIGINT AS tot_gap,
        |    (sum(n_pairs) OVER ())::BIGINT AS tot_n
        |  FROM bins)
        |SELECT bin, n_pairs, n_pos,
        |  floor(n_pos::DOUBLE / n_pairs::DOUBLE * 10000 + 0.5) / 10000
        |    AS pos_rate,
        |  floor(s_u::DOUBLE / (n_pairs * 10000)::DOUBLE * 10000 + 0.5)
        |    / 10000 AS mean_score,
        |  floor(gap_num::DOUBLE / (n_pairs * 10000)::DOUBLE
        |    * 10000 + 0.5) / 10000 AS gap,
        |  floor(tot_gap::DOUBLE / (tot_n * 10000)::DOUBLE
        |    * 10000 + 0.5) / 10000 AS ece
        |FROM g ORDER BY bin""".stripMargin,
    // Same jac CTEs + threshold tags; exact confusion cells, the
    // guarded 4-factor √ denominator on the 5-row readout.
    "eval_mcc_sweep" ->
      s"""$PlantedJacCtes,
        |lab AS (
        |  SELECT score_u,
        |    CASE WHEN id_b = id_a + 1000000 AND id_a % 5 = 0
        |      THEN 1 ELSE 0 END AS is_pos
        |  FROM jac),
        |cells AS (
        |  SELECT score_u, sum(is_pos)::BIGINT AS pos,
        |    sum(1 - is_pos)::BIGINT AS neg
        |  FROM lab GROUP BY 1),
        |thr AS (SELECT unnest([5000, 7000, 8000, 9000, 9500])
        |        AS threshold_u),
        |agg AS (
        |  SELECT threshold_u,
        |    sum(CASE WHEN score_u >= threshold_u THEN pos ELSE 0 END)
        |      ::BIGINT AS tp,
        |    sum(CASE WHEN score_u >= threshold_u THEN neg ELSE 0 END)
        |      ::BIGINT AS fp,
        |    sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg
        |  FROM cells CROSS JOIN thr GROUP BY 1),
        |cf AS (
        |  SELECT threshold_u::BIGINT AS threshold_u, tp, fp,
        |    (n_neg - fp)::BIGINT AS tn, (n_pos - tp)::BIGINT AS fn
        |  FROM agg)
        |SELECT threshold_u, tp, fp, tn, fn,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
        |      AND tn + fn > 0 THEN
        |    floor((tp * tn - fp * fn)::DOUBLE
        |      / sqrt((tp + fp)::DOUBLE * (tp + fn)::DOUBLE
        |        * (tn + fp)::DOUBLE * (tn + fn)::DOUBLE)
        |      * 10000 + 0.5) / 10000 END AS mcc
        |FROM cf ORDER BY threshold_u""".stripMargin,
    // Same jac CTEs; two descending cumulative windows over the
    // ≤ 11-bin grid; guarded gain/lift divisions per row.
    "eval_lift_curve" ->
      s"""$PlantedJacCtes,
        |lab AS (
        |  SELECT score_u // 1000 AS bin,
        |    CASE WHEN id_b = id_a + 1000000 AND id_a % 5 = 0
        |      THEN 1 ELSE 0 END AS is_pos
        |  FROM jac),
        |bins AS (
        |  SELECT bin, count(*)::BIGINT AS n_pairs,
        |    sum(is_pos)::BIGINT AS n_pos
        |  FROM lab GROUP BY 1),
        |g AS (
        |  SELECT *,
        |    (sum(n_pairs) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_pairs,
        |    (sum(n_pos) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_pos,
        |    (sum(n_pairs) OVER ())::BIGINT AS nn,
        |    (sum(n_pos) OVER ())::BIGINT AS pp
        |  FROM bins)
        |SELECT bin, n_pairs, n_pos, cum_pairs, cum_pos,
        |  CASE WHEN pp > 0 THEN
        |    floor(cum_pos::DOUBLE / pp::DOUBLE * 10000 + 0.5) / 10000
        |  END AS gain,
        |  CASE WHEN pp > 0 AND cum_pairs > 0 THEN
        |    floor((cum_pos::DOUBLE / cum_pairs::DOUBLE)
        |      / (pp::DOUBLE / nn::DOUBLE) * 10000 + 0.5) / 10000
        |  END AS lift
        |FROM g ORDER BY bin DESC""".stripMargin,
    // Same jac CTEs; exact BIGINT BS numerator + gap²//n_b
    // reliability terms; resolution terms micro-quantized per bin
    // before the sum (mirrored op order).
    "eval_brier_score" ->
      s"""$PlantedJacCtes,
        |lab AS (
        |  SELECT score_u // 1000 AS bin, score_u,
        |    CASE WHEN id_b = id_a + 1000000 AND id_a % 5 = 0
        |      THEN 1 ELSE 0 END AS is_pos
        |  FROM jac),
        |bins AS (
        |  SELECT bin, count(*)::BIGINT AS n_b,
        |    sum(is_pos)::BIGINT AS pos_b, sum(score_u)::BIGINT AS s_b,
        |    sum((score_u - is_pos * 10000) * (score_u - is_pos * 10000))
        |      ::BIGINT AS sq_b
        |  FROM lab GROUP BY 1),
        |g AS (
        |  SELECT *, abs(pos_b * 10000 - s_b)::BIGINT AS gap_num,
        |    (sum(n_b) OVER ())::BIGINT AS nn,
        |    (sum(pos_b) OVER ())::BIGINT AS pp
        |  FROM bins),
        |h AS (
        |  SELECT *,
        |    ((gap_num * gap_num) // n_b)::BIGINT AS rel_t,
        |    floor(n_b::DOUBLE
        |      * (pos_b::DOUBLE / n_b::DOUBLE - pp::DOUBLE / nn::DOUBLE)
        |      * (pos_b::DOUBLE / n_b::DOUBLE - pp::DOUBLE / nn::DOUBLE)
        |      * 1000000 + 0.5)::BIGINT AS res_u
        |  FROM g),
        |a AS (
        |  SELECT max(nn)::BIGINT AS n_pairs, max(pp)::BIGINT AS n_pos,
        |    sum(sq_b)::BIGINT AS bs_num, sum(rel_t)::BIGINT AS rel_num,
        |    sum(res_u)::BIGINT AS res_micro
        |  FROM h)
        |SELECT n_pairs, n_pos,
        |  CASE WHEN n_pairs > 0 THEN
        |    floor(bs_num::DOUBLE / (n_pairs * 100000000)::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS brier,
        |  CASE WHEN n_pairs > 0 THEN
        |    floor(rel_num::DOUBLE / (n_pairs * 100000000)::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS reliability,
        |  CASE WHEN n_pairs > 0 THEN
        |    floor(res_micro::DOUBLE / (n_pairs::DOUBLE * 1000000.0)
        |      * 10000 + 0.5) / 10000 END AS resolution,
        |  CASE WHEN n_pairs > 0 THEN
        |    floor(n_pos::DOUBLE / n_pairs::DOUBLE
        |      * (1.0 - n_pos::DOUBLE / n_pairs::DOUBLE)
        |      * 10000 + 0.5) / 10000 END AS uncertainty
        |FROM a""".stripMargin,
    // Same jac CTEs; per-threshold conditional sums over the cell
    // grid; F1 as 2·tp/(n_flagged + n_pos).
    "dedup_threshold_sweep" ->
      s"""$PlantedJacCtes,
        |lab AS (
        |  SELECT score_u,
        |    CASE WHEN id_b = id_a + 1000000 AND id_a % 5 = 0
        |      THEN 1 ELSE 0 END AS is_pos
        |  FROM jac),
        |cells AS (
        |  SELECT score_u, sum(is_pos)::BIGINT AS pos,
        |    sum(1 - is_pos)::BIGINT AS neg
        |  FROM lab GROUP BY 1),
        |thr AS (SELECT unnest([5000, 7000, 8000, 9000, 9500])
        |        AS threshold_u),
        |agg AS (
        |  SELECT threshold_u,
        |    sum(CASE WHEN score_u >= threshold_u THEN pos ELSE 0 END)
        |      ::BIGINT AS tp,
        |    sum(CASE WHEN score_u >= threshold_u THEN neg ELSE 0 END)
        |      ::BIGINT AS fp,
        |    sum(pos)::BIGINT AS n_pos
        |  FROM cells CROSS JOIN thr GROUP BY 1)
        |SELECT threshold_u::BIGINT AS threshold_u, tp + fp AS n_flagged,
        |  tp, fp, n_pos,
        |  CASE WHEN tp + fp > 0 THEN
        |    floor(tp::DOUBLE / (tp + fp)::DOUBLE * 10000 + 0.5) / 10000
        |  END AS precision,
        |  CASE WHEN n_pos > 0 THEN
        |    floor(tp::DOUBLE / n_pos::DOUBLE * 10000 + 0.5) / 10000
        |  END AS recall,
        |  CASE WHEN tp + fp + n_pos > 0 THEN
        |    floor(2.0 * tp::DOUBLE / (tp + fp + n_pos)::DOUBLE
        |      * 10000 + 0.5) / 10000
        |  END AS f1
        |FROM agg ORDER BY threshold_u""".stripMargin,
    "text_tokenize_stats" ->
      """SELECT doc_id, len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_distinct,
        |  floor((list_sum(list_transform(toks, t -> length(t)))::DOUBLE
        |    / len(toks))*10000 + 0.5)/10000 AS avg_tok_len
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_wordcount_topk" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "text_bigram_freq" ->
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 2)
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "dedup_exact_hash" ->
      """SELECT min(doc_id) AS survivor_id, count(*) AS group_size
        |FROM documents GROUP BY md5(lower(trim(text)))
        |ORDER BY survivor_id""".stripMargin,
    // Same micro-nat per-term quantization over the (lang, bigram)
    // fold; identical op order in the readout division.
    "text_conditional_entropy" ->
      """WITH bi AS (
        |  SELECT lang, bg, count(*)::BIGINT AS c_b FROM (
        |    SELECT lang, unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS bg
        |    FROM (SELECT lang, string_split(text, ' ') AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 2)
        |  GROUP BY 1, 2),
        |b2 AS (SELECT *, split_part(bg, ' ', 1) AS w1 FROM bi),
        |marg AS (SELECT lang, w1, sum(c_b)::BIGINT AS c_1
        |         FROM b2 GROUP BY 1, 2),
        |j AS (
        |  SELECT b2.lang, b2.c_b, marg.c_1
        |  FROM b2 JOIN marg ON b2.lang = marg.lang AND b2.w1 = marg.w1)
        |SELECT lang, sum(c_b)::BIGINT AS n_bigrams,
        |  count(*)::BIGINT AS n_distinct_bigrams,
        |  floor(sum(floor(c_b::DOUBLE * ln(c_1::DOUBLE / c_b::DOUBLE)
        |      * 1000000 + 0.5)::BIGINT)::DOUBLE
        |    / (1000000.0 * sum(c_b)::DOUBLE) * 10000 + 0.5) / 10000
        |    AS cond_entropy_nats
        |FROM j GROUP BY 1 ORDER BY lang""".stripMargin,
    "text_normalize_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || '  !!'
        |  FROM documents WHERE doc_id % 10 = 0),
        |n AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS h
        |  FROM u)
        |SELECT min(doc_id) AS canonical_id, count(*)::BIGINT AS n_variants
        |FROM n GROUP BY h ORDER BY canonical_id""".stripMargin,
    // Both detector CTE chains re-derived independently (simhash
    // banding and jaccard blocking are sound, so the unblocked
    // brute-force forms ARE the detector populations); Chapman is
    // one integer division over the three counts.
    "dedup_capture_recapture" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS hv
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS w
        |  FROM h, LATERAL (SELECT unnest(range(0, 60)) AS b)
        |  GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
        |      AS simhash
        |  FROM bits GROUP BY doc_id),
        |da AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |t2 AS (
        |  SELECT doc_id, lang,
        |    unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM t2 a JOIN t2 b ON a.token = b.token AND a.lang = b.lang
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |db AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) > 0.9),
        |c AS (
        |  SELECT (SELECT count(*) FROM da)::BIGINT AS n_a,
        |    (SELECT count(*) FROM db)::BIGINT AS n_b,
        |    (SELECT count(*) FROM da JOIN db USING (id_a, id_b))::BIGINT
        |      AS n_both)
        |SELECT n_a, n_b, n_both,
        |  ((n_a + 1) * (n_b + 1) // (n_both + 1) - 1)::BIGINT AS n_hat,
        |  CASE WHEN n_b > 0 THEN
        |    floor(n_both::DOUBLE / n_b::DOUBLE * 10000 + 0.5) / 10000 END
        |    AS coverage_a,
        |  CASE WHEN n_a > 0 THEN
        |    floor(n_both::DOUBLE / n_a::DOUBLE * 10000 + 0.5) / 10000 END
        |    AS coverage_b
        |FROM c""".stripMargin,
    // Same brute-forced detector pair lists as capture_recapture,
    // collapsed to doc-grain flags; κ all-integer until one division.
    // Mirrors the WHOLE pipeline: planted corpus (every 5th doc +3
    // novel tokens, id + 1e6), all same-lang pairs, token-equality
    // Jaccard (LEFT JOIN — zero-intersection pairs score 0), the
    // proven simhash fold, then the cell-grid MW identity and the
    // micro-quantized AP terms in identical op order. Every windowed
    // sum ::BIGINT (HUGEINT→pandas float trap). Shared jac CTEs with
    // the threshold sweep (PlantedJacCtes below the map).
    "eval_detector_auc" ->
      s"""$PlantedScoredCtes
        |$DetectorAucReadoutSql""".stripMargin,
    // Same scored CTEs + cell grid; placement deviations keep exact
    // integer numerators (m·v10_2 − auc2_num), squared terms
    // nano-quantized per cell in identical op order, one readout row
    // per detector. Every windowed sum ::BIGINT.
    // Paired DeLong mirrored: id-carrying scored pairs from the same
    // jac/simp CTEs, per-detector placement grid, the wide per-pair
    // frame, nano-quantized deviation products, mirrored readout
    // (the significance flag compares the r4'd p on both sides).
    "eval_delong_compare" ->
      s"""$PlantedScoredCtes,
        |sp AS (
        |  SELECT id_a, id_b, detector, score_u,
        |    CASE WHEN id_b = id_a + 1000000 AND id_a % 5 = 0
        |      THEN 1 ELSE 0 END AS is_pos
        |  FROM (SELECT * FROM jac UNION ALL SELECT * FROM simp)),
        |cells2 AS (
        |  SELECT detector, score_u, sum(is_pos)::BIGINT AS pos,
        |    sum(1 - is_pos)::BIGINT AS neg
        |  FROM sp GROUP BY 1, 2),
        |g2 AS (
        |  SELECT detector AS gdet, score_u AS gs,
        |    (2 * (coalesce(sum(neg) OVER (PARTITION BY detector
        |      ORDER BY score_u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |      ::BIGINT + neg)::BIGINT AS v10_2,
        |    (2 * (coalesce(sum(pos) OVER (PARTITION BY detector
        |      ORDER BY score_u DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |      ::BIGINT + pos)::BIGINT AS v01_2
        |  FROM cells2),
        |wd AS (
        |  SELECT sp.id_a, sp.id_b, sp.is_pos,
        |    max(CASE WHEN sp.detector = 'jaccard' THEN
        |      CASE WHEN sp.is_pos = 1 THEN g2.v10_2 ELSE g2.v01_2 END
        |      END)::BIGINT AS va,
        |    max(CASE WHEN sp.detector = 'simhash' THEN
        |      CASE WHEN sp.is_pos = 1 THEN g2.v10_2 ELSE g2.v01_2 END
        |      END)::BIGINT AS vb
        |  FROM sp JOIN g2
        |    ON sp.detector = g2.gdet AND sp.score_u = g2.gs
        |  GROUP BY 1, 2, 3),
        |tt AS (
        |  SELECT sum(is_pos)::BIGINT AS m,
        |    sum(1 - is_pos)::BIGINT AS n,
        |    sum(CASE WHEN is_pos = 1 THEN va ELSE 0 END)::BIGINT AS a2a,
        |    sum(CASE WHEN is_pos = 1 THEN vb ELSE 0 END)::BIGINT AS a2b
        |  FROM wd),
        |dvx AS (
        |  SELECT is_pos,
        |    CASE WHEN is_pos = 1
        |      THEN (m * va - a2a)::DOUBLE / (2.0 * (m * n)::DOUBLE)
        |      ELSE (n * va - a2a)::DOUBLE / (2.0 * (m * n)::DOUBLE)
        |      END AS da,
        |    CASE WHEN is_pos = 1
        |      THEN (m * vb - a2b)::DOUBLE / (2.0 * (m * n)::DOUBLE)
        |      ELSE (n * vb - a2b)::DOUBLE / (2.0 * (m * n)::DOUBLE)
        |      END AS db
        |  FROM wd CROSS JOIN tt),
        |tq AS (
        |  SELECT is_pos,
        |    sum(floor(da * da * 1000000000 + 0.5)::BIGINT)::BIGINT
        |      AS saa,
        |    sum(floor(db * db * 1000000000 + 0.5)::BIGINT)::BIGINT
        |      AS sbb,
        |    sum(floor(da * db * 1000000000 + 0.5)::BIGINT)::BIGINT
        |      AS sab
        |  FROM dvx GROUP BY 1),
        |pv AS (
        |  SELECT
        |    max(CASE WHEN is_pos = 1 THEN saa END)::BIGINT AS s10a,
        |    max(CASE WHEN is_pos = 1 THEN sbb END)::BIGINT AS s10b,
        |    max(CASE WHEN is_pos = 1 THEN sab END)::BIGINT AS s10ab,
        |    max(CASE WHEN is_pos = 0 THEN saa END)::BIGINT AS s01a,
        |    max(CASE WHEN is_pos = 0 THEN sbb END)::BIGINT AS s01b,
        |    max(CASE WHEN is_pos = 0 THEN sab END)::BIGINT AS s01ab
        |  FROM tq),
        |rd AS (
        |  SELECT *,
        |    (a2a - a2b)::DOUBLE / (2.0 * (m * n)::DOUBLE) AS diffr,
        |    sqrt(greatest(
        |      (s10a + s10b - 2 * s10ab)::DOUBLE / 1.0e9
        |        / (m - 1)::DOUBLE / m::DOUBLE
        |      + (s01a + s01b - 2 * s01ab)::DOUBLE / 1.0e9
        |        / (n - 1)::DOUBLE / n::DOUBLE, 0.0)) AS ser
        |  FROM pv CROSS JOIN tt)
        |SELECT m AS n_pos, n AS n_neg,
        |  CASE WHEN m > 0 AND n > 0 THEN
        |    floor(a2a::DOUBLE / (2.0 * (m * n)::DOUBLE) * 10000 + 0.5)
        |      / 10000 END AS auc_a,
        |  CASE WHEN m > 0 AND n > 0 THEN
        |    floor(a2b::DOUBLE / (2.0 * (m * n)::DOUBLE) * 10000 + 0.5)
        |      / 10000 END AS auc_b,
        |  CASE WHEN m > 0 AND n > 0 THEN
        |    floor(diffr * 10000 + 0.5) / 10000 END AS auc_diff,
        |  CASE WHEN m > 1 AND n > 1 THEN
        |    floor(ser * 10000 + 0.5) / 10000 END AS se_diff,
        |  CASE WHEN m > 1 AND n > 1 AND ser > 0 THEN
        |    floor(diffr / ser * 10000 + 0.5) / 10000 END AS z,
        |  CASE WHEN m > 1 AND n > 1 AND ser > 0 THEN
        |    floor(least(1.0, 2.0 * exp(-0.717 * abs(diffr / ser)
        |      - 0.416 * (diffr / ser) * (diffr / ser)))
        |      * 10000 + 0.5) / 10000 END AS p_approx,
        |  CASE WHEN m > 1 AND n > 1 AND ser > 0 THEN
        |    floor(least(1.0, 2.0 * exp(-0.717 * abs(diffr / ser)
        |      - 0.416 * (diffr / ser) * (diffr / ser)))
        |      * 10000 + 0.5) / 10000 < 0.05 END AS significant_95
        |FROM rd""".stripMargin,
    "eval_auc_ci" ->
      s"""$PlantedScoredCtes,
        |dlcells AS (
        |  SELECT detector, score_u, sum(is_pos)::BIGINT AS pos,
        |    sum(1 - is_pos)::BIGINT AS neg
        |  FROM scored GROUP BY 1, 2),
        |dlw AS (
        |  SELECT detector, score_u, pos, neg,
        |    (coalesce(sum(neg) OVER (PARTITION BY detector
        |      ORDER BY score_u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |      ::BIGINT AS cum_neg_lt,
        |    (coalesce(sum(pos) OVER (PARTITION BY detector
        |      ORDER BY score_u DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |      ::BIGINT AS cum_pos_gt,
        |    (sum(pos) OVER (PARTITION BY detector))::BIGINT AS m,
        |    (sum(neg) OVER (PARTITION BY detector))::BIGINT AS n
        |  FROM dlcells),
        |dlw2 AS (
        |  SELECT *, (sum(pos * (2 * cum_neg_lt + neg))
        |    OVER (PARTITION BY detector))::BIGINT AS auc2_num
        |  FROM dlw),
        |dlt AS (
        |  SELECT detector, m, n, auc2_num,
        |    CASE WHEN m > 0 AND n > 0 THEN
        |      floor(pos::DOUBLE
        |        * ((m * (2 * cum_neg_lt + neg) - auc2_num)::DOUBLE
        |          / (2.0 * (m * n)::DOUBLE))
        |        * ((m * (2 * cum_neg_lt + neg) - auc2_num)::DOUBLE
        |          / (2.0 * (m * n)::DOUBLE))
        |        * 1000000000 + 0.5)::BIGINT ELSE 0 END AS t10_u,
        |    CASE WHEN m > 0 AND n > 0 THEN
        |      floor(neg::DOUBLE
        |        * ((n * (2 * cum_pos_gt + pos) - auc2_num)::DOUBLE
        |          / (2.0 * (m * n)::DOUBLE))
        |        * ((n * (2 * cum_pos_gt + pos) - auc2_num)::DOUBLE
        |          / (2.0 * (m * n)::DOUBLE))
        |        * 1000000000 + 0.5)::BIGINT ELSE 0 END AS t01_u
        |  FROM dlw2),
        |dlagg AS (
        |  SELECT detector, max(m)::BIGINT AS m, max(n)::BIGINT AS n,
        |    max(auc2_num)::BIGINT AS auc2_num,
        |    sum(t10_u)::BIGINT AS s10_u, sum(t01_u)::BIGINT AS s01_u
        |  FROM dlt GROUP BY 1)
        |SELECT detector, m AS n_pos, n AS n_neg,
        |  CASE WHEN m > 0 AND n > 0 THEN
        |    floor((auc2_num::DOUBLE / (2.0 * (m * n)::DOUBLE))
        |      * 10000 + 0.5) / 10000 END AS auc,
        |  CASE WHEN m > 1 AND n > 1 THEN
        |    floor(sqrt(s10_u::DOUBLE / 1.0e9 / (m - 1)::DOUBLE
        |        / m::DOUBLE
        |      + s01_u::DOUBLE / 1.0e9 / (n - 1)::DOUBLE / n::DOUBLE)
        |      * 10000 + 0.5) / 10000 END AS se_auc,
        |  CASE WHEN m > 1 AND n > 1 THEN
        |    floor(greatest(0.0, auc2_num::DOUBLE / (2.0 * (m * n)::DOUBLE)
        |      - 1.96 * sqrt(s10_u::DOUBLE / 1.0e9 / (m - 1)::DOUBLE
        |          / m::DOUBLE
        |        + s01_u::DOUBLE / 1.0e9 / (n - 1)::DOUBLE / n::DOUBLE))
        |      * 10000 + 0.5) / 10000 END AS ci_lo,
        |  CASE WHEN m > 1 AND n > 1 THEN
        |    floor(least(1.0, auc2_num::DOUBLE / (2.0 * (m * n)::DOUBLE)
        |      + 1.96 * sqrt(s10_u::DOUBLE / 1.0e9 / (m - 1)::DOUBLE
        |          / m::DOUBLE
        |        + s01_u::DOUBLE / 1.0e9 / (n - 1)::DOUBLE / n::DOUBLE))
        |      * 10000 + 0.5) / 10000 END AS ci_hi
        |FROM dlagg ORDER BY detector""".stripMargin,
    // Same scored CTEs; the KS gap is an exact cross-multiplied
    // integer per cell, argmax threshold by min-score tie-break.
    "eval_ks_separation" ->
      s"""$PlantedScoredCtes,
        |cells AS (
        |  SELECT detector, score_u, sum(is_pos)::BIGINT AS pos,
        |    sum(1 - is_pos)::BIGINT AS neg
        |  FROM scored GROUP BY 1, 2),
        |cw AS (
        |  SELECT detector, score_u,
        |    (sum(pos) OVER (PARTITION BY detector ORDER BY score_u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_pos,
        |    (sum(neg) OVER (PARTITION BY detector ORDER BY score_u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_neg,
        |    (sum(pos) OVER (PARTITION BY detector))::BIGINT AS n_pos,
        |    (sum(neg) OVER (PARTITION BY detector))::BIGINT AS n_neg
        |  FROM cells),
        |g AS (
        |  SELECT *,
        |    abs(cum_pos * n_neg - cum_neg * n_pos)::BIGINT AS gap_num,
        |    (max(abs(cum_pos * n_neg - cum_neg * n_pos))
        |      OVER (PARTITION BY detector))::BIGINT AS max_gap
        |  FROM cw),
        |a AS (
        |  SELECT detector, max(n_pos)::BIGINT AS n_pos,
        |    max(n_neg)::BIGINT AS n_neg,
        |    max(gap_num)::BIGINT AS gap_num,
        |    min(CASE WHEN gap_num = max_gap THEN score_u END)::BIGINT
        |      AS ks_threshold_u
        |  FROM g GROUP BY 1)
        |SELECT detector, n_pos, n_neg, gap_num, ks_threshold_u,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    floor(gap_num::DOUBLE / (n_pos * n_neg)::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS ks
        |FROM a ORDER BY detector""".stripMargin,

    "dedup_detector_kappa" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS hv
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS w
        |  FROM h, LATERAL (SELECT unnest(range(0, 60)) AS b)
        |  GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
        |      AS simhash
        |  FROM bits GROUP BY doc_id),
        |da AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |t2 AS (
        |  SELECT doc_id, lang,
        |    unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM t2 a JOIN t2 b ON a.token = b.token AND a.lang = b.lang
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |db AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) > 0.9),
        |fa AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT id_a AS doc_id FROM da
        |    UNION ALL SELECT id_b FROM da)),
        |fb AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT id_a AS doc_id FROM db
        |    UNION ALL SELECT id_b FROM db)),
        |u AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    sum(CASE WHEN fa.doc_id IS NOT NULL AND fb.doc_id IS NOT NULL
        |      THEN 1 ELSE 0 END)::BIGINT AS n11,
        |    sum(CASE WHEN fa.doc_id IS NOT NULL AND fb.doc_id IS NULL
        |      THEN 1 ELSE 0 END)::BIGINT AS n10,
        |    sum(CASE WHEN fa.doc_id IS NULL AND fb.doc_id IS NOT NULL
        |      THEN 1 ELSE 0 END)::BIGINT AS n01
        |  FROM documents d
        |  LEFT JOIN fa ON d.doc_id = fa.doc_id
        |  LEFT JOIN fb ON d.doc_id = fb.doc_id),
        |v AS (
        |  SELECT *, (n_docs - n11 - n10 - n01)::BIGINT AS n00 FROM u),
        |w2 AS (
        |  SELECT *,
        |    ((n11 + n10) * (n11 + n01)
        |      + (n01 + n00) * (n10 + n00))::BIGINT AS pe_num
        |  FROM v),
        |x AS (
        |  SELECT *,
        |    (n_docs * (n11 + n00) - pe_num)::BIGINT AS kappa_num,
        |    (n_docs * n_docs - pe_num)::BIGINT AS kappa_den
        |  FROM w2)
        |SELECT n_docs, n11, n10, n01, n00, kappa_num, kappa_den,
        |  CASE WHEN kappa_den > 0 THEN
        |    floor(kappa_num::DOUBLE / kappa_den::DOUBLE * 10000 + 0.5)
        |      / 10000 END AS kappa
        |FROM x""".stripMargin,
    "dedup_jaccard_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM t a JOIN t b ON a.token = b.token AND a.lang = b.lang
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  floor((inter::DOUBLE / (sa.sz + sb.sz - inter))*10000 + 0.5)/10000 AS jaccard
        |FROM inter
        |JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) > 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, lang,
        |    list_distinct([substring(text, i, 3)
        |      for i in range(1, length(text)-1)]) AS gs
        |  FROM documents WHERE length(text) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  floor((len(list_intersect(a.gs, b.gs))::DOUBLE
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))))
        |    *10000 + 0.5)/10000 AS jaccard
        |FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) > 0.7
        |ORDER BY id_a, id_b""".stripMargin,

    "text_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 32 THEN 1
        |         ELSE ((len(toks) - 32 + 23) // 24) + 1 END AS nc
        |  FROM t),
        |c AS (
        |  SELECT doc_id, i AS chunk_id,
        |    array_to_string(toks[i*24 + 1 : i*24 + 32], ' ') AS chunk
        |  FROM n, LATERAL (SELECT unnest(range(0, nc)) AS i))
        |SELECT doc_id, chunk_id,
        |  len(string_split(chunk, ' ')) AS n_tokens, md5(chunk) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "dedup_containment" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_distinct([toks[i] || ' ' || toks[i+1]
        |                   for i in range(1, len(toks))]) AS sh
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 2)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh))::BIGINT AS n_shared,
        |  len(a.sh)::BIGINT AS n_a,
        |  floor((len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh))*10000
        |    + 0.5)/10000 AS containment
        |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 10 >= len(a.sh) * 9
        |ORDER BY id_a, id_b""".stripMargin,
    "text_featurize" ->
      """SELECT doc_id,
        |  len(list_filter(toks, t -> t LIKE 'a%')) AS f_a,
        |  len(list_filter(toks, t -> t LIKE 'b%')) AS f_b,
        |  len(list_filter(toks, t -> t LIKE 'c%')) AS f_c,
        |  len(list_filter(toks, t -> t LIKE 'd%')) AS f_d,
        |  len(list_filter(toks, t -> t LIKE 'e%')) AS f_e
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // Full-pipeline mirror of the banded MinHash-LSH: signatures from
    // the SAME (a_k, b_k) constants (generated below, never copied by
    // hand), band keys as exact value tuples, candidates via the same
    // equi-join, then exact Jaccard verify. Deterministic end to end,
    // so the hash comparison is meaningful.
    "dedup_minhash_lsh" -> minhashLshOracle,
    "dedup_lsh_tuning" -> lshTuningOracle
  )

  /** The mirrored MinHash-LSH pipeline as a reusable CTE block ending
    * in `ver(id_a, id_b, jac)` — shared by the pairs oracle below and
    * the component-clustering oracle in GraphOps.
    */
  /** Rounded S-curve threshold (1/b)^(1/r) — computed ONCE in Scala
    * and interpolated into BOTH the Spark literal and the oracle SQL
    * so no engine evaluates the pow.
    */
  private[graft] def sCurveThreshold(bands: Int, r: Int): Double =
    math.floor(math.pow(1.0 / bands, 1.0 / r) * 10000 + 0.5) / 10000

  /** Band-key SELECTs for an 18-perm signature at `r` rows/band. */
  private def tuningBandsSql(r: Int): String = {
    val bands = 18 / r
    (0 until bands).map { j =>
      val cols = (0 until r).map(i => s"mh${j * r + i}")
        .mkString(" || '|' || ")
      s"  SELECT id, $j AS band, lang || '|' || $cols AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n")
  }

  private def lshTuningOracle: String = {
    val perR = Seq(2, 3, 6).map { r =>
      s"""b$r AS (
         |${tuningBandsSql(r)}),
         |c$r AS (
         |  SELECT a.id AS id_a, b.id AS id_b FROM b$r a JOIN b$r b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
         |  GROUP BY 1, 2),
         |v$r AS (
         |  SELECT count(*)::BIGINT AS n FROM c$r
         |  JOIN sh sa ON sa.id = c$r.id_a JOIN sh sb ON sb.id = c$r.id_b
         |  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
         |    (len(sa.shingles) + len(sb.shingles)
         |     - len(list_intersect(sa.shingles, sb.shingles))) > 0.9)"""
        .stripMargin
    }.mkString(",\n")
    val rows = Seq(2, 3, 6).map { r =>
      val bands = 18 / r
      s"""SELECT $r AS rows_per_band, $bands AS bands,
         |  ${sCurveThreshold(bands, r)} AS threshold,
         |  (SELECT count(*) FROM c$r)::BIGINT AS n_candidates,
         |  (SELECT n FROM v$r)::BIGINT AS n_verified""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $minhashSigCtes,
       |$perR
       |$rows
       |ORDER BY rows_per_band""".stripMargin
  }

  /** Shared toks → shingles → 18-perm signature CTE prefix. */
  private def minhashSigCtes: String = {
    val p = graft.functions.MinHashLsh.Prime
    val mhCols = graft.functions.MinHashLsh.permConstants(18).zipWithIndex
      .map { case ((a, b), k) =>
        s"    list_min(list_transform(hv, h -> (h*$a + $b) % $p)) AS mh$k"
      }.mkString(",\n")
    s"""toks AS (
       |  SELECT doc_id AS id, lang, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |sh AS (
       |  SELECT id, lang,
       |    list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS shingles
       |  FROM toks),
       |sig AS (
       |  SELECT id, lang,
       |$mhCols
       |  FROM (SELECT id, lang,
       |          list_transform(shingles,
       |            s -> ('0x' || substring(md5(s), 1, 7))::BIGINT) AS hv
       |        FROM sh))""".stripMargin
  }

  private[graft] def minhashLshCtes: String = {
    val p = graft.functions.MinHashLsh.Prime
    val mhCols = graft.functions.MinHashLsh.permConstants(18).zipWithIndex
      .map { case ((a, b), k) =>
        s"    list_min(list_transform(hv, h -> (h*$a + $b) % $p)) AS mh$k"
      }.mkString(",\n")
    val bandSel = (0 until 6).map { j =>
      s"  SELECT id, $j AS band, lang || '|' || mh${3 * j} || '|' || " +
        s"mh${3 * j + 1} || '|' || mh${3 * j + 2} AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""toks AS (
       |  SELECT doc_id AS id, lang, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |sh AS (
       |  SELECT id, lang,
       |    list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS shingles
       |  FROM toks),
       |sig AS (
       |  SELECT id, lang,
       |$mhCols
       |  FROM (SELECT id, lang,
       |          list_transform(shingles,
       |            s -> ('0x' || substring(md5(s), 1, 7))::BIGINT) AS hv
       |        FROM sh)),
       |bands AS (
       |$bandSel),
       |cand AS (
       |  SELECT a.id AS id_a, b.id AS id_b FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
       |  GROUP BY 1, 2),
       |ver AS (
       |  SELECT id_a, id_b,
       |    len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
       |      (len(sa.shingles) + len(sb.shingles)
       |       - len(list_intersect(sa.shingles, sb.shingles))) AS jac
       |  FROM cand JOIN sh sa ON sa.id = cand.id_a JOIN sh sb ON sb.id = cand.id_b)""".stripMargin
  }

  private def minhashLshOracle: String =
    s"""WITH $minhashLshCtes
       |SELECT id_a, id_b, floor(jac*10000 + 0.5)/10000 AS approx_jaccard
       |FROM ver WHERE jac > 0.9 ORDER BY id_a, id_b""".stripMargin
}
