package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.TestData
import graft.TestData.r4
import graft.CkptOps
import graft.functions.{VectorOps => V}

/** Corpus relevance / language-model scoring — the retrieval side of
  * a training-data pipeline (BM25 lexical ranking, hybrid
  * lexical+vector fusion, n-gram LM quality scoring, distribution
  * entropy): the text-analysis / similarity-search mandate of the
  * north star (BASELINE.json:6) next to the vector search the
  * reference's pipeline builds (/root/reference/README.md:2
  * "building the vectordb").
  *
  * Scale shapes: every operator here is explode → aggregate →
  * small-side broadcast join. The corpus is never broadcast and never
  * self-joined; the only corpus-sized shuffles are the token/bigram
  * count aggregations (two-phase, map-side partial). The model sides
  * (document frequencies for 3 query tokens, corpus stats, bigram
  * counts over a bounded vocabulary) are orders of magnitude smaller
  * than the corpus and broadcast.
  */
object Relevance {
  type Q = (SparkSession, String) => DataFrame

  /** Every adjacent token pair (doc_id, w1, w2) of the (doc_id, toks)
    * token arrays, checkpointed: the bigram LMs count it and score it.
    */
  private def docBigrams(toks: DataFrame): DataFrame =
    toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .ckpt()

  /** Interpolated Kneser-Ney bigram LM core (see
    * `text_kn_perplexity`): input (doc_id, text), output per-doc
    * (doc_id, n_bigrams, avg_logp_kn, ppl_kn). Trains on the input
    * corpus itself (so every scored bigram has c ≥ 1); model sides
    * (bigram counts + context/continuation type counts) are
    * vocabulary-shaped broadcasts; per-bigram ln P micro-quantized
    * before the per-doc sum. Shared with `GraftEngine.knPerplexity`.
    */
  private[graft] def knPerplexityCore(docs: DataFrame): DataFrame = {
    // MEASURED AND REJECTED (r19.2): spreadScan here — bg is ckpt'd
    // (ONE explode evaluation), so the full-text repartition only
    // costs (interleaved runs=8 medians 1.10/1.17 -> 1.29/1.37 s).
    // It pays only where the explode re-runs un-fenced (kn3, buckets).
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    // bg feeds the count model AND the final scoring probe, and c2
    // feeds FOUR consumers (its own broadcast + c1/cw/tot) — without
    // the checkpoints every broadcast build re-ran the scan + split +
    // explode pipeline (r19, the multi-branch-consumer trap; measured
    // — see OPTIMIZATION_r19.md).
    val bg = docBigrams(toks)
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2")).ckpt()
    val c1 = c2.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1v"))
    val cw = c2.groupBy("w2").agg(count(lit(1)).as("ncw"))
    val tot = c2.agg(count(lit(1)).as("ncc"))
    bg.join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(cw), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("lp_u", floor(log(
        (col("c2").cast("double") - 0.75) / col("c1").cast("double")
          + lit(0.75) * col("n1v").cast("double")
            / col("c1").cast("double")
          * col("ncw").cast("double") / col("ncc").cast("double"))
        * 1000000 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_u").as("lp_su"))
      .withColumn("avg_logp_kn", r4(col("lp_su").cast("double")
        / 1000000.0 / col("n_bigrams").cast("double")))
      .withColumn("ppl_kn", r4(exp(-(col("lp_su").cast("double")
        / 1000000.0 / col("n_bigrams").cast("double")))))
      .select("doc_id", "n_bigrams", "avg_logp_kn", "ppl_kn")
      .orderBy("doc_id")
  }

  /** Interpolated trigram Kneser-Ney core (see `text_kn3_perplexity`):
    * input (doc_id, text), output per-doc (doc_id, n_trigrams,
    * avg_logp_kn3, ppl_kn3). Top level interpolates trigram counts
    * with D = 3/4 (exact binary fraction):
    * P(w3|w1w2) = (c3 − D)/c12 + D·N1+(w1w2·)/c12 · P_bg(w3|w2),
    * where P_bg is EXACTLY the bigram KN model the bigram key ships
    * ((c(v,w) − D)/c(v) + D·N1+(v·)/c(v) · N1+(·w)/N1+(··)) — the
    * standard simplification that backs off to the raw-count bigram
    * KN rather than trigram-continuation counts (which are undefined
    * for document-initial bigrams). Trains on the input corpus, so
    * every scored trigram has c3 ≥ 1 > D and its (w2,w3) bigram is
    * observed ⇒ every ln argument is > 0, no guards. Model sides are
    * counts-only vocabulary-shaped broadcasts; each per-trigram ln P
    * is ONE mirrored expression micro-quantized BEFORE the per-doc
    * sum (the PSI protocol). Shared with `GraftEngine.knPerplexity3`.
    */
  private[graft] def kn3PerplexityCore(docs: DataFrame): DataFrame = {
    // r19.2: spreadScan before the per-doc kernels (see
    // knPerplexityCore) — tg is deliberately un-ckpt'd, so its explode
    // runs twice (c3 build + probe), both previously single-task.
    val toks = TextOps.spreadScan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val tg = toks.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-3), i -> struct(toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3))"))
        .as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"),
        col("t.w2").as("w2"), col("t.w3").as("w3"))
    // c3 feeds its own broadcast + c12; b2 feeds b1/cw/tot + the
    // probe join — ckpt'd (count-table-sized) so those broadcast
    // builds stop re-running the explode. Checkpointing tg ITSELF
    // (trigram grain) was measured WORSE (runs=6 interleaved:
    // 1.72/1.80 -> 1.96/1.83) — persisting the exploded grain costs
    // more than the codegen explode it saves; see OPTIMIZATION_r19.md.
    val c3 = tg.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
      .ckpt()
    val c12 = c3.groupBy("w1", "w2")
      .agg(sum("c3").as("c12"), count(lit(1)).as("n12v"))
    val bg = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS v1, toks[i+1] AS v2))"))
        .as("b"))
      .select(col("b.v1").as("v1"), col("b.v2").as("v2"))
    val b2 = bg.groupBy("v1", "v2").agg(count(lit(1)).as("b2")).ckpt()
    val b1 = b2.groupBy("v1")
      .agg(sum("b2").as("b1"), count(lit(1)).as("nbv"))
    val cw = b2.groupBy("v2").agg(count(lit(1)).as("ncw"))
    val tot = b2.agg(count(lit(1)).as("ncc"))
    tg.join(broadcast(c3), Seq("w1", "w2", "w3"))
      .join(broadcast(c12), Seq("w1", "w2"))
      .join(broadcast(b2),
        col("w2") === col("v1") && col("w3") === col("v2"))
      .join(broadcast(b1), Seq("v1"))
      .join(broadcast(cw), Seq("v2"))
      .crossJoin(broadcast(tot))
      .withColumn("lp_u", floor(log(
        (col("c3").cast("double") - 0.75) / col("c12").cast("double")
          + lit(0.75) * col("n12v").cast("double")
            / col("c12").cast("double")
          * ((col("b2").cast("double") - 0.75) / col("b1").cast("double")
            + lit(0.75) * col("nbv").cast("double")
              / col("b1").cast("double")
            * col("ncw").cast("double") / col("ncc").cast("double")))
        * 1000000 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum("lp_u").as("lp_su"))
      .withColumn("avg_logp_kn3", r4(col("lp_su").cast("double")
        / 1000000.0 / col("n_trigrams").cast("double")))
      .withColumn("ppl_kn3", r4(exp(-(col("lp_su").cast("double")
        / 1000000.0 / col("n_trigrams").cast("double")))))
      .select("doc_id", "n_trigrams", "avg_logp_kn3", "ppl_kn3")
      .orderBy("doc_id")
  }

  /** Fixed query for the lexical-ranking keys (tokens verified present
    * in the fixture vocabulary).
    */
  private val QueryTokens = Seq("join", "scan", "merge")

  /** Okapi BM25 (k1 = 1.2, b = 0.75) per-document scores for
    * `QueryTokens`: idf(q) = ln(1 + (N − df + 0.5)/(df + 0.5)),
    * contribution = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    * Expression shapes are mirrored literally in the oracle SQL so the
    * IEEE arithmetic is identical on both engines. Output:
    * (doc_id, score), docs with no query token absent.
    */
  def bm25(docs: DataFrame, queryTokens: Seq[String] = QueryTokens): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val dl = toks.select(col("doc_id"), size(col("toks")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(col("token").isin(queryTokens: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2)
            * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(sum(col("contrib")).as("score"))
  }

  /** Shared BM25 oracle CTE block (ends with `scored(doc_id, score)`). */
  private val Bm25Ctes =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS token FROM toks)
      |  WHERE token IN ('join', 'scan', 'merge') GROUP BY 1, 2),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |scored AS (
      |  SELECT t.doc_id,
      |    sum(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
      |        * t.tf * 2.2
      |        / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS score
      |  FROM tf t JOIN dfreq f USING (token) JOIN dl d USING (doc_id)
      |  CROSS JOIN stats s GROUP BY t.doc_id)""".stripMargin

  val defs: Map[String, Q] = Map(
    // Lexical top-k: the text-retrieval ranking every hybrid vector DB
    // pairs with ANN. Sort key is the r4-quantized score (raw double
    // sums flip near-ties across engines), doc_id tie-break.
    "text_bm25_topk" -> ((s, d) =>
      bm25(TestData.documents(s, d))
        .select(col("doc_id"), r4(col("score")).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(15)),

    // Hybrid retrieval via Reciprocal Rank Fusion: each arm is pruned
    // to its top-50 FIRST (TakeOrderedAndProject — the scalable step),
    // then ranked within the pruned set and fused with
    // rrf = Σ 1/(60 + rank). Ranks are ints over r4-quantized scores
    // with id tie-breaks, so the fusion is exactly reproducible
    // cross-engine. A missing arm contributes 0 (rank emitted as 0).
    "ann_hybrid_rrf" -> ((s, d) => {
      val lexTop = bm25(TestData.documents(s, d))
        .select(col("doc_id").as("lid"), r4(col("score")).as("s4"))
        .orderBy(col("s4").desc, col("lid")).limit(50)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(col("s4").desc, col("lid"))))
        .select("lid", "lex_rank")
      val e = TestData.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val vecTop = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("vid"),
          r4(V.cosine(col("embedding"), col("qv"))).as("c4"))
        .orderBy(col("c4").desc, col("vid")).limit(50)
        .withColumn("vec_rank",
          row_number().over(Window.orderBy(col("c4").desc, col("vid"))))
        .select("vid", "vec_rank")
      lexTop.join(vecTop, col("lid") === col("vid"), "full_outer")
        .select(
          coalesce(col("lid"), col("vid")).as("id"),
          coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
          coalesce(col("vec_rank"), lit(0)).as("vec_rank"),
          r4(coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
        .limit(10)
    }),

    // Bigram language-model quality score: train add-one-smoothed
    // bigram counts on the corpus itself, score every document by its
    // average log-probability — the perplexity-style quality filter a
    // training-data pipeline runs before keeping a document. The
    // "model" (bigram/unigram counts over the corpus vocabulary) is
    // vocabulary-sized, not corpus-sized.
    "text_bigram_lm_score" -> ((s, d) => {
      // spreadScan measured AND REJECTED here (r19.2): bg is ckpt'd —
      // one explode evaluation; interleaved runs=8 medians
      // 0.86/0.90 -> 0.95/1.02 s. See knPerplexityCore.
      val docs = TestData.documents(s, d)
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      // bg: model counts + final probe; c2: broadcast + c1 — ckpt'd
      // so broadcast builds stop re-running the explode (r19).
      val bg = docBigrams(toks)
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2")).ckpt()
      val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
      val vocab = toks.select(explode(col("toks")).as("t"))
        .agg(countDistinct(col("t")).as("v"))
      bg.join(broadcast(c2), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          r4(avg(log((col("c2") + lit(1.0)) / (col("c1") + col("v")))))
            .as("avg_logp"))
        .orderBy("doc_id")
    }),

    // KNESER-NEY BIGRAM PERPLEXITY (round 15, VERDICT r14 missing
    // #4): the beyond-add-one LM the quality-filter stack actually
    // uses — interpolated KN with absolute discount D = 3/4 (an
    // EXACT binary fraction) and CONTINUATION counts:
    // P(w|v) = (c(v,w) − D)/c(v) + D·N1+(v,·)/c(v) · N1+(·,w)/N1+(·,·).
    // Add-one smoothing punishes every frequent word after a rare
    // context; KN's continuation probability fixes exactly that
    // (the "San Francisco" problem). All model sides are counts-only
    // vocabulary-shaped broadcasts; every per-bigram ln P is ONE
    // mirrored expression quantized to integer micro BEFORE the
    // per-doc sum (the PSI/entropy protocol — ln args are always
    // > 0 since c(v,w) ≥ 1 > D). Emits per-doc average log-prob and
    // perplexity. Separation (repetitive < natural < unique-heavy)
    // pinned in PropertySpec via the knPerplexity facade.
    "text_kn_perplexity" -> ((s, d) => {
      knPerplexityCore(TestData.documents(s, d)
        .select(col("doc_id"), col("text")))
    }),

    // TRIGRAM KNESER-NEY (round 16, VERDICT r15 missing #6): modern
    // curation stacks bucket on KN-smoothed TRIGRAM perplexity — the
    // bigram model under-penalizes locally-fluent-but-incoherent
    // text (any common word pair scores well; a trigram model needs
    // the pair IN CONTEXT). Interpolated order-3 KN with the bigram
    // KN model as the backoff (see [[kn3PerplexityCore]] for the
    // exact decomposition and why lower-order continuation counts
    // are replaced by the raw-count bigram KN). Same D = 3/4, same
    // one-mirrored-ln-per-ngram protocol. Order-3 separation
    // (repetitive < natural < unique-heavy) pinned in PropertySpec.
    "text_kn3_perplexity" -> ((s, d) => {
      kn3PerplexityCore(TestData.documents(s, d)
        .select(col("doc_id"), col("text")))
    }),

    // CCNET-STYLE PERPLEXITY BUCKETS: score every document with the
    // corpus bigram LM (same model as text_bigram_lm_score), then
    // split EACH LANGUAGE into head/middle/tail terciles by LM score
    // — the partition CCNet uses to keep fluent text and route the
    // tail to review. Determinism: the tercile sort key is the
    // INTEGER-quantized score (floor(avg·1e4 + 0.5) — a LongType in
    // Spark) with doc_id tie-break, so ntile can never flip on a
    // float ulp; per-bucket score mass is summed in those integer
    // units (order-free BIGINT). Model sides are vocabulary-sized
    // broadcasts; the tercile window partitions by lang — at 100 TB
    // swap ntile for approx_percentile cut points (same shape, no
    // per-lang total sort).
    "pipeline_perplexity_buckets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // spreadScan measured AND REJECTED here too (r19.2): despite the
      // 2x un-fenced bg explode, the dedicated interleaved bench read
      // 1.31/1.33 -> 1.47/1.69 s (JobProfile sum-job barely moved,
      // 1069/787 -> 1009/687) — the lang-widened explode is cheap
      // enough that the full-text repartition doesn't pay. Only kn3
      // (trigram kernel, 2 evaluations) kept its spread.
      val docs = TestData.documents(s, d)
      val toks = docs.select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("toks"))
      // c2 ckpt'd as in text_bigram_lm_score; bg's own ckpt measured
      // WORSE here (1.45/1.47 -> 1.58/1.49 — the lang column widens
      // the exploded grain past what the recompute costs) — r19.
      val bg = toks.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("lang"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2")).ckpt()
      val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
      val vocab = toks.select(explode(col("toks")).as("t"))
        .agg(countDistinct(col("t")).as("v"))
      val scored = bg.join(broadcast(c2), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(floor(avg(log((col("c2") + lit(1.0))
            / (col("c1") + col("v")))) * lit(10000.0) + lit(0.5))
          .as("score_u"),
          count(lit(1)).as("n_bigrams"))
      val W = Window.partitionBy("lang")
        .orderBy(col("score_u").desc, col("doc_id"))
      scored.withColumn("b3", ntile(3).over(W))
        .withColumn("bucket", element_at(
          array(lit("head"), lit("middle"), lit("tail")), col("b3")))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          sum(col("score_u")).as("sum_score_u"))
        .orderBy("lang", "bucket")
    }),

    // Shannon entropy of the per-language token distribution —
    // the corpus-diversity statistic (a collapsed-distribution
    // language in a crawl shows up as an entropy drop). Two-phase
    // count aggregation + a language-sized join; one corpus scan.
    "agg_entropy" -> ((s, d) => {
      val tok = TestData.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("t"))
      val cnt = tok.groupBy("lang", "t").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("lang").agg(sum(col("c")).as("n_tokens"))
      cnt.join(broadcast(tot), "lang")
        .withColumn("p", col("c").cast("double") / col("n_tokens").cast("double"))
        .groupBy("lang")
        .agg(max(col("n_tokens")).as("n_tokens"),
          r4(-sum(col("p") * log(col("p")))).as("entropy"))
        .orderBy("lang")
    })
  )

  val oracles: Map[String, String] = Map(
    "text_bm25_topk" ->
      s"""WITH $Bm25Ctes
        |SELECT doc_id, floor((score)*10000 + 0.5)/10000 AS bm25
        |FROM scored
        |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,
    "ann_hybrid_rrf" ->
      s"""WITH $Bm25Ctes,
        |lex AS (
        |  SELECT lid, lex_rank FROM (
        |    SELECT doc_id AS lid, row_number() OVER (ORDER BY s4 DESC, doc_id) AS lex_rank
        |    FROM (SELECT doc_id, floor((score)*10000 + 0.5)/10000 AS s4 FROM scored))
        |  WHERE lex_rank <= 50),
        |vq AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |vec AS (
        |  SELECT vid, vec_rank FROM (
        |    SELECT vec_id AS vid, row_number() OVER (ORDER BY c4 DESC, vec_id) AS vec_rank
        |    FROM (SELECT e.vec_id,
        |            floor((list_cosine_similarity(e.embedding::DOUBLE[], vq.qv))*10000 + 0.5)/10000 AS c4
        |          FROM embeddings e CROSS JOIN vq WHERE e.vec_id <> 0))
        |  WHERE vec_rank <= 50)
        |SELECT coalesce(lid, vid) AS id,
        |  coalesce(lex_rank, 0) AS lex_rank,
        |  coalesce(vec_rank, 0) AS vec_rank,
        |  floor((coalesce(1.0/(60 + lex_rank), 0) + coalesce(1.0/(60 + vec_rank), 0))*10000 + 0.5)/10000 AS rrf
        |FROM lex FULL OUTER JOIN vec ON lid = vid
        |ORDER BY rrf DESC, id LIMIT 10""".stripMargin,
    "text_bigram_lm_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
        |  WHERE len(toks) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        |vocab AS (
        |  SELECT count(DISTINCT t) AS v
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents))
        |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
        |  floor((avg(ln((c2.c2 + 1.0) / (c1.c1 + vocab.v))))*10000 + 0.5)/10000 AS avg_logp
        |FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
        |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,
    // KN bigram LM: same bigram extraction, continuation/type counts
    // from the bigram-type table, mirrored per-bigram micro ln P.
    "text_kn_perplexity" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
        |  WHERE len(toks) >= 2),
        |c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2)::BIGINT AS c1, count(*)::BIGINT AS n1v
        |       FROM c2 GROUP BY 1),
        |cw AS (SELECT w2, count(*)::BIGINT AS ncw FROM c2 GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS ncc FROM c2),
        |sc AS (
        |  SELECT b.doc_id,
        |    floor(ln((c2.c2::DOUBLE - 0.75) / c1.c1::DOUBLE
        |      + 0.75 * c1.n1v::DOUBLE / c1.c1::DOUBLE
        |      * cw.ncw::DOUBLE / tot.ncc::DOUBLE) * 1000000 + 0.5)
        |      ::BIGINT AS lp_u
        |  FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |    JOIN cw USING (w2) CROSS JOIN tot),
        |ag AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |    sum(lp_u)::BIGINT AS lp_su
        |  FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  floor(lp_su::DOUBLE / 1000000.0 / n_bigrams::DOUBLE
        |    * 10000 + 0.5) / 10000 AS avg_logp_kn,
        |  floor(exp(-(lp_su::DOUBLE / 1000000.0 / n_bigrams::DOUBLE))
        |    * 10000 + 0.5) / 10000 AS ppl_kn
        |FROM ag ORDER BY doc_id""".stripMargin,
    // Trigram KN: trigram + bigram model CTEs, one mirrored micro ln
    // per trigram interpolating into the bigram-KN backoff.
    "text_kn3_perplexity" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)
        |  WHERE len(toks) >= 3),
        |c3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c3
        |       FROM tg GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, sum(c3)::BIGINT AS c12,
        |         count(*)::BIGINT AS n12v
        |        FROM c3 GROUP BY 1, 2),
        |bgx AS (
        |  SELECT toks[i] AS v1, toks[i+1] AS v2
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
        |  WHERE len(toks) >= 2),
        |b2 AS (SELECT v1, v2, count(*)::BIGINT AS b2 FROM bgx GROUP BY 1, 2),
        |b1 AS (SELECT v1, sum(b2)::BIGINT AS b1, count(*)::BIGINT AS nbv
        |       FROM b2 GROUP BY 1),
        |cwx AS (SELECT v2, count(*)::BIGINT AS ncw FROM b2 GROUP BY 1),
        |totx AS (SELECT count(*)::BIGINT AS ncc FROM b2),
        |sc AS (
        |  SELECT t.doc_id,
        |    floor(ln((c3.c3::DOUBLE - 0.75) / c12.c12::DOUBLE
        |      + 0.75 * c12.n12v::DOUBLE / c12.c12::DOUBLE
        |      * ((b2.b2::DOUBLE - 0.75) / b1.b1::DOUBLE
        |        + 0.75 * b1.nbv::DOUBLE / b1.b1::DOUBLE
        |        * cwx.ncw::DOUBLE / totx.ncc::DOUBLE))
        |      * 1000000 + 0.5)::BIGINT AS lp_u
        |  FROM tg t JOIN c3 USING (w1, w2, w3) JOIN c12 USING (w1, w2)
        |    JOIN b2 ON t.w2 = b2.v1 AND t.w3 = b2.v2
        |    JOIN b1 ON t.w2 = b1.v1
        |    JOIN cwx ON t.w3 = cwx.v2
        |    CROSS JOIN totx),
        |ag AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_trigrams,
        |    sum(lp_u)::BIGINT AS lp_su
        |  FROM sc GROUP BY 1)
        |SELECT doc_id, n_trigrams,
        |  floor(lp_su::DOUBLE / 1000000.0 / n_trigrams::DOUBLE
        |    * 10000 + 0.5) / 10000 AS avg_logp_kn3,
        |  floor(exp(-(lp_su::DOUBLE / 1000000.0 / n_trigrams::DOUBLE))
        |    * 10000 + 0.5) / 10000 AS ppl_kn3
        |FROM ag ORDER BY doc_id""".stripMargin,
    "pipeline_perplexity_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, toks[i] AS w1, toks[i+1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
        |  WHERE len(toks) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        |vocab AS (
        |  SELECT count(DISTINCT t) AS v
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
        |scored AS (
        |  SELECT b.doc_id, b.lang,
        |    floor((avg(ln((c2.c2 + 1.0) / (c1.c1 + vocab.v))))*10000 + 0.5)::BIGINT
        |      AS score_u,
        |    count(*)::BIGINT AS n_bigrams
        |  FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
        |  GROUP BY 1, 2),
        |nt AS (
        |  SELECT lang, n_bigrams, score_u,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY score_u DESC, doc_id)
        |      AS b3
        |  FROM scored)
        |SELECT lang,
        |  CASE b3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS bucket,
        |  count(*)::BIGINT AS n_docs, sum(n_bigrams)::BIGINT AS n_bigrams,
        |  sum(score_u)::BIGINT AS sum_score_u
        |FROM nt GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "agg_entropy" ->
      """WITH cnt AS (
        |  SELECT lang, t, count(*) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(c)::BIGINT AS n_tokens FROM cnt GROUP BY lang)
        |SELECT lang, max(n_tokens) AS n_tokens,
        |  floor((-sum((c::DOUBLE / n_tokens::DOUBLE) * ln(c::DOUBLE / n_tokens::DOUBLE)))*10000 + 0.5)/10000 AS entropy
        |FROM cnt JOIN tot USING (lang)
        |GROUP BY lang ORDER BY lang""".stripMargin
  )
}
