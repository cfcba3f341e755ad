package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData

/** Tokenizer training — the BPE merge-rule learning pass of an LLM
  * data pipeline (Sennrich et al. '16: iteratively merge the most
  * frequent adjacent symbol pair).
  *
  * Scale shape: the corpus collapses to the DISTINCT-WORD table with
  * frequencies in one shuffle (vocabulary-sized, Zipf-bounded — far
  * smaller than the corpus); each merge round is one explode +
  * aggregate over that table plus a 2-string driver decision
  * (`orderBy.limit(1)` = TakeOrdered, not a sort), and the symbol
  * rewrite is a map-side HOF fold. Rounds are few (30k merges in
  * production, 3 here); every round's state is the rewritten
  * vocabulary table, checkpointed.
  *
  * Oracle-checked (promoted round 7): the greedy left-to-right
  * rewrite IS expressible in DuckDB 1.0 once the accumulator is
  * encoded as a chr(1)-joined STRING — `list_reduce` requires the
  * accumulator to have the element type, and VARCHAR is the element
  * type, so the fold seeds with the first symbol and either replaces
  * the delimited last token (merge hit: x = b and the accumulator
  * ends with sep‖a) or appends sep‖x. `string_split` restores the
  * symbol list for the next round's pair count. Exactly the
  * non-overlapping greedy semantics of [[applyMerge]] ("aaa" + (a,a)
  * → [aa, a], because the merged token no longer equals `a`).
  * BpeSpec additionally pins the merges equal to a direct Scala
  * reference implementation.
  */
object Tokenize {
  type Q = (SparkSession, String) => DataFrame

  /** Greedy left-to-right application of merge (a, b) → a+b over a
    * symbol array column. */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0
             && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** The distinct words of `dw` (a `word` column) with their symbol
    * sequences `syms` after the 3 BPE merges learned from `docs`, in
    * merge order.
    */
  private def bpeEncodedVocab(docs: DataFrame, dw: DataFrame): DataFrame = {
    val mseq = bpeMerges(docs, rounds = 3).orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val vocabTok = dw.select("word").distinct()
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    mseq.foldLeft(vocabTok) { case (df, (a, b)) =>
      df.withColumn("syms", applyMerge(col("syms"), a, b))
    }
  }

  /** Learn `rounds` BPE merges from an (id, text) corpus. Returns
    * (round, sym_a, sym_b, merged, pair_count), one row per merge,
    * ties broken lexicographically.
    */
  def bpeMerges(documents: DataFrame, rounds: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    var vocab = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .select("syms", "n")
      .ckpt()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val top = vocab
        // sequence(0, -1) auto-descends, so single-symbol words must
        // short-circuit to an empty pair list
        .select(col("n"), posexplode(expr(
          "CASE WHEN size(syms) < 2 THEN array() " +
            "ELSE transform(sequence(0, size(syms) - 2), " +
            "i -> struct(element_at(syms, i + 1) AS a, " +
            "element_at(syms, i + 2) AS b)) END")))
        .select(col("col.a"), col("col.b"), col("n"))
        .groupBy("a", "b").agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .as[(String, String, Long)]
        .head()
      merges += ((r, top._1, top._2, top._1 + top._2, top._3))
      vocab = vocab
        .select(applyMerge(col("syms"), top._1, top._2).as("syms"), col("n"))
        .ckpt()
    }
    merges.result()
      .toDF("round", "sym_a", "sym_b", "merged", "pair_count")
  }

  val defs: Map[String, Q] = Map(
    "pipeline_bpe_merges" -> ((s, d) =>
      bpeMerges(TestData.documents(s, d), rounds = 3).orderBy("round")),

    // TOKENIZER APPLICATION (round 7) — the encode pass that pairs
    // with the learning pass above: the 3 learned merges are applied
    // greedily (same [[applyMerge]] semantics) to every word, and the
    // corpus reports its post-BPE token count per document. Scale
    // shape: merges apply to the DISTINCT-WORD table (vocabulary-
    // sized, Zipf-bounded), which then broadcast-joins back to the
    // (doc, word) stream — the corpus itself is never folded. At
    // production merge counts (~30k) the per-word fold becomes a
    // trie-compiled custom expression; the vocab-level apply +
    // broadcast join shape is unchanged. Learned merges are a
    // 3-row driver collect (bounded).
    "pipeline_bpe_apply" -> ((s, d) => {
      val docs = TestData.documents(s, d)
      val dw = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val enc = bpeEncodedVocab(docs, dw).select(col("word"), size(col("syms")).as("n_sym"))
      dw.join(broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
             sum(col("n_sym").cast("long")).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // TOKENIZER FERTILITY (round 14): tokens-per-word and chars-per-
    // token PER LANGUAGE under the learned BPE — the tokenizer-
    // equity readout a multilingual pipeline publishes (a tokenizer
    // trained lopsidedly fragments some languages into 2–3× the
    // tokens, which directly inflates their training/serving cost —
    // the "tokenizer tax"). Same vocab-level apply + broadcast-join
    // shape as pipeline_bpe_apply, folded to the LANG grain with
    // exact integer token/char sums; two guarded r4 ratios on the
    // |langs|-row readout. Property: Σ per-lang words/tokens equals
    // the corpus totals of pipeline_bpe_apply (BpeSpec).
    "pipeline_tokenizer_fertility" -> ((s, d) => {
      val docs = TestData.documents(s, d)
      val dw = docs
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val enc = bpeEncodedVocab(docs, dw).select(col("word"), size(col("syms")).as("n_sym"),
        length(col("word")).as("n_ch"))
      dw.join(broadcast(enc), "word")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sym").cast("long")).as("n_tokens"),
          sum(col("n_ch").cast("long")).as("n_chars"))
        .withColumn("fertility", when(col("n_words") > 0,
          TestData.r4(col("n_tokens").cast("double")
            / col("n_words").cast("double"))))
        .withColumn("chars_per_token", when(col("n_tokens") > 0,
          TestData.r4(col("n_chars").cast("double")
            / col("n_tokens").cast("double"))))
        .select("lang", "n_words", "n_tokens", "n_chars",
          "fertility", "chars_per_token")
        .orderBy("lang")
    }),

    // UNIGRAM-LM TOKENIZER STAND-IN (round 17, VERDICT r16 #8):
    // SentencePiece-style unigram next to BPE — modern pipelines
    // compare BOTH families' fertility before committing a vocab.
    // Candidate pieces = chars + ALIGNED char bigrams, and the
    // segmentation lattice is restricted to the aligned-pair tiling
    // (per 2-char slot: one bigram piece OR two char pieces) — the
    // documented simplification (the KN3 doc-initial-bigram class):
    // within this family the per-slot argmax IS the Viterbi
    // segmentation, decisions are independent, everything is
    // set-wise (no folds), and hard-EM is PROVABLY monotone in the
    // corpus likelihood (M maximizes Σ n_p·ln p for the fixed
    // segmentation, E re-segments to the argmax) — pinned per round
    // within 1 micro-nat/token quantization slack in BpeSpec.
    // 3 E-steps over the DISTINCT-WORD slot table (vocabulary-sized)
    // with 2 M-steps between; piece scores are exact micro-nat
    // BIGINTs (floor(ln(cnt/tot)·1e6 + 0.5)), slot choices exact
    // integer comparisons, corpus ll an exact BIGINT sum. Piece
    // tables stay broadcast-sized at any corpus (bounded by the
    // char-bigram domain). Emits per-round ll, active-piece and
    // token counts, and tokens/word — the unigram fertility to read
    // against pipeline_tokenizer_fertility's BPE numbers.
    "pipeline_unigram_lm" -> ((s, d) => {
      val docs = TestData.documents(s, d)
      val words = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n"))
        .ckpt() // slots + n_words readout
      val slots = words
        .select(col("word"), col("n"), posexplode(expr(
          "transform(sequence(0, (length(word) + 1) DIV 2 - 1), " +
            "j -> struct(substring(word, 2*j + 1, 1) AS c1, " +
            "CASE WHEN 2*j + 2 <= length(word) " +
            "THEN substring(word, 2*j + 2, 1) END AS c2))")))
        .select(col("word"), col("n"), col("pos").as("slot"),
          col("col.c1").as("c1"), col("col.c2").as("c2"))
        .withColumn("b", when(col("c2").isNotNull,
          concat(col("c1"), col("c2"))))
        .ckpt() // init counts + 3 E-step joins
      def renorm(cnts: DataFrame): DataFrame = {
        val tot = cnts.agg(sum("cnt").as("tot"))
        cnts.crossJoin(broadcast(tot))
          .select(col("piece"),
            floor(log(col("cnt").cast("double") / col("tot").cast("double"))
              * 1000000 + 0.5).cast("long").as("lnp_u"))
          .ckpt() // three piece-keyed join probes
      }
      // COUNT-grain ckpts (r19, the Relevance change-6 rule: persist
      // COUNT/AGGREGATE grains, recompute EXPLODED grains): each
      // piece-count table is consumed 2-3 times per round (renorm's
      // tot + its projection, the readout's n_pieces), so without a
      // fence the slot-grid union+aggregate re-ran per consumer.
      val probs0 = renorm(
        slots.select(col("c1").as("piece"), col("n"))
          .unionAll(slots.filter(col("c2").isNotNull)
            .select(col("c2").as("piece"), col("n")))
          .unionAll(slots.filter(col("b").isNotNull)
            .select(col("b").as("piece"), col("n")))
          .groupBy("piece").agg(sum("n").as("cnt")).ckpt())
      // Three probes of the SAME checkpointed piece table: reference
      // the one frame through aliases instead of three differently-
      // renamed projections (r19) — the renames made the broadcast
      // subtrees canonically unequal, so every E-step paid THREE
      // broadcast-build jobs for one table; identical subtrees let
      // exchange reuse build it once. Same left joins, same keys,
      // same lnp_u values — results identical.
      def eStep(probs: DataFrame): DataFrame = slots
        .join(broadcast(probs.as("p1")),
          col("c1") === col("p1.piece"), "left")
        .join(broadcast(probs.as("p2")),
          col("c2") === col("p2.piece"), "left")
        .join(broadcast(probs.as("pb")),
          col("b") === col("pb.piece"), "left")
        .select(col("word"), col("n"), col("slot"), col("c1"),
          col("c2"), col("b"), col("p1.lnp_u").as("s1"),
          col("p2.lnp_u").as("s2"), col("pb.lnp_u").as("sb"))
        .withColumn("chars_s",
          when(col("c2").isNull, col("s1"))
            .otherwise(col("s1") + col("s2")))
        .withColumn("use_big", col("sb").isNotNull
          && (col("chars_s").isNull || col("sb") > col("chars_s")))
        .withColumn("score_u",
          when(col("use_big"), col("sb")).otherwise(col("chars_s")))
        .withColumn("toks", when(col("use_big"), 1L)
          .otherwise(when(col("c2").isNull, 1L).otherwise(2L)))
        .ckpt() // counts + the round readout
      def counts(ch: DataFrame): DataFrame = ch
        .filter(col("use_big")).select(col("b").as("piece"), col("n"))
        .unionAll(ch.filter(!col("use_big"))
          .select(col("c1").as("piece"), col("n")))
        .unionAll(ch.filter(!col("use_big") && col("c2").isNotNull)
          .select(col("c2").as("piece"), col("n")))
        .groupBy("piece").agg(sum("n").as("cnt"))
      val nw = words.agg(sum("n").as("n_words"))
      def readout(round: Int, ch: DataFrame, cnt: DataFrame): DataFrame =
        ch.agg(sum(col("n") * col("score_u")).as("ll_u"),
            sum(col("n") * col("toks")).as("n_tokens"))
          .crossJoin(broadcast(cnt.agg(count(lit(1)).as("n_pieces"))))
          .crossJoin(broadcast(nw))
          .select(lit(round.toLong).as("round"), col("ll_u"),
            col("n_tokens"), col("n_pieces"), col("n_words"),
            TestData.r4(col("n_tokens").cast("double")
              / col("n_words").cast("double")).as("tokens_per_word"))
      val ch1 = eStep(probs0)
      val cnt1 = counts(ch1).ckpt()
      val ch2 = eStep(renorm(cnt1))
      val cnt2 = counts(ch2).ckpt()
      val ch3 = eStep(renorm(cnt2))
      val cnt3 = counts(ch3) // single consumer (readout 3) — no fence
      readout(1, ch1, cnt1)
        .unionByName(readout(2, ch2, cnt2))
        .unionByName(readout(3, ch3, cnt3))
        .orderBy("round")
    })
  )

  /** One unigram hard-EM round in DuckDB (mirrors the Spark eStep +
    * counts + renorm token for token): three piece-table probes on
    * the slot grid, the exact-integer slot argmax, chosen-piece
    * counts, and the re-normalized micro-nat scores. Index CTEs
    * MATERIALIZED (the LPA re-expansion lesson).
    */
  private def unigramRoundSql(cur: String, prev: String): String =
    s"""${cur}ch AS MATERIALIZED (
       |  SELECT *, CASE WHEN use_big THEN sb ELSE chars_s END AS score_u,
       |    (CASE WHEN use_big THEN 1 WHEN c2 IS NULL THEN 1
       |      ELSE 2 END)::BIGINT AS toks
       |  FROM (
       |    SELECT *, (sb IS NOT NULL AND (chars_s IS NULL
       |      OR sb > chars_s)) AS use_big
       |    FROM (
       |      SELECT s.*, p1.lnp_u AS s1, p2.lnp_u AS s2, pb.lnp_u AS sb,
       |        CASE WHEN s.c2 IS NULL THEN p1.lnp_u
       |          ELSE p1.lnp_u + p2.lnp_u END AS chars_s
       |      FROM slots s
       |      LEFT JOIN $prev p1 ON s.c1 = p1.piece
       |      LEFT JOIN $prev p2 ON s.c2 = p2.piece
       |      LEFT JOIN $prev pb ON s.b = pb.piece))),
       |${cur}cnt AS MATERIALIZED (
       |  SELECT piece, sum(n)::BIGINT AS cnt FROM (
       |    SELECT b AS piece, n FROM ${cur}ch WHERE use_big
       |    UNION ALL SELECT c1 AS piece, n FROM ${cur}ch
       |      WHERE NOT use_big
       |    UNION ALL SELECT c2 AS piece, n FROM ${cur}ch
       |      WHERE NOT use_big AND c2 IS NOT NULL)
       |  GROUP BY 1),
       |${cur}tot AS (SELECT sum(cnt)::BIGINT AS tot FROM ${cur}cnt),
       |$cur AS MATERIALIZED (
       |  SELECT piece, floor(ln(cnt::DOUBLE / tot::DOUBLE)
       |    * 1000000 + 0.5)::BIGINT AS lnp_u
       |  FROM ${cur}cnt CROSS JOIN ${cur}tot)""".stripMargin

  /** One merge round in DuckDB: pair-count the current vocabulary,
    * take the (cnt DESC, a, b) top pair, and apply it with the
    * string-accumulator greedy fold (see the class scaladoc).
    */
  private def roundCtes(prev: String, t: String, next: String): String =
    s"""p$t AS (
       |  SELECT syms[i] AS a, syms[i+1] AS b, n
       |  FROM $prev, LATERAL (SELECT unnest(range(1, len(syms))) AS i)
       |  WHERE len(syms) >= 2),
       |t$t AS (
       |  SELECT a AS ma, b AS mb, sum(n)::BIGINT AS cnt FROM p$t
       |  GROUP BY 1, 2 ORDER BY cnt DESC, ma, mb LIMIT 1),
       |$next AS (
       |  SELECT string_split(list_reduce(syms, (acc, x) -> CASE
       |      WHEN x = mb AND (acc = ma OR ends_with(acc, chr(1) || ma))
       |      THEN substring(acc, 1, length(acc) - length(ma)) || ma || mb
       |      ELSE acc || chr(1) || x END), chr(1)) AS syms, n
       |  FROM $prev CROSS JOIN t$t)""".stripMargin

  /** Apply merge round t's (ma, mb) to a per-word symbol list — the
    * same string-accumulator greedy fold as [[roundCtes]], carrying
    * the word key instead of the frequency.
    */
  private def applyCte(prev: String, t: String, next: String): String =
    s"""$next AS (
       |  SELECT word, string_split(list_reduce(syms, (acc, x) -> CASE
       |      WHEN x = mb AND (acc = ma OR ends_with(acc, chr(1) || ma))
       |      THEN substring(acc, 1, length(acc) - length(ma)) || ma || mb
       |      ELSE acc || chr(1) || x END), chr(1)) AS syms
       |  FROM $prev CROSS JOIN t$t)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Aligned-pair unigram EM mirrored: the slot grid from the
    // distinct-word table, init scores over the full candidate
    // inventory, three generated identical E/M round blocks, the
    // per-round (ll, tokens, pieces, fertility) readout.
    "pipeline_unigram_lm" ->
      s"""WITH words AS MATERIALIZED (
        |  SELECT word, count(*)::BIGINT AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  WHERE length(word) > 0 GROUP BY 1),
        |slots AS MATERIALIZED (
        |  SELECT word, n, j AS slot,
        |    substring(word, 2*j + 1, 1) AS c1,
        |    CASE WHEN 2*j + 2 <= length(word)
        |      THEN substring(word, 2*j + 2, 1) END AS c2,
        |    CASE WHEN 2*j + 2 <= length(word)
        |      THEN substring(word, 2*j + 1, 2) END AS b
        |  FROM words, LATERAL (SELECT
        |    unnest(range(0, (length(word) + 1) // 2)) AS j) r),
        |p0cnt AS (
        |  SELECT piece, sum(n)::BIGINT AS cnt FROM (
        |    SELECT c1 AS piece, n FROM slots
        |    UNION ALL SELECT c2 AS piece, n FROM slots
        |      WHERE c2 IS NOT NULL
        |    UNION ALL SELECT b AS piece, n FROM slots
        |      WHERE b IS NOT NULL)
        |  GROUP BY 1),
        |p0tot AS (SELECT sum(cnt)::BIGINT AS tot FROM p0cnt),
        |p0 AS MATERIALIZED (
        |  SELECT piece, floor(ln(cnt::DOUBLE / tot::DOUBLE)
        |    * 1000000 + 0.5)::BIGINT AS lnp_u
        |  FROM p0cnt CROSS JOIN p0tot),
        |${unigramRoundSql("u1", "p0")},
        |${unigramRoundSql("u2", "u1")},
        |${unigramRoundSql("u3", "u2")},
        |nw AS (SELECT sum(n)::BIGINT AS n_words FROM words),
        |ro AS (
        |  SELECT 1::BIGINT AS round,
        |    (SELECT sum(n * score_u) FROM u1ch)::BIGINT AS ll_u,
        |    (SELECT sum(n * toks) FROM u1ch)::BIGINT AS n_tokens,
        |    (SELECT count(*) FROM u1cnt)::BIGINT AS n_pieces
        |  UNION ALL SELECT 2::BIGINT,
        |    (SELECT sum(n * score_u) FROM u2ch)::BIGINT,
        |    (SELECT sum(n * toks) FROM u2ch)::BIGINT,
        |    (SELECT count(*) FROM u2cnt)::BIGINT
        |  UNION ALL SELECT 3::BIGINT,
        |    (SELECT sum(n * score_u) FROM u3ch)::BIGINT,
        |    (SELECT sum(n * toks) FROM u3ch)::BIGINT,
        |    (SELECT count(*) FROM u3cnt)::BIGINT)
        |SELECT round, ll_u, n_tokens, n_pieces, nw.n_words,
        |  floor(n_tokens::DOUBLE / nw.n_words::DOUBLE * 10000 + 0.5)
        |    / 10000 AS tokens_per_word
        |FROM ro CROSS JOIN nw ORDER BY round""".stripMargin,
    // Learn t1..t3 with the SAME CTEs as pipeline_bpe_merges, apply
    // them per DISTINCT word, then join back to the (doc, word)
    // stream — mirroring the Spark vocab-level apply exactly.
    "pipeline_bpe_apply" ->
      s"""WITH w AS (
        |  SELECT word, count(*)::BIGINT AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0 GROUP BY 1),
        |v0 AS (
        |  SELECT list_transform(range(1, length(word) + 1),
        |           i -> substring(word, i, 1)) AS syms, n
        |  FROM w),
        |${roundCtes("v0", "1", "v1")},
        |${roundCtes("v1", "2", "v2")},
        |${roundCtes("v2", "3", "v3")},
        |as0 AS (
        |  SELECT word, list_transform(range(1, length(word) + 1),
        |           i -> substring(word, i, 1)) AS syms
        |  FROM w),
        |${applyCte("as0", "1", "as1")},
        |${applyCte("as1", "2", "as2")},
        |${applyCte("as2", "3", "as3")},
        |dw AS (
        |  SELECT doc_id, word
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0)
        |SELECT doc_id, count(*)::BIGINT AS n_words,
        |  sum(len(syms))::BIGINT AS n_tokens
        |FROM dw JOIN as3 USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The apply oracle folded to LANG grain with char sums and the
    // two guarded r4 ratios.
    "pipeline_tokenizer_fertility" ->
      s"""WITH w AS (
        |  SELECT word, count(*)::BIGINT AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0 GROUP BY 1),
        |v0 AS (
        |  SELECT list_transform(range(1, length(word) + 1),
        |           i -> substring(word, i, 1)) AS syms, n
        |  FROM w),
        |${roundCtes("v0", "1", "v1")},
        |${roundCtes("v1", "2", "v2")},
        |${roundCtes("v2", "3", "v3")},
        |as0 AS (
        |  SELECT word, list_transform(range(1, length(word) + 1),
        |           i -> substring(word, i, 1)) AS syms
        |  FROM w),
        |${applyCte("as0", "1", "as1")},
        |${applyCte("as1", "2", "as2")},
        |${applyCte("as2", "3", "as3")},
        |dw AS (
        |  SELECT lang, word
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0),
        |agg AS (
        |  SELECT lang, count(*)::BIGINT AS n_words,
        |    sum(len(syms))::BIGINT AS n_tokens,
        |    sum(length(word))::BIGINT AS n_chars
        |  FROM dw JOIN as3 USING (word)
        |  GROUP BY lang)
        |SELECT lang, n_words, n_tokens, n_chars,
        |  CASE WHEN n_words > 0 THEN
        |    floor(n_tokens::DOUBLE / n_words::DOUBLE * 10000 + 0.5) / 10000
        |  END AS fertility,
        |  CASE WHEN n_tokens > 0 THEN
        |    floor(n_chars::DOUBLE / n_tokens::DOUBLE * 10000 + 0.5) / 10000
        |  END AS chars_per_token
        |FROM agg ORDER BY lang""".stripMargin,
    "pipeline_bpe_merges" ->
      s"""WITH w AS (
        |  SELECT word, count(*)::BIGINT AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0 GROUP BY 1),
        |v0 AS (
        |  SELECT list_transform(range(1, length(word) + 1),
        |           i -> substring(word, i, 1)) AS syms, n
        |  FROM w),
        |${roundCtes("v0", "1", "v1")},
        |${roundCtes("v1", "2", "v2")},
        |${roundCtes("v2", "3", "v3")}
        |SELECT 1 AS round, ma AS sym_a, mb AS sym_b, ma || mb AS merged,
        |  cnt AS pair_count FROM t1
        |UNION ALL
        |SELECT 2, ma, mb, ma || mb, cnt FROM t2
        |UNION ALL
        |SELECT 3, ma, mb, ma || mb, cnt FROM t3
        |ORDER BY round""".stripMargin
  )
}
