package graft.api

import graft.CkptOps

import graft.TestData
import graft.functions.{MinHashLsh, VectorOps => V}
import graft.operators.{EmbedDedup, GraphOps, TextAnalysis, TextOps, TrainedQuantize}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-facing library facade: the capabilities a CloudVectorDB user
  * runs today (triplet mining, embedding indexing, similarity
  * search, dedup — reference README.md:2), exposed as typed
  * DataFrame→DataFrame methods over caller-supplied tables. The
  * declared harness queries in `graft.operators` are thin
  * fixture-bound instantiations of these same shapes.
  *
  * Method families (one line each; see each method's scaladoc):
  *  - similarity search: [[knn]], [[buildIvfIndex]] /
  *    [[ivfSearch]], [[hammingSearch]], [[graphSearch]],
  *    [[maxSimSearch]], [[mmrRerank]], [[bm25]] + [[rrfFuse]];
  *    training: [[trainCentroids]], [[trainPqCodebook]];
  *    maintenance: [[appendToIvfIndex]], [[compactIvfIndex]],
  *    [[shardRebalancePlan]]
  *  - dedup: [[dedupExact]], [[nearDuplicates]] (MinHash-LSH),
  *    [[exactJaccardDuplicates]], [[fuzzyDuplicates]],
  *    [[simhashDuplicates]], [[embeddingDuplicates]],
  *    [[semanticDuplicates]], [[sortedNeighborhoodDuplicates]],
  *    [[containmentDuplicates]], [[substringSpans]],
  *    [[incrementalDedup]], [[decontaminate]], [[dedupComponents]]
  *  - corpus curation / training data: [[chunkTokens]],
  *    [[packSequences]], [[hashFeatures]], [[bpeMerges]],
  *    [[profileColumns]], [[sampleByHash]] / [[stratifiedSampleByHash]]
  *  - events / time series: [[sessionize]], [[funnel]], [[scdType2]],
  *    [[retentionCohorts]], [[asOfJoin]]
  *  - graph: [[pageRank]], [[triangleCount]], [[linkPredict]]
  *  - table maintenance: [[mergeUpsert]] / [[mergeUpsertPartitioned]],
  *    [[zOrderKey]], [[bloomPrefilter]]
  *
  * Conventions: embeddings tables carry (id: LONG, embedding:
  * ARRAY<DOUBLE>, …); documents tables carry (id: LONG, text:
  * STRING, …). All methods return lazy plans except [[buildIvfIndex]]
  * (an explicit sink).
  */
object GraftEngine {
  /** Mined contrastive triplet. */
  case class MinedTriplet(anchorId: Long, posId: Long, negId: Long,
                          posScore: Double, negScore: Double)
}

class GraftEngine(val spark: SparkSession) {
  import GraftEngine.MinedTriplet

  /** Top-k cosine neighbors for every id in `queries` against
    * `corpus` (both (id, embedding)). Query side is broadcast; use
    * [[ivfSearch]] when the corpus is indexed.
    */
  def knn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id"))
    corpus.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .withColumn("score", V.cosine(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighborId"), col("score"))
  }

  /** Build an IVF index: assign every vector to its nearest centroid
    * and EAGERLY write cluster-partitioned parquet (vectors included,
    * so [[ivfSearch]] can read the index back). Returns the written
    * assignment. This is the one eager method on this class — it is
    * a sink, not a plan.
    */
  def buildIvfIndex(corpus: DataFrame, centroids: DataFrame,
                    path: String): DataFrame = {
    val assigned = V.assignToCentroids(
      corpus.withColumnRenamed("id", "vec_id"), centroids,
      Seq("vec_id", "embedding"))
      .withColumnRenamed("vec_id", "id")
      .select("id", "embedding", "cluster", "dist")
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)
    assigned
  }

  /** ANN search against a [[buildIvfIndex]]-written index: each query
    * probes its `nProbe` nearest centroid partitions (partition
    * pruning on the cluster column makes that a selective read) and
    * takes top-k by cosine within them.
    */
  def ivfSearch(indexPath: String, centroids: DataFrame,
                queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val index = spark.read.parquet(indexPath)
    val q = queries.select(col("id").as("qid"), col("embedding").as("qv"))
    val wProbe = Window.partitionBy("qid").orderBy(col("qdist"), col("cid"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("qdist", V.sqDist(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("qid"), col("qv"), col("cid").as("probe_cluster"))
    val wTop = Window.partitionBy("qid").orderBy(col("score").desc, col("id"))
    index.join(broadcast(probes), col("cluster") === col("probe_cluster"))
      .filter(col("id") =!= col("qid"))
      .withColumn("score", V.cosine(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighborId"), col("score"))
  }

  /** Exact-dedup survivors of a (id, text) table: min id per
    * canonical content hash.
    */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .withColumn("h", md5(lower(trim(col("text")))))
      .groupBy("h").agg(min(col("id")).as("id"))
      .select("id")

  /** Near-duplicate pairs above `threshold` shingle-Jaccard via
    * banded MinHash-LSH, blocked by `blockCol` (e.g. language).
    */
  def nearDuplicates(documents: DataFrame, blockCol: String,
                     threshold: Double): DataFrame = {
    val docs = documents
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("id"), col(blockCol).as("blockKey"),
              MinHashLsh.shinglesFromTokens(col("toks")).as("shingles"))
    MinHashLsh.nearDupPairs(docs, threshold)
  }

  /** EXACT token-set Jaccard near-dup pairs (> `threshold`), blocked
    * by `blockCol` plus a sound log-scale size bucket — the
    * ground-truth baseline [[nearDuplicates]] approximates. Shuffle
    * join on the block key; O(block²) per block, so prefer
    * [[nearDuplicates]] when blocks are huge.
    */
  def exactJaccardDuplicates(documents: DataFrame, blockCol: String,
                             threshold: Double): DataFrame =
    TextOps.jaccardPairs(
      documents.select(col("id").as("doc_id"), col(blockCol).as("lang"),
                       col("text")),
      threshold)
      .select(col("id_a"), col("id_b"), col("jac"))

  /** Directional containment pairs |sh(A)∩sh(B)|/|sh(A)| ≥ `threshold`
    * over word-2-shingle sets — the asymmetric quote/mirror/superset
    * case Jaccard misses. The exact core is AUTO-SELECTED by a
    * measured per-block dictionary-cardinality probe
    * ([[TextOps.containmentPairs]]): dictionary-bitmap AND+popcount
    * while the universe broadcasts, prefix-filtered postings join on
    * natural-text universes. Output: (id_a = contained, id_b =
    * container, n_shared, n_a, containment).
    */
  def containmentDuplicates(documents: DataFrame, blockCol: String,
                            threshold: Double = 0.9): DataFrame =
    TextOps.containmentPairs(
      TextOps.shingleSets(
        documents.select(col("id").as("doc_id"),
                         col(blockCol).as("lang"), col("text"))),
      threshold)

  /** Edit-distance near-dup pairs (lev ≤ `maxEdits`), blocked by
    * `blockCol` × a length bucket wide enough that no qualifying
    * pair is missed. Banded levenshtein per candidate pair.
    */
  def fuzzyDuplicates(documents: DataFrame, blockCol: String,
                      maxEdits: Int): DataFrame =
    TextAnalysis.fuzzyPairs(
      documents.select(col("id").as("doc_id"), col(blockCol).as("lang"),
                       col("text"), length(col("text")).as("n_chars")),
      maxEdits)
      .select(col("id_a"), col("id_b"), col("lev"))

  /** Sorted-neighborhood near-dup pairs (lev ≤ `maxEdits`): rank each
    * `blockCol` block by a normalized sort key and compare only docs
    * within `window` ranks — a hard O(n·window) comparison budget,
    * the cheap first pass of a dedup cascade (recall bounded by how
    * well near-dups sort together; [[fuzzyDuplicates]] is the
    * exhaustive-within-block follow-up).
    */
  def sortedNeighborhoodDuplicates(documents: DataFrame, blockCol: String,
                                   window: Int, maxEdits: Int): DataFrame =
    TextAnalysis.snmPairs(
      documents.select(col("id").as("doc_id"), col(blockCol).as("lang"),
                       col("text")),
      window, maxEdits)
      .select(col("id_a"), col("id_b"), col("lev"))

  /** Ordered funnel per key (MATCH_RECOGNIZE-lite): how many of
    * `steps` each key completes in order, scanning events once per
    * key via the custom FunnelMatch operator (one clustering shuffle
    * at any step count). `withinUs` bounds the conversion window to
    * the step-0 anchor; default unbounded.
    */
  def funnel(events: DataFrame, keyCol: String, tsCol: String,
             tieCol: String, typeCol: String, steps: Seq[String],
             withinUs: Long = Long.MaxValue): DataFrame = {
    if (!spark.experimental.extraStrategies.contains(graft.plans.FunnelStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.FunnelStrategy
    graft.plans.FunnelMatch.of(events, keyCol, tsCol, tieCol, typeCol,
      steps, withinUs)
  }

  /** Train per-subspace PQ codebooks (8 subspaces × `codewords`
    * centroids, seeded) over an (id, embedding) table — the (sub,
    * code, cw) shape the ADC search keys consume.
    */
  def trainPqCodebook(embeddings: DataFrame, codewords: Int,
                      seed: Long): DataFrame =
    TrainedQuantize.trainedCodebook(embeddings, seed, codewords)

  /** OPQ encode (see `vec_opq_encode`): eigen-allocated PCA rotation
    * (micro-quantized basis — the distributed rotation and the
    * driver-side sample rotation are the same exact integer-term
    * arithmetic), then per-subspace trained PQ on the rotated
    * coordinates. Input (vec_id, embedding ARRAY<DOUBLE>[64]);
    * output (vec_id, sub, code, dist). Requires a trainable corpus
    * (≥ codewords sample vectors), like `trainPqCodebook`.
    */
  def opqEncode(embeddings: DataFrame, codewords: Int = 4,
                seed: Long = 42L): DataFrame = {
    require(codewords >= 2 && codewords <= 256, "codewords in [2, 256]")
    TrainedQuantize.opqEncodeGeneric(embeddings, codewords, seed)
  }

  /** Embedding-cosine near-duplicate pairs via banded hyperplane-LSH
    * candidates + exact cosine re-check (precision 1; recall set by
    * the banding, ≈ 0.999 at cosine 0.99). The scale path for
    * vector-space dedup: candidate generation is an equality join on
    * fixed-width (band, bits) keys, never an n² pair scan. Input:
    * (id, embedding ARRAY<DOUBLE>[dim]); output (id_a, id_b, cos)
    * with id_a < id_b.
    */
  def embeddingDuplicates(vectors: DataFrame, dim: Int,
                          threshold: Double): DataFrame =
    EmbedDedup.nearDupPairs(
      vectors.select(col("id"), col("embedding")), dim, threshold)

  /** SemDeDup-style semantic near-dup pairs: train `k` coarse
    * centroids on the bounded sample, assign every vector, and pair
    * up ONLY within a cluster (cos ≥ `threshold`, id_a < id_b). The
    * clustering bounds the pair work — size k so clusters stay small
    * at your corpus scale; cross-cluster near-dups are missed by
    * design (the paper's scalability trade; [[embeddingDuplicates]]
    * is the LSH alternative without that blind spot). Input:
    * (id, embedding); output (cluster, id_a, id_b, cos).
    */
  def semanticDuplicates(vectors: DataFrame, k: Int, threshold: Double,
                         seed: Long = 42L): DataFrame = {
    val cents = TrainedQuantize.trainCentroids(vectors, k, seed)
    val assigned = V.assignToCentroids(
        vectors.select(col("id"), col("embedding")), cents,
        Seq("id", "embedding"))
      .select(col("id"), col("embedding"), col("cluster"))
      .ckpt() // the self-join would re-run the assignment
    val a = assigned.select(col("id").as("id_a"),
      col("embedding").as("va"), col("cluster"))
    val b = assigned.select(col("id").as("id_b"),
      col("embedding").as("vb"), col("cluster").as("cb"))
    a.join(b.hint("shuffle_hash"),
        col("cluster") === col("cb") && col("id_a") < col("id_b"))
      .withColumn("cos", V.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("cluster"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Graph-index ANN search (HNSW/NSW family): bounded beam search
    * over a kNN graph. `corpus` = (id, embedding); `edges` =
    * undirected (a, b); `queries` = (qid, qv); `entry` = (qid, id)
    * seed pairs. Each hop equi-joins the (tiny, broadcast) beam
    * against the adjacency and rescores — cost is beamWidth·degree
    * per query and hop, independent of corpus size. The beam is
    * checkpointed per hop (each hop references it twice; without
    * materialization the plan recomputes hop 0 2^hops times).
    * Output: (qid, rnk, id, cos), top-`k` of the final beam.
    */
  def graphSearch(corpus: DataFrame, edges: DataFrame, queries: DataFrame,
                  entry: DataFrame, hops: Int = 3, beamWidth: Int = 8,
                  k: Int = 10): DataFrame = {
    val e = corpus.select(col("id").as("vec_id"), col("embedding"))
    val q = queries.select(col("qid"), col("qv"))
    val adj = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    var beam = graft.operators.AnnSearch
      .beamCut(e, q, entry.select(col("qid"), col("id")), beamWidth)
      .ckpt()
    for (_ <- 1 to hops) {
      val nbrs = beam.join(adj, col("id") === col("src"))
        .select(col("qid"), col("dst").as("id"))
      val cands = beam.select("qid", "id").union(nbrs).distinct()
      beam = graft.operators.AnnSearch
        .beamCut(e, q, cands, beamWidth).ckpt()
    }
    val w = Window.partitionBy("qid")
      .orderBy(col("qscore").desc, col("id"))
    beam.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("id"), col("qscore").as("cos"))
  }

  /** Semi-join reduction: filter `facts` map-side to rows whose
    * `factKey` might appear in `dim`'s `dimKey` set, using a
    * driver-built Bloom filter shipped in the task closure. No false
    * negatives — joining the surviving rows with `dim` afterwards
    * yields exactly the unfiltered join — so this is a transparent
    * shuffle reducer: at 100 TB, the fact table's non-joining rows
    * die at the scan instead of crossing the network. `expectedKeys`
    * sizes the filter (overestimate freely; 20k keys at 3 % fpp is
    * ~15 KB).
    */
  def bloomPrefilter(facts: DataFrame, factKey: String,
                     dim: DataFrame, dimKey: String,
                     expectedKeys: Long = 1000000L,
                     fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val bloom = graft.functions.BloomMightContain.serialize(
      dim.stat.bloomFilter(dimKey, expectedKeys, fpp))
    facts.filter(Bridge.column(graft.functions.BloomMightContain(
      Bridge.expression(col(factKey)), bloom)))
  }

  /** Deterministic hash sample: keep a row iff the first 4 hex chars
    * of md5(key columns joined with '|') fall below
    * `fraction` × 16^4. Reproducible across runs, engines, and
    * cluster sizes (unlike rand()/TABLESAMPLE) — the sampling
    * discipline for verified training-data pipelines; evaluates
    * map-side, so sampling costs one scan at any corpus size.
    */
  def sampleByHash(df: DataFrame, keyCols: Seq[String],
                   fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction=$fraction")
    val cut = math.round(fraction * 65536).toInt
    df.filter(conv(substring(md5(concat_ws("|",
      keyCols.map(c => col(c).cast("string")): _*)), 1, 4), 16, 10)
      .cast("int") < cut)
  }

  /** Sessionize an event stream in batch: rows get a per-key session
    * ordinal that increments whenever the gap since the previous
    * event exceeds `gapMinutes`. Input needs (key, ts) plus an
    * `orderCol` tiebreaker for a total order; all three windows share
    * one shuffle on the key.
    */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 orderCol: String, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol, orderCol)
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    val us = unix_micros(col(tsCol))
    val prev = lag(us, 1).over(w)
    events
      .withColumn("session_id",
        sum(when(prev.isNull ||
                 us - prev > gapMinutes * 60L * 1000000L, 1).otherwise(0))
          .over(wRun))
  }

  /** Collapse a near-dup pair list (id_a, id_b) into connected
    * components: returns (id, component) with component = min id in
    * the cluster — pick one survivor per component, not per pair.
    * Iterative min-label propagation; rounds = cluster diameter.
    */
  def dedupComponents(ids: DataFrame, pairs: DataFrame): DataFrame =
    GraphOps.minLabelComponents(
      ids.select(col("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id"), col("comp").as("component"))

  /** Train k coarse centroids (seeded k-means) over an (id,
    * embedding) table, in the (cid, cv) shape [[buildIvfIndex]] and
    * [[ivfSearch]] take — the trained upgrade over any fixed
    * codebook.
    */
  def trainCentroids(embeddings: DataFrame, k: Int, seed: Long): DataFrame =
    TrainedQuantize.trainCentroids(embeddings, k, seed)

  /** Continuously maintain an IVF index: append each micro-batch of
    * streaming vectors (vec_id, embedding) into the stored
    * cluster-partitioned layout, idempotently by batchId. Call
    * `.start()` on the returned writer.
    */
  def appendToIvfIndex(vectors: DataFrame, centroids: DataFrame,
                       indexPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.streaming.StreamOps.ivfIndexAppendSink(vectors, centroids, indexPath)

  /** Fold the small per-batch files produced by [[appendToIvfIndex]]
    * into one file per cluster (content unchanged, reads stay
    * pruned) — the maintenance job that keeps streaming-fed indexes
    * scannable.
    */
  def compactIvfIndex(indexPath: String): Unit =
    graft.streaming.StreamOps.compactIvfIndex(spark, indexPath)

  /** Okapi BM25 (k1=1.2, b=0.75) scores of every (id, text) document
    * for a bag-of-words query — the lexical arm of hybrid retrieval.
    * The corpus shuffles once (tf aggregation); document frequencies
    * and corpus stats broadcast. Output: (id, score), docs matching
    * no query token absent.
    */
  def bm25(documents: DataFrame, queryTokens: Seq[String]): DataFrame =
    graft.operators.Relevance.bm25(
      documents.select(col("id").as("doc_id"), col("text")), queryTokens)
      .select(col("doc_id").as("id"), col("score"))

  /** Reciprocal Rank Fusion of two ranked lists (id, rank): rrf =
    * Σ 1/(rrfK + rank), arms missing an id contribute 0. The standard
    * hybrid-search combiner (lexical + vector) — rank-based, so it
    * needs no score calibration between arms.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, rrfK: Int = 60): DataFrame =
    a.select(col("id").as("ida"), col("rank").as("ra"))
      .join(b.select(col("id").as("idb"), col("rank").as("rb")),
        col("ida") === col("idb"), "full_outer")
      .select(coalesce(col("ida"), col("idb")).as("id"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("ra")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfK) + col("rb")), lit(0.0))).as("rrf"))

  /** Sign-bit binary codes for an (id, embedding ARRAY<DOUBLE>[64])
    * table: two 32-bit words per vector (bit i of word w set iff
    * dim 32w+i > 0) — 64× smaller than fp32, Hamming-searchable with
    * XOR+popcount. One map-side pass.
    */
  def binaryCodes(vectors: DataFrame): DataFrame =
    graft.operators.BinaryQuantize.codes(
      vectors.select(col("id").as("vec_id"), col("embedding")))
      .withColumnRenamed("vec_id", "id")

  /** Hamming-prefilter ANN: rank the corpus by integer Hamming
    * distance between binary codes, keep `candidates`, rerank those
    * by exact cosine and return top `k`. The
    * compress → coarse-rank → exact-rerank cascade: full-precision
    * vectors are touched for only `candidates` rows at any corpus
    * size. `query` is a 1-row (id, embedding) table.
    */
  def hammingSearch(corpus: DataFrame, query: DataFrame,
                    candidates: Int, k: Int): DataFrame = {
    val c = binaryCodes(corpus)
    val qc = binaryCodes(query).select(col("w0").as("q0"), col("w1").as("q1"))
    val qv = query.select(col("embedding").as("qv"), col("id").as("qid"))
    // Exclude the query's own row (Hamming 0) BEFORE the candidate
    // cut — otherwise it consumes one of the `candidates` slots and
    // the effective budget is candidates−1 (unlike ann_hamming_topk,
    // which excludes the query before ranking).
    val qid = query.select(col("id")).limit(1)
      .withColumnRenamed("id", "xqid")
    val cand = c.crossJoin(broadcast(qc)).crossJoin(broadcast(qid))
      .filter(col("id") =!= col("xqid"))
      .withColumn("hamming",
        expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)").cast("int"))
      .select("id", "hamming")
      .orderBy(col("hamming"), col("id")).limit(candidates)
    cand.join(corpus.select("id", "embedding"), "id")
      .crossJoin(broadcast(qv))
      .withColumn("score", V.cosine(col("embedding"), col("qv")))
      .select("id", "hamming", "score")
      .orderBy(col("score").desc, col("id")).limit(k)
  }

  /** Copy-on-write MERGE: `updates` rows replace same-`keyCol` rows of
    * `base` (all non-key columns taken from the update) and insert
    * where unmatched — the CDC upsert shape. Both inputs need
    * identical schemas. Returns the merged table (lazy); write it as
    * the next snapshot.
    */
  def mergeUpsert(base: DataFrame, updates: DataFrame,
                  keyCol: String): DataFrame = {
    val cols = base.columns
    require(updates.columns.sameElements(cols),
      "base and updates must share one schema")
    val b = cols.foldLeft(base)((df, c) => df.withColumnRenamed(c, s"b_$c"))
    val u = cols.foldLeft(updates)((df, c) => df.withColumnRenamed(c, s"u_$c"))
      .withColumn("u_present", lit(true))
    // Matched-row resolution keys off a PRESENCE MARKER on the update
    // side, not per-column coalesce and not the update's join key — an
    // update row carrying a legitimate NULL in a non-key column must
    // win (standard MERGE semantics), and a NULL-keyed update row
    // (which a full-outer join can never match) must still insert its
    // own values rather than collapse to an all-NULL row.
    b.join(u, col(s"b_$keyCol") === col(s"u_$keyCol"), "full_outer")
      .select(cols.map(c =>
        when(col("u_present").isNotNull, col(s"u_$c"))
          .otherwise(col(s"b_$c")).as(c)): _*)
  }

  /** Partition-scoped copy-on-write MERGE against a STORED snapshot
    * (parquet partitioned on `ptCol`): reads back only the partitions
    * the update batch touches (directory pruning via a bounded
    * touched-partition collect — |partitions| values, the driver-side
    * footprint of a lakehouse touched-file list), applies
    * [[mergeUpsert]] semantics to that slice, and rewrites it with a
    * DYNAMIC partition overwrite — untouched partitions keep their
    * committed bytes. The 100 TB CDC shape: write cost is O(touched
    * partitions), not O(table). `updates` must carry the full snapshot
    * schema including `ptCol`.
    */
  def mergeUpsertPartitioned(spark: SparkSession, snapshotDir: String,
                             updates: DataFrame, keyCol: String,
                             ptCol: String): Unit = {
    val scoped = touchedSlice(spark, snapshotDir, updates, ptCol)
    // Materialize before overwriting the partitions being read
    // (staged-commit stand-in; O(touched partitions) in memory).
    mergeUpsert(scoped, updates, keyCol)
      .ckpt()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(ptCol).parquet(snapshotDir)
  }

  /** The directory-pruned snapshot slice [[mergeUpsertPartitioned]]
    * merges against: only partitions named by the update batch
    * (bounded distinct-collect → IN-list → PartitionFilters on the
    * parquet read; PlanSpec pins the pruning).
    */
  private[graft] def touchedSlice(spark: SparkSession, snapshotDir: String,
                                  updates: DataFrame, ptCol: String): DataFrame = {
    val touched = updates.select(ptCol).distinct().collect()
      .map(_.get(0)).toSeq
    spark.read.parquet(snapshotDir)
      .filter(col(ptCol).isInCollection(touched))
  }

  /** Z-order clustering key over two non-negative integer columns
    * (`bits` low bits each, interleaved x-even / y-odd). Range-
    * partitioning + sorting a write by this key keeps BOTH columns'
    * min/max narrow per file, so file-stat pruning works for
    * predicates on either — the multi-column data-skipping layout.
    */
  def zOrderKey(x: Column, y: Column, bits: Int = 10): Column =
    aggregate(sequence(lit(0), lit(bits - 1)), lit(0L),
      (acc, i) => acc
        + call_function("shiftleft",
            call_function("shiftright", x, i).bitwiseAND(lit(1L)), i * 2)
        + call_function("shiftleft",
            call_function("shiftright", y, i).bitwiseAND(lit(1L)),
            i * 2 + lit(1)))

  /** Incremental dedup of an arriving (id, text) batch against a
    * standing corpus: returns (id, dup_of, is_new) — verbatim
    * re-ingests resolve to their existing survivor (min corpus id per
    * content hash), new content passes. Batch-sized shuffle join on
    * the hash; Bloom-prefilter the batch against corpus hashes first
    * at very large scale ([[bloomPrefilter]]).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val norm = md5(lower(trim(col("text"))))
    val index = corpus.select(norm.as("h"), col("id"))
      .groupBy("h").agg(min(col("id")).as("dup_of"))
    batch.withColumn("h", norm)
      .join(index, Seq("h"), "left")
      .select(col("id"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.cast("int").as("is_new"))
  }

  /** Triangle count over an undirected (a < b) edge list — the
    * clustering-structure summary of a similarity graph. Two
    * edge-list self-joins; at scale both shuffle on their join keys.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y2"), col("b").as("z2")),
        col("y") === col("y2"))
      .join(e.select(col("a").as("x3"), col("b").as("z3")),
        col("x") === col("x3") && col("z2") === col("z3"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-stratum deterministic hash sampling: each row keeps iff its
    * md5(key) prefix falls under its stratum's rate — the multilingual
    * rebalancing pass, reproducible across runs/engines/cluster sizes
    * and map-side like [[sampleByHash]]. `rates` maps stratum value →
    * fraction; absent strata use `defaultRate`.
    */
  def stratifiedSampleByHash(df: DataFrame, keyCol: String,
                             strataCol: String, rates: Map[String, Double],
                             defaultRate: Double): DataFrame = {
    def cut(f: Double) = lit(math.round(f * 65536).toInt)
    val rateCol = rates.foldLeft(cut(defaultRate)) { case (acc, (v, f)) =>
      when(col(strataCol) === v, cut(f)).otherwise(acc)
    }
    df.filter(conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10)
      .cast("int") < rateCol)
  }

  /** Fixed-size token chunking with overlap over an (id, text) table
    * — the RAG/encoder windowing pass. Output: (id, chunk_id,
    * chunk_text); map-side array arithmetic, no shuffle.
    */
  def chunkTokens(documents: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"need 1 <= stride <= size, got size=$size stride=$stride")
    documents
      .withColumn("toks", split(col("text"), " "))
      .withColumn("nc", expr(
        s"IF(size(toks) <= $size, 1, ((size(toks) - $size + ${stride - 1}) DIV $stride) + 1)"))
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, nc - 1), i -> array_join(slice(toks, i * $stride + 1, $size), ' '))")))
      .select(col("id"), col("pos").as("chunk_id"), col("col").as("chunk_text"))
  }

  /** Benchmark decontamination: corpus documents sharing any k-token
    * shingle with `benchmark` (both (id, text)). The benchmark side is
    * small by definition, so its shingle set broadcasts and the corpus
    * probe is one map-side scan. Output: (id, n_eval_hits,
    * first_eval_id) for contaminated docs only.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    def sh(c: Column) = Bridge.column(graft.functions.WordShingles(
      Bridge.expression(c), Bridge.expression(lit(k))))
    val ev = benchmark.select(col("id").as("eval_id"),
      explode(sh(col("text"))).as("sh")).distinct()
    corpus.select(col("id"), explode(sh(col("text"))).as("sh"))
      .join(broadcast(ev), "sh")
      .groupBy("id")
      .agg(countDistinct(col("eval_id")).as("n_eval_hits"),
           min(col("eval_id")).as("first_eval_id"))
  }

  /** The reference's S1: mine (anchor, positive, negative) triplets
    * from a labeled embedding table (id, embedding, label) for the
    * given anchor ids. Positive = same-label max-cosine, negative =
    * other-label min-cosine, ties to min id.
    */
  def mineTriplets(embeddings: DataFrame,
                   anchorFilter: Column): Dataset[MinedTriplet] = {
    import spark.implicits._
    val anchors = embeddings.filter(anchorFilter)
      .select(col("id").as("aid"), col("label").as("albl"),
              col("embedding").as("av"))
    val scored = embeddings.crossJoin(broadcast(anchors))
      .filter(col("id") =!= col("aid"))
      .withColumn("score", V.cosine(col("embedding"), col("av")))
    val wPos = Window.partitionBy("aid").orderBy(col("score").desc, col("id"))
    val wNeg = Window.partitionBy("aid").orderBy(col("score").asc, col("id"))
    val pos = scored.filter(col("label") === col("albl"))
      .withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
      .select(col("aid"), col("id").as("posId"), col("score").as("posScore"))
    val neg = scored.filter(col("label") =!= col("albl"))
      .withColumn("rn", row_number().over(wNeg)).filter(col("rn") === 1)
      .select(col("aid").as("aid2"), col("id").as("negId"),
              col("score").as("negScore"))
    pos.join(neg, col("aid") === col("aid2"))
      .select(col("aid").as("anchorId"), col("posId"), col("negId"),
              col("posScore"), col("negScore"))
      .as[MinedTriplet]
  }

  /** PageRank over an undirected edge list (a, b), `iters` fixed
    * iterations in exact integer micro-units (damping 0.85) — see
    * `graph_pagerank` for the arithmetic; the per-iteration frontier
    * is 2 longs/node so checkpointing it is free at any scale.
    * Output: (id, rank_u, rank).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val adj = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val n = nodes.select(col("id"))
    var ranks = n.select(col("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      val contribs = ranks.withColumnRenamed("id", "src")
        .join(deg, "src")
        .select(col("src"), expr("r DIV deg").as("c"))
        .join(adj, "src")
        .select(col("dst").as("id"), col("c"))
        .groupBy("id").agg(sum(col("c")).as("csum"))
      ranks = n.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(150000L) + expr("85 * coalesce(csum, 0L) DIV 100")).as("r"))
        .ckpt()
    }
    ranks.select(col("id"), col("r").as("rank_u"),
      (col("r").cast("double") / 1000000.0).as("rank"))
  }

  /** ColBERT-style MaxSim late interaction: `docTokens`/`queryTokens`
    * are (id, embedding) with several token vectors per id; score =
    * Σ_{query token} max_{doc token} cosine, accumulated as exact
    * integer 1e-4 units (see `ann_maxsim_topk`). Query side broadcasts.
    * Output: (qid, rnk, id, maxsim), top-`k` docs per query.
    */
  def maxSimSearch(docTokens: DataFrame, queryTokens: DataFrame,
                   k: Int): DataFrame = {
    // Token ids must be STABLE across recomputation of the broadcast
    // side (monotonically_increasing_id is not — a task-retry relayout
    // would regroup the per-token maxes): rank within the query by the
    // token vector itself. Identical duplicate tokens collapse to
    // arbitrary-but-equivalent ids (equal vectors score equal maxes).
    val q = queryTokens.select(col("id").as("qid"),
      col("embedding").as("qv"),
      row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("embedding"))).as("qtok"))
    val w = Window.partitionBy("qid").orderBy(col("score_i").desc, col("id"))
    docTokens.join(broadcast(q), col("id") =!= col("qid"))
      .withColumn("cos", V.cosine(col("embedding"), col("qv")))
      .groupBy("qid", "id", "qtok")
      .agg(floor(max(col("cos")) * 10000 + 0.5).cast("long").as("mi"))
      .groupBy("qid", "id")
      .agg(sum(col("mi")).as("score_i"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("id"),
        (col("score_i").cast("double") / 10000.0).as("maxsim"))
  }

  /** Concat-and-chunk sequence packing: per `streamCol` stream in
    * `orderCol` order, assign each row's token span to `budget`-token
    * bins by cumulative offset (see `pipeline_pack_sequences`).
    * Output adds (n_tokens, start_off, bin_first, bin_last). The
    * running offset is the hierarchical (sharded) prefix sum, so a
    * skewed stream key never funnels through one task; `docsPerShard`
    * bounds per-task rows (raise it at scale so shard count stays
    * broadcast-sized).
    */
  def packSequences(documents: DataFrame, streamCol: String,
                    orderCol: String, budget: Long,
                    docsPerShard: Long = 64L): DataFrame = {
    val counted = documents
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    graft.operators.Curation.shardedPrefixSum(
        counted, streamCol, orderCol, "n_tokens", "start_off", docsPerShard)
      .withColumn("bin_first", expr(s"start_off DIV $budget"))
      .withColumn("bin_last", expr(s"(start_off + n_tokens - 1) DIV $budget"))
  }

  /** Triangular retention matrix: users cohorted by first-active
    * truncated period (`unit`: "week"/"month"/"day"); cells count
    * distinct users active `offset` periods after their cohort.
    */
  def retentionCohorts(events: DataFrame, userCol: String,
                       tsCol: String, unit: String): DataFrame = {
    // Calendar months are variable-length, so the month offset uses
    // months_between on month-truncated periods (exact integers);
    // week/day stay fixed-width datediff arithmetic.
    val offsetExpr = unit match {
      case "week"  => expr("datediff(p, cohort) DIV 7")
      case "day"   => expr("datediff(p, cohort)")
      case "month" => expr("CAST(months_between(p, cohort) AS BIGINT)")
      case u => throw new IllegalArgumentException(s"unit: $u")
    }
    // one shuffle on the user key: collect each user's distinct
    // period set (bounded by corpus timespan), derive cohort+offsets
    // map-side (see events_retention_cohorts)
    events
      .select(col(userCol).as("user"), date_trunc(unit, col(tsCol)).as("p"))
      .groupBy("user").agg(collect_set(col("p")).as("ps"))
      .select(array_min(col("ps")).as("cohort"), explode(col("ps")).as("p"))
      .groupBy(col("cohort"), offsetExpr.as("offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** SCD type-2 collapse of an attribute stream: one validity interval
    * [valid_from_us, valid_to_us) per consecutive run of `attrCol`
    * per `keyCol` (open interval → −1/is_current); `seqCol` breaks
    * same-timestamp ties. See `events_scd2_dim`.
    */
  def scdType2(events: DataFrame, keyCol: String, tsCol: String,
               attrCol: String, seqCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(seqCol))
    val marked = events
      .withColumn("prev_attr", lag(col(attrCol), 1).over(w))
      .filter(col("prev_attr").isNull || col("prev_attr") =!= col(attrCol))
      .withColumn("valid_from_us", unix_micros(col(tsCol)))
    val wc = Window.partitionBy(keyCol).orderBy("valid_from_us", seqCol)
    marked
      .withColumn("valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(wc), lit(-1L)))
      .withColumn("version", row_number().over(wc))
      .select(col(keyCol), col("version"), col(attrCol),
        col("valid_from_us"), col("valid_to_us"),
        (col("valid_to_us") === -1L).as("is_current"))
  }

  /** Simhash near-duplicate pairs over an (id, text) corpus: 60-bit
    * signatures, pairs with Hamming distance ≤ `maxHamming` found by
    * pigeonhole banding — any partition of the 60 bits into
    * maxHamming+1 disjoint bands leaves ≥ 1 band identical for a
    * qualifying pair, so candidates come from an equi-join on (band
    * index, band value) and the exact popcount verify runs on
    * candidates only (see `dedup_simhash_pairs`). Output:
    * (id_a, id_b, hamming) with id_a < id_b.
    */
  def simhashDuplicates(documents: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 60,
      s"maxHamming must be in [0, 60), got $maxHamming")
    val nBands = maxHamming + 1
    val width = (60 + nBands - 1) / nBands
    val toks = documents
      .select(col("id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("h", conv(substring(md5(col("token")), 1, 15), 16, 10)
        .cast("long"))
    val bitSums = (0 until 60).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0L, 1)
        .otherwise(-1)).as(s"b$b")
    }
    val sim = (0 until 60).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sims = toks.groupBy("id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), sim.as("simhash"))
      .ckpt()
    val bandCols = (0 until nBands).map { i =>
      val lo = i * width
      val bits = math.min(width, 60 - lo)
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << bits) - 1))
    }
    val banded = sims.select(col("id"), col("simhash"),
      posexplode(array(bandCols: _*)))
      .select(col("id"), col("simhash"),
        col("pos").as("band_i"), col("col").as("band_v"))
    banded.select(col("id").as("id_a"), col("simhash").as("sa"),
        col("band_i"), col("band_v"))
      .join(banded.select(col("id").as("id_b"), col("simhash").as("sb"),
        col("band_i").as("bi2"), col("band_v").as("bv2")),
        col("band_i") === col("bi2") && col("band_v") === col("bv2")
          && col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sa", "sb").distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Link prediction over an undirected edge list (a, b): 2-hop
    * candidate pairs scored by neighbor-set Jaccard, existing edges
    * excluded — see `graph_link_predict`. `middleCap` bounds each
    * middle vertex's candidate fanout at cap² (smallest-id neighbors
    * kept), so a power-law hub can't dominate the shuffle; with
    * middleCap ≥ max degree the result is exact. Output: (x, y,
    * inter, uni, jaccard), top-`k` by the exact integer score.
    */
  def linkPredict(edges: DataFrame, k: Int, middleCap: Int = 64): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val adj = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val cand = graft.operators.GraphOps.cappedTwoHop(adj, middleCap)
    cand.join(e, col("x") === col("a") && col("y") === col("b"), "left_anti")
      .join(deg.withColumnRenamed("src", "x")
        .withColumnRenamed("deg", "dx"), "x")
      .join(deg.withColumnRenamed("src", "y")
        .withColumnRenamed("deg", "dy"), "y")
      .withColumn("uni", col("dx") + col("dy") - col("inter"))
      .withColumn("score_i", expr("inter * 10000 DIV uni"))
      .orderBy(col("score_i").desc, col("x"), col("y"))
      .limit(k)
      .select(col("x"), col("y"), col("inter"), col("uni"),
        (col("score_i").cast("double") / 10000.0).as("jaccard"))
  }

  /** MMR diversity rerank: greedy argmax λ·rel − (1−λ)·max sim-to-
    * selected over the `candidates` top-relevance cut, `k` picks;
    * `lambdaTenths` ∈ [0,10] is λ×10 so every score is an exact
    * integer 1e-4 unit (see `ann_rerank_mmr`). `corpus` = (id,
    * embedding); `query` = single-row (embedding). The greedy loop
    * touches only the candidate set — retrieval, not rerank, stays
    * the expensive stage at scale. Output: (rnk, id, mmr_u).
    */
  def mmrRerank(corpus: DataFrame, query: DataFrame, candidates: Int,
                k: Int, lambdaTenths: Int = 7): DataFrame = {
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"lambdaTenths must be in [0,10], got $lambdaTenths")
    val lam = lambdaTenths.toLong
    val q = query.select(col("embedding").as("qv"))
    val cands = corpus.crossJoin(broadcast(q))
      .withColumn("rel",
        floor(V.cosine(col("embedding"), col("qv")) * 10000 + 0.5).cast("long"))
      .orderBy(col("rel").desc, col("id")).limit(candidates)
      .select(col("id"), col("embedding"), col("rel"))
      .ckpt()
    val sims = cands.select(col("id").as("ia"), col("embedding").as("ea"))
      .crossJoin(cands.select(col("id").as("ib"), col("embedding").as("eb")))
      .filter(col("ia") =!= col("ib"))
      .withColumn("sim",
        floor(V.cosine(col("ea"), col("eb")) * 10000 + 0.5).cast("long"))
      .select("ia", "ib", "sim").ckpt()
    var selected = cands.orderBy(col("rel").desc, col("id")).limit(1)
      .select(col("id"), lit(1).as("rnk"), (col("rel") * lam).as("mmr_u"))
      .ckpt()
    for (r <- 2 to k) {
      val pick = cands
        .join(selected.select(col("id").as("sv")),
          col("id") === col("sv"), "left_anti")
        .join(sims, col("id") === col("ia"))
        .join(selected.select(col("id").as("sel")), col("ib") === col("sel"))
        .groupBy(col("id"), col("rel"))
        .agg(max(col("sim")).as("msim"))
        .withColumn("mmr_u",
          col("rel") * lam - col("msim") * (10L - lam))
        .orderBy(col("mmr_u").desc, col("id")).limit(1)
        .select(col("id"), lit(r).as("rnk"), col("mmr_u"))
      selected = selected.union(pick).ckpt()
    }
    selected.select(col("rnk"), col("id"), col("mmr_u"))
  }

  /** Hashing-trick featurization: token → md5-prefix bucket
    * (mod `buckets`), per-doc counts — vocabulary-free sparse
    * features, one map-side explode + aggregate. Output: (id,
    * bucket, cnt) exploded sparse rows.
    */
  def hashFeatures(documents: DataFrame, buckets: Int): DataFrame =
    documents
      .select(col("id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("bucket",
        conv(substring(md5(col("token")), 1, 4), 16, 10)
          .cast("long") % buckets)
      .groupBy("id", "bucket").agg(count(lit(1)).as("cnt"))

  /** Learn `rounds` BPE merge rules from an (id, text) corpus —
    * vocabulary-sized state per round, lexicographic tie-break; see
    * `graft.operators.Tokenize.bpeMerges`. Output: (round, sym_a,
    * sym_b, merged, pair_count).
    */
  def bpeMerges(documents: DataFrame, rounds: Int): DataFrame =
    graft.operators.Tokenize.bpeMerges(documents, rounds)

  /** One-scan numeric profiler: (col_name, n_nulls, n_distinct,
    * min_v, max_v) per requested column via a stacked multi-aggregate
    * pass — the table is read once regardless of column count.
    * `approx = true` swaps exact countDistinct for
    * approx_count_distinct (HLL++): no Expand row multiplication, the
    * shape to use when cardinalities feed a dashboard rather than an
    * invoice (see `profile_columns_approx`).
    */
  def profileColumns(df: DataFrame, cols: Seq[String],
                     approx: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    val distinctAgg: String => org.apache.spark.sql.Column =
      if (approx) c => approx_count_distinct(col(c), 0.02)
      else c => countDistinct(col(c))
    val aggs = cols.flatMap { c => Seq(
      (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
      distinctAgg(c).as(s"${c}_dist"),
      TestData.r4(min(col(c)).cast("double")).as(s"${c}_min"),
      TestData.r4(max(col(c)).cast("double")).as(s"${c}_max"))
    }
    val stackArgs = cols.map(c =>
      s"'$c', ${c}_nulls, ${c}_dist, ${c}_min, ${c}_max").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_nulls, n_distinct, min_v, max_v)"))
  }

  /** Exact-substring dedup spans (Lee et al. 2022): maximal runs of
    * `k`-token windows whose content appears in ≥ 2 distinct docs,
    * as 1-based token spans of length ≥ `minSpan` — the pass that
    * excises verbatim boilerplate instead of dropping whole docs.
    * `documents` = (id, text). Output: (id, span_start, span_end,
    * span_len, n_windows). See `dedup_substring_spans`.
    */
  def substringSpans(documents: DataFrame, k: Int, minSpan: Int): DataFrame =
    graft.operators.Curation.substringSpans(
        documents.select(col("id").as("doc_id"), col("text")), k, minSpan)
      .withColumnRenamed("doc_id", "id")

  /** IVF maintenance plan: per-shard occupancy of `assigned` (any
    * table with a `cluster` column, e.g. an ivfSearch index read or
    * assignToCentroids output) against the balanced target for
    * `numShards`, with the action a rebalance job would take —
    * "split" above 1.5× target (into n_splits sub-shards), "merge"
    * below 0.5×, "ok" between. Integer cross-product thresholds; the
    * corpus total rides a single-partition window over the
    * |shards|-sized aggregate. See `ivf_shard_rebalance`.
    */
  def shardRebalancePlan(assigned: DataFrame, numShards: Int): DataFrame =
    graft.operators.Vectors.shardRebalance(assigned, numShards)

  /** As-of join: each `facts` row picks the reference row in force at
    * its timestamp — "backward" (latest `refs` row at-or-before) or
    * "forward" (earliest at-or-after) — per `keyCol`, optionally
    * expiring matches older/further than `toleranceUs` (NULL ref
    * columns, fact row kept — merge_asof semantics). Single-pass
    * form: both sides union into ONE stream sorted per key, a
    * running last/first carries the reference — one shuffle on the
    * entity key, no pairwise join, the scalable as-of shape (see
    * `join_asof`, `join_asof_tolerance`). `refs` needs (keyCol,
    * tsCol, valueCol); output = facts columns + (valueCol, ref_ts,
    * delta_us).
    */
  def asOfJoin(facts: DataFrame, refs: DataFrame, keyCol: String,
               tsCol: String, valueCol: String,
               direction: String = "backward",
               toleranceUs: Option[Long] = None): DataFrame = {
    val factCols = facts.columns
    require(!factCols.contains(valueCol),
      s"facts already has a '$valueCol' column")
    val tagged = facts.withColumn("g_is_fact", lit(true))
      .withColumn("g_v", lit(null).cast(
        refs.schema(valueCol).dataType.sql))
      .unionByName(
        refs.select(col(keyCol), col(tsCol), col(valueCol).as("g_v"))
          .withColumn("g_is_fact", lit(false)),
        allowMissingColumns = true)
    val w = direction match {
      case "backward" => Window.partitionBy(keyCol)
        // references sort BEFORE facts at the same instant, so an
        // equal-timestamp reference is visible to the fact
        .orderBy(col(tsCol), col("g_is_fact"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      case "forward" => Window.partitionBy(keyCol)
        .orderBy(col(tsCol).desc, col("g_is_fact"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      case o => throw new IllegalArgumentException(s"direction: $o")
    }
    val matched = tagged
      .withColumn("g_ref_v", last(when(!col("g_is_fact"), col("g_v")), true).over(w))
      .withColumn("g_ref_ts", last(when(!col("g_is_fact"), col(tsCol)), true).over(w))
      .filter(col("g_is_fact"))
      .withColumn("g_delta", if (direction == "backward")
        unix_micros(col(tsCol)) - unix_micros(col("g_ref_ts"))
      else unix_micros(col("g_ref_ts")) - unix_micros(col(tsCol)))
    val within = toleranceUs match {
      case Some(t) => col("g_delta") <= t
      case None => col("g_delta").isNotNull
    }
    matched.select(factCols.map(col) ++ Seq(
      when(within, col("g_ref_v")).as(valueCol),
      when(within, col("g_ref_ts")).as("ref_ts"),
      when(within, col("g_delta")).as("delta_us")): _*)
  }

  /** Deterministic global training shuffle: assigns every row a
    * (shard, pos) from the md5-fold of its id — reproducible
    * pseudo-random order at any cluster size, shard count sized to
    * target shard bytes at scale (see `pipeline_shuffle_shards`).
    */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 7), 16, 10)
      .cast("long")
    df.withColumn("g_h28", h)
      .withColumn("shard", (col("g_h28") % numShards).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("g_h28"), col(idCol))) - 1)
      .drop("g_h28")
  }

  /** Block-mean perceptual hash per media payload (see
    * `multimodal_blockhash`): near-dup signature over the opaque
    * BINARY column; Hamming distance on the result ranks candidates.
    */
  def mediaBlockHashes(media: DataFrame, blocks: Int = 16): DataFrame =
    graft.multimodal.Multimodal.blockHashes(media, blocks).toDF()

  /** Media NEAR-dup pairs (see `multimodal_blockhash_pairs`):
    * Hamming-≤-`maxHamming` pairs over the 16-bit block-mean
    * perceptual hash, found by the 4-band pigeonhole equi-join
    * (sound for Hamming ≤ 3) with exact popcount verify on
    * candidates only — never an all-pairs product. Pairs stay within
    * a mime type. Returns (mime, id_a, id_b, hamming), id_a < id_b.
    */
  def mediaNearDupPairs(media: DataFrame, maxHamming: Int = 2): DataFrame =
    graft.operators.MultimodalOps.blockHashPairs(
      mediaBlockHashes(media).ckpt(), maxHamming)

  /** URL canonicalization (see `dedup_url_canonical`): lowercase
    * scheme+host, strip default :443 port, drop utm_* params, sort
    * the rest, drop the fragment. Map-side; group the result for
    * crawl-frontier dedup.
    */
  def canonicalizeUrl(url: Column): Column =
    graft.operators.Curation.canonicalUrl(url)

  /** Deterministic train/val/test assignment (see
    * `sample_train_split`): adds a `split` column that is a pure
    * function of `idCol`'s md5 — reproducible across engines, runs,
    * cluster sizes, and STABLE under incremental corpus growth (new
    * rows never move old rows between splits). Fractions quantize to
    * 1/256 buckets by FLOOR — the same arithmetic as the declared
    * `sample_train_split` key (default 80/10/10 ⇒ cuts 204/230), so
    * facade and key agree on every hash bucket (EngineApiSpec pins
    * the parity).
    */
  def trainValTestSplit(df: DataFrame, idCol: String,
                        trainPct: Double = 0.8,
                        valPct: Double = 0.1): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 1.0,
      s"invalid split fractions ($trainPct, $valPct)")
    val tCut = (trainPct * 256).toInt
    val vCut = ((trainPct + valPct) * 256).toInt
    df.withColumn("split",
      when(conv(substring(md5(col(idCol).cast("string")), 1, 2), 16, 10)
        .cast("int") < tCut, "train")
        .when(conv(substring(md5(col(idCol).cast("string")), 1, 2), 16, 10)
          .cast("int") < vCut, "val")
        .otherwise(lit("test")))
  }

  /** Two-proportion z-test (see `events_ab_significance`): `df` rows
    * are the analysis units, `variantCol` is 0/1 (control/treatment),
    * `successCol` is a 0/1 outcome. All aggregation is exact BIGINT;
    * the z statistic is one closed-form IEEE expression. Degenerate
    * inputs — an empty variant, or a pooled rate of exactly 0 or 1 —
    * yield NULL z_score/significant_95 instead of an ANSI
    * DIVIDE_BY_ZERO (the `events_uplift_segments` guard; `when()` is
    * lazy, so the divisions never evaluate on guarded rows). Returns
    * one row: (n_c, n_t, x_c, x_t, z_score, significant_95).
    */
  def abTest(df: DataFrame, variantCol: String, successCol: String): DataFrame =
    df.agg(
        sum(when(col(variantCol) === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col(variantCol) === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col(variantCol) === 0, col(successCol).cast("long"))
          .otherwise(0L)).as("x_c"),
        sum(when(col(variantCol) === 1, col(successCol).cast("long"))
          .otherwise(0L)).as("x_t"))
      .withColumn("p_pool",
        when(col("n_c") + col("n_t") > 0,
          (col("x_c") + col("x_t")) / (col("n_c") + col("n_t"))))
      .withColumn("z",
        when(col("n_c") > 0 && col("n_t") > 0
            && col("p_pool") > 0 && col("p_pool") < 1,
          (col("x_t") / col("n_t") - col("x_c") / col("n_c"))
            / sqrt(col("p_pool") * (lit(1.0) - col("p_pool"))
              * (lit(1.0) / col("n_c") + lit(1.0) / col("n_t")))))
      .select(col("n_c"), col("n_t"), col("x_c"), col("x_t"),
        graft.TestData.r4(col("z")).as("z_score"),
        (abs(col("z")) > lit(1.959964)).as("significant_95"))

  /** Population Stability Index between a reference and a current
    * population of `valueCol` over `bins` equal-width buckets on
    * [lo, hi] (values outside clamp to the edge buckets — see
    * `profile_drift_psi`). Returns per-bin counts and the PSI term in
    * integer micro-units (NULL when a side is empty in that bin);
    * sum the terms for the headline PSI. One map-side scan per side +
    * a bins-sized aggregate at any scale.
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
               lo: Double, hi: Double, bins: Int = 10): DataFrame = {
    require(bins > 1 && hi > lo, "need bins > 1 and hi > lo")
    val width = (hi - lo) / bins
    def binned(df: DataFrame, n: String) = df.select(
      greatest(lit(0), least(lit(bins - 1),
        floor((col(valueCol) - lo) / width).cast("int"))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(n))
    val W = Window.partitionBy()
    binned(ref, "n_ref")
      .join(binned(cur, "n_cur"), Seq("bin"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .withColumn("t_ref", sum("n_ref").over(W))
      .withColumn("t_cur", sum("n_cur").over(W))
      .withColumn("psi_term_u",
        when(col("n_ref") > 0 && col("n_cur") > 0,
          floor(((col("n_ref") / col("t_ref")) - (col("n_cur") / col("t_cur")))
            * log((col("n_ref") / col("t_ref")) / (col("n_cur") / col("t_cur")))
            * 1000000 + 0.5).cast("long")))
      .select("bin", "n_ref", "n_cur", "psi_term_u")
      .orderBy("bin")
  }

  /** Audience-overlap matrix (see `agg_segment_overlap`): `members`
    * carries one row per (unit, segment) membership — the CALLER
    * defines membership (presence, thresholds, model scores); this
    * method computes |A∩B| distinct units for every segment pair.
    * Scale shape: one unit-grain fold to a bitmask, one map-side-
    * combinable fold to the ≤2^|segments| mask histogram, pair
    * expansion on that tiny table — pairwise counts never touch
    * unit-grain data again. The segment domain is collected driver-
    * side (bounded metadata, ≤62 segments — the pivot-domain
    * precedent).
    */
  def segmentOverlap(members: DataFrame, unitCol: String,
                     segmentCol: String): DataFrame = {
    val segs = members.select(segmentCol).distinct()
      .collect().map(_.get(0).toString).sorted.toSeq
    require(segs.nonEmpty && segs.size <= 62,
      s"need 1..62 segments, got ${segs.size}")
    val mask = segs.zipWithIndex.map { case (t, i) =>
      max(when(col(segmentCol) === t, lit(1L << i)).otherwise(0L))
    }.reduce(_ + _)
    val hist = members.groupBy(col(unitCol))
      .agg(mask.as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("n_units"))
    val pairs = for {
      i <- segs.indices; j <- segs.indices if i <= j
    } yield struct(lit(segs(i)).as("seg_a"), lit(segs(j)).as("seg_b"),
      when(shiftright(col("mask"), i) % 2 === 1 &&
           shiftright(col("mask"), j) % 2 === 1, col("n_units"))
        .otherwise(0L).as("n"))
    hist.select(explode(array(pairs: _*)).as("p"))
      .groupBy(col("p.seg_a").as("seg_a"), col("p.seg_b").as("seg_b"))
      .agg(sum(col("p.n")).as("n_units_both"))
      .orderBy("seg_a", "seg_b")
  }

  /** t-closeness audit (see `privacy_t_closeness`): per-QI-group
    * Earth Mover's distance between the group's distribution of the
    * ORDERED sensitive attribute and the global one, flagged against
    * `t`. The sensitive domain is collected driver-side (bounded,
    * ordered by its natural sort). EMD is one closed-form expression
    * over a fixed pivot — no float-accumulation ambiguity —
    * r4-quantized. Returns (qi…, group_size, emd, t_violation).
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String],
                 sensitiveCol: String, t: Double = 0.05): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier")
    val dom = df.select(sensitiveCol).distinct()
      .collect().map(_.get(0).toString).sorted.toSeq
    require(dom.size >= 2 && dom.size <= 64,
      s"need 2..64 sensitive values, got ${dom.size}")
    val cnt = (i: Int) =>
      sum(when(col(sensitiveCol) === dom(i), 1L).otherwise(0L))
    val gAggs = dom.indices.map(i => cnt(i).as(s"c$i")) :+
      count(lit(1)).as("group_size")
    val grp = df.groupBy(qiCols.map(col): _*).agg(gAggs.head, gAggs.tail: _*)
    val tAggs = dom.indices.map(i => cnt(i).as(s"g$i")) :+
      count(lit(1)).as("n_total")
    val glob = df.agg(tAggs.head, tAggs.tail: _*)
    val dd = (i: Int) =>
      col(s"c$i").cast("double") / col("group_size") -
        col(s"g$i").cast("double") / col("n_total")
    val emd = (1 until dom.size).map(j =>
        abs((0 until j).map(dd).reduce(_ + _)))
      .reduce(_ + _) / (dom.size - 1).toDouble
    grp.crossJoin(broadcast(glob))
      .withColumn("emd", TestData.r4(emd))
      .withColumn("t_violation", col("emd") > t)
      .select((qiCols.map(col) ++
        Seq(col("group_size"), col("emd"), col("t_violation"))): _*)
      .orderBy(qiCols.map(col): _*)
  }

  /** PMI collocation mining (see `text_collocations_pmi`): per-group
    * adjacent-bigram pointwise mutual information with marginals
    * derived from the bigram-type table (vocabulary-sized joins; the
    * corpus is touched once by the wordcount-shaped bigram count).
    * Returns (group, w1, w2, c12, pmi_u) for bigrams with
    * c12 ≥ `minCount`, pmi in integer micro-nats.
    */
  def collocationsPmi(documents: DataFrame, groupCol: String,
                      textCol: String, minCount: Int = 5): DataFrame = {
    val big = documents
      .withColumn("toks", split(col(textCol), " "))
      .filter(size(col("toks")) >= 2)
      .select(col(groupCol), explode(expr(
        "transform(sequence(0, size(toks)-2), " +
          "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
      .select(col(groupCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(groupCol, "w1", "w2").agg(count(lit(1)).as("c12"))
    val left = big.groupBy(groupCol, "w1").agg(sum("c12").as("c1"))
    val right = big.groupBy(groupCol, "w2").agg(sum("c12").as("c2"))
    val tot = big.groupBy(groupCol).agg(sum("c12").as("n_big"))
    big.join(left, Seq(groupCol, "w1")).join(right, Seq(groupCol, "w2"))
      .join(broadcast(tot), Seq(groupCol))
      .filter(col("c12") >= minCount)
      .withColumn("pmi_u",
        floor(log((col("c12").cast("double") * col("n_big"))
            / (col("c1").cast("double") * col("c2")))
          * 1000000 + 0.5).cast("long"))
      .select(col(groupCol), col("w1"), col("w2"), col("c12"), col("pmi_u"))
      .orderBy(groupCol, "w1", "w2")
  }

  /** Two-sided CUSUM changepoint detection (see
    * `ts_changepoint_cusum`) over an already-aggregated series of
    * integer observations (`timeCol` ascending, `valueCol` LONG
    * counts). Uses the prefix-sum closed form S_t = P_t − min(0,
    * running-min P), with deviations scaled by the series length so
    * everything stays exact BIGINT. Alarms where the cumulated
    * excess/deficit exceeds `thresholdMeans` × the series mean ×
    * length units. The windows are unpartitioned: the series must be
    * time-sized (grid rows), not corpus-sized.
    */
  def cusumChangepoints(series: DataFrame, timeCol: String,
                        valueCol: String,
                        thresholdMeans: Double = 1.0): DataFrame = {
    val W = Window.orderBy(timeCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = series.agg(sum(col(valueCol)).as("t_total"),
      count(lit(1)).as("n_points"))
    series.crossJoin(broadcast(tot))
      .withColumn("y", col(valueCol) * col("n_points") - col("t_total"))
      .withColumn("p", sum("y").over(W))
      .withColumn("cusum_up_scaled",
        col("p") - least(lit(0L), min("p").over(W)))
      .withColumn("cusum_dn_scaled",
        greatest(lit(0L), max("p").over(W)) - col("p"))
      .withColumn("thr",
        floor(col("t_total") * lit(thresholdMeans)).cast("long"))
      .withColumn("alarm_up", col("cusum_up_scaled") > col("thr"))
      .withColumn("alarm_dn", col("cusum_dn_scaled") > col("thr"))
      .select(col(timeCol), col(valueCol),
        col("cusum_up_scaled"), col("cusum_dn_scaled"),
        col("alarm_up"), col("alarm_dn"))
      .orderBy(timeCol)
  }

  /** Row-grain snapshot diff / change-data-feed (see
    * `sink_snapshot_diff`): full-outer join of two table versions on
    * `keyCol`, classifying each key as insert / delete / update
    * (any `compareCols` differs, null-safe). Output is delta-sized —
    * unchanged rows are dropped before any sort. Returns
    * (key, change, old_<c>, new_<c> for each compare col).
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "need at least one compare column")
    val a = v1.select((keyCol +: compareCols).map(col): _*)
      .withColumn("_present_a", lit(1))
      .toDF((s"$keyCol" +: compareCols.map("old_" + _)) :+ "_present_a": _*)
    val b = v2.select((keyCol +: compareCols).map(col): _*)
      .withColumn("_present_b", lit(1))
      .toDF((s"$keyCol" +: compareCols.map("new_" + _)) :+ "_present_b": _*)
    val changed = compareCols.map(c =>
      !(col(s"old_$c") <=> col(s"new_$c"))).reduce(_ || _)
    a.join(b, Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("_present_b").isNull, lit("delete"))
          .when(col("_present_a").isNull, lit("insert"))
          .when(changed, lit("update")))
      .filter(col("change").isNotNull)
      .select((col(keyCol) +: col("change") +:
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c")))): _*)
      .orderBy(keyCol)
  }

  /** Synchronous label-propagation communities (see
    * `graph_label_propagation`): `rounds` fixed sync iterations over
    * an undirected edge list (src, dst listed once) — each node
    * adopts its neighbors' mode label, ties to the min label;
    * deterministic (integer counts only) and a pure function of the
    * edge list. Returns (id, community).
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       rounds: Int = 3): DataFrame = {
    val adj = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .ckpt()
    var labels = nodes.select(col("id"), col("id").as("label"))
      .ckpt()
    for (_ <- 1 to rounds) {
      val top = adj.join(labels, col("dst") === col("id"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(Window.partitionBy("src")
          .orderBy(col("cnt").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("src"), col("label").as("nl"))
      labels = labels.join(top, col("id") === col("src"), "left")
        .select(col("id"), coalesce(col("nl"), col("label")).as("label"))
        .ckpt()
    }
    labels.select(col("id"), col("label").as("community"))
  }

  /** `rounds` rounds of k-core peeling for ARBITRARY k (the r8 key
    * hardwired k=2; see `graph_k_core`): each round drops nodes of
    * degree < k and their edges from the undirected view of `edges`
    * (src, dst listed once). Fixed sync rounds, not run-to-fixpoint
    * — a pure function of the edge list; when `rounds` reaches the
    * graph's peeling depth the cut IS the k-core fixpoint
    * (PropertySpec pins rounds-invariance at k=3 on the fixture).
    * Returns every node of `nodes` (id) with (core_degree, in_core).
    */
  def kCore(nodes: DataFrame, edges: DataFrame,
            k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    var adj = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .ckpt()
    for (_ <- 1 to rounds) {
      val keep = adj.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("kid"))
      adj = adj.join(keep, col("src") === col("kid"))
        .select(col("src"), col("dst"))
        .join(keep.select(col("kid").as("kid2")), col("dst") === col("kid2"))
        .select(col("src"), col("dst"))
        .ckpt()
    }
    val coreDeg = adj.groupBy(col("src").as("cid"))
      .agg(count(lit(1)).as("core_degree"))
    nodes.select(col("id"))
      .join(coreDeg, col("id") === col("cid"), "left")
      .select(col("id"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"),
        col("core_degree").isNotNull.as("in_core"))
  }

  /** One-scan per-column approx-quantile sweep (see
    * `profile_columns_quantiles`): GK sketches (rank error 1/
    * `accuracy`) for every (column, p) in a single map-side-combined
    * aggregate. Returns one row per column:
    * (col_name, n_rows, q_0…q_k in `ps` order as an array).
    */
  def profileQuantiles(df: DataFrame, cols: Seq[String],
                       ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9),
                       accuracy: Int = 1000): DataFrame = {
    require(cols.nonEmpty && ps.nonEmpty, "need columns and percentiles")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}_n"),
      approx_percentile(col(c).cast("double"),
        array(ps.map(lit): _*), lit(accuracy)).as(s"${c}_q"))
    }
    val stackArgs = cols.map(c => s"'$c', ${c}_n, ${c}_q").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_rows, quantiles)"))
      .orderBy("col_name")
  }

  /** Quantile-shift drift (see `profile_drift_quantile`): for every
    * (column, p), GK quantile estimates over the reference rows
    * (`curFlag` false) and current rows (`curFlag` true) from ONE
    * conditional scan, with their r4'd shift — distribution drift
    * without profile_drift_psi's fixed binning (a shift inside one
    * bin is invisible to PSI; the sweep sees any shift above the
    * rank resolution). Returns (col_name, p, n_ref, n_cur, q_ref,
    * q_cur, shift).
    */
  def quantileDrift(df: DataFrame, curFlag: Column, cols: Seq[String],
                    ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9),
                    accuracy: Int = 1000): DataFrame =
    graft.operators.Maintenance.quantileDrift(df, curFlag, cols, ps, accuracy)

  /** Sample-ratio-mismatch check (see `events_ab_srm`): chi-square
    * goodness-of-fit of the 0/1 `variantCol` assignment counts
    * against a designed 50/50 — (n_c−n_t)²/(n_c+n_t), exact BIGINT
    * numerator, one division. Run this BEFORE reading [[abTest]]'s
    * z. Returns one row (n_c, n_t, chi2, srm_detected at 95 %).
    */
  def srmCheck(assignments: DataFrame, variantCol: String): DataFrame =
    assignments
      .agg(sum(when(col(variantCol) === 0, 1L).otherwise(0L)).as("n_c"),
           sum(when(col(variantCol) === 1, 1L).otherwise(0L)).as("n_t"))
      .withColumn("chi2", when(col("n_c") + col("n_t") > 0, TestData.r4(
        ((col("n_c") - col("n_t")) * (col("n_c") - col("n_t")))
          / (col("n_c") + col("n_t")).cast("double"))))
      .select(col("n_c"), col("n_t"), col("chi2"),
        (col("chi2") > lit(3.841459)).as("srm_detected"))

  /** Weighted median per group (see `agg_weighted_median`): least v
    * with cumweight(≤v)·2 ≥ totweight over integer weights. The
    * per-(group, value) pre-aggregate collapses ties map-side; the
    * cumulative runs over value-distinct rows. `valueCol` should be
    * pre-quantized if float (r4) — it is used as a sort key.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    val W = Window.partitionBy(groupCol)
    val g = df.select(col(groupCol), col(valueCol).as("v"),
        col(weightCol).cast("long").as("w"))
      .groupBy(groupCol, "v").agg(sum("w").as("w"))
    g.withColumn("cw", sum("w").over(W.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum("w").over(W))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy(groupCol)
      .agg(min(col("v")).as("weighted_median"),
        min(col("tw")).as("total_weight"))
      .orderBy(groupCol)
  }

  /** Order-free content-checksum manifest (see
    * `sink_content_checksum`): per `partitionCol` — row count, sum of
    * `keyCol`, and the commutative sum of 28-bit md5 folds of the
    * '|'-joined `contentCols`. Recompute on any copy of the table to
    * prove row-for-row parity without a sorted compare.
    */
  def contentChecksum(df: DataFrame, partitionCol: String, keyCol: String,
                      contentCols: Seq[String]): DataFrame =
    df.withColumn("fold",
        conv(substring(md5(concat_ws("|",
          contentCols.map(c => col(c).cast("string")): _*)), 1, 7), 16, 10)
          .cast("long"))
      .groupBy(partitionCol)
      .agg(count(lit(1)).as("n_rows"),
        sum(col(keyCol)).as("id_checksum"),
        sum(col("fold")).as("content_checksum"))
      .orderBy(partitionCol)

  /** Largest-remainder apportionment of an integer `budget` over
    * per-group weights (see `pipeline_mix_epoch_schedule`): quotas
    * are all-integer and sum to the budget exactly. `weights` carries
    * (group, weight). budget·weight must fit a BIGINT.
    */
  def epochQuotas(weights: DataFrame, groupCol: String, weightCol: String,
                  budget: Long): DataFrame = {
    val W = Window.orderBy(col("rem").desc, col(groupCol))
    val tot = weights.agg(sum(col(weightCol)).as("c_total"))
    val appo = weights.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * $weightCol) DIV c_total"))
      .withColumn("rem", expr(s"($budget * $weightCol) % c_total"))
    val baseSum = appo.agg(sum("base").as("base_sum"))
    appo.crossJoin(broadcast(baseSum))
      .withColumn("rk", row_number().over(W))
      .withColumn("extra",
        when(col("rk") <= lit(budget) - col("base_sum"), 1L).otherwise(0L))
      .select(col(groupCol), col(weightCol),
        (col("base") + col("extra")).as("quota"))
      .orderBy(groupCol)
  }

  /** Balanced downsample audit (see `sample_balanced_downsample`):
    * caps every class at the minority class size by lowest-md5-rank
    * selection on `idCol`; returns the kept row set (add the audit
    * aggregate downstream as the declared key does). Deterministic,
    * order-unbiased, stable across cluster sizes.
    */
  def balancedDownsample(df: DataFrame, classCol: String,
                         idCol: String): DataFrame = {
    val W = Window.partitionBy(classCol).orderBy(col("_u28"), col(idCol))
    val withRank = df.withColumn("_u28",
        conv(substring(md5(col(idCol).cast("string")), 1, 7), 16, 10)
          .cast("long"))
    val cap = withRank.groupBy(classCol).agg(count(lit(1)).as("n"))
      .agg(min("n").as("_cap"))
    withRank.crossJoin(broadcast(cap))
      .withColumn("_rk", row_number().over(W))
      .filter(col("_rk") <= col("_cap"))
      .drop("_u28", "_rk", "_cap")
  }

  /** Per-group Gini concentration (see `agg_gini_concentration`)
    * over integer `valueCol` (use cents for money): rank-sum closed
    * form, exact integers until one r4'd division. `idCol` breaks
    * rank ties deterministically (equal values give the same
    * rank-sum under any tie order, so the tie-break only pins the
    * plan, not the result).
    */
  def giniConcentration(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String): DataFrame = {
    val W = Window.partitionBy(groupCol).orderBy("v", idCol)
    df.select(col(groupCol), col(idCol), col(valueCol).cast("long").as("v"))
      .withColumn("i", row_number().over(W).cast("long"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
        sum(col("i") * col("v")).as("rank_sum"))
      .withColumn("gini", TestData.r4(
        (lit(2L) * col("rank_sum") - (col("n") + 1L) * col("sum_v"))
          .cast("double") / (col("n") * col("sum_v"))))
      .select(col(groupCol), col("n"), col("sum_v"), col("gini"))
      .orderBy(groupCol)
  }

  /** Trailing-window distinct actives (see `events_dau_wau_mau`):
    * per day — distinct `unitCol` over trailing 1 / `midDays` /
    * `longDays` windows plus the short/long stickiness ratio. Exact
    * form (pair-table range join); swap in per-day HLL sketches
    * unioned over the window at extreme scale.
    */
  def activeUnits(events: DataFrame, unitCol: String, tsCol: String,
                  midDays: Int = 7, longDays: Int = 30): DataFrame = {
    require(0 < midDays && midDays <= longDays, "need 0 < mid <= long")
    val ud = events.select(col(unitCol).as("u"),
      to_date(col(tsCol)).as("pday")).distinct()
    val days = ud.select(col("pday").as("day")).distinct()
    val diff = datediff(col("day"), col("pday"))
    ud.join(days, diff.between(0, longDays - 1))
      .groupBy("day")
      .agg(countDistinct(when(diff === 0, col("u"))).as("short_active"),
        countDistinct(when(diff <= midDays - 1, col("u"))).as("mid_active"),
        countDistinct(col("u")).as("long_active"))
      .withColumn("stickiness", TestData.r4(
        col("short_active").cast("double") / col("long_active")))
      .select(col("day").cast("timestamp").as("day"), col("short_active"),
        col("mid_active"), col("long_active"), col("stickiness"))
      .orderBy("day")
  }

  /** Seeded Laplace release of per-group counts (see
    * `privacy_dp_noise`): ε-DP noisy counts in integer micro-units,
    * noise drawn by inverse CDF from an md5-fold uniform seeded on
    * the group value — reproducible; swap the uniform for a CSPRNG
    * draw in production.
    */
  def dpNoisyCounts(df: DataFrame, groupCol: String,
                    epsilon: Double = 1.0): DataFrame = {
    require(epsilon > 0, "epsilon must be positive")
    val u = (conv(substring(md5(col(groupCol).cast("string")), 1, 7), 16, 10)
      .cast("double") + lit(0.5)) / lit(268435456.0)
    val noiseU = floor(
      -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
        / epsilon * 1000000 + 0.5).cast("long")
    df.groupBy(groupCol).agg(count(lit(1)).as("true_count"))
      .withColumn("noise_u", noiseU)
      .withColumn("released_count_u",
        col("true_count") * 1000000L + col("noise_u"))
      .orderBy(groupCol)
  }
  /** Theil T inequality index per group (see `agg_theil_index`):
    * T = (1/n)·Σ (x/μ)·ln(x/μ) over INTEGER `centsCol` values, each
    * order's transcendental term quantized to integer micro-nats
    * BEFORE the order-free sum (the repo's quantize-before-sum rule);
    * group stats broadcast back onto the row stream. Keep
    * centsCol·n below 2^63 (document the bound at your scale).
    */
  def theilIndex(df: DataFrame, groupCol: String,
                 centsCol: String): DataFrame = {
    val o = df.select(col(groupCol).as("g"), col(centsCol).as("cents"))
    val stats = o.groupBy("g").agg(count(lit(1)).as("n"),
      sum("cents").as("s"))
    o.join(broadcast(stats), "g")
      .withColumn("ratio",
        (col("cents") * col("n")).cast("double") / col("s"))
      .withColumn("term_u",
        floor(col("ratio") * log(col("ratio")) * 1000000 + 0.5)
          .cast("long"))
      .groupBy("g")
      .agg(max("n").as("n_rows"), sum("term_u").as("sum_term_u"))
      .withColumn("theil_micro", expr("sum_term_u DIV n_rows"))
      .withColumn("theil", TestData.r4(col("theil_micro") / 1000000.0))
      .select(col("g").as(groupCol), col("n_rows"), col("sum_term_u"),
        col("theil_micro"), col("theil"))
      .orderBy(groupCol)
  }

  /** Benford leading-digit deviation (see `agg_benford_deviation`):
    * observed first-digit shares of `valueCol` vs log10(1+1/d), in
    * integer PPM — the forensic screen for fabricated or truncated
    * numeric columns. Digit via the BIGINT-floored value's string
    * head (no float formatting); requires positive values.
    */
  def benfordDeviation(df: DataFrame, valueCol: String): DataFrame =
    df.select(substring(floor(col(valueCol)).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      .withColumn("n_total", sum("n_obs").over(Window.partitionBy()))
      .withColumn("obs_ppm", expr("n_obs * 1000000 DIV n_total"))
      .withColumn("exp_ppm",
        floor(log10(lit(1.0) + lit(1.0) / col("digit")) * 1000000 + 0.5)
          .cast("long"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .select("digit", "n_obs", "obs_ppm", "exp_ppm", "dev_ppm")
      .orderBy("digit")

  /** Winsorized mean per group (see `agg_winsorized_mean`): clamp
    * INTEGER `centsCol` at the exact p05/p95 order statistics (rank
    * convention rn = (n+1) DIV 20 / 19(n+1) DIV 20, ties broken by
    * `tieCols` — pass a unique key) and average the clamped values;
    * the groups-sized cut table broadcasts back onto the rows.
    */
  def winsorizedMean(df: DataFrame, groupCol: String, centsCol: String,
                     tieCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy((centsCol +: tieCols).map(col): _*)
    val li = df.select((groupCol +: tieCols).map(col)
      :+ col(centsCol).as("cents"): _*)
    val cuts = li
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(groupCol)))
      .groupBy(groupCol)
      .agg(max("n").as("n_rows"),
        max(when(col("rn") === expr("(n + 1) DIV 20"), col("cents")))
          .as("p05"),
        max(when(col("rn") === expr("(19 * (n + 1)) DIV 20"), col("cents")))
          .as("p95"))
    li.join(broadcast(cuts), groupCol)
      .withColumn("clamped",
        greatest(col("p05"), least(col("p95"), col("cents"))))
      .groupBy(groupCol)
      .agg(max("n_rows").as("n_rows"), max("p05").as("p05"),
        max("p95").as("p95"),
        TestData.r4(sum("cents").cast("double") / count(lit(1)))
          .as("mean"),
        TestData.r4(sum("clamped").cast("double") / count(lit(1)))
          .as("winsorized_mean"))
      .orderBy(groupCol)
  }

  /** Type-token richness per doc (see `text_ttr_richness`): TTR and
    * hapax ratio from the (doc, token) aggregate — the vocabulary-
    * richness quality signal. Expects (id, text).
    */
  def ttrRichness(docs: DataFrame): DataFrame =
    docs.select(col("id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(sum("c").as("n_toks"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr",
        TestData.r4(col("n_types").cast("double") / col("n_toks")))
      .withColumn("hapax_ratio",
        TestData.r4(col("n_hapax").cast("double") / col("n_types")))
      .orderBy("id")

  /** N-gram novelty per doc for ARBITRARY n (see `text_ngram_novelty`,
    * which declares n = 3): fraction of the doc's distinct n-grams
    * whose corpus-wide first occurrence (min id) is this doc. Both
    * exchanges are n-gram-sharded. Docs with < n tokens are excluded.
    * Expects (id, text).
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1 && n <= 8, "n-gram order out of range")
    val parts = (0 until n).map(i => s"toks[i+$i]").mkString(", ' ', ")
    val ng = docs.select(col("id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(toks) - $n), i -> concat($parts))"))
        .as("ng"))
      .distinct()
    val first = ng.groupBy("ng").agg(min("id").as("fid"))
    ng.join(first, "ng")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fid") === col("id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        TestData.r4(col("n_novel").cast("double") / col("n_shingles")))
      .orderBy("id")
  }

  /** Degree assortativity of an undirected edge list (src, dst listed
    * once; see `graph_degree_assortativity`): Pearson r of endpoint
    * degrees over the directed view, from five exact BIGINT sums.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val adj = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    adj
      .join(deg.select(col("src").as("sx"), col("deg").as("dx")),
        col("src") === col("sx"))
      .join(deg.select(col("src").as("sy"), col("deg").as("dy")),
        col("dst") === col("sy"))
      .agg(count(lit(1)).as("n_edges_directed"),
        sum("dx").as("sx_"), sum("dy").as("sy_"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .withColumn("assortativity", TestData.r4(
        (col("n_edges_directed") * col("sxy") - col("sx_") * col("sy_"))
          .cast("double")
          / sqrt((col("n_edges_directed") * col("sxx")
              - col("sx_") * col("sx_")).cast("double")
            * (col("n_edges_directed") * col("syy")
              - col("sy_") * col("sy_")).cast("double"))))
      .select("n_edges_directed", "assortativity")
  }

  /** Theil–Sen robust trend of an integer series (see `ts_theil_sen`):
    * median of all pairwise slopes of (`xCol`, `yCol`), slopes
    * quantized via IEEE floor (never integer DIV — engines disagree
    * on negative truncation), median over the DISTINCT quantized
    * slopes. Pair fanout is series², so feed a GRID (hourly/daily
    * aggregate), not raw rows.
    */
  def theilSen(series: DataFrame, xCol: String, yCol: String): DataFrame = {
    val a = series.select(col(xCol).as("x1"), col(yCol).as("y1"))
    val b = series.select(col(xCol).as("x2"), col(yCol).as("y2"))
    val slopes = a.join(b, col("x2") > col("x1"))
      .select(floor((col("y2") - col("y1")) * lit(10000.0)
        / (col("x2") - col("x1")) + lit(0.5)).cast("long").as("slope_q"))
      .groupBy("slope_q").agg(count(lit(1)).as("c"))
    slopes
      .withColumn("m", sum("c").over(Window.partitionBy()))
      .withColumn("cum", sum("c").over(Window.orderBy("slope_q")))
      .filter(col("cum") >= expr("(m + 1) DIV 2"))
      .agg(max("m").as("n_pairs"), min("slope_q").as("slope_med_q"))
      .withColumn("slope_per_unit",
        TestData.r4(col("slope_med_q") / 10000.0))
  }

  /** New-vs-returning split per day (see `events_new_returning`):
    * expects (user_id, ts); first-seen via the user-grain min-day
    * aggregate, no calendar fanout.
    */
  def newReturning(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("pday")).distinct()
    val first = ud.groupBy("user_id").agg(min("pday").as("fday"))
    ud.join(first, "user_id")
      .groupBy(col("pday"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("pday") === col("fday"), 1L).otherwise(0L))
          .as("new_users"))
      .withColumn("returning_users", col("dau") - col("new_users"))
      .withColumn("new_ratio",
        TestData.r4(col("new_users").cast("double") / col("dau")))
      .select(col("pday").cast("timestamp").as("day"), col("dau"),
        col("new_users"), col("returning_users"), col("new_ratio"))
      .orderBy("day")
  }

  /** Weekly churn (see `events_churn_weekly`): expects (user_id, ts);
    * the distinct user-week pair table left-joins itself shifted one
    * week forward. The last week has no successor and reports full
    * churn (right-censoring).
    */
  def churnWeekly(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val nxt = uw.select(col("user_id").as("uid2"),
      (col("wk") - expr("INTERVAL 7 DAYS")).as("wk2"))
    uw.join(nxt,
        col("user_id") === col("uid2") && col("wk") === col("wk2"), "left")
      .groupBy("wk")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("uid2").isNotNull, 1L).otherwise(0L))
          .as("n_retained"))
      .withColumn("n_churned", col("n_active") - col("n_retained"))
      .withColumn("churn_rate",
        TestData.r4(col("n_churned").cast("double") / col("n_active")))
      .select(col("wk").as("week"), col("n_active"), col("n_retained"),
        col("n_churned"), col("churn_rate"))
      .orderBy("week")
  }
  /** Herfindahl–Hirschman concentration per group (see
    * `agg_hhi_concentration`): unit shares of INTEGER `centsCol` in
    * exact PPM, HHI = Σ share_ppm² DIV 1e6 (ANSI-safe by
    * construction: the sum is bounded by (Σ share)² = 1e12), plus
    * the r4'd effective-competitor count. `unitCol` is the
    * market-participant grain (customer, supplier, source).
    * Bound: the per-unit pre-scaling `cents * 1000000` requires each
    * unit's summed `centsCol` to stay below ~9.2e12 (2^63/1e6) or
    * Spark 4 ANSI throws — same convention as theilIndex's
    * "keep centsCol·n below 2^63" note.
    */
  def hhiConcentration(df: DataFrame, groupCol: String, unitCol: String,
                       centsCol: String): DataFrame = {
    val cu = df.groupBy(col(groupCol), col(unitCol))
      .agg(sum(col(centsCol)).as("cents"))
    val stats = cu.groupBy(groupCol).agg(sum("cents").as("s"))
    cu.join(broadcast(stats), groupCol)
      .withColumn("share_ppm", expr("cents * 1000000 DIV s"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_units"),
        expr("sum(share_ppm * share_ppm) DIV 1000000").as("hhi_ppm"))
      .withColumn("effective_n",
        when(col("hhi_ppm") > 0, TestData.r4(lit(1000000.0) / col("hhi_ppm"))))
      .orderBy(groupCol)
  }

  /** Generalization ladder (see `privacy_generalization_ladder`):
    * for each bucket width in `widths` (ascending; plus a final
    * "dropped" level), group by `qiCols` + bucketed `numCol`, and
    * report per level the group count, min group size, k-violations,
    * and whether the level is the MINIMAL compliant one. Widths
    * should each divide the next so the ladder is monotone
    * (ClosedFormProps pins that merging never shrinks groups).
    */
  def generalizationLadder(df: DataFrame, qiCols: Seq[String],
                           numCol: String, widths: Seq[Long],
                           k: Int = 5): DataFrame = {
    require(widths.nonEmpty && k >= 1, "need widths and k >= 1")
    val bucket = widths.zipWithIndex.foldRight(lit(0L)) {
      case ((w, i), rest) =>
        when(col("level") === i, expr(s"$numCol DIV $w")).otherwise(rest)
    }
    val lvls = df
      .select((qiCols.map(col) :+ col(numCol)) :+
        explode(lit((0 to widths.size).toArray)).as("level"): _*)
      .withColumn("bucket", bucket)
    val perGroup = lvls
      .groupBy(("level" +: qiCols :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("gs"))
    perGroup.groupBy("level")
      .agg(count(lit(1)).as("n_groups"),
        min("gs").as("min_group_size"),
        sum(when(col("gs") < k, 1L).otherwise(0L)).as("n_violations"))
      .withColumn("chosen",
        col("n_violations") === 0 &&
          col("level") === min(when(col("n_violations") === 0,
            col("level"))).over(Window.partitionBy()))
      .orderBy("level")
  }

  /** STL-style seasonal strength (see `ts_seasonal_strength`) of an
    * integer series (`xCol` grid index, `yCol` count): centered-mean
    * detrend over ±`trendHalf` grid steps, seasonal = per-(x mod
    * `period`) mean, F_s = max(0, 1 − SS_remainder/SS_detrended)
    * with both sums of squares in the exact n·Σx²−(Σx)² BIGINT form
    * (residuals quantized to integer units first).
    */
  def seasonalStrength(series: DataFrame, xCol: String, yCol: String,
                       period: Int = 24, trendHalf: Int = 12): DataFrame = {
    require(period >= 2 && trendHalf >= 1, "period >= 2, trendHalf >= 1")
    val wT = Window.orderBy(col(xCol)).rangeBetween(-trendHalf, trendHalf)
    val det = series
      .withColumn("trend", sum(col(yCol)).over(wT) / count(lit(1)).over(wT))
      .withColumn("x_", floor(col(yCol) - col("trend") + 0.5).cast("long"))
    val wS = Window.partitionBy(col(xCol) % period)
    val rem = det
      .withColumn("seas", sum(col("x_")).over(wS) / count(lit(1)).over(wS))
      .withColumn("r_", floor(col("x_") - col("seas") + 0.5).cast("long"))
    rem.agg(count(lit(1)).as("n_points"),
        sum("x_").as("sx"), sum(col("x_") * col("x_")).as("sxx"),
        sum("r_").as("sr"), sum(col("r_") * col("r_")).as("srr"))
      .withColumn("ss_detrended",
        col("n_points") * col("sxx") - col("sx") * col("sx"))
      .withColumn("ss_remainder",
        col("n_points") * col("srr") - col("sr") * col("sr"))
      // NULL on a constant detrended series (zero variance), exactly
      // as the declared key does — no engine NaN reaches the output.
      .withColumn("strength", when(col("ss_detrended") > 0,
        TestData.r4(greatest(lit(0.0),
          lit(1.0) - col("ss_remainder").cast("double")
            / col("ss_detrended")))))
      .select("n_points", "ss_detrended", "ss_remainder", "strength")
  }

  /** Peak trailing-window concurrency per key (see
    * `events_concurrency_peak`): fold to the minute grid, RANGE
    * window of `windowMinutes`, earliest-minute tie-break. Expects
    * (`keyCol`, ts).
    */
  def concurrencyPeak(events: DataFrame, keyCol: String,
                      windowMinutes: Int = 30): DataFrame = {
    require(windowMinutes >= 1, "window must be positive")
    val byMin = events
      .groupBy(col(keyCol), expr("unix_micros(ts) DIV 60000000").as("m"))
      .agg(count(lit(1)).as("cnt"))
    val wR = Window.partitionBy(keyCol).orderBy("m")
      .rangeBetween(-(windowMinutes - 1), 0)
    byMin
      .withColumn("conc", sum("cnt").over(wR))
      .withColumn("rk", row_number().over(
        Window.partitionBy(keyCol).orderBy(col("conc").desc, col("m"))))
      .filter(col("rk") === 1)
      .select(col(keyCol),
        timestamp_micros(col("m") * 60000000L).as("peak_minute"),
        col("conc").as("peak_concurrency"))
      .orderBy(keyCol)
  }
  /** Deflate compression-ratio quality signal (see
    * `text_compression_ratio`): per doc, UTF-8 byte count, deflated
    * byte count (one Deflater per partition), and the r4'd ratio —
    * repetitive/boilerplate text compresses far below natural text.
    * Expects (id, text).
    */
  def compressionRatio(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    docs.select(col("id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        rows.map { case (id, text) =>
          val in = text.getBytes("UTF-8")
          (id, in.length.toLong,
            graft.operators.TextAnalysis.deflatedSize(in, deflater, buf))
        }
      }
      .toDF("id", "n_bytes", "n_deflated")
      .withColumn("ratio",
        TestData.r4(col("n_deflated").cast("double") / col("n_bytes")))
      .orderBy("id")
  }

  /** ISO-dow × hour seasonality grid (see `events_seasonality_heatmap`):
    * per cell, events, distinct days hit, and the r4'd average per
    * occurrence; the distinct-day count folds through a (cell, date)
    * pre-aggregate. Expects a `ts` column.
    */
  def seasonalityHeatmap(events: DataFrame): DataFrame = {
    val cellDay = events
      .groupBy(
        expr("(((dayofweek(ts) + 5) % 7) + 1)").as("iso_dow"),
        hour(col("ts")).as("hr"),
        to_date(col("ts")).as("pday"))
      .agg(count(lit(1)).as("n"))
    cellDay.groupBy("iso_dow", "hr")
      .agg(sum("n").as("n_events"), count(lit(1)).as("n_days"))
      .withColumn("avg_per_day",
        TestData.r4(col("n_events").cast("double") / col("n_days")))
      .select("iso_dow", "hr", "n_events", "n_days", "avg_per_day")
      .orderBy("iso_dow", "hr")
  }

  /** Two-group value-distinct cell table shared by [[mannWhitney]]
    * and [[ksTest]]: one row per distinct value of `valueCol` (an
    * already-quantized integer — quantize BEFORE calling, the grid
    * size is the value domain) with per-group counts.
    */
  private def twoGroupCells(df: DataFrame, valueCol: String,
                            groupCol: String, aLabel: String,
                            bLabel: String): DataFrame =
    df.groupBy(col(valueCol).as("x"))
      .agg(sum(when(col(groupCol) === aLabel, 1L).otherwise(0L)).as("cc"),
        sum(when(col(groupCol) === bLabel, 1L).otherwise(0L)).as("ct"))

  /** Mann-Whitney U (see `agg_mann_whitney`): 2×U for group
    * `bLabel`, tie sum Σ(t³−t), and the tie-corrected z — all from
    * the value-distinct grid, never a corpus-grain rank.
    */
  def mannWhitney(df: DataFrame, valueCol: String, groupCol: String,
                  aLabel: String = "control",
                  bLabel: String = "treatment"): DataFrame = {
    val W = Window.orderBy("x")
    twoGroupCells(df, valueCol, groupCol, aLabel, bLabel)
      .withColumn("cum_cc_lt",
        coalesce(sum("cc").over(
          W.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .agg(sum("cc").as("n_control"), sum("ct").as("n_treatment"),
        sum(col("ct") * (lit(2L) * col("cum_cc_lt") + col("cc")))
          .as("u2_treatment"),
        // t³ < 2^63 needs t < 2^21 per cell — overflow mode is an
        // explicit NULL tie_sum/z, never an ANSI throw (key parity).
        sum(when(col("cc") + col("ct") < lit(2097152L),
          (col("cc") + col("ct")) * (col("cc") + col("ct"))
            * (col("cc") + col("ct")) - (col("cc") + col("ct"))))
          .as("tie_raw"),
        max(col("cc") + col("ct")).as("t_max"))
      .withColumn("tie_sum",
        when(col("t_max") < lit(2097152L), col("tie_raw")))
      // N ≤ 1 ⇒ the tie-correction divides by N(N−1) = 0, an ANSI
      // throw in Spark 4 (double x/0 errors under ANSI) but NULL in
      // DuckDB — guard so both engines read NULL var_u ⇒ NULL z.
      .withColumn("var_u",
        when(col("n_control") + col("n_treatment") > 1,
          (col("n_control") * col("n_treatment")).cast("double")
            * ((col("n_control") + col("n_treatment") + 1).cast("double")
              - col("tie_sum").cast("double")
                / ((col("n_control") + col("n_treatment"))
                  * (col("n_control") + col("n_treatment") - 1))
                  .cast("double"))
            / 12.0))
      .withColumn("z", when(col("var_u") > 0, TestData.r4(
        ((col("u2_treatment") - col("n_control") * col("n_treatment"))
          .cast("double") / 2.0) / sqrt(col("var_u")))))
      .select("n_control", "n_treatment", "u2_treatment", "tie_sum", "z")
  }

  /** Two-sample Kolmogorov-Smirnov (see `agg_ks_test`): integer
    * cross-multiplied D numerator over the value grid + asymptotic
    * p-value. Bound: cum·n ≤ n_a·n_b < 2^63.
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             aLabel: String = "control",
             bLabel: String = "treatment"): DataFrame = {
    val W = Window.orderBy("x")
    twoGroupCells(df, valueCol, groupCol, aLabel, bLabel)
      .withColumn("cum_cc", sum("cc").over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_ct", sum("ct").over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_c", sum("cc").over(Window.partitionBy()))
      .withColumn("n_t", sum("ct").over(Window.partitionBy()))
      .agg(max("n_c").as("n_control"), max("n_t").as("n_treatment"),
        max(abs(col("cum_cc") * col("n_t") - col("cum_ct") * col("n_c")))
          .as("d_num"))
      .withColumn("d_stat",
        when(col("n_control") > 0 && col("n_treatment") > 0,
          TestData.r4(col("d_num").cast("double")
            / (col("n_control") * col("n_treatment")).cast("double"))))
      .withColumn("p_approx",
        when(col("n_control") > 0 && col("n_treatment") > 0,
          TestData.r4(least(lit(1.0),
            lit(2.0) * exp(lit(-2.0)
              * pow(col("d_num").cast("double")
                  / (col("n_control") * col("n_treatment"))
                    .cast("double"), 2)
              * (col("n_control") * col("n_treatment")).cast("double")
              / (col("n_control") + col("n_treatment"))
                .cast("double"))))))
      .select("n_control", "n_treatment", "d_num", "d_stat", "p_approx")
  }

  /** Cramér's V (see `agg_cramers_v`): χ² effect size of the
    * `colA` × `colB` association over the FULL grid (zero cells
    * included); per-cell terms micro-quantized before the sum.
    */
  def cramersV(df: DataFrame, colA: String, colB: String): DataFrame = {
    val f = df.select(col(colA).as("ka"), col(colB).as("kb"))
    val cells = f.groupBy("ka", "kb").agg(count(lit(1)).as("cnt"))
    val grid = f.select("ka").distinct()
      .crossJoin(f.select("kb").distinct())
      .join(cells, Seq("ka", "kb"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    grid
      .withColumn("r_i", sum("cnt").over(Window.partitionBy("ka")))
      .withColumn("c_j", sum("cnt").over(Window.partitionBy("kb")))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))
      .withColumn("e", (col("r_i") * col("c_j")).cast("double")
        / col("n").cast("double"))
      .withColumn("term_u", floor(
        (col("cnt").cast("double") - col("e"))
          * (col("cnt").cast("double") - col("e")) / col("e")
          * 1000000 + 0.5).cast("long"))
      .agg(max("n").as("n_rows"), countDistinct("ka").as("n_r"),
        countDistinct("kb").as("n_c"), sum("term_u").as("chi2_micro"))
      // Single-category dimension ⇒ min(r,c)−1 = 0 ⇒ V undefined:
      // NULL, never an ANSI x/0 throw (DegenerateSpec pins).
      .withColumn("cramers_v",
        when(col("n_rows") > 0
          && least(col("n_r") - 1, col("n_c") - 1) > 0,
          TestData.r4(sqrt(
            (col("chi2_micro").cast("double") / 1000000.0)
              / (col("n_rows")
                * least(col("n_r") - 1, col("n_c") - 1))
                .cast("double")))))
      .select("n_rows", "n_r", "n_c", "chi2_micro", "cramers_v")
  }

  /** Spearman ρ per group (see `agg_spearman_rho`) over two
    * integer-quantized columns; rank grids are the value DOMAINS.
    * Bound: 4n³ < 2^63 per group (n ≲ 1.3e6).
    */
  def spearmanRho(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val li = df.select(col(groupCol).as("g"), col(xCol).as("qx"),
      col(yCol).as("qy"))
    val cells = li.groupBy("g", "qx", "qy").agg(count(lit(1)).as("c"))
      .ckpt()
    def marginalRank(valCol: String): DataFrame = {
      val w = Window.partitionBy("g").orderBy(valCol)
      cells.groupBy("g", valCol).agg(sum("c").as("cm"))
        .withColumn("cum_lt", coalesce(sum("cm").over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum("cm").over(Window.partitionBy("g")))
        .withColumn(s"d_$valCol",
          lit(2L) * col("cum_lt") + col("cm") + 1 - (col("n") + 1))
        .select(col("g"), col(valCol), col(s"d_$valCol"))
    }
    cells
      .join(marginalRank("qx"), Seq("g", "qx"))
      .join(marginalRank("qy"), Seq("g", "qy"))
      .groupBy("g")
      .agg(sum("c").as("n"),
        sum(col("c") * col("d_qx") * col("d_qy")).as("sxy"),
        sum(col("c") * col("d_qx") * col("d_qx")).as("sxx"),
        sum(col("c") * col("d_qy") * col("d_qy")).as("syy"))
      .withColumn("rho", when(col("sxx") > 0 && col("syy") > 0,
        TestData.r4(col("sxy").cast("double")
          / sqrt(col("sxx").cast("double") * col("syy").cast("double")))))
      .select(col("g").as(groupCol), col("n"), col("sxy"), col("sxx"),
        col("syy"), col("rho"))
      .orderBy(groupCol)
  }

  /** Spearman ρ with its Fisher-z 95 % CI per group (see
    * `agg_spearman_ci`): z = atanh(ρ) ± 1.96/√(n−3), tanh expressed
    * as (e^{2x}−1)/(e^{2x}+1) on the r4'd ρ — mirrored
    * transcendentals only. |ρ| = 1 or n ≤ 3 reads NULL bounds.
    */
  def spearmanCi(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String): DataFrame = {
    def tanhE(x: Column): Column =
      (exp(lit(2.0) * x) - 1.0) / (exp(lit(2.0) * x) + 1.0)
    spearmanRho(df, groupCol, xCol, yCol)
      .withColumn("zr", when(col("rho").isNotNull
          && abs(col("rho")) < 1.0,
        lit(0.5) * log((lit(1.0) + col("rho"))
          / (lit(1.0) - col("rho")))))
      .withColumn("se", when(col("n") > 3,
        lit(1.0) / sqrt((col("n") - 3).cast("double"))))
      .select(col(groupCol), col("n"), col("rho"),
        when(col("zr").isNotNull && col("se").isNotNull,
          TestData.r4(tanhE(col("zr") - lit(1.959964) * col("se"))))
          .as("ci_lo"),
        when(col("zr").isNotNull && col("se").isNotNull,
          TestData.r4(tanhE(col("zr") + lit(1.959964) * col("se"))))
          .as("ci_hi"))
      .orderBy(groupCol)
  }

  /** Kendall τ-b per group (see `agg_kendall_tau`) over two
    * integer-quantized columns: concordant/discordant counts from a
    * theta self-join of the bounded joint-value grid, tie terms from
    * the marginals. Bound: C, D ≤ n²/2 < 2^63 per group (n ≲ 4.2e9);
    * the (n0−n1)(n0−n2) product multiplies DOUBLES.
    */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String): DataFrame = {
    val li = df.select(col(groupCol).as("g"), col(xCol).as("qx"),
      col(yCol).as("qy"))
    val cells = li.groupBy("g", "qx", "qy").agg(count(lit(1)).as("c"))
      .ckpt()
    val cd = cells.as("a").join(cells.as("b"),
        col("a.g") === col("b.g")
          && col("a.qx") < col("b.qx") && col("a.qy") =!= col("b.qy"))
      .groupBy(col("a.g").as("g"))
      .agg(sum(when(col("a.qy") < col("b.qy"),
          col("a.c") * col("b.c")).otherwise(0L)).as("n_concordant"),
        sum(when(col("a.qy") > col("b.qy"),
          col("a.c") * col("b.c")).otherwise(0L)).as("n_discordant"))
    def tieSum(k: String, out: String): DataFrame =
      cells.groupBy("g", k).agg(sum("c").as("t"))
        .groupBy("g")
        .agg(sum(expr("(t * (t - 1)) DIV 2")).as(out))
    cells.groupBy("g").agg(sum("c").as("n"))
      .join(cd, "g")
      .join(tieSum("qx", "ties_x"), "g")
      .join(tieSum("qy", "ties_y"), "g")
      .withColumn("n0", expr("(n * (n - 1)) DIV 2"))
      .withColumn("tau_b", when(
        col("n0") > col("ties_x") && col("n0") > col("ties_y"),
        TestData.r4((col("n_concordant") - col("n_discordant"))
          .cast("double")
          / sqrt((col("n0") - col("ties_x")).cast("double")
            * (col("n0") - col("ties_y")).cast("double")))))
      .select(col("g").as(groupCol), col("n"), col("n_concordant"),
        col("n_discordant"), col("ties_x"), col("ties_y"), col("tau_b"))
      .orderBy(groupCol)
  }

  /** One-way ANOVA F (see `agg_anova_f`) of an integer `valueCol`
    * across `groupCol` groups, from per-group sufficient statistics.
    * Bounds: Σx² exact while n·max(x)² < 2^63; per-group sx²/n terms
    * whole-unit quantized (mean²·n_g < 9.2e18).
    */
  def anovaF(df: DataFrame, groupCol: String,
             valueCol: String): DataFrame = {
    val g = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_g"), sum(valueCol).as("sx"),
        sum(col(valueCol) * col(valueCol)).as("sxx"))
      .withColumn("t_u", floor(col("sx").cast("double")
        * col("sx").cast("double") / col("n_g").cast("double") + 0.5)
        .cast("long"))
    g.agg(count(lit(1)).as("k_groups"), sum("n_g").as("n_total"),
        sum("sx").as("sum_all"), sum("sxx").as("sxx_all"),
        sum("t_u").as("t_sum_u"))
      .withColumn("ssb", col("t_sum_u").cast("double")
        - col("sum_all").cast("double") * col("sum_all").cast("double")
          / col("n_total").cast("double"))
      .withColumn("ssw",
        col("sxx_all").cast("double") - col("t_sum_u").cast("double"))
      .withColumn("f_stat", when(
        col("ssw") > 0 && col("n_total") > col("k_groups")
          && col("k_groups") > 1,
        TestData.r4((col("ssb") / (col("k_groups") - 1).cast("double"))
          / (col("ssw")
            / (col("n_total") - col("k_groups")).cast("double")))))
      .select(col("k_groups"), col("n_total"), col("t_sum_u"),
        TestData.r4(col("ssb")).as("ssb"),
        TestData.r4(col("ssw")).as("ssw"), col("f_stat"))
  }

  /** Welch's unequal-variance t (see `agg_welch_t`) between the two
    * labelled groups of an integer `valueCol`, via the value-distinct
    * cell grid. Bound: Σx² exact while n·max(x)² < 2^63. Either
    * variance 0 ⇒ NULL t and df.
    */
  def welchT(df: DataFrame, valueCol: String, groupCol: String,
             aLabel: String = "control",
             bLabel: String = "treatment"): DataFrame =
    twoGroupCells(df, valueCol, groupCol, aLabel, bLabel)
      .agg(sum("cc").as("n_c"), sum("ct").as("n_t"),
        sum(col("cc") * col("x")).as("sx_c"),
        sum(col("ct") * col("x")).as("sx_t"),
        sum(col("cc") * col("x") * col("x")).as("sxx_c"),
        sum(col("ct") * col("x") * col("x")).as("sxx_t"))
      // n = 0 / n = 1 guards at DEFINITION, not just at the readout:
      // Spark 4 ANSI throws on double x/0, so the bare division may
      // not even be constructed for a degenerate group (DuckDB reads
      // NULL in the same place — NULL-propagation keeps t/df NULL).
      .withColumn("m_c", when(col("n_c") > 0,
        col("sx_c").cast("double") / col("n_c").cast("double")))
      .withColumn("m_t", when(col("n_t") > 0,
        col("sx_t").cast("double") / col("n_t").cast("double")))
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
      .withColumn("se2", col("v_c") / col("n_c").cast("double")
        + col("v_t") / col("n_t").cast("double"))
      .withColumn("t_stat", when(col("v_c") > 0 && col("v_t") > 0,
        TestData.r4((col("m_t") - col("m_c")) / sqrt(col("se2")))))
      .withColumn("df_welch", when(col("v_c") > 0 && col("v_t") > 0,
        TestData.r4(col("se2") * col("se2")
          / (col("v_c") / col("n_c") * (col("v_c") / col("n_c"))
              / (col("n_c") - 1).cast("double")
            + col("v_t") / col("n_t") * (col("v_t") / col("n_t"))
              / (col("n_t") - 1).cast("double")))))
      .select(col("n_c").as("n_control"), col("n_t").as("n_treatment"),
        when(col("n_c") > 0, TestData.r4(col("m_c"))).as("mean_control"),
        when(col("n_t") > 0, TestData.r4(col("m_t"))).as("mean_treatment"),
        col("t_stat"), col("df_welch"))

  /** PACF at lags 1..3 (see `ts_pacf`) of an integer-valued series
    * ordered by `orderCol` — Durbin–Levinson unrolled over exact
    * BIGINT ACF terms; micro-quantized ratios, degenerate-series
    * guards (constant series / |r1|=1 ⇒ NULLs).
    */
  def pacfLags3(series: DataFrame, orderCol: String,
                valueCol: String): DataFrame = {
    val W = Window.orderBy(orderCol)
    val tot = series.agg(sum(valueCol).as("t_total"),
                         count(lit(1)).as("n_rows"))
    val dv = series.crossJoin(broadcast(tot))
      .withColumn("dev", col(valueCol) * col("n_rows") - col("t_total"))
    val led = (1 to 3).foldLeft(dv) { (df2, k) =>
      df2.withColumn(s"l$k", lead("dev", k).over(W))
    }
    val M = 1000000L
    def ru(k: Int) = when(col("den") > 0,
      floor(col(s"num$k").cast("double") / col("den").cast("double")
        * M + 0.5).cast("long"))
    led.agg(sum(col("dev") * col("dev")).as("den"),
        sum(col("dev") * col("l1")).as("num1"),
        sum(col("dev") * col("l2")).as("num2"),
        sum(col("dev") * col("l3")).as("num3"))
      .withColumn("r1u", ru(1))
      .withColumn("r2u", ru(2))
      .withColumn("r3u", ru(3))
      .withColumn("den22", lit(M * M) - col("r1u") * col("r1u"))
      .withColumn("p22u", when(col("den22") =!= 0, floor(
        (col("r2u") * M - col("r1u") * col("r1u")).cast("double")
          / col("den22").cast("double") * M + 0.5).cast("long")))
      .withColumn("p21u", floor(col("r1u").cast("double")
        * (lit(M) - col("p22u")).cast("double") / (M.toDouble) + 0.5)
        .cast("long"))
      .withColumn("num33", col("r3u") * M
        - col("p21u") * col("r2u") - col("p22u") * col("r1u"))
      .withColumn("den33", lit(M * M)
        - col("p21u") * col("r1u") - col("p22u") * col("r2u"))
      .withColumn("pacf1",
        TestData.r4(col("r1u").cast("double") / M.toDouble))
      .withColumn("pacf2",
        TestData.r4(col("p22u").cast("double") / M.toDouble))
      .withColumn("pacf3", when(col("den33") =!= 0,
        TestData.r4(col("num33").cast("double")
          / col("den33").cast("double"))))
      .select(expr("stack(3, 1, r1u, pacf1, 2, r2u, pacf2, " +
        "3, r3u, pacf3) AS (lag, acf_micro, pacf)"))
      .orderBy("lag")
  }

  /** Cohen's d / Hedges' g (see `agg_cohens_d`) between the two
    * labelled groups of an integer `valueCol`, from the value-
    * distinct cell grid's sufficient statistics. Bound: Σx² exact
    * while n·max(x)² < 2^63. Zero pooled variance ⇒ NULL d and g.
    */
  def cohensD(df: DataFrame, valueCol: String, groupCol: String,
              aLabel: String = "control",
              bLabel: String = "treatment"): DataFrame =
    twoGroupCells(df, valueCol, groupCol, aLabel, bLabel)
      .agg(sum("cc").as("n_c"), sum("ct").as("n_t"),
        sum(col("cc") * col("x")).as("sx_c"),
        sum(col("ct") * col("x")).as("sx_t"),
        sum(col("cc") * col("x") * col("x")).as("sxx_c"),
        sum(col("ct") * col("x") * col("x")).as("sxx_t"))
      // Definition-site ANSI guards: double x/0 throws in Spark 4
      // (NULL in DuckDB) — degenerate groups must NULL-propagate.
      .withColumn("m_c", when(col("n_c") > 0,
        col("sx_c").cast("double") / col("n_c").cast("double")))
      .withColumn("m_t", when(col("n_t") > 0,
        col("sx_t").cast("double") / col("n_t").cast("double")))
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
      .withColumn("ok", col("n_c") > 0 && col("n_t") > 0
        && col("n_c") + col("n_t") > 2)
      .withColumn("cohens_d", when(col("ok") && col("sp2") > 0,
        TestData.r4((col("m_t") - col("m_c")) / sqrt(col("sp2")))))
      .withColumn("hedges_g", when(col("ok") && col("sp2") > 0,
        TestData.r4((col("m_t") - col("m_c")) / sqrt(col("sp2"))
          * (lit(1.0) - lit(3.0)
            / ((col("n_c") + col("n_t")) * 4 - 9).cast("double")))))
      .select(col("n_c").as("n_control"), col("n_t").as("n_treatment"),
        when(col("ok"), TestData.r4(col("sp2"))).as("pooled_var"),
        col("cohens_d"), col("hedges_g"))

  /** Wald–Wolfowitz runs test (see `ts_runs_test`) of an integer
    * series around its exact median: doubled-median order-stat
    * selection, runs via one ordered lag, z from the classical
    * μ/σ² closed forms. Equal-to-median rows drop; a one-sided
    * split (n1·n2 = 0) ⇒ NULL z.
    */
  def runsTest(series: DataFrame, orderCol: String,
               valueCol: String): DataFrame = {
    val base = series.select(col(orderCol).as("hr"),
      col(valueCol).as("n")).ckpt()
    val tot = base.agg(count(lit(1)).as("h_cnt"))
    val med2 = base.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(Window.orderBy("n", "hr")))
      .agg(sum(when(col("rn") === expr("(h_cnt + 1) DIV 2"), col("n"))
          .otherwise(0L)
        + when(col("rn") === expr("(h_cnt + 2) DIV 2"), col("n"))
          .otherwise(0L)).as("med2"))
    base.crossJoin(broadcast(med2))
      .withColumn("sgn", when(col("n") * 2 > col("med2"), 1)
        .when(col("n") * 2 < col("med2"), -1).otherwise(0))
      .filter(col("sgn") =!= 0)
      .withColumn("chg", when(
        lag("sgn", 1).over(Window.orderBy("hr")).isNull
          || lag("sgn", 1).over(Window.orderBy("hr")) =!= col("sgn"),
        1L).otherwise(0L))
      .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_neg"),
        sum("chg").as("n_runs"))
      .withColumn("nn", col("n_pos") + col("n_neg"))
      .withColumn("p2", col("n_pos") * col("n_neg") * 2)
      .withColumn("mu", lit(1.0)
        + col("p2").cast("double") / col("nn").cast("double"))
      .withColumn("var_r", col("p2").cast("double")
        * (col("p2") - col("nn")).cast("double")
        / (col("nn").cast("double") * col("nn").cast("double")
          * (col("nn") - 1).cast("double")))
      .withColumn("z_runs", when(
        col("n_pos") > 0 && col("n_neg") > 0 && col("var_r") > 0,
        TestData.r4((col("n_runs").cast("double") - col("mu"))
          / sqrt(col("var_r")))))
      .select("n_pos", "n_neg", "n_runs", "z_runs")
  }

  /** Single-frequency periodogram amplitudes (see
    * `ts_spectral_peak`) of an integer series at caller-chosen
    * candidate periods over the integer `indexCol` grid. The trig
    * basis is evaluated once driver-side and enters the plan as
    * literal micro-unit lookup arrays — no per-row transcendental.
    * Bound: |dev|·1e6·n_rows < 2^63.
    */
  def spectralPeak(series: DataFrame, indexCol: String,
                   valueCol: String,
                   periods: Seq[Int] = Seq(12, 24, 168)): DataFrame = {
    val tot = series.agg(sum(valueCol).as("t_total"),
                         count(lit(1)).as("n_rows"))
    val dv = series.crossJoin(broadcast(tot))
      .withColumn("dev",
        col(valueCol) * col("n_rows") - col("t_total"))
    def basis(t: Int, f: Double => Double): Column =
      element_at(array(graft.operators.TimeSeries.trigU(t, f)
        .map(lit(_)): _*), (col(indexCol) % t).cast("int") + 1)
    val aggs = periods.flatMap(t => Seq(
      sum(col("dev") * basis(t, math.cos)).as(s"sc$t"),
      sum(col("dev") * basis(t, math.sin)).as(s"ss$t")))
    val stackArgs = periods.map(t => s"$t, sc$t, ss$t").mkString(", ")
    dv.agg(aggs.head, (aggs.tail :+ max("n_rows").as("h_cnt")): _*)
      .select(expr(s"stack(${periods.size}, $stackArgs)" +
        " AS (period, s_cos, s_sin)"), col("h_cnt"))
      .withColumn("amplitude", TestData.r4(
        sqrt(col("s_cos").cast("double") * col("s_cos").cast("double")
          + col("s_sin").cast("double") * col("s_sin").cast("double"))
        * 2.0 / (col("h_cnt").cast("double")
          * col("h_cnt").cast("double") * 1000000.0)))
      .select("period", "s_cos", "s_sin", "amplitude")
      .orderBy("period")
  }

  /** Directed-graph reciprocity (see `graph_reciprocity`): the
    * fraction of (src, dst) edges whose reversal also exists — one
    * self-equi-join on the reversed key pair plus a global
    * aggregate. Edges are assumed distinct.
    */
  def reciprocity(edges: DataFrame, srcCol: String,
                  dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"),
      lit(1L).as("m"))
    e.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"),
        coalesce(sum("m"), lit(0L)).as("n_mutual"))
      .withColumn("reciprocity", TestData.r4(
        col("n_mutual").cast("double") / col("n_edges").cast("double")))
  }

  /** Haberman adjusted standardized residuals per contingency cell
    * (see `agg_contingency_stdres`) — the drill-down behind
    * [[cramersV]]. Full grid (zero cells present), margins via
    * windows over the cell-sized grid; degenerate margins ⇒ NULL.
    */
  def contingencyStdres(df: DataFrame, rowCol: String,
                        colCol: String): DataFrame = {
    val f = df.select(col(rowCol).as("rk"), col(colCol).as("ck"))
    val cells = f.groupBy("rk", "ck").agg(count(lit(1)).as("cnt"))
    val grid = f.select("rk").distinct()
      .crossJoin(f.select("ck").distinct())
      .join(cells, Seq("rk", "ck"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    grid
      .withColumn("r_i", sum("cnt").over(Window.partitionBy("rk")))
      .withColumn("c_j", sum("cnt").over(Window.partitionBy("ck")))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))
      .withColumn("e", (col("r_i") * col("c_j")).cast("double")
        / col("n").cast("double"))
      .withColumn("den2", col("e")
        * (lit(1.0) - col("r_i").cast("double") / col("n").cast("double"))
        * (lit(1.0) - col("c_j").cast("double") / col("n").cast("double")))
      .withColumn("adj_residual", when(col("den2") > 0,
        TestData.r4((col("cnt").cast("double") - col("e"))
          / sqrt(col("den2")))))
      .select(col("rk").as(rowCol), col("ck").as(colCol), col("cnt"),
        TestData.r4(col("e")).as("expected"), col("adj_residual"))
      .orderBy(rowCol, colCol)
  }

  /** Mutual information + normalized MI (see
    * `agg_mutual_information`) between two categorical columns —
    * micro-nat per-term quantization (the entropy/PSI protocol).
    * Bound: cnt·ln(n)·1e6 < 2^63 ⇒ n ≲ 2e11 rows.
    */
  def mutualInformation(df: DataFrame, rowCol: String,
                        colCol: String): DataFrame = {
    val cells = df.select(col(rowCol).as("rk"), col(colCol).as("ck"))
      .groupBy("rk", "ck").agg(count(lit(1)).as("cnt"))
      .withColumn("r_i", sum("cnt").over(Window.partitionBy("rk")))
      .withColumn("c_j", sum("cnt").over(Window.partitionBy("ck")))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))
    val mi = cells
      .withColumn("t_u", floor(col("cnt").cast("double")
        * log(col("n").cast("double") * col("cnt").cast("double")
          / (col("r_i").cast("double") * col("c_j").cast("double")))
        * 1000000 + 0.5).cast("long"))
      .agg(max("n").as("n"), sum("t_u").as("mi_sum_u"))
    def margEnt(k: String, out: String): DataFrame =
      cells.groupBy(col(k)).agg(max("n").as("n"), sum("cnt").as("m"))
        .withColumn("h_u", floor(-(col("m").cast("double")
            / col("n").cast("double"))
          * log(col("m").cast("double") / col("n").cast("double"))
          * 1000000 + 0.5).cast("long"))
        .agg(sum("h_u").as(out))
    mi.crossJoin(margEnt("rk", "hr_u"))
      .crossJoin(margEnt("ck", "hc_u"))
      .withColumn("mi_nats", TestData.r4(col("mi_sum_u").cast("double")
        / (lit(1000000.0) * col("n").cast("double"))))
      .withColumn("h_row", TestData.r4(col("hr_u") / 1000000.0))
      .withColumn("h_col", TestData.r4(col("hc_u") / 1000000.0))
      .withColumn("nmi", when(least(col("hr_u"), col("hc_u")) > 0,
        TestData.r4((col("mi_sum_u").cast("double")
            / (lit(1000000.0) * col("n").cast("double")))
          / (least(col("hr_u"), col("hc_u")).cast("double")
            / 1000000.0))))
      .select("n", "mi_nats", "h_row", "h_col", "nmi")
  }

  /** Stationary distribution of a first-order Markov chain (see
    * `events_markov_stationary`) from raw transition rows (fromCol,
    * toCol — one row per observed transition): micro-unit
    * row-stochastic matrix, `rounds` fixed synchronous power-
    * iteration rounds from uniform with a DIV renormalization per
    * round. Bound-free at any state count (Σπ = 1e6, p ≤ 1e6 ⇒
    * every product sum ≤ 1e12).
    */
  def markovStationary(transitions: DataFrame, fromCol: String,
                       toCol: String, rounds: Int = 3): DataFrame = {
    val tr = transitions
      .select(col(fromCol).as("from_s"), col(toCol).as("to_s"))
      .groupBy("from_s", "to_s").agg(count(lit(1)).as("c"))
    val p = tr
      .withColumn("rt", sum("c").over(Window.partitionBy("from_s")))
      .withColumn("p_u", expr("(c * 1000000) DIV rt"))
      .select("from_s", "to_s", "p_u")
      .ckpt()
    val states = transitions
      .select(col(fromCol).as("state"))
      .union(transitions.select(col(toCol).as("state")))
      .distinct().ckpt()
    val k = states.agg(count(lit(1)).as("k"))
    var pi = states.crossJoin(broadcast(k))
      .select(col("state"), expr("1000000 DIV k").as("pi"))
    for (_ <- 1 to rounds) {
      val raw = states.join(
          pi.withColumnRenamed("state", "from_s")
            .join(p, "from_s")
            .groupBy(col("to_s").as("state"))
            .agg(sum(col("pi") * col("p_u")).as("r")),
          Seq("state"), "left")
        .select(col("state"), coalesce(col("r"), lit(0L)).as("r"))
      val tot = raw.agg(sum("r").as("tr"))
      pi = raw.crossJoin(broadcast(tot))
        .select(col("state"),
          expr("CASE WHEN tr > 0 THEN r * 1000000 DIV tr" +
            " ELSE CAST(0 AS BIGINT) END").as("pi"))
        .ckpt()
    }
    pi.select(col("state"), col("pi").as("pi_micro")).orderBy("state")
  }

  /** Signed-random-projection LSH signatures (see
    * `vec_hyperplane_lsh`): `nPlanes` sign bits against fixed ±1
    * hyperplanes from the library's seeded driver-side generator;
    * dots quantized ×1e4 before the strict sign test.
    */
  def hyperplaneLsh(df: DataFrame, idCol: String, vecCol: String,
                    nPlanes: Int = 16, dim: Int = 64): DataFrame = {
    val sig = graft.operators.Vectors.srpPlanes(nPlanes, dim)
      .zipWithIndex.map { case (pl, i) =>
        val plArr = array(pl.map(v => lit(v.toDouble)): _*)
        when(floor(graft.functions.VectorOps.dot(col(vecCol), plArr)
          * 10000 + 0.5) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    df.select(col(idCol), sig.as("sig16")).orderBy(idCol)
  }

  /** Neyman (variance-optimal) stratified allocation (see
    * `sample_neyman_allocation`) of an integer `budget` across the
    * strata of an integer-valued column: allocation ∝ N_h·S_h with
    * exact Hamilton largest-remainder rounding (Σ = budget exactly).
    * Bound: n·max(x)² < 2^63 per stratum — pre-scale the value
    * column accordingly.
    */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       valueCol: String, budget: Long): DataFrame = {
    val W = Window.orderBy(col("rem").desc, col(stratumCol))
    val st = df
      .groupBy(stratumCol)
      .agg(count(lit(1)).as("n_h"), sum(valueCol).as("sx"),
        sum(col(valueCol) * col(valueCol)).as("sxx"))
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
        when(col("rk") <= lit(budget) - col("base_sum"), 1L)
          .otherwise(0L))
      .select(col(stratumCol), col("n_h"),
        TestData.r4(col("s_units")).as("s_units"), col("w_u"),
        (col("base") + col("extra")).as("n_alloc"))
      .orderBy(stratumCol)
  }

  /** Nearest-standard-aspect-ratio bucketing (see
    * `multimodal_aspect_bucket`): all-integer 720ths ratio, 5-row
    * anchor rank per item, per-bucket count + average dims.
    */
  def aspectBucket(df: DataFrame, idCol: String, widthCol: String,
                   heightCol: String): DataFrame = {
    import df.sparkSession.implicits._
    val anchors = Seq((405L, "9:16"), (540L, "3:4"), (720L, "1:1"),
      (960L, "4:3"), (1280L, "16:9")).toDF("anchor", "bucket")
    val W = Window.partitionBy("gid")
      .orderBy(abs(col("ar_u") - col("anchor")), col("anchor"))
    df.select(col(idCol).as("gid"),
        col(widthCol).cast("long").as("w"),
        col(heightCol).cast("long").as("h"))
      .withColumn("ar_u", expr("(w * 720) DIV h"))
      .crossJoin(broadcast(anchors))
      .withColumn("rn", row_number().over(W))
      .filter(col("rn") === 1)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_images"),
        sum("w").as("sw"), sum("h").as("sh"))
      .withColumn("avg_width",
        TestData.r4(col("sw").cast("double") / col("n_images")))
      .withColumn("avg_height",
        TestData.r4(col("sh").cast("double") / col("n_images")))
      .select("bucket", "n_images", "avg_width", "avg_height")
      .orderBy("bucket")
  }

  /** Conditional bigram entropy H(w₂|w₁) per group (see
    * `text_conditional_entropy`) over a space-tokenized text column
    * — micro-nat per-term quantization, vocabulary-shaped joins.
    */
  def conditionalEntropy(df: DataFrame, groupCol: String,
                         textCol: String): DataFrame = {
    val bi = df
      .withColumn("toks", split(col(textCol), " "))
      .filter(size(col("toks")) >= 2)
      .select(col(groupCol).as("g"), explode(expr(
        "transform(sequence(0, size(toks)-2)," +
          " i -> concat(toks[i], ' ', toks[i+1]))")).as("bg"))
      .groupBy("g", "bg").agg(count(lit(1)).as("c_b"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val marg = bi.groupBy("g", "w1").agg(sum("c_b").as("c_1"))
    bi.join(marg, Seq("g", "w1"))
      .withColumn("t_u", floor(col("c_b").cast("double")
        * log(col("c_1").cast("double") / col("c_b").cast("double"))
        * 1000000 + 0.5).cast("long"))
      .groupBy("g")
      .agg(sum("c_b").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        sum("t_u").as("h_sum_u"))
      .withColumn("cond_entropy_nats", TestData.r4(
        col("h_sum_u").cast("double")
          / (lit(1000000.0) * col("n_bigrams").cast("double"))))
      .select(col("g").as(groupCol), col("n_bigrams"),
        col("n_distinct_bigrams"), col("cond_entropy_nats"))
      .orderBy(groupCol)
  }

  /** Mann-Kendall trend test (see `ts_mann_kendall`) over an
    * integer series (`xCol` grid index, `yCol` value): S from the
    * grid² pair join, tie-corrected variance, continuity-corrected
    * z. Grid-sized, never corpus-sized.
    */
  def mannKendall(series: DataFrame, xCol: String,
                  yCol: String): DataFrame = {
    val a = series.select(col(xCol).as("xh"), col(yCol).as("n"))
      .ckpt()
    val b = a.select(col("xh").as("x2"), col("n").as("n2"))
    val sPairs = a.join(b, col("x2") > col("xh"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(signum(col("n2") - col("n")).cast("long")).as("s_stat"))
    val ties = a.groupBy("n").agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
             .as("tie_term"),
           sum("t").as("n_points"))
    sPairs.crossJoin(ties)
      .withColumn("var_num",
        col("n_points") * (col("n_points") - 1)
          * (lit(2L) * col("n_points") + 5) - col("tie_term"))
      .withColumn("z", when(col("var_num") > 0, TestData.r4(
        (col("s_stat") - signum(col("s_stat")).cast("long")).cast("double")
          / sqrt(col("var_num").cast("double") / 18.0))))
      .select("n_points", "n_pairs", "s_stat", "tie_term", "var_num", "z")
  }

  /** Kaplan-Meier estimator (see `events_survival_km`) over a
    * durations table (`durCol` integer time, `eventCol` 1 = event /
    * 0 = right-censored): risk sets from cumulative sums over the
    * distinct-duration grid, micro-nat ln terms, exact-zero tail.
    */
  def kaplanMeier(durations: DataFrame, durCol: String,
                  eventCol: String): DataFrame = {
    val risk = durations
      .select(col(durCol).as("dur"), col(eventCol).cast("long").as("ev"))
      .groupBy("dur")
      .agg(sum("ev").as("d_t"), sum(lit(1L) - col("ev")).as("c_t"))
      .withColumn("n_total",
        sum(col("d_t") + col("c_t")).over(Window.partitionBy()))
      .withColumn("n_risk", col("n_total")
        - coalesce(sum(col("d_t") + col("c_t")).over(
            Window.orderBy("dur")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    risk.filter(col("d_t") > 0)
      .withColumn("term_u", when(col("n_risk") > col("d_t"),
        floor(log((col("n_risk") - col("d_t")).cast("double")
          / col("n_risk").cast("double")) * 1000000 + 0.5).cast("long")))
      .withColumn("zero_flag",
        max(when(col("n_risk") === col("d_t"), 1).otherwise(0)).over(
          Window.orderBy("dur")
            .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_u", sum("term_u").over(
        Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("survival", when(col("zero_flag") === 1, lit(0.0))
        .otherwise(TestData.r4(exp(col("cum_u") / 1000000.0))))
      .select(col("dur").as("t"), col("n_risk"),
        col("d_t").as("n_events"), col("c_t").as("n_censored"),
        col("survival"))
      .orderBy("t")
  }

  /** Goh-Barabási burstiness per group (see `events_burstiness`)
    * over a pre-computed integer gap table: B = (σ−μ)/(σ+μ) + CV
    * from the exact n·Σx²−(Σx)² closed form. Bound: n·gap² < 2^63.
    */
  def burstiness(gaps: DataFrame, groupCol: String,
                 gapCol: String): DataFrame =
    gaps.select(col(groupCol).as("g"), col(gapCol).as("gap"))
      .filter(col("gap").isNotNull)
      .groupBy("g")
      .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sx"),
        sum(col("gap") * col("gap")).as("sxx"))
      .filter(col("n_gaps") >= 2)
      .withColumn("mu", col("sx").cast("double") / col("n_gaps"))
      .withColumn("sigma", sqrt(
        (col("n_gaps") * col("sxx") - col("sx") * col("sx")).cast("double")
          / (col("n_gaps") * (col("n_gaps") - 1)).cast("double")))
      .withColumn("burstiness", when(col("sigma") + col("mu") > 0,
        TestData.r4((col("sigma") - col("mu"))
          / (col("sigma") + col("mu")))))
      .withColumn("cv", when(col("mu") > 0,
        TestData.r4(col("sigma") / col("mu"))))
      .select(col("g").as(groupCol), col("n_gaps"), col("sx"), col("sxx"),
        TestData.r4(col("mu")).as("mean_gap"), col("burstiness"),
        col("cv"))
      .orderBy(groupCol)

  /** Level-shift scan (see `ts_level_shift`): top-`topK` step
    * changes of an integer series by |next-`window` mean −
    * prior-`window` mean|, full occupied windows only.
    */
  def levelShift(series: DataFrame, xCol: String, yCol: String,
                 window: Int = 24, topK: Int = 5): DataFrame = {
    require(window >= 1 && topK >= 1, "window and topK must be positive")
    val wL = Window.orderBy(xCol).rangeBetween(-window, -1)
    val wR = Window.orderBy(xCol).rangeBetween(0, window - 1)
    series
      .withColumn("sum_l", sum(col(yCol)).over(wL))
      .withColumn("cnt_l", count(lit(1)).over(wL))
      .withColumn("sum_r", sum(col(yCol)).over(wR))
      .withColumn("cnt_r", count(lit(1)).over(wR))
      .filter(col("cnt_l") === window && col("cnt_r") === window)
      .withColumn("shift_q", floor(
        (col("sum_r").cast("double") / window
          - col("sum_l").cast("double") / window) * 10000 + 0.5)
        .cast("long"))
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("shift_q")).desc, col(xCol))))
      .filter(col("rk") <= topK)
      .select(col("rk"), col(xCol),
        TestData.r4(col("sum_l") / window.toDouble).as("pre_mean"),
        TestData.r4(col("sum_r") / window.toDouble).as("post_mean"),
        TestData.r4(col("shift_q") / 10000.0).as("shift"))
      .orderBy("rk")
  }

  /** Local clustering coefficient (see `graph_clustering_coeff`)
    * over `nodes` (one `id` column) and an undirected `pairs`
    * (src, dst) edge list (each edge once, src < dst).
    */
  def clusteringCoefficient(nodes: DataFrame,
                            pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("src").as("a"), col("dst").as("b"))
    val adj = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val a2 = adj.select(col("src").as("src2"), col("dst").as("dst2"))
    val tri = adj
      .join(a2, col("src") === col("src2") && col("dst") < col("dst2"))
      .join(edges, col("dst") === col("a") && col("dst2") === col("b"))
      .groupBy(col("src").as("v")).agg(count(lit(1)).as("n_tri"))
    nodes.select(col("id"))
      .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .join(tri.withColumnRenamed("v", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc", when(col("deg") >= 2,
        TestData.r4((lit(2L) * col("n_tri")).cast("double")
          / (col("deg") * (col("deg") - 1)).cast("double"))))
      .orderBy("id")
  }

  /** HITS hubs/authorities (see `graph_hits`): `rounds` fixed
    * synchronous rounds over a DIRECTED (src, dst) edge list,
    * integer micro-unit scores, L1 normalization per half-round.
    */
  def hits(nodes: DataFrame, edges: DataFrame,
           rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    val e = edges.select(col("src"), col("dst")).ckpt()
    val n = nodes.select(col("id"))
    var hub = n.select(col("id"), lit(1000000L).as("h"))
    var auth = n.select(col("id"), lit(0L).as("a"))
    for (_ <- 1 to rounds) {
      val araw = n.join(
          hub.withColumnRenamed("id", "src").join(e, "src")
            .groupBy(col("dst").as("id")).agg(sum("h").as("ar")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("ar"), lit(0L)).as("ar"))
      val sa = araw.agg(sum("ar").as("sa"))
      auth = araw.crossJoin(broadcast(sa))
        .select(col("id"), expr("ar * 1000000 DIV sa").as("a"))
        .ckpt()
      val hraw = n.join(
          auth.withColumnRenamed("id", "dst").join(e, "dst")
            .groupBy(col("src").as("id")).agg(sum("a").as("hr")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("hr"), lit(0L)).as("hr"))
      val sh = hraw.agg(sum("hr").as("sh"))
      hub = hraw.crossJoin(broadcast(sh))
        .select(col("id"), expr("hr * 1000000 DIV sh").as("h"))
        .ckpt()
    }
    hub.join(auth, "id")
      .select(col("id"), col("h").as("hub_u"), col("a").as("auth_u"))
      .orderBy("id")
  }

  /** Centroid silhouette (see `ann_centroid_silhouette`) of
    * `vectors` (id, embedding) against `cents` (cid, cv):
    * micro-quantized distances, (b−a)/max(a,b).
    */
  def centroidSilhouette(vectors: DataFrame,
                         cents: DataFrame): DataFrame = {
    val dists = vectors.select(col("id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("d_u",
        floor(sqrt(V.sqDist(col("embedding"), col("cv"))) * 1000000
          + 0.5).cast("long"))
      .select("id", "cid", "d_u")
      .ckpt()
    val own = dists.groupBy("id")
      .agg(min(struct(col("d_u"), col("cid"))).as("m"))
      .select(col("id"), col("m.cid").as("cluster"),
        col("m.d_u").as("a_u"))
    dists.join(own, "id")
      .filter(col("cid") =!= col("cluster"))
      .groupBy("id", "cluster", "a_u")
      .agg(min("d_u").as("b_u"))
      .withColumn("sil", when(greatest(col("a_u"), col("b_u")) > 0,
        TestData.r4((col("b_u") - col("a_u")).cast("double")
          / greatest(col("a_u"), col("b_u")).cast("double")))
        .otherwise(lit(0.0)))
      .select("id", "cluster", "a_u", "b_u", "sil")
      .orderBy("id")
  }

  /** k-anonymity suppression cost curve (see
    * `privacy_suppression_curve`) over caller QI columns at the
    * given `ks` thresholds (group-grain explode, never corpus).
    */
  def suppressionCurve(df: DataFrame, qiCols: Seq[String],
                       ks: Seq[Int] = Seq(2, 5, 10, 20)): DataFrame = {
    require(qiCols.nonEmpty && ks.nonEmpty, "need QI columns and ks")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("gs"))
      .select(col("gs"), explode(lit(ks.toArray)).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("gs") < col("k"), 1L).otherwise(0L))
          .as("n_small_groups"),
        sum(when(col("gs") < col("k"), col("gs")).otherwise(0L))
          .as("n_suppressed"),
        sum("gs").as("n_rows"))
      .withColumn("suppressed_frac",
        TestData.r4(col("n_suppressed").cast("double") / col("n_rows")))
      .orderBy("k")
  }

  /** Deterministic Poisson-bootstrap CI (see `sample_bootstrap_ci`)
    * for the mean of integer `valueCol`, seeded by md5(`keyCol`)
    * with per-replicate multiplicative remix; `b` replicates.
    */
  def bootstrapCi(df: DataFrame, keyCol: String, valueCol: String,
                  b: Int = 32): DataFrame = {
    require(b >= 2 && b <= 1000, "need 2..1000 replicates")
    val o = df.select(col(keyCol).as("k"), col(valueCol).as("v"))
    val u = (((col("h28") * (lit(2654435761L) + col("b") * lit(96542L)))
      % 268435456L).cast("double") + lit(0.5)) / lit(268435456.0)
    val pois = when(u < 0.3678794412, 0L).when(u < 0.7357588823, 1L)
      .when(u < 0.9196986029, 2L).when(u < 0.9810118431, 3L)
      .when(u < 0.9963401532, 4L).when(u < 0.9994058152, 5L)
      .when(u < 0.9999167589, 6L).when(u < 0.9999897508, 7L)
      .otherwise(8L)
    val reps = o
      .withColumn("h28",
        conv(substring(md5(col("k").cast("string")), 1, 7), 16, 10)
          .cast("long"))
      .select(col("k"), col("v"), col("h28"),
        explode(lit((0 until b).toArray)).as("b"))
      .withColumn("w", pois)
      .groupBy("b")
      .agg(sum("w").as("n_eff"), sum(col("w") * col("v")).as("wsum"))
      .filter(col("n_eff") > 0)
      .withColumn("mean_q", floor(col("wsum").cast("double")
        / col("n_eff").cast("double") * 10000 + 0.5).cast("long"))
    val boot = reps
      .withColumn("rn", row_number().over(Window.orderBy("mean_q", "b")))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy()))
      .agg(max("nb").as("b_replicates"),
        max(when(col("rn") === expr("(nb + 1) DIV 20"), col("mean_q")))
          .as("lo_q"),
        max(when(col("rn") === expr("(19 * (nb + 1)) DIV 20"),
          col("mean_q"))).as("hi_q"))
    val point = o.agg(count(lit(1)).as("n_rows"),
      TestData.r4(sum("v").cast("double") / count(lit(1))).as("mean"))
    point.crossJoin(boot)
      .withColumn("boot_lo", TestData.r4(col("lo_q") / 10000.0))
      .withColumn("boot_hi", TestData.r4(col("hi_q") / 10000.0))
      .select("n_rows", "mean", "b_replicates", "boot_lo", "boot_hi")
  }

  /** Flesch readability (see `text_readability`) of (`id`, `text`)
    * rows: re-token words, [.!?]+ sentence runs (floor 1),
    * vowel-group syllables (floor 1 per word), r4'd score.
    */
  def readability(docs: DataFrame): DataFrame = {
    val words = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
    docs
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_sentences", greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long")))
      .withColumn("n_syllables", aggregate(
        transform(words, w => greatest(lit(1),
          size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))))),
        lit(0L), (acc, x) => acc + x))
      .filter(col("n_words") > 0)
      .withColumn("flesch", TestData.r4(lit(206.835)
        - lit(1.015) * (col("n_words").cast("double")
          / col("n_sentences").cast("double"))
        - lit(84.6) * (col("n_syllables").cast("double")
          / col("n_words").cast("double"))))
      .select("id", "n_words", "n_sentences", "n_syllables", "flesch")
      .orderBy("id")
  }

  /** Yule's K per group (see `text_yule_k`) of (`groupCol`, `text`)
    * rows: K = 10⁴·(Σf²−N)/N² over the token frequency spectrum.
    */
  def yuleK(docs: DataFrame, groupCol: String): DataFrame =
    docs.select(col(groupCol).as("g"),
        explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
          .as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("f"))
      .groupBy("g")
      .agg(sum("f").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("f") * col("f")).as("s2"))
      .withColumn("yule_k", TestData.r4(lit(10000.0)
        * (col("s2") - col("n_tokens")).cast("double")
        / (col("n_tokens").cast("double")
          * col("n_tokens").cast("double"))))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_types"),
        col("s2"), col("yule_k"))
      .orderBy(groupCol)

  /** Shared rank-convention cut table for [[tukeyFences]] /
    * [[trimmedMean]]: exact order statistics of integer `valueCol`
    * per `groupCol` at ranks (n+1)·num DIV den, stable tie-break on
    * `tieCols`.
    */
  private def rankCut(df: DataFrame, groupCol: String, valueCol: String,
                      tieCols: Seq[String], loNum: Int, hiNum: Int,
                      den: Int): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy((valueCol +: tieCols).map(col): _*)
    df.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(groupCol)))
      .groupBy(groupCol)
      .agg(max("n").as("n_rows"),
        max(when(col("rn") === expr(s"($loNum * (n + 1)) DIV $den"),
          col(valueCol))).as("lo_cut"),
        max(when(col("rn") === expr(s"($hiNum * (n + 1)) DIV $den"),
          col(valueCol))).as("hi_cut"))
  }

  /** Tukey boxplot fences (see `agg_tukey_fences`): exact q1/q3,
    * 1.5·IQR fences compared in DOUBLED units (all-integer), and
    * the outlier counts per group.
    */
  def tukeyFences(df: DataFrame, groupCol: String, valueCol: String,
                  tieCols: Seq[String]): DataFrame = {
    val cuts = rankCut(df, groupCol, valueCol, tieCols, 1, 3, 4)
      .withColumnRenamed("lo_cut", "q1").withColumnRenamed("hi_cut", "q3")
      .withColumn("iqr", col("q3") - col("q1"))
    df.join(broadcast(cuts), groupCol)
      .groupBy(groupCol)
      .agg(max("n_rows").as("n_rows"), max("q1").as("q1"),
        max("q3").as("q3"), max("iqr").as("iqr"),
        sum(when(lit(2L) * col(valueCol)
          < lit(2L) * col("q1") - lit(3L) * col("iqr"), 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(lit(2L) * col(valueCol)
          > lit(2L) * col("q3") + lit(3L) * col("iqr"), 1L)
          .otherwise(0L)).as("n_high"))
      .withColumn("outlier_frac", TestData.r4(
        (col("n_low") + col("n_high")).cast("double") / col("n_rows")))
      .orderBy(groupCol)
  }

  /** Trimmed mean (see `agg_trimmed_mean`): drop outside the exact
    * p05/p95 order statistics, mean of the kept rows.
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  tieCols: Seq[String]): DataFrame = {
    val cuts = rankCut(df, groupCol, valueCol, tieCols, 1, 19, 20)
    df.join(broadcast(cuts), groupCol)
      .groupBy(groupCol)
      .agg(max("n_rows").as("n_rows"),
        max("lo_cut").as("p05"), max("hi_cut").as("p95"),
        sum(when(col(valueCol).between(col("lo_cut"), col("hi_cut")), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col(valueCol).between(col("lo_cut"), col("hi_cut")),
          col(valueCol)).otherwise(0L)).as("kept_sum"),
        TestData.r4(sum(valueCol).cast("double") / count(lit(1)))
          .as("mean"))
      .withColumn("trimmed_mean",
        TestData.r4(col("kept_sum").cast("double") / col("n_kept")))
      .orderBy(groupCol)
  }

  /** Ljung-Box Q (see `ts_ljung_box`) of an integer series already
    * aggregated to (`xCol` order key, `yCol` count): exact-integer
    * ACF terms, one mirrored `lags`-term expression.
    */
  def ljungBox(series: DataFrame, xCol: String, yCol: String,
               lags: Int = 12): DataFrame = {
    require(lags >= 1 && lags <= 48, "1..48 lags")
    val W = Window.orderBy(xCol)
    val tot = series.agg(sum(yCol).as("t_total"),
      count(lit(1)).as("n_points"))
    val dv = series.crossJoin(broadcast(tot))
      .withColumn("dev", col(yCol) * col("n_points") - col("t_total"))
    val led = (1 to lags).foldLeft(dv) { (df, k) =>
      df.withColumn(s"l$k", lead("dev", k).over(W))
    }
    val aggs = (max("n_points").as("n_points") +:
      sum(col("dev") * col("dev")).as("den") +:
      (1 to lags).map(k => sum(col("dev") * col(s"l$k")).as(s"num$k")))
    val q = (col("n_points") * (col("n_points") + 2)).cast("double") *
      (1 to lags).map(k =>
        pow(col(s"num$k").cast("double") / col("den").cast("double"), 2)
          / (col("n_points") - k).cast("double")).reduce(_ + _)
    // Constant-series guard: den = 0 ⇒ NULL q (never NaN) — the
    // ts_pacf den>0 discipline, mirrored in the declared key.
    led.agg(aggs.head, aggs.tail: _*)
      .withColumn("q_stat", when(col("den") > 0, TestData.r4(q)))
      .select("n_points", "den", "q_stat")
  }

  /** Seasonal anomaly scan (see `ts_seasonal_anomaly`): hours whose
    * detrended+deseasonalized residual exceeds `zTenThousandths`
    * ×MAD/10⁴ of the residual median (default 44478 = 3·1.4826·10⁴).
    */
  def seasonalAnomaly(series: DataFrame, xCol: String, yCol: String,
                      period: Int = 24, trendHalf: Int = 12,
                      zTenThousandths: Long = 44478L): DataFrame = {
    require(period >= 2 && trendHalf >= 1, "period >= 2, trendHalf >= 1")
    val wT = Window.orderBy(col(xCol)).rangeBetween(-trendHalf, trendHalf)
    val det = series
      .withColumn("trend",
        sum(col(yCol)).over(wT) / count(lit(1)).over(wT))
      .withColumn("r_u",
        floor((col(yCol) - col("trend")) * 1000000 + 0.5).cast("long"))
    val wS = Window.partitionBy(col(xCol) % period)
    val resid = det
      .withColumn("seas", sum(col("r_u")).over(wS) / count(lit(1)).over(wS))
      .withColumn("r2_u", floor(col("r_u") - col("seas") + 0.5).cast("long"))
      .select(col(xCol), col(yCol), col("r2_u"))
      .ckpt()
    def rankStat(df: DataFrame, valCol: String): DataFrame =
      df.withColumn("rn", row_number().over(
          Window.orderBy(col(valCol), col(xCol))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .agg(max(when(col("rn") === expr("(n + 1) DIV 2"), col(valCol)))
          .as("stat"))
    val med = rankStat(resid, "r2_u")
    val withMed = resid.crossJoin(broadcast(med))
      .withColumn("adev", abs(col("r2_u") - col("stat")))
    val mad = rankStat(withMed.select(col(xCol), col("adev")), "adev")
      .withColumnRenamed("stat", "mad_u")
    withMed.crossJoin(broadcast(mad))
      .filter(col("mad_u") > 0 &&
        col("adev") * 10000 > lit(zTenThousandths) * col("mad_u"))
      .select(col(xCol), col(yCol), col("r2_u"),
        col("stat").as("med_u"), col("mad_u"))
      .orderBy(xCol)
  }

  /** Markov transition entropy (see `events_transition_entropy`)
    * over a (`fromCol`, `toCol`) pair table: per from-state, the
    * micro-nat-quantized Shannon entropy of the next distribution.
    */
  def transitionEntropy(pairs: DataFrame, fromCol: String,
                        toCol: String): DataFrame = {
    val c = pairs.groupBy(col(fromCol).as("f"), col(toCol).as("t"))
      .agg(count(lit(1)).as("c"))
    val tot = c.groupBy("f")
      .agg(sum("c").as("n_transitions"), count(lit(1)).as("n_to"))
    c.join(broadcast(tot), "f")
      .withColumn("p", col("c").cast("double")
        / col("n_transitions").cast("double"))
      .withColumn("term_u",
        floor(-(col("p") * log(col("p"))) * 1000000 + 0.5).cast("long"))
      .groupBy("f")
      .agg(max("n_transitions").as("n_transitions"),
        max("n_to").as("n_to"), sum("term_u").as("entropy_micro"))
      .withColumn("entropy", TestData.r4(col("entropy_micro") / 1000000.0))
      .select(col("f").as(fromCol), col("n_transitions"), col("n_to"),
        col("entropy_micro"), col("entropy"))
      .orderBy(fromCol)
  }

  /** Per-doc character entropy (see `text_char_entropy`) of
    * (`id`, `text`) rows, micro-nat terms quantized before the sum.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val ch = docs.select(col("id"),
        explode(regexp_extract_all(col("text"), lit("."), lit(0)))
          .as("ch"))
      .groupBy("id", "ch").agg(count(lit(1)).as("c"))
    val tot = ch.groupBy("id")
      .agg(sum("c").as("n_chars_seen"), count(lit(1)).as("n_distinct"))
    ch.join(tot, "id")
      .withColumn("p", col("c").cast("double")
        / col("n_chars_seen").cast("double"))
      .withColumn("term_u",
        floor(-(col("p") * log(col("p"))) * 1000000 + 0.5).cast("long"))
      .groupBy("id")
      .agg(max("n_chars_seen").as("n_chars_seen"),
        max("n_distinct").as("n_distinct"),
        sum("term_u").as("entropy_micro"))
      .withColumn("entropy", TestData.r4(col("entropy_micro") / 1000000.0))
      .orderBy("id")
  }

  /** 2-level residual quantizer encode (see `vec_residual_quantize`)
    * of `vectors` (id, embedding DOUBLE[]) against `coarse`
    * (cid, cv) and residual codebook `resid` (cid, cv).
    */
  def residualQuantize(vectors: DataFrame, coarse: DataFrame,
                       resid: DataFrame): DataFrame = {
    val c1 = coarse.select(col("cid").as("c1"), col("cv").as("cv1"))
    val c2 = resid.select(col("cid").as("c2"), col("cv").as("cv2"))
    val a1 = vectors.select(col("id"), col("embedding"))
      .crossJoin(broadcast(c1))
      .withColumn("d1_u",
        floor(V.sqDist(col("embedding"), col("cv1")) * 1000000 + 0.5)
          .cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy("d1_u", "c1")))
      .filter(col("rn") === 1)
      .withColumn("r", zip_with(col("embedding"), col("cv1"),
        (a, b) => a - b))
      .select(col("id"), col("c1"), col("d1_u").as("err1_u"), col("r"))
    a1.crossJoin(broadcast(c2))
      .withColumn("d2_u",
        floor(V.sqDist(col("r"), col("cv2")) * 1000000 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy("d2_u", "c2")))
      .filter(col("rn") === 1)
      .withColumn("improved", col("d2_u") < col("err1_u"))
      .select(col("id"), col("c1"), col("c2"), col("err1_u"),
        col("d2_u").as("err2_u"), col("improved"))
      .orderBy("id")
  }

  /** Growth accounting (see `events_user_lifecycle`) over a
    * DISTINCT (`idCol`, `periodCol` integer) activity pair table:
    * per period, new / retained / resurrected actives + churn into
    * the period + quick ratio. Churn past the last observed period
    * is right-censored out.
    */
  def userLifecycle(pairs: DataFrame, idCol: String,
                    periodCol: String): DataFrame = {
    val uw = pairs.select(col(idCol).as("u"), col(periodCol).as("wk"))
      .distinct().ckpt()
    val first = uw.groupBy("u").agg(min("wk").as("first_wk"))
    val prev = uw.select(col("u"), (col("wk") + 1).as("wk"),
      lit(1).as("was_prev"))
    val counts = uw.join(first, "u")
      .join(prev, Seq("u", "wk"), "left")
      .withColumn("status",
        when(col("wk") === col("first_wk"), "new")
          .when(col("was_prev").isNotNull, "retained")
          .otherwise("resurrected"))
      .groupBy("wk")
      .agg(sum(when(col("status") === "new", 1L).otherwise(0L))
        .as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = uw.select(col("u"), (col("wk") + 1).as("wk"))
      .join(uw, Seq("u", "wk"), "left_anti")
      .groupBy("wk").agg(count(lit(1)).as("n_churned"))
    counts.join(churn, Seq("wk"), "left")
      .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
      .withColumn("quick_ratio", when(col("n_churned") > 0,
        TestData.r4((col("n_new") + col("n_resurrected")).cast("double")
          / col("n_churned"))))
      .select(col("wk").as(periodCol), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"), col("quick_ratio"))
      .orderBy(periodCol)
  }

  /** Jensen-Shannon divergence (see `text_js_divergence`) of each
    * group's token distribution vs the corpus mix, over (`groupCol`,
    * `text`) rows; vocabulary-shaped (absent-token mass collapses to
    * the (1 − Σq)·ln2 closure term).
    */
  def jsDivergence(docs: DataFrame, groupCol: String): DataFrame = {
    val c = docs
      .select(col(groupCol).as("g"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("c"))
      .ckpt()
    val nl = c.groupBy("g").agg(sum("c").as("n_g"))
    val ct = c.groupBy("tok").agg(sum("c").as("c_tok"))
    val nAll = nl.agg(sum("n_g").as("n_corpus"))
    c.join(broadcast(nl), "g")
      .join(ct, "tok")
      .crossJoin(broadcast(nAll))
      .withColumn("p", col("c").cast("double") / col("n_g").cast("double"))
      .withColumn("q", col("c_tok").cast("double")
        / col("n_corpus").cast("double"))
      .withColumn("term_u", floor(
        (col("p") * log(lit(2.0) * col("p") / (col("p") + col("q")))
          + col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
          * 1000000 + 0.5).cast("long"))
      .groupBy("g")
      .agg(max("n_g").as("n_g"), max("n_corpus").as("n_corpus"),
        sum("term_u").as("sum_term_u"), sum("c_tok").as("sum_q_num"))
      .withColumn("jsd", TestData.r4(
        (col("sum_term_u") / 1000000.0
          + (lit(1.0) - col("sum_q_num").cast("double")
            / col("n_corpus")) * log(lit(2.0))) / 2.0))
      .select(col("g").as(groupCol), col("n_g"), col("sum_term_u"),
        col("jsd"))
      .orderBy(groupCol)
  }

  /** Top-`k` diagonal-Mahalanobis outliers (see
    * `vec_mahalanobis_outlier`) of (id, embedding) rows:
    * milli-quantized coordinates, exact-integer per-dim variances,
    * micro-quantized z² terms, sort+limit top-k.
    */
  def mahalanobisOutliers(vectors: DataFrame, k: Int = 20): DataFrame = {
    require(k >= 1, "k must be positive")
    val dims = vectors
      .select(col("id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("x_m",
        floor(col("x").cast("double") * 1000 + 0.5).cast("long"))
    val stats = dims.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("x_m").as("sx"),
        sum(col("x_m") * col("x_m")).as("sxx"))
      .withColumn("mean_m", col("sx").cast("double") / col("n"))
      .withColumn("var_m",
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          / (col("n") * (col("n") - 1)).cast("double"))
      .filter(col("var_m") > 0)
      .select("dim", "mean_m", "var_m")
    dims.join(broadcast(stats), "dim")
      .withColumn("term_u", floor(
        (col("x_m").cast("double") - col("mean_m"))
          * (col("x_m").cast("double") - col("mean_m")) / col("var_m")
          * 1000000 + 0.5).cast("long"))
      .groupBy("id")
      .agg(sum("term_u").as("score_u"))
      .orderBy(col("score_u").desc, col("id"))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score_u").desc, col("id"))))
      .withColumn("score", TestData.r4(col("score_u") / 1000000.0))
      .select("rk", "id", "score_u", "score")
      .orderBy("rk")
  }

  /** Interpolated as-of join (see `join_asof_interpolated`): probes
    * (`id`, `tCol` micros) sample the integer series (`xCol` grid
    * index, `yCol` value, grid unit = `unitMicros`) linearly between
    * bracketing occupied points; gaps over `maxGap` grid steps and
    * probes outside the span drop.
    */
  def asofInterpolate(series: DataFrame, probes: DataFrame,
                      xCol: String, yCol: String, tCol: String,
                      unitMicros: Long = 3600000000L,
                      maxGap: Int = 168): DataFrame = {
    val W = Window.orderBy(xCol)
    val brackets = series
      .withColumn("h1", lead(xCol, 1).over(W))
      .withColumn("c1", lead(yCol, 1).over(W))
      .filter(col("h1").isNotNull && col("h1") - col(xCol) <= maxGap)
      .select(explode(sequence(col(xCol), col("h1") - 1)).as("cal"),
        col(xCol).as("h0"), col(yCol).as("c0"), col("h1"), col("c1"))
    probes
      .withColumn("cal", expr(s"$tCol DIV $unitMicros"))
      .join(brackets, "cal")
      .withColumn("frac",
        (col(tCol) - col("h0") * unitMicros).cast("double")
          / ((col("h1") - col("h0")) * unitMicros).cast("double"))
      .withColumn("interp", TestData.r4(col("c0")
        + (col("c1") - col("c0")).cast("double") * col("frac")))
      .select(col("id"), col("h0"), col("c0"), col("h1"), col("c1"),
        col("interp"))
      .orderBy("id")
  }

  /** Seasonal-naive backtest (see `ts_snaive_smape`) of an integer
    * series (`xCol` grid index, `yCol` positive count): sMAPE + MAE
    * of forecasting each point with the point `seasonLag` steps
    * earlier (equi-join on the grid — lag() would misalign gaps).
    */
  def snaiveBacktest(series: DataFrame, xCol: String, yCol: String,
                     seasonLag: Int = 168): DataFrame = {
    require(seasonLag >= 1, "seasonLag must be positive")
    val prevS = series.select((col(xCol) + seasonLag).as(xCol),
      col(yCol).as("fc"))
    series.join(prevS, xCol)
      // sMAPE's general form divides by |a|+|f| (identical to a+f on
      // the count-valued key, where both are ≥ 1): a zero-magnitude
      // pair contributes 0 by convention instead of an ANSI x/0
      // throw, and sign-mixed series stay in [0, 2].
      .withColumn("term_u", when(
        abs(col(yCol)) + abs(col("fc")) > 0,
        floor(lit(2.0) * abs(col(yCol) - col("fc")).cast("double")
          / (abs(col(yCol)) + abs(col("fc"))).cast("double")
          * 1000000 + 0.5).cast("long")).otherwise(0L))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col(yCol) - col("fc"))).as("abs_err_sum"),
        sum("term_u").as("smape_sum_u"))
      .withColumn("mae", when(col("n_scored") > 0,
        TestData.r4(col("abs_err_sum").cast("double") / col("n_scored"))))
      .withColumn("smape", when(col("n_scored") > 0,
        TestData.r4(col("smape_sum_u").cast("double")
          / col("n_scored") / 1000000.0)))
      .select("n_scored", "abs_err_sum", "mae", "smape")
  }

  /** Top-`k` term burstiness (see `text_term_burstiness`) of
    * (`id`, `text`) rows: cf, df, cf/df clumpiness, smoothed IDF.
    */
  def termBurstiness(docs: DataFrame, k: Int = 20): DataFrame = {
    require(k >= 1, "k must be positive")
    val toks = docs.select(col("id"),
      explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
        .as("tok"))
    val byTok = toks.groupBy("tok")
      .agg(count(lit(1)).as("cf"), countDistinct("id").as("df"))
    val nDocs = docs.agg(countDistinct("id").as("n_docs"))
    byTok.crossJoin(broadcast(nDocs))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cf").desc, col("tok"))))
      .filter(col("rk") <= k)
      .withColumn("burstiness",
        TestData.r4(col("cf").cast("double") / col("df").cast("double")))
      .withColumn("idf", TestData.r4(log((col("n_docs") + 1).cast("double")
        / (col("df") + 1).cast("double"))))
      .select("rk", "tok", "cf", "df", "burstiness", "idf")
      .orderBy("rk")
  }

  /** Bollinger bands (see `ts_bollinger_bands`) over an integer
    * series on an integer grid: rolling `window` mean ± `k`·σ via a
    * gap-safe RANGE frame, bands on full windows only, breach
    * decided by the exact-integer cross-multiplied compare
    * |n·x − S|² > k²·(n·Σx² − S²) — no float boundary.
    */
  def bollingerBands(series: DataFrame, xCol: String, yCol: String,
                     window: Int = 24, k: Int = 2): DataFrame = {
    require(window >= 2 && k >= 1, "window >= 2, k >= 1")
    val W = Window.orderBy(xCol).rangeBetween(-(window - 1), 0)
    val n = window.toLong
    series.select(col(xCol).as("hr"), col(yCol).as("cnt"))
      .withColumn("n_win", count(lit(1)).over(W))
      .withColumn("s_win", sum("cnt").over(W))
      .withColumn("ss_win", sum(col("cnt") * col("cnt")).over(W))
      .withColumn("mean_cnt", when(col("n_win") === n,
        TestData.r4(col("s_win").cast("double") / n.toDouble)))
      .withColumn("lower", when(col("n_win") === n,
        TestData.r4(col("s_win").cast("double") / n.toDouble
          - lit(k.toDouble) * sqrt((col("ss_win") * n
              - col("s_win") * col("s_win")).cast("double")) / n.toDouble)))
      .withColumn("upper", when(col("n_win") === n,
        TestData.r4(col("s_win").cast("double") / n.toDouble
          + lit(k.toDouble) * sqrt((col("ss_win") * n
              - col("s_win") * col("s_win")).cast("double")) / n.toDouble)))
      .withColumn("breach", when(col("n_win") === n,
        (col("cnt") * n - col("s_win")) * (col("cnt") * n - col("s_win"))
          > (col("ss_win") * n - col("s_win") * col("s_win"))
            * (k.toLong * k)))
      .select("hr", "cnt", "n_win", "mean_cnt", "lower", "upper",
        "breach")
      .orderBy("hr")
  }

  /** Rolling Pearson correlation (see `ts_rolling_corr`) between two
    * integer series sharing an integer grid: six exact window sums
    * over a gap-safe RANGE frame, r assembled once per point. Full
    * windows with both variances positive only.
    */
  def rollingCorr(series: DataFrame, xCol: String, aCol: String,
                  bCol: String, window: Int = 24): DataFrame = {
    require(window >= 2, "window >= 2")
    val W = Window.orderBy("hr").rangeBetween(-(window - 1), 0)
    val n = window.toLong
    series.select(col(xCol).as("hr"), col(aCol).as("x"),
        col(bCol).as("y"))
      .withColumn("n_win", count(lit(1)).over(W))
      .withColumn("sx", sum("x").over(W))
      .withColumn("sy", sum("y").over(W))
      .withColumn("sxx", sum(col("x") * col("x")).over(W))
      .withColumn("syy", sum(col("y") * col("y")).over(W))
      .withColumn("sxy", sum(col("x") * col("y")).over(W))
      .withColumn("num",
        col("n_win") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx",
        col("n_win") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy",
        col("n_win") * col("syy") - col("sy") * col("sy"))
      .withColumn("r_corr", when(
        col("n_win") === n && col("dx") > 0 && col("dy") > 0,
        TestData.r4(col("num").cast("double")
          / sqrt(col("dx").cast("double") * col("dy").cast("double")))))
      .select("hr", "x", "y", "n_win", "r_corr")
      .orderBy("hr")
  }

  /** McNemar's paired test (see `agg_mcnemar`) over per-subject 0/1
    * before/after flags: χ² = (b−c)²/(b+c) on the discordant
    * counts, exact integers until the one division. b+c = 0 ⇒ NULL.
    */
  def mcNemar(df: DataFrame, flag1Col: String,
              flag2Col: String): DataFrame =
    df.select(col(flag1Col).cast("int").as("a1"),
        col(flag2Col).cast("int").as("a2"))
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
        TestData.r4(((col("n_10") - col("n_01"))
            * (col("n_10") - col("n_01"))).cast("double")
          / (col("n_10") + col("n_01")).cast("double"))))
      .withColumn("significant_95",
        when(col("n_10") + col("n_01") > 0, col("chi2") > 3.841459))
      .select("n_11", "n_10", "n_01", "n_00", "chi2", "significant_95")

  /** Paired t (see `agg_paired_t`) over per-subject integer
    * before/after differences (`dCol`, already whole-unit quantized
    * — use the IEEE-floor quantizer for negative-safe scaling):
    * t = mean(d)/(sd(d)/√n) from exact Σd/Σd². n ≤ 1 or zero
    * variance ⇒ NULL t.
    */
  def pairedT(df: DataFrame, dCol: String): DataFrame =
    df.select(col(dCol).as("d_w"))
      .agg(count(lit(1)).as("n_users"), sum("d_w").as("sum_d"),
        sum(col("d_w") * col("d_w")).as("sum_dd"))
      .withColumn("mean_d", when(col("n_users") > 0,
        TestData.r4(col("sum_d").cast("double")
          / col("n_users").cast("double"))))
      .withColumn("var_d", when(col("n_users") > 1,
        (col("sum_dd").cast("double")
          - col("sum_d").cast("double") * col("sum_d").cast("double")
            / col("n_users").cast("double"))
          / (col("n_users") - 1).cast("double")))
      .withColumn("t_paired", when(col("var_d") > 0,
        TestData.r4((col("sum_d").cast("double")
            / col("n_users").cast("double"))
          / sqrt(col("var_d") / col("n_users").cast("double")))))
      .withColumn("significant_95", when(col("var_d") > 0,
        abs(col("t_paired")) > 1.959964))
      .select("n_users", "sum_d", "mean_d", "t_paired",
        "significant_95")

  /** DCT perceptual hash (see `multimodal_dct_phash`) of a media
    * frame's binary `content` column: 8×8 byte tile → integer 2-D
    * DCT-II (micro-quantized driver-side basis, no transcendental in
    * the plan) → 15 low-frequency AC sign bits. Map-side only.
    */
  def dctPerceptualHash(media: DataFrame): DataFrame =
    graft.multimodal.Multimodal.dctPhashes(media)
      .toDF()
      .select(col("doc_id"), col("mime"),
        col("n_bytes").cast("long").as("n_bytes"), col("dct_phash"))
      .orderBy("doc_id")

  /** Haar wavelet perceptual hash (see `multimodal_wavelet_hash`):
    * 16 bits from two levels of unnormalized 2-D Haar over the
    * wrapped 8×8 byte tile — exact integer arithmetic end-to-end
    * (no basis literals). Pairs at scale via the 16-bit/4-band
    * pigeonhole join.
    */
  def waveletHash(media: DataFrame): DataFrame =
    graft.multimodal.Multimodal.waveletHashes(media)
      .toDF()
      .select(col("doc_id"), col("mime"),
        col("n_bytes").cast("long").as("n_bytes"), col("whash"))
      .orderBy("doc_id")

  /** Benjamini-Hochberg step-up (see `agg_bh_fdr`) over a frame of
    * per-test micro-quantized p-values (`pMicroCol`, p·1e6 as
    * BIGINT; NULL = excluded test): ranks the m non-null tests,
    * flags p_u·m ≤ k·qMicro integer-exactly, rejects ranks ≤ k_max.
    * qMicro = q·1e6 (default 100000 = FDR 0.10).
    */
  def bhStepUp(tests: DataFrame, idCol: String, pMicroCol: String,
               qMicro: Long = 100000L): DataFrame = {
    require(qMicro > 0 && qMicro <= 1000000L, "qMicro in (0, 1e6]")
    val W = Window.partitionBy()
    val wRank = Window.orderBy(col("p_u").asc_nulls_last, col("id"))
    tests.select(col(idCol).as("id"), col(pMicroCol).as("p_u"))
      .withColumn("m_tests",
        sum(when(col("p_u").isNotNull, 1L).otherwise(0L)).over(W))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("flag", col("p_u").isNotNull
        && col("p_u") * col("m_tests") <= col("rk") * qMicro)
      .withColumn("k_max", max(when(col("flag"), col("rk"))).over(W))
      .withColumn("significant", when(col("p_u").isNotNull,
        col("k_max").isNotNull && col("rk") <= col("k_max"))
        .otherwise(lit(false)))
      .select("id", "p_u", "rk", "significant")
      .orderBy("id")
  }

  /** A/B odds ratio (see `events_ab_odds_ratio`) over rows carrying
    * a 0/1 treatment flag and a 0/1 success flag: Haldane-corrected
    * OR (+0.5 per cell — always defined, even with zero cells) with
    * the 95 % log-normal CI; significant ⇔ the CI excludes 1.
    */
  /** Theil-Sen slope with Gilbert's nonparametric 95 % CI (see
    * `ts_sen_slope_ci`) over an integer-keyed series — closes the
    * trend trio (Mann-Kendall verdict, Sen point estimate, THIS
    * interval). All-tied series read NULL CI.
    */
  def senSlopeCi(series: DataFrame, orderCol: String,
                 valueCol: String): DataFrame =
    graft.operators.TimeSeries.senSlopeCore(
      series.select(col(orderCol).cast("long").as("xh"),
        col(valueCol).cast("long").as("n")))

  /** Relative risk with the Katz log-normal 95 % CI (see
    * `events_ab_risk_ratio`) over (treat 0/1, success 0/1) rows:
    * the RATE-ratio effect size next to [[oddsRatio]]; Walter +0.5
    * adjustment keeps it defined on zero cells.
    */
  def riskRatio(df: DataFrame, treatCol: String,
                successCol: String): DataFrame =
    df.select(col(treatCol).cast("int").as("t"),
        col(successCol).cast("long").as("purch"))
      .agg(
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("t") === 0, col("purch")).otherwise(0L)).as("x_c"),
        sum(when(col("t") === 1, col("purch")).otherwise(0L)).as("x_t"))
      .withColumn("rr_", (col("x_t").cast("double") + 0.5)
        / (col("n_t").cast("double") + 0.5)
        / ((col("x_c").cast("double") + 0.5)
          / (col("n_c").cast("double") + 0.5)))
      .withColumn("se", sqrt(
        lit(1.0) / (col("x_t").cast("double") + 0.5)
          - lit(1.0) / (col("n_t").cast("double") + 0.5)
          + lit(1.0) / (col("x_c").cast("double") + 0.5)
          - lit(1.0) / (col("n_c").cast("double") + 0.5)))
      .withColumn("ci_lo", TestData.r4(exp(log(col("rr_"))
        - lit(1.959964) * col("se"))))
      .withColumn("ci_hi", TestData.r4(exp(log(col("rr_"))
        + lit(1.959964) * col("se"))))
      .withColumn("risk_ratio", TestData.r4(col("rr_")))
      .withColumn("significant_95",
        col("ci_lo") > 1.0 || col("ci_hi") < 1.0)
      .select("n_c", "n_t", "x_c", "x_t", "risk_ratio", "ci_lo",
        "ci_hi", "significant_95")

  /** Cohen's h arcsine effect size (see `events_ab_cohens_h`) over
    * (treat 0/1, success 0/1) rows — the sample-size-free magnitude
    * a power calculation consumes. Empty arm reads NULL.
    */
  def cohensH(df: DataFrame, treatCol: String,
              successCol: String): DataFrame =
    df.select(col(treatCol).cast("int").as("t"),
        col(successCol).cast("long").as("purch"))
      .agg(
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("t") === 0, col("purch")).otherwise(0L)).as("x_c"),
        sum(when(col("t") === 1, col("purch")).otherwise(0L)).as("x_t"))
      .withColumn("h", when(col("n_c") > 0 && col("n_t") > 0,
        TestData.r4(lit(2.0) * asin(sqrt(col("x_t").cast("double")
            / col("n_t").cast("double")))
          - lit(2.0) * asin(sqrt(col("x_c").cast("double")
            / col("n_c").cast("double"))))))
      .withColumn("magnitude",
        when(col("h").isNull, lit(null).cast("string"))
          .when(abs(col("h")) < 0.2, "negligible")
          .when(abs(col("h")) < 0.5, "small")
          .when(abs(col("h")) < 0.8, "medium")
          .otherwise("large"))
      .select("n_c", "n_t", "x_c", "x_t", "h", "magnitude")

  def oddsRatio(df: DataFrame, treatCol: String,
                successCol: String): DataFrame =
    df.select(col(treatCol).cast("int").as("t"),
        col(successCol).cast("long").as("purch"))
      .agg(
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("t") === 0, col("purch")).otherwise(0L)).as("x_c"),
        sum(when(col("t") === 1, col("purch")).otherwise(0L)).as("x_t"))
      .withColumn("a", col("x_t").cast("double") + 0.5)
      .withColumn("b", (col("n_t") - col("x_t")).cast("double") + 0.5)
      .withColumn("c2", col("x_c").cast("double") + 0.5)
      .withColumn("d2", (col("n_c") - col("x_c")).cast("double") + 0.5)
      .withColumn("or_", col("a") * col("d2") / (col("b") * col("c2")))
      .withColumn("se", sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
        + lit(1.0) / col("c2") + lit(1.0) / col("d2")))
      .withColumn("ci_lo", TestData.r4(exp(log(col("or_"))
        - lit(1.959964) * col("se"))))
      .withColumn("ci_hi", TestData.r4(exp(log(col("or_"))
        + lit(1.959964) * col("se"))))
      .withColumn("odds_ratio", TestData.r4(col("or_")))
      .withColumn("significant_95",
        col("ci_lo") > 1.0 || col("ci_hi") < 1.0)
      .select("n_c", "n_t", "x_c", "x_t", "odds_ratio", "ci_lo",
        "ci_hi", "significant_95")

  /** Capture-recapture dedup audit (see `dedup_capture_recapture`):
    * Chapman's estimator of the total target-pair population from
    * two independent detector pair lists (id_a, id_b). Correlated
    * detectors bias the estimate LOW (documented caveat) — read it
    * as a lower bound on the residual population.
    */
  def captureRecapture(pairsA: DataFrame,
                       pairsB: DataFrame): DataFrame = {
    val a = pairsA.select(col("id_a"), col("id_b"), lit(1L).as("in_a"))
    val b = pairsB.select(col("id_a"), col("id_b"), lit(1L).as("in_b"))
    a.join(b, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(coalesce(col("in_a"), lit(0L))).as("n_a"),
        sum(coalesce(col("in_b"), lit(0L))).as("n_b"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .withColumn("n_hat",
        expr("(n_a + 1) * (n_b + 1) DIV (n_both + 1) - 1"))
      .withColumn("coverage_a", when(col("n_b") > 0,
        TestData.r4(col("n_both").cast("double")
          / col("n_b").cast("double"))))
      .withColumn("coverage_b", when(col("n_a") > 0,
        TestData.r4(col("n_both").cast("double")
          / col("n_a").cast("double"))))
      .select("n_a", "n_b", "n_both", "n_hat", "coverage_a",
        "coverage_b")
  }

  /** Exact ROC-AUC + step-form PR-AUC (average precision) per
    * detector (see `eval_detector_auc`). Input columns: (detector:
    * STRING, score_u: BIGINT quantized score — higher = more
    * positive, is_pos: BIGINT 0/1 ground truth). AUC is exact via
    * the Mann-Whitney rank-sum identity over the score-distinct
    * cell grid (ties = ½); PR-AUC is micro-quantized step-form
    * average precision. One-class inputs read NULL (never a throw);
    * auc2_num stays < 2^63 to ~2e9 scored pairs.
    */
  def detectorAuc(scored: DataFrame): DataFrame =
    TextOps.detectorAuc(scored)

  /** DeLong 95 % CI on the ROC-AUC (see `eval_auc_ci`) over the same
    * (detector, score_u, is_pos) shape as [[detectorAuc]]: variance
    * from per-positive/per-negative placement values on the
    * score-distinct cell grid, exact integer deviation numerators,
    * nano-quantized squared terms. Needs ≥ 2 positives AND ≥ 2
    * negatives per detector — degenerate inputs read NULL se/CI.
    */
  def delongAucCi(scored: DataFrame): DataFrame =
    TextOps.delongAucCi(scored)

  /** Paired DeLong comparison of two detectors' AUCs on the same
    * scored pairs (see `eval_delong_compare`): input (id_a, id_b,
    * detector, score_u, is_pos) rows where BOTH named detectors
    * score the identical pair set; output ΔAUC with the paired
    * standard error (placement cross-covariances), z and the
    * Lin-approximate two-sided p. Degenerate m ≤ 1 or n ≤ 1 reads
    * NULL.
    */
  def delongCompare(scored: DataFrame, detA: String,
                    detB: String): DataFrame =
    TextOps.delongCompare(scored, detA, detB)

  /** BIC-approximate Bayes factor for a two-arm binomial A/B (see
    * `events_ab_bayes_factor`) over (t: 0/1, conv: 0/1) unit rows:
    * BF₁₀ ≈ exp(lnL₁ − lnL₀ − ½lnN). Unlike a p-value, BF ≪ 1
    * QUANTIFIES support for "the arms are the same". Degenerate
    * empty arms read NULL.
    */
  def bayesFactorAb(df: DataFrame, armCol: String,
                    convCol: String): DataFrame =
    graft.operators.TimeSeries.bayesFactorCore(
      df.select(col(armCol).cast("int").as("t"),
        col(convCol).cast("long").as("conv")))

  /** RAKE keyword extraction (see `text_rake_keywords`) over
    * (doc_id, `textCol`) rows: maximal stopword-free token runs,
    * word score deg/freq (DIV-quantized to 1e-6), phrase score =
    * exact Σ of word scores, distinct-phrase top-`k` via
    * sort + limit (never a corpus-grain rank window).
    */
  def rakeKeywords(docs: DataFrame, textCol: String,
                   stopWords: Seq[String], k: Int = 20): DataFrame = {
    require(k >= 1 && stopWords.nonEmpty, "k >= 1, stopwords nonempty")
    val toks = docs
      .select(col("doc_id"), posexplode(
        regexp_extract_all(col(textCol), lit("[a-z0-9]+"), lit(0))))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .withColumn("is_stop", col("tok").isin(stopWords: _*).cast("int"))
    val wPos = Window.partitionBy("doc_id").orderBy("pos")
    val cand = toks
      .withColumn("pid", sum("is_stop").over(
        wPos.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("is_stop") === 0)
      .ckpt()
    val plen = cand.groupBy("doc_id", "pid")
      .agg(count(lit(1)).as("plen"))
    val occ = cand.join(plen, Seq("doc_id", "pid"))
    val ratios = occ.groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("ratio_u", expr("deg * 1000000 DIV freq"))
      .select("tok", "ratio_u")
    occ.join(ratios, "tok")
      .groupBy("doc_id", "pid")
      .agg(sort_array(collect_list(struct(col("pos"), col("tok"))))
          .as("pt"),
        sum("ratio_u").as("score_u"),
        count(lit(1)).as("n_words"))
      .withColumn("phrase",
        concat_ws(" ", expr("transform(pt, x -> x.tok)")))
      .select("phrase", "n_words", "score_u").distinct()
      .orderBy(col("score_u").desc, col("phrase")).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score_u").desc, col("phrase"))))
      .select("rk", "phrase", "n_words", "score_u")
      .orderBy("rk")
  }

  /** Newman modularity per community (see `graph_modularity`) from
    * a node-label frame (`idCol`, `labelCol`) and an undirected
    * (a, b) edge list: Q_c = e_c/m − (d_c/2m)², micro-quantized per
    * community (read Q = Σ q_term_u / 1e6). m = 0 ⇒ NULL terms.
    */
  def modularity(labels: DataFrame, idCol: String, labelCol: String,
                 edges: DataFrame): DataFrame = {
    val l = labels.select(col(idCol).as("id"), col(labelCol).as("label"))
    val adj = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    val me = edges.agg(count(lit(1)).as("m"))
    val deg = adj.groupBy(col("src").as("id2"))
      .agg(count(lit(1)).as("deg"))
    val comm = l.join(deg, col("id") === col("id2"), "left")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("degree_sum"))
    val la = l.select(col("id").as("a"), col("label").as("ca"))
    val lb = l.select(col("id").as("b"), col("label").as("cb"))
    val ein = edges.join(la, "a").join(lb, "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    comm.join(ein, Seq("community"), "left")
      .crossJoin(broadcast(me))
      .withColumn("e_internal", coalesce(col("e_in"), lit(0L)))
      .withColumn("q_term_u", when(col("m") > 0,
        floor((col("e_internal").cast("double") / col("m").cast("double")
          - (col("degree_sum").cast("double")
              / (col("m") * 2).cast("double"))
            * (col("degree_sum").cast("double")
              / (col("m") * 2).cast("double")))
          * 1000000 + 0.5).cast("long")))
      .select("community", "n_nodes", "e_internal", "degree_sum",
        "q_term_u")
      .orderBy("community")
  }

  /** Per-community conductance (see `graph_conductance`): the
    * boundary-quality curve next to `modularity` — cut /
    * min(vol, 2m − vol) per community, ∈ [0, 1], NULL for isolated
    * communities. All integer until one guarded r4 division.
    */
  def conductance(labels: DataFrame, idCol: String, labelCol: String,
                  edges: DataFrame): DataFrame =
    graft.operators.GraphOps.conductance(
      labels.select(col(idCol).as("id"), col(labelCol).as("label")),
      edges)

  /** One Louvain refinement level (see `graph_louvain_refine`):
    * `rounds` rounds, each applying the single globally-best
    * strictly-positive-ΔQ node move over the exact-integer gain
    * 2m²·ΔQ = 2m(k_iB − k_iA) − d_i(Σtot_B − Σtot_A + d_i).
    * Monotone in Q by construction; a labeling with no positive
    * move (e.g. one community) is a fixpoint.
    */
  def louvainRefine(labels: DataFrame, idCol: String, labelCol: String,
                    edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds in [1, 16]")
    graft.operators.GraphOps.louvainRefine(
      labels.select(col(idCol).as("id"), col(labelCol).as("label")),
      edges, rounds)
  }

  /** Székely energy distance between two embedding samples (see
    * `vec_energy_distance`): the distribution-level two-sample drift
    * test (zero iff equal distributions) — supply EVAL SAMPLES; all
    * three pair aggregates are O(|ref|·|cur|). A side with < 2 rows
    * reads NULL, never a throw.
    */
  def energyDistance(ref: DataFrame, cur: DataFrame, idCol: String,
                     vecCol: String): DataFrame =
    graft.operators.Vectors.energyDistance(
      ref.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      cur.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")))

  /** TWO-NN intrinsic-dimensionality MLE (see `vec_intrinsic_dim`):
    * d̂ = n/Σ ln(r2/r1) over each query's two nearest candidates in
    * `cands` (qid, nn) — supply exact or blocked-kNN candidates; the
    * two smallest exact distances become r1 ≤ r2. Duplicate vectors
    * (r1 = 0) are excluded (n_queries − n_used). Returns 1 row
    * (n_queries, n_used, sum_u, d_hat); all-duplicate or one-
    * candidate inputs read NULL d_hat, never a throw.
    */
  def intrinsicDim(vectors: DataFrame, idCol: String, vecCol: String,
                   cands: DataFrame): DataFrame =
    graft.operators.GraphOps.intrinsicDim(
      vectors.select(col(idCol).as("vec_id"),
        col(vecCol).as("embedding")), cands)

  /** Personalized PageRank / random-walk-with-restart (see
    * `graph_pagerank_personalized`): `rounds` unrolled integer
    * micro-unit iterations with ALL teleport/start mass on the seed
    * set — rank decays with walk distance from the seeds and
    * unreachable nodes read exactly 0. Empty seed set ⇒ all-zero
    * ranks (guarded, never a DIV-by-zero). Returns (id, r) in
    * 1e-6 mass units (Σr ≈ n·1e6).
    */
  def personalizedPagerank(nodes: DataFrame, idCol: String,
      edges: DataFrame, seeds: DataFrame, seedCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds in [1, 16]")
    graft.operators.GraphOps.personalizedPagerank(
      nodes.select(col(idCol).as("id")), edges,
      seeds.select(col(seedCol).as("id")), rounds)
  }

  /** Full two-phase Louvain step (see `graph_louvain_coarsen`):
    * `fineRounds` node-grain batched sweeps, then an EXACT community
    * contraction (weighted super-edges/self-loops, Σdeg and m
    * conserved ⇒ coarse Q ≡ fine Q) and `coarseRounds` weighted
    * sweeps at the COMMUNITY grain — reaching the whole-community
    * merges phase 1 cannot. Returns node-grain (id, label);
    * monotone in Q end-to-end.
    */
  def louvainCoarsen(labels: DataFrame, idCol: String, labelCol: String,
                     edges: DataFrame, fineRounds: Int = 3,
                     coarseRounds: Int = 1): DataFrame = {
    require(fineRounds >= 1 && fineRounds <= 16
      && coarseRounds >= 1 && coarseRounds <= 16, "rounds in [1, 16]")
    graft.operators.GraphOps.louvainCoarsen(
      labels.select(col(idCol).as("id"), col(labelCol).as("label")),
      edges, fineRounds, coarseRounds)
  }

  /** Holm-Bonferroni step-down (see `agg_holm_bonferroni`) over a
    * frame of per-test micro-quantized p-values: ranks the m
    * non-null tests, flags p_u·(m−k+1) ≤ alphaMicro integer-exactly,
    * rejects strictly BEFORE the first unflagged rank (a later
    * success cannot rescue earlier ranks — step-down, not BH's
    * step-up). alphaMicro = α·1e6 (default 50000 = FWER 0.05).
    */
  def holmStepDown(tests: DataFrame, idCol: String, pMicroCol: String,
                   alphaMicro: Long = 50000L): DataFrame = {
    require(alphaMicro > 0 && alphaMicro <= 1000000L,
      "alphaMicro in (0, 1e6]")
    val W = Window.partitionBy()
    val wRank = Window.orderBy(col("p_u").asc_nulls_last, col("id"))
    tests.select(col(idCol).as("id"), col(pMicroCol).as("p_u"))
      .withColumn("m_tests",
        sum(when(col("p_u").isNotNull, 1L).otherwise(0L)).over(W))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("flag", col("p_u").isNotNull
        && col("p_u") * (col("m_tests") - col("rk") + 1) <= alphaMicro)
      .withColumn("k_stop",
        min(when(!col("flag") && col("rk") <= col("m_tests"),
          col("rk"))).over(W))
      .withColumn("significant", when(col("p_u").isNotNull,
        col("k_stop").isNull || col("rk") < col("k_stop"))
        .otherwise(lit(false)))
      .select("id", "p_u", "rk", "significant")
      .orderBy("id")
  }

  /** Per-group Kaplan-Meier curves (see `events_km_variants`): the
    * [[kaplanMeier]] estimator with every window PARTITIONED BY
    * `groupCol` — risk sets per group over its own distinct-duration
    * grid, micro-nat quantized ln terms, exact-0 tail.
    */
  def kaplanMeierBy(durations: DataFrame, durCol: String,
                    eventCol: String, groupCol: String): DataFrame = {
    val W = Window
    val risk = durations
      .select(col(groupCol).as("variant"), col(durCol).as("dur"),
        col(eventCol).cast("long").as("ev"))
      .groupBy("variant", "dur")
      .agg(sum("ev").as("d_t"), sum(lit(1L) - col("ev")).as("c_t"))
      .withColumn("n_total",
        sum(col("d_t") + col("c_t")).over(W.partitionBy("variant")))
      .withColumn("n_risk", col("n_total")
        - coalesce(sum(col("d_t") + col("c_t")).over(
            W.partitionBy("variant").orderBy("dur")
              .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    risk.filter(col("d_t") > 0)
      .withColumn("term_u", when(col("n_risk") > col("d_t"),
        floor(log((col("n_risk") - col("d_t")).cast("double")
          / col("n_risk").cast("double")) * 1000000 + 0.5).cast("long")))
      .withColumn("zero_flag",
        max(when(col("n_risk") === col("d_t"), 1).otherwise(0)).over(
          W.partitionBy("variant").orderBy("dur")
            .rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("cum_u", sum("term_u").over(
        W.partitionBy("variant").orderBy("dur")
          .rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("survival", when(col("zero_flag") === 1, lit(0.0))
        .otherwise(TestData.r4(exp(col("cum_u") / 1000000.0))))
      .select(col("variant"), col("dur").as("t_hr"), col("n_risk"),
        col("d_t").as("n_events"), col("c_t").as("n_censored"),
        col("survival"))
      .orderBy("variant", "t_hr")
  }

  /** Data-quality assertion report (see `profile_assert_constraints`):
    * declarative constraint checks over ONE aggregate scan of `df`,
    * one report row per constraint (name, table, n_checked,
    * n_violations, passed). `unique` asserts zero duplicate keys,
    * `acceptedValues` a literal value domain, `positive` v > 0,
    * `maxNullRatePct` a null-rate ceiling in whole percent.
    * Referential integrity is the separate [[assertReferential]]
    * (it is the one check that needs a second table).
    */
  def assertConstraints(df: DataFrame, tableName: String,
                        unique: Seq[String] = Nil,
                        acceptedValues: Map[String, Seq[String]] = Map.empty,
                        positive: Seq[String] = Nil,
                        maxNullRatePct: Map[String, Int] = Map.empty)
      : DataFrame = {
    val nChecks = unique.size + acceptedValues.size + positive.size +
      maxNullRatePct.size
    require(nChecks >= 1, "declare at least one constraint")
    val aggs = Seq(count(lit(1)).as("n")) ++
      unique.map(c =>
        (count(lit(1)) - countDistinct(col(c))).as(s"u_$c")) ++
      acceptedValues.map { case (c, vals) =>
        sum(when(col(c).isin(vals.map(_.asInstanceOf[Any]): _*), 0L)
          .otherwise(1L)).as(s"d_$c") } ++
      positive.map(c =>
        sum(when(col(c) <= 0, 1L).otherwise(0L)).as(s"p_$c")) ++
      maxNullRatePct.keys.map(c =>
        (count(lit(1)) - count(col(c))).as(s"z_$c"))
    val rows =
      unique.map(c => s"'unique_$c', n, u_$c, u_$c = 0") ++
      acceptedValues.keys.map(c =>
        s"'accepted_values_$c', n, d_$c, d_$c = 0") ++
      positive.map(c => s"'positive_$c', n, p_$c, p_$c = 0") ++
      maxNullRatePct.map { case (c, pct) =>
        s"'null_rate_${c}_le_${pct}pct', n, z_$c, z_$c * 100 <= n * $pct" }
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack($nChecks, ${rows.mkString(", ")}) " +
        "AS (constraint_name, n_checked, n_violations, passed)"))
      .withColumn("table_name", lit(tableName))
      .select("constraint_name", "table_name", "n_checked",
        "n_violations", "passed")
      .orderBy("constraint_name")
  }

  /** Referential-integrity report row (see
    * `profile_assert_constraints`): orphaned `childKey` values with
    * no match among the DISTINCT `parentKey` values — one LEFT join
    * probe, one report row named `referential_<child>_<parent>`.
    */
  def assertReferential(child: DataFrame, childKey: String,
                        childName: String, parent: DataFrame,
                        parentKey: String,
                        parentName: String): DataFrame =
    // the parent key is renamed so child and parent may share a
    // column name without an ambiguous-reference error
    child
      .join(parent.select(col(parentKey).as("__parent_key")).distinct()
          .withColumn("hit", lit(1)),
        col(childKey) === col("__parent_key"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("orphans"))
      .select(
        lit(s"referential_${childName}_$parentName").as("constraint_name"),
        lit(childName).as("table_name"),
        col("n").as("n_checked"), col("orphans").as("n_violations"),
        (col("orphans") === 0).as("passed"))

  /** Two-regressor OLS (see `agg_ols_multi`) of integer-quantized
    * `yCol` on `x1Col` + `x2Col` per group: exact-BIGINT sufficient
    * statistics, Cramer's rule on the centered 2×2 normal equations
    * assembled once per group row. Bound: n·max(y)² < 2^63.
    * Collinear regressors (det = 0) ⇒ NULL betas/intercept/R²;
    * constant response ⇒ NULL R².
    */
  def olsTwo(df: DataFrame, groupCol: String, x1Col: String,
             x2Col: String, yCol: String): DataFrame =
    df.select(col(groupCol).as("flag"), col(x1Col).as("x1"),
        col(x2Col).as("x2"), col(yCol).as("y"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("cxx1", col("s11").cast("double")
        - col("s1").cast("double") * col("s1").cast("double")
          / col("n").cast("double"))
      .withColumn("cxx2", col("s22").cast("double")
        - col("s2").cast("double") * col("s2").cast("double")
          / col("n").cast("double"))
      .withColumn("cx12", col("s12").cast("double")
        - col("s1").cast("double") * col("s2").cast("double")
          / col("n").cast("double"))
      .withColumn("cx1y", col("s1y").cast("double")
        - col("s1").cast("double") * col("sy").cast("double")
          / col("n").cast("double"))
      .withColumn("cx2y", col("s2y").cast("double")
        - col("s2").cast("double") * col("sy").cast("double")
          / col("n").cast("double"))
      .withColumn("cyy", col("syy").cast("double")
        - col("sy").cast("double") * col("sy").cast("double")
          / col("n").cast("double"))
      .withColumn("det",
        col("cxx1") * col("cxx2") - col("cx12") * col("cx12"))
      .withColumn("b1", when(col("det") =!= 0.0,
        (col("cx1y") * col("cxx2") - col("cx2y") * col("cx12"))
          / col("det")))
      .withColumn("b2", when(col("det") =!= 0.0,
        (col("cx2y") * col("cxx1") - col("cx1y") * col("cx12"))
          / col("det")))
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
        TestData.r4(col("b1")).as("beta_qty"),
        TestData.r4(col("b2")).as("beta_disc"),
        TestData.r4(col("icept")).as("intercept"),
        TestData.r4(col("r2")).as("r_squared"))
      .orderBy("flag")

  /** Log-rank test (see `events_logrank`) between the survival
    * curves of the two groups of a per-subject (`durCol`,
    * `eventCol` 0/1, `groupCol`) frame — group 1 is `aLabel`.
    * Per-time E/V terms are micro-quantized before the sums;
    * n_t = 1 ⇒ variance term 0; V = 0 ⇒ NULL z and chi2.
    */
  def logRank(durations: DataFrame, durCol: String, eventCol: String,
              groupCol: String, aLabel: String = "control"): DataFrame = {
    val risk = durations
      .select(col(durCol).as("dur_hr"),
        col(eventCol).cast("long").as("event"),
        when(col(groupCol) === aLabel, 1L).otherwise(0L).as("g1"))
      .groupBy("dur_hr")
      .agg(sum(col("event") * col("g1")).as("d1_t"),
        sum("event").as("d_t"), sum("g1").as("a1_t"),
        count(lit(1)).as("a_t"))
      .withColumn("n_risk", sum("a_t").over(Window.partitionBy())
        - coalesce(sum("a_t").over(Window.orderBy("dur_hr")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n1_risk", sum("a1_t").over(Window.partitionBy())
        - coalesce(sum("a1_t").over(Window.orderBy("dur_hr")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    risk.filter(col("d_t") > 0)
      .withColumn("e_u", floor(col("d_t").cast("double")
        * col("n1_risk").cast("double") / col("n_risk").cast("double")
        * 1000000 + 0.5).cast("long"))
      .withColumn("v_u", when(col("n_risk") > 1,
        floor(col("d_t").cast("double")
          * (col("n1_risk").cast("double") / col("n_risk").cast("double"))
          * (lit(1.0) - col("n1_risk").cast("double")
              / col("n_risk").cast("double"))
          * (col("n_risk") - col("d_t")).cast("double")
          / (col("n_risk") - 1).cast("double")
          * 1000000 + 0.5).cast("long")).otherwise(0L))
      .agg(count(lit(1)).as("n_times"), sum("d1_t").as("o1"),
        sum("e_u").as("e1_u"), sum("v_u").as("v_u"))
      .withColumn("e1",
        TestData.r4(col("e1_u").cast("double") / 1000000.0))
      .withColumn("z_logrank", when(col("v_u") > 0,
        TestData.r4((col("o1").cast("double")
            - col("e1_u").cast("double") / 1000000.0)
          / sqrt(col("v_u").cast("double") / 1000000.0))))
      .withColumn("chi2", when(col("v_u") > 0,
        TestData.r4((col("o1").cast("double")
            - col("e1_u").cast("double") / 1000000.0)
          * (col("o1").cast("double")
            - col("e1_u").cast("double") / 1000000.0)
          / (col("v_u").cast("double") / 1000000.0))))
      .select("n_times", "o1", "e1_u", "e1", "v_u", "z_logrank", "chi2")
  }

  /** SES one-step backtest (see `ts_ses_backtest`) of an integer
    * series on an integer grid: α = 1/2 unrolled to exact ×128
    * binary-fraction taps, gap-safe equi-join fan-out (a target
    * scores only when all 8 taps exist), sMAPE/MAE readout.
    */
  def sesBacktest(series: DataFrame, xCol: String,
                  yCol: String): DataFrame = {
    import series.sparkSession.implicits._
    val hourly = series.select(col(xCol).as("hr"), col(yCol).as("cnt"))
      .ckpt()
    val weights = Seq((1, 64L), (2, 32L), (3, 16L), (4, 8L),
      (5, 4L), (6, 2L), (7, 1L), (8, 1L)).toDF("tap", "w128")
    val fc = hourly.crossJoin(broadcast(weights))
      .select((col("hr") + col("tap")).as("hr"),
        (col("cnt") * col("w128")).as("c128"))
      .groupBy("hr")
      .agg(sum("c128").as("fc128"), count(lit(1)).as("n_taps"))
      .filter(col("n_taps") === 8)
    hourly.join(fc, "hr")
      .withColumn("y128", col("cnt") * 128)
      .withColumn("term_u", when(
        abs(col("y128")) + abs(col("fc128")) > 0,
        floor(lit(2.0)
          * abs(col("y128") - col("fc128")).cast("double")
          / (abs(col("y128")) + abs(col("fc128"))).cast("double")
          * 1000000 + 0.5).cast("long")).otherwise(0L))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("y128") - col("fc128"))).as("abs_err128_sum"),
        sum("term_u").as("smape_sum_u"))
      .withColumn("mae", when(col("n_scored") > 0,
        TestData.r4(col("abs_err128_sum").cast("double") / 128.0
          / col("n_scored").cast("double"))))
      .withColumn("smape", when(col("n_scored") > 0,
        TestData.r4(col("smape_sum_u").cast("double")
          / col("n_scored").cast("double") / 1000000.0)))
      .select("n_scored", "abs_err128_sum", "mae", "smape")
  }

  /** Exact-k weighted sampling without replacement (see
    * `sample_weighted_topk`, Efraimidis–Spirakis): md5-uniform
    * u ∈ (0,1] per id, key u^(1/w) ranked in log space
    * (nano-quantized), top-k by key. Deterministic across engines,
    * runs, and cluster sizes; rows with weight ≤ 0 are dropped.
    */
  def weightedTopK(df: DataFrame, idCol: String, weightCol: String,
                   k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    val w = Window.orderBy(col("key_n").desc, col("id"))
    df.select(col(idCol).as("id"),
        col(weightCol).cast("double").as("weight"))
      .filter(col("weight") > 0)
      .withColumn("u28",
        conv(substring(md5(col("id").cast("string")), 1, 7), 16, 10)
          .cast("long"))
      .withColumn("key_n",
        floor(log((col("u28") + 1).cast("double") / lit(268435456.0))
          / col("weight") * 1000000000 + 0.5).cast("long"))
      .orderBy(col("key_n").desc, col("id"))
      .limit(k)
      .withColumn("rk", row_number().over(w))
      .select("rk", "id", "weight", "key_n")
      .orderBy("rk")
  }

  /** Randomized-response (Warner local-DP) debiased rate estimate
    * (see `privacy_rr_estimate`): each unit's 0/1 `truthCol` is
    * flipped by a salted md5 coin with probability flipNum/2^28
    * (< 1/2 required), and the per-`groupCol` aggregate debiases
    * π̂ = (p̂ − (1−p))/(2p−1) with its standard error. The raw
    * unbiased estimate may leave [0, 1] on small groups — that is
    * the estimator, not a bug.
    */
  def rrEstimate(df: DataFrame, idCol: String, truthCol: String,
                 groupCol: String,
                 flipNum: Long = 67108864L): DataFrame =
    graft.operators.Curation.rrEstimate(
      df.select(col(idCol).as("user_id"),
        col(truthCol).cast("long").as("truth"),
        col(groupCol).as("variant")), flipNum)

  /** Raking / iterative proportional fitting to uniform marginals
    * (see `sample_raking_ipf`) over a (rowCol, colCol, cntCol) cell
    * table: 3 rounds (row, col, row) of integer micro-weight
    * scaling. A row round lands every row marginal within DIV
    * truncation of its target (ClosedFormProps pin).
    */
  def rakeWeights(cells: DataFrame, rowCol: String, colCol: String,
                  cntCol: String): DataFrame =
    graft.operators.Curation.rakeIpf(
      cells.select(col(rowCol).as("row_key"), col(colCol).as("col_key"),
        col(cntCol).cast("long").as("cnt")))

  /** KS test of per-key inter-arrival gaps against Exp(λ̂) — "is the
    * traffic Poisson" (see `events_interarrival_ks`). Input an
    * event frame with key/timestamp/tie-break columns; output one
    * row (n_gaps, sum_gap_s, lambda_per_hr, d_u, reject_95).
    */
  def exponentialityKs(events: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String): DataFrame =
    graft.operators.TimeSeries.interarrivalKs(
      events.select(col(keyCol).as("user_id"), col(tsCol).as("ts"),
        col(tieCol).as("event_id")))

  /** Permutation test of a two-arm mean difference (see
    * `agg_permutation_pvalue`) over a per-unit frame (`idCol`,
    * 0/1 `armCol`, integer `valCol`): B salted-hash label
    * permutations, exact cross-multiplied ≥ comparison, add-one p
    * (never 0; zero observed difference reads 1 —
    * ClosedFormProps pins).
    */
  def permutationTest(df: DataFrame, idCol: String, armCol: String,
                      valCol: String, b: Int = 32): DataFrame = {
    require(b >= 1 && b <= 1024, "replicates in [1, 1024]")
    val pu = df.select(col(idCol).as("id"),
        col(armCol).cast("long").as("t"),
        col(valCol).cast("long").as("x"))
      .withColumn("h28",
        conv(substring(md5(concat(lit("pm|"), col("id").cast("string"))),
          1, 7), 16, 10).cast("long"))
      .ckpt()
    val obs = pu.agg(
      sum(when(col("t") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("t") =!= 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("t") === 0, col("x")).otherwise(0L)).as("s0"),
      sum(when(col("t") =!= 0, col("x")).otherwise(0L)).as("s1"))
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
        TestData.r4(col("s1").cast("double") / col("n1").cast("double")
          - col("s0").cast("double") / col("n0").cast("double"))))
      .withColumn("p_u", expr("(1 + n_ge) * 1000000 DIV (b_used + 1)"))
      .select("b_used", "n0", "n1", "diff_obs", "n_ge", "p_u")
  }

  /** Wilson 95 % score interval per group (see `agg_wilson_ci`) over
    * an event-grain frame with a group column and a 0/1 success
    * column. Never leaves [0, 1] and always contains p̂
    * (ClosedFormProps pins).
    */
  def wilsonCi(df: DataFrame, groupCol: String,
               succCol: String): DataFrame = {
    val z = 1.959964
    val z2 = z * z
    df.select(col(groupCol).as("variant"),
        col(succCol).cast("long").as("purch"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("purch").as("x"))
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
        TestData.r4(col("ph")).as("p_hat"),
        TestData.r4(col("center") - col("half")).as("ci_lo"),
        TestData.r4(col("center") + col("half")).as("ci_hi"))
      .orderBy("variant")
  }

  /** Empirical-Bayes beta-binomial shrinkage (see `agg_eb_shrinkage`)
    * over a pre-aggregated (group, n, x) frame: method-of-moments
    * Beta prior on micro-quantized group rates, shrunk rate
    * (x+α)/(n+α+β) — always between the raw rate and the prior mean
    * (ClosedFormProps pin). Degenerate moments fall back to the raw
    * rate.
    */
  def ebShrink(df: DataFrame, groupCol: String, nCol: String,
               xCol: String): DataFrame = {
    // n = 0 groups carry no rate: p_u NULL (the DIV sits inside the
    // guard branch, so ANSI never sees x DIV 0), excluded from the
    // prior moments, shrunk NULL (definition-site guard rule).
    val g = df.select(col(groupCol).as("nationkey"),
        col(nCol).cast("long").as("n"), col(xCol).cast("long").as("x"))
      .withColumn("p_u", when(col("n") > 0, expr("x * 1000000 DIV n")))
      .ckpt()
    val mom = g.filter(col("n") > 0).agg(count(lit(1)).as("k"),
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
        when(col("n") > 0,
          when(col("ok"), TestData.r4(
              (col("x").cast("double") + col("alpha"))
              / (col("n").cast("double") + col("alpha") + col("beta"))))
            .otherwise(TestData.r4(
              col("x").cast("double") / col("n").cast("double"))))
          .as("shrunk"))
      .orderBy("nationkey")
  }

  /** Hurst exponent via rescaled-range analysis (see
    * `ts_hurst_exponent`): window sizes {16, 32, 64, 128} over an
    * integer grid series, full blocks only, exact scaled-integer
    * deviations, micro-quantized log-log OLS. H ≈ 0.5 no memory,
    * → 1 persistent, → 0 mean-reverting.
    */
  def hurstExponent(series: DataFrame, xCol: String,
                    yCol: String): DataFrame =
    graft.operators.TimeSeries.hurstFit(
      series.select(col(xCol).as("hr"), col(yCol).as("y")))

  /** Heaps'-law vocabulary-growth fit (see `text_heaps_law`):
    * V = K·N^β over the corpus in `idCol` order — rangedRank +
    * shardedPrefixSum for the token counts, first-occurrence ranks
    * for the vocabulary, power-of-2 checkpoints, micro-quantized
    * log-log OLS. Returns one row (n_points, sx, sy, beta, k_coef);
    * ≤1-point fits NULL out.
    */
  def heapsLaw(docs: DataFrame, idCol: String,
               textCol: String): DataFrame =
    graft.operators.TextAnalysis.heapsFit(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Markov removal-effect attribution (see
    * `events_attribution_markov`): per-user journeys up to the first
    * `convType` event, 3 integer value-iteration rounds per removal
    * variant, all variants in one channels-sized frame. Output one
    * row per channel: (channel, last_touch_convs, removal_u,
    * share_u).
    */
  def markovAttribution(events: DataFrame, userCol: String,
                        tsCol: String, tieCol: String, typeCol: String,
                        convType: String): DataFrame =
    graft.operators.TimeSeries.markovAttribution(
      events.select(col(userCol).as("user_id"), col(tsCol).as("ts"),
        col(tieCol).as("event_id"), col(typeCol).as("event_type")),
      convType)

  /** mSPRT always-valid sequential A/B p-value (see
    * `events_ab_sequential`) over an event-grain frame: `lookCol`
    * orders the looks, `tCol` is the 0/1 arm flag, `succCol` the 0/1
    * success flag. Per look the cumulative cells give θ̂ and pooled
    * V; ln Λ = ½ln(V/(V+τ²)) + θ̂²τ²/(2V(V+τ²)) micro-quantized at
    * the definition site; p_k = exp(−max_{j≤k} max(lnΛ_j, 0)) is
    * monotone non-increasing by construction (ClosedFormProps pin).
    */
  def msprtSequential(df: DataFrame, lookCol: String, tCol: String,
                      succCol: String, tau2: Double = 0.0001): DataFrame = {
    require(tau2 > 0, "mixture prior variance tau2 must be positive")
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(lookCol).as("day"), col(tCol).as("t"),
        col(succCol).as("purch"))
      .groupBy("day")
      .agg(
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("d_nc"),
        sum(when(col("t") =!= 0, 1L).otherwise(0L)).as("d_nt"),
        sum(when(col("t") === 0, col("purch")).otherwise(0L)).as("d_sc"),
        sum(when(col("t") =!= 0, col("purch")).otherwise(0L)).as("d_st"))
      .select(col("day"),
        sum("d_nc").over(wCum).cast("long").as("n_c"),
        sum("d_nt").over(wCum).cast("long").as("n_t"),
        sum("d_sc").over(wCum).cast("long").as("s_c"),
        sum("d_st").over(wCum).cast("long").as("s_t"))
      .withColumn("pbar", when(col("n_c") + col("n_t") > 0,
        (col("s_c") + col("s_t")).cast("double")
          / (col("n_c") + col("n_t")).cast("double")))
      .withColumn("theta", when(col("n_c") > 0 && col("n_t") > 0,
        col("s_t").cast("double") / col("n_t").cast("double")
          - col("s_c").cast("double") / col("n_c").cast("double")))
      .withColumn("v", when(col("n_c") > 0 && col("n_t") > 0
          && col("s_c") + col("s_t") > 0
          && col("s_c") + col("s_t") < col("n_c") + col("n_t"),
        col("pbar") * (lit(1.0) - col("pbar"))
          * (lit(1.0) / col("n_c").cast("double")
            + lit(1.0) / col("n_t").cast("double"))))
      .withColumn("llr_u", when(col("v") > 0,
        floor((lit(0.5) * log(col("v") / (col("v") + lit(tau2)))
          + col("theta") * col("theta") * lit(tau2)
            / (lit(2.0) * col("v") * (col("v") + lit(tau2))))
          * 1000000 + 0.5).cast("long")))
      .withColumn("mx_u",
        greatest(coalesce(max("llr_u").over(wCum), lit(0L)), lit(0L)))
      .withColumn("p_seq_u",
        floor(exp(-col("mx_u").cast("double") / 1000000.0)
          * 1000000 + 0.5).cast("long"))
      .withColumn("significant", col("p_seq_u") < 50000L)
      .select("day", "n_c", "n_t", "s_c", "s_t", "llr_u",
        "p_seq_u", "significant")
      .orderBy("day")
  }

  /** Holt level+trend one-step backtest (see `ts_holt_backtest`):
    * α = β = 1/2 over a trailing 12-point window unrolled to exact
    * ×4^11 taps (lag-j numerators n_{j+2} = 5n_{j+1} − 8n_j; the
    * window seed absorbs the residual mass so Σ taps = 4^11).
    * Gap-safe fan-out: a target scores only when all 12 taps exist.
    */
  def holtBacktest(series: DataFrame, xCol: String,
                   yCol: String): DataFrame = {
    import series.sparkSession.implicits._
    val hourly = series.select(col(xCol).as("hr"), col(yCol).as("cnt"))
      .ckpt()
    val weights = Seq((1, 3145728L), (2, 1835008L), (3, 720896L),
      (4, -16384L), (5, -380928L), (6, -467968L), (7, -394496L),
      (8, -259136L), (9, -126672L), (10, -28772L), (11, 27371L),
      (12, 139657L)).toDF("tap", "w4m")
    val fc = hourly.crossJoin(broadcast(weights))
      .select((col("hr") + col("tap")).as("hr"),
        (col("cnt") * col("w4m")).as("c4m"))
      .groupBy("hr")
      .agg(sum("c4m").as("fc4m"), count(lit(1)).as("n_taps"))
      .filter(col("n_taps") === 12)
    hourly.join(fc, "hr")
      .withColumn("y4m", col("cnt") * 4194304L)
      .withColumn("term_u", when(
        abs(col("y4m")) + abs(col("fc4m")) > 0,
        floor(lit(2.0)
          * abs(col("y4m") - col("fc4m")).cast("double")
          / (abs(col("y4m")) + abs(col("fc4m"))).cast("double")
          * 1000000 + 0.5).cast("long")).otherwise(0L))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("y4m") - col("fc4m"))).as("abs_err4m_sum"),
        sum("term_u").as("smape_sum_u"))
      .withColumn("mae", when(col("n_scored") > 0,
        TestData.r4(col("abs_err4m_sum").cast("double") / 4194304.0
          / col("n_scored").cast("double"))))
      .withColumn("smape", when(col("n_scored") > 0,
        TestData.r4(col("smape_sum_u").cast("double")
          / col("n_scored").cast("double") / 1000000.0)))
      .select("n_scored", "abs_err4m_sum", "mae", "smape")
  }

  /** Holt-Winters level+trend+seasonal one-step backtest (see
    * `ts_holtwinters_backtest`): additive triple smoothing
    * α = β = γ = 1/2 at seasonal lag 168 over a trailing 12-step
    * window — shorter than the lag, so every seasonal read is a seed
    * and the recursion unrolls exactly to 25 integer ×4^11 taps
    * (seasonal-naive + the Holt taps on lag-168 differences).
    * Gap-safe: a target scores only when all 25 taps exist.
    */
  def holtWintersBacktest(series: DataFrame, xCol: String,
                          yCol: String): DataFrame =
    graft.operators.TimeSeries.holtWintersCore(
      series.select(col(xCol).as("hr"), col(yCol).as("cnt")))

  /** Fisher exact two-sided 2×2 test (see `events_ab_fisher_exact`)
    * over (variant 0/1, success 0/1) rows — exact at any cell size,
    * unlike the z/χ² keys. Ratio-recursion hypergeometric: micro-nat
    * integer log-weights make the two-sided decision an exact
    * integer comparison; support is min-margin-bounded (use the
    * normal-approximation keys for margins in the millions).
    */
  def fisherExact(flags: DataFrame, variantCol: String,
                  successCol: String): DataFrame =
    graft.operators.TimeSeries.fisherExactCore(
      flags.select(col(variantCol).cast("int").as("t"),
        col(successCol).cast("long").as("purch")))

  /** Huber M-estimator of location (see `agg_huber_mean`) per group
    * over (group, tie, y-integer-units) rows: 3 unrolled clipped-
    * mean rounds at the MAD-scaled width (c = 1.345) — inliers
    * contribute their value, outliers clip. MAD = 0 groups read the
    * median (a fixpoint, no guard needed); every mean is an exact
    * long-sum divide.
    */
  def huberMean(units: DataFrame, groupCol: String, tieCol: String,
                yCol: String): DataFrame =
    graft.operators.Stats.huberMean(
      units.select(col(groupCol).as("seg"), col(tieCol).as("tie"),
        col(yCol).cast("long").as("cents")))

  /** ICC + Kish design effect (see `agg_design_effect`) over
    * (cluster, y) unit rows: how much cluster sampling inflates
    * variance vs SRS — n_effective = n/DEFF. Pure exact-BIGINT
    * sufficient statistics; k ≤ 1 / degenerate denominators read
    * NULL. Use integer y units (cents); the Σy² bound is the
    * ratio_estimator precedent.
    */
  def designEffect(units: DataFrame, clusterCol: String,
                   yCol: String): DataFrame =
    graft.operators.Stats.designEffect(
      units.select(col(clusterCol).as("cluster"),
        col(yCol).cast("long").as("y")))

  /** Cliff's delta ordinal effect size (see `agg_cliffs_delta`)
    * between two groups of a value column: δ = (gt − lt)/(n_a·n_b)
    * with exact pair counts off the value-distinct cell grid, plus
    * the Romano magnitude band. One-sided / empty inputs read NULL
    * delta, never a throw.
    */
  def cliffsDelta(df: DataFrame, valueCol: String, groupCol: String,
                  aLabel: String = "control",
                  bLabel: String = "treatment"): DataFrame =
    graft.operators.Stats.cliffsDelta(
      twoGroupCells(df, valueCol, groupCol, aLabel, bLabel))

  /** Mood's median test (see `agg_mood_median`) between two groups:
    * 2×2 above/not-above the grand lower median with exact counts
    * and the Pearson χ² (1 df) verdict at 95 %. Zero marginals read
    * NULL χ².
    */
  def moodMedianTest(df: DataFrame, valueCol: String, groupCol: String,
                     aLabel: String = "control",
                     bLabel: String = "treatment"): DataFrame =
    graft.operators.Stats.moodMedian(
      twoGroupCells(df, valueCol, groupCol, aLabel, bLabel))

  /** Jarque-Bera normality test (see `agg_jarque_bera`) per group
    * over integer-unit values: skewness, excess kurtosis, JB and
    * the χ²₂ 5 % verdict from one pass of exact-BIGINT raw moments
    * (n·max(x)⁴ < 2^63 — pre-scale x past that). Constant groups
    * read NULL.
    */
  def jarqueBera(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame =
    graft.operators.Stats.jarqueBera(
      df.select(col(groupCol).as("flag"),
        col(valueCol).cast("long").as("x")))

  /** Wilcoxon signed-rank test (see `agg_wilcoxon_signed_rank`)
    * over integer paired-delta rows: magnitude-aware nonparametric
    * paired test; zeros dropped, doubled midranks over the
    * |d|-distinct grid, tie-corrected normal z. Overflowing tie
    * cells read NULL, never a throw.
    */
  def wilcoxonSignedRank(df: DataFrame, deltaCol: String): DataFrame =
    graft.operators.Stats.wilcoxonSignedRank(
      df.select(col(deltaCol).cast("long").as("d_w")))

  /** Exact two-sided sign test (see `agg_sign_test`) over integer
    * paired-delta rows: assumption-free paired verdict under the
    * exact Binomial(n, 1/2) null (Fisher ratio-recursion protocol
    * — no factorial table, integer decision rule).
    */
  def signTestExact(df: DataFrame, deltaCol: String): DataFrame =
    graft.operators.Stats.signTestExact(
      df.select(col(deltaCol).cast("long").as("d_w")))

  /** Turning point randomness test (see `ts_turning_points`) over
    * an ordered (orderCol, valueCol) series: strict local extrema
    * vs Kendall's iid moments. Series shorter than 3 reads NULL z.
    */
  def turningPointTest(series: DataFrame, orderCol: String,
                       valueCol: String): DataFrame =
    graft.operators.TimeSeries.turningPointCore(
      series.select(col(orderCol).as("hr"),
        col(valueCol).cast("long").as("n")))

  /** Session bounce-rate readout (see `events_bounce_rate`) over a
    * session frame with a landing label and an event count per
    * session (compose with [[sessionize]]): one-event-session share
    * and mean depth per landing label.
    */
  def bounceRate(sessions: DataFrame, landingCol: String,
                 nEventsCol: String): DataFrame =
    graft.operators.TimeSeries.bounceReadout(
      sessions.select(col(landingCol).as("landing_type"),
        col(nEventsCol).cast("long").as("n_events")))

  /** Bowley skew + Moors kurtosis (see `agg_quantile_skew`) per
    * group over integer-unit values: the quantile-based shape
    * profile that stays defined on heavy tails where 3rd/4th
    * moments explode. Zero IQR reads NULL.
    */
  def quantileShape(df: DataFrame, groupCol: String, tieCol: String,
                    valueCol: String): DataFrame =
    graft.operators.Stats.quantileShape(
      df.select(col(groupCol).as("seg"), col(tieCol).as("tie"),
        col(valueCol).cast("long").as("cents")))

  /** Bartlett's equal-variance test (see `agg_bartlett_test`) per
    * group: the sharp (normality-assuming) sibling of
    * [[Stats]] Levene — emits T and df; any n < 2 or zero-variance
    * group reads NULL T.
    */
  def bartlettTest(df: DataFrame, groupCol: String,
                   valueCol: String): DataFrame =
    graft.operators.Stats.bartlettCore(
      df.select(col(groupCol).as("lang"),
        col(valueCol).cast("long").as("x")))

  /** Hodges-Lehmann two-sample shift (see `agg_hodges_lehmann`):
    * the median of all bLabel−aLabel differences — the robust
    * effect-size AMOUNT that belongs to [[mannWhitney]]'s verdict.
    * Differences on the cell-grid cross product (domain², never
    * user²).
    */
  def hodgesLehmann(df: DataFrame, valueCol: String, groupCol: String,
                    aLabel: String = "control",
                    bLabel: String = "treatment"): DataFrame =
    graft.operators.Stats.hodgesLehmannCore(
      twoGroupCells(df, valueCol, groupCol, aLabel, bLabel))

  /** Hodges-Lehmann shift with its Moses rank-based 95 % CI (see
    * `agg_hodges_lehmann_ci`): the k-th / (N+1−k)-th order
    * statistics of the pairwise differences at the normal-
    * approximation rank — the error bar [[hodgesLehmann]]'s point
    * estimate needs. ci_lo ≤ hl_shift ≤ ci_hi by construction.
    */
  def hodgesLehmannCi(df: DataFrame, valueCol: String, groupCol: String,
                      aLabel: String = "control",
                      bLabel: String = "treatment"): DataFrame =
    graft.operators.Stats.hodgesLehmannCiCore(
      twoGroupCells(df, valueCol, groupCol, aLabel, bLabel))

  /** Fisher's combined-probability test (see `agg_fisher_combined`)
    * over micro-unit (1e-6) p values: X² = −2Σln p ~ χ²(2m), with
    * the Wilson-Hilferty normal verdict — pools weak consistent
    * signals across tests. Null p rows should be filtered first.
    */
  def fisherCombined(df: DataFrame, pMicroCol: String): DataFrame =
    graft.operators.Stats.fisherCombinedCore(
      df.filter(col(pMicroCol).isNotNull)
        .select(col(pMicroCol).cast("long").as("p_u")))

  /** Storey λ = ½ null-fraction estimate (see `agg_storey_pi0`) over
    * micro-unit p values: π̂0 = 2·#{p > ½}/m clamped to 1 — how much
    * of the test family is truly null (BH assumes all of it).
    */
  def storeyPi0(df: DataFrame, pMicroCol: String): DataFrame =
    graft.operators.Stats.storeyPi0Core(
      df.filter(col(pMicroCol).isNotNull)
        .select(col(pMicroCol).cast("long").as("p_u")))

  /** Distribution-free 95 % median CI (see `agg_median_ci`) per
    * group over integer-unit values: sign-test-inversion order
    * statistics — the error bar a median dashboard publishes where
    * parametric ±1.96·SE is invalid.
    */
  def medianCi(df: DataFrame, groupCol: String, tieCol: String,
               valueCol: String): DataFrame =
    graft.operators.Stats.medianCiCore(
      df.select(col(groupCol).as("seg"), col(tieCol).as("tie"),
        col(valueCol).cast("long").as("cents")))

  /** Welch's ANOVA (see `agg_welch_anova`) per group over integer
    * values: the k-group mean test WITHOUT the equal-variance
    * assumption — what you run when [[bartlettTest]] rejects.
    * Degenerate groups (n < 2, zero variance) read NULL F.
    */
  def welchAnova(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame =
    graft.operators.Stats.welchAnovaCore(
      df.select(col(groupCol).as("lang"),
        col(valueCol).cast("long").as("x")))

  /** Poisson dispersion test (see `ts_poisson_dispersion`) over
    * count rows: D = (n−1)s²/x̄ with the √(2D) − √(2df−1) normal
    * approximation — are arrivals Poisson or over-dispersed.
    * Constant / empty input reads NULL.
    */
  def poissonDispersion(df: DataFrame, countCol: String): DataFrame =
    graft.operators.TimeSeries.poissonDispersionCore(
      df.select(col(countCol).cast("long").as("y")))

  /** Engle's ARCH-LM test (see `ts_arch_lm`) over an integer-keyed
    * series: is the variance autocorrelated (volatility
    * clustering). Constant / too-short series read NULL.
    */
  def archLmTest(series: DataFrame, orderCol: String,
                 valueCol: String): DataFrame =
    graft.operators.TimeSeries.archLmCore(
      series.select(col(orderCol).cast("long").as("xh"),
        col(valueCol).cast("long").as("y")))

  /** Equal-weight forecast-combination backtest (see
    * `ts_forecast_combination`) over an (hour-key, count) series:
    * snaive / Holt / Holt-Winters / combo MAE + sMAPE from one
    * 25-tap pass.
    */
  def forecastCombination(series: DataFrame, hourCol: String,
                          valueCol: String): DataFrame =
    graft.operators.TimeSeries.forecastCombinationCore(
      series.select(col(hourCol).cast("long").as("hr"),
        col(valueCol).cast("long").as("cnt")))

  /** Aalen-Johansen competing risks (see `events_competing_risks`)
    * over (duration, cause 0 = censored / 1 / 2) rows: cumulative
    * incidence per cause — the correct replacement for running two
    * separate 1−KM curves when causes compete.
    */
  def competingRisks(df: DataFrame, durationCol: String,
                     causeCol: String): DataFrame =
    graft.operators.TimeSeries.aalenJohansen(
      df.select(col(durationCol).cast("long").as("dur"),
        col(causeCol).cast("long").as("cause")))

  /** ADF(1) unit-root test (see `ts_adf_test`) over an integer-
    * keyed (orderCol, valueCol) series: Dickey-Fuller t on γ in
    * Δy = α + γ·y₋₁ + φ·Δy₋₁, gap-safe equi-join lags. Collinear /
    * constant series read NULL.
    */
  def adfTest(series: DataFrame, orderCol: String,
              valueCol: String): DataFrame =
    graft.operators.TimeSeries.adfCore(
      series.select(col(orderCol).cast("long").as("xh"),
        col(valueCol).cast("long").as("y")))

  /** KPSS level-stationarity test (see `ts_kpss_test`) over an
    * ordered (orderCol, valueCol) series — the complement of
    * [[adfTest]] (null = stationary). Bartlett bandwidth-4 long-run
    * variance; constant series read NULL.
    */
  def kpssTest(series: DataFrame, orderCol: String,
               valueCol: String): DataFrame =
    graft.operators.TimeSeries.kpssCore(
      series.select(col(orderCol).as("hr"),
        col(valueCol).cast("long").as("y")))

  /** Order-3 Bandt-Pompe permutation entropy (see
    * `ts_permutation_entropy`) over an ordered (orderCol, valueCol)
    * series: pattern-histogram entropy in nats + the ln(6)-
    * normalized h ∈ [0,1]. Ties rank by time.
    */
  def permutationEntropy(series: DataFrame, orderCol: String,
                         valueCol: String): DataFrame =
    graft.operators.TimeSeries.permutationEntropyCore(
      series.select(col(orderCol).as("hr"),
        col(valueCol).cast("long").as("a")))

  /** Brier score + Murphy decomposition (see `eval_brier_score`)
    * over (score 1e-4-unit BIGINT, label 0/1) rows: the proper-
    * scoring-rule verdict on whether a detector score is calibrated
    * AND discriminating. Empty input reads NULL.
    */
  def brierScore(scored: DataFrame, scoreCol: String,
                 labelCol: String): DataFrame =
    graft.operators.TextOps.brierScore(
      scored.select(col(scoreCol).cast("long").as("score_u"),
        col(labelCol).cast("long").as("is_pos")))

  /** KS separation per detector (see `eval_ks_separation`) over
    * (detector, quantized score, label 0/1) rows: max |F_pos −
    * F_neg| with its argmax threshold — the largest achievable
    * TPR − FPR and the cut that achieves it. One-class reads NULL.
    */
  def ksSeparation(scored: DataFrame, detectorCol: String,
                   scoreCol: String, labelCol: String): DataFrame =
    graft.operators.TextOps.ksSeparationCore(
      scored.select(col(detectorCol).as("detector"),
        col(scoreCol).cast("long").as("score_u"),
        col(labelCol).cast("long").as("is_pos")))

  /** Isotonic calibration fit (see `eval_calibration_fit`) over
    * (quantized score BIGINT, label 0/1) rows: the PAVA monotone
    * regression of label on score via the minimax closed form over
    * the score-distinct grid — the map that CORRECTS a
    * mis-calibrated detector score. fit_u is floor(1e6 · exact fit);
    * output is monotone non-decreasing in score by construction.
    */
  def isotonicFit(scored: DataFrame, scoreCol: String,
                  labelCol: String): DataFrame =
    graft.operators.TextOps.isotonicFitCore(
      scored.select(col(scoreCol).cast("long").as("score_u"),
        col(labelCol).cast("long").as("is_pos")))

  /** Sampled harmonic closeness (see `graph_closeness_sample`):
    * undirected (a, b) edges + seed rows → per-seed Σ 1/dist over a
    * depth-truncated BFS, normalized by (N−1). Unreached nodes
    * contribute exactly 0 (the harmonic form's point).
    */
  def harmonicCloseness(nodes: DataFrame, idCol: String,
                        edges: DataFrame, seeds: DataFrame,
                        seedCol: String, depth: Int = 4): DataFrame =
    GraphOps.closenessCore(
      GraphOps.bfsFrom(edges, seeds.select(col(seedCol).as("seed")),
        depth),
      nodes.agg(count(lit(1)).as("n_nodes")))

  /** Adamic-Adar link prediction (see `graph_adamic_adar`) over
    * undirected (a, b) edges: top-k non-edge pairs by
    * Σ 1/ln(deg) over common neighbors — the evidence-weighted
    * alternative to [[linkPredict]]'s jaccard.
    */
  def adamicAdar(edges: DataFrame, topK: Int = 20): DataFrame =
    GraphOps.adamicAdarCore(edges, topK)

  /** K-occurrence hubness (see `vec_hubness`): in-degree skewness
    * of a directed kNN list (`targetCol` = the neighbor column) over
    * the node set — the embedding-space pathology detector (hubs
    * poison ANN recall; antihubs are unreachable).
    */
  def hubness(nodes: DataFrame, idCol: String, directedEdges: DataFrame,
              targetCol: String): DataFrame =
    GraphOps.hubnessCore(nodes.select(col(idCol).as("id")),
      directedEdges.select(col(targetCol).as("nn")))

  /** Cumulative gains/lift by score band (see `eval_lift_curve`)
    * over (score 1e-4-unit BIGINT, label 0/1) rows — the review-
    * budget planner: what fraction of true positives sits above
    * each score band, at what concentration vs random.
    */
  def liftCurve(scored: DataFrame, scoreCol: String,
                labelCol: String): DataFrame =
    graft.operators.TextOps.liftCurve(
      scored.select(col(scoreCol).cast("long").as("score_u"),
        col(labelCol).cast("long").as("is_pos")))

  /** Coleman-Liau index (see `text_coleman_liau`) of (`id`, `text`)
    * rows — the character-based readability grade (no syllable
    * heuristic). Zero-word docs are dropped.
    */
  def colemanLiau(docs: DataFrame): DataFrame = {
    val words = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
    docs
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_sentences", greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long")))
      .withColumn("n_letters", aggregate(
        transform(words, w => length(w).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .filter(col("n_words") > 0)
      .withColumn("cli", TestData.r4(lit(0.0588)
        * (lit(100.0) * col("n_letters").cast("double")
          / col("n_words").cast("double"))
        - lit(0.296) * (lit(100.0) * col("n_sentences").cast("double")
          / col("n_words").cast("double"))
        - lit(15.8)))
      .select("id", "n_words", "n_sentences", "n_letters", "cli")
      .orderBy("id")
  }

  /** SMOG grade (see `text_smog`) of (`id`, `text`) rows — the
    * polysyllable-density √-law readability; with Flesch/fog/CLI/ARI
    * completes the panel. Zero-word docs are dropped.
    */
  def smogGrade(docs: DataFrame): DataFrame = {
    val words = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
    docs
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_sentences", greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long")))
      .withColumn("n_poly", size(filter(words, w =>
        size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))) >= 3))
        .cast("long"))
      .filter(col("n_words") > 0)
      .withColumn("smog", TestData.r4(lit(1.043)
        * sqrt(col("n_poly").cast("double") * 30.0
          / col("n_sentences").cast("double"))
        + lit(3.1291)))
      .select("id", "n_words", "n_sentences", "n_poly", "smog")
      .orderBy("id")
  }

  /** Automated Readability Index (see `text_ari`) of (`id`, `text`)
    * rows — the second character-based grade, weighting
    * words-per-sentence where CLI weights letters-per-word.
    */
  def ariIndex(docs: DataFrame): DataFrame = {
    val words = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
    docs
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_sentences", greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long")))
      .withColumn("n_letters", aggregate(
        transform(words, w => length(w).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .filter(col("n_words") > 0)
      .withColumn("ari", TestData.r4(lit(4.71)
        * (col("n_letters").cast("double")
          / col("n_words").cast("double"))
        + lit(0.5) * (col("n_words").cast("double")
          / col("n_sentences").cast("double"))
        - lit(21.43)))
      .select("id", "n_words", "n_sentences", "n_letters", "ari")
      .orderBy("id")
  }

  /** Schuirmann TOST equivalence (see `events_ab_tost`) over
    * (variant 0/1, success 0/1) rows at margin δ = 0.01 absolute
    * rate difference — "is treatment EQUIVALENT within δ", the
    * non-inferiority sign-off absence-of-significance cannot give.
    * equivalent ⇔ p_tost < 0.05 (the 90% CI inside ±δ); one-armed /
    * degenerate inputs read NULL.
    */
  def tostEquivalence(flags: DataFrame, variantCol: String,
                      successCol: String): DataFrame =
    graft.operators.TimeSeries.tostCore(
      flags.select(col(variantCol).cast("int").as("t"),
        col(successCol).cast("long").as("purch")))

  /** Bayesian A/B probability-to-beat-control (see `events_ab_bayes`)
    * over (variant 0/1, success 0/1) rows: exact
    * P(p_t > p_c | Beta(1,1) posteriors) via the closed-form Beta
    * sum — no Monte Carlo, no quadrature. Count-bounded explodes;
    * use the normal approximation past tens of millions of
    * successes.
    */
  def bayesAb(flags: DataFrame, variantCol: String,
              successCol: String): DataFrame =
    graft.operators.TimeSeries.bayesAbCore(
      flags.select(col(variantCol).cast("int").as("t"),
        col(successCol).cast("long").as("purch")))

  /** Nelson-Aalen cumulative hazard + Fleming–Harrington survival
    * (see `events_nelson_aalen`) over (duration, event 0/1) rows —
    * the estimator published next to Kaplan-Meier; every hazard term
    * is an exact integer ratio (d·1e6 DIV n), no transcendental
    * before the readouts.
    */
  def nelsonAalen(durations: DataFrame, durCol: String,
                  eventCol: String): DataFrame =
    graft.operators.TimeSeries.nelsonAalenCore(
      durations.select(col(durCol).as("dur"),
        col(eventCol).cast("long").as("ev")))

  /** Cox proportional hazards with ONE binary covariate and Breslow
    * ties (see `events_cox_ph`): 3 unrolled Newton rounds on
    * risk-set sufficient statistics over the distinct duration grid;
    * returns the 1-row (n_times, n_events, d1_total, beta,
    * hazard_ratio, se_beta, z_cox) readout. Degenerate inputs (no
    * events, single group, zero information) read NULL, never throw.
    */
  def coxPh(durations: DataFrame, durCol: String, eventCol: String,
            groupCol: String): DataFrame =
    graft.operators.TimeSeries.coxPhCore(
      durations.select(col(durCol).as("dur"),
        col(eventCol).cast("long").as("ev"),
        col(groupCol).cast("long").as("g1")))

  /** Harrell C-index for a binary risk score (see
    * `events_cox_cindex`): concordance of "group 1 converts first"
    * over the comparable pairs, ties ½ — the ranking-quality verdict
    * on the model [[coxPh]] fits. C < ½ means group 0 is riskier
    * (exactly 1 − C of the swapped coding).
    */
  def coxCIndex(durations: DataFrame, durCol: String, eventCol: String,
                groupCol: String): DataFrame =
    graft.operators.TimeSeries.cIndexCore(
      durations.select(col(durCol).as("dur"),
        col(eventCol).cast("long").as("ev"),
        col(groupCol).cast("long").as("g1")))

  /** Two-regressor logistic regression via 3 unrolled IRLS rounds
    * (see `agg_logistic_irls`): returns the 1-row (n, n_pos, beta0,
    * beta1, beta2, brier) readout. Collinear or degenerate inputs
    * read NULL betas, never throw; features should be sanely scaled
    * (|x| ≲ 1e4 — the documented sufficient-stat bound).
    */
  def logisticIrls(df: DataFrame, yCol: String, x1Col: String,
                   x2Col: String): DataFrame =
    graft.operators.Stats.logisticIrlsCore(
      df.select(col(yCol).cast("long").as("y"),
        col(x1Col).cast("long").as("x1"),
        col(x2Col).cast("long").as("x2")))

  /** One-regressor Poisson regression (log link) via 3 unrolled IRLS
    * rounds from the ln-mean seed (see `agg_poisson_glm`): returns
    * the 1-row (n, sum_y, beta0, beta1, rate_ratio, dispersion)
    * readout. Degenerate inputs read NULL, never throw; dispersion
    * > 1 is the overdispersion flag (`ts_poisson_dispersion`'s
    * in-model sibling). Features should be sanely scaled (the
    * documented Σμx² bound).
    */
  def poissonGlm(df: DataFrame, yCol: String, xCol: String): DataFrame =
    graft.operators.Stats.poissonIrlsCore(
      df.select(col(yCol).cast("long").as("y"),
        col(xCol).cast("long").as("x")))

  /** One-regressor Gamma regression, log link (see `agg_gamma_glm`):
    * 3 unrolled IRLS rounds from the ln-mean seed over POSITIVE
    * integer responses (e.g. spend cents) — the fitter for positive
    * skewed continuous outcomes where Poisson/NB (counts) misfit.
    * Non-positive y rows are excluded (the Gamma domain). Returns
    * the 1-row (n, sum_y, beta0, beta1, rate_ratio, dispersion,
    * shape_hat) readout; degenerate inputs read NULL, never throw.
    */
  def gammaGlm(df: DataFrame, yCol: String, xCol: String): DataFrame =
    graft.operators.Stats.gammaIrlsCore(
      df.select(col(yCol).cast("long").as("y"),
        col(xCol).cast("long").as("x")))

  /** One-covariate ANCOVA (see `agg_ancova`): per-group adjusted
    * means ȳ_g − b_w(x̄_g − x̄) under the pooled within-group slope
    * — the group comparison net of a covariate. Zero pooled
    * covariate variance reads NULL slope/adjusted means.
    */
  def ancova(df: DataFrame, groupCol: String, yCol: String,
             xCol: String): DataFrame =
    graft.operators.Stats.ancovaCore(
      df.select(col(groupCol).as("g"), col(yCol).cast("long").as("y"),
        col(xCol).cast("long").as("x")))

  /** Zipf rank-frequency log-log fit (see `text_zipf_fit`) over a
    * (term, frequency) table: OLS slope (≈ −1 under Zipf), intercept
    * in ln-units, r². Single-type tables read NULL.
    */
  def zipfFit(freqs: DataFrame, termCol: String,
              freqCol: String): DataFrame =
    graft.operators.TextAnalysis.zipfCore(
      freqs.select(col(termCol).as("word"),
        col(freqCol).cast("long").as("n")))

  /** Negative-binomial method-of-moments fit (see
    * `agg_negative_binomial`) over count rows: r̂ = m²/(s²−m),
    * p̂ = m/s² — the model that absorbs the overdispersion
    * [[poissonGlm]]'s dispersion readout detects. s² ≤ m reads NULL
    * r̂ with overdispersed = false (NB degenerates to Poisson).
    */
  def negativeBinomialFit(df: DataFrame, countCol: String): DataFrame =
    graft.operators.Stats.negBinomialCore(
      df.select(col(countCol).cast("long").as("y")))

  /** Interpolated Kneser-Ney bigram perplexity (see
    * `text_kn_perplexity`): trains on the given corpus, scores each
    * document — per-doc (n_bigrams, avg_logp_kn, ppl_kn). The
    * beyond-add-one quality-filter LM.
    */
  def knPerplexity(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    graft.operators.Relevance.knPerplexityCore(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Interpolated trigram Kneser-Ney perplexity (see
    * `text_kn3_perplexity`): order-3 KN interpolating into the
    * bigram KN backoff — the curation-grade fluency score (a bigram
    * model under-penalizes locally-fluent incoherence). Per-doc
    * (n_trigrams, avg_logp_kn3, ppl_kn3); docs under 3 tokens drop.
    */
  def knPerplexity3(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    graft.operators.Relevance.kn3PerplexityCore(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Spectral entropy over the 7 candidate periods (see
    * `ts_spectral_entropy`) of an (hour, value) series: how
    * concentrated the periodic energy is — near 0 means one clean
    * season worth modeling, near 1 means broadband noise. Returns
    * the 7-row period table with shares and the global entropy.
    */
  def spectralEntropy(series: DataFrame, hrCol: String,
                      valueCol: String): DataFrame =
    graft.operators.TimeSeries.spectralEntropyCore(
      series.select(col(hrCol).cast("long").as("hr"),
        col(valueCol).cast("long").as("n")))

  /** Log loss / cross-entropy of 1e-4-unit scores vs binary labels
    * (see `eval_log_loss`), with the climatology baseline and skill.
    */
  def logLoss(scored: DataFrame, scoreCol: String,
              labelCol: String): DataFrame =
    graft.operators.TextOps.logLossCore(
      scored.select(col(scoreCol).cast("long").as("score_u"),
        col(labelCol).cast("long").as("is_pos")))

  /** Durbin-Watson residual-autocorrelation test after an OLS
    * detrend (see `ts_durbin_watson`) over (t, y) integer-grid
    * points. Degenerate series read NULL.
    */
  def durbinWatson(series: DataFrame, tCol: String,
                   yCol: String): DataFrame =
    graft.operators.TimeSeries.durbinWatsonCore(
      series.select(col(tCol).cast("long").as("t"),
        col(yCol).cast("long").as("n")))

  /** Cross-correlation function r_xy(k), k ∈ −6..6 (see `ts_ccf`)
    * over (t, x, y) integer-grid rows: which series leads which, by
    * how many periods (a positive-lag peak means x leads y). Exact
    * integer deviations, gap-safe lag equi-joins; constant series
    * read NULL ccf.
    */
  def crossCorrelation(series: DataFrame, tCol: String, xCol: String,
                       yCol: String): DataFrame =
    graft.operators.TimeSeries.ccfCore(
      series.select(col(tCol).cast("long").as("t"),
        col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y")))

  /** Box-Cox λ selection over positive values (see
    * `ts_box_cox_lambda`): profile log-likelihood on the λ grid
    * {−1, −½, 0, ½, 1} with the argmax flagged — which variance-
    * stabilizing transform to model on. Non-positive rows are
    * excluded (the Box-Cox domain).
    */
  def boxCoxLambda(df: DataFrame, yCol: String): DataFrame =
    graft.operators.TimeSeries.boxCoxCore(
      df.select(col(yCol).cast("long").as("y")))

  /** Partial correlation corr(x, y | z) per group (see
    * `agg_partial_corr`), next to the marginal corr(x, y).
    */
  def partialCorr(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String, zCol: String): DataFrame =
    graft.operators.Stats.partialCorrCore(
      df.select(col(groupCol).as("flag"),
        col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"),
        col(zCol).cast("long").as("z")))

  /** Cronbach's alpha over k item columns of a subject-wide frame
    * (see `agg_cronbach_alpha`). Requires k ≥ 2 items.
    */
  def cronbachAlpha(wide: DataFrame, items: Seq[String]): DataFrame =
    graft.operators.Stats.cronbachAlphaCore(wide, items)

  /** Best single-threshold split of x for binary y by information
    * gain (see `agg_decision_stump`) — the 1-split learner / tree
    * primitive. Empty or unsplittable input returns 0 rows.
    */
  def decisionStump(df: DataFrame, yCol: String,
                    xCol: String): DataFrame =
    graft.operators.Stats.decisionStumpCore(
      df.select(col(yCol).cast("long").as("y"),
        col(xCol).cast("long").as("x")))

  /** Two-way ANOVA with interaction (see `agg_two_way_anova`):
    * sequential (Type-I-style) decomposition over the a × b cell
    * grid; SS_A + SS_B + SS_AB + SS_W = SS_T exactly in quantized
    * units by construction. Degenerate inputs read NULL F's.
    */
  def twoWayAnova(df: DataFrame, aCol: String, bCol: String,
                  yCol: String): DataFrame =
    graft.operators.Stats.twoWayAnovaCore(
      df.select(col(aCol).as("a"), col(bCol).as("b"),
        col(yCol).cast("long").as("y")))

  /** Residual-quantile prediction band on the Holt-Winters forecast
    * (see `ts_holtwinters_interval`): exact ×4^11 integer one-step
    * residuals, empirical 5th/95th order statistics, band + exact-
    * integer covered flag on the last 24 fully-tapped points.
    * Under-20-point series read a NULL band, never a throw.
    */
  def holtWintersInterval(series: DataFrame, xCol: String,
                          yCol: String): DataFrame =
    graft.operators.TimeSeries.hwIntervalCore(
      series.select(col(xCol).as("hr"), col(yCol).as("cnt")))

  /** AR(2) one-step backtest (see `ts_ar2_backtest`): gap-safe lag
    * equi-joins, exact-BIGINT sufficient stats, Cramer's rule on the
    * centered 2×2 (det = 0 ⇒ NULL φ and scores), fitted coefficients
    * broadcast back for in-sample one-step scoring with per-row
    * micro-quantized error terms. Use `ts_pacf` to choose the order.
    */
  def ar2Backtest(series: DataFrame, xCol: String,
                  yCol: String): DataFrame =
    graft.operators.TimeSeries.ar2Core(
      series.select(col(xCol).as("hr"), col(yCol).as("cnt")))

  /** Shard-merged approximate quantiles (see `profile_quantile_merge`):
    * per-shard equi-depth histograms (`buckets` bounds, rangedRank —
    * no single-task sort at any shard skew) merged by a weighted
    * cumulative to global quantiles at integer percentiles `pcts`.
    * All-integer closed form — exactly reproducible, unlike GK.
    * `tieCols` must make (valCol ++ tieCols) a total order per shard.
    */
  def mergedQuantiles(df: DataFrame, shardCol: String, valCol: String,
                      tieCols: Seq[String], buckets: Int = 32,
                      pcts: Seq[Int] = Seq(25, 50, 75, 90, 99)): DataFrame = {
    require(tieCols.size == 2, "exactly two tie-break columns")
    graft.operators.Maintenance.mergedQuantiles(
      df.select(col(shardCol).as("shard"),
        col(valCol).cast("long").as("v"),
        col(tieCols.head).as("tb1"), col(tieCols(1)).as("tb2")),
      buckets, pcts)
  }

  /** Seeded-sample Brandes betweenness (see `graph_betweenness_sample`):
    * BFS from the seed set truncated at `depth`, exact integer path
    * counts, backward dependency passes micro-quantized via integer
    * DIV. Returns (id, bc_u) for every node (0 when unreached);
    * seeds accumulate no score (endpoints excluded, the standard
    * convention).
    */
  def sampledBetweenness(nodes: DataFrame, idCol: String,
                         edges: DataFrame, aCol: String, bCol: String,
                         seeds: DataFrame, seedCol: String,
                         depth: Int = 4): DataFrame = {
    require(depth >= 1 && depth <= 8, "depth in [1, 8]")
    graft.operators.GraphOps.sampledBetweenness(
      nodes.select(col(idCol).as("id")),
      edges.select(col(aCol).as("a"), col(bCol).as("b")),
      seeds.select(col(seedCol).as("seed")), depth)
  }
}
