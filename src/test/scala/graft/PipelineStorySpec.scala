package graft

import graft.api.GraftEngine
import graft.streaming.StreamOps.Vec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The whole reference story as ONE user journey through the public
  * facade — what a CloudVectorDB user actually runs end to end:
  * dedup the corpus (exact + near-dup + cluster formation), build
  * the IVF index from the survivors' embeddings, search it, then
  * keep it fresh with streaming appends and compaction. Every stage
  * consumes the previous stage's output; nothing is fixture-bound
  * except the initial tables.
  */
class PipelineStorySpec extends SparkSpec {
  import spark.implicits._

  test("dedup → components → index build → search → append → compact") {
    val engine = new GraftEngine(spark)
    val docs = TestData.documents(spark, sf("sf0.001"))
      .select(col("doc_id").as("id"), col("text"), col("lang"))
    val emb = TestData.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id").as("id"), col("embedding"), col("label"))

    // 1. Dedup: exact survivors, then near-dup clusters among them.
    val survivors = engine.dedupExact(docs)
    assert(survivors.count() > 0 && survivors.count() <= docs.count())
    val pairs = engine.exactJaccardDuplicates(docs, "lang", 0.9)
    val comps = engine.dedupComponents(docs.select("id"), pairs)
    // one survivor per component: min id representative
    val reps = comps.groupBy(col("component")).agg(min(col("id")).as("id"))
      .select("id")
    assert(reps.count() <= docs.count())

    // 2. Index build over the deduped corpus's embeddings.
    val corpus = emb.join(reps, "id")
    val cents = engine.trainCentroids(corpus, k = 4, seed = 11L)
    val path = java.nio.file.Files.createTempDirectory("story_ivf_index").toString
    engine.buildIvfIndex(corpus, cents, path)

    // 3. Search the stored index.
    val queries = corpus.limit(3)
    val hits = engine.ivfSearch(path, cents, queries, k = 5, nProbe = 2)
    assert(hits.count() === 15)
    assert(hits.groupBy("qid").count().collect().forall(_.getLong(1) == 5))

    // 4. Keep it fresh: stream 4 new vectors into the same index. Each
    //    is a copy of a corpus vector with its first component moved,
    //    so a query with its embedding finds it at rank 1, not the
    //    original.
    val before = spark.read.parquet(path).count()
    val input = MemoryStream[Vec](spark)
    val q = engine.appendToIvfIndex(input.toDF(), cents, path).start()
    val novel = corpus.limit(4)
      .select(col("id"), col("embedding")).as[(Long, Array[Double])]
      .collect().map { case (i, e) => Vec(i + 1000000L, (e(0) + 1.0) +: e.tail) }
    try {
      input.addData(novel.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(path).count() === before + 4)
    val probe = Seq((-1L, novel(0).embedding)).toDF("id", "embedding")
    def answer(): Seq[(Int, Long)] = engine.ivfSearch(path, cents, probe, k = 5, nProbe = 2)
      .select("rank", "neighborId").as[(Int, Long)].collect().toSeq.sorted
    val fresh = answer()
    assert(fresh.head === ((1, novel(0).vec_id)), s"a search sees the appended vector: $fresh")

    // 5. Compact: the same answer, from one file per inverted list.
    engine.compactIvfIndex(path)
    assert(spark.read.parquet(path).count() === before + 4)
    assert(answer() === fresh, "compaction keeps every answer")
    val lists = new java.io.File(path).listFiles().filter(_.getName.startsWith("cluster="))
    assert(lists.nonEmpty)
    for (l <- lists) {
      assert(l.list().toSeq === Seq("batch=-1"), s"${l.getName} holds ${l.list().mkString(", ")}")
      val files = new java.io.File(l, "batch=-1").list().filter(_.endsWith(".parquet"))
      assert(files.length === 1, s"${l.getName} holds ${files.mkString(", ")}")
    }
  }

  test("curation journey: sample → dedup in vector space → prefiltered enrich") {
    // The round-3 additions as one training-data curation flow: take a
    // reproducible sample of the corpus, kill embedding-space
    // near-dups (planted scaled copies), then enrich survivors
    // against a small metadata set with the Bloom probe — each stage
    // consumes the previous one's output.
    val engine = new GraftEngine(spark)
    val emb = TestData.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id").as("id"), col("embedding"))

    // 1. Deterministic sample — same rows every run.
    val sampled = engine.sampleByHash(emb, Seq("id"), 0.8)
    assert(sampled.count() > 0 && sampled.count() < emb.count())

    // 2. Embedding-space dedup over sample ∪ planted scaled copies.
    val planted = sampled.limit(5)
      .select((col("id") + 700000L).as("id"),
        transform(col("embedding"), x => x * lit(3.0)).as("embedding"))
    val withDups = sampled.unionAll(planted)
    val dupPairs = engine.embeddingDuplicates(withDups, dim = 64,
      threshold = 0.99)
    val comps = engine.dedupComponents(withDups.select("id"), dupPairs)
    val survivors = comps.filter(col("id") === col("component")).select("id")
    assert(survivors.count() === sampled.count(),
      "every planted copy must collapse into its original's component")

    // 3. Bloom-prefiltered enrichment against a small labeled subset.
    val labeled = TestData.embeddings(spark, sf("sf0.001"))
      .filter(col("label") === 3)
      .select(col("vec_id").as("lid"), col("label"))
    val enriched = engine.bloomPrefilter(
        survivors, "id", labeled, "lid", expectedKeys = 1000)
      .join(labeled, col("id") === col("lid"))
    val exact = survivors.join(labeled, col("id") === col("lid"))
    assert(enriched.count() === exact.count(),
      "bloom prefilter must be transparent to the exact join")
  }

  test("training-mix journey: decontaminate → chunk → hybrid-retrieve the corpus") {
    // The round-4 additions as one curation-and-retrieval flow:
    // scrub benchmark contamination out of the corpus, window the
    // survivors into model-sized chunks, then answer a query against
    // the clean corpus with hybrid lexical+vector ranking — each
    // stage consumes the previous stage's output.
    val engine = new GraftEngine(spark)
    val docs = TestData.documents(spark, sf("sf0.001"))
      .select(col("doc_id").as("id"), col("text"), col("lang"))
    val emb = TestData.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id").as("id"), col("embedding"))

    // 1. Decontaminate: treat a slice as the benchmark; docs sharing
    //    5-token shingles with it (including, trivially, the slice
    //    itself re-ingested) must be dropped.
    val benchmark = docs.filter(col("id") < 5)
    val contaminated = engine.decontaminate(docs, benchmark, k = 5)
    val cIds = contaminated.select("id").as[Long].collect().toSet
    assert((0L until 5L).forall(cIds.contains),
      "benchmark members must self-flag")
    val clean = docs.join(contaminated.select("id"), Seq("id"), "left_anti")
    assert(clean.count() === docs.count() - cIds.size)

    // 2. Chunk the clean corpus for the encoder window.
    val chunks = engine.chunkTokens(clean, size = 32, stride = 24)
    assert(chunks.count() >= clean.count(), "every doc yields >= 1 chunk")

    // 3. Hybrid retrieval over the clean corpus: BM25 arm + vector
    //    arm, RRF-fused; no contaminated doc may surface.
    import org.apache.spark.sql.expressions.Window
    val lex = engine.bm25(clean, Seq("join", "scan"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("id"))))
      .select("id", "rank").limit(20)
    val vec = engine.knn(emb.join(clean.select("id"), "id"),
        emb.filter(col("id") === 0), 20)
      .select(col("neighborId").as("id"), col("rank"))
    val fused = engine.rrfFuse(lex, vec)
      .orderBy(col("rrf").desc, col("id")).limit(10)
      .select("id").as[Long].collect()
    assert(fused.length === 10)
    assert(fused.forall(id => !cIds.contains(id)),
      "contaminated docs must not surface in retrieval")
  }
}
