package perfbench

import scala.collection.mutable

import graft.api.GraftEngine
import graft.streaming.StreamOps.Vec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** State of one iteration: operation counts, check time and the samples
  * it contributes. An operation is one facade call, key or search batch.
  * An operation that throws or fails a check counts as failed and adds
  * no latency sample. */
final class Iter(val n: Int, val tracer: Tracer) {
  var attempted = 0
  var failed = 0
  var checkNs = 0L
  var checkCpuNs = 0L
  /** Workload metrics (search latency, recall, ...), by name. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer figures only the workload can see (file counts, ...). */
  val extras = mutable.LinkedHashMap.empty[String, Double]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Runs a timed operation in its own span; returns its result and
    * seconds. An exception is counted and rethrown: it ends the
    * iteration. */
  def op[T](span: String)(body: => T): (T, Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(span)(body)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] iteration $n $span $secs%.3f s")
      (r, secs)
    }
    catch { case e: Throwable => failed += 1; throw new OpFailed(span, e) }
  }

  /** Work that verifies results: excluded from `wall_s` and `cpu_s`. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime(); val c0 = Process.workNs
    try tracer.span("check")(body)
    finally { checkNs += System.nanoTime() - t0; checkCpuNs += Process.workNs - c0 }
  }

  /** Records a failed check of operation `what`; returns `ok`. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what $detail") }
    ok
  }
}

final class OpFailed(op: String, cause: Throwable) extends RuntimeException(s"$op failed: $cause", cause)

abstract class Workload(val name: String) {
  /** Builds this run's inputs; repeatable (set-up is timed several times). */
  def setup(): Unit
  /** One iteration, inside the iteration's root span. */
  def iteration(it: Iter): Unit
  /** Runs before each iteration, outside the timed span. */
  def reset(): Unit = ()
  /** Input sizes, recorded with every result. */
  def sizes: Map[String, Any]
}

object Fs {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
  def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
  }
}

/** The CloudVectorDB journey through the facade, one stage after the
  * other, each stage fed the previous stage's materialised result:
  * curate the documents (exact dedup, near-duplicate pairs, components),
  * mine triplets and train centroids on the vectors, build the IVF index,
  * then search it in batches with streamed appends between the batches,
  * and compact the appends. The exact top-k truth for the search batches
  * is computed in set-up; every iteration rebuilds the index and starts
  * from an empty append layout. */
final class CurateSearchAppend(spark: SparkSession, seed: Long, work: String, floors: Floors)
    extends Workload("curate_search_append") {
  import spark.implicits._
  private val engine = new GraftEngine(spark)
  private val plan = Inputs.DocPlan(seed, base = 4000, exact = 200, near = 200)
  private val nVec = 6000L
  private val clusters = 64
  private val ivfLists = 32
  private val sigma = 0.6
  private val nAnchors = 100
  private val batches = 3
  private val perBatch = 50
  private val appendBatch = 500
  private val k = 10
  private val nProbe = 4
  private val queryBase = 1L << 40
  private val appendBase = 2L << 40
  private val docsPath = s"$work/documents"
  private val vecPath = s"$work/vectors"
  private val indexPath = s"$work/index"
  private val appendPath = s"$work/appends"
  private val streamCkpt = s"$work/appends_ckpt"
  private val centres = Inputs.centres(seed, clusters)

  private val queries: IndexedSeq[DataFrame] = (0 until batches).map { b =>
    (queryBase + b * perBatch until queryBase + (b + 1) * perBatch)
      .map(id => Inputs.vector(seed, id, centres, sigma)).map(v => (v.id, v.embedding.toSeq))
      .toDF("id", "embedding")
  }
  private def appendVecs(b: Int): Seq[Vec] =
    (appendBase + b.toLong * appendBatch until appendBase + (b + 1L) * appendBatch)
      .map(id => Vec(id, Inputs.vector(seed, id, centres, sigma).embedding))
  private var truth: Map[Long, Set[Long]] = _

  def sizes: Map[String, Any] = Map("documents" -> plan.n, "exact_copies" -> plan.exact,
    "near_copies" -> plan.near, "vectors" -> nVec, "dim" -> Inputs.Dim,
    "gaussian_clusters" -> clusters, "anchors" -> nAnchors, "ivf_centroids" -> ivfLists,
    "search_batches" -> batches, "queries_per_batch" -> perBatch, "k" -> k, "n_probe" -> nProbe,
    "append_batches" -> (batches - 1), "vectors_per_append" -> appendBatch)

  def setup(): Unit = {
    Inputs.documents(spark, plan).write.mode("overwrite").parquet(docsPath)
    Inputs.vectors(spark, seed, 0L, nVec, centres, sigma).write.mode("overwrite").parquet(vecPath)
    require(spark.read.parquet(docsPath).count() == plan.n, "documents written")
    val vecs = spark.read.parquet(vecPath)
    truth = engine.knn(vecs, queries.reduce(_ union _), k).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    require(truth.size == batches * perBatch && truth.values.forall(_.size == k), "exact truth")
  }

  override def reset(): Unit =
    Seq(indexPath, appendPath, streamCkpt).foreach(p => Fs.rm(new java.io.File(p)))

  def iteration(it: Iter): Unit = {
    val docs = spark.read.parquet(docsPath)
    val vecs = spark.read.parquet(vecPath)

    val (survivors, _) = it.op("api.dedupExact") {
      engine.dedupExact(docs).collect().map(_.getLong(0))
    }
    it.untimed {
      val expected = plan.n - plan.exact
      it.check("dedupExact", survivors.length == expected &&
        survivors.forall(id => !plan.isExactCopy(id)), s"${survivors.length} != $expected")
    }
    val survivorDf = survivors.toSeq.toDF("id")

    val (pairs, _) = it.op("api.nearDuplicates") {
      engine.nearDuplicates(docs.join(survivorDf, "id"), "lang", 0.8)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val (comps, _) = it.op("api.dedupComponents") {
      engine.dedupComponents(survivorDf, pairs.toSeq.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    it.untimed {
      val found = plan.nearPairs.count { case (s, c) => comps.get(s).exists(comps.get(c).contains) }
      val recall = found.toDouble / plan.nearPairs.size
      it.sample("planted_dup_recall", recall)
      it.check("planted_dup_recall", recall >= floors.plantedDupRecall,
        f"$recall%.4f < ${floors.plantedDupRecall}")
      it.check("dedupComponents", comps.size == survivors.length, s"${comps.size} ids")
    }

    val (triplets, _) = it.op("api.mineTriplets") {
      engine.mineTriplets(vecs, col("id") < nAnchors).collect()
    }
    it.untimed {
      def label(id: Long) = Inputs.vector(seed, id, centres, sigma).label
      it.check("mineTriplets", triplets.length == nAnchors && triplets.forall(t =>
        label(t.posId) == label(t.anchorId) && label(t.negId) != label(t.anchorId)),
        s"${triplets.length} triplets")
    }

    val (trained, _) = it.op("api.trainCentroids") {
      engine.trainCentroids(vecs, ivfLists, seed).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    }
    it.check("trainCentroids", trained.length == ivfLists)
    val cents = trained.map(_._2)
    val centsDf = trained.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("cid", "cv")

    it.op("api.buildIvfIndex") {
      engine.buildIvfIndex(vecs.select("id", "embedding"), centsDf, indexPath)
    }
    it.untimed {
      val n = spark.read.parquet(indexPath).count()
      val files = Fs.parquetFiles(indexPath)
      it.check("buildIvfIndex", n == nVec, s"$n rows")
      it.sample("index_bytes_per_vector", files.map(_.length).sum.toDouble / nVec)
      it.extras("io.index_files") = files.size.toDouble
    }

    val input = MemoryStream[Vec](spark)
    val (stream, _) = it.op("stream.start") {
      engine.appendToIvfIndex(input.toDF(), centsDf, appendPath)
        .option("checkpointLocation", streamCkpt).start()
    }
    try {
      for (b <- 0 until batches) {
        val (hits, s) = it.op("api.ivfSearch") {
          engine.ivfSearch(indexPath, centsDf, queries(b), k, nProbe).collect()
        }
        it.untimed {
          val got = hits.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
          val ids = queryBase + b * perBatch until queryBase + (b + 1) * perBatch
          val r = ids.map(q => (got.getOrElse(q, Set.empty[Long]) & truth(q)).size.toDouble / k).sum / perBatch
          if (it.check("recall_at_10", r >= floors.recallAt10, f"batch $b: $r%.4f < ${floors.recallAt10}")) {
            it.sample("search_s", s)
            it.sample("recall_at_10", r)
            it.extras("search.results") = it.extras.getOrElse("search.results", 0.0) + hits.length
          }
        }
        if (b < batches - 1) {
          val vs = appendVecs(b)
          val (landed, s) = it.op("api.appendToIvfIndex") {
            input.addData(vs)
            stream.processAllAvailable()
            spark.read.parquet(appendPath).filter(col("batch") === b)
              .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
          }
          it.untimed {
            val ok = landed.size == vs.size && vs.forall(v =>
              landed.get(v.vec_id).contains(Inputs.nearest(v.embedding, cents)))
            if (it.check("append", ok, s"batch $b: ${landed.size} of ${vs.size} readable in their cluster"))
              it.sample("fresh_s", s)
          }
        }
      }
    } finally stream.stop()
    it.untimed { it.extras("io.files_before_compact") = Fs.parquetFiles(appendPath).size.toDouble }
    val (_, s) = it.op("api.compactIvfIndex") { engine.compactIvfIndex(appendPath) }
    it.untimed {
      val all = spark.read.parquet(appendPath).select("vec_id").as[Long].collect()
      val expected = (batches - 1) * appendBatch
      if (it.check("compactIvfIndex", all.length == expected && all.distinct.length == expected,
          s"${all.length} rows after compaction, expected $expected"))
        it.sample("compact_s", s)
    }
  }
}

/** A seed-permuted pass over declared keys of the CloudVectorDB story,
  * each result collected in full and fingerprinted. `expected` is None
  * only while the fingerprints are being recorded. */
final class StoryKeys(spark: SparkSession, seed: Long, fixture: String,
                      expected: Option[Map[String, String]]) extends Workload("story_keys") {
  private val queries = graft.SparkEntry.queries
  val recorded = mutable.LinkedHashMap.empty[String, String]

  private var rows = Map.empty[String, Long]
  def sizes: Map[String, Any] = rows ++ Map("keys" -> StoryKeys.keys.size)

  def setup(): Unit =
    rows = Seq("documents", "embeddings").map(t => t -> spark.read.parquet(s"$fixture/$t.parquet").count()).toMap

  def iteration(it: Iter): Unit = {
    val order = new scala.util.Random(Inputs.mix(seed, it.n.toLong)).shuffle(StoryKeys.keys)
    for (key <- order) {
      val (result, _) = it.op(s"key.$key") { queries(key)(spark, fixture).collect() }
      it.untimed {
        val fp = Fingerprint.of(result)
        recorded(key) = fp
        expected.foreach { fps =>
          val e = fps.get(key)
          it.check(s"key.$key fingerprint", e.contains(fp), s"$fp != ${e.getOrElse("(none recorded)")}")
        }
      }
    }
  }
}

object StoryKeys {
  /** Six of the story's keys, to keep a run near one minute (see
    * README.md). `pipeline_index_build` could not be one of them: it
    * writes its index under a fixed absolute path outside the checkout. */
  val keys: Seq[String] = Seq("ann_hnsw_topk", "ann_graph_topk", "ann_ivf_pq_topk",
    "triplet_mine_bucketed", "dedup_minhash_components", "kmeans_lloyd")
}

/** Order-independent fingerprint of a collected result over all
  * columns: the row count and the wrapping sum of 64-bit row hashes.
  * Doubles are rendered with 12 significant digits, so the last-bit
  * noise of a reordered floating-point sum does not count as a change. */
object Fingerprint {
  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.12g".formatLocal(java.util.Locale.ROOT, d)
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (a, b) => render(a) + "→" + render(b) }
      .sorted.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = render(r)
      val h = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234)
      val l = scala.util.hashing.MurmurHash3.stringHash(s, 0x4321)
      sum += Inputs.mix(h.toLong, l.toLong)
    }
    f"${rows.length}%d:$sum%016x"
  }
}
