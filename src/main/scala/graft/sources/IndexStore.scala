package graft.sources

import graft.CkptOps

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8
import graft.TestData
import graft.operators.Vectors
import graft.functions.{VectorOps => V}

/** The stored IVF index; nothing else writes or reads its files.
  *
  * Layout: parquet data columns (vec_id, embedding), partitioned by
  * (cluster, batch). A build or a compaction writes the compacted
  * generation `batch = -1`, one file per inverted list; each streaming
  * append writes its own `batch = n`. `cluster` leads, so a search that
  * probes 2 of k lists reads 2/k of the files (partition pruning
  * through the probe join) — at 100 TB with k = 4096 the difference
  * between a full-table scan and a few hundred MB. Reads declare the
  * schema rather than infer it from the files, so an index built from
  * an empty corpus reads as an empty table.
  */
object IndexStore {

  /** Bump when the layout or the fixture's assignment recipe changes:
    * a committed fixture index is reused per (version, input).
    */
  private val Version = "v2"

  /** `cluster` is INT, the type partition inference gave the fixture
    * index's LONG centroid ids, so keys that output it keep their schema.
    */
  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType)),
    StructField("cluster", IntegerType),
    StructField("batch", LongType)))

  def ivfIndexPath(sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    s"/root/repo/target/tmp/ivf_index_${Version}_$tag"
  }

  /** The fixture index over the 4 fixed centroids, built if absent;
    * returns its path. The skip marker is content-sensitive (size +
    * mtime of the input fixture), so a regenerated fixture rebuilds it.
    */
  def ensureIvfIndex(s: SparkSession, d: String): String = {
    val path = ivfIndexPath(d)
    WriteOnce.ensure(path, WriteOnce.inputTag(d, "embeddings")) {
      val e = TestData.embeddings(s, d)
      build(e, Vectors.fixedCentroids(e), path)
    }
    path
  }

  def readIvfIndex(s: SparkSession, d: String): DataFrame =
    read(s, ensureIvfIndex(s, d))

  /** Every generation of the index at `path`: (vec_id, embedding,
    * cluster, batch).
    */
  def read(s: SparkSession, path: String): DataFrame =
    s.read.schema(schema).parquet(path)

  /** Write a (vec_id, embedding) corpus assigned to `centroids` as the
    * index at `path`, replacing what was there; returns the assignment
    * (vec_id, embedding, cluster, dist).
    */
  def build(corpus: DataFrame, centroids: DataFrame, path: String): DataFrame = {
    val assigned = V.assignToCentroids(corpus, centroids, Seq("vec_id", "embedding"))
    writeCompacted(assigned, path)
    assigned
  }

  /** Replace the index at `path` with `assigned` as generation -1. The
    * rows are hash-repartitioned by `cluster`, so one task writes each
    * list: one file per list, not one per (input split, list). The
    * overwrite also deletes the compaction marker.
    */
  private def writeCompacted(assigned: DataFrame, path: String): Unit =
    stored(assigned, -1L).repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster", "batch").parquet(path)

  private def stored(assigned: DataFrame, batch: Long): DataFrame =
    assigned.select(col("vec_id").cast(LongType), col("embedding").cast(ArrayType(DoubleType)),
      col("cluster"), lit(batch).as("batch"))

  /** Records the highest append batchId folded into `batch = -1`.
    * Without it, a batch replayed AFTER compaction (a stream restarted
    * from an older checkpoint) would write its `batch = n` partitions
    * again and duplicate vectors that already live in `batch = -1`.
    */
  private def compactionMarker(s: SparkSession, indexPath: String) = {
    val p = new Path(indexPath, "_COMPACTED_THROUGH")
    (p, p.getFileSystem(s.sessionState.newHadoopConf()))
  }

  /** Highest batchId folded by [[compactIvfIndex]]; −1 when never
    * compacted.
    */
  def compactedThrough(s: SparkSession, indexPath: String): Long = {
    val (p, fs) = compactionMarker(s, indexPath)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** Append one micro-batch of (vec_id, embedding) vectors as
    * generation `batchId`. Idempotent: the write is a DYNAMIC partition
    * overwrite, so a replayed batch replaces its own partitions, and
    * assignment is deterministic, so the replacement is exact. Batches
    * at or below the compaction marker are skipped.
    */
  def ivfAppendBatch(centroids: DataFrame, indexPath: String)
                    (batch: DataFrame, batchId: Long): Unit = {
    if (batchId <= compactedThrough(batch.sparkSession, indexPath)) return
    stored(V.assignToCentroids(batch, centroids, Seq("vec_id", "embedding")), batchId)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster", "batch").parquet(indexPath)
  }

  /** Fold every generation into `batch = -1`, one file per list:
    * small-file accumulation is THE failure mode of streaming appends
    * at scale — scan cost grows with file count, not data size. The
    * snapshot is materialized (`localCheckpoint`, filled by the
    * max-batch job) before the overwrite, so the rewrite never reads
    * the files it replaces. MUST NOT run while an append stream on the
    * same path is active: the static overwrite races with an in-flight
    * dynamic append and can drop its batch. The rewrite covers the
    * built generation too; at 100 TB it runs per hot cluster (SCALE.md).
    */
  def compactIvfIndex(s: SparkSession, indexPath: String): Unit = {
    val snap = read(s, indexPath).ckpt()
    val maxBatch = snap.agg(max(when(col("batch") >= 0L, col("batch")))).first()
    val through = math.max(
      if (maxBatch.isNullAt(0)) -1L else maxBatch.getLong(0),
      compactedThrough(s, indexPath))
    writeCompacted(snap, indexPath)
    val (p, fs) = compactionMarker(s, indexPath)
    val out = fs.create(p, true)
    try out.write(through.toString.getBytes(UTF_8))
    finally out.close()
  }

  /** The IVF probe search: each query (qid, qv) probes its `nProbe`
    * nearest centroids, the probes broadcast-join the `index` rows
    * (vec_id, embedding, cluster) of those lists — on a stored index
    * the join on the partition column prunes the read — and the top
    * `k` per query by raw cosine (ties by vec_id) are kept, the query
    * itself excluded. Output: (qid, rank, vec_id, score).
    */
  def search(index: DataFrame, centroids: DataFrame, queries: DataFrame,
             k: Int, nProbe: Int): DataFrame = {
    val probes = V.nearestCentroids(queries, col("qv"), centroids, Seq("qid", "qv"), nProbe)
      .select(col("qid"), col("qv"), col("cluster").as("probe_cluster"))
    val wTop = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    index.join(broadcast(probes), col("cluster") === col("probe_cluster"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", V.cosine(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("score"))
  }
}
