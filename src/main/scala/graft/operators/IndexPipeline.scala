package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData
import graft.TestData.r4
import graft.sources.WriteOnce
import graft.functions.{VectorOps => V}

/** The reference's whole pipeline (README.md:2: corpus → dedup →
  * embeddings → vector-db build) as ONE lazily-planned Spark job,
  * per SURVEY.md §3.2:
  *
  *   documents ── exact dedup (md5 groupBy) ── survivors
  *       ⋈ embeddings (doc_id = vec_id)
  *       → coarse quantize to k=4 fixed centroids (broadcast argmin)
  *       → WRITE the IVF index: parquet partitioned by cluster
  *       → read back through partition discovery → per-shard stats
  *
  * The declared output is the read-back shard summary, so the oracle
  * (which recomputes the same stats relationally) validates the
  * entire chain including the partitioned round-trip. Every stage is
  * a DataFrame→DataFrame function; at scale the only shuffles are
  * the dedup groupBy and the final stats aggregation — assignment is
  * map-side (broadcast centroids) and the write is partition-local.
  */
object IndexPipeline {
  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(
    "pipeline_index_build" -> ((s, d) => {
      // S1-ish: exact-dedup the corpus, keep survivor ids.
      val survivors = TestData.documents(s, d)
        .withColumn("h", TextOps.contentHash)
        .groupBy("h")
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      // S3: attach embeddings (shared id space doc_id = vec_id).
      val embedded = survivors
        .join(TestData.embeddings(s, d),
              col("doc_id") === col("vec_id"))
        .select(col("vec_id"), col("embedding"), col("label"))
      // S4: coarse-quantize against broadcast fixed centroids.
      val cents = Vectors.fixedCentroids(TestData.embeddings(s, d))
      val assigned = V
        .assignToCentroids(embedded, cents, Seq("vec_id", "label"))
        .select("vec_id", "label", "cluster", "dist")
      // Write the index shards, partitioned by cluster.
      val tmp = WriteOnce.path("pipeline_index_build")
      assigned.write.mode("overwrite").partitionBy("cluster").parquet(tmp)
      // Read back through partition discovery → shard summary.
      s.read.parquet(tmp)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vectors"),
             countDistinct(col("label")).as("n_labels"),
             r4(avg(col("dist"))).as("mean_dist"),
             min(col("vec_id")).as("min_vec_id"))
        .orderBy("cluster")
    })
  )

  private val E = "embedding::DOUBLE[]"

  val oracles: Map[String, String] = Map(
    "pipeline_index_build" ->
      s"""WITH survivors AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(lower(trim(text)))),
        |emb AS (
        |  SELECT e.vec_id, e.label, e.$E AS v
        |  FROM survivors s JOIN embeddings e ON s.doc_id = e.vec_id),
        |c AS (SELECT vec_id AS cid, $E AS cv FROM embeddings WHERE vec_id < 4),
        |scored AS (
        |  SELECT emb.vec_id, emb.label, c.cid,
        |    list_sum(list_transform(list_zip(emb.v, c.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        |  FROM emb CROSS JOIN c),
        |assigned AS (
        |  SELECT vec_id, label, cid AS cluster, sqrt(d2) AS dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM scored)
        |SELECT cluster, count(*) AS n_vectors,
        |  count(DISTINCT label) AS n_labels,
        |  floor((avg(dist))*10000 + 0.5)/10000 AS mean_dist,
        |  min(vec_id) AS min_vec_id
        |FROM assigned WHERE rn = 1
        |GROUP BY cluster ORDER BY cluster""".stripMargin
  )
}
