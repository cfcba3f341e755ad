package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Entry-point contract — see SURVEY.md (repo root) §0.1 / §7.
  *
  * `queries` is the declared operator inventory (SURVEY.md §2): one
  * key per implemented operator, each locally diffed against DuckDB
  * before being declared (§5.2). `oracleSql` carries the equivalent
  * ANSI SQL; keys without an oracle are the legitimately
  * non-SQL-expressible sketches/iterative ops.
  */
object SparkEntry {

  private val groups: Seq[(String,
                           Map[String, (SparkSession, String) => DataFrame],
                           Map[String, String])] = Seq(
    ("Scans", Scans.defs, Scans.oracles),
    ("Filters", Filters.defs, Filters.oracles),
    ("Aggregates", Aggregates.defs, Aggregates.oracles),
    ("Joins", Joins.defs, Joins.oracles),
    ("Windows", Windows.defs, Windows.oracles),
    ("SortsSetOps", SortsSetOps.defs, SortsSetOps.oracles),
    ("ScalarFns", ScalarFns.defs, ScalarFns.oracles),
    ("Vectors", Vectors.defs, Vectors.oracles),
    ("TextOps", TextOps.defs, TextOps.oracles),
    ("TextAnalysis", TextAnalysis.defs, TextAnalysis.oracles),
    ("Streaming", Streaming.defs, Streaming.oracles),
    ("UserFns", UserFns.defs, UserFns.oracles),
    ("AnnSearch", AnnSearch.defs, AnnSearch.oracles),
    ("MultimodalOps", MultimodalOps.defs, MultimodalOps.oracles),
    ("SourceFormats", SourceFormats.defs, SourceFormats.oracles),
    ("IndexPipeline", IndexPipeline.defs, IndexPipeline.oracles),
    ("ScalePatterns", ScalePatterns.defs, ScalePatterns.oracles),
    ("Subqueries", Subqueries.defs, Subqueries.oracles),
    ("Quantize", Quantize.defs, Quantize.oracles),
    ("TimeSeries", TimeSeries.defs, TimeSeries.oracles),
    ("ProductQuantize", ProductQuantize.defs, ProductQuantize.oracles),
    ("GraphOps", GraphOps.defs, GraphOps.oracles),
    ("TrainedQuantize", TrainedQuantize.defs, TrainedQuantize.oracles),
    ("EmbedDedup", EmbedDedup.defs, EmbedDedup.oracles),
    ("Relevance", Relevance.defs, Relevance.oracles),
    ("BinaryQuantize", BinaryQuantize.defs, BinaryQuantize.oracles),
    ("Maintenance", Maintenance.defs, Maintenance.oracles),
    ("Curation", Curation.defs, Curation.oracles),
    ("Tokenize", Tokenize.defs, Tokenize.oracles),
    ("Stats", Stats.defs, Stats.oracles)
  )

  /** Operator object implementing a declared key (COVERAGE.md source). */
  def implementingObject(key: String): String =
    groups.collectFirst { case (n, d, _) if d.contains(key) => n }
      .getOrElse(sys.error(s"unknown key: $key"))

  /** Flagship on sf0.001 (driver smoke-checks rows>0): the
    * reference's whole story in one job — dedup → embed → coarse
    * quantize → partitioned IVF index write → shard stats.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_index_build")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.map(_._2).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    groups.map(_._3).reduce(_ ++ _)
}
