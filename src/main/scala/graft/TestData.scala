package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture loaders for the driver-generated parquet tables
  * (`/root/testdata/sf*` — see TESTDATA.md / FIXTURES.md).
  *
  * Design notes (SURVEY.md §1.2 / M0):
  *   - Parquet carries its own schema; we read it as-is and normalize
  *     only where the physical type needs care (`events.ts` is INT64
  *     TIMESTAMP(NANOS) which Spark 4.1.2 rejects by default). Reading
  *     it is not free: with no declared schema, every [[table]] call
  *     runs a Spark job that lists the file and reads its footer
  *     ("parquet at TestData.scala"), one job per key call that reads
  *     a fixture. `IndexStore` declares its schema and skips that job;
  *     doing the same here is part of ROADMAP item 3 (the CPU spent
  *     outside the tasks).
  *   - `events.ts` recipe verified in the survey session: read as
  *     epoch-nanos Long via `spark.sql.legacy.parquet.nanosAsLong`,
  *     then truncating-divide to micros. DuckDB reads the same column
  *     natively truncated to µs, so both engines agree exactly.
  *   - At bench scale everything fits comfortably in memory; queries
  *     are declarative so Catalyst handles pushdown/pruning from these
  *     plain `spark.read.parquet` scans.
  */
object TestData {

  // One cached loader per (sfDir, table) per run (SURVEY.md §6):
  // Bench opts in so its 110 queries share a memory-resident copy of
  // each fixture instead of re-scanning parquet per query. Verify and
  // the test suites leave this OFF — their plans must keep exercising
  // the real parquet scans (pushdown/pruning assertions in PlanSpec,
  // driver-shaped correctness in Verify).
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
  @volatile private var cacheEnabled = false

  /** Enable per-(sfDir, table) persisted loaders for this JVM. */
  def enableCache(): Unit = { cacheEnabled = true }

  /** Generic table loader. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (cacheEnabled)
      memo.getOrElseUpdate((sfDir, name), {
        val df = spark.read.parquet(s"$sfDir/$name.parquet")
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df
      })
    else spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")

  /** Embeddings with the raw float array cast to double for arithmetic
    * (SURVEY.md §1.2: cast before arithmetic; never emit raw arrays).
    */
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))

  /** Events loader — normalizes `ts` to a µs TimestampType regardless
    * of the fixture generation's physical type (FIXTURES.md has seen
    * both INT64 TIMESTAMP(NANOS) and plain timestamp[us]):
    *   - LongType (epoch-ns under `nanosAsLong`): truncating integer
    *     DIV to µs — `/` is double division in Spark SQL and doubles
    *     can't hold epoch-nanos (~1.7e18 > 2^53).
    *   - TIMESTAMP_NTZ (timestamp[us], isAdjustedToUTC=false): cast to
    *     TimestampType — exact micros-preserving under the UTC session
    *     timezone every entrypoint sets.
    *   - TimestampType: already the target shape.
    * DuckDB reads the same file natively at µs in every generation, so
    * both engines agree bit-for-bit on the internal micros value.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => // TIMESTAMP_NTZ (or future variants): value-preserving in UTC
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Deterministic cross-engine 4-decimal rounding: `round()` differs
    * between Spark (BigDecimal HALF_UP on the shortest repr) and
    * DuckDB at half-ulp boundaries; `floor(x*1e4 + 0.5)/1e4` is pure
    * IEEE arithmetic and therefore bit-identical in both engines.
    * Mirror in oracle SQL as `floor(x*10000 + 0.5)/10000`.
    */
  def r4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
}
