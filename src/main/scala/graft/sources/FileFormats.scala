package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Text-format source/sink support (CSV, JSON-lines) with explicit
  * schemas on read — schema inference is never used (it requires an
  * extra full pass over the data and is non-deterministic under
  * sampling; at 100 TB it's simply off the table).
  */
object FileFormats {

  /** Write `df` as headered CSV and read it back with the given
    * schema. Exercises the whole text codec path: quoting, header
    * skip, typed parse.
    */
  def csvRoundTrip(spark: SparkSession, df: DataFrame, schema: StructType,
                   path: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    spark.read.schema(schema).option("header", "true").csv(path)
  }

  /** Write `df` as JSON lines and read it back with the given schema. */
  def jsonRoundTrip(spark: SparkSession, df: DataFrame, schema: StructType,
                    path: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).json(path)
    spark.read.schema(schema).json(path)
  }

  /** Write `df` as ORC and read it back with the given schema —
    * the columnar alternative to parquet (self-describing, but the
    * explicit schema keeps the no-inference rule uniform). Exercises
    * the second columnar codec path incl. its own predicate-pushdown
    * machinery.
    */
  def orcRoundTrip(spark: SparkSession, df: DataFrame, schema: StructType,
                   path: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).orc(path)
    spark.read.schema(schema).orc(path)
  }

  /** Write a single `value` string column as raw text lines and read
    * it back — the line-oriented ingest path (log shipping, one-doc-
    * per-line corpora). Caller embeds/parses any record structure;
    * text files split by line, so reads parallelize per block like
    * CSV/JSON.
    */
  def textRoundTrip(spark: SparkSession, lines: DataFrame,
                    path: String): DataFrame = {
    lines.write.mode(SaveMode.Overwrite).text(path)
    spark.read.text(path)
  }

  /** Materialize each row's BINARY payload as its own file under a
    * per-input dir (named `doc_<id>.bin`), then read the directory
    * back through Spark's `binaryFile` source — the real media-lake
    * ingest path (an image/audio crawl lands as one object per
    * asset, and Spark lists + reads them in parallel, one partition
    * per file batch). EXECUTORS write their partitions' files
    * directly (foreachPartition, no driver collect); on a cluster the
    * sink root would be shared storage. The files land in the
    * per-input sink `name` for `table` of `sfDir`, and WriteOnce skips
    * the fan-out write when the committed file set for this input
    * already exists.
    */
  def binaryFilesRoundTrip(spark: SparkSession, payloads: DataFrame,
      idCol: String, contentCol: String, name: String, sfDir: String,
      table: String): DataFrame = {
    import org.apache.spark.sql.{functions => F, Row}
    val dir = WriteOnce.sink(name, sfDir, table) { dir =>
      val d = new java.io.File(dir)
      d.mkdirs()
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".bin")).foreach(_.delete())
      payloads.select(F.col(idCol).cast("long"), F.col(contentCol))
        .foreachPartition { (it: Iterator[Row]) =>
          it.foreach { r =>
            val f = new java.io.File(dir, f"doc_${r.getLong(0)}%08d.bin")
            java.nio.file.Files.write(f.toPath, r.getAs[Array[Byte]](1))
          }
        }
      java.nio.file.Files.write(
        new java.io.File(dir, "_SUCCESS").toPath, Array.emptyByteArray)
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir)
  }
}
