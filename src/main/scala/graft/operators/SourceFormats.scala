package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.TestData
import graft.TestData.r4
import graft.sources.WriteOnce
import graft.sources.FileFormats

/** CSV / JSON source-and-sink round-trips: write a fixture table in
  * the text format, read it back with an explicit schema, aggregate.
  * The oracle computes the same aggregate on the original table, so
  * any loss in the codec path (quoting, typed parse, double
  * round-trip) hash-fails. Doubles survive because Spark writes
  * shortest-round-trip representations.
  */
object SourceFormats {
  type Q = (SparkSession, String) => DataFrame

  private val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** (c_custkey, c_acctbal) plus the permissive readers' corrupt
    * record column.
    */
  private val CorruptSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_acctbal", DoubleType),
    StructField("_corrupt_record", StringType)))

  /** Writes one text line per customer to `path`: `bad` for every
    * c_custkey ≡ 3 (mod 10), `good` for the rest.
    */
  private def writeCustomerLines(s: SparkSession, d: String, path: String,
                                 bad: Column, good: Column): Unit =
    TestData.customer(s, d)
      .select(when(col("c_custkey") % 10 === 3, bad).otherwise(good)
        .as("value"))
      .write.mode("overwrite").text(path)

  /** Row, corrupt-record and parsed-row (non-null `good`) counts and
    * the balance sum of a PERMISSIVE read of [[CorruptSchema]].
    */
  private def permissiveCounts(read: DataFrame, good: String): DataFrame =
    read.agg(count(lit(1)).as("n_rows"),
      count(col("_corrupt_record")).as("n_corrupt"),
      count(col(good)).as("n_good"),
      r4(sum(col("c_acctbal"))).as("sum_bal"))

  val defs: Map[String, Q] = Map(
    "source_csv_roundtrip" -> ((s, d) => {
      val back = FileFormats.csvRoundTrip(s, TestData.part(s, d), partSchema,
        WriteOnce.path("source_csv_roundtrip"))
      back.groupBy("p_brand")
        .agg(count(lit(1)).as("n"), r4(sum("p_retailprice")).as("sum_price"),
             max("p_size").as("max_size"))
        .orderBy("p_brand")
    }),

    "source_json_roundtrip" -> ((s, d) => {
      val back = FileFormats.jsonRoundTrip(s, TestData.customer(s, d),
        customerSchema, WriteOnce.path("source_json_roundtrip"))
      back.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), r4(sum("c_acctbal")).as("sum_bal"))
        .orderBy("c_mktsegment")
    }),

    "source_orc_roundtrip" -> ((s, d) => {
      val back = FileFormats.orcRoundTrip(s,
        TestData.orders(s, d).select("o_orderkey", "o_custkey",
          "o_orderstatus", "o_totalprice"),
        ordersSchema, WriteOnce.path("source_orc_roundtrip"))
      back.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), r4(sum("o_totalprice")).as("sum_price"),
             min("o_orderkey").as("min_key"))
        .orderBy("o_orderstatus")
    }),

    // Raw text-lines roundtrip: documents serialized one per line as
    // "doc_id<TAB>lang<TAB>text", read back as value strings, parsed
    // with bounded split (text itself may contain no tabs in the
    // fixture; a real pipeline would escape). Verifies the
    // line-oriented ingest path end-to-end — parse failures or line
    // splits would break the per-lang token totals.
    "source_text_roundtrip" -> ((s, d) => {
      val lines = TestData.documents(s, d)
        .select(concat_ws("\t", col("doc_id"), col("lang"),
          col("text")).as("value"))
      val back = FileFormats.textRoundTrip(s, lines,
        WriteOnce.path("source_text_roundtrip"))
      back
        .withColumn("f", split(col("value"), "\t", 3))
        .select(col("f").getItem(0).cast("long").as("doc_id"),
          col("f").getItem(1).as("lang"), col("f").getItem(2).as("text"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("n_chars"),
             min(col("doc_id")).as("min_id"))
        .orderBy("lang")
    }),

    // CORRUPT-RECORD RECOVERY: a JSON source where every 10th record
    // (c_custkey % 10 = 3) is malformed; PERMISSIVE parse routes bad
    // lines to _corrupt_record instead of failing the job — the
    // dirty-ingest posture a 100 TB crawl pipeline must default to
    // (FAILFAST on petabyte inputs means one bad line kills the job).
    // Emits good/corrupt counts + an aggregate over the parsed rows,
    // so silent row drops or mis-routed lines hash-fail.
    "source_json_corrupt" -> ((s, d) => {
      val path = WriteOnce.path("source_json_corrupt")
      writeCustomerLines(s, d, path,
        concat(lit("NOT{JSON:"), col("c_custkey")),
        to_json(struct(col("c_custkey"), col("c_acctbal"))))
      permissiveCounts(s.read.schema(CorruptSchema)
        .option("mode", "PERMISSIVE").json(path), "c_custkey")
    }),

    // The CSV sibling of source_json_corrupt: every 10th line is
    // unparsable under the typed schema (both columns poisoned);
    // PERMISSIVE routes those lines to _corrupt_record with their raw
    // text preserved — count + checksum both populations so a silent
    // drop OR a mis-parse of either side hash-fails.
    "source_csv_corrupt" -> ((s, d) => {
      val path = WriteOnce.path("source_csv_corrupt")
      writeCustomerLines(s, d, path,
        concat(lit("X"), col("c_custkey"), lit(",Y")),
        concat_ws(",", col("c_custkey"), col("c_acctbal")))
      permissiveCounts(s.read.schema(CorruptSchema)
        .option("mode", "PERMISSIVE").csv(path), "c_acctbal")
    }),

    // ONE-OBJECT-PER-ASSET media ingestion (round 8): the synthetic
    // media payloads land as individual .bin files (executors write
    // their own partitions — no driver collect), then come back
    // through Spark's `binaryFile` source with a pathGlobFilter —
    // the format a crawled image/audio corpus actually arrives in
    // (millions of objects, listed and read in parallel, file
    // metadata for free). Identity (doc_id from the file name), size
    // (source-reported length) and payload md5 are all re-derived
    // from the FILES and hash-checked against the oracle's
    // independent derivation from the generating table — a truncated
    // write, lost file, or encoding drift fails the gate.
    "source_binaryfile" -> ((s, d) => {
      val media = graft.multimodal.Multimodal
        .fromDocuments(TestData.documents(s, d))
        .filter(col("doc_id") % 7 === 0)
      val back = FileFormats.binaryFilesRoundTrip(s, media, "doc_id",
        "content", "source_binaryfile", d, "documents")
      back.select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("payload_md5"))
        .orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "source_csv_roundtrip" ->
      """SELECT p_brand, count(*) AS n,
        |  floor((sum(p_retailprice))*10000 + 0.5)/10000 AS sum_price,
        |  max(p_size) AS max_size
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "source_json_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  floor((sum(c_acctbal))*10000 + 0.5)/10000 AS sum_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "source_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  floor((sum(o_totalprice))*10000 + 0.5)/10000 AS sum_price,
        |  min(o_orderkey) AS min_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "source_text_roundtrip" ->
      """SELECT lang, count(*)::BIGINT AS n,
        |  sum(length(text))::BIGINT AS n_chars,
        |  min(doc_id) AS min_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "source_csv_corrupt" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN c_custkey % 10 = 3 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_corrupt,
        |  sum(CASE WHEN c_custkey % 10 = 3 THEN 0 ELSE 1 END)::BIGINT
        |    AS n_good,
        |  floor((sum(CASE WHEN c_custkey % 10 = 3 THEN NULL
        |             ELSE c_acctbal END))*10000 + 0.5)/10000 AS sum_bal
        |FROM customer""".stripMargin,
    "source_json_corrupt" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN c_custkey % 10 = 3 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_corrupt,
        |  sum(CASE WHEN c_custkey % 10 = 3 THEN 0 ELSE 1 END)::BIGINT
        |    AS n_good,
        |  floor((sum(CASE WHEN c_custkey % 10 = 3 THEN NULL
        |             ELSE c_acctbal END))*10000 + 0.5)/10000 AS sum_bal
        |FROM customer""".stripMargin,
    // Independent derivation from the generating table: the payload
    // is the doc's UTF-8 bytes (octet_length(encode(..)) — the
    // multimodal_meta pattern) and DuckDB md5(VARCHAR) hashes those
    // same bytes.
    "source_binaryfile" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents WHERE doc_id % 7 = 0
        |ORDER BY doc_id""".stripMargin
  )
}
