package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.TestData
import graft.TestData.r4
import graft.sources.WriteOnce

/** §2.A scans / sources / sinks (SURVEY.md).
  *
  * Scale notes: these plans keep projection + predicates inside
  * `FileSourceScanExec` (PushedFilters / ReadSchema — verified via
  * .explain), so at 100 TB only the referenced columns / row groups
  * are read. The partitioned sink mirrors the reference's S4 "index
  * shard" write (reference README.md:2) as `partitionBy().parquet`.
  */
object Scans {
  type Q = (SparkSession, String) => DataFrame

  /** Explicit schema for `scan_schema_enforced` — matches the physical
    * parquet types recorded in FIXTURES.md (no inference).
    */
  private val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)
  ))

  val defs: Map[String, Q] = Map(
    "scan_project" -> ((s, d) =>
      TestData.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        // (l_orderkey, l_linenumber) is NOT unique in the fixture —
        // sort by every output column for a cross-engine total order.
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")),

    "scan_filter_pushdown" -> ((s, d) =>
      TestData.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")),

    // Schema evolution: two generations of the same dataset — an old
    // sink without p_retailprice and a new one with it — read together
    // with mergeSchema; missing columns surface as NULLs. The standard
    // situation after a pipeline adds a column mid-corpus at 100 TB
    // (re-writing history is not an option); the merged read costs one
    // footer fetch per file extra, nothing else.
    "scan_merge_schema" -> ((s, d) => {
      val oldGen = WriteOnce.sink("merge_schema_old", d, "part") { oldGen =>
        TestData.part(s, d).filter(col("p_partkey") % 2 === 0)
          .select("p_partkey", "p_name", "p_brand")
          .write.mode("overwrite").parquet(oldGen)
      }
      val newGen = WriteOnce.sink("merge_schema_new", d, "part") { newGen =>
        TestData.part(s, d).filter(col("p_partkey") % 2 === 1)
          .select("p_partkey", "p_name", "p_brand", "p_retailprice")
          .write.mode("overwrite").parquet(newGen)
      }
      s.read.option("mergeSchema", "true").parquet(oldGen, newGen)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
             count(col("p_retailprice")).as("n_priced"),
             r4(sum("p_retailprice")).as("sum_price"))
        .orderBy("p_brand")
    }),

    "scan_schema_enforced" -> ((s, d) =>
      s.read.schema(lineitemSchema).parquet(s"$d/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
             r4(sum("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")),

    "source_events_ns" -> ((s, d) =>
      TestData.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")),

    // Schema-ADAPTIVE ingestion (round 7 — the r6 fixture
    // regeneration demonstrated the failure mode: a producer changed
    // `ts`'s physical type and a fixed-recipe loader died at analysis
    // for every downstream query). Two generations of the same event
    // log — an old producer writing ts as epoch-µs BIGINT, a new one
    // writing a native timestamp — are read through one normalizing
    // loader that branches on the ARRIVING dtype per generation dir
    // (the unit contract for integer ts is epoch-µs, recorded here as
    // a real lake would record it in table metadata), then unioned
    // and aggregated. Physical-type drift costs one schema fetch per
    // generation; analysis never fails, and at 100 TB the per-day
    // aggregate still pushes projection into both scans.
    "scan_schema_drift" -> ((s, d) => {
      val ev = TestData.events(s, d)
      val oldGen = WriteOnce.sink("drift_old", d, "events") { oldGen =>
        ev.filter(col("event_id") % 2 === 0)
          .withColumn("ts", unix_micros(col("ts")))
          .write.mode("overwrite").parquet(oldGen)
      }
      val newGen = WriteOnce.sink("drift_new", d, "events") { newGen =>
        ev.filter(col("event_id") % 2 === 1)
          .write.mode("overwrite").parquet(newGen)
      }
      def normalized(dir: String): DataFrame = {
        val df = s.read.parquet(dir)
        df.schema("ts").dataType match {
          case LongType => df.withColumn("ts", timestamp_micros(col("ts")))
          case TimestampType => df
          case _ => df.withColumn("ts", col("ts").cast(TimestampType))
        }
      }
      normalized(oldGen).unionByName(normalized(newGen))
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
        .orderBy("day", "event_type")
    }),

    "sink_parquet_partitioned" -> ((s, d) => {
      val tmp = WriteOnce.sink("sink_parquet_partitioned", d, "events") { tmp =>
        TestData.events(s, d).write.mode("overwrite")
          .partitionBy("event_type").parquet(tmp)
      }
      // Read-back exercises partition discovery; the per-partition
      // aggregate must equal the same aggregate on the source.
      s.read.parquet(tmp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // RECURSIVE CTE through the SQL surface (Spark 4 WITH RECURSIVE,
    // verified supported in this build): every doc is a node of an
    // implicit binary tree (parent(i) = (i-1) DIV 2), and the
    // recursion walks each node's ancestor path to the root
    // accumulating depth and path character mass — the hierarchy-
    // rollup shape (org charts, thread trees, taxonomy paths) that
    // plain joins can't express at unknown depth. Iterations are
    // bounded by log2(N), and each step is a hash join on the parent
    // id — at 100 TB the recursion is |levels| shuffles, not a
    // quadratic closure.
    "sql_recursive_cte" -> ((s, d) => {
      TestData.documents(s, d).createOrReplaceTempView("v_documents")
      s.sql(
        """WITH RECURSIVE anc(doc_id, cur, depth, path_chars) AS (
          |  SELECT doc_id, doc_id, 0, n_chars FROM v_documents
          |  UNION ALL
          |  SELECT a.doc_id, (a.cur - 1) DIV 2, a.depth + 1,
          |         a.path_chars + d.n_chars
          |  FROM anc a JOIN v_documents d ON d.doc_id = (a.cur - 1) DIV 2
          |  WHERE a.cur > 0
          |)
          |SELECT doc_id, max(depth) AS depth, max(path_chars) AS path_chars
          |FROM anc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    }),

    // The spark.sql TEXT surface end-to-end: temp views + one SQL
    // string through the full parser → analyzer → optimizer path —
    // same Catalyst plan the DataFrame keys get, demonstrated as the
    // API a SQL-first user of this library drives (README "Using the
    // SQL surface"). Three-table join + grouped aggregate.
    "sql_end_to_end" -> ((s, d) => {
      TestData.orders(s, d).createOrReplaceTempView("v_orders")
      TestData.customer(s, d).createOrReplaceTempView("v_customer")
      TestData.lineitem(s, d).createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT c_mktsegment, o_orderpriority, count(*) AS n,
          |  floor(sum(l_extendedprice * (1 - l_discount))*10000 + 0.5)/10000
          |    AS revenue
          |FROM v_lineitem
          |JOIN v_orders ON l_orderkey = o_orderkey
          |JOIN v_customer ON o_custkey = c_custkey
          |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          |GROUP BY c_mktsegment, o_orderpriority
          |ORDER BY c_mktsegment, o_orderpriority""".stripMargin)
    }),

    // The SQL-surface PIVOT clause (round 8): Spark's parser-level
    // wide reshape — the agg_pivot DataFrame key driven the way a
    // SQL-first user writes it. Catalyst rewrites PIVOT into the
    // same conditional-aggregate plan the oracle states explicitly
    // (one scan, one aggregate — the IN list must be literal, which
    // is exactly what keeps the plan static and map-side-combinable
    // at scale; a dynamic pivot needs the two-pass collect the
    // agg_pivot scaladoc documents).
    "sql_pivot" -> ((s, d) => {
      TestData.orders(s, d).createOrReplaceTempView("v_orders_p")
      s.sql(
        """SELECT * FROM (
          |  SELECT o_orderpriority, o_orderstatus, o_totalprice
          |  FROM v_orders_p)
          |PIVOT (
          |  count(*) AS n,
          |  floor(sum(o_totalprice)*10000 + 0.5)/10000 AS total
          |  FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
          |ORDER BY o_orderpriority""".stripMargin)
    }),

    // FILE PROVENANCE AUDIT (round 10): the `_metadata` hidden
    // column — per physical input file, row count, file count, and
    // the key range it covers; the layout audit a compaction/
    // clustering job reads to find small-file and range-overlap
    // problems. The staged copy buckets by pmod(o_orderkey, 4), so
    // file MEMBERSHIP is a pure function of content — file NAMES
    // (uuid part files) never reach the output, which is what makes
    // an engine-independent oracle possible (DuckDB re-derives the
    // same audit from the bucket expression). n_files counts
    // DISTINCT _metadata.file_name within the bucket (1 per bucket
    // here — the write is single-file-per-partition; the audit shape
    // is what scales).
    "scan_file_provenance" -> ((s, d) => {
      val tmp = WriteOnce.sink("scan_file_provenance", d, "orders") { tmp =>
        provenanceStage(s, d)
          .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
      }
      // partition-dir read-back infers bucket as INT — cast back to
      // the generating LONG so the oracle's o_orderkey % 4 matches.
      s.read.parquet(tmp)
        .select(col("bucket").cast("long").as("bucket"), col("o_orderkey"),
          col("_metadata.file_name").as("fname"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("fname").as("n_files"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .orderBy("bucket")
    })
  )

  /** The staged frame behind scan_file_provenance's one-time write:
    * repartition BY THE BUCKET COLUMN (not repartition(1)) — each
    * bucket's rows land in exactly one task, so every bucket dir
    * still gets exactly 1 file (the oracle's n_files = 1 contract)
    * while the write runs one parallel task per bucket instead of
    * funneling the whole table through a single task (the at-scale
    * shape; PlanSpec pins no 1-partition exchange feeds this write).
    */
  private[graft] def provenanceStage(s: SparkSession,
                                     d: String): DataFrame =
    TestData.orders(s, d)
      .withColumn("bucket", pmod(col("o_orderkey"), lit(4L)))
      .repartition(col("bucket"))

  val oracles: Map[String, String] = Map(
    "scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin,
    "scan_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_linenumber, l_shipdate, l_quantity""".stripMargin,
    "scan_schema_enforced" ->
      """SELECT l_returnflag, count(*) AS n, floor((sum(l_quantity))*10000 + 0.5)/10000 AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // The merged read is (old gen ∪ new gen) with p_retailprice NULL
    // for the old generation — expressed directly over `part`.
    "scan_merge_schema" ->
      """SELECT p_brand, count(*) AS n,
        |  count(CASE WHEN p_partkey % 2 = 1 THEN p_retailprice END) AS n_priced,
        |  floor((sum(CASE WHEN p_partkey % 2 = 1 THEN p_retailprice END))*10000
        |    + 0.5)/10000 AS sum_price
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "source_events_ns" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // (old gen ∪ new gen) = full events; DuckDB date_trunc returns
    // DATE — cast to TIMESTAMP to match Spark (CLAUDE.md trap).
    "scan_schema_drift" ->
      """SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
        |  count(*) AS n, floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "sink_parquet_partitioned" ->
      """SELECT event_type, count(*) AS n, floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The conditional-aggregate form Catalyst rewrites PIVOT into,
    // stated explicitly (every (priority, status) combo is populated
    // at both scales — no empty-cell NULL ambiguity to mirror).
    "sql_pivot" ->
      """SELECT o_orderpriority,
        |  sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS f_n,
        |  floor(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)
        |    *10000 + 0.5)/10000 AS f_total,
        |  sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS o_n,
        |  floor(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END)
        |    *10000 + 0.5)/10000 AS o_total,
        |  sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS p_n,
        |  floor(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END)
        |    *10000 + 0.5)/10000 AS p_total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // Same recursion in DuckDB dialect (`//` integer division).
    "sql_recursive_cte" ->
      """WITH RECURSIVE anc(doc_id, cur, depth, path_chars) AS (
        |  SELECT doc_id, doc_id, 0, n_chars FROM documents
        |  UNION ALL
        |  SELECT a.doc_id, (a.cur - 1) // 2, a.depth + 1,
        |         a.path_chars + d.n_chars
        |  FROM anc a JOIN documents d ON d.doc_id = (a.cur - 1) // 2
        |  WHERE a.cur > 0
        |)
        |SELECT doc_id, max(depth) AS depth, max(path_chars) AS path_chars
        |FROM anc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "sql_end_to_end" ->
      """SELECT c_mktsegment, o_orderpriority, count(*) AS n,
        |  floor(sum(l_extendedprice * (1 - l_discount))*10000 + 0.5)/10000
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |GROUP BY c_mktsegment, o_orderpriority
        |ORDER BY c_mktsegment, o_orderpriority""".stripMargin,
    // Independent derivation: file membership is a pure function of
    // the bucket expression; n_files = 1 is the stated contract of
    // the single-partition-per-bucket write the key performs.
    "scan_file_provenance" ->
      """SELECT (o_orderkey % 4)::BIGINT AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  1::BIGINT AS n_files,
        |  min(o_orderkey)::BIGINT AS min_key,
        |  max(o_orderkey)::BIGINT AS max_key
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin
  )
}
