package graft

/** Filesystem-level contract of the small-file compaction key: the
  * declared output (oracle-checked) proves CONTENT parity; this spec
  * pins the part the oracle cannot see — that the fragmented snapshot
  * really had many files per partition directory and the compacted
  * rewrite has exactly one.
  */
class MaintenanceSpec extends SparkSpec {

  private def perDir(base: java.io.File): Map[String, Int] =
    base.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
      .map { p =>
        p.getName -> p.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap

  test("sink_compact_files collapses fragmented partitions to one file each") {
    val d = sf("sf0.001")
    graft.operators.Maintenance.defs("sink_compact_files")(spark, d).collect()
    val small = new java.io.File(graft.sources.WriteOnce.path("compact_small", d, "events"))
    val comp = new java.io.File(graft.sources.WriteOnce.path("compact_out", d, "events"))
    val before = perDir(small)
    val after = perDir(comp)
    assert(before.keySet == after.keySet, "same partition directories")
    assert(after.values.forall(_ == 1), s"compacted to 1 file/dir: $after")
    assert(before.values.forall(_ > 1), s"fragmented input: $before")
    assert(spark.read.parquet(small.toString).count() ==
      spark.read.parquet(comp.toString).count(), "row parity")
  }

  test("write-audit-publish: a snapshot that fails audit never publishes") {
    import spark.implicits._
    // stage a snapshot with a duplicate key directly (bypassing the
    // declared key's curation), then run the same audit gate
    withTempDir("wap_bad") { dir =>
      Seq((1L, "en", 10L), (1L, "en", 12L), (2L, "de", 9L))
        .toDF("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(dir)
      val staged = spark.read.parquet(dir)
      val bad = staged.agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)) -
          org.apache.spark.sql.functions.countDistinct($"doc_id")).head().getLong(0)
      assert(bad > 0, "audit must detect the duplicate key")
      // the declared key's gate would throw here — marker never written
      intercept[IllegalArgumentException] {
        require(bad == 0L, "WAP audit failed — not publishing")
      }
      assert(!new java.io.File(dir, "_GRAFT_PUBLISHED").exists())
    }
  }

  test("snapshot store: retention expires the eldest, as-of serves the elder while live") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val M = graft.operators.Maintenance
    withTempDir("snapstore_spec") { base =>
      val tag = "spec"
      def gen(i: Int) = Seq((1L, i.toLong), (2L, i.toLong)).toDF("id", "v")
      M.publishSnapshot(base, 1, gen(1), tag, "id", retain = 2)
      M.publishSnapshot(base, 2, gen(2), tag, "id", retain = 2)
      assert(M.publishedIds(base) == Seq(1, 2))
      assert(M.readAsOf(spark, base, 1).agg(sum($"v")).head().getLong(0) == 2L,
        "as-of 1 must read generation 1")
      M.publishSnapshot(base, 3, gen(3), tag, "id", retain = 2)
      assert(M.publishedIds(base) == Seq(2, 3), "third publish expires snap_1")
      assert(!new java.io.File(base, "snap_1").exists())
      intercept[IllegalArgumentException] { M.readAsOf(spark, base, 1) }
      // a snapshot failing audit (duplicate key) never publishes;
      // as-of keeps serving the newest published elder
      intercept[IllegalArgumentException] {
        M.publishSnapshot(base, 4,
          Seq((1L, 9L), (1L, 9L)).toDF("id", "v"), tag, "id", retain = 2)
      }
      assert(M.publishedIds(base) == Seq(2, 3))
      assert(M.readAsOf(spark, base, 4).agg(sum($"v")).head().getLong(0) == 6L,
        "as-of past a failed publish falls back to the elder snapshot")
    }
  }

  test("stream CDF: each micro-batch delta equals the batch's planted changes") {
    val d = sf("sf0.001")
    val cdf = SparkEntry.queries("stream_snapshot_cdf")(spark, d)
      .collect().map(_.toSeq).toSeq
    // Gen 2 plants the SAME changes as sink_snapshot_diff — that
    // key's (oracle-checked) rows ARE the expected batch-2 delta.
    val batch2 = cdf.filter(_.head == 2).map(_.tail)
    val expected = SparkEntry.queries("sink_snapshot_diff")(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(batch2 === expected,
      "generation-2 CDF delta must equal the batch CDC key's rows")
    // Gen 3's wave: planted counts from the generating table.
    val docs = TestData.documents(spark, d)
    import org.apache.spark.sql.functions.{col, expr}
    val nDel = docs.filter(expr("doc_id % 10 = 6")).count()
    val nUpd = docs.filter(expr("doc_id % 10 = 7")).count()
    val nIns = docs.filter(expr("doc_id % 10 = 8")).count()
    val batch3 = cdf.filter(_.head == 3)
    assert(batch3.count(_(2) == "delete") === nDel)
    assert(batch3.count(_(2) == "update") === nUpd)
    assert(batch3.count(_(2) == "insert") === nIns)
  }

  test("sink_write_audit_publish publishes the audited snapshot once") {
    val d = sf("sf0.001")
    graft.operators.Maintenance.defs("sink_write_audit_publish")(spark, d).collect()
    val staging = graft.sources.WriteOnce.path("wap_staging", d, "documents")
    assert(new java.io.File(staging, "_GRAFT_PUBLISHED").exists(),
      "audit-passing snapshot must carry the published marker")
  }
}
