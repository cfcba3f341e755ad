package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Event, UserRunning}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import java.sql.Timestamp

/** §2.K oracle-omitted streaming semantics, driven with MemoryStream:
  * watermark late-data drop, within-watermark dedup, arbitrary
  * per-key state (SURVEY.md §5.4).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:$sec%02d")

  private def ev(id: Long, minute: Int, user: Long = 1L,
                 typ: String = "click", value: Double = 1.0): Event =
    Event(id, ts(minute), user, typ, value)

  test("tumbling window with watermark drops late data past the watermark") {
    val input = MemoryStream[Event](spark)
    val q = StreamOps.tumblingCounts(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("tumbling_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      // Window [10:00,10:10): two events.
      input.addData(ev(1, 1), ev(2, 5))
      q.processAllAvailable()
      // Advance event time to 10:21 -> watermark 10:16 > 10:10 closes
      // the first window with n=2.
      input.addData(ev(3, 21))
      q.processAllAvailable()
      // Late arrival for the closed window: must be DROPPED.
      input.addData(ev(4, 2))
      q.processAllAvailable()
      // Close the second window too.
      input.addData(ev(5, 40))
      q.processAllAvailable()
      val rows = spark.table("tumbling_wm")
        .select("window_start", "n").as[(Timestamp, Long)].collect().toMap
      assert(rows(ts(0)) === 2L, "late event must not be counted")
      assert(rows(ts(20)) === 1L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark drops duplicate ids within the delay") {
    val input = MemoryStream[Event](spark)
    val q = StreamOps.dedupWithinWatermark(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(10, 1), ev(11, 2), ev(10, 3))   // id 10 duplicated
      q.processAllAvailable()
      input.addData(ev(10, 4), ev(12, 5))              // id 10 again, in-delay
      q.processAllAvailable()
      val ids = spark.table("dedup_wm").select("event_id")
        .as[Long].collect().sorted
      assert(ids.toSeq === Seq(10L, 11L, 12L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-user count and max") {
    val input = MemoryStream[Event](spark)
    val q = StreamOps.runningUserStats(input.toDS())
      .writeStream.format("memory").queryName("running_state")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, 0, user = 7, value = 3.0),
                    ev(2, 1, user = 7, value = 9.0),
                    ev(3, 1, user = 8, value = 4.0))
      q.processAllAvailable()
      input.addData(ev(4, 2, user = 7, value = 5.0))
      q.processAllAvailable()
      // Update mode: take the LAST emitted row per user.
      val last = spark.table("running_state").as[UserRunning].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n_events) }
      assert(last(7L).n_events === 3L)
      assert(last(7L).max_value === 9.0)
      assert(last(8L).n_events === 1L)
      assert(last(8L).max_value === 4.0)
    } finally q.stop()
  }

  test("transformWithState keeps running per-user stats (StatefulProcessor)") {
    // transformWithState needs multi-column-family state — RocksDB
    // provider (bundled rocksdbjni), not the default HDFS-backed one.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event](spark)
    val q = StreamOps.runningUserStatsTws(input.toDS())
      .writeStream.format("memory").queryName("running_tws")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, 0, user = 3, value = 2.0),
                    ev(2, 1, user = 3, value = 8.0))
      q.processAllAvailable()
      input.addData(ev(3, 2, user = 3, value = 5.0),
                    ev(4, 2, user = 4, value = 1.0))
      q.processAllAvailable()
      val last = spark.table("running_tws").as[UserRunning].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n_events) }
      assert(last(3L).n_events === 3L && last(3L).max_value === 8.0)
      assert(last(4L).n_events === 1L && last(4L).max_value === 1.0)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState MapState keeps per-user per-type counts") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event](spark)
    val q = StreamOps.userTypeCountsTws(input.toDS())
      .writeStream.format("memory").queryName("type_counts_tws")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, 0, user = 7, typ = "view"),
                    ev(2, 1, user = 7, typ = "click"),
                    ev(3, 2, user = 7, typ = "view"))
      q.processAllAvailable()
      input.addData(ev(4, 3, user = 7, typ = "view"),
                    ev(5, 3, user = 8, typ = "click"))
      q.processAllAvailable()
      val last = spark.table("type_counts_tws")
        .as[StreamOps.UserTypeCount].collect()
        .groupBy(r => (r.user_id, r.event_type))
        .map { case (k, rows) => k -> rows.map(_.n).max }
      // map entries accumulate across batches; untouched entries
      // (user 7 "click" in batch 2) keep their batch-1 count
      assert(last((7L, "view")) === 3L)
      assert(last((7L, "click")) === 1L)
      assert(last((8L, "click")) === 1L)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState timers close idle sessions and clear state") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event](spark)
    val q = StreamOps.sessionCloseTws(input.toDS(), idleMs = 50L)
      .writeStream.format("memory").queryName("session_close_tws")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, 0, user = 5), ev(2, 1, user = 5))
      // ProcessingTime mode keeps scheduling micro-batches to evaluate
      // timers, so processAllAvailable never settles — POLL the sink
      // until the timer path has emitted the close row.
      def closedRows() = spark.table("session_close_tws")
        .as[StreamOps.SessionClose].collect().filter(_.closed)
      val deadline = System.currentTimeMillis() + 30000
      while (closedRows().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val closed = closedRows()
      assert(closed.exists(c => c.user_id == 5L && c.n_events == 2L),
        s"user 5's idle session must close via the timer path: ${closed.toSeq}")
      // after the close, a new arrival restarts the count from cleared state
      input.addData(ev(5, 9, user = 5))
      def reopened() = spark.table("session_close_tws")
        .as[StreamOps.SessionClose].collect()
        .filter(r => r.user_id == 5L && !r.closed && r.n_events == 1L)
      val deadline2 = System.currentTimeMillis() + 30000
      while (reopened().isEmpty && System.currentTimeMillis() < deadline2)
        Thread.sleep(100)
      assert(reopened().nonEmpty,
        "state must restart at 1 after timer eviction cleared it")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("foreachBatch sink writes each micro-batch exactly once by batchId") {
    // The idempotent-sink pattern: foreachBatch keys output by
    // batchId so a replayed batch overwrites instead of duplicating.
    import org.apache.spark.sql.DataFrame
    val dir = java.nio.file.Files.createTempDirectory("foreach_batch_sink").toString
    val input = MemoryStream[Event](spark)
    val q = input.toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
      }
      .start()
    try {
      input.addData(ev(1, 0), ev(2, 1))
      q.processAllAvailable()
      input.addData(ev(3, 2))
      q.processAllAvailable()
      val written = spark.read.parquet(s"$dir/batch=*")
      assert(written.count() === 3)
      assert(written.select("event_id").as[Long].collect().sorted.toSeq
        === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("foreachBatch IVF append keeps the stored index pruned, correct, idempotent") {
    import StreamOps.Vec
    import graft.sources.IndexStore
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("stream_ivf_append").toString
    val cents = Seq((0, Array(0.0, 0.0)), (1, Array(10.0, 10.0)))
      .toDF("cid", "cv")
    val input = MemoryStream[Vec](spark)
    val q = new graft.api.GraftEngine(spark).appendToIvfIndex(input.toDF(), cents, dir).start()
    try {
      input.addData(Vec(1, Array(0.1, 0.2)), Vec(2, Array(9.9, 10.0)))
      q.processAllAvailable()
      input.addData(Vec(3, Array(0.3, 0.1)))
      q.processAllAvailable()
      val idx = spark.read.parquet(dir)
      assert(idx.count() === 3, "appends across micro-batches must accumulate")
      // Reads by cluster stay partition-pruned on the stored layout.
      val near0 = idx.filter(col("cluster") === 0)
      val p = near0.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [") && p.contains("cluster"),
        s"cluster filter must prune partitions:\n${p.take(600)}")
      assert(near0.select("vec_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
      // Replaying a batch overwrites its own partitions (no dupes).
      IndexStore.ivfAppendBatch(cents, dir)(
        Seq(Vec(3, Array(0.3, 0.1))).toDF("vec_id", "embedding"), 1L)
      assert(spark.read.parquet(dir).count() === 3,
        "replayed batch must replace, not duplicate")
      // Compaction folds the per-batch files into one file per
      // cluster; content and pruned reads are unchanged.
      IndexStore.compactIvfIndex(spark, dir)
      val compacted = spark.read.parquet(dir)
      assert(compacted.count() === 3)
      assert(compacted.select("batch").distinct().as[Long].collect().toSeq
        === Seq(-1L), "all rows must live in the compacted partition")
      assert(compacted.filter(col("cluster") === 0)
        .select("vec_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
      val filesPerCluster = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("cluster=")).map { cd =>
          cd.listFiles().filter(_.getName.startsWith("batch="))
            .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
        }
      assert(filesPerCluster.forall(_ == 1),
        s"each cluster must compact to one file, got ${filesPerCluster.toSeq}")
      // Replay AFTER compaction: batches folded into batch=-1 are
      // recorded in _COMPACTED_THROUGH and must be skipped, not
      // re-appended (a restart from an older checkpoint replays them).
      assert(IndexStore.compactedThrough(spark, dir) === 1L)
      IndexStore.ivfAppendBatch(cents, dir)(
        Seq(Vec(3, Array(0.3, 0.1))).toDF("vec_id", "embedding"), 1L)
      val postReplay = spark.read.parquet(dir)
      assert(postReplay.count() === 3,
        "batch replayed after compaction must be skipped, not duplicated")
      assert(postReplay.select("batch").distinct().as[Long].collect().toSeq
        === Seq(-1L), "replay after compaction must not recreate batch dirs")
      // A genuinely NEW batch (id above the marker) still appends.
      IndexStore.ivfAppendBatch(cents, dir)(
        Seq(Vec(4, Array(10.2, 9.8))).toDF("vec_id", "embedding"), 2L)
      assert(spark.read.parquet(dir).count() === 4,
        "new batches above the compaction marker must still append")
    } finally q.stop()
  }

  test("stream-stream join pairs purchases with in-window clicks only") {
    val input = MemoryStream[Event](spark)
    val q = StreamOps.clickToPurchaseJoin(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        ev(1, 0, user = 1, typ = "click"),
        ev(2, 3, user = 1, typ = "purchase"),   // within 5 min of click 1
        ev(3, 20, user = 1, typ = "click"),
        ev(4, 40, user = 1, typ = "purchase"),  // no click within 5 min
        ev(5, 41, user = 2, typ = "purchase"))  // other user, no click
      q.processAllAvailable()
      input.addData(ev(6, 80, user = 1, typ = "click")) // advance watermark
      q.processAllAvailable()
      val pairs = spark.table("ss_join")
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      assert(pairs === Set((2L, 1L)),
        s"only the in-window purchase-click pair may join, got $pairs")
    } finally q.stop()
  }

  test("left-outer stream-stream join emits nulls on click-watermark timeout") {
    val input = MemoryStream[Event](spark)
    val q = StreamOps.clickToPurchaseLeftJoin(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("ss_left_join")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        ev(1, 0, user = 1, typ = "click"),
        ev(2, 3, user = 1, typ = "purchase"),   // within 5 min of click 1
        ev(4, 40, user = 1, typ = "purchase"),  // no click within 5 min
        ev(5, 41, user = 2, typ = "purchase"))  // other user, no click
      q.processAllAvailable()
      // the matched pair emits without waiting on the watermark
      val early = spark.table("ss_left_join")
        .select("purchase_id", "click_id").as[(Long, Option[Long])]
        .collect().toSet
      assert(early === Set((2L, Some(1L))),
        s"matched pair must emit immediately, nulls must WAIT: $early")
      // The GLOBAL watermark is min(click side, purchase side), so
      // BOTH sides need later events before purchases 4/5 time out —
      // and eviction applies the watermark computed at the END of the
      // previous batch, so a further batch must run to emit the outer
      // rows (different users, so the late events don't pair up).
      input.addData(ev(6, 80, user = 3, typ = "click"),
                    ev(7, 80, user = 4, typ = "purchase"))
      q.processAllAvailable()
      input.addData(ev(8, 85, user = 5, typ = "click"),
                    ev(9, 85, user = 6, typ = "purchase"))
      q.processAllAvailable()
      val all = spark.table("ss_left_join")
        .select("purchase_id", "click_id").as[(Long, Option[Long])]
        .collect().toSet
      assert(all === Set((2L, Some(1L)), (4L, None), (5L, None)),
        s"unmatched purchases must null-emit after timeout: $all")
    } finally q.stop()
  }

  test("file streaming source (availableNow) matches the batch aggregate") {
    // The production entry path: readStream over a parquet directory,
    // processed with Trigger.AvailableNow — results must equal the
    // batch run of the same Catalyst expressions.
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("stream_file_source").toString
    val batchDf = TestData.events(spark, sf("sf0.001"))
    batchDf.write.mode("overwrite").parquet(dir)
    val streamIn = spark.readStream.schema(batchDf.schema).parquet(dir)
    val q = StreamOps.tumblingCounts(streamIn, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("file_stream_agg")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      val streamed = spark.table("file_stream_agg")
        .select("window_start", "event_type", "n")
        .as[(Timestamp, String, Long)].collect().toSet
      val batch = graft.operators.Streaming.defs("stream_tumbling_agg")(
          spark, sf("sf0.001"))
        .select("window_start", "event_type", "n")
        .as[(Timestamp, String, Long)].collect().toSet
      // Append mode emits only watermark-closed windows — every
      // emitted window must match its batch counterpart exactly.
      assert(streamed.nonEmpty)
      assert(streamed.subsetOf(batch),
        s"streamed windows diverge from batch: ${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("session windows merge events within gap across micro-batches") {
    val input = MemoryStream[Event](spark)
    val q = StreamOps.sessionStats(input.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // Session A: 10:00, 10:03 (same session); then a gap.
      input.addData(ev(1, 0), ev(2, 3))
      q.processAllAvailable()
      // 10:04 still merges into session A across the batch boundary;
      // 10:30 starts session B; 11:00 advances the watermark to close A.
      input.addData(ev(3, 4), ev(4, 30))
      q.processAllAvailable()
      input.addData(ev(5, 60))
      q.processAllAvailable()
      input.addData(ev(6, 90))   // push watermark past session B too
      q.processAllAvailable()
      val sessions = spark.table("sessions_stream")
        .select("session_start", "n").as[(Timestamp, Long)].collect().toMap
      assert(sessions(ts(0)) === 3L, "cross-batch merge into one session")
      assert(sessions(ts(30)) === 1L)
    } finally q.stop()
  }
}
