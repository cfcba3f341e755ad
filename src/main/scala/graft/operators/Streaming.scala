package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData
import graft.TestData.r4
import graft.sources.WriteOnce
import graft.withConf
import org.apache.spark.network.util.JavaUtils

/** §2.K streaming analytics over `events` (SURVEY.md).
  *
  * The declared queries run the batch form; `window()` /
  * `session_window()` are the same Catalyst expressions in batch and
  * Structured Streaming, so these bodies are reusable verbatim under
  * `readStream` (the `graft.streaming` package + MemoryStream suites
  * cover the watermark/state semantics that batch can't express).
  *
  * Dialect note: DuckDB `time_bucket` origin (2000-01-01) and Spark
  * `window` origin (1970-01-01) agree for bucket widths that divide
  * the span between the two epochs — true for 15 min and 1 h.
  */
object Streaming {
  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(
    "stream_tumbling_agg" -> ((s, d) =>
      TestData.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
                col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    "stream_sliding_agg" -> ((s, d) =>
      TestData.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
             countDistinct(col("user_id")).as("users"))
        .select(col("w.start").as("window_start"), col("n"), col("users"))
        .orderBy("window_start")),

    // Conversion funnel over the event stream: per user, first signup
    // and first purchase at-or-after it; one aggregate row. The
    // per-user mins are a single shuffle on user_id.
    "events_funnel" -> ((s, d) => {
      val ev = TestData.events(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("signup_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("purchase_ts"))
      val firstConv = signups
        .join(purchases, col("user_id") === col("pu")
          && col("purchase_ts") >= col("signup_ts"), "left")
        .groupBy("user_id", "signup_ts")
        .agg(min("purchase_ts").as("first_purchase_ts"))
      firstConv.agg(
          count(lit(1)).as("n_signed_up"),
          count(col("first_purchase_ts")).as("n_converted"),
          r4(avg((unix_micros(col("first_purchase_ts"))
            - unix_micros(col("signup_ts"))) / 60000000.0)).as("avg_minutes_to_convert"))
    }),

    // Ordered funnel via the CUSTOM OPERATOR ladder: the FunnelMatch
    // LogicalPlan is planned by FunnelStrategy into FunnelMatchExec —
    // one clustering shuffle + in-partition sort + a per-key state
    // machine streaming each partition once, where the window/join
    // encoding would cost one shuffle per step. The oracle expresses
    // the same greedy first-match semantics relationally.
    "events_funnel_steps" -> ((s, d) => {
      if (!s.experimental.extraStrategies.contains(graft.plans.FunnelStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ graft.plans.FunnelStrategy
      val ev = TestData.events(s, d)
        .select("user_id", "ts", "event_id", "event_type")
      graft.plans.FunnelMatch.of(ev, "user_id", "ts", "event_id",
          "event_type", Seq("signup", "click", "purchase"))
        .orderBy("key")
    }),

    // FUNNEL DROP-OFF WITH WILSON CIs (round 16): the error bars the
    // raw step counts need — "step 2→3 converts at 41% ± what?"
    // decides whether a funnel change is signal. Rides the SAME
    // FunnelMatch custom operator (one clustering shuffle + state
    // machine), then per step i the conversion n_reached(i)/
    // n_reached(i−1) with the Wilson 95% interval (the agg_wilson_ci
    // formula — never leaves [0,1], valid at extreme rates where
    // Wald collapses). Exact integer step census; the 3-row stack +
    // Wilson readout are the only floats, mirrored.
    "events_funnel_dropoff_ci" -> ((s, d) => {
      if (!s.experimental.extraStrategies.contains(graft.plans.FunnelStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ graft.plans.FunnelStrategy
      val ev = TestData.events(s, d)
        .select("user_id", "ts", "event_id", "event_type")
      val z = 1.959964
      val z2 = z * z
      graft.plans.FunnelMatch.of(ev, "user_id", "ts", "event_id",
          "event_type", Seq("signup", "click", "purchase"))
        .agg(count(lit(1)).as("n0"),
          sum(when(col("steps_completed") >= 1, 1L).otherwise(0L))
            .as("n1"),
          sum(when(col("steps_completed") >= 2, 1L).otherwise(0L))
            .as("n2"),
          sum(when(col("steps_completed") >= 3, 1L).otherwise(0L))
            .as("n3"))
        .select(expr("stack(3, 1L, n0, n1, 2L, n1, n2, 3L, n2, n3)" +
          " AS (step, n_prev, n_reached)"))
        .withColumn("ph", when(col("n_prev") > 0,
          col("n_reached").cast("double") / col("n_prev").cast("double")))
        .withColumn("center", when(col("n_prev") > 0,
          (col("ph") + lit(z2) / (lit(2.0) * col("n_prev").cast("double")))
            / (lit(1.0) + lit(z2) / col("n_prev").cast("double"))))
        .withColumn("half", when(col("n_prev") > 0,
          lit(z) * sqrt(col("ph") * (lit(1.0) - col("ph"))
              / col("n_prev").cast("double")
            + lit(z2) / (lit(4.0) * col("n_prev").cast("double")
              * col("n_prev").cast("double")))
            / (lit(1.0) + lit(z2) / col("n_prev").cast("double"))))
        .select(col("step"), col("n_prev"), col("n_reached"),
          TestData.r4(col("ph")).as("conv"),
          TestData.r4(col("center") - col("half")).as("ci_lo"),
          TestData.r4(col("center") + col("half")).as("ci_hi"))
        .orderBy("step")
    }),

    // Same custom operator with a CONVERSION WINDOW: steps past the
    // first only match within 3 days of the step-0 anchor (greedy, no
    // re-anchor). Still ONE clustering shuffle at any step count —
    // the window check is a per-row long compare in the state machine.
    "events_funnel_within" -> ((s, d) => {
      if (!s.experimental.extraStrategies.contains(graft.plans.FunnelStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ graft.plans.FunnelStrategy
      val ev = TestData.events(s, d)
        .select("user_id", "ts", "event_id", "event_type")
      graft.plans.FunnelMatch.of(ev, "user_id", "ts", "event_id",
          "event_type", Seq("signup", "click", "purchase"),
          withinUs = 3L * 86400 * 1000000)
        .orderBy("key")
    }),

    // Session windows (5-min gap) per user; duration emitted as exact
    // integer microseconds (no float risk).
    "stream_session_window" -> ((s, d) =>
      TestData.events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes").as("sw"),
                 col("user_id"))
        .agg(count(lit(1)).as("n"),
             min(col("ts")).as("session_start"),
             (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
               .as("duration_us"))
        .select("user_id", "session_start", "n", "duration_us")
        .orderBy("user_id", "session_start")),

    // REAL Structured Streaming in the correctness gate (the other
    // §2.K keys share their Catalyst bodies between batch and stream;
    // this one actually executes the streaming engine): the events
    // fixture is replayed through a file source with
    // Trigger.AvailableNow, the tumbling aggregate is maintained by
    // streaming state in Complete mode, and the memory-sink table —
    // produced entirely by micro-batch execution — must hash-match
    // the batch DuckDB oracle.
    "stream_availablenow_agg" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = TestData.events(s, d)
      val dir = eventsReplay(d, batch)
      val qn = s"graft_stream_an_${streamSeq.incrementAndGet()}"
      withStateFanout(s) {
        val q = s.readStream.schema(batch.schema).parquet(dir)
          .groupBy(window(col("ts"), "30 minutes").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
          .select(col("w.start").as("window_start"), col("event_type"),
                  col("n"), col("sum_value"))
          .writeStream.format("memory").queryName(qn)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      s.table(qn).orderBy("window_start", "event_type")
    }),

    // Streaming STATEFUL DEDUP in the gate: dropDuplicates maintains
    // a seen-keys state store across micro-batches; the downstream
    // Complete-mode count per event_type must equal the batch
    // count(DISTINCT user_id). Shares the replay directory (and its
    // write) with stream_availablenow_agg.
    "stream_availablenow_dedup" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = TestData.events(s, d)
      val dir = eventsReplay(d, batch)
      val qn = s"graft_stream_dedup_${streamSeq.incrementAndGet()}"
      withStateFanout(s) {
        val q = s.readStream.schema(batch.schema).parquet(dir)
          .select("user_id", "event_type")
          .dropDuplicates("user_id", "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_distinct_users"))
          .writeStream.format("memory").queryName(qn)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      s.table(qn).orderBy("event_type")
    }),

    // STREAM-STREAM JOIN in the gate: two streaming branches of the
    // replayed events (clicks / purchases) joined on user within a
    // 30-minute conversion window, with watermarks on both sides
    // bounding the join state — the micro-batch engine maintains both
    // sides' buffered state and emits matches in Append mode. The
    // memory-sink pair table is aggregated per user batch-side and
    // must hash-match the batch DuckDB join. Shares the replay
    // directory with the other AvailableNow keys.
    "stream_availablenow_join" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = TestData.events(s, d)
      val dir = eventsReplay(d, batch)
      def side(tpe: String, idAs: String, tsAs: String) =
        s.readStream.schema(batch.schema).parquet(dir)
          .filter(col("event_type") === tpe)
          .select(col("user_id").as(idAs), col("ts").as(tsAs))
          .withWatermark(tsAs, "1 hour")
      val clicks = side("click", "c_user", "c_ts")
      val purchases = side("purchase", "p_user", "p_ts")
      val qn = s"graft_stream_join_${streamSeq.incrementAndGet()}"
      withStateFanout(s) {
        val q = clicks.join(purchases,
            col("c_user") === col("p_user")
              && col("p_ts") >= col("c_ts")
              && col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
          .writeStream.format("memory").queryName(qn)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      s.table(qn)
        .groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
            .as("sum_delay_us"))
        .orderBy("user_id")
    }),

    // LEFT OUTER stream-stream join in the gate: purchases keep
    // flowing even without an attributable click — matches emit
    // immediately (Append), unattributed purchases null-emit when the
    // engine evicts their state, i.e. once the GLOBAL watermark
    // (min over both sides' max event time, minus the 1 h delay)
    // passes their event time; AvailableNow's trailing no-data batch
    // applies the final watermark. Purchases inside the last
    // watermark window stay buffered and never emit — the oracle
    // mirrors exactly that cutoff, so the key also PINS the
    // no-data-batch + min-watermark semantics against regression.
    "stream_availablenow_left_join" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = TestData.events(s, d)
      val dir = eventsReplay(d, batch)
      def side(tpe: String, idAs: String, tsAs: String) =
        s.readStream.schema(batch.schema).parquet(dir)
          .filter(col("event_type") === tpe)
          .select(col("user_id").as(idAs), col("ts").as(tsAs))
          .withWatermark(tsAs, "1 hour")
      val clicks = side("click", "c_user", "c_ts")
      val purchases = side("purchase", "p_user", "p_ts")
      val qn = s"graft_stream_ljoin_${streamSeq.incrementAndGet()}"
      withStateFanout(s) {
        val q = purchases.join(clicks,
            col("p_user") === col("c_user")
              && col("c_ts") <= col("p_ts")
              && col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
            "left_outer")
          .writeStream.format("memory").queryName(qn)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      s.table(qn)
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_ts")).as("n_matched"),
          sum(when(col("c_ts").isNull, 1L).otherwise(0L)).as("n_unmatched"))
        .orderBy("user_id")
    }),

    // STREAMING SESSION WINDOWS in the gate: session_window with a
    // watermark through the micro-batch engine — the state store
    // MERGES adjacent per-batch partial sessions, and append mode
    // emits a session only once the watermark passes its end (last
    // event + gap), i.e. once no future event can extend it. The
    // memory-sink table must hash-match the batch gaps-and-islands
    // oracle restricted by the same final-watermark cutoff (sessions
    // still open at end-of-input never emit — mirrored in SQL).
    "stream_availablenow_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = TestData.events(s, d)
      val dir = eventsReplay(d, batch)
      val qn = s"graft_stream_sess_${streamSeq.incrementAndGet()}"
      withStateFanout(s) {
        val q = s.readStream.schema(batch.schema).parquet(dir)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "5 minutes").as("sw"),
                   col("user_id"))
          .agg(count(lit(1)).as("n"),
               (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
                 .as("duration_us"))
          .select(col("sw.start").as("session_start"), col("user_id"),
                  col("n"), col("duration_us"))
          .writeStream.format("memory").queryName(qn)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      s.table(qn).orderBy("user_id", "session_start")
    }),

    // foreachBatch INCREMENTAL UPSERT in the gate: each micro-batch's
    // partial aggregate is merged (read-merge-overwrite) into a
    // running parquet snapshot — the streaming-maintained
    // materialized-view shape (count/sum are associative, so the
    // merged snapshot equals the batch aggregate regardless of how
    // AvailableNow splits the input into batches). The snapshot is
    // checkpointed before the overwrite (reading and overwriting the
    // same directory inside one plan loses the input); the sink dir
    // is fresh per invocation so reruns stay deterministic.
    "stream_foreachbatch_upsert" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = TestData.events(s, d)
      val dir = eventsReplay(d, batch)
      val snap = WriteOnce.path(s"fb_upsert_${streamSeq.incrementAndGet()}")
      // The per-JVM sequence restarts across invocations (Verify at
      // one scale, then another) while the directory persists — a
      // stale snapshot would be merged into. Start from an empty dir.
      JavaUtils.deleteQuietly(new java.io.File(snap))
      withStateFanout(s) {
        val q = s.readStream.schema(batch.schema).parquet(dir)
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            val partial = b.groupBy("event_type")
              .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
            val merged =
              if (new java.io.File(snap, "_SUCCESS").exists())
                s.read.parquet(snap).unionByName(partial)
                  .groupBy("event_type")
                  .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"))
              else partial
            merged.ckpt().write.mode("overwrite").parquet(snap)
          }
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      s.read.parquet(snap)
        .select(col("event_type"), col("n"), r4(col("sv")).as("sum_value"))
        .orderBy("event_type")
    }),

    // STREAMING CHANGE-DATA-FEED (round 9): composes the snapshot
    // store (`sink_snapshot_read_asof`) with `foreachBatch` into the
    // incremental CDF a downstream streaming consumer subscribes to
    // — the r8 verdict's missing piece between batch CDC
    // (`sink_snapshot_diff`) and the streaming sink. Three planted
    // table generations arrive as one micro-batch each (one file per
    // generation, `maxFilesPerTrigger = 1`, mtimes forced ascending
    // so FileStreamSource admits them in generation order); each
    // batch PUBLISHES its generation into the snapshot store (staged
    // write → audit → marker, the WAP contract) and APPENDS the
    // row-grain diff vs the previously published generation to the
    // CDF dir — so the feed carries exactly (generation, doc_id,
    // change, old, new) per change, delta-sized, never corpus-sized.
    // Gen2's planted changes are IDENTICAL to sink_snapshot_diff's
    // (MaintenanceSpec pins the per-batch delta = that key's rows);
    // gen3 plants a second wave on top. At 100 TB each batch's diff
    // is one key-shuffle join between two snapshot generations —
    // the same plan as batch CDC, amortized per micro-batch.
    "stream_snapshot_cdf" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = TestData.documents(s, d)
      val gen1 = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      val gen2 = gen1.filter(expr("doc_id % 10 != 3"))
        .withColumn("n_chars",
          when(expr("doc_id % 10 = 4"), col("n_chars") + lit(1000))
            .otherwise(col("n_chars")))
        .unionByName(gen1.filter(expr("doc_id % 10 = 5"))
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            col("lang"), (col("n_chars") + lit(7)).as("n_chars")))
      val gen3 = gen2.filter(expr("doc_id % 10 != 6"))
        .withColumn("n_chars",
          when(expr("doc_id % 10 = 7"), col("n_chars") + lit(500))
            .otherwise(col("n_chars")))
        .unionByName(gen2.filter(expr("doc_id % 10 = 8"))
          .select((col("doc_id") + lit(20000000L)).as("doc_id"),
            col("lang"), (col("n_chars") + lit(11)).as("n_chars")))
      val tag = WriteOnce.inputTag(d, "documents")
      val srcDir = WriteOnce.sink("stream_cdf_src", d, "documents") { srcDir =>
        val dir = new java.io.File(srcDir); dir.mkdirs()
        for ((df, g) <- Seq(gen1, gen2, gen3).zipWithIndex.map {
            case (df, i) => (df, i + 1) }) {
          val stage = s"${srcDir}_stage_g$g"
          df.withColumn("gen", lit(g))
            .coalesce(1).write.mode("overwrite").parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dest = new java.io.File(dir, s"gen$g.parquet")
          java.nio.file.Files.copy(part.toPath, dest.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // FileStreamSource admits files in mtime order — force one
          // generation per micro-batch, in generation order.
          dest.setLastModified(1700000000000L + g * 60000L)
          JavaUtils.deleteQuietly(new java.io.File(stage))
        }
        java.nio.file.Files.write(
          new java.io.File(dir, "_SUCCESS").toPath, Array.emptyByteArray)
      }
      val seq = streamSeq.incrementAndGet()
      val snapBase = WriteOnce.path(s"stream_cdf_snap_$seq")
      val cdfDir = WriteOnce.path(s"stream_cdf_out_$seq")
      Seq(snapBase, cdfDir).foreach(p => JavaUtils.deleteQuietly(new java.io.File(p)))
      new java.io.File(snapBase).mkdirs()
      val schema = gen1.withColumn("gen", lit(1)).schema
      withStateFanout(s) {
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            val rows = b.ckpt()
            val g = rows.agg(max("gen")).head().getInt(0)
            Maintenance.publishSnapshot(snapBase, g, rows.drop("gen"),
              tag, "doc_id", retain = 3)
            if (g > 1) {
              val v1 = Maintenance.readAsOf(s, snapBase, g - 1)
                .select(col("doc_id"), col("n_chars").as("old_n_chars"))
              val v2 = rows
                .select(col("doc_id"), col("n_chars").as("new_n_chars"))
              v1.join(v2, Seq("doc_id"), "full_outer")
                .withColumn("change",
                  when(col("new_n_chars").isNull, lit("delete"))
                    .when(col("old_n_chars").isNull, lit("insert"))
                    .when(col("old_n_chars") =!= col("new_n_chars"),
                      lit("update")))
                .filter(col("change").isNotNull)
                .withColumn("generation", lit(g))
                .write.mode("append").parquet(cdfDir)
            }
          }
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      s.read.parquet(cdfDir)
        .select("generation", "doc_id", "change",
          "old_n_chars", "new_n_chars")
        .orderBy(col("generation"), col("doc_id"), col("change"),
          col("old_n_chars"), col("new_n_chars"))
    }),

    // transformWithState (Spark 4 arbitrary-state API) in the gate:
    // the replayed events run through a typed StatefulProcessor with
    // explicit ValueState on the RocksDB provider (transformWithState
    // needs multi-column-family state), emitting per-user running
    // (count, max) updates; the LAST update per user must equal the
    // batch aggregate however AvailableNow batches the input (running
    // count/max are monotone, so max over updates = final state). The
    // provider conf is scoped and restored — it only binds at stream
    // start, so concurrent BATCH queries are unaffected.
    "stream_tws_running" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamOps
      val batch = TestData.events(s, d)
      val dir = eventsReplay(d, batch)
      val qn = s"graft_stream_tws_${streamSeq.incrementAndGet()}"
      withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        import s.implicits._
        val events = s.readStream.schema(batch.schema).parquet(dir)
          .as[StreamOps.Event]
        withStateFanout(s) {
          val q = StreamOps.runningUserStatsTws(events)
            .toDF()
            .writeStream.format("memory").queryName(qn)
            .outputMode("update").trigger(Trigger.AvailableNow()).start()
          try q.awaitTermination(120000) finally q.stop()
        }
      }
      s.table(qn)
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
             r4(max(col("max_value"))).as("max_value"))
        .orderBy("user_id")
    }),

    // MULTI-SOURCE UNION (round 10): two independent file streams
    // (the staged click and purchase feeds — in production, two
    // kafka topics / landing dirs) unioned into ONE streaming
    // aggregate. The semantics a lakehouse ingest job relies on:
    // the union is source-transparent — micro-batches interleave
    // but the complete-mode aggregate equals the batch union. Each
    // source keeps its own offset tracking; the oracle is the batch
    // union by construction.
    "stream_availablenow_union" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = TestData.events(s, d)
      val dirA = WriteOnce.sink("stream_un_a", d, "events") { dirA =>
        batch.filter(col("event_type") === "click")
          .write.mode("overwrite").parquet(dirA)
      }
      val dirB = WriteOnce.sink("stream_un_b", d, "events") { dirB =>
        batch.filter(col("event_type") === "purchase")
          .write.mode("overwrite").parquet(dirB)
      }
      val qn = s"graft_stream_union_${streamSeq.incrementAndGet()}"
      withStateFanout(s) {
        val a = s.readStream.schema(batch.schema).parquet(dirA)
        val b = s.readStream.schema(batch.schema).parquet(dirB)
        val q = a.unionByName(b)
          .withColumn("v_u",
            floor(col("value") * 1000000 + 0.5).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            min("v_u").as("min_value_u"),
            max("v_u").as("max_value_u"),
            sum("v_u").as("sum_value_u"))
          .writeStream.format("memory").queryName(qn)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      s.table(qn).orderBy("event_type")
    })
  )

  private val streamSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** The events fixture as a parquet dir for the file-stream replays;
    * every AvailableNow key reads the same one.
    */
  private def eventsReplay(d: String, batch: DataFrame): String =
    WriteOnce.sink("stream_an_source", d, "events")(batch.write.mode("overwrite").parquet(_))

  /** Ephemeral-checkpoint base for the gate's one-shot streaming
    * queries (r19, guide §6 / VERDICT r18 #4): with no explicit
    * location Spark puts the temp checkpoint (offset/commit WAL +
    * HDFSBacked state files, fsynced per micro-batch) under
    * java.io.tmpdir — ext4 here. These checkpoints are SEMANTICALLY
    * ephemeral (unique query name per invocation, deleted after the
    * run, never restarted from), so a RAM-backed dir is the honest
    * fast path on any deployment with one; falls back to tmpdir when
    * /dev/shm is absent. A durable production stream would set its
    * own checkpointLocation explicitly — this base only catches the
    * gate's one-shot queries.
    */
  private val shmCkptBase: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft_stream_ckpt")
    else None
  }

  /** Scope the shuffle/state fan-out of a gate streaming query to the
    * fixture's state volume. Streaming stateful operators bind
    * `spark.sql.shuffle.partitions` at query START as the state-store
    * partition count, and every state partition costs per-micro-batch
    * delta files + fsyncs — so fan-out must track STATE SIZE (≤2k
    * distinct users in the replay gate), not core count: at 32
    * partitions the stream-stream join spent ~3× its runtime writing
    * near-empty state files (measured round 7). At production scale
    * this is the same sizing knob batch shuffle.partitions is — raise
    * it with key cardinality; the query shape is unchanged. Restored
    * on exit so the downstream batch aggregate (and every other
    * key — Verify/Bench run keys sequentially) keeps the session
    * fan-out.
    */
  private def withStateFanout[T](s: SparkSession)(body: => T): T =
    withConf(s, Seq("spark.sql.shuffle.partitions" -> "8") ++
        shmCkptBase.map("spark.sql.streaming.checkpointLocation" -> _): _*) {
      // the queries inside body are stopped by now and never
      // restarted (unique name per invocation) — reclaim the RAM
      try body finally shmCkptBase.foreach(b => JavaUtils.deleteQuietly(new java.io.File(b)))
    }

  val oracles: Map[String, String] = Map(
    // The CDF oracle re-derives all three generations from the
    // generating table and unions the two adjacent diffs — the feed
    // must carry exactly the planted changes, tagged per generation.
    "stream_snapshot_cdf" ->
      """WITH g1 AS (SELECT doc_id, n_chars FROM documents),
        |g2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 4 THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 10 <> 3
        |  UNION ALL
        |  SELECT doc_id + 10000000, n_chars + 7
        |  FROM documents WHERE doc_id % 10 = 5),
        |g3 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 7 THEN n_chars + 500
        |         ELSE n_chars END AS n_chars
        |  FROM g2 WHERE doc_id % 10 <> 6
        |  UNION ALL
        |  SELECT doc_id + 20000000, n_chars + 11 FROM g2
        |  WHERE doc_id % 10 = 8),
        |d12 AS (
        |  SELECT 2 AS generation, coalesce(g1.doc_id, g2.doc_id) AS doc_id,
        |    CASE WHEN g2.doc_id IS NULL THEN 'delete'
        |         WHEN g1.doc_id IS NULL THEN 'insert'
        |         WHEN g1.n_chars <> g2.n_chars THEN 'update' END AS change,
        |    g1.n_chars AS old_n_chars, g2.n_chars AS new_n_chars
        |  FROM g1 FULL OUTER JOIN g2 ON g1.doc_id = g2.doc_id
        |  WHERE g2.doc_id IS NULL OR g1.doc_id IS NULL
        |     OR g1.n_chars <> g2.n_chars),
        |d23 AS (
        |  SELECT 3 AS generation, coalesce(g2.doc_id, g3.doc_id) AS doc_id,
        |    CASE WHEN g3.doc_id IS NULL THEN 'delete'
        |         WHEN g2.doc_id IS NULL THEN 'insert'
        |         WHEN g2.n_chars <> g3.n_chars THEN 'update' END AS change,
        |    g2.n_chars AS old_n_chars, g3.n_chars AS new_n_chars
        |  FROM g2 FULL OUTER JOIN g3 ON g2.doc_id = g3.doc_id
        |  WHERE g3.doc_id IS NULL OR g2.doc_id IS NULL
        |     OR g2.n_chars <> g3.n_chars)
        |SELECT * FROM (SELECT * FROM d12 UNION ALL SELECT * FROM d23)
        |ORDER BY generation, doc_id, change,
        |  old_n_chars NULLS FIRST, new_n_chars NULLS FIRST""".stripMargin,
    "stream_tumbling_agg" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  count(*) AS n, floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "stream_sliding_agg" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts)
        |         - k * INTERVAL '15 minutes' AS window_start,
        |  count(*) AS n, count(DISTINCT user_id) AS users
        |FROM events CROSS JOIN (SELECT unnest(range(4)) AS k)
        |GROUP BY 1 ORDER BY window_start""".stripMargin,
    "events_funnel" ->
      """WITH s AS (
        |  SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT s.user_id, s.signup_ts, min(p.ts) AS first_purchase_ts
        |  FROM s LEFT JOIN events p ON p.user_id = s.user_id
        |    AND p.event_type = 'purchase' AND p.ts >= s.signup_ts
        |  GROUP BY s.user_id, s.signup_ts)
        |SELECT count(*) AS n_signed_up,
        |  count(first_purchase_ts) AS n_converted,
        |  floor((avg((epoch_us(first_purchase_ts) - epoch_us(signup_ts))
        |    / 60000000.0))*10000 + 0.5)/10000 AS avg_minutes_to_convert
        |FROM conv""".stripMargin,
    "stream_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL '5 minutes'
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_availablenow_agg" ->
      """SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
        |  event_type, count(*) AS n,
        |  floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "stream_availablenow_join" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id AS user_id, count(*)::BIGINT AS n_pairs,
        |  sum(epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS sum_delay_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |GROUP BY c.user_id ORDER BY 1""".stripMargin,
    // Null-emission cutoff = final global watermark: min of the two
    // sides' max event times minus the 1 h delay; unmatched purchases
    // STRICTLY older than it were evicted and emitted, the rest are
    // still buffered at termination and do not appear.
    "stream_availablenow_left_join" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(ts) FROM c),
        |                    (SELECT max(ts) FROM p)) - INTERVAL 1 HOUR AS w),
        |pairs AS (
        |  SELECT p.user_id FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE),
        |unm AS (
        |  SELECT p.user_id FROM p, wm
        |  WHERE p.ts < wm.w AND NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.user_id = p.user_id
        |      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE)),
        |rows_all AS (
        |  SELECT user_id, 1 AS m FROM pairs
        |  UNION ALL SELECT user_id, 0 AS m FROM unm)
        |SELECT user_id, count(*)::BIGINT AS n_rows,
        |  sum(m)::BIGINT AS n_matched,
        |  sum(1 - m)::BIGINT AS n_unmatched
        |FROM rows_all GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Gaps-and-islands sessions restricted by the SAME final-watermark
    // cutoff append mode applies: a session emits only once the
    // watermark (max ts − 1 h) passes its end (last event + 5 min gap,
    // STRICT <) — the session containing the stream's max timestamp
    // is still open at end-of-input and must be absent on both sides.
    "stream_availablenow_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |i AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g),
        |sess AS (
        |  SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
        |    count(*)::BIGINT AS n,
        |    (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS duration_us
        |  FROM i GROUP BY user_id, sid),
        |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        |SELECT session_start, user_id, n, duration_us FROM sess, wm
        |WHERE last_ts + INTERVAL 5 MINUTE < wm.w
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_tws_running" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
        |  floor((max(value))*10000 + 0.5)/10000 AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_foreachbatch_upsert" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  floor((sum(value))*10000 + 0.5)/10000 AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_availablenow_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Greedy first-match funnel, relationally: step i+1 = first row of
    // that type strictly after step i's row in (ts, event_id) order.
    "events_funnel_steps" ->
      """WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
        |s1 AS (SELECT user_id, ts AS t1, event_id AS e1 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS rn
        |  FROM ev WHERE event_type = 'signup') WHERE rn = 1),
        |s2 AS (SELECT user_id, ts AS t2, event_id AS e2 FROM (
        |  SELECT ev.user_id, ev.ts, ev.event_id,
        |    row_number() OVER (PARTITION BY ev.user_id
        |      ORDER BY ev.ts, ev.event_id) AS rn
        |  FROM ev JOIN s1 USING (user_id)
        |  WHERE ev.event_type = 'click'
        |    AND (ev.ts, ev.event_id) > (s1.t1, s1.e1)) WHERE rn = 1),
        |s3 AS (SELECT user_id FROM (
        |  SELECT ev.user_id,
        |    row_number() OVER (PARTITION BY ev.user_id
        |      ORDER BY ev.ts, ev.event_id) AS rn
        |  FROM ev JOIN s2 USING (user_id)
        |  WHERE ev.event_type = 'purchase'
        |    AND (ev.ts, ev.event_id) > (s2.t2, s2.e2)) WHERE rn = 1),
        |u AS (SELECT DISTINCT user_id FROM ev)
        |SELECT u.user_id AS key,
        |  CASE WHEN s3.user_id IS NOT NULL THEN 3
        |       WHEN s2.user_id IS NOT NULL THEN 2
        |       WHEN s1.user_id IS NOT NULL THEN 1
        |       ELSE 0 END AS steps_completed
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY key""".stripMargin,
    // Same greedy ladder; 3-row step census + the Wilson readout
    // (z² as the literal product — the agg_wilson_ci mirror).
    "events_funnel_dropoff_ci" ->
      """WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
        |s1 AS (SELECT user_id, ts AS t1, event_id AS e1 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS rn
        |  FROM ev WHERE event_type = 'signup') WHERE rn = 1),
        |s2 AS (SELECT user_id, ts AS t2, event_id AS e2 FROM (
        |  SELECT ev.user_id, ev.ts, ev.event_id,
        |    row_number() OVER (PARTITION BY ev.user_id
        |      ORDER BY ev.ts, ev.event_id) AS rn
        |  FROM ev JOIN s1 USING (user_id)
        |  WHERE ev.event_type = 'click'
        |    AND (ev.ts, ev.event_id) > (s1.t1, s1.e1)) WHERE rn = 1),
        |s3 AS (SELECT user_id FROM (
        |  SELECT ev.user_id,
        |    row_number() OVER (PARTITION BY ev.user_id
        |      ORDER BY ev.ts, ev.event_id) AS rn
        |  FROM ev JOIN s2 USING (user_id)
        |  WHERE ev.event_type = 'purchase'
        |    AND (ev.ts, ev.event_id) > (s2.t2, s2.e2)) WHERE rn = 1),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |sc AS (
        |  SELECT u.user_id,
        |    CASE WHEN s3.user_id IS NOT NULL THEN 3
        |         WHEN s2.user_id IS NOT NULL THEN 2
        |         WHEN s1.user_id IS NOT NULL THEN 1
        |         ELSE 0 END AS steps_completed
        |  FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |    LEFT JOIN s3 USING (user_id)),
        |cn AS (
        |  SELECT count(*)::BIGINT AS n0,
        |    sum(CASE WHEN steps_completed >= 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n1,
        |    sum(CASE WHEN steps_completed >= 2 THEN 1 ELSE 0 END)::BIGINT
        |      AS n2,
        |    sum(CASE WHEN steps_completed >= 3 THEN 1 ELSE 0 END)::BIGINT
        |      AS n3
        |  FROM sc),
        |st AS (
        |  SELECT 1::BIGINT AS step, n0 AS n_prev, n1 AS n_reached FROM cn
        |  UNION ALL SELECT 2::BIGINT, n1, n2 FROM cn
        |  UNION ALL SELECT 3::BIGINT, n2, n3 FROM cn),
        |e AS (
        |  SELECT *,
        |    CASE WHEN n_prev > 0 THEN
        |      n_reached::DOUBLE / n_prev::DOUBLE END AS ph,
        |    1.959964 * 1.959964 AS z2
        |  FROM st),
        |c AS (
        |  SELECT *,
        |    CASE WHEN n_prev > 0 THEN
        |      (ph + z2 / (2.0 * n_prev::DOUBLE))
        |        / (1.0 + z2 / n_prev::DOUBLE) END AS center,
        |    CASE WHEN n_prev > 0 THEN
        |      1.959964 * sqrt(ph * (1.0 - ph) / n_prev::DOUBLE
        |          + z2 / (4.0 * n_prev::DOUBLE * n_prev::DOUBLE))
        |        / (1.0 + z2 / n_prev::DOUBLE) END AS half
        |  FROM e)
        |SELECT step, n_prev, n_reached,
        |  floor(ph * 10000 + 0.5) / 10000 AS conv,
        |  floor((center - half) * 10000 + 0.5) / 10000 AS ci_lo,
        |  floor((center + half) * 10000 + 0.5) / 10000 AS ci_hi
        |FROM c ORDER BY step""".stripMargin,
    // Same greedy ladder bounded to the 3-day anchor window
    // (259_200_000_000 µs); epoch_us keeps the gap check in exact
    // integer micros on both engines.
    "events_funnel_within" ->
      """WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
        |s1 AS (SELECT user_id, ts AS t1, event_id AS e1 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS rn
        |  FROM ev WHERE event_type = 'signup') WHERE rn = 1),
        |s2 AS (SELECT user_id, ts AS t2, event_id AS e2 FROM (
        |  SELECT ev.user_id, ev.ts, ev.event_id,
        |    row_number() OVER (PARTITION BY ev.user_id
        |      ORDER BY ev.ts, ev.event_id) AS rn
        |  FROM ev JOIN s1 USING (user_id)
        |  WHERE ev.event_type = 'click'
        |    AND (ev.ts, ev.event_id) > (s1.t1, s1.e1)
        |    AND epoch_us(ev.ts) <= epoch_us(s1.t1) + 259200000000) WHERE rn = 1),
        |s3 AS (SELECT ev.user_id FROM ev JOIN s2 USING (user_id)
        |  JOIN s1 USING (user_id)
        |  WHERE ev.event_type = 'purchase'
        |    AND (ev.ts, ev.event_id) > (s2.t2, s2.e2)
        |    AND epoch_us(ev.ts) <= epoch_us(s1.t1) + 259200000000
        |  GROUP BY ev.user_id),
        |u AS (SELECT DISTINCT user_id FROM ev)
        |SELECT u.user_id AS key,
        |  CASE WHEN s3.user_id IS NOT NULL THEN 3
        |       WHEN s2.user_id IS NOT NULL THEN 2
        |       WHEN s1.user_id IS NOT NULL THEN 1
        |       ELSE 0 END AS steps_completed
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY key""".stripMargin,
    // The union is source-transparent: batch union of the two
    // staged feeds, micro-quantized value sum (exact BIGINT).
    "stream_availablenow_union" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  min(floor(value * 1000000 + 0.5)::BIGINT)::BIGINT AS min_value_u,
        |  max(floor(value * 1000000 + 0.5)::BIGINT)::BIGINT AS max_value_u,
        |  sum(floor(value * 1000000 + 0.5)::BIGINT)::BIGINT AS sum_value_u
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1 ORDER BY event_type""".stripMargin
  )
}
