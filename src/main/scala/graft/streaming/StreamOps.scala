package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, ValueState}

import java.sql.Timestamp

/** Structured Streaming pipelines over the `events` schema
  * (§2.K SURVEY.md / §3.3). The windowed transforms reuse the exact
  * Catalyst expressions of the batch forms in
  * `graft.operators.Streaming`; these entry points add the
  * streaming-only semantics: watermarks (late-data drop + state
  * eviction), within-watermark dedup, and arbitrary per-key state.
  *
  * All operators are keyed so state partitions by key across
  * executors; watermarks bound state size — the two properties that
  * keep a stream job stable at production scale.
  */
object StreamOps {

  /** Event record for typed streaming tests/pipelines. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Per-user running aggregate emitted by [[runningUserStats]]. */
  case class UserRunning(user_id: Long, n_events: Long, max_value: Double)

  /** Tumbling-window counts with late-data drop after `watermark`. */
  def tumblingCounts(events: DataFrame, width: String,
                     watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** Sliding-window counts (width/slide) with watermark. */
  def slidingCounts(events: DataFrame, width: String, slide: String,
                    watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"))

  /** 5-min-gap session stats per user (merging handled by the
    * session-window state store).
    */
  def sessionStats(events: DataFrame, gap: String,
                   watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n"))

  /** Exactly-once-ish dedup on event_id: duplicates arriving within
    * the watermark delay are dropped; state for old ids is evicted
    * once the watermark passes, bounding memory.
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Arbitrary stateful processing: per-user running count and max
    * via `flatMapGroupsWithState` (update mode, no timeout — state
    * lives for the job; production would set a timeout).
    */
  /** Stream-stream join: each purchase joined to clicks by the same
    * user within the preceding `window`. Both sides are watermarked so
    * the join state is evictable — unbounded state is the failure
    * mode of stream-stream joins at scale, and the time-range
    * condition is what lets Spark bound it.
    */
  def clickToPurchaseJoin(events: DataFrame, watermark: String,
                          window: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks,
      col("cu") === col("user_id")
        && col("click_ts") <= col("purchase_ts")
        && col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"))
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
  }

  /** LEFT OUTER stream-stream join: every purchase emits — matched
    * pairs immediately (Append), unattributed purchases as a
    * null-click row once the CLICK-side watermark passes their event
    * time (state timeout: no qualifying click can arrive anymore, so
    * the engine evicts the buffered purchase and emits the outer
    * row). The production attribution join mode: inner loses the
    * unconverted traffic; this keeps it, still with bounded state.
    */
  def clickToPurchaseLeftJoin(events: DataFrame, watermark: String,
                              window: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks,
      col("cu") === col("user_id")
        && col("click_ts") <= col("purchase_ts")
        && col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"),
      "left_outer")
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
  }

  /** Vector record for the streaming index append
    * (`GraftEngine.appendToIvfIndex`).
    */
  case class Vec(vec_id: Long, embedding: Array[Double])

  /** The Spark 4 `transformWithState` form of [[runningUserStats]]:
    * a `StatefulProcessor` with explicit `ValueState` — the current
    * arbitrary-state API (state schema'd + evolvable, RocksDB-ready),
    * preferred over `flatMapGroupsWithState` for new pipelines.
    */
  class RunningStatsProcessor
      extends StatefulProcessor[Long, Event, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import org.apache.spark.sql.Encoders
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning], org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserRunning] = {
      val prev = Option(state.get()).getOrElse(UserRunning(key, 0L, Double.MinValue))
      var n = prev.n_events
      var mx = prev.max_value
      rows.foreach { e => n += 1; mx = math.max(mx, e.value) }
      val next = UserRunning(key, n, mx)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** [[runningUserStats]] via `transformWithState`. */
  def runningUserStatsTws(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-user per-type running count emitted by [[userTypeCountsTws]]. */
  case class UserTypeCount(user_id: Long, event_type: String, n: Long)

  /** `MapState` form of the behavioral counter: one state map per
    * user keyed by event_type — the state-store layout that scales
    * with DISTINCT TYPES PER USER rather than users × types (absent
    * keys cost nothing, unlike a dense per-user vector), and updates
    * touch only the arriving types' entries. Emits the updated
    * entries each batch (Update mode semantics).
    */
  class TypeCountsProcessor
      extends StatefulProcessor[Long, Event, UserTypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import org.apache.spark.sql.Encoders
      counts = getHandle.getMapState[String, Long](
        "type_counts", Encoders.STRING, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val prev = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, prev + 1L)
        touched += e.event_type
      }
      touched.iterator.map(t => UserTypeCount(key, t, counts.getValue(t)))
    }
  }

  /** Per-(user, type) running counts via `transformWithState` MapState. */
  def userTypeCountsTws(events: Dataset[Event]): Dataset[UserTypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Session summary emitted when a user's timer expires. */
  case class SessionClose(user_id: Long, n_events: Long, closed: Boolean)

  /** TIMER-driven session close: each arriving batch refreshes the
    * user's count and re-arms a processing-time timer `idleMs` ahead;
    * when the timer expires (no arrivals for `idleMs`), the summary
    * row is EMITTED BY THE TIMER PATH (`handleExpiredTimer`) and the
    * state cleared — the state-eviction pattern that stops per-key
    * state from growing forever on 100 TB event streams (watermarks
    * evict by event time; timers evict by absence of traffic).
    */
  class SessionCloseProcessor(idleMs: Long)
      extends StatefulProcessor[Long, Event, SessionClose] {
    @transient private var count: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import org.apache.spark.sql.Encoders
      count = getHandle.getValueState[Long](
        "n", Encoders.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionClose] = {
      val prev = Option(count.get()).getOrElse(0L)
      val n = prev + rows.size
      count.update(n)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs + idleMs)
      Iterator.single(SessionClose(key, n, closed = false))
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionClose] = {
      val n = Option(count.get()).getOrElse(0L)
      count.clear()
      Iterator.single(SessionClose(key, n, closed = true))
    }
  }

  /** Idle-timeout session close via `transformWithState` timers. */
  def sessionCloseTws(events: Dataset[Event], idleMs: Long): Dataset[SessionClose] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionCloseProcessor(idleMs),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  def runningUserStats(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, Double.MinValue))
          var n = prev.n_events
          var mx = prev.max_value
          rows.foreach { e => n += 1; mx = math.max(mx, e.value) }
          val next = UserRunning(uid, n, mx)
          state.update(next)
          Iterator.single(next)
      }
  }
}
