package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.TestData
import graft.TestData.r4

/** §2.C joins (SURVEY.md).
  *
  * Strategy choices are pinned where it matters for scale:
  * `broadcast()` for dimension tables (nation/region never shuffle),
  * hints for shuffle-hash vs sort-merge on the fact joins so the
  * physical plan is stable for Bench. The as-of join deliberately
  * avoids the naive per-key join explosion: it's a single
  * sort-within-user window pass (one shuffle on user_id), the shape
  * that survives 100 TB where a time-range self-join would not.
  */
object Joins {
  type Q = (SparkSession, String) => DataFrame

  /** Every purchase event with the last click of the same user at or
    * before it in the `order` of the user's events (the as-of match):
    * (event_id, user_id, ts, click_id, click_ts), purchases without
    * one dropped.
    */
  private def purchaseClicks(s: SparkSession, d: String,
                             order: Column*): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    TestData.events(s, d)
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), true).over(w))
      .withColumn("click_ts",
        last(when(col("event_type") === "click", col("ts")), true).over(w))
      .filter(col("event_type") === "purchase" && col("click_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
              col("click_id"), col("click_ts"))
      .orderBy("event_id")
  }

  val defs: Map[String, Q] = Map(
    "join_broadcast_inner" -> ((s, d) =>
      TestData.nation(s, d)
        .join(broadcast(TestData.region(s, d)),
              col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")),

    "join_shuffle_hash" -> ((s, d) =>
      TestData.orders(s, d)
        .join(TestData.customer(s, d).hint("shuffle_hash"),
              col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")),

    "join_sort_merge" -> ((s, d) =>
      TestData.lineitem(s, d)
        .join(TestData.orders(s, d).hint("merge"),
              col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"),
                r4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                  .as("revenue"))
        // non-unique fixture key: revenue (r4-quantized) completes
        // the total order; o_orderstatus is constant per orderkey
        .orderBy("l_orderkey", "l_linenumber", "revenue")),

    "join_left_outer" -> ((s, d) =>
      TestData.customer(s, d)
        .join(TestData.orders(s, d),
              col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
             r4(sum(coalesce(col("o_totalprice"), lit(0.0)))).as("total_spent"))
        .orderBy("c_custkey")),

    "join_full_outer" -> ((s, d) => {
      val a = TestData.customer(s, d)
        .filter(col("c_acctbal") > 9000.0)
        .select(col("c_custkey"), col("c_acctbal"))
      val b = TestData.orders(s, d)
        .filter(col("o_totalprice") > 400000.0)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_big_orders"))
      a.join(b, col("c_custkey") === col("o_custkey"), "full")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_custkey").isNotNull.as("rich"),
          col("o_custkey").isNotNull.as("big_spender"),
          coalesce(col("n_big_orders"), lit(0L)).as("n_big_orders"))
        .orderBy("custkey")
    }),

    "join_left_semi" -> ((s, d) =>
      TestData.customer(s, d)
        .join(TestData.orders(s, d)
                .filter(col("o_orderpriority") === "1-URGENT"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    "join_left_anti" -> ((s, d) =>
      TestData.customer(s, d)
        .join(TestData.orders(s, d),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")),

    "join_cross" -> ((s, d) =>
      TestData.region(s, d).select("r_name")
        .crossJoin(TestData.nation(s, d).select("n_name"))
        .orderBy("r_name", "n_name")),

    // Non-equi join: Catalyst extracts (brand, size) vs (brand, size+1)
    // as equi keys, leaving only the price inequality as a post-filter
    // — so this hash-joins instead of nested-looping.
    "join_theta_range" -> ((s, d) => {
      val p1 = TestData.part(s, d).select(
        col("p_partkey").as("k1"), col("p_brand").as("b1"),
        col("p_size").as("s1"), col("p_retailprice").as("rp1"))
      val p2 = TestData.part(s, d).select(
        col("p_partkey").as("k2"), col("p_brand").as("b2"),
        col("p_size").as("s2"), col("p_retailprice").as("rp2"))
      p1.join(p2,
          col("b1") === col("b2") && col("s1") === col("s2") + lit(1)
            && col("rp1") > col("rp2"))
        .select(col("k1"), col("k2"), col("b1").as("brand"),
                col("s1"), col("s2"))
        .orderBy("k1", "k2")
    }),

    // As-of join, single-pass form: one shuffle on user_id, running
    // "last click so far" carried by a window — no pairwise join.
    "join_asof" -> ((s, d) =>
      purchaseClicks(s, d, col("ts"), col("event_id"))),

    // Forward as-of: for each purchase, the NEXT click at-or-after it.
    // Same single-pass shape as join_asof but iterated in descending
    // time order (running "first click ahead"); ties on ts resolve to
    // the smallest event_id in both engines (DESC, DESC iteration ⇒
    // last-seen is the minimum id of that instant). The oracle uses
    // the identical window formulation — engine-neutral by
    // construction (DuckDB's ASOF JOIN is backward-only).
    "join_asof_forward" -> ((s, d) =>
      purchaseClicks(s, d, col("ts").desc, col("event_id").desc)),

    // Nearest as-of (completes the family: backward, forward,
    // NEAREST): both directional candidates ride the same one-shuffle
    // pass — a running last-click in ascending time order and a
    // running next-click in descending order — then the smaller
    // absolute delta wins, ties to the backward match. Deltas are
    // exact integer microseconds, so the pick is float-free; the
    // oracle runs the identical dual-window formulation.
    "join_asof_nearest" -> ((s, d) => {
      val ev = TestData.events(s, d)
        .select("user_id", "ts", "event_id", "event_type")
      val wb = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isClick = col("event_type") === "click"
      ev
        .withColumn("b_id", last(when(isClick, col("event_id")), true).over(wb))
        .withColumn("b_ts", last(when(isClick, col("ts")), true).over(wb))
        .withColumn("f_id", last(when(isClick, col("event_id")), true).over(wf))
        .withColumn("f_ts", last(when(isClick, col("ts")), true).over(wf))
        .filter(col("event_type") === "purchase"
          && (col("b_id").isNotNull || col("f_id").isNotNull))
        .withColumn("b_delta",
          unix_micros(col("ts")) - unix_micros(col("b_ts")))
        .withColumn("f_delta",
          unix_micros(col("f_ts")) - unix_micros(col("ts")))
        .withColumn("use_b", col("f_id").isNull
          || (col("b_id").isNotNull && col("b_delta") <= col("f_delta")))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("use_b"), col("b_id")).otherwise(col("f_id")).as("click_id"),
          when(col("use_b"), col("b_delta")).otherwise(col("f_delta"))
            .as("delta_us"))
        .orderBy("event_id")
    }),

    // Tolerance-bounded as-of (pandas merge_asof(tolerance=...) / kdb
    // wj semantics): the backward match survives only when it is at
    // most 10 minutes old — stale matches become NULL but the fact row
    // is KEPT (attribution with an expiry window). Same one-shuffle
    // running-last window as join_asof; the tolerance check is
    // map-side integer-microsecond arithmetic after it.
    "join_asof_tolerance" -> ((s, d) => {
      val tolUs = 10L * 60L * 1000000L
      val ev = TestData.events(s, d)
        .select("user_id", "ts", "event_id", "event_type")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("b_id",
          last(when(col("event_type") === "click", col("event_id")), true).over(w))
        .withColumn("b_ts",
          last(when(col("event_type") === "click", col("ts")), true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("delta",
          unix_micros(col("ts")) - unix_micros(col("b_ts")))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("delta") <= tolUs, col("b_id")).as("click_id"),
          when(col("delta") <= tolUs, col("delta")).as("delta_us"))
        .orderBy("event_id")
    }),

    "join_interval_overlap" -> ((s, d) => {
      val sg = TestData.events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id").as("u"),
                col("ts").as("signup_ts"))
      val pu = TestData.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
                col("ts").as("purchase_ts"))
      sg.join(pu, col("u") === col("user_id")
            && col("purchase_ts") >= col("signup_ts")
            && col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 10 MINUTES"))
        .select("signup_id", "purchase_id", "user_id", "signup_ts", "purchase_ts")
        .orderBy("signup_id", "purchase_id")
    }),

    // NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): customers
    // with a scrubbed (NULL) nation key still match the dimension's
    // sentinel UNKNOWN row — the dims-with-unknown-member pattern.
    // Null-safe equality keeps the join a HASH join (NULL is just
    // another key value), where an `OR (a IS NULL AND b IS NULL)`
    // formulation would degrade to nested-loop.
    "join_null_safe" -> ((s, d) => {
      val a = TestData.customer(s, d)
        .select(col("c_custkey"),
          when(col("c_custkey") % 11 === 5, lit(null))
            .otherwise(col("c_nationkey")).as("nk"))
      val dim = TestData.nation(s, d)
        .select(col("n_nationkey").cast("int").as("dk"), col("n_name"))
        .unionAll(s.range(1).select(lit(null).cast("int").as("dk"),
          lit("UNKNOWN").as("n_name")))
      a.join(dim, col("nk") <=> col("dk"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("n_name")
    }),

    // INTERPOLATED AS-OF JOIN (round 10): each purchase probes the
    // hourly click-count series and gets the LINEARLY INTERPOLATED
    // value between the bracketing occupied hours — the financial
    // "sample a sparse quote curve at trade time" op, one step past
    // join_asof_nearest's step function. Scale shape: the series'
    // consecutive-pair table (lead over the TIME-sized grid)
    // explodes its calendar hours (gap fanout capped at 168 h —
    // longer holes are excluded, stated) and the corpus-sized probe
    // stream EQUI-joins on its floor hour — never a non-equi range
    // probe, never a probe-grain window. The interpolation fraction
    // is one mirrored double expression, r4'd. Probes outside the
    // covered span drop (stated).
    "join_asof_interpolated" -> ((s, d) => {
      val W = Window.orderBy("hr")
      val series = TestData.events(s, d)
        .filter(col("event_type") === "click")
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val brackets = series
        .withColumn("h1", lead("hr", 1).over(W))
        .withColumn("c1", lead("cnt", 1).over(W))
        .filter(col("h1").isNotNull && col("h1") - col("hr") <= 168)
        .select(explode(sequence(col("hr"), col("h1") - 1)).as("cal_hr"),
          col("hr").as("h0"), col("cnt").as("c0"),
          col("h1"), col("c1"))
      TestData.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("t_us"))
        .withColumn("cal_hr", expr("t_us DIV 3600000000"))
        .join(brackets, "cal_hr")
        .withColumn("frac",
          (col("t_us") - col("h0") * 3600000000L).cast("double")
            / ((col("h1") - col("h0")) * 3600000000L).cast("double"))
        .withColumn("interp", r4(col("c0")
          + (col("c1") - col("c0")).cast("double") * col("frac")))
        .select("event_id", "h0", "c0", "h1", "c1", "interp")
        .orderBy("event_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "join_null_safe" ->
      """WITH a AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 11 = 5 THEN NULL
        |         ELSE c_nationkey END AS nk
        |  FROM customer),
        |dim AS (
        |  SELECT n_nationkey AS dk, n_name FROM nation
        |  UNION ALL SELECT NULL, 'UNKNOWN')
        |SELECT n_name, count(*)::BIGINT AS n_customers
        |FROM a JOIN dim ON nk IS NOT DISTINCT FROM dk
        |GROUP BY 1 ORDER BY n_name""".stripMargin,
    "join_broadcast_inner" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "join_shuffle_hash" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "join_sort_merge" ->
      """SELECT l_orderkey, l_linenumber, o_orderstatus,
        |  floor((l_extendedprice * (1.0 - l_discount))*10000 + 0.5)/10000 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber, revenue""".stripMargin,
    "join_left_outer" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  floor((sum(coalesce(o_totalprice, 0.0)))*10000 + 0.5)/10000 AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
    "join_full_outer" ->
      """WITH a AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0),
        |b AS (SELECT o_custkey, count(*) AS n_big_orders FROM orders
        |      WHERE o_totalprice > 400000.0 GROUP BY o_custkey)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  c_custkey IS NOT NULL AS rich,
        |  o_custkey IS NOT NULL AS big_spender,
        |  coalesce(n_big_orders, 0) AS n_big_orders
        |FROM a FULL OUTER JOIN b ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "join_left_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "join_left_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "join_theta_range" ->
      """SELECT p1.p_partkey AS k1, p2.p_partkey AS k2,
        |  p1.p_brand AS brand, p1.p_size AS s1, p2.p_size AS s2
        |FROM part p1 JOIN part p2
        |  ON p1.p_brand = p2.p_brand AND p1.p_size = p2.p_size + 1
        |  AND p1.p_retailprice > p2.p_retailprice
        |ORDER BY k1, k2""".stripMargin,
    "join_asof" ->
      """SELECT p.event_id, p.user_id, p.ts,
        |  c.event_id AS click_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "join_asof_forward" ->
      """SELECT event_id, user_id, ts, click_id, click_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER w AS click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END
        |      IGNORE NULLS) OVER w AS click_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE event_type = 'purchase' AND click_id IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "join_asof_tolerance" ->
      """SELECT event_id, user_id, ts,
        |  CASE WHEN epoch_us(ts) - epoch_us(b_ts) <= 600000000
        |       THEN b_id END AS click_id,
        |  CASE WHEN epoch_us(ts) - epoch_us(b_ts) <= 600000000
        |       THEN epoch_us(ts) - epoch_us(b_ts) END AS delta_us
        |FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER w AS b_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END
        |      IGNORE NULLS) OVER w AS b_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "join_asof_nearest" ->
      """SELECT event_id, user_id, ts,
        |  CASE WHEN use_b THEN b_id ELSE f_id END AS click_id,
        |  CASE WHEN use_b THEN b_delta ELSE f_delta END AS delta_us
        |FROM (
        |  SELECT event_id, user_id, ts, event_type, b_id, f_id,
        |    epoch_us(ts) - epoch_us(b_ts) AS b_delta,
        |    epoch_us(f_ts) - epoch_us(ts) AS f_delta,
        |    (f_id IS NULL OR (b_id IS NOT NULL
        |      AND epoch_us(ts) - epoch_us(b_ts)
        |          <= epoch_us(f_ts) - epoch_us(ts))) AS use_b
        |  FROM (
        |    SELECT event_id, user_id, ts, event_type,
        |      last_value(CASE WHEN event_type = 'click' THEN event_id END
        |        IGNORE NULLS) OVER wb AS b_id,
        |      last_value(CASE WHEN event_type = 'click' THEN ts END
        |        IGNORE NULLS) OVER wb AS b_ts,
        |      last_value(CASE WHEN event_type = 'click' THEN event_id END
        |        IGNORE NULLS) OVER wf AS f_id,
        |      last_value(CASE WHEN event_type = 'click' THEN ts END
        |        IGNORE NULLS) OVER wf AS f_ts
        |    FROM events
        |    WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
        |WHERE event_type = 'purchase' AND (b_id IS NOT NULL OR f_id IS NOT NULL)
        |ORDER BY event_id""".stripMargin,
    "join_interval_overlap" ->
      """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
        |  p.user_id, s.ts AS signup_ts, p.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON s.user_id = p.user_id
        |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 10 MINUTE
        |ORDER BY signup_id, purchase_id""".stripMargin,
    // Same bracket-pair explode + floor-hour equi-join, same capped
    // gap, mirrored interpolation op order.
    "join_asof_interpolated" ->
      """WITH series AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hr, count(*)::BIGINT AS cnt
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |br AS (
        |  SELECT hr AS h0, cnt AS c0, h1, c1 FROM (
        |    SELECT hr, cnt, lead(hr) OVER (ORDER BY hr) AS h1,
        |      lead(cnt) OVER (ORDER BY hr) AS c1
        |    FROM series)
        |  WHERE h1 IS NOT NULL AND h1 - hr <= 168),
        |cal AS (
        |  SELECT unnest(generate_series(h0, h1 - 1)) AS cal_hr,
        |    h0, c0, h1, c1
        |  FROM br),
        |p AS (
        |  SELECT event_id, epoch_us(ts) AS t_us,
        |    epoch_us(ts) // 3600000000 AS cal_hr
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, h0, c0, h1, c1,
        |  floor((c0 + (c1 - c0)::DOUBLE
        |    * ((t_us - h0 * 3600000000)::DOUBLE
        |      / ((h1 - h0) * 3600000000)::DOUBLE)) * 10000 + 0.5) / 10000
        |    AS interp
        |FROM p JOIN cal USING (cal_hr)
        |ORDER BY event_id""".stripMargin
  )
}
