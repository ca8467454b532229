package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Events / time-series block (SURVEY.md §2 C, batch half).
  * Streaming equivalents (s1-s3) live in graft.streaming and are
  * spec-verified — same logical transforms, readStream entry point.
  */
object Events {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Gap threshold for sessionization, seconds. */
  val SessionGapSec = 1800L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- q30: gap-based sessionization. One shuffle on user_id; the
    // lag + running-sum windows share the same partitioning/ordering so
    // Spark evaluates them in a single Window operator.
    "q30_sessionize" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapSec = col("ts").cast("double") - lag(col("ts"), 1).over(w).cast("double")
      T(s, dir, "events")
        .withColumn("is_new",
          when(gapSec.isNull || gapSec > SessionGapSec.toDouble, 1L).otherwise(0L))
        .withColumn("session_id",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
        .orderBy("user_id", "session_id")
    },

    // ---- q31: tumbling-window aggregation via the window() operator
    // (the batch twin of the Structured Streaming windowed agg).
    "q31_tumbling" -> { (s, dir) =>
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("win.start").cast("date").as("day"), col("event_type"), col("n"), col("total_value"))
        .orderBy("day", "event_type")
    },

    // ---- q32: funnel — users whose first 'view' precedes their last
    // 'purchase'. Two partial aggs co-partitioned on user_id.
    "q32_funnel" -> { (s, dir) =>
      val e = T(s, dir, "events")
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val p = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user_id")).agg(max(col("ts")).as("last_purchase"))
      v.join(p, col("user_id") === col("p_user_id"))
        .filter(col("last_purchase") > col("first_view"))
        .agg(count(lit(1)).as("n_converted"))
    },

    // ---- q38: AS-OF join (point-in-time attribution): each purchase
    // matched to the user's most recent view at-or-before it. Spark has
    // no ASOF JOIN operator; the scalable re-expression is union + one
    // window — ONE shuffle on the key, sort within partition, last()
    // carry-forward — instead of the inequality range join, whose
    // candidate set explodes quadratically per key at scale. Rows sort
    // (ts, tag) with views first so an equal-timestamp view counts
    // (ASOF's >= semantics); views are pre-deduped to one per (user, ts)
    // with max(event_id) for a deterministic tie-break.
    "q38_asof" -> { (s, dir) =>
      val e = T(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
        .select(col("user_id"), col("ts"), lit(0).as("tag"),
          col("view_id"), lit(null).cast("long").as("purchase_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("tag"),
          lit(null).cast("long").as("view_id"), col("event_id").as("purchase_id"))
      val w = Window.partitionBy("user_id").orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      views.unionByName(purchases)
        .withColumn("matched_view", last(col("view_id"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("purchase_id"), col("user_id"), col("matched_view").as("view_id"))
        .orderBy("purchase_id")
    },

    // ---- q44: recursive CTE — the calendar-spine gap-filling pattern
    // (generate every day between min and max event date, left-join the
    // daily counts so empty days surface as 0). Spark 4's WITH RECURSIVE
    // plans a UnionLoop: the driver iterates the recursive step, each
    // iteration a distributed batch — here ~1 row/step (the spine), so
    // recursion depth = days, and the only distributed work is the one
    // daily-count aggregate + broadcast join. The recursive member
    // carries the bound (hi) through the loop instead of re-running a
    // scalar subquery per step.
    "q44_recursive_cte" -> { (s, dir) =>
      Tables.load(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""
        WITH RECURSIVE days AS (
          SELECT CAST(min(ts) AS DATE) AS d, CAST(max(ts) AS DATE) AS hi FROM events
          UNION ALL
          SELECT date_add(d, 1) AS d, hi FROM days WHERE d < hi
        )
        SELECT d AS day, coalesce(n, CAST(0 AS BIGINT)) AS n
        FROM days LEFT JOIN (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY CAST(ts AS DATE)) e
          ON days.d = e.day
        ORDER BY day""")
    },

    // ---- e3: the NATIVE as-of join — same semantics and oracle as q38,
    // executed by the custom whole-operator stack (graft.plans.AsOfJoin:
    // asof_on marker → AsOfJoinRewrite → AsOfJoinStrategy → AsOfJoinExec).
    // The physical plan is one co-partitioned shuffle per side + in-
    // partition sort + an O(|L|+|R|) forward merge with O(1) task state —
    // the operator q38 emulates with union + window, now reusable from
    // any query as `join(right, expr("asof_on(..)"), "left")`.
    "e3_asof_native" -> { (s, dir) =>
      val e = T(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("view_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
      purchases.join(views, expr("asof_on(p_user, v_user, p_ts, v_ts)"), "left")
        .select(col("purchase_id"), col("p_user").as("user_id"), col("view_id"))
        .orderBy("purchase_id")
    },

    // ---- q39: RANGE join — pairs of a user's events within 5 minutes.
    // Spark-first re-expression: time-bucket blocking (probe side
    // explodes into its own and the next 300 s bucket) turns the
    // inequality join into an equi-join on (user, bucket) + a residual
    // |Δt| filter — candidates bounded by bucket population instead of
    // the per-key quadratic blowup a raw theta-join gives the planner.
    // Seconds are floor-truncated identically on both engines.
    "q39_range_join" -> { (s, dir) =>
      val e = T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts").cast("long").as("sec"))
        .withColumn("bkt", floor(col("sec") / 300))
      // Blocking must NOT assume id order correlates with time order: a
      // pair is joined in either direction (id_x != id_y) and
      // canonicalized afterwards with least/greatest — ordering inside
      // the blocking key would lose pairs whose lower-id event sits in
      // the later bucket. distinct() collapses the two directions.
      val probe = e.select(col("user_id"), col("event_id").as("id_x"), col("sec").as("sec_x"),
        explode(array(col("bkt"), col("bkt") + 1)).as("jb"))
      val build = e.select(col("user_id").as("user2"), col("event_id").as("id_y"),
        col("sec").as("sec_y"), col("bkt").as("jb2"))
      probe.join(build, col("user_id") === col("user2") && col("jb") === col("jb2") &&
          col("id_x") =!= col("id_y") && abs(col("sec_x") - col("sec_y")) <= 300)
        .select(least(col("id_x"), col("id_y")).as("id_a"),
          greatest(col("id_x"), col("id_y")).as("id_b"),
          when(col("id_x") < col("id_y"), col("sec_y") - col("sec_x"))
            .otherwise(col("sec_x") - col("sec_y")).as("dt_sec"))
        .distinct()
        .orderBy("id_a", "id_b")
    },

    // ---- q41: time-RANGE window frame — trailing-1-hour running sum
    // per user (RANGE frames bound by the ORDER-BY VALUE, not row
    // count: all peers within 3600 s enter the frame, unlike q11's
    // ROWS frames). Seconds are floor-truncated identically on both
    // engines (q39 convention); true sums have exactly 2 decimals, so
    // round(2) is boundary-safe.
    "q41_range_frame" -> { (s, dir) =>
      val e = T(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("sec"), col("value"))
      val w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
      e.select(col("user_id"), col("event_id"), col("sec"),
          round(sum(col("value")).over(w), 2).as("trailing_1h"))
        .orderBy("user_id", "sec", "event_id")
    },

    // ---- q33: DAU + next-day retention via self-join on (user, day+1).
    "q33_retention" -> { (s, dir) =>
      val daily = T(s, dir, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
      val next = daily.select(col("user_id").as("b_user_id"), col("day").as("b_day"))
      daily.join(next,
          col("user_id") === col("b_user_id") && col("b_day") === date_add(col("day"), 1),
          "left")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("dau"),
          countDistinct(col("b_user_id")).as("retained"))
        .orderBy("day")
    },

    // ---- q53: running DISTINCT count over a window — "how many
    // distinct event types has this user produced so far". Spark has no
    // count(DISTINCT) OVER; the idiomatic translation is
    // size(collect_set()) over the running frame (set state is bounded
    // by the type cardinality, not the event count). Unique (sec,
    // event_id) ordering makes the running frame engine-identical.
    "q53_window_distinct" -> { (s, dir) =>
      val e = T(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("sec"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("user_id"), col("event_id"), col("sec"),
          size(collect_set(col("event_type")).over(w)).as("n_types_seen"))
        .orderBy("user_id", "sec", "event_id")
    },

    // ---- q68: linear-interpolation gap fill — the numeric step past
    // q50's last-value carry-forward: a sparse metric (visible on every
    // 3rd event only) is rebuilt by interpolating between the
    // bracketing observations, weighted by elapsed event time. Both
    // brackets arrive through IGNORE NULLS window passes over
    // (time, value) structs sharing ONE partitioning/sort (one
    // exchange; the opposite-frame pass rides the same sort order —
    // no second shuffle); the interpolation itself is one
    // deterministic double expression over integer cents/µs, so both
    // engines compute the identical IEEE value and the single round is
    // exact. Per-user windows at 100 TB: user cardinality ~ corpus
    // scale, so partitions stay balanced — no single-task stratum.
    "q68_interpolate" -> { (s, dir) =>
      val e = T(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("t_us"),
          expr("case when event_id % 3 = 0 then cast(round(value * 100) as bigint) end")
            .as("v_cents"))
      val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
      val obs = expr("case when v_cents is not null then struct(t_us, v_cents) end")
      e.withColumn("prev", last(obs, ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nxt", first(obs, ignoreNulls = true)
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .select(col("user_id"), col("event_id"), col("t_us"), col("v_cents"),
          expr("""cast(round(
              case when v_cents is not null then cast(v_cents as double)
                   when prev is null and nxt is null then null
                   when prev is null then cast(nxt.v_cents as double)
                   when nxt is null then cast(prev.v_cents as double)
                   -- tied-timestamp bracket: 0/0 would be NaN (Spark
                   -- casts NaN->0 silently, DuckDB raises) — degrade to
                   -- carry-forward, mirrored in the oracle
                   when nxt.t_us = prev.t_us then cast(prev.v_cents as double)
                   else cast(prev.v_cents as double) +
                        (cast(nxt.v_cents as double) - cast(prev.v_cents as double)) *
                        ((t_us - prev.t_us) / cast(nxt.t_us - prev.t_us as double))
              end) as bigint)""").as("interp_cents"))
        .orderBy("user_id", "t_us", "event_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "q30_sessionize" -> """
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessions AS (
        SELECT user_id, value,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, count(*) AS n_events,
             round(sum(value), 2) AS session_value
      FROM sessions
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",

    "q31_tumbling" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY day, event_type""",

    "q32_funnel" -> """
      SELECT count(*) AS n_converted FROM (
        SELECT v.user_id
        FROM (SELECT user_id, min(ts) AS first_view FROM events
              WHERE event_type = 'view' GROUP BY user_id) v
        JOIN (SELECT user_id, max(ts) AS last_purchase FROM events
              WHERE event_type = 'purchase' GROUP BY user_id) p
          ON v.user_id = p.user_id
        WHERE p.last_purchase > v.first_view)""",

    "q38_asof" -> """
      WITH v AS (
        SELECT user_id, ts, max(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      p AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase')
      SELECT p.purchase_id, p.user_id, v.view_id
      FROM p ASOF LEFT JOIN v
        ON p.user_id = v.user_id AND p.ts >= v.ts
      ORDER BY purchase_id""",

    "q44_recursive_cte" -> """
      WITH RECURSIVE days AS (
        SELECT CAST(min(ts) AS DATE) AS d, CAST(max(ts) AS DATE) AS hi FROM events
        UNION ALL
        SELECT d + 1 AS d, hi FROM days WHERE d < hi
      )
      SELECT d AS day, CAST(coalesce(n, 0) AS BIGINT) AS n
      FROM days LEFT JOIN (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY 1) e
        ON days.d = e.day
      ORDER BY day""",

    // e3 = q38's semantics through the native operator: same oracle
    "e3_asof_native" -> """
      WITH v AS (
        SELECT user_id, ts, max(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      p AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase')
      SELECT p.purchase_id, p.user_id, v.view_id
      FROM p ASOF LEFT JOIN v
        ON p.user_id = v.user_id AND p.ts >= v.ts
      ORDER BY purchase_id""",

    "q39_range_join" -> """
      WITH e AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
        FROM events)
      SELECT a.event_id AS id_a, b.event_id AS id_b, b.sec - a.sec AS dt_sec
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
       AND abs(a.sec - b.sec) <= 300
      ORDER BY id_a, id_b""",

    "q41_range_frame" -> """
      WITH e AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
        FROM events)
      SELECT user_id, event_id, sec,
             round(sum(value) OVER (PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS trailing_1h
      FROM e
      ORDER BY user_id, sec, event_id""",

    "q33_retention" -> """
      WITH daily AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events)
      SELECT a.day AS day,
             count(DISTINCT a.user_id) AS dau,
             count(DISTINCT b.user_id) AS retained
      FROM daily a LEFT JOIN daily b
        ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
      GROUP BY a.day
      ORDER BY day""",

    "q53_window_distinct" -> """
      WITH e AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               event_type
        FROM events)
      SELECT user_id, event_id, sec,
             CAST(count(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
               AS n_types_seen
      FROM e
      ORDER BY user_id, sec, event_id""",

    "q68_interpolate" -> """
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS t_us,
               CASE WHEN event_id % 3 = 0
                    THEN CAST(round(value * 100) AS BIGINT) END AS v_cents
        FROM events),
      f AS (
        SELECT user_id, event_id, t_us, v_cents,
               last_value(CASE WHEN v_cents IS NOT NULL
                   THEN struct_pack(t_us := t_us, v_cents := v_cents) END
                 IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
               first_value(CASE WHEN v_cents IS NOT NULL
                   THEN struct_pack(t_us := t_us, v_cents := v_cents) END
                 IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
        FROM e)
      SELECT user_id, event_id, t_us, v_cents,
             CAST(round(
               CASE WHEN v_cents IS NOT NULL THEN CAST(v_cents AS DOUBLE)
                    WHEN prev IS NULL AND nxt IS NULL THEN NULL
                    WHEN prev IS NULL THEN CAST(nxt.v_cents AS DOUBLE)
                    WHEN nxt IS NULL THEN CAST(prev.v_cents AS DOUBLE)
                    WHEN nxt.t_us = prev.t_us THEN CAST(prev.v_cents AS DOUBLE)
                    ELSE CAST(prev.v_cents AS DOUBLE) +
                         (CAST(nxt.v_cents AS DOUBLE) - CAST(prev.v_cents AS DOUBLE)) *
                         ((t_us - prev.t_us) / CAST(nxt.t_us - prev.t_us AS DOUBLE))
               END) AS BIGINT) AS interp_cents
      FROM f
      ORDER BY user_id, t_us, event_id"""
  )
}
