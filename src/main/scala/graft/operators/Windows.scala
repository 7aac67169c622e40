package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Dialect
import graft.Queries.Q
import graft.Tables._

/** Event-time window aggregations over `events` — the Spark-idiom
  * capability upgrade claimed in SURVEY §2.10 (the reference is batch
  * with file-existence checkpoints; tumbling/sliding/session windows are
  * what its time-series data model calls for on Spark).
  *
  * All three are single hash-aggregate plans: `window()` /
  * `session_window()` are projections (each row maps to its window(s)
  * before the shuffle), so the shuffle is keyed by (window, keys) and
  * map-side partial aggregation applies — the right shape at 100 TB.
  * The same expressions run under Structured Streaming with a watermark
  * (see graft.streaming.StreamingJobs + its spec).
  */
object Windows {

  // W1: tumbling 5-minute windows — count + decimal-accumulated sum
  // (double sums are partition-order dependent; decimal is not).
  val w1Tumbling = Q(
    "w1_window_tumbling",
    (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .select(col("window.start").as("w_start"), col("n"),
          col("sum_value")),
    Some("""SELECT time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP))
        AS w_start,
      count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1"""))

  // W2: sliding windows, 10-minute width / 5-minute slide — every event
  // belongs to exactly width/slide = 2 windows; the oracle replays that
  // expansion with an explicit 2-row offset cross join.
  val w2Sliding = Q(
    "w2_window_sliding",
    (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("n")),
    Some("""SELECT time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP))
          - to_minutes(5 * k) AS w_start,
      count(*) AS n
      FROM events CROSS JOIN (VALUES (0), (1)) t(k)
      GROUP BY 1"""))

  // W3: session windows per user, 10-minute inactivity gap. Spark's
  // session_window end = last event + gap, and an event landing EXACTLY
  // at last+gap still merges (verified by WindowsAndSinkSpec) — so the
  // oracle's gaps-and-islands break condition is strictly `> gap`.
  val w3Session = Q(
    "w3_window_session",
    (s, d) =>
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("n")),
    Some("""WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      m AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
               THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM m)
      SELECT user_id, min(ts) AS s_start,
        max(ts) + INTERVAL 10 MINUTE AS s_end, count(*) AS n
      FROM sess GROUP BY user_id, sid"""))

  // ---------------------------------------------------------------------
  // W4: time-series gap fill — the reference-flavored capability with no
  // representative until r16 (VERDICT r15 #7): the fitness lake's 1-min
  // intraday series (ref: fitbit_utils.py:420's per-day minute files)
  // has missing minutes BY NATURE, and every downstream aggregate was
  // silently treating gaps as zeros. Per (resource=event_type, observed
  // day): generate the full 1440-minute grid (S7's date-sequence
  // discipline one grain down), left-join the per-minute observations,
  // and fill by last-observation-carried-forward. Every minute reports
  // its provenance (`status`: observed / locf_same_day / locf_prev_day
  // / unfilled) plus the day's missing-minute count — the d13 rule:
  // how much was imputed is first-class output, not a silent repair.
  //
  // Scale shape: the LOCF window partitions by (event_type, DAY) —
  // bounded 1440 rows per partition at ANY corpus size — never by
  // event_type alone (the classic LOCF skew trap: one hot resource =
  // one giant sorted partition at 100 TB). The cross-day carry rides a
  // DAY-level frame (#resources × #days rows — planner-sized, the c10
  // discipline) joined back broadcast-style; grid generation is an
  // explode over that same planner-sized frame, so no stage ever keys
  // on less than (resource, day). Every observed day has ≥1 obs, so
  // lag(close) needs no nested LOCF; only minutes before a resource's
  // first-ever observation stay honestly `unfilled`.
  // ---------------------------------------------------------------------
  val w4GapFill = Q(
    "w4_gap_fill",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val obs = events(s, d)
        .select(col("event_type"),
          date_trunc("minute", col("ts")).as("m"),
          col("value"))
        .groupBy(col("event_type"), col("m"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("val"))
      // day-level frame: one row per (resource, observed day) with the
      // day's closing value — planner-sized, carries the cross-day LOCF
      val closes = obs
        .groupBy(col("event_type"), col("m").cast("date").as("day"))
        .agg(expr("max_by(val, m)").as("close_val"))
        .withColumn("carry", lag(col("close_val"), 1).over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))))
      val grid = closes
        .select(col("event_type"), col("day"), col("carry"),
          explode(expr(
            "sequence(cast(day as timestamp), " +
              "cast(day as timestamp) + interval 23 hours 59 minutes, " +
              "interval 1 minute)")).as("m"))
      val dayW = Window.partitionBy(col("event_type"), col("day"))
      grid
        .join(obs, Seq("event_type", "m"), "left")
        .withColumn("fday", last(col("val"), ignoreNulls = true)
          .over(dayW.orderBy(col("m")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n_missing_day",
          count(when(col("val").isNull, 1)).over(dayW))
        .select(col("event_type"), col("m").as("minute_ts"),
          coalesce(col("fday"), col("carry")).as("value"),
          when(col("val").isNotNull, "observed")
            .when(col("fday").isNotNull, "locf_same_day")
            .when(col("carry").isNotNull, "locf_prev_day")
            .otherwise("unfilled").as("status"),
          col("n_missing_day"))
    },
    Some("""WITH obs AS (
        SELECT event_type, date_trunc('minute', CAST(ts AS TIMESTAMP)) AS m,
          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val
        FROM events GROUP BY 1, 2),
      closes AS (
        SELECT event_type, CAST(m AS DATE) AS day,
          max_by(val, m) AS close_val
        FROM obs GROUP BY 1, 2),
      carry AS (
        SELECT event_type, day, close_val,
          lag(close_val) OVER (PARTITION BY event_type ORDER BY day)
            AS carry
        FROM closes),
      grid AS (
        SELECT event_type, day, carry,
          unnest(generate_series(CAST(day AS TIMESTAMP),
            CAST(day AS TIMESTAMP) + INTERVAL 23 HOUR + INTERVAL 59 MINUTE,
            INTERVAL 1 MINUTE)) AS m
        FROM carry),
      joined AS (
        SELECT g.event_type, g.day, g.carry, g.m, o.val
        FROM grid g LEFT JOIN obs o
          ON o.event_type = g.event_type AND o.m = g.m),
      filled AS (
        SELECT event_type, day, carry, m, val,
          last_value(val IGNORE NULLS) OVER (
            PARTITION BY event_type, day ORDER BY m
            ROWS UNBOUNDED PRECEDING) AS fday,
          CAST(count(CASE WHEN val IS NULL THEN 1 END) OVER (
            PARTITION BY event_type, day) AS BIGINT) AS n_missing_day
        FROM joined)
      SELECT event_type, m AS minute_ts,
        coalesce(fday, carry) AS value,
        CASE WHEN val IS NOT NULL THEN 'observed'
             WHEN fday IS NOT NULL THEN 'locf_same_day'
             WHEN carry IS NOT NULL THEN 'locf_prev_day'
             ELSE 'unfilled' END AS status,
        n_missing_day
      FROM filled"""))

  // ---------------------------------------------------------------------
  // W5: ordered conversion funnel — the product-analytics staple over an
  // event stream: per user, the first 'view', the first 'click' STRICTLY
  // AFTER it, the first 'purchase' strictly after that, rolled up into a
  // per-step report (users reached, conversion from the previous step,
  // mean seconds to convert). The strict-sequence semantics (each step's
  // anchor is the previous step's FIRST qualifying event, not any
  // event) is the standard funnel definition; a bounded conversion
  // window is one extra ts filter on each join.
  //
  // Scale shape: three hash-aggregates keyed by user_id (map-side
  // combinable min) and two user-keyed joins — the per-step frames
  // shrink monotonically, so every join's right side is smaller than
  // the last; no window function ever sees more than one user's rows,
  // and the final 3-row rollup is planner-sized. Parity: durations sum
  // as exact epoch-microsecond integers (unix_micros/epoch_us) and
  // divide to double only at the output edge; step counts are exact.
  // ---------------------------------------------------------------------
  val w5Funnel = Q(
    "w5_funnel",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
        .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
        .groupBy(col("user_id"), col("t2")).agg(min(col("ts")).as("t3"))
      val steps = v
        .agg(count(lit(1)).as("n_users"))
        .select(lit(1).as("step"), lit("view").as("step_name"),
          col("n_users"), lit(null).cast("long").as("sum_us"))
        .unionAll(c.agg(count(lit(1)).as("n_users"),
            sum(expr("unix_micros(t2) - unix_micros(t1)")).as("sum_us"))
          .select(lit(2).as("step"), lit("click").as("step_name"),
            col("n_users"), col("sum_us")))
        .unionAll(p.agg(count(lit(1)).as("n_users"),
            sum(expr("unix_micros(t3) - unix_micros(t2)")).as("sum_us"))
          .select(lit(3).as("step"), lit("purchase").as("step_name"),
            col("n_users"), col("sum_us")))
      steps
        .withColumn("conv_from_prev",
          round(col("n_users").cast("double") /
            lag(col("n_users"), 1).over(Window.orderBy(col("step"))), 6))
        .select(col("step"), col("step_name"), col("n_users"),
          col("conv_from_prev"),
          round(col("sum_us").cast("double") / col("n_users") / 1e6, 6)
            .as("avg_secs_to_step"))
    },
    Some(w5Sql(Dialect.DuckDB)))

  private[graft] def w5Sql(d: Dialect): String =
    s"""WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events),
      v AS (SELECT user_id, min(ts) AS t1 FROM ev
            WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, v.t1, min(e.ts) AS t2
            FROM ev e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
            WHERE e.event_type = 'click' GROUP BY 1, 2),
      p AS (SELECT e.user_id, c.t2, min(e.ts) AS t3
            FROM ev e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
            WHERE e.event_type = 'purchase' GROUP BY 1, 2),
      steps AS (
        SELECT 1 AS step, 'view' AS step_name,
          CAST(count(*) AS BIGINT) AS n_users,
          CAST(NULL AS BIGINT) AS sum_us
        FROM v
        UNION ALL
        SELECT 2, 'click', CAST(count(*) AS BIGINT),
          CAST(sum(${d.epochUs("t2")} - ${d.epochUs("t1")}) AS BIGINT)
        FROM c
        UNION ALL
        SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
          CAST(sum(${d.epochUs("t3")} - ${d.epochUs("t2")}) AS BIGINT)
        FROM p)
      SELECT step, step_name, n_users,
        round(CAST(n_users AS DOUBLE) /
          lag(n_users) OVER (ORDER BY step), 6) AS conv_from_prev,
        round(CAST(sum_us AS DOUBLE) / n_users / 1e6, 6)
          AS avg_secs_to_step
      FROM steps"""

  // ---------------------------------------------------------------------
  // W6: cohort retention — the other analytics staple: users cohorted by
  // their first-activity day, and for each (cohort, day-offset) the
  // count and fraction of the cohort active that day. Shape: one
  // distinct on (user, day) — the only shuffle that sees event-scale
  // data, keyed wide enough to never hot-spot — then a user-keyed min
  // (the cohort assignment, map-side combinable), a user-keyed join,
  // and a (cohort, offset) hash-agg; cohort sizes are a per-day frame
  // (≤ #days rows) joined back broadcast-style. All counts exact;
  // retention is the only double and is an exact integer ratio rounded
  // at the edge.
  // ---------------------------------------------------------------------
  val w6Cohort = Q(
    "w6_cohort",
    (s, d) => {
      val days = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val first = days.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      val sizes = first.groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("n_cohort"))
      days.join(first, Seq("user_id"))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long")
            .as("offset_days"))
        .agg(count(lit(1)).as("n_active")) // (user, day) already distinct
        .join(broadcast(sizes), Seq("cohort_day"))
        .select(col("cohort_day"), col("offset_days"), col("n_active"),
          col("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort"), 6)
            .as("retention"))
    },
    Some(w6Sql(Dialect.DuckDB)))

  private[graft] def w6Sql(d: Dialect): String = {
    val offset = d.daysBetween("d.day", "f.cohort_day")
    s"""WITH days AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
          AS day
        FROM events),
      f AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1),
      cs AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_cohort
             FROM f GROUP BY 1)
      SELECT f.cohort_day,
        CAST($offset AS BIGINT) AS offset_days,
        CAST(count(*) AS BIGINT) AS n_active,
        any_value(cs.n_cohort) AS n_cohort,
        round(CAST(count(*) AS DOUBLE) / any_value(cs.n_cohort), 6)
          AS retention
      FROM days d
      JOIN f ON f.user_id = d.user_id
      JOIN cs ON cs.cohort_day = f.cohort_day
      GROUP BY 1, 2"""
  }

  // ---------------------------------------------------------------------
  // W7: touch attribution — the third analytics staple after the funnel
  // and the cohort: every purchase is credited to a touch (view/click)
  // under BOTH standard models in one pass — last-touch (the most
  // recent touch in a 7-day lookback; outside the window the purchase
  // is honestly 'none', never silently credited) and first-touch (the
  // user's first-ever touch, no lookback by convention). One
  // user-partitioned event-time window computes the running
  // last/first touch via IGNORE-NULLS last_value/first_value — the
  // running-state-over-a-keyed-window shape (x1's as-of discipline
  // without the union tag, since touch and conversion live in the same
  // stream); a same-timestamp touch orders before the purchase by
  // event_id, the documented tie-break. Revenue accumulates in
  // DECIMAL; the per-(model, channel) rollup is planner-sized.
  // ---------------------------------------------------------------------
  val w7Attribution = Q(
    "w7_attribution",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"), col("value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val touch = when(col("event_type").isin("view", "click"),
        col("event_type"))
      val touchTs = when(col("event_type").isin("view", "click"),
        col("ts"))
      val attributed = ev
        .withColumn("lt", last(touch, ignoreNulls = true).over(w))
        .withColumn("lt_ts", last(touchTs, ignoreNulls = true).over(w))
        .withColumn("ft", first(touch, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("value"),
          when(col("lt").isNotNull &&
            expr("unix_micros(ts) - unix_micros(lt_ts)") <=
              lit(7L * 86400L * 1000000L), col("lt"))
            .otherwise(lit("none")).as("last_touch"),
          coalesce(col("ft"), lit("none")).as("first_touch"))
      def roll(model: String, channel: Column): DataFrame =
        attributed.groupBy(channel.as("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            round(sum(col("value").cast("decimal(18,2)"))
              .cast("double"), 2).as("revenue"))
          .select(lit(model).as("model"), col("channel"),
            col("n_purchases"), col("revenue"))
      roll("last_touch", col("last_touch"))
        .unionAll(roll("first_touch", col("first_touch")))
    },
    Some(w7Sql(Dialect.DuckDB)))

  private[graft] def w7Sql(d: Dialect): String = {
    def touch(v: String) = s"""CASE WHEN event_type IN ('view', 'click')
              THEN $v END"""
    val lag = s"${d.epochUs("ts")} - ${d.epochUs("lt_ts")}"
    s"""WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
          event_id, value
        FROM events),
      run AS (
        SELECT *,
          ${d.ignoreNulls("last_value", touch("event_type"))} OVER w AS lt,
          ${d.ignoreNulls("last_value", touch("ts"))} OVER w AS lt_ts,
          ${d.ignoreNulls("first_value", touch("event_type"))} OVER w AS ft
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING)),
      att AS (
        SELECT value,
          CASE WHEN lt IS NOT NULL
                 AND $lag <= 604800000000
               THEN lt ELSE 'none' END AS last_touch,
          coalesce(ft, 'none') AS first_touch
        FROM run WHERE event_type = 'purchase')
      SELECT 'last_touch' AS model, last_touch AS channel,
        CAST(count(*) AS BIGINT) AS n_purchases,
        round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
          AS revenue
      FROM att GROUP BY 2
      UNION ALL
      SELECT 'first_touch', first_touch, CAST(count(*) AS BIGINT),
        round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
      FROM att GROUP BY 2"""
  }

  // ---------------------------------------------------------------------
  // W8: rolling anomaly detection — the ops-monitor staple over the
  // daily series: each (resource, day) total compares against its own
  // trailing 7-OBSERVED-day baseline (ROWS frame, w4's observed-days
  // convention) and routes as spike (> 2× the rolling mean), drop
  // (< 0.5×), normal, or warmup (< 3 prior days — never silently
  // normal). Everything is EXACT integer arithmetic in value-micros:
  // the threshold tests are cross-multiplied (total·n > 2·Σ), so no
  // rolling mean is ever divided or rounded — the round(x, 2)-of-a-
  // quotient form would diverge between engines exactly at the
  // .xx5-shortest-representation boundaries the verify notes warn
  // about, and an alert flapping on an ulp is worse than useless.
  // Shape: one hash-agg to the daily frame (map-side combinable
  // DECIMAL sums), then a window over the planner-sized
  // (resource × day) table — the corpus is touched once.
  // ---------------------------------------------------------------------
  val w8Anomaly = Q(
    "w8_anomaly",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg((sum(col("value").cast("decimal(18,6)")) * 1000000)
          .cast("long").as("total_u"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("day")).rowsBetween(-7, -1)
      daily
        .withColumn("n_prev", count(col("total_u")).over(w))
        .withColumn("base_sum_u",
          coalesce(sum(col("total_u")).over(w), lit(0L)))
        .select(col("event_type"), col("day"), col("total_u"),
          col("n_prev"), col("base_sum_u"),
          when(col("n_prev") < 3, "warmup")
            .when(col("total_u") * col("n_prev") >
              col("base_sum_u") * 2, "spike")
            .when(col("total_u") * col("n_prev") * 2 <
              col("base_sum_u"), "drop")
            .otherwise("normal").as("status"))
    },
    Some("""WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
          CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
            AS total_u
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT *,
          CAST(count(total_u) OVER w AS BIGINT) AS n_prev,
          CAST(coalesce(sum(total_u) OVER w, 0) AS BIGINT)
            AS base_sum_u
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      SELECT event_type, day, total_u, n_prev, base_sum_u,
        CASE WHEN n_prev < 3 THEN 'warmup'
             WHEN total_u * n_prev > base_sum_u * 2 THEN 'spike'
             WHEN total_u * n_prev * 2 < base_sum_u THEN 'drop'
             ELSE 'normal' END AS status
      FROM r"""))

  /** All event-time window queries, registration order. */
  def all: Seq[Q] =
    Seq(w1Tumbling, w2Sliding, w3Session, w4GapFill, w5Funnel, w6Cohort,
      w7Attribution, w8Anomaly)
}
