"""Window and event time-series gates: running totals, lag / lead,
ntile and percentiles, RANGE frames, EWMA, ignore-nulls navigation,
global row numbering, sessionization, as-of joins, funnels, cohorts,
gap-fill, SCD2 intervals and hypertable-style rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import gate
from ._common import _events, _t
from ..operators.merge import asof_join
from ..operators.partition import assign_global_ids
from ..sqlapi import sql


# =====================================================================
# Events: time-series / sessionization / as-of
# =====================================================================

def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form; the streaming form in
    accelerator_spark.streaming uses the same logical plan under
    Trigger.AvailableNow)."""
    ev = _events(spark, sf_dir)
    # hour rendered as a string: raw timestamps hash differently across
    # engines (tz-aware vs naive); strings are engine-neutral
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


ORACLE_HOURLY = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""
gate(events_hourly, ORACLE_HOURLY)


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min splits a session): the lag/flag/cumsum
    gaps-and-islands pattern — one shuffle on user_id, everything else
    window functions inside the partition. Written in SQL (identical
    logical plan to the DataFrame form; Catalyst compiles both the same)."""
    _events(spark, sf_dir).createOrReplaceTempView("events_us")
    return spark.sql(_SESSIONIZE_SQL.format(
        src="events_us", interval="INTERVAL '30' MINUTE",
        fmt_open="date_format(", fmt_close=", 'yyyy-MM-dd HH:mm:ss')"))


_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {interval}
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM {src}
), sess AS (
  SELECT user_id, ts,
         -- CAST: DuckDB widens the windowed integer sum to HUGEINT, which
         -- the driver's Arrow fetch renders differently than Spark's long;
         -- on the Spark side the cast is a no-op (already BIGINT).
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       {fmt_open}min(ts){fmt_close} AS session_start,
       {fmt_open}max(ts){fmt_close} AS session_end
FROM sess GROUP BY user_id, session_id
"""

# Same logical SQL for DuckDB: µs-cast ts + DuckDB interval/strftime
# spelling. Session bounds rendered as strings (engine-neutral hashing).
ORACLE_SESSIONIZE = _SESSIONIZE_SQL.format(
    src="(SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)",
    interval="INTERVAL 30 MINUTE",
    fmt_open="strftime(", fmt_close=", '%Y-%m-%d %H:%M:%S')",
)
gate(sessionize_events, ORACLE_SESSIONIZE)


def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.7 'as-of' row): for each click event, the
    most recent purchase by the same user at or before the click, via
    the reusable ``asof_join`` operator (operators/merge.py): Spark
    lacks a native ASOF; the scale-correct plan is union+window — one
    shuffle on user_id, linear work, no range-join blowup. DuckDB
    oracle uses its native ASOF JOIN."""
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id")
    out = asof_join(clicks, purch, by="user_id", on="ts",
                    carry={"ts": "last_purchase_ts"}, tiebreak="event_id")
    return (
        out.filter(F.col("last_purchase_ts").isNotNull())
        .select(F.col("event_id").alias("click_id"), "user_id",
                F.date_format("last_purchase_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .alias("last_purchase_ts"))
    )


ORACLE_ASOF = """
WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
           FROM events)
SELECT c.event_id AS click_id, c.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_purchase_ts
FROM (SELECT * FROM e WHERE event_type = 'click') c
ASOF JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
"""
gate(asof_click_purchase, ORACLE_ASOF)


# =====================================================================
# Window functions, frames and time-series rollups
# =====================================================================

def running_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-total window over ordered months (frame = unbounded
    preceding). Cumulative sums round AFTER the window so intermediate
    fp error doesn't compound differently across engines."""
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(F.sum("o_totalprice").alias("t"))
    )
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, 0)
    return monthly.select(
        "month",
        F.round("t", 2).alias("monthly_total"),
        F.round(F.sum("t").over(w), 2).alias("running_total"),
    ).orderBy("month")


ORACLE_RUNNING = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         sum(o_totalprice) AS t
  FROM orders GROUP BY 1
)
SELECT month, round(t, 2) AS monthly_total,
       round(sum(t) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING), 2) AS running_total
FROM m ORDER BY month
"""
gate(running_monthly_revenue, ORACLE_RUNNING)


def month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window: month-over-month order-count delta."""
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.orderBy("month")
    return monthly.select(
        "month", "n",
        (F.col("n") - F.lag("n", 1).over(w)).alias("delta"),
    ).orderBy("month")


ORACLE_MOM = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         count(*) AS n
  FROM orders GROUP BY 1
)
SELECT month, n, n - lag(n, 1) OVER (ORDER BY month) AS delta
FROM m ORDER BY month
"""
gate(month_over_month, ORACLE_MOM)


def ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) over totalprice (unique tiebreak via orderkey makes the
    bucketing deterministic); per-quartile stats.

    Scale-safe exact ntile (VERDICT r2 #5, assign_global_ids pattern —
    operators/partition.py:237): a no-partition ntile window is a
    one-task sort. Instead (1) percentile_approx boundaries define 64
    value-range buckets (ties share a bucket via strict <, so tie
    groups stay whole); (2) within-bucket row_number runs as a
    PARTITIONED window; (3) per-bucket counts (64 rows) cumsum into
    offsets, broadcast back: rn = offset + in-bucket rank, exactly the
    global row_number; (4) the ntile(4) closed form maps rn to the
    quartile: first n%4 bins hold ceil(n/4) rows. Hash-identical to
    the oracle's ntile at any cluster size."""
    orders = _t(spark, sf_dir, "orders")
    NB = 64
    fracs = F.array(*[F.lit(i / NB) for i in range(1, NB)])
    bounds = orders.agg(F.percentile_approx(
        F.col("o_totalprice").cast("double"), fracs, F.lit(10000)
    ).alias("_bounds"))
    b = (orders.select("o_totalprice", "o_orderkey")
         .crossJoin(F.broadcast(bounds))
         .withColumn("_bkt", F.size(F.filter(
             F.col("_bounds"),
             lambda x: x < F.col("o_totalprice").cast("double"))))
         .drop("_bounds"))
    counts = b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
    w_cum = W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
    offsets = (counts
               .withColumn("_off", F.coalesce(F.sum("_n").over(w_cum),
                                              F.lit(0)))
               .withColumn("_tot", F.sum("_n").over(
                   W.orderBy("_bkt").rowsBetween(W.unboundedPreceding,
                                                 W.unboundedFollowing)))
               .select("_bkt", "_off", "_tot"))
    w_in = W.partitionBy("_bkt").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    ranked = (b.withColumn("_r", F.row_number().over(w_in))
              .join(F.broadcast(offsets), "_bkt")
              .withColumn("rn", F.col("_off") + F.col("_r")))
    qsz = F.floor(F.col("_tot") / 4)
    r_mod = F.col("_tot") % 4
    big = r_mod * (qsz + 1)
    ranked = ranked.withColumn(
        "q",
        F.when(qsz == 0, F.col("rn"))
        .when(F.col("rn") <= big, F.ceil(F.col("rn") / (qsz + 1)))
        .otherwise(r_mod + F.ceil((F.col("rn") - big) / qsz)))
    return (
        ranked.groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_p"),
            F.round(F.max("o_totalprice"), 2).alias("max_p"),
        )
        .orderBy("q")
    )


ORACLE_NTILE = """
SELECT q, count(*) AS n, round(min(o_totalprice), 2) AS min_p,
       round(max(o_totalprice), 2) AS max_p
FROM (SELECT o_totalprice,
             ntile(4) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS q
      FROM orders)
GROUP BY q ORDER BY q
"""
gate(ntile_price_quartiles, ORACLE_NTILE)


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_cont (continuous interpolation is specified by the SQL
    standard, so both engines agree to fp noise; rounded)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 2).alias("p50"),
        F.round(F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice)"), 2).alias("p90"),
    ).orderBy("o_orderstatus")


ORACLE_PERCENTILES = """
SELECT o_orderstatus,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p50,
       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p90
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(price_percentiles, ORACLE_PERCENTILES)


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis over the event stream: users who did
    view → click → purchase IN ORDER (each stage strictly after the
    previous one's first qualifying timestamp). The classic behavioral-
    analytics query none of the single-pass aggregates express, because
    stage N's timestamp depends on stage N-1's.

    Scale shape: ONE shuffle. Events group to their user, the per-user
    timeline is sorted in-row and folded with a single F.aggregate pass
    that advances the stage timestamps — the sequential dependency
    lives inside the row, not in the plan. The alternative (3 stacked
    min-aggs each joined back on the previous stage) is 3 shuffles + 2
    joins and rescans events per stage. Per-user state is the timeline
    (bounded by per-user activity; cap with a per-key sample upstream
    for pathological bot users). The oracle expresses the same
    semantics as nested stage-wise mins — two formulations, one truth.
    """
    ev = _events(spark, sf_dir)
    init = F.struct(
        F.lit(None).cast("timestamp").alias("t1"),
        F.lit(None).cast("timestamp").alias("t2"),
        F.lit(None).cast("timestamp").alias("t3"),
    )

    def _advance(acc, x):
        return F.struct(
            F.when(
                acc["t1"].isNull() & (x["event_type"] == "view"), x["ts"]
            ).otherwise(acc["t1"]).alias("t1"),
            F.when(
                acc["t2"].isNull() & acc["t1"].isNotNull()
                & (x["event_type"] == "click") & (x["ts"] > acc["t1"]),
                x["ts"],
            ).otherwise(acc["t2"]).alias("t2"),
            F.when(
                acc["t3"].isNull() & acc["t2"].isNotNull()
                & (x["event_type"] == "purchase") & (x["ts"] > acc["t2"]),
                x["ts"],
            ).otherwise(acc["t3"]).alias("t3"),
        )

    timeline = F.sort_array(F.collect_list(F.struct("ts", "event_type")))
    per_user = ev.groupBy("user_id").agg(
        F.aggregate(timeline, init, _advance).alias("f")
    )
    return per_user.select(
        F.count(F.lit(1)).alias("n_users"),
        F.count("f.t1").alias("n_view"),
        F.count("f.t2").alias("n_view_click"),
        F.count("f.t3").alias("n_full_funnel"),
        F.round(F.count("f.t2") / F.count("f.t1"), 4).alias("click_rate"),
        F.round(F.count("f.t3") / F.count("f.t1"), 4).alias("funnel_rate"),
    )


ORACLE_FUNNEL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
), s1 AS (
  SELECT user_id, min(ts) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(ts) AS t2 FROM ev e JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND ts > t1 GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(ts) AS t3 FROM ev e JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1
)
SELECT (SELECT count(DISTINCT user_id) FROM ev) AS n_users,
       (SELECT count(*) FROM s1) AS n_view,
       (SELECT count(*) FROM s2) AS n_view_click,
       (SELECT count(*) FROM s3) AS n_full_funnel,
       round((SELECT count(*) FROM s2) * 1.0 / (SELECT count(*) FROM s1), 4)
         AS click_rate,
       round((SELECT count(*) FROM s3) * 1.0 / (SELECT count(*) FROM s1), 4)
         AS funnel_rate
"""
gate(funnel_conversion, ORACLE_FUNNEL)


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (product-analytics staple; reference users
    build this as per-slice dicts keyed on first-seen date — SURVEY §2.6
    merge_auto idiom). Users cohorted by ISO week of first event; activity
    counted as distinct (user, day); retention = distinct active users per
    (cohort_week, week_offset).

    Scale: first-event agg and the activity distinct are both single hash
    shuffles on user_id; the join is user_id-to-user_id (co-partitioned by
    AQE after the same-key shuffles); final agg is tiny (weeks × offsets)."""
    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    j = active.join(firsts, "user_id")
    return (
        j.select(
            "user_id",
            F.date_format(F.date_trunc("week", F.col("first_day")), "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff(F.col("day"), F.col("first_day")) / 7).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


ORACLE_COHORT = """
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
), firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM ev GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM ev
)
SELECT strftime(date_trunc('week', f.first_day), '%Y-%m-%d') AS cohort_week,
       CAST(floor((a.day - f.first_day) / 7) AS BIGINT) AS week_offset,
       count(DISTINCT a.user_id) AS active_users
FROM active a JOIN firsts f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""
gate(cohort_retention, ORACLE_COHORT)


def gapfill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling over a generated date spine (time-series idiom the
    reference handles with per-slice dict lookups): build the full
    min..max day range with ``sequence`` + explode, left-join daily
    revenue, zero-fill missing days, roll up per month so the output
    proves spine days without orders were materialized.

    Scale: the spine is generated (no scan) and tiny (#days); the daily
    agg is one shuffle; the spine join broadcasts the agg — at 100 TB
    the day-level agg is still only O(days) rows."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("revenue"),
    )
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day"))
    filled = spine.join(F.broadcast(daily), "day", "left").select(
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )
    return (
        filled.groupBy(F.date_format("day", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.when(F.col("n_orders") > 0, 1).otherwise(0)).alias("days_with_orders"),
            F.round(F.sum("revenue"), 2).alias("revenue"),
        )
        .orderBy("month")
    )


ORACLE_GAPFILL = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "month",
       "n_days",
       CAST("days_with_orders" AS BIGINT) AS "days_with_orders",
       "revenue"
FROM (
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
         sum(o_totalprice) AS revenue
  FROM orders GROUP BY 1
), bounds AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS lo,
         max(CAST(o_orderdate AS DATE)) AS hi
  FROM orders
), spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), filled AS (
  SELECT s.day, coalesce(d.n_orders, 0) AS n_orders,
         coalesce(d.revenue, 0.0) AS revenue
  FROM spine s LEFT JOIN daily d USING (day)
)
SELECT strftime(day, '%Y-%m') AS month, count(*) AS n_days,
       sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) AS days_with_orders,
       round(sum(revenue), 2) AS revenue
FROM filled GROUP BY 1 ORDER BY 1
) _bigint_cast
"""
gate(gapfill_daily_revenue, ORACLE_GAPFILL)


def window_suite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth in one pass: lag/lead gaps, percent_rank
    and cume_dist of order value within each customer's history — all
    over ONE window spec, so Catalyst compiles a single sort within one
    hash exchange on o_custkey (check: one Window node in the plan)."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    out = orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("days_since_prev"),
        F.datediff(F.lead("o_orderdate").over(w), "o_orderdate").alias("days_to_next"),
        F.round(F.percent_rank().over(
            W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")), 4).alias("value_pct_rank"),
        F.row_number().over(w).alias("order_seq"),
    )
    return out.filter(F.col("order_seq") <= 3)


ORACLE_WINDOW_SUITE = """
WITH t AS (
  SELECT o_custkey, o_orderkey,
         date_diff('day',
           lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           o_orderdate) AS days_since_prev,
         date_diff('day', o_orderdate,
           lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) AS days_to_next,
         round(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey), 4) AS value_pct_rank,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
  FROM orders
)
SELECT o_custkey, o_orderkey, days_since_prev, days_to_next,
       value_pct_rank, order_seq
FROM t WHERE order_seq <= 3
"""
gate(window_suite_orders, ORACLE_WINDOW_SUITE)


def scd2_event_type_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style history build: collapse each user's event stream into
    validity intervals of consecutive same event_type (islands via
    lag-flag-cumsum), valid_to = next interval's valid_from (NULL while
    current). Rolled up per event_type: interval count + mean closed-
    interval duration. One shuffle on user_id; windows share the
    exchange."""
    ev = _events(spark, sf_dir)
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag("event_type").over(wo).isNull()
            | (F.lag("event_type").over(wo) != F.col("event_type")), 1
        ).otherwise(0).alias("new_run"),
    )
    runs = flagged.withColumn(
        "run_id", F.sum("new_run").over(
            wo.rowsBetween(W.unboundedPreceding, 0)))
    iv = (
        runs.groupBy("user_id", "run_id")
        .agg(
            F.first("event_type").alias("event_type"),
            F.min("ts").alias("valid_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    wn = W.partitionBy("user_id").orderBy("valid_from")
    iv2 = iv.withColumn("valid_to", F.lead("valid_from").over(wn))
    return (
        iv2.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("n_events").alias("n_events"),
            F.round(F.avg(
                (F.unix_micros("valid_to") - F.unix_micros("valid_from")) / 1e6
            ), 2).alias("avg_closed_duration_s"),
        )
        .orderBy("event_type")
    )


ORACLE_SCD2 = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "event_type",
       "n_intervals",
       CAST("n_events" AS BIGINT) AS "n_events",
       "avg_closed_duration_s"
FROM (
WITH ev AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
), flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS new_run
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT user_id, ts, event_type,
         -- (ts, event_id) tiebreak matching the flag window (review r4)
         sum(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
), iv AS (
  SELECT user_id, run_id, min(event_type) AS event_type,
         min(ts) AS valid_from, count(*) AS n_events
  FROM runs GROUP BY user_id, run_id
), iv2 AS (
  SELECT event_type, n_events, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to
  FROM iv
)
SELECT event_type, count(*) AS n_intervals, sum(n_events) AS n_events,
       round(avg(date_diff('microsecond', valid_from, valid_to) / 1e6), 2)
         AS avg_closed_duration_s
FROM iv2 GROUP BY event_type ORDER BY event_type
) _bigint_cast
"""
gate(scd2_event_type_intervals, ORACLE_SCD2)


def hypertable_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate hierarchy: raw events -> minutely partials
    (count/sum/min/max) -> hourly merged from minutely -> daily merged
    from hourly. Every level is derived from the previous one only —
    the mergeable-state property that lets a 100 TB pipeline keep
    fine-grained partials hot and answer coarse queries without touching
    raw data. avg is re-derived as sum/count at the top (avg itself
    doesn't merge; sum+count do). Oracle computes daily straight from
    raw — equality IS the associativity proof."""
    ev = _events(spark, sf_dir)
    minutely = (ev.groupBy(F.date_trunc("minute", "ts").alias("minute"))
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("value").alias("sv"),
                     F.min("value").alias("mn"),
                     F.max("value").alias("mx")))
    hourly = (minutely.groupBy(F.date_trunc("hour", "minute").alias("hour"))
              .agg(F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv"),
                   F.min("mn").alias("mn"), F.max("mx").alias("mx")))
    return (hourly.groupBy(F.to_date("hour").alias("day"))
            .agg(F.sum("cnt").alias("n_events"),
                 F.round(F.sum("sv"), 2).alias("sum_value"),
                 # avg derives from the ROUNDED sum so both engines round
                 # identical inputs (a raw-sum avg is a 4dp knife edge
                 # under differing summation order — seen at sf0.001)
                 F.round(F.round(F.sum("sv"), 2) / F.sum("cnt"), 4)
                 .alias("avg_value"),
                 F.round(F.min("mn"), 4).alias("min_value"),
                 F.round(F.max("mx"), 4).alias("max_value"))
            .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
            .orderBy("day"))


ORACLE_HYPERTABLE = """
SELECT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS day,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       round(round(sum(value), 2) / count(*), 4) AS avg_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY 1 ORDER BY 1
"""
gate(hypertable_rollup_daily, ORACLE_HYPERTABLE)


def moving_avg_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aware moving aggregate: per-day revenue with a 7-day
    RANGE window (INTERVAL '6' DAY PRECEDING — frames follow the
    calendar, not row counts, so gaps in the date spine are handled
    correctly). One shuffle for the daily agg; the window runs on the
    80-row daily table. Complements window_suite_orders (ROWS frames)."""
    return sql(spark, sf_dir, """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
)
SELECT CAST(day AS STRING) AS day, round(rev, 2) AS rev,
       round(avg(rev) OVER (ORDER BY day
         RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW), 2) AS avg_7d,
       round(sum(rev) OVER (ORDER BY day
         RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW), 2) AS sum_7d
FROM daily ORDER BY day
""")


ORACLE_MOVING_7D = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
)
SELECT strftime(day, '%Y-%m-%d') AS day, round(rev, 2) AS rev,
       round(avg(rev) OVER (ORDER BY day
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW), 2) AS avg_7d,
       round(sum(rev) OVER (ORDER BY day
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW), 2) AS sum_7d
FROM daily ORDER BY day
"""
gate(moving_avg_revenue_7d, ORACLE_MOVING_7D)


def scalable_row_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dense row ids in key order WITHOUT the single-task global
    window (operators/partition.assign_global_ids: range repartition ->
    per-partition counts -> broadcast cumulative offsets -> parallel
    per-partition windows). The oracle is the naive
    row_number() OVER (ORDER BY key) — equality proves the distributed
    form computes the identical numbering. Output thinned to every
    500th id to keep the gate small."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ids = assign_global_ids(orders, "o_orderkey", "row_id")
    return (ids.filter(F.col("row_id") % 500 == 0)
            .select("row_id", "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice"))
            .orderBy("row_id"))


ORACLE_ROW_NUMBERING = """
WITH ids AS (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id
  FROM orders
)
SELECT row_id, o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM ids WHERE row_id % 500 = 0 ORDER BY row_id
"""
gate(scalable_row_numbering, ORACLE_ROW_NUMBERING)


def ewma_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue within
    each month. EWMA is a recurrence (acc = a*x + (1-a)*acc) — not
    window-expressible — but per bounded key group it is an ARRAY FOLD:
    sort_array(collect_list(day, rev)) -> aggregate() lambda, all
    JVM-side. DuckDB replays it with list_reduce (init emulated by
    prepending the seed). The engine discipline: recurrences run as
    bounded in-row folds, never as driver loops; daily revs are rounded
    to 2 BEFORE the fold so both engines fold identical inputs."""
    orders = _t(spark, sf_dir, "orders")
    daily = (orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev")))
    per_month = daily.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("aggregate("
               "  transform(array_sort(collect_list(struct(day, rev))),"
               "            s -> s.rev),"
               "  CAST(0.0 AS DOUBLE),"
               "  (acc, x) -> 0.3 * x + 0.7 * acc)").alias("ewma_raw"))
    return (per_month.select(
        "month", "n_days", F.round("ewma_raw", 2).alias("ewma_end"))
        .orderBy("month"))


ORACLE_EWMA = """
WITH daily AS (
  SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
         CAST(o_orderdate AS DATE) AS day,
         round(sum(o_totalprice), 2) AS rev
  FROM orders GROUP BY 1, 2
), folded AS (
  SELECT month, count(*) AS n_days,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list({'day': day, 'rev': rev})),
                            s -> s.rev)),
           (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma_raw
  FROM daily GROUP BY month
)
SELECT month, n_days, round(ewma_raw, 2) AS ewma_end
FROM folded ORDER BY month
"""
gate(ewma_monthly_revenue, ORACLE_EWMA)


def window_ignore_nulls_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware window navigation: FIRST_VALUE / LAST_VALUE / LAG with
    IGNORE NULLS over a derived column with real nulls (non-'O' status
    masked) — gap-filling's building block (carry last non-null
    observation forward)."""
    return sql(spark, sf_dir, """
WITH t AS (
  SELECT o_custkey, o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS open_price
  FROM orders WHERE o_custkey < 30
)
SELECT o_custkey, o_orderkey,
       round(first_value(open_price) IGNORE NULLS OVER w, 2) AS first_open,
       round(last_value(open_price) IGNORE NULLS OVER
             (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS ffill,
       round(lag(open_price) IGNORE NULLS OVER w, 2) AS prev_open
FROM t
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
ORDER BY o_custkey, o_orderkey
""")


ORACLE_IGNORE_NULLS = """
WITH t AS (
  SELECT o_custkey, o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS open_price
  FROM orders WHERE o_custkey < 30
)
SELECT o_custkey, o_orderkey,
       round(first_value(open_price IGNORE NULLS) OVER w, 2) AS first_open,
       round(last_value(open_price IGNORE NULLS) OVER
             (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS ffill,
       round(lag(open_price IGNORE NULLS) OVER w, 2) AS prev_open
FROM t
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
ORDER BY o_custkey, o_orderkey
"""
gate(window_ignore_nulls_suite, ORACLE_IGNORE_NULLS)


def inter_event_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distribution of the gap between a user's consecutive
    events (lag over the user timeline, exact p50/p90/max of the gap
    seconds): the latency/engagement-cadence profile — one shuffle on
    user_id for the lag, one tiny percentile agg per type."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (ev.select("user_id", "event_type", "ts", "event_id")
            .withColumn("prev_ts", F.lag("ts").over(w))
            .filter(F.col("prev_ts").isNotNull())
            .withColumn("gap_s", (F.unix_micros("ts")
                                  - F.unix_micros("prev_ts")) / 1e6))
    return (gaps.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.round(F.percentile("gap_s", F.lit(0.5)), 2).alias("p50_s"),
                 F.round(F.percentile("gap_s", F.lit(0.9)), 2).alias("p90_s"),
                 F.round(F.max("gap_s"), 2).alias("max_s"))
            .orderBy("event_type"))


ORACLE_INTER_EVENT = """
WITH gaps AS (
  SELECT event_type,
         epoch(CAST(ts AS TIMESTAMP)
               - lag(CAST(ts AS TIMESTAMP))
                 OVER (PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id)) AS gap_s
  FROM events
)
SELECT event_type, count(*) AS n_gaps,
       round(quantile_cont(gap_s, 0.5), 2) AS p50_s,
       round(quantile_cont(gap_s, 0.9), 2) AS p90_s,
       round(max(gap_s), 2) AS max_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""
gate(inter_event_latency, ORACLE_INTER_EVENT)
