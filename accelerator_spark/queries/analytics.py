"""Sketch, statistics and model-training gates: HLL, bitmap, count-min,
heavy-hitter and Bloom structures (operators/sketches.py), robust
statistics, regression, AUC and calibration, customer analytics and
trend forecasts.

Tolerance-gated queries (hll, approx percentile, sampled mean) follow
the ann_recall_report pattern: the Spark side returns EXACT values
plus a boolean asserting the approximate structure landed within
tolerance; the oracle recomputes the exact values and hardcodes the
boolean TRUE, so a drifting sketch fails the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import gate
from ._common import _events, _spread, _t
from ..operators import lit_double_array
from ..operators.analytics import logreg_train, skyline, winsorize
from ..operators.graph import cooccurrence_edges
from ..operators.partition import exact_ntile
from ..operators.similarity import cosine
from ..operators.sketches import (
    CountMinSketch, bitmap_distinct, bloom_build, heavy_hitters, hll_rollup,
)
from ..sqlapi import sql


def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++). Estimates are engine-specific, so
    (since round 2) the gate follows the tolerance pattern: return the
    EXACT distinct count plus a boolean asserting the estimate landed
    within 5% relative error (HLL++ at default rsd=0.05 — deterministic
    for fixed input) — the oracle hardcodes TRUE, so estimator drift
    fails the hash match instead of going unobserved."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n"),
    )
    ok = (F.abs(F.col("approx_parts") - F.col("exact_parts"))
          <= 0.05 * F.col("exact_parts"))
    return (agg.select("l_returnflag", "exact_parts", "n",
                       ok.alias("approx_within_5pct"))
            .orderBy("l_returnflag"))


ORACLE_APPROX_DISTINCT = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
       count(*) AS n, TRUE AS approx_within_5pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
gate(approx_distinct_parts, ORACLE_APPROX_DISTINCT)


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram over events.value (bin 50, clamp at bin 9 —
    the width_bucket idiom). One scan, one tiny agg; at 100 TB this is a
    map-side partial agg into 10 groups — effectively free."""
    ev = _events(spark, sf_dir)
    bucket = F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("int")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 2).alias("avg_value"),
        )
        .orderBy("bucket")
    )


ORACLE_VALUE_HIST = """
SELECT CAST(least(floor(value / 50), 9) AS INT) AS bucket,
       count(*) AS n,
       round(sum(value), 2) AS sum_value,
       round(avg(value), 2) AS avg_value
FROM events GROUP BY 1 ORDER BY 1
"""
gate(events_value_histogram, ORACLE_VALUE_HIST)


def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flagging per event_type: two-pass (stats agg, then
    broadcast the 5-row stats table back over the scan). The scale shape:
    the stats side is O(#types) rows — always broadcastable — so the
    flagging pass is map-only; no second shuffle."""
    ev = _events(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_pop("value").alias("s"))
    flagged = ev.join(F.broadcast(stats), "event_type").select(
        "event_type", "value",
        # z rounded to 6dp on both sides: mean/stddev are summation-
        # order-dependent in the last ulps, and an |z| within epsilon
        # of the 2.5 cut flips engines (review r5)
        F.round((F.col("value") - F.col("m")) / F.col("s"), 6).alias("z"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.abs(F.col("z")) > 2.5, 1).otherwise(0)).alias("n_outliers"),
            F.round(F.max("z"), 2).alias("max_z"),
        )
        .orderBy("event_type")
    )


ORACLE_ZSCORE = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "event_type",
       "n",
       CAST("n_outliers" AS BIGINT) AS "n_outliers",
       "max_z"
FROM (
WITH stats AS (
  SELECT event_type, avg(value) AS m, stddev_pop(value) AS s
  FROM events GROUP BY event_type
), flagged AS (
  SELECT e.event_type, e.value, round((e.value - st.m) / st.s, 6) AS z
  FROM events e JOIN stats st USING (event_type)
)
SELECT event_type, count(*) AS n,
       sum(CASE WHEN abs(z) > 2.5 THEN 1 ELSE 0 END) AS n_outliers,
       round(max(z), 2) AS max_z
FROM flagged GROUP BY event_type ORDER BY event_type
) _bigint_cast
"""
gate(anomaly_zscore_events, ORACLE_ZSCORE)


def agg_function_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-function breadth per market segment: exact median,
    conditional count, boolean aggs, sample correlation — the
    "merge_auto can't do this" set (reference merges are sum/update only,
    SURVEY §2.6). One shuffle into 5 groups."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.median("c_acctbal"), 2).alias("median_bal"),
            F.count_if(F.col("c_acctbal") < 0).alias("n_negative"),
            F.bool_and(F.col("c_acctbal") > -1000).alias("all_above_floor"),
            F.bool_or(F.col("c_acctbal") > 9000).alias("any_rich"),
            F.round(F.corr(F.col("c_acctbal"), F.col("c_nationkey").cast("double")), 4).alias("bal_nation_corr"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_AGG_BREADTH = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "c_mktsegment",
       "n",
       "median_bal",
       CAST("n_negative" AS BIGINT) AS "n_negative",
       "all_above_floor",
       "any_rich",
       "bal_nation_corr"
FROM (
SELECT c_mktsegment, count(*) AS n,
       round(median(c_acctbal), 2) AS median_bal,
       count_if(c_acctbal < 0) AS n_negative,
       bool_and(c_acctbal > -1000) AS all_above_floor,
       bool_or(c_acctbal > 9000) AS any_rich,
       round(corr(c_acctbal, CAST(c_nationkey AS DOUBLE)), 4) AS bal_nation_corr
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
) _bigint_cast
"""
gate(agg_function_breadth, ORACLE_AGG_BREADTH)


def hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(event_type, day) DataSketches HLL
    sketches of user_id, union-merged up to event_type — the store-daily-
    sketches / answer-monthly-queries pattern that makes distinct counts
    re-aggregatable at 100 TB without rescans. Gate: DataSketches HLL at
    lgk=12 is exact in sparse mode far beyond this cardinality (150
    users), and the 5% band holds with huge margin at any scale factor
    the driver uses."""
    ev = _events(spark, sf_dir)
    est = hll_rollup(ev.withColumn("day", F.to_date("ts")),
                     key_col="user_id", group_cols=["event_type"],
                     merge_cols=["day"], lgk=12)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"))
    ok = (F.abs(F.col("approx_distinct") - F.col("exact_users"))
          <= 0.05 * F.col("exact_users"))
    return (exact.join(est, "event_type")
            .select("event_type", "exact_users", ok.alias("hll_within_5pct"))
            .orderBy("event_type"))


ORACLE_HLL_ROLLUP = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_5pct
FROM events GROUP BY event_type ORDER BY event_type
"""
gate(hll_distinct_rollup, ORACLE_HLL_ROLLUP)


def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT re-aggregatable distinct counts via position bitmaps
    (operators/sketches.bitmap_distinct): per-(event_type, day, bucket)
    bitmaps OR-merged up to event_type. State is bits, not values —
    the dense-integer-ID answer to count-distinct at scale."""
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    return (bitmap_distinct(ev, key_col="user_id",
                            group_cols=["event_type"], merge_cols=["day"],
                            out_col="distinct_users")
            .orderBy("event_type"))


ORACLE_BITMAP_DISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS distinct_users
FROM events GROUP BY event_type ORDER BY event_type
"""
gate(bitmap_distinct_users, ORACLE_BITMAP_DISTINCT)


def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-item detection without shuffling the key stream
    (operators/sketches.heavy_hitters): per-partition Arrow counting
    emits a pigeonhole-guaranteed candidate superset; broadcast
    semi-join + recount verifies. Output is partitioning-invariant."""
    ev = _events(spark, sf_dir)
    n, n_users = ev.agg(
        F.count(F.lit(1)), F.countDistinct("user_id")).collect()[0]
    # threshold ~= 120% of the mean user frequency: selective at every
    # scale factor (user count grows with sf), never empty/everything
    threshold = max(2, int(1.2 * n / n_users))
    hh = heavy_hitters(ev, "user_id", threshold)
    return (hh.select("user_id", F.col("cnt").alias("n_events"))
            .orderBy("user_id"))


ORACLE_HEAVY_HITTERS = """
SELECT user_id, count(*) AS n_events FROM events
GROUP BY user_id
HAVING count(*) >= greatest(2, CAST(floor(
    1.2 * (SELECT count(*) FROM events)
        / (SELECT count(DISTINCT user_id) FROM events)) AS BIGINT))
ORDER BY user_id
"""
gate(heavy_hitter_users, ORACLE_HEAVY_HITTERS)


def approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics) per
    return flag, plus a gate asserting percentile_approx(accuracy=10000)
    lands within 1% relative error — the sketch a 100 TB pipeline would
    actually use (Greenwald-Khanna: bounded memory, mergeable), verified
    against the exact answer the oracle can replay."""
    # r12 (guide §2.4/§2.3): ONE agg over ONE projected+spread scan —
    # the exact and approx percentiles shared a group key yet ran as
    # two full-table aggs joined back together (two scans, an extra
    # exchange + join), and the single-row-group scan serialized the
    # percentile buffering on one core. Output values unchanged (the
    # approx sketch only feeds the boolean, at accuracy=10000 its
    # <=0.01% error never moves the 1% gate).
    li = _spread(_t(spark, sf_dir, "lineitem")
                 .select("l_returnflag", "l_extendedprice"))
    j = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 2).alias("p99"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("a50"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(10000)).alias("a99"))
    ok = ((F.abs(F.col("a50") - F.col("p50")) <= 0.01 * F.col("p50"))
          & (F.abs(F.col("a99") - F.col("p99")) <= 0.01 * F.col("p99")))
    return (j.select("l_returnflag", "p50", "p90", "p99",
                     ok.alias("approx_within_1pct"))
            .orderBy("l_returnflag"))


ORACLE_APPROX_QUANTILE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 2) AS p99,
       TRUE AS approx_within_1pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
gate(approx_quantile_gate, ORACLE_APPROX_QUANTILE)


def winsorized_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at exact per-group [p05, p95]
    (operators/analytics.winsorize): one tiny percentile agg broadcast
    back, clamp as a map-only expression. Gate compares raw vs
    winsorized means per event_type."""
    ev = _events(spark, sf_dir).select("event_type", "value")
    wz = winsorize(ev, "value", ["event_type"], 0.05, 0.95)
    return (wz.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("value"), 4).alias("mean_raw"),
                 F.round(F.avg("value_winsor"), 4).alias("mean_winsor"),
                 F.round(F.min("value_winsor"), 4).alias("lo_clamp"),
                 F.round(F.max("value_winsor"), 4).alias("hi_clamp"))
            .orderBy("event_type"))


ORACLE_WINSORIZE = """
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n,
       round(avg(e.value), 4) AS mean_raw,
       round(avg(least(greatest(e.value, c.lo), c.hi)), 4) AS mean_winsor,
       round(min(least(greatest(e.value, c.lo), c.hi)), 4) AS lo_clamp,
       round(max(least(greatest(e.value, c.lo), c.hi)), 4) AS hi_clamp
FROM events e JOIN cuts c USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
"""
gate(winsorized_event_values, ORACLE_WINSORIZE)


def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts: minimize retail price, maximize size
    (operators/analytics.skyline — local skyline per partition, then
    one candidate-only refinement; exact, partitioning-invariant).
    Oracle is the textbook NOT EXISTS domination query."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size")
    sky = skyline(part, minimize=["p_retailprice"], maximize=["p_size"])
    return (sky.select("p_partkey",
                       F.round("p_retailprice", 2).alias("p_retailprice"),
                       "p_size")
            .orderBy("p_partkey"))


ORACLE_SKYLINE = """
SELECT p_partkey, round(p_retailprice, 2) AS p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
ORDER BY p_partkey
"""
gate(skyline_parts, ORACLE_SKYLINE)


def cms_frequency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch end-to-end: the JVM builds the mergeable
    frequency sketch over every lineitem supplier key; the (few-KiB)
    sketch is decoded in pure Python (operators/sketches.CountMinSketch
    — the portable-state story) and probed for 5 keys. The gate returns
    the EXACT frequencies plus booleans asserting the CMS bound
    (exact <= estimate <= exact + eps*total) — drift in the sketch
    format, the hash, or the decode fails the hash match."""
    li = _t(spark, sf_dir, "lineitem")
    eps, conf = 0.0005, 0.99
    raw = bytes(li.agg(F.count_min_sketch(
        "l_suppkey", F.lit(eps), F.lit(conf), F.lit(42)).alias("s"))
        .collect()[0]["s"])
    cms = CountMinSketch(raw)
    probes = [1, 2, 3, 4, 5]
    est = spark.createDataFrame(
        [(k, cms.estimate(k), cms.total) for k in probes],
        "l_suppkey long, est long, total long")
    exact = (li.filter(F.col("l_suppkey").isin(probes))
             .groupBy("l_suppkey")
             .agg(F.count(F.lit(1)).alias("exact_freq")))
    ok = ((F.col("est") >= F.col("exact_freq"))
          & (F.col("est") <= F.col("exact_freq")
             + F.ceil(F.lit(eps) * F.col("total"))))
    return (exact.join(est, "l_suppkey")
            .select("l_suppkey", "exact_freq", ok.alias("cms_bound_holds"))
            .orderBy("l_suppkey"))


ORACLE_CMS_GATE = """
SELECT l_suppkey, count(*) AS exact_freq, TRUE AS cms_bound_holds
FROM lineitem WHERE l_suppkey IN (1, 2, 3, 4, 5)
GROUP BY l_suppkey ORDER BY l_suppkey
"""
gate(cms_frequency_gate, ORACLE_CMS_GATE)


def ols_regression_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS via ANSI regr_* aggregates (slope / intercept /
    r² / count of extendedprice on quantity per return flag): linear
    regression as ONE distributed aggregation pass — the moment sums
    fold map-side like any other agg, so model fitting costs a scan,
    not an ML-framework round-trip."""
    return sql(spark, sf_dir, """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       regr_count(l_extendedprice, l_quantity) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")


ORACLE_OLS = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       regr_count(l_extendedprice, l_quantity) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
gate(ols_regression_suite, ORACLE_OLS)


def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per-type median + MAD (median absolute
    deviation), flag |value - med| > 3 * 1.4826 * MAD. Unlike the
    z-score twin (anomaly_zscore_events) this is insensitive to the
    outliers themselves. Two tiny percentile aggs broadcast back; the
    flag pass is map-only. Cut points are computed from ROUNDED med/MAD
    on both engines so boundary decisions are bit-identical."""
    ev = _events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("med"))
    dev = (ev.join(F.broadcast(med), "event_type")
           .select("event_type", "value", "med",
                   F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 4).alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type").withColumn(
        "is_out",
        F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"))
    return (flagged.groupBy("event_type")
            .agg(F.first("med").alias("med"), F.first("mad").alias("mad"),
                 F.sum(F.col("is_out").cast("int")).alias("n_outliers"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("event_type"))


ORACLE_MAD = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "event_type",
       "med",
       "mad",
       CAST("n_outliers" AS BIGINT) AS "n_outliers",
       "n"
FROM (
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, min(d.med) AS med, min(x.mad) AS mad,
       sum(CASE WHEN abs(d.value - d.med) > 3 * 1.4826 * x.mad
                THEN 1 ELSE 0 END) AS n_outliers,
       count(*) AS n
FROM dev d JOIN mad x USING (event_type)
GROUP BY d.event_type ORDER BY d.event_type
) _bigint_cast
"""
gate(mad_outlier_events, ORACLE_MAD)


def classifier_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC without pairwise comparison: rank statistics.
    Scorer = cosine similarity to the class-0 centroid (deterministic,
    JVM-only); positive = label 0. AUC via the Mann-Whitney identity
    AUC = (Σ ranks⁺ - n⁺(n⁺+1)/2) / (n⁺ n⁻) with tie-averaged ranks.
    Scale-safe rank computation (VERDICT r2 #4): ranks depend only on
    DISTINCT scores, so the corpus is partial-aggregated per score
    (map-side combine), the cumulative count runs over the tiny
    distinct-score stream, and avg_rank = cum_before + (cnt+1)/2 —
    never a no-partition window over the full corpus. The calibration
    half reconstructs exact ntile(5) bins arithmetically from
    rn = cum_before + within-score row_number (a PARTITIONED window),
    so ties split across bins exactly as the oracle's ntile does. Plus
    5-bin score calibration (positive rate per score quantile bucket —
    the reliability-diagram data). The evaluation half every
    model-based-filtering pipeline needs next to its scorer."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = (emb.filter(F.col("label") == 0)
            .select(F.posexplode("embedding").alias("d", "x"))
            .groupBy("d").agg(F.avg("x").alias("c")))
    cent_arr = lit_double_array(
        [r["c"] for r in sorted(cent.collect(), key=lambda r: r["d"])])
    scored = emb.select(
        "vec_id",
        (F.col("label") == 0).cast("int").alias("pos"),
        F.round(cosine(F.col("embedding").cast("array<double>"),
                       cent_arr), 6).alias("score"))
    # per-score partial aggregate: ONE shuffle keyed on score, map-side
    # combined — the only pass over the corpus the AUC needs
    stats = (scored.groupBy("score")
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.sum("pos").alias("pos_cnt")))
    # cumulative count over the distinct-score stream (tiny post-agg
    # frame — one row per distinct rounded score, not per document)
    w_cum = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    stats = stats.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w_cum), F.lit(0))
    ).withColumn(
        "avg_rank", F.col("cum_before") + (F.col("cnt") + 1) / 2.0)
    agg = stats.agg(
        F.sum(F.col("pos_cnt") * F.col("avg_rank")).alias("rsum"),
        F.sum("pos_cnt").alias("np"),
        F.sum(F.col("cnt") - F.col("pos_cnt")).alias("nn"),
        F.sum("cnt").alias("ntot"))
    auc = agg.select(
        F.col("np").alias("n_pos"), F.col("nn").alias("n_neg"),
        F.round((F.col("rsum") - F.col("np") * (F.col("np") + 1) / 2)
                / (F.col("np") * F.col("nn")), 4).alias("auc"),
        F.col("ntot"))
    # exact ntile(5) reconstruction: global rank rn = cum_before +
    # within-score row_number (partitioned window — distributed), then
    # the ntile closed form: first (n%5) bins hold ceil(n/5) rows.
    w_in_score = W.partitionBy("score").orderBy(F.col("vec_id").asc())
    per = (scored
           .withColumn("psr", F.row_number().over(w_in_score))
           .join(stats.select("score", "cum_before"), "score")
           .crossJoin(F.broadcast(auc.select("ntot")))
           .withColumn("rn", F.col("cum_before") + F.col("psr")))
    q = F.floor(F.col("ntot") / 5)
    r_mod = F.col("ntot") % 5
    big = r_mod * (q + 1)
    per = per.withColumn(
        "bin",
        F.when(q == 0, F.col("rn"))
        .when(F.col("rn") <= big, F.ceil(F.col("rn") / (q + 1)))
        .otherwise(r_mod + F.ceil((F.col("rn") - big) / q)))
    calib = (per.groupBy("bin")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.avg("score"), 4).alias("mean_score"),
                  F.round(F.avg("pos"), 4).alias("pos_rate")))
    auc = auc.drop("ntot")
    return (calib.crossJoin(F.broadcast(auc))
            .select("bin", "n", "mean_score", "pos_rate",
                    "n_pos", "n_neg", "auc")
            .orderBy("bin"))


def _auc_oracle() -> str:
    cos = ("round(list_dot_product({a}, {b}) /"
           " (sqrt(list_dot_product({a}, {a})) *"
           "  sqrt(list_dot_product({b}, {b}))), 6)")
    return f"""
WITH flat AS (
  SELECT generate_subscripts(embedding, 1) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE label = 0
), dims AS (
  SELECT d, avg(x) AS c FROM flat GROUP BY d
), cent AS (
  SELECT list(c ORDER BY d) AS v FROM dims
), scored AS (
  SELECT vec_id, CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
         {cos.format(a='list_transform(embedding, x -> CAST(x AS DOUBLE))',
                     b='cent.v')} AS score
  FROM embeddings, cent
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY score ASC, vec_id ASC) AS rn
  FROM scored
), tie AS (
  SELECT score, (min(rn) + max(rn)) / 2.0 AS avg_rank
  FROM ranked GROUP BY score
), agg AS (
  SELECT sum(CASE WHEN pos = 1 THEN avg_rank END) AS rsum,
         sum(pos) AS np, sum(1 - pos) AS nn
  FROM ranked JOIN tie USING (score)
), auc AS (
  -- BIGINT casts: DuckDB widens integer sum() to HUGEINT (VERDICT r3 #1)
  SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
         round((rsum - np * (np + 1) / 2) / (np * nn), 4) AS auc
  FROM agg
), calib AS (
  SELECT ntile(5) OVER (ORDER BY score ASC, vec_id ASC) AS bin,
         score, pos
  FROM scored
), bins AS (
  SELECT bin, count(*) AS n, round(avg(score), 4) AS mean_score,
         round(avg(CAST(pos AS DOUBLE)), 4) AS pos_rate
  FROM calib GROUP BY bin
)
SELECT bin, n, mean_score, pos_rate, n_pos, n_neg, auc
FROM bins, auc ORDER BY bin
"""


ORACLE_AUC = _auc_oracle()
gate(classifier_auc_report, ORACLE_AUC)


def sampled_mean_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate analytics from a 10% deterministic hash sample (md5
    bucket on the key — engine/partitioning-invariant, the same
    discipline as hash_sample_documents): per return flag, the sampled
    mean price must land within 2% of the full-scan mean. At 100 TB
    this is the exploratory-query pattern: answer from the sample shard,
    gate against the full answer only when auditing. Both the sample
    membership AND the tolerance check replay exactly in the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.conv(F.substring(
        F.md5(F.concat_ws("_", "l_orderkey", "l_linenumber")), 1, 4),
        16, 10).cast("long") % 10
    samp = (li.filter(bucket == 0)
            .groupBy("l_returnflag")
            .agg(F.avg("l_extendedprice").alias("s_mean"),
                 F.count(F.lit(1)).alias("s_n")))
    full = (li.groupBy("l_returnflag")
            .agg(F.avg("l_extendedprice").alias("f_mean"),
                 F.count(F.lit(1)).alias("f_n")))
    j = full.join(samp, "l_returnflag")
    ok = F.abs(F.col("s_mean") - F.col("f_mean")) <= 0.02 * F.col("f_mean")
    return (j.select("l_returnflag",
                     F.round("f_mean", 2).alias("full_mean"), "f_n", "s_n",
                     ok.alias("sample_within_2pct"))
            .orderBy("l_returnflag"))


ORACLE_SAMPLED_MEAN = """
WITH samp AS (
  SELECT l_returnflag, avg(l_extendedprice) AS s_mean, count(*) AS s_n
  FROM lineitem
  WHERE CAST(('0x' || substring(md5(l_orderkey || '_' || l_linenumber),
                                1, 4)) AS BIGINT) % 10 = 0
  GROUP BY l_returnflag
), full_t AS (
  SELECT l_returnflag, avg(l_extendedprice) AS f_mean, count(*) AS f_n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, round(f_mean, 2) AS full_mean, f_n, s_n,
       abs(s_mean - f_mean) <= 0.02 * f_mean AS sample_within_2pct
FROM full_t JOIN samp USING (l_returnflag) ORDER BY l_returnflag
"""
gate(sampled_mean_estimate, ORACLE_SAMPLED_MEAN)


def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numeric columns in
    ONE aggregation pass (the moment sums for every pair fold
    map-side) — the EDA primitive; at 100 TB a correlation matrix must
    not cost one scan per pair."""
    return sql(spark, sf_dir, """
SELECT round(corr(l_quantity, l_extendedprice), 4) AS qty_price,
       round(corr(l_quantity, l_discount), 4) AS qty_disc,
       round(corr(l_quantity, l_tax), 4) AS qty_tax,
       round(corr(l_extendedprice, l_discount), 4) AS price_disc,
       round(corr(l_extendedprice, l_tax), 4) AS price_tax,
       round(corr(l_discount, l_tax), 4) AS disc_tax,
       count(*) AS n
FROM lineitem
""")


ORACLE_CORR_MATRIX = """
SELECT round(corr(l_quantity, l_extendedprice), 4) AS qty_price,
       round(corr(l_quantity, l_discount), 4) AS qty_disc,
       round(corr(l_quantity, l_tax), 4) AS qty_tax,
       round(corr(l_extendedprice, l_discount), 4) AS price_disc,
       round(corr(l_extendedprice, l_tax), 4) AS price_tax,
       round(corr(l_discount, l_tax), 4) AS disc_tax,
       count(*) AS n
FROM lineitem
"""
gate(correlation_matrix, ORACLE_CORR_MATRIX)


def benford_digit_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs the
    Benford expectation log10(1 + 1/d) — the classic anomaly/fraud
    screen, as one scan + a 9-group aggregate."""
    return sql(spark, sf_dir, """
SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1)
            AS INT) AS digit,
       count(*) AS n,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 4)
         AS observed,
       round(log10(1.0 + 1.0 / CAST(substring(
         CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)), 4)
         AS benford
FROM orders WHERE o_totalprice >= 1
GROUP BY 1 ORDER BY 1
""")


ORACLE_BENFORD = """
SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
            AS INT) AS digit,
       count(*) AS n,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 4)
         AS observed,
       round(log10(1.0 + 1.0 / CAST(substring(
         CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)), 4)
         AS benford
FROM orders WHERE o_totalprice >= 1
GROUP BY 1 ORDER BY 1
"""
gate(benford_digit_distribution, ORACLE_BENFORD)


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation: per customer recency (last order
    date), frequency (orders), monetary (spend) → exact quintiles on
    each (custkey tiebreaks make the edges deterministic), rolled up
    to segment cells.

    Scale-safe quintiles (full-plan audit, round 3): the per-customer
    frame GROWS with the data — a no-partition ntile window over it is
    a one-task sort at 100 TB. Each dimension goes through
    operators/partition.exact_ntile (value-range buckets + partitioned
    row_number + the ntile closed form), hash-identical to the oracle's
    window form. Timestamps rank via unix_micros (monotone)."""
    per_cust = (_t(spark, sf_dir, "orders")
                .groupBy("o_custkey")
                .agg(F.max("o_orderdate").alias("last_order"),
                     F.count(F.lit(1)).alias("freq"),
                     F.sum("o_totalprice").alias("monetary"))
                .withColumn("_rec_day", F.unix_micros(
                    F.col("last_order").cast("timestamp"))))
    # materialize between passes: each exact_ntile pass reads its input
    # several times (bounds agg + tie-cut agg + counts + rank), so
    # chaining three lazily would re-execute subplans multiplicatively
    # (~5^3 leaf scans — measured 5x slower). The checkpointed frame is
    # per-CUSTOMER (orders-of-magnitude smaller than the fact table), so
    # the three materializations are the right trade at any scale.
    per_cust = per_cust.localCheckpoint(eager=True)
    scored = exact_ntile(per_cust, "_rec_day", 5, "o_custkey", "r")
    scored = scored.localCheckpoint(eager=True)
    scored = exact_ntile(scored, "freq", 5, "o_custkey", "f")
    scored = scored.localCheckpoint(eager=True)
    scored = exact_ntile(scored, "monetary", 5, "o_custkey", "m")
    return (scored.groupBy("r", "f", "m")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("monetary"), 2).alias("segment_value"))
            .filter(F.col("n_customers") >= 5)
            .orderBy("r", "f", "m"))


ORACLE_RFM = """
WITH per_cust AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         count(*) AS freq, sum(o_totalprice) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey,
         ntile(5) OVER (ORDER BY last_order, o_custkey) AS r,
         ntile(5) OVER (ORDER BY freq, o_custkey) AS f,
         ntile(5) OVER (ORDER BY monetary, o_custkey) AS m,
         monetary
  FROM per_cust
)
SELECT r, f, m, count(*) AS n_customers,
       round(sum(monetary), 2) AS segment_value
FROM scored GROUP BY r, f, m
HAVING count(*) >= 5
ORDER BY r, f, m
"""
gate(rfm_segmentation, ORACLE_RFM)


def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts
    (operators/graph.cooccurrence_edges supplies the bounded pair
    expansion): support, directional confidences, and lift for pairs in
    ≥ 3 baskets; top 20 by lift. Candidate pairs only ever come from
    shared baskets — the a-priori pruning that keeps rule mining
    linear-ish in basket volume."""
    li = _t(spark, sf_dir, "lineitem")
    n_baskets = li.select("l_orderkey").distinct().count()
    pairs = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_weight=3)
    item = (li.select("l_orderkey", "l_partkey").distinct()
            .groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c")))
    j = (pairs
         .join(F.broadcast(item.withColumnRenamed("l_partkey", "src")
                           .withColumnRenamed("c", "c_a")), "src")
         .join(F.broadcast(item.withColumnRenamed("l_partkey", "dst")
                           .withColumnRenamed("c", "c_b")), "dst"))
    return (j.select(
        F.col("src").alias("part_a"), F.col("dst").alias("part_b"),
        F.col("weight").alias("n_baskets_both"),
        F.round(F.col("weight") / F.lit(float(n_baskets)), 6).alias("support"),
        F.round(F.col("weight") / F.col("c_a"), 4).alias("conf_a_to_b"),
        F.round(F.col("weight") / F.col("c_b"), 4).alias("conf_b_to_a"),
        F.round(F.lit(float(n_baskets)) * F.col("weight")
                / (F.col("c_a") * F.col("c_b")), 4).alias("lift"))
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20))


ORACLE_ASSOC_RULES = """
WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS w
  FROM po a JOIN po b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
), item AS (
  SELECT l_partkey, count(*) AS c FROM po GROUP BY l_partkey
)
SELECT part_a, part_b, w AS n_baskets_both,
       round(w / CAST(nb.n AS DOUBLE), 6) AS support,
       round(w / CAST(ia.c AS DOUBLE), 4) AS conf_a_to_b,
       round(w / CAST(ib.c AS DOUBLE), 4) AS conf_b_to_a,
       round(CAST(nb.n AS DOUBLE) * w / (ia.c * ib.c), 4) AS lift
FROM pairs JOIN item ia ON ia.l_partkey = part_a
           JOIN item ib ON ib.l_partkey = part_b, nb
ORDER BY lift DESC, part_a, part_b LIMIT 20
"""
gate(association_rules_parts, ORACLE_ASSOC_RULES)


def revenue_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form trend forecast: OLS of daily revenue on day index
    (one regr_* aggregation over the daily series), extrapolated 30/90
    days past the last observed date — forecasting as plain relational
    algebra (the baseline every fancier model must beat). Slope is
    per-day drift; the oracle replays the identical arithmetic."""
    return sql(spark, sf_dir, """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), idx AS (
  SELECT datediff(day, DATE'1992-01-01') AS d, rev FROM daily
), fit AS (
  SELECT regr_slope(rev, d) AS slope, regr_intercept(rev, d) AS icept,
         max(d) AS last_d, count(*) AS n_days
  FROM idx
)
SELECT n_days, round(slope, 4) AS slope_per_day,
       round(icept + slope * (last_d + 30), 2) AS forecast_30d,
       round(icept + slope * (last_d + 90), 2) AS forecast_90d
FROM fit
""")


ORACLE_TREND = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), idx AS (
  SELECT datediff('day', DATE '1992-01-01', day) AS d, rev FROM daily
), fit AS (
  SELECT regr_slope(rev, d) AS slope, regr_intercept(rev, d) AS icept,
         max(d) AS last_d, count(*) AS n_days
  FROM idx
)
SELECT n_days, round(slope, 4) AS slope_per_day,
       round(icept + slope * (last_d + 30), 2) AS forecast_30d,
       round(icept + slope * (last_d + 90), 2) AS forecast_90d
FROM fit
"""
gate(revenue_trend_forecast, ORACLE_TREND)


def bloom_prefilter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-Bloom pre-filter end-to-end: the BUILDING-segment
    customer keys build a 2048-bit / 3-hash filter (sized to force
    real false positives at sf0.01), every order probes it as a pure
    JVM expression, and the per-priority report counts probes, maybes,
    true members and false positives. The oracle replays the md5-lane
    positions in SQL and applies the same all-positions-set
    semantics — so the filter's exact bit pattern, FALSE POSITIVES
    INCLUDED, is value-checked. Build: one distinct-positions
    collect (bounded by m_bits); probe: map-only, no shuffle."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    build = (cust.filter(F.col("c_mktsegment") == "BUILDING")
             .select("c_custkey"))
    bf = bloom_build(build, "c_custkey", m_bits=2048, n_hashes=3)
    probed = (orders
              .withColumn("maybe", bf.might_contain(F.col("o_custkey")))
              .join(F.broadcast(build),
                    F.col("o_custkey") == F.col("c_custkey"), "left")
              .withColumn("is_true", F.col("c_custkey").isNotNull()))
    return (probed.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_probe"),
                 F.sum(F.col("maybe").cast("long")).alias("n_maybe"),
                 F.sum(F.col("is_true").cast("long")).alias("n_true"),
                 F.sum((F.col("maybe") & ~F.col("is_true"))
                       .cast("long")).alias("n_false_pos")))


ORACLE_BLOOM_PREFILTER = """
WITH js AS (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2),
build AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
), bpos AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                              8 * j + 1, 8)) AS BIGINT) % 2048 AS p
  FROM build, js
), probe AS (
  SELECT o_orderkey, o_custkey, o_orderpriority,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                              8 * j + 1, 8)) AS BIGINT) % 2048 AS p
  FROM orders, js
), pm AS (
  SELECT o_orderkey, any_value(o_custkey) AS o_custkey,
         any_value(o_orderpriority) AS o_orderpriority,
         bool_and(p IN (SELECT p FROM bpos)) AS maybe
  FROM probe GROUP BY o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_probe,
       CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
       CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM build)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN maybe AND o_custkey NOT IN
                          (SELECT c_custkey FROM build)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM pm GROUP BY o_orderpriority
"""
gate(bloom_prefilter_report, ORACLE_BLOOM_PREFILTER)


def logreg_train_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed classifier training end-to-end: ``logreg_train``
    (2 full-batch GD iterations, lr=1.0, y = label%2) over the
    embeddings table; the oracle UNROLLS both iterations in SQL
    (sigmoid residuals → per-dim gradient sums → rounded weight
    update), so the whole training loop is value-checked weight by
    weight (d=0 is the bias). Per iteration: one JVM scoring scan
    (weights as plan literals) + one (dim) agg shuffle; the model is
    dim+1 doubles of driver state."""
    emb = (_t(spark, sf_dir, "embeddings")
           .select("embedding", (F.col("label") % 2).alias("y")))
    w, b = logreg_train(emb, "embedding", "y", iters=2, lr=1.0)
    rows = [(0, float(b))] + [(i + 1, float(x)) for i, x in enumerate(w)]
    return spark.createDataFrame(rows, schema="d int, weight double")


_LR_ITER = """
s{n} AS (
  SELECT e.v, e.y,
         1.0 / (1.0 + exp(-(list_dot_product(e.v, {p}.w) + {p}.b)))
           - e.y AS r
  FROM emb e, {p}
), g{n} AS (
  SELECT d, sum(xv * r) AS g
  FROM (SELECT generate_subscripts(v, 1) AS d, unnest(v) AS xv, r
        FROM s{n})
  GROUP BY d
), w{n} AS (
  SELECT list(round(wp.w[g.d] - 1.0 * g.g / c.n, 6) ORDER BY g.d) AS w,
         round(any_value(wp.b)
               - 1.0 * (SELECT sum(r) FROM s{n}) / any_value(c.n),
               6) AS b
  FROM g{n} g, {p} wp, cnt c
)"""

ORACLE_LOGREG_TRAIN = ("""
WITH emb AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v,
         CAST(label % 2 AS DOUBLE) AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
), cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM emb),
w0 AS (
  SELECT list_transform((SELECT v FROM emb LIMIT 1), x -> 0.0) AS w,
         0.0 AS b
), """
+ _LR_ITER.format(n=1, p="w0") + ", "
+ _LR_ITER.format(n=2, p="w1") + """
SELECT CAST(0 AS INT) AS d, b AS weight FROM w2
UNION ALL
SELECT CAST(gs AS INT) AS d, val AS weight
FROM (SELECT generate_subscripts(w, 1) AS gs, unnest(w) AS val FROM w2)
""")
gate(logreg_train_report, ORACLE_LOGREG_TRAIN)
