"""Query/operator inventory — the graded surface.

The gate contract, for this module and queries2..6.py alike: each entry
pairs a Spark implementation (DataFrame/SQL API, Catalyst-optimized)
with an ANSI-SQL oracle DuckDB runs on the same parquet tables, and is
registered by one ``gate(fn, oracle)`` line after the oracle. A gate
calls the library operator it checks, never a private copy of it; the
oracle stays hand-written SQL, the independent reference. Names map to
SURVEY.md §2 rows or north-star extensions (dedup / similarity / text
analysis / multimodal). Import the registry through this module: its
bottom imports queries2..6.py so their ``gate`` lines run.

Determinism rules (the driver hash-compares values):
- every computed column is aliased identically on both sides;
- float aggregates are ROUND(x, 2)-ed on BOTH sides (Spark and DuckDB sum
  doubles in different orders; the ~1e-10 relative fp noise disappears at
  2 decimals);
- top-k queries always carry a unique tiebreak key in ORDER BY.

Scale notes are inline per query: broadcasts for dims, pushed-down range
filters, no driver-side loops; at 100 TB every query below is a
scan→(broadcast)join→partial-agg shuffle plan with AQE skew handling.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .operators import md5_long


# The registry: gate name -> Spark implementation, and gate name ->
# DuckDB oracle SQL. Filled only through gate(); the driver contract
# (__spark_entry__.queries / oracle_sql) fixes the order callers see.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def gate(fn: Callable[[SparkSession, str], DataFrame], oracle: str) -> None:
    """Register ``fn`` under its own name with the DuckDB ``oracle``
    SQL that must reproduce its result. Called once per gate, right
    after the oracle constant (most oracles are defined after their
    function, so a decorator could not see them). A name registered
    twice raises: the second would silently replace the first."""
    name = fn.__name__
    if name in QUERIES:
        raise ValueError(f"gate {name!r} is already registered")
    QUERIES[name] = fn
    ORACLES[name] = oracle


_TUNED: set[int] = set()


_SCRATCH_ROOT: str | None = None
_SCRATCH_SEQ = None


def _scratch(name: str) -> str:
    """Fresh scratch dir for queries that materialize intermediate
    files (round-trip/export/streaming gates). One mkdtemp ROOT per
    process (unique, 0700 — multi-user and symlink safe), removed at
    interpreter exit, with a fresh numbered subdir per call: no
    deletion work lands inside bench's timed region, every call's
    lazy DataFrame stays readable until process exit, and nothing
    accumulates across processes (review r4 — twice: mkdtemp-per-call
    leaked forever; a fixed shared path was wipe-in-timed-region,
    call-aliasing, and squat-prone)."""
    global _SCRATCH_ROOT, _SCRATCH_SEQ
    import atexit
    import itertools
    import os
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="axspark_scratch_")
        _SCRATCH_SEQ = itertools.count()
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    d = os.path.join(_SCRATCH_ROOT, f"{name}_{next(_SCRATCH_SEQ)}")
    os.makedirs(d)
    return d


def _md5_xor_long(*cols):
    """The cross-engine row hash of the md5 digest gates: each column
    (a name or a Column) cast to string with NULL as '<N>', joined with
    \\x1f, then md5_long. DuckDB replays it as md5_long's twin over
    concat_ws(chr(31), coalesce(CAST(c AS VARCHAR), '<N>'), ...);
    aggregate with bit_xor for the order-independent digest."""
    return md5_long(F.concat_ws("\x1f", *[
        F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"),
                   F.lit("<N>"))
        for c in cols]))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # apply engine confs once per session — the driver may hand us a
    # session without AQE/UTC set
    if id(spark) not in _TUNED:
        from .session import tune_for_session
        tune_for_session(spark)
        _TUNED.add(id(spark))
    return _read_table(spark, f"{sf_dir}/{name}.parquet")


# Inferred input-table schemas, keyed by path. Schema INFERENCE (the
# driver-side directory listing + footer read spark.read.parquet does
# on every call) costs ~65 ms per call on this box vs ~13 ms with an
# explicit schema — a fixed driver latency no cluster size amortizes
# (guide §5: the driver should do almost no data work; a production
# catalog serves the schema without touching footers). Metadata only:
# every byte of table DATA is still read from parquet at execution.
# Each entry carries the path's os.stat (mtime_ns, size) stamp: a path
# rewritten since it was cached re-infers instead of reading its new
# columns as NULL under the old schema, and a path os.stat cannot see
# (a remote URI) always infers.
_TABLE_SCHEMAS: dict = {}  # path -> ((st_mtime_ns, st_size), StructType)


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _TABLE_SCHEMAS.get(path)
    if hit is None or hit[0] != stamp:
        df = spark.read.parquet(path)
        _TABLE_SCHEMAS[path] = (stamp, df.schema)
        return df
    return spark.read.schema(hit[1]).parquet(path)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism iff the frame is
    UNDER-parallel (fewer partitions than cores). The testdata tables
    are single-row-group parquet files — an unsplittable 1-task scan,
    exactly the guide §2.5 "input skew: one huge unsplittable file ...
    repartition immediately after the read" case — so every heavy
    per-row stage (Arrow codecs, md5 hashing, ANSI try_* arithmetic)
    otherwise runs on ONE core. Scale-adaptive by construction: at
    production scale the scan arrives in hundreds of splits and this
    is a no-op (no exchange is added), so it is NOT a local-only
    tuning constant.

    PRECONDITION (ADVICE r12): call on SCAN-ONLY frames (scan +
    column-level select/filter). The ``df.rdd.getNumPartitions()``
    probe forces physical planning / RDD conversion at query-build
    time and reads the PRE-AQE split count — harmless for a scan, a
    foot-gun on frames with exchanges upstream (it would plan the
    exchange subtree twice and read a pre-coalesce partition count)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with ``ts`` normalized to a session-TZ-free µs
    timestamp, whatever the parquet physical type is. Generations of the
    testdata have stored ts as TIMESTAMP(NANOS) (unreadable by Spark's
    vectorized reader without the nanosAsLong legacy conf) and as plain
    TIMESTAMP(MICROS)/isAdjustedToUTC=false (read as TIMESTAMP_NTZ).
    Handle both: nanos-as-long -> timestamp_micros(ts div 1000) (integer
    floor, exact); NTZ -> cast to TIMESTAMP (identity under the UTC
    session TZ we always set). Oracles CAST ts to TIMESTAMP the same way."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalize_ts(_read_table(spark, f"{sf_dir}/events.parquet"))


def _normalize_ts(df: DataFrame) -> DataFrame:
    """The ts-normalization branch shared by the batch (_events) and
    streaming (_stream_events) readers — one definition (review r5)."""
    t = dict(df.dtypes).get("ts", "")
    if t in ("bigint", "long"):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if t != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# =====================================================================
# Relational core (SURVEY §2.6 aggregation, §2.7 joins, §2.4 sort/top-k)
# =====================================================================

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary through the reference's
    idiom chain (range filter -> groupBy partial/final agg; reference does
    this as per-slice Counters merged in synthesis, SURVEY §2.6).
    Plan: single parquet scan with shipdate predicate pushed down,
    partial hash agg map-side, tiny shuffle (4 groups)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                             AS sum_qty,
       round(sum(l_extendedprice), 2)                        AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)     AS sum_disc_price,
       round(avg(l_quantity), 2)                             AS avg_qty,
       round(avg(l_extendedprice), 2)                        AS avg_price,
       count(*)                                              AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
gate(q1_pricing_summary, ORACLE_Q1)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-10. customer is left UNHINTED: it scales
    with SF, so AQE auto-broadcasts it while it fits (it does at bench
    scale — plan test asserts it) and shuffles it at 100 TB; forcing the
    hint would OOM a real cluster. lineitem⨝orders shuffles on orderkey
    (the natural key, co-partitioned by the join itself)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


ORACLE_Q3 = """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""
gate(q3_shipping_priority, ORACLE_Q3)


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through 4 dimensions. nation/region are fixed-size ->
    explicit broadcast; supplier/customer SCALE with SF -> left to AQE
    (auto-broadcast while small, shuffle at 100 TB). Only the
    lineitem⨝orders edge must shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


ORACLE_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""
gate(q5_nation_revenue, ORACLE_Q5)


def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (SURVEY §2.4 top-k idiom). Single shuffle on
    o_custkey; rank pushed into the window operator."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


ORACLE_TOP3 = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""
gate(top3_orders_per_customer, ORACLE_TOP3)


def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS). SURVEY §2.7: pure new surface for the engine."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi") \
        .select("c_custkey", "c_name")


ORACLE_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""
gate(customers_with_orders, ORACLE_SEMI)


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti") \
        .select("c_custkey", "c_name", "c_mktsegment")


ORACLE_ANTI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""
gate(customers_without_orders, ORACLE_ANTI)


def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (SURVEY §2.5 — absent in the reference, native here)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


ORACLE_DISTINCT = "SELECT DISTINCT c_mktsegment FROM customer"
gate(distinct_segments, ORACLE_DISTINCT)


def top100_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit — Spark plans TakeOrderedAndProject (no full
    sort materialization; survives any scale). Reference analog:
    dataset_sort(sort_across_slices) + slice (SURVEY §2.4)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    )


ORACLE_TOP100 = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""
gate(top100_orders, ORACLE_TOP100)


def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation (date_trunc month)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("month")
    )


ORACLE_MONTHLY = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY 1 ORDER BY 1
"""
gate(monthly_order_stats, ORACLE_MONTHLY)


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over status/priority (SURVEY §2.6 'absent in reference' row:
    grouping sets are native new surface)."""
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


ORACLE_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""
gate(orders_rollup, ORACLE_ROLLUP)


def brand_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⨝dim with broadcast + multi-agg incl. exact distinct count
    (SURVEY §2.6 distinct-count row)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
        .orderBy("p_brand")
    )


ORACLE_BRAND = """
SELECT p_brand, count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty,
       count(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""
gate(brand_part_stats, ORACLE_BRAND)


def range_filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's iterate(columns=, range=) surface (SURVEY §2.2):
    projection + range predicate, both pushed into the parquet scan
    (PushedFilters + ReadSchema pruning)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01")))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


ORACLE_RANGE = """
SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
"""
gate(range_filter_projection, ORACLE_RANGE)


def merge_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dataset_merge / column-add (SURVEY §2.5): zip extra columns onto a
    dataset — in Spark a broadcast lookup join."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "left")
        .select("c_custkey", "c_name", "c_nationkey", F.col("n_name").alias("nation_name"))
    )


ORACLE_MERGE = """
SELECT c_custkey, c_name, c_nationkey, n_name AS nation_name
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
"""
gate(merge_customer_nation, ORACLE_MERGE)


def q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for orders having at least
    one late-shipped line (EXISTS -> left_semi; one shuffle on
    orderkey)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01")))
    # schema has no commitdate; "late" proxy: a line shipped after
    # 1996-09-01 (late in the quarter being reported)
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") >= F.lit("1996-09-01")).select("l_orderkey")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""
gate(q4_priority_check, ORACLE_Q4)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-agg — the pushdown benchmark (every
    predicate reaches the parquet reader; zero shuffle, 1-row result)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n"))
    )


ORACLE_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""
gate(q6_forecast_revenue, ORACLE_Q6)


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20.
    lineitem⨝orders shuffles; customer/nation broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""
gate(q10_returned_items, ORACLE_Q10)


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share in one month; conditional agg
    over a broadcast dim join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01")))
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(100 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                    / F.sum(rev), 2).alias("promo_pct"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ORACLE_Q14 = """
SELECT round(100 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 2) AS promo_pct,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""
gate(q14_promo_revenue, ORACLE_Q14)


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with large-volume orders (HAVING over a
    groupBy, then joins back). The groupBy-then-semi-join plan keeps the
    big side distributed."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey",
                F.round("o_totalprice", 2).alias("price"),
                F.round("total_qty", 2).alias("total_qty"))
    )


ORACLE_Q18 = """
SELECT c_custkey, c_name, o_orderkey,
       round(o_totalprice, 2) AS price, round(total_qty, 2) AS total_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) b
JOIN orders   ON b.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""
gate(q18_large_orders, ORACLE_Q18)


def sort_nulls_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dataset_sort semantics surfaced as a query: derive NULLs, sort with
    the reference's None-is-minimum rule (nulls first ascending), take a
    deterministic top-50. Spark plans TakeOrderedAndProject — no full
    sort at any scale."""
    cust = _t(spark, sf_dir, "customer")
    v = F.when(F.col("c_acctbal") < 0, None).otherwise(F.round("c_acctbal", 2))
    return (
        cust.select("c_custkey", v.alias("bal"))
        .orderBy(F.col("bal").asc_nulls_first(), F.col("c_custkey").asc())
        .limit(50)
    )


ORACLE_SORT_NULLS = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END AS bal
FROM customer
ORDER BY bal ASC NULLS FIRST, c_custkey ASC
LIMIT 50
"""
gate(sort_nulls_semantics, ORACLE_SORT_NULLS)


def hashpart_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dataset_hashpart surfaced as a query: hash-partitioning must not
    change content — checksum(repartition(df)) == checksum(df). The
    oracle computes the plain checksum; a mismatch would mean the
    partitioner dropped/duplicated rows."""
    from .operators.partition import hashpart

    orders = hashpart(_t(spark, sf_dir, "orders"), "o_custkey", partitions=16)
    h = _md5_xor_long("o_orderkey", "o_custkey", "o_orderstatus",
                      "o_orderpriority")
    return orders.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("lines"), F.bit_xor("h").alias("checksum_xor"))


ORACLE_HASHPART = """
SELECT count(*) AS lines,
       bit_xor(CAST(('0x' || substring(md5(concat_ws(chr(31),
         coalesce(CAST(o_orderkey AS VARCHAR), '<N>'),
         coalesce(CAST(o_custkey  AS VARCHAR), '<N>'),
         coalesce(o_orderstatus, '<N>'),
         coalesce(o_orderpriority, '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor
FROM orders
"""
gate(hashpart_invariance, ORACLE_HASHPART)


# =====================================================================
# Typing (SURVEY §2.8 dataset_type) — string -> typed with bad handling
# =====================================================================

def typed_from_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dataset_type round-trip: stringify columns (the reference's
    all-bytes CSV import state), then re-type with the try_cast menu with
    default-on-failure and filter_bad semantics (single-pass conjunction,
    SURVEY §7.4)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("s_key"),
        F.concat(F.lit(" "), F.col("l_quantity").cast("string"), F.lit(" ")).alias("s_qty"),
        F.col("l_shipdate").cast("date").cast("string").alias("s_date"),
        F.when(F.col("l_returnflag") == "R", F.lit("true")).otherwise(F.lit("no")).alias("s_bool"),
    )
    typed = li.select(
        F.col("s_key").cast("long").alias("t_key"),
        F.trim("s_qty").cast("double").alias("t_qty"),
        F.to_date("s_date", "yyyy-MM-dd").alias("t_date"),
        F.lower("s_bool").isin("true", "1", "yes", "on").alias("t_bool"),
    )
    return typed.groupBy("t_bool").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("t_qty"), 2).alias("sum_qty"),
        F.min("t_date").alias("min_date"),
        F.max("t_key").alias("max_key"),
    ).orderBy("t_bool")


ORACLE_TYPED = """
WITH s AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS s_key,
         ' ' || CAST(l_quantity AS VARCHAR) || ' ' AS s_qty,
         CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS s_date,
         CASE WHEN l_returnflag = 'R' THEN 'true' ELSE 'no' END AS s_bool
  FROM lineitem
), t AS (
  SELECT CAST(s_key AS BIGINT) AS t_key,
         CAST(trim(s_qty) AS DOUBLE) AS t_qty,
         CAST(s_date AS DATE) AS t_date,
         lower(s_bool) IN ('true','1','yes','on') AS t_bool
  FROM s
)
SELECT t_bool, count(*) AS n, round(sum(t_qty), 2) AS sum_qty,
       min(t_date) AS min_date, max(t_key) AS max_key
FROM t GROUP BY t_bool ORDER BY t_bool
"""
gate(typed_from_strings, ORACLE_TYPED)


def dataset_type_operator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset_type OPERATOR (accelerator_spark.functions.dataset_type)
    driven end-to-end: synthesize messy strings (some unparseable), type
    them with defaults + filter_bad, aggregate the typed output. Bad rows
    ('R' flag rows get 'X<qty>' garbage) drop; the 'N'-flag discount gets
    a default. Oracle reproduces the same semantics in SQL."""
    from .functions.conversions import dataset_type

    li = _t(spark, sf_dir, "lineitem")
    messy = li.select(
        F.col("l_orderkey").cast("string").alias("s_key"),
        F.when(F.col("l_returnflag") == "R", F.concat(F.lit("X"), F.col("l_quantity").cast("string")))
        .otherwise(F.col("l_quantity").cast("string")).alias("s_qty"),
        F.when(F.col("l_linestatus") == "O", F.lit("oops"))
        .otherwise(F.col("l_discount").cast("string")).alias("s_disc"),
    )
    typed, bad = dataset_type(
        messy,
        {"s_key": "int64_10", "s_qty": "float64", "s_disc": "float64"},
        defaults={"s_disc": -1.0},
        filter_bad=True,
    )
    return typed.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.round(F.sum("s_qty"), 2).alias("sum_qty"),
        F.round(F.sum("s_disc"), 2).alias("sum_disc"),
        F.max("s_key").alias("max_key"),
    )


ORACLE_DSTYPE = """
WITH messy AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS s_key,
         CASE WHEN l_returnflag = 'R' THEN 'X' || CAST(l_quantity AS VARCHAR)
              ELSE CAST(l_quantity AS VARCHAR) END AS s_qty,
         CASE WHEN l_linestatus = 'O' THEN 'oops'
              ELSE CAST(l_discount AS VARCHAR) END AS s_disc
  FROM lineitem
), typed AS (
  SELECT TRY_CAST(s_key AS BIGINT) AS s_key,
         TRY_CAST(s_qty AS DOUBLE) AS s_qty,
         coalesce(TRY_CAST(s_disc AS DOUBLE), -1.0) AS s_disc
  FROM messy
  WHERE TRY_CAST(s_qty AS DOUBLE) IS NOT NULL
    AND TRY_CAST(s_key AS BIGINT) IS NOT NULL
)
SELECT count(*) AS n_good, round(sum(s_qty), 2) AS sum_qty,
       round(sum(s_disc), 2) AS sum_disc, max(s_key) AS max_key
FROM typed
"""
gate(dataset_type_operator, ORACLE_DSTYPE)


def dataset_type_menu2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second dataset_type slice: hex ints (int64_16), time-of-day to
    µs-since-midnight (time:%H:%M:%S -> LongType, SURVEY §7.4), number
    (int-or-float), unixtime epoch parse — all through
    functions.conversions expressions, oracle-mirrored."""
    from .functions.conversions import convert_expr

    # r12 (guide §2.5): spread the projected scan — the string-build +
    # typed-parse chain is per-row heavy (hex/time/number/unixtime
    # round-trips) and ran single-core on the one-row-group file
    orders = _spread(_t(spark, sf_dir, "orders")
                     .select("o_orderkey", "o_totalprice", "o_custkey"))
    messy = orders.select(
        "o_orderkey",
        F.lower(F.hex(F.col("o_orderkey"))).alias("s_hex"),
        F.date_format(F.timestamp_seconds(F.col("o_orderkey") % 86400), "HH:mm:ss").alias("s_time"),
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice").cast("string"))
        .otherwise(F.col("o_custkey").cast("string")).alias("s_number"),
        (F.col("o_orderkey") + 1700000000).cast("string").alias("s_epoch"),
    )
    typed = messy.select(
        "o_orderkey",
        convert_expr("s_hex", "int64_16").alias("t_hex"),
        convert_expr("s_time", "time:%H:%M:%S").alias("t_time_us"),
        convert_expr("s_number", "number").alias("t_number"),
        convert_expr("s_epoch", "unixtime").alias("t_epoch"),
    )
    return typed.agg(
        F.sum(F.when(F.col("t_hex") == F.col("o_orderkey"), 1).otherwise(0)).alias("hex_roundtrips"),
        F.sum("t_time_us").alias("sum_time_us"),
        F.round(F.sum("t_number"), 2).alias("sum_number"),
        # epoch seconds, not a raw timestamp: tz-aware vs naive hashing
        F.max("t_epoch").cast("long").alias("max_epoch"),
        F.count(F.lit(1)).alias("n"),
    )


ORACLE_MENU2 = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT CAST("hex_roundtrips" AS BIGINT) AS "hex_roundtrips",
       CAST("sum_time_us" AS BIGINT) AS "sum_time_us",
       "sum_number",
       "max_epoch",
       "n"
FROM (
WITH messy AS (
  SELECT o_orderkey,
         lower(to_hex(o_orderkey)) AS s_hex,
         -- built arithmetically, NOT via strftime(to_timestamp(..)):
         -- that pair renders in the DuckDB SESSION timezone, silently
         -- binding the gate to a UTC host (review r4)
         lpad(CAST((o_orderkey % 86400) // 3600 AS VARCHAR), 2, '0')
           || ':' || lpad(CAST(((o_orderkey % 86400) // 60) % 60 AS VARCHAR), 2, '0')
           || ':' || lpad(CAST((o_orderkey % 86400) % 60 AS VARCHAR), 2, '0') AS s_time,
         CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_totalprice AS VARCHAR)
              ELSE CAST(o_custkey AS VARCHAR) END AS s_number,
         CAST(o_orderkey + 1700000000 AS VARCHAR) AS s_epoch
  FROM orders
), typed AS (
  SELECT o_orderkey,
         CAST(('0x' || s_hex) AS BIGINT) AS t_hex,
         (CAST(substring(s_time, 1, 2) AS BIGINT) * 3600
          + CAST(substring(s_time, 4, 2) AS BIGINT) * 60
          + CAST(substring(s_time, 7, 2) AS BIGINT)) * 1000000 AS t_time_us,
         TRY_CAST(s_number AS DOUBLE) AS t_number,
         to_timestamp(CAST(s_epoch AS BIGINT)) AS t_epoch
  FROM messy
)
SELECT sum(CASE WHEN t_hex = o_orderkey THEN 1 ELSE 0 END) AS hex_roundtrips,
       sum(t_time_us) AS sum_time_us,
       round(sum(t_number), 2) AS sum_number,
       CAST(epoch(max(t_epoch)) AS BIGINT) AS max_epoch,
       count(*) AS n
FROM typed
) _bigint_cast
"""
gate(dataset_type_menu2, ORACLE_MENU2)


def ivf_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style coarse quantization (operators/similarity.ivf_assign):
    assign every vector to its nearest of 8 seed centroids (vectors
    0..7), count + mean cosine per cell. The cell index is the IVF
    partition map an ANN search probes. Deterministic: rank on rounded
    cosine with centroid-id tiebreak."""
    from .operators.similarity import ivf_assign

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8)
    assigned = ivf_assign(emb, cents)
    return (
        assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("centroid_cos"), 4).alias("avg_cos"))
        .orderBy("centroid_id")
    )


ORACLE_IVF = """
WITH c AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT e.vec_id, c.c_id,
         round(list_dot_product(e.embedding, c.c_emb) /
               (sqrt(list_dot_product(e.embedding, e.embedding)) *
                sqrt(list_dot_product(c.c_emb, c.c_emb))), 4) AS cos
  FROM embeddings e, c
), best AS (
  SELECT vec_id, c_id AS centroid_id, cos AS centroid_cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM scored
)
SELECT centroid_id, count(*) AS n, round(avg(centroid_cos), 4) AS avg_cos
FROM best WHERE rn = 1
GROUP BY centroid_id ORDER BY centroid_id
"""
gate(ivf_centroid_assign, ORACLE_IVF)


# =====================================================================
# Events: time-series / sessionization / as-of (streaming-adjacent)
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


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column handling (SURVEY §1.2 json type): extract a typed field
    from the props JSON string and aggregate — the json-as-compat-path
    story."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_JSON_PROPS = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "event_type",
       "n",
       CAST("sum_k" AS BIGINT) AS "sum_k",
       "min_k",
       "max_k"
FROM (
SELECT event_type, count(*) AS n,
       sum(CAST(props->>'k' AS BIGINT)) AS sum_k,
       min(CAST(props->>'k' AS BIGINT)) AS min_k,
       max(CAST(props->>'k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
) _bigint_cast
"""
gate(events_json_props, ORACLE_JSON_PROPS)


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
    from .operators.merge import asof_join

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
# Checksum (SURVEY §2.6 dataset_checksum) — cross-engine md5 digest
# =====================================================================

def checksum_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/slicing-independent digest, the reference's
    dataset_checksum (a_dataset_checksum.py:24-52) re-expressed: md5 per
    row -> 60-bit int -> bit_xor fold. Distributed agg; nothing reaches
    the driver. (Avoids double columns: float->string differs across
    engines.)"""
    li = _t(spark, sf_dir, "lineitem")
    h = _md5_xor_long("l_orderkey", "l_linenumber", "l_returnflag",
                      "l_linestatus", "l_shipdate")
    return li.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("lines"),
        F.bit_xor("h").alias("checksum_xor"),
    )


ORACLE_CHECKSUM = """
SELECT count(*) AS lines,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(l_orderkey   AS VARCHAR), '<N>'),
           coalesce(CAST(l_linenumber AS VARCHAR), '<N>'),
           coalesce(l_returnflag, '<N>'),
           coalesce(l_linestatus, '<N>'),
           coalesce(CAST(l_shipdate   AS VARCHAR), '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor
FROM lineitem
"""
gate(checksum_lineitem, ORACLE_CHECKSUM)


# =====================================================================
# Text analysis (north-star: documents table)
# =====================================================================

def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (docs 0..49): tf from one explode
    + groupBy, document frequency from a distinct-explode agg, idf =
    ln(N/df) joined back on term, window top-3. Two shuffles over the
    token stream + one term-keyed join — the standard distributed TF-IDF
    plan (no vocabulary ever reaches the driver). Rounded scores +
    term tiebreaks keep both engines' rankings identical."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(df_, "term")
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.filter(F.col("doc_id") < 50)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


ORACLE_TFIDF = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), scored AS (
  SELECT doc_id, term,
         round(tf * ln((SELECT count(*) FROM documents) / CAST(df AS DOUBLE)), 4) AS tfidf
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored WHERE doc_id < 50
) WHERE rank <= 3
"""
gate(tfidf_top_terms, ORACLE_TFIDF)


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) — per-doc token count +
    corpus stats. All JVM-side expressions."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


ORACLE_TOKENS = """
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       length(text) AS n_chars_measured
FROM documents
"""
gate(token_counts, ORACLE_TOKENS)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token stats + stopword ratio + mean token length
    (the length/stopword heuristics of LLM-corpus filtering)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop = F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    d = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(stop).alias("n_stop"),
        F.length(F.trim(F.col("text"))).alias("n_chars"),
    )
    return d.select(
        "doc_id", "n_tokens",
        F.round(F.col("n_stop") / F.col("n_tokens"), 4).alias("stopword_ratio"),
        F.round((F.col("n_chars") - F.col("n_tokens") + 1) / F.col("n_tokens"), 4).alias("avg_token_len"),
    )


ORACLE_QUALITY = """
WITH d AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         t -> t IN ('the','a','of','and'))) AS n_stop,
         length(trim(text)) AS n_chars
  FROM documents
)
SELECT doc_id, n_tokens,
       round(n_stop / CAST(n_tokens AS DOUBLE), 4) AS stopword_ratio,
       round((n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE), 4) AS avg_token_len
FROM d
"""
gate(text_quality, ORACLE_QUALITY)


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-evidence classifier) + confusion
    counts against the labeled lang column. Deterministic and fully
    JVM-side; a real model would slot in as a pandas UDF with the same
    shape."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    en_ev = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "is")))
    pred = F.when(en_ev >= 3, F.lit("en")).otherwise(F.lit("unk"))
    return (
        docs.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


ORACLE_LANG = """
WITH p AS (
  SELECT lang,
         CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t IN ('the','a','of','and','is'))) >= 3
              THEN 'en' ELSE 'unk' END AS predicted
  FROM documents
)
SELECT lang, predicted, count(*) AS n FROM p
GROUP BY lang, predicted ORDER BY lang, predicted
"""
gate(lang_id, ORACLE_LANG)


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (operators/dedup.py fingerprint): md5 of
    normalized text (lowercase, whitespace-collapsed) — the exact-dedup
    key."""
    from .operators.dedup import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


ORACLE_FP = """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""
gate(doc_fingerprints, ORACLE_FP)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (operators/dedup.py exact_dedup): group by normalized-
    text fingerprint, keep min doc_id (deterministic winner), report
    group size; NULL texts are excluded. At 100 TB this is one
    hash-shuffle on the fingerprint — the standard exact-dedup plan."""
    from .operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return exact_dedup(docs).select("keep_doc_id", "n_copies")


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents WHERE text IS NOT NULL)
GROUP BY fp
"""
gate(dedup_exact, ORACLE_DEDUP_EXACT)


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by word-3-gram Jaccard >= 0.35, via the
    inverted index (explode shingles -> group docs per shingle -> expand
    pairs -> count intersections -> Jaccard). This is the scale-correct
    shape: no all-pairs cross join; only docs sharing a shingle meet.
    Skew guard: drop shingles appearing in >1% of docs AND cap shingle
    groups at 64 docs — pair expansion is quadratic in group size, so
    without the absolute cap a duplicate-heavy corpus (every doc copied
    8x) blows up 60x (measured at 4.8M-row scale test). Run exact dedup
    first on dup-heavy corpora; the cap is the backstop.

    The document-frequency prefilter is a window count over the exploded
    stream (count(*) OVER (PARTITION BY g)), NOT a separate count-agg +
    semi-join: one tokenize scan and one shuffle instead of two of each —
    measured 2.6s -> 2.0s warm / 6.5s -> 3.0s cold at sf0.1, identical
    rows. At 100 TB the rare-shingle vocabulary outgrows any broadcast,
    so the join formulation degrades to a sort-merge join that shuffles
    + sorts the SAME full shingle stream WindowExec does — the window
    shape is never worse, and hot-shingle partitions spill rather than
    OOM in both. The follow-up collect_list groupBy reuses the window's
    hashpartitioning(g): no extra exchange (verified in the plan).

    Partitioning note: compact text expands ~50x at the shingle explode —
    repartition BEFORE the explode so the expansion uses every core (a
    1-file parquet input otherwise runs the whole explode on 1 task)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # parquet-stats count, no shingle work
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # shifted-array zip, not per-index slice: 3 array copies per doc
    # instead of n 3-element slices — measured 2x faster at sf0.1
    _n = F.size(toks)
    _z = F.arrays_zip(
        F.slice(toks, 1, F.greatest(_n - 2, F.lit(0))).alias("a"),
        F.slice(toks, 2, F.greatest(_n - 2, F.lit(0))).alias("b"),
        F.slice(toks, 3, F.greatest(_n - 2, F.lit(0))).alias("c"),
    )
    grams = F.array_distinct(
        F.transform(_z, lambda s: F.concat_ws(" ", s["a"], s["b"], s["c"]))
    )
    # Deliberately NOT persisted: measured at sf0.1, caching the gram
    # arrays saved ~2s here but the lingering executor-memory pressure
    # cost ~9s on the next query even after unpersist — recomputing one
    # extra tokenizer pass is the cheaper, interference-free choice, and
    # at 100 TB a cache of the whole corpus would thrash anyway.
    base = docs.select("doc_id", grams.alias("gs"))
    sh = base.select(
        "doc_id", F.size("gs").alias("sz"), F.explode("gs").alias("g")
    )
    cap = min(int(n_docs * 0.01), 64)
    # filter by document frequency BEFORE collect_list, via a window
    # count in the SAME shuffle that groups the docs: heavy groups are
    # discarded before their doc lists materialize (the collect only
    # sees groups of 2..cap docs — without the prefilter, 102s -> ~20s
    # at the 4.8M-row scale test), and the tokenize+explode runs once.
    # each doc's set size rides along through the explode -> collect ->
    # pair expansion, so no size-lookup joins are needed afterwards.
    dfreq = F.count(F.lit(1)).over(W.partitionBy("g"))
    byg = (
        sh.withColumn("df", dfreq)
        .filter((F.col("df") > 1) & (F.col("df") <= cap))
        .groupBy("g")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sz"))).alias("ids"))
    )
    pairs = byg.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) ->"
                " transform(slice(ids, i + 2, size(ids)),"
                " y -> struct(x.doc_id AS doc_a, x.sz AS sz_a,"
                "             y.doc_id AS doc_b, y.sz AS sz_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.sz_a", "p.doc_b", "p.sz_b")
    # sz_a/sz_b are functionally determined by doc_a/doc_b, so folding
    # them into the grouping key is free (no extra distinct values)
    common = pairs.groupBy("doc_a", "sz_a", "doc_b", "sz_b").agg(
        F.count(F.lit(1)).alias("common")
    )
    return (
        common
        .withColumn("jaccard", F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 4))
        .filter(F.col("jaccard") >= 0.35)
        .select("doc_a", "doc_b", "jaccard")
    )


ORACLE_JACCARD = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           generate_series(1, len(t) - 2),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
), freq AS (
  SELECT g FROM grams GROUP BY g
  HAVING count(*) <= least(CAST(floor((SELECT count(*) FROM documents) * 0.01)
                                AS BIGINT), 64)
), kept AS (
  SELECT grams.doc_id, grams.g FROM grams JOIN freq USING (g)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common / CAST(sa.sz + sb.sz - common AS DOUBLE), 4) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.35
"""
gate(ngram_jaccard_pairs, ORACLE_JACCARD)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (operators/dedup.py) — the banded
    LSH pipeline end-to-end: shingle -> 8 md5-derived minhashes -> 4
    bands -> bucket-join -> distinct pairs. The md5 hash family makes
    every signature reproducible in the DuckDB oracle, so the gate checks
    the whole LSH pipeline, not a rows-only count."""
    from .operators.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return minhash_lsh_candidates(docs, num_hashes=8, bands=4, bucket_cap=50)


def _minhash_oracle() -> str:
    # two md5 digests per shingle, four disjoint 32-bit hex windows each
    # (mirrors operators/dedup._md5_window)
    hcols = ",\n         ".join(
        f"min(CAST(('0x'||substring(md5(g||':{i // 4}'),{8 * (i % 4) + 1},8)) AS BIGINT)) AS h{i}"
        for i in range(8)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, CAST(h{2*b} AS VARCHAR)||'_'||CAST(h{2*b+1} AS VARCHAR) AS key FROM sig"
        for b in range(4)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 2, 1)),
      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
  FROM toks
), sig AS (
  SELECT doc_id,
         {hcols}
  FROM grams GROUP BY doc_id
), bands AS (
{bands}
), buckets AS (
  SELECT band, key, list_sort(list(doc_id)) AS ids
  FROM bands GROUP BY band, key
  HAVING count(*) BETWEEN 2 AND 50
)
SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b FROM (
  SELECT unnest(flatten(list_transform(generate_series(1, len(ids)),
         i -> list_transform(generate_series(i+1, len(ids)),
         j -> struct_pack(doc_a := ids[i], doc_b := ids[j]))))) AS p
  FROM buckets)
"""


ORACLE_MINHASH = _minhash_oracle()
gate(minhash_lsh_pairs, ORACLE_MINHASH)


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (operators/dedup.simhash): md5-derived
    token hashes -> per-bit votes -> sign bits. Fully reproduced by the
    oracle's generated 16-bit CASE expressions."""
    from .operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return simhash(docs, bits=16)


def _simhash_oracle(bits: int = 16) -> str:
    """Replays operators/dedup.simhash bit-exactly: bits 60..63 vote
    from the second salted hash stream (hv1), and bit 63 contributes
    the two's-complement value -(2^63) (1<<63 would overflow BIGINT on
    both engines)."""

    def src(j):
        return f"(hv >> {j})" if j < 60 else f"(hv1 >> {j - 60})"

    votes = ",\n         ".join(
        f"sum(CASE WHEN {src(j)} & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    total = " + ".join(
        f"CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        if j < 63 else
        f"CASE WHEN b{j} > 0 THEN (CAST(-9223372036854775807 AS BIGINT)"
        f" - 1) ELSE 0 END"
        for j in range(bits)
    )
    hv1 = (",\n         CAST(('0x'||substring(md5(tok||':1'),1,15))"
           " AS BIGINT) AS hv1" if bits > 60 else "")
    return f"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
  FROM documents
), h AS (
  SELECT doc_id,
         CAST(('0x'||substring(md5(tok||':0'),1,15)) AS BIGINT) AS hv{hv1}
  FROM t
), v AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {total} AS simhash FROM v
"""


def _fp_sql_from_bits(bit) -> str:
    """A MSB-first 64-bit fingerprint as a SIGNED BIGINT expression
    (two's complement: bit 0 — the MSB — contributes -(2^63), exactly
    operators/multimodal.dhash_hex_to_long's mapping) from a
    ``bit(b) -> SQL 0/1 expression`` generator — shared by the image
    (dHash gradient), audio (energy envelope) and video (temporal)
    near-dup oracles."""
    terms = [f"(CASE WHEN {bit(0)} = 1 THEN -9223372036854775808 "
             "ELSE 0 END)"]
    terms += [f"CAST({bit(b)} AS BIGINT) * {1 << (63 - b)}"
              for b in range(1, 64)]
    return "(" + " + ".join(terms) + ")"


def _incr_oracle(n: int = 3,
                 seq_sql: str = "(doc_id % 3 + 2) % 3") -> str:
    """The n-batch greedy replay: batch i's pass set filters on a
    brute-force NOT EXISTS against every earlier batch's kept
    fingerprints, then components + min-id survivors via a recursive
    CTE per batch (DuckDB allows several recursive CTEs in one WITH
    RECURSIVE list). Parameterized over the batch count and the
    batch-assignment expression (r12: the compacted-stream gate
    replays FOUR micro-batches with a compaction between #3 and #4 —
    compaction must be answer-invariant, so the same replay covers
    it)."""
    # non-recursive CTEs are MATERIALIZED: DuckDB inlines plain CTEs
    # at every reference, and the per-batch chain references each
    # earlier batch's kept set — without the hint the expansion is
    # exponential in n (n=3 took 26 s, n=4 did not finish; with it
    # both run in <1 s). Recursive cc{i} CTEs cannot take the hint
    # and are referenced once each anyway.
    ctes = [f"sh AS MATERIALIZED ({_simhash_oracle(64)})",
            f"b AS MATERIALIZED (SELECT doc_id, simhash,"
            f" CAST({seq_sql} AS INT) AS batch_seq FROM sh)"]
    for i in range(n):
        if i == 0:
            ctes.append(
                f"p{i} AS MATERIALIZED (SELECT doc_id, simhash FROM b"
                f" WHERE batch_seq = {i})")
        else:
            prev = " UNION ALL ".join(
                f"SELECT doc_id FROM kept{j}" for j in range(i))
            ctes.append(
                f"kf{i} AS MATERIALIZED (SELECT s.doc_id, s.simhash FROM ({prev}) kk"
                f" JOIN sh s ON s.doc_id = kk.doc_id)")
            ctes.append(
                f"p{i} AS MATERIALIZED (SELECT x.doc_id, x.simhash FROM b x"
                f" WHERE x.batch_seq = {i} AND NOT EXISTS ("
                f"SELECT 1 FROM kf{i} k"
                f" WHERE bit_count(xor(k.simhash, x.simhash)) <= 3))")
        ctes.append(
            f"e{i} AS (SELECT a.doc_id AS u, b2.doc_id AS v"
            f" FROM p{i} a JOIN p{i} b2 ON a.doc_id <> b2.doc_id"
            f" WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3)")
        ctes.append(
            f"cc{i} AS (SELECT u AS node, u AS component FROM e{i}"
            f" UNION SELECT e.u AS node, cc{i}.component"
            f" FROM cc{i} JOIN e{i} e ON e.v = cc{i}.node)")
        ctes.append(
            f"lab{i} AS MATERIALIZED (SELECT node, min(component) AS c FROM cc{i}"
            f" GROUP BY node)")
        ctes.append(
            f"kept{i} AS MATERIALIZED (SELECT p.doc_id FROM p{i} p"
            f" LEFT JOIN lab{i} l ON l.node = p.doc_id"
            f" WHERE l.c IS NULL OR l.c = p.doc_id)")
    ctes.append(
        "keptall AS MATERIALIZED (" + " UNION ALL ".join(
            f"SELECT doc_id FROM kept{j}" for j in range(n)) + ")")
    return ("WITH RECURSIVE " + ",\n".join(ctes) + "\n"
            "SELECT b.doc_id, b.batch_seq,"
            " (k.doc_id IS NOT NULL) AS kept\n"
            "FROM b LEFT JOIN keptall k ON k.doc_id = b.doc_id")


ORACLE_SIMHASH = _simhash_oracle()
gate(simhash_fingerprints, ORACLE_SIMHASH)


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS through the banded blocking path
    (operators/dedup.simhash_near_pairs, max_hamming=2 -> 3 bands).
    The ORACLE computes the same answer by brute-force ALL-PAIRS over
    the replayed fingerprints — so a hash match proves the pigeonhole
    blocking has 100% recall, not just that the hamming filter agrees
    (the round-3 fix this query gates: 2-half blocking silently missed
    pairs whose differing bits straddled the halves)."""
    from .operators.dedup import simhash_near_pairs

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return (simhash_near_pairs(docs, max_hamming=2)
            .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
            .orderBy("doc_a", "doc_b"))


ORACLE_SIMHASH_PAIRS = f"""
WITH sh AS ({_simhash_oracle()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
ORDER BY doc_a, doc_b
"""
gate(simhash_near_dup_pairs, ORACLE_SIMHASH_PAIRS)


def simhash_near_dup_pairs64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE simhash configuration gated against the same
    brute-force all-pairs oracle (VERDICT r3 weak #3): bits=64 (2^64
    fingerprint space, so band blocks stay sparse at web scale — the
    16-bit gate's 65k space goes quadratic at 100x data) plus a
    bucket_cap skew guard. max_hamming=3 -> 4 bands of 16 bits; the
    pigeonhole recall proof is unchanged. The cap never fires at gate
    scale (blocks are tiny), so the hash must equal brute force."""
    from .operators.dedup import simhash_near_pairs

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return (simhash_near_pairs(docs, bits=64, max_hamming=3,
                               bucket_cap=5000)
            .select("doc_a", "doc_b",
                    F.col("hamming").cast("int").alias("hamming"))
            .orderBy("doc_a", "doc_b"))


ORACLE_SIMHASH_PAIRS64 = f"""
WITH sh AS ({_simhash_oracle(64)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""
gate(simhash_near_dup_pairs64, ORACLE_SIMHASH_PAIRS64)



def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (operators/similarity.
    cosine_near_pairs) on a bounded id range; exact all-pairs is the
    correctness baseline — the sign-LSH blocked variant is the scale path
    (operators/similarity.lsh_topk banding)."""
    from .operators.similarity import cosine_near_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return cosine_near_pairs(emb, threshold=0.35)


ORACLE_EMB_PAIRS = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding, b.embedding) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(b.embedding, b.embedding))), 4) AS cosine
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.embedding, b.embedding) /
            (sqrt(list_dot_product(a.embedding, a.embedding)) *
             sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.35
"""
gate(embedding_near_pairs, ORACLE_EMB_PAIRS)


# =====================================================================
# Similarity search (north-star: embeddings table)
# =====================================================================

def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 10).
    The query side is tiny -> broadcast; the corpus scan is one pass
    (this is the exact-baseline ANN; the LSH-bucketed scale path lives in
    operators/similarity.py). Rank on ROUNDED cosine with vec_id tiebreak
    so both engines order identically."""
    from .operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


ORACLE_COSINE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q_id, e.vec_id AS c_id,
         round(list_dot_product(q_emb, e.embedding) /
               (sqrt(list_dot_product(q_emb, q_emb)) *
                sqrt(list_dot_product(e.embedding, e.embedding))), 4) AS cosine
  FROM q, embeddings e WHERE e.vec_id <> q_id
)
SELECT q_id, c_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""
gate(cosine_topk, ORACLE_COSINE)


def ivf_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF ANN search through the gate (operators/similarity.py
    ivf_topk): corpus coarse-quantized to 8 cells, queries probe their 2
    nearest cells, exact cosine rerank inside the probed cells only.
    DuckDB replays the identical index build + probe + rerank, so the
    oracle checks the whole approximate pipeline bit-for-bit (rounded
    cosines + id tiebreaks keep both engines' rankings identical).
    Scale: work is n_q × (corpus / n_cells) × n_probe, vs n_q × corpus
    for the brute-force twin (cosine_topk)."""
    from .operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8)
    qs = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))
    return ivf_topk(emb, qs, cents, k=5, n_probe=2)


_COS = ("round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b}))), 4)")

ORACLE_IVF_TOPK = f"""
WITH cent AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), assign AS (
  SELECT vec_id, embedding, c_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM (SELECT e.vec_id, e.embedding, cent.c_id,
               {_COS.format(a='e.embedding', b='cent.c_emb')} AS cos
        FROM embeddings e, cent)
), cor AS (
  SELECT vec_id AS cand_id, embedding AS cand_emb, c_id AS centroid_id
  FROM assign WHERE rn = 1
), q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id >= 8 AND vec_id < 13
), probes AS (
  SELECT q_id, q_emb, c_id AS centroid_id FROM (
    SELECT q.q_id, q.q_emb, cent.c_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_COS.format(a='q.q_emb', b='cent.c_emb')} DESC,
                                       cent.c_id ASC) AS rn
    FROM q, cent)
  WHERE rn <= 2
), scored AS (
  SELECT q_id, cand_id AS c_id,
         {_COS.format(a='q_emb', b='cand_emb')} AS cosine
  FROM probes JOIN cor USING (centroid_id)
  WHERE cand_id <> q_id
)
SELECT q_id, c_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""
gate(ivf_topk_search, ORACLE_IVF_TOPK)


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column plumbing check: norms (operators/similarity.py
    norm) and dimension stats per label — array<float> handled natively
    by Spark higher-order functions."""
    from .operators.similarity import norm

    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(norm(F.col("embedding"))), 4).alias("avg_norm"),
            F.min(F.size("embedding")).alias("dim"),
        )
        .orderBy("label")
    )


ORACLE_EMB_STATS = """
SELECT label, count(*) AS n,
       round(avg(sqrt(list_dot_product(embedding, embedding))), 4) AS avg_norm,
       min(len(embedding)) AS dim
FROM embeddings GROUP BY label ORDER BY label
"""
gate(embedding_stats, ORACLE_EMB_STATS)


# =====================================================================
# Multimodal plumbing (binary columns; decode stubbed per brief)
# =====================================================================

def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column handling: documents.text encoded to a binary
    payload column (stand-in for image/audio bytes), typed metadata
    extracted JVM-side. The pandas-UDF decode path (real codec work) is in
    operators/multimodal.py with the decode stubbed."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.substring(F.hex(payload), 1, 8).alias("magic"),
    )


ORACLE_MULTIMODAL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       upper(substring(hex(encode(text)), 1, 8)) AS magic
FROM documents
"""
gate(multimodal_meta, ORACLE_MULTIMODAL)


def frame_sample_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling *plan* (operators/multimodal.
    frame_sample_plan): expand (media_id, n_frames) into every 30th
    frame index — the distributed half of frame sampling; the per-frame
    decode is the mapInPandas path. Pure JVM explode(sequence(...)), so
    at 100 TB the expansion runs inside codegen with no Python and the
    output partitioning follows the input (no shuffle at all)."""
    from .operators.multimodal import frame_sample_plan

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") % 300 + 1).alias("n_frames"),
    )
    return frame_sample_plan(media, every_n=30, duration_col="n_frames")


ORACLE_FRAME_SAMPLE = """
SELECT doc_id AS media_id, n_chars % 300 + 1 AS n_frames,
       unnest(generate_series(0, greatest(n_chars % 300, 0), 30)) AS frame_idx
FROM documents
"""
gate(frame_sample_media, ORACLE_FRAME_SAMPLE)


def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_features end-to-end through the gate: documents.text as a
    binary payload, Arrow-batched mapInPandas decode with the
    DETERMINISTIC_FAKE codec (md5-derived features/dims — the container
    has no image libs, per brief), then a JVM-side feature reduction.
    The oracle replays the fake codec arithmetic in SQL byte-for-byte
    (md5 hex -> bytes -> REAL features / 4096-mod dims), so the whole
    Python decode path is value-checked, not just row-counted. Feature
    elements are float32; both sides cast per-element to double before
    summing so the fp path is identical."""
    from .operators.multimodal import DETERMINISTIC_FAKE, decode_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )
    feats = decode_features(
        media, decoder=DETERMINISTIC_FAKE,
        batch_partitions=spark.sparkContext.defaultParallelism)
    return feats.select(
        "media_id", "mime", "n_bytes",
        F.expr("round(aggregate(feature, cast(0.0 as double),"
               " (a, x) -> a + cast(x as double)), 4)").alias("feat_sum"),
        "width", "height",
    )


ORACLE_DECODE = """
WITH h AS (
  SELECT doc_id AS media_id, 'text/plain' AS mime,
         octet_length(encode(text)) AS n_bytes, md5(text) AS d
  FROM documents
)
SELECT media_id, mime, n_bytes,
       round(
         CAST(CAST(('0x' || substr(d, 1, 2)) AS INT) / 255.0 AS REAL)::DOUBLE
       + CAST(CAST(('0x' || substr(d, 3, 2)) AS INT) / 255.0 AS REAL)::DOUBLE
       + CAST(CAST(('0x' || substr(d, 5, 2)) AS INT) / 255.0 AS REAL)::DOUBLE
       + CAST(CAST(('0x' || substr(d, 7, 2)) AS INT) / 255.0 AS REAL)::DOUBLE,
       4) AS feat_sum,
       CAST(('0x' || substr(d, 9, 4)) AS INT) % 4096 AS width,
       CAST(('0x' || substr(d, 13, 4)) AS INT) % 4096 AS height
FROM h
"""
gate(media_decode_features, ORACLE_DECODE)


def _doc_media_df(spark: SparkSession, sf_dir: str, build_payload) -> DataFrame:
    """Shared doc -> (media_id, payload, mime) generator for the media
    gates. ``build_payload(text) -> (bytes, mime)`` must derive payload
    bytes ONLY from md5(text)/md5(text + ':p2') so the DuckDB oracles'
    hex replay matches; one generator serves every media gate (review
    r6: the per-query copies had to stay byte-identical by hand).
    r12: the doc scan is ``_spread`` ahead of the Arrow stage — the
    single-row-group file otherwise put every payload build AND every
    downstream decode stage in one Python worker on one core (guide
    §2.5 input parallelism / §4; measured 2.0 s -> 1.1 s on
    document_extract_report at sf0.1)."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def make_media(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload, mime = build_payload(text or "")
                out.append((doc_id, payload, mime))
            yield pd.DataFrame(out, columns=["media_id", "payload", "mime"])

    return docs.mapInPandas(make_media, schema=(
        "media_id long, payload binary, mime string"))


def _doc_png_payload(text: str):
    """The md5-derived PNG the png_* oracles replay: grayscale, dims
    2..5, pixels from d1||d2, per-row filter cycling all five types."""
    import hashlib as _hashlib

    from .functions.png import png_encode

    d1 = _hashlib.md5(text.encode("utf-8")).digest()
    d2 = _hashlib.md5((text + ":p2").encode("utf-8")).digest()
    w, h = d1[0] % 4 + 2, d1[1] % 4 + 2
    pixels = (d1 + d2)[: w * h]
    filters = [(d1[2] + y) % 5 for y in range(h)]
    return png_encode(pixels, w, h, filters=filters), "image/png"


def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (VERDICT r5 #1): per document, a
    genuine PNG is encoded (grayscale, md5-derived pixels, per-row
    filter type cycling through all five PNG filters), then decoded by
    ``decode_features`` with the production ``real_decoder`` — the
    pure-stdlib zlib+unfilter codec in functions/png.py. The oracle
    replays the md5-derived pixel bytes in SQL and checks the decoded
    width, height, and EXACT integer pixel sum, so a single wrong
    unfiltered byte anywhere fails the gate. The pixel sum is recovered
    from the decoder's mean-pixel feature (sum = mean * n_px * 255),
    exact here because the true sum is an integer far below float32
    precision loss at this magnitude.

    Scale: two Arrow-batched mapInPandas stages (encode is the test
    harness; decode is the operator under test) over the source
    partitioning — the payloads are generated partition-locally, so
    repartitioning between the stages would be a pure-waste shuffle of
    the blobs (review r6: batch_partitions dropped for exactly that
    reason); no shuffle in the plan."""
    from .operators.multimodal import decode_features, real_decoder

    media = _doc_media_df(spark, sf_dir, _doc_png_payload)
    feats = decode_features(media, decoder=real_decoder)
    return feats.select(
        "media_id", "width", "height",
        F.round(F.element_at("feature", 1) * F.col("width")
                * F.col("height") * 255).cast("long").alias("pixel_sum"),
    )


ORACLE_PNG_DECODE = """
WITH h AS (
  SELECT doc_id AS media_id,
         md5(coalesce(text, '')) AS d1,
         md5(coalesce(text, '') || ':p2') AS d2
  FROM documents
), dims AS (
  SELECT media_id, d1 || d2 AS dd,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 2 AS width,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 4 + 2 AS height
  FROM h
)
SELECT media_id, width, height,
       CAST(list_sum(list_transform(range(CAST(width * height AS BIGINT)),
            i -> CAST(('0x' || substr(dd, CAST(1 + 2 * i AS INT), 2)) AS INT)
       )) AS BIGINT) AS pixel_sum
FROM dims
"""
gate(png_decode_stats, ORACLE_PNG_DECODE)


def _doc_jpeg_payload(text: str):
    """The md5-derived JPEG the jpeg gate replays: grayscale, 1-2
    8x8 blocks per side, each block a CONSTANT md5-derived byte, unit
    quantization tables. That construction is the one place a LOSSY
    codec decodes bit-exactly (the only nonzero coefficient is an
    integer DC, and 8s * 1/8 is exact in IEEE float) — so DuckDB can
    replay the decode as integer arithmetic despite JPEG's lossiness."""
    import hashlib as _hashlib

    from .functions.jpeg import jpeg_encode

    d1 = _hashlib.md5(text.encode("utf-8")).digest()
    bw, bh = d1[0] % 2 + 1, d1[1] % 2 + 1
    w, h = 8 * bw, 8 * bh
    px = bytearray(w * h)
    for i in range(bw * bh):
        c = d1[2 + i]
        by, bx = divmod(i, bw)
        for y in range(8):
            row = (by * 8 + y) * w + bx * 8
            for x in range(8):
                px[row + x] = c
    return jpeg_encode(bytes(px), w, h, channels=1,
                       quant=([1] * 64, [1] * 64)), "image/jpeg"


def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode end-to-end (VERDICT r6 #2): per document, a
    genuine baseline JFIF file is encoded (grayscale, constant
    md5-derived 8x8 blocks, unit quant tables — see _doc_jpeg_payload
    for why that's the exactly-decodable construction), then decoded by
    ``decode_features`` with the production ``real_decoder`` — the
    pure-stdlib Huffman+IDCT codec in functions/jpeg.py, separately
    cross-checked against Java ImageIO in both directions
    (tests/test_jpeg.py). The oracle replays the block bytes in SQL and
    checks decoded width, height, and the EXACT integer pixel sum
    (64 * sum of block values) — a wrong Huffman bit, dequant value, or
    IDCT scale anywhere fails the gate. Two Arrow-batched stages over
    source partitioning, no shuffle (same shape as png_decode_stats)."""
    from .operators.multimodal import decode_features, real_decoder

    media = _doc_media_df(spark, sf_dir, _doc_jpeg_payload)
    feats = decode_features(media, decoder=real_decoder)
    return feats.select(
        "media_id", "width", "height",
        F.round(F.element_at("feature", 1) * F.col("width")
                * F.col("height") * 255).cast("long").alias("pixel_sum"),
    )


ORACLE_JPEG_DECODE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), dims AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 2 + 1 AS bw,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 2 + 1 AS bh
  FROM h
)
SELECT media_id, 8 * bw AS width, 8 * bh AS height,
       CAST(64 * list_sum(list_transform(range(CAST(bw * bh AS BIGINT)),
            i -> CAST(('0x' || substr(d1, CAST(5 + 2 * i AS INT), 2)) AS INT)
       )) AS BIGINT) AS pixel_sum
FROM dims
"""
gate(jpeg_decode_stats, ORACLE_JPEG_DECODE)


def jpeg_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL cross-codec resize end-to-end (VERDICT r6 #5's unified
    resizer): the same exactly-decodable JPEGs as jpeg_decode_stats,
    pushed through ``resize_media`` with the production
    ``image_resizer`` (stdlib JPEG decode -> nearest-neighbor
    downsample to max_side=8 -> lossless PNG re-encode), then
    re-decoded with ``real_decoder`` — which routes the resized
    payload by its PNG signature even though the mime column still
    says image/jpeg (sniff-over-mime, the dirty-corpus reality). Every
    hop is exact for constant 8x8 unit-quant blocks, so the oracle
    replays the whole three-codec chain as integer arithmetic: resized
    dims are 8*b/max(bw,bh), and uniform NN sampling gives each source
    block 16 resampled pixels (64 when no resize happens). Three Arrow
    stages over source partitioning, no shuffle."""
    from .operators.multimodal import (
        decode_features, image_resizer, real_decoder, resize_media)

    media = _doc_media_df(spark, sf_dir, _doc_jpeg_payload)
    resized = resize_media(media, max_side=8, resizer=image_resizer)
    feats = decode_features(resized, decoder=real_decoder)
    return feats.select(
        "media_id", "width", "height",
        F.round(F.element_at("feature", 1) * F.col("width")
                * F.col("height") * 255).cast("long").alias("pixel_sum"),
    )


ORACLE_JPEG_RESIZE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), dims AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 2 + 1 AS bw,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 2 + 1 AS bh
  FROM h
)
SELECT media_id,
       CAST(8 * bw / GREATEST(bw, bh) AS INT) AS width,
       CAST(8 * bh / GREATEST(bw, bh) AS INT) AS height,
       CAST((CASE WHEN bw = 1 AND bh = 1 THEN 64 ELSE 16 END)
            * list_sum(list_transform(range(CAST(bw * bh AS BIGINT)),
              i -> CAST(('0x' || substr(d1, CAST(5 + 2 * i AS INT), 2))
                        AS INT)
            )) AS BIGINT) AS pixel_sum
FROM dims
"""
gate(jpeg_resize_stats, ORACLE_JPEG_RESIZE)


def video_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container metadata end-to-end (r7): per document an
    ISO-BMFF container is authored (functions/mp4.mp4_build — movie
    timescale 1000, an avc1 video track plus an mp4a audio track, all
    parameters md5-derived), then ``probe_video_meta`` walks the box
    tree with the production parser (functions/mp4.py, validated
    against hand-derived spec golden bytes in tests/test_mp4.py) and
    reports movie duration, video dims and frame count. Video DECODE
    needs external codecs; the planning metadata a 100 TB corpus scan
    actually asks for does not. The oracle replays the md5 arithmetic.
    Two Arrow stages over source partitioning, no shuffle."""
    from .operators.multimodal import probe_video_meta

    def build_mp4(text: str):
        import hashlib as _hashlib

        from .functions.mp4 import mp4_build

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        return mp4_build(1000, d1[0] * 250, [
            dict(track_id=1, handler="vide", codec="avc1",
                 width=16 * (d1[1] % 64 + 1),
                 height=16 * (d1[2] % 64 + 1),
                 timescale=600, duration=d1[3] * 600,
                 n_samples=d1[4] * 8),
            dict(track_id=2, handler="soun", codec="mp4a",
                 width=0, height=0, timescale=48000,
                 duration=d1[3] * 48000, n_samples=d1[5] * 16),
        ]), "video/mp4"

    media = _doc_media_df(spark, sf_dir, build_mp4)
    meta = probe_video_meta(media)
    return meta.select("media_id", "movie_duration", "width", "height",
                       "n_frames", "n_tracks")


ORACLE_VIDEO_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
)
SELECT media_id,
       CAST(CAST(('0x' || substr(d1, 1, 2)) AS INT) * 250 AS BIGINT)
         AS movie_duration,
       CAST(16 * (CAST(('0x' || substr(d1, 3, 2)) AS INT) % 64 + 1)
         AS INT) AS width,
       CAST(16 * (CAST(('0x' || substr(d1, 5, 2)) AS INT) % 64 + 1)
         AS INT) AS height,
       CAST(CAST(('0x' || substr(d1, 9, 2)) AS INT) * 8 AS BIGINT)
         AS n_frames,
       2 AS n_tracks
FROM h
"""
gate(video_probe_report, ORACLE_VIDEO_PROBE)


def fmp4_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL fragmented-MP4 metadata end-to-end (VERDICT r7 #1): per
    document a DASH/HLS-style fMP4 is authored (init segment whose
    mvhd says duration 0 and whose stsz holds 0 samples — the
    fragmented-stream convention that made the r7 probe report
    n_frames=0 for exactly the files most scraped web video ships as —
    plus mvex/mehd/trex and K moof/mdat fragments, parameters
    md5-derived, fragments alternating per-sample-duration truns with
    count-only truns riding the trex default), then ``probe_video_meta``
    sums moof/trun samples per track with the production parser
    (functions/mp4.py; spec golden-fragment bytes in tests/test_mp4.py)
    and reports the mehd movie duration, frame total and fragment
    count. The oracle replays the md5 arithmetic. Two Arrow stages over
    source partitioning, no shuffle."""
    from .operators.multimodal import probe_video_meta

    def build_fmp4(text: str):
        import hashlib as _hashlib

        from .functions.mp4 import mp4_build, mp4_build_fragment

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        n_frags = d1[0] % 4 + 1
        per_frag = d1[1] % 32 + 1
        blob = mp4_build(1000, 0, [dict(
            track_id=1, handler="vide", codec="avc1",
            width=16 * (d1[3] % 64 + 1), height=16 * (d1[4] % 64 + 1),
            timescale=600, duration=0, n_samples=0,
            default_sample_duration=d1[5] * 4)],
            fragment_duration=d1[2] * 100)
        for s in range(n_frags):
            if s % 2:  # count-only trun -> trex default duration
                runs = [dict(track_id=1, n_samples=per_frag)]
            else:      # per-sample durations, all d1[6]*2
                runs = [dict(track_id=1,
                             sample_durations=[d1[6] * 2] * per_frag)]
            blob += mp4_build_fragment(s + 1, runs)
        return blob, "video/mp4"

    media = _doc_media_df(spark, sf_dir, build_fmp4)
    meta = probe_video_meta(media)
    return meta.select("media_id", "movie_duration", "width", "height",
                       "n_frames", "n_fragments")


ORACLE_FMP4_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
)
SELECT media_id,
       CAST(CAST(('0x' || substr(d1, 5, 2)) AS INT) * 100 AS BIGINT)
         AS movie_duration,
       CAST(16 * (CAST(('0x' || substr(d1, 7, 2)) AS INT) % 64 + 1)
         AS INT) AS width,
       CAST(16 * (CAST(('0x' || substr(d1, 9, 2)) AS INT) % 64 + 1)
         AS INT) AS height,
       CAST((CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 1)
            * (CAST(('0x' || substr(d1, 3, 2)) AS INT) % 32 + 1)
         AS BIGINT) AS n_frames,
       CAST(CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 1 AS INT)
         AS n_fragments
FROM h
"""
gate(fmp4_probe_report, ORACLE_FMP4_PROBE)


def webm_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebM/Matroska metadata end-to-end (r8): per document an EBML
    container is authored (functions/mkv.mkv_build — DocType, Info
    timescale/duration, a VP9 video track + an Opus audio track,
    empty clusters; md5-derived parameters, odd documents using the
    streamed unknown-size-Segment convention), then
    ``probe_video_meta`` routes it by the EBML magic through the
    production parser (functions/mkv.py, validated against
    hand-derived RFC 8794 golden elements in tests/test_mkv.py) and
    reports DocType, duration, video dims and cluster count through
    the same schema MP4 uses — one probe operator for both halves of
    scraped web video. The oracle replays the md5 arithmetic
    (duration_s = ticks/1000 is exact binary: ticks are multiples of
    250). Two Arrow stages, no shuffle."""
    from .operators.multimodal import probe_video_meta

    def build_webm(text: str):
        import hashlib as _hashlib

        from .functions.mkv import mkv_build

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        return mkv_build(
            "webm", 1_000_000, float(d1[0] * 250),
            [dict(number=1, track_type=1, codec="V_VP9",
                  width=16 * (d1[1] % 64 + 1),
                  height=16 * (d1[2] % 64 + 1)),
             dict(number=2, track_type=2, codec="A_OPUS",
                  sample_rate=48000.0, n_channels=d1[3] % 2 + 1)],
            n_clusters=d1[4] % 8,
            unknown_segment_size=bool(d1[5] % 2)), "video/webm"

    media = _doc_media_df(spark, sf_dir, build_webm)
    meta = probe_video_meta(media)
    return meta.select("media_id", "brand", "movie_duration",
                       "duration_s", "width", "height", "n_fragments",
                       "n_tracks")


ORACLE_WEBM_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
)
SELECT media_id,
       'webm' AS brand,
       CAST(CAST(('0x' || substr(d1, 1, 2)) AS INT) * 250 AS BIGINT)
         AS movie_duration,
       CAST(CAST(('0x' || substr(d1, 1, 2)) AS INT) AS DOUBLE) / 4
         AS duration_s,
       CAST(16 * (CAST(('0x' || substr(d1, 3, 2)) AS INT) % 64 + 1)
         AS INT) AS width,
       CAST(16 * (CAST(('0x' || substr(d1, 5, 2)) AS INT) % 64 + 1)
         AS INT) AS height,
       CAST(CAST(('0x' || substr(d1, 9, 2)) AS INT) % 8 AS INT)
         AS n_fragments,
       2 AS n_tracks
FROM h
"""
gate(webm_probe_report, ORACLE_WEBM_PROBE)


def mp3_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 metadata end-to-end (VERDICT r7 #2): per document an
    ID3v2-wrapped MPEG-1 Layer III CBR stream is authored
    (functions/mp3.mp3_build_frames — real spec-layout frame headers
    and closed-form frame lengths, zeroed payloads; bitrate index,
    sample-rate index, frame count, channel mode and tag size all
    md5-derived), then ``probe_audio_meta`` walks the frame headers
    with the production prober (functions/mp3.py, validated against
    hand-derived spec golden bytes in tests/test_mp3.py) and reports
    exact sample rate, channels, bitrate, frame/sample counts and the
    ID3 wrapper size. Audio DECODE needs external codecs; the planning
    metadata a 100 TB scraped-audio scan asks for does not. The oracle
    replays the md5 arithmetic and the spec's bitrate/rate tables. Two
    Arrow stages over source partitioning, no shuffle."""
    from .operators.multimodal import probe_audio_meta

    def build_mp3(text: str):
        import hashlib as _hashlib

        from .functions.mp3 import id3v2_wrap, mp3_build_frames

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        modes = ["stereo", "joint_stereo", "dual_channel", "mono"]
        body = mp3_build_frames(
            "1", 3,
            [d1[0] % 14 + 1] * (d1[2] % 48 + 1),
            d1[1] % 3, modes[d1[3] % 4])
        return id3v2_wrap(body, d1[4]), "audio/mpeg"

    media = _doc_media_df(spark, sf_dir, build_mp3)
    meta = probe_audio_meta(media)
    return meta.select("media_id", "sample_rate", "n_channels",
                       "bitrate_kbps", "n_frames", "n_samples",
                       "id3v2_size")


ORACLE_MP3_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 14 + 1 AS br_idx,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 AS rate_idx,
         CAST(('0x' || substr(d1, 5, 2)) AS INT) % 48 + 1 AS nf,
         CAST(('0x' || substr(d1, 7, 2)) AS INT) % 4 AS mode,
         CAST(('0x' || substr(d1, 9, 2)) AS INT) AS tag
  FROM h
)
SELECT media_id,
       list_extract([44100, 48000, 32000], rate_idx + 1) AS sample_rate,
       CAST(CASE WHEN mode = 3 THEN 1 ELSE 2 END AS INT) AS n_channels,
       list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                     224, 256, 320], br_idx) AS bitrate_kbps,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(nf * 1152 AS BIGINT) AS n_samples,
       CAST(10 + tag AS BIGINT) AS id3v2_size
FROM p
"""
gate(mp3_probe_report, ORACLE_MP3_PROBE)


def audio_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC/Opus metadata end-to-end (r8): per document either a
    FLAC metadata stream (functions/flac.py — magic + STREAMINFO bit
    fields, authored by flac_build) or an Opus-in-Ogg skeleton
    (functions/ogg.py — BOS page with an RFC 7845 OpusHead + an EOS
    page whose granule encodes the duration), md5-chosen; then
    ``probe_audio_meta`` routes by magic bytes (mime deliberately
    left generic — the dirty-corpus reality) and reports codec, rate,
    channels and exact per-channel sample count: FLAC from
    STREAMINFO's 36-bit total, Opus from last-granule minus pre-skip.
    The oracle replays the md5 arithmetic. Two Arrow stages over
    source partitioning, no shuffle."""
    from .operators.multimodal import probe_audio_meta

    def build_audio(text: str):
        import hashlib as _hashlib

        from .functions.flac import flac_build
        from .functions.ogg import ogg_build_opus

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        rate = 8000 + d1[0] * 256
        ch = d1[1] % 8 + 1
        if d1[7] % 2:
            pre = d1[2] * 4
            return ogg_build_opus(
                ch, pre, rate, [pre + d1[3] * 1000]), "audio/ogg"
        return flac_build(rate, ch, d1[2] % 29 + 4,
                          d1[3] * 100000 + d1[4]), "audio/flac"

    media = _doc_media_df(spark, sf_dir, build_audio)
    meta = probe_audio_meta(media)
    return meta.select("media_id", "codec", "sample_rate",
                       "n_channels", "n_samples")


ORACLE_AUDIO_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id,
         CAST(('0x' || substr(d1, 15, 2)) AS INT) % 2 AS is_opus,
         8000 + CAST(('0x' || substr(d1, 1, 2)) AS INT) * 256 AS rate,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 8 + 1 AS ch,
         CAST(('0x' || substr(d1, 7, 2)) AS INT) AS b3,
         CAST(('0x' || substr(d1, 9, 2)) AS INT) AS b4
  FROM h
)
SELECT media_id,
       CASE WHEN is_opus = 1 THEN 'opus' ELSE 'flac' END AS codec,
       CAST(rate AS INT) AS sample_rate,
       CAST(ch AS INT) AS n_channels,
       CAST(CASE WHEN is_opus = 1 THEN b3 * 1000
                 ELSE b3 * 100000 + b4 END AS BIGINT) AS n_samples
FROM p
"""
gate(audio_probe_report, ORACLE_AUDIO_PROBE)


def image_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only image metadata end-to-end (r8): per document one of
    png / gif / jpeg / webp is authored (md5-chosen format and
    parameters — PNG/GIF/JPEG via the real encoders, WebP via the
    spec-layout VP8X builder with ANMF animation frames since no WebP
    encoder exists in stdlib), then ``probe_image_meta`` reads format,
    dims, frame count and EXIF orientation from HEADERS ALONE
    (functions/imagemeta.py — the no-decode planning front end: the
    JPEG rows carry a spliced APP1 whose orientation the probe must
    surface without touching entropy data). The oracle replays the md5
    arithmetic. Two Arrow stages over source partitioning, no
    shuffle."""
    from .operators.multimodal import probe_image_meta

    def build_image(text: str):
        import hashlib as _hashlib
        import struct as _struct

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        w, h = d1[0] % 16 + 1, d1[1] % 16 + 1
        kind = d1[7] % 4
        if kind == 0:
            from .functions.png import png_encode

            return png_encode([0] * (w * h), w, h,
                              color_type=0), "image/png"
        if kind == 1:
            from .functions.gif import gif_encode

            k = d1[2] % 4 + 1
            return gif_encode([[0] * (w * h)] * k, w, h,
                              bytes(6)), "image/gif"
        if kind == 2:
            from .functions.jpeg import jpeg_encode

            orient = d1[3] % 8 + 1
            # spec-layout APP1: Exif header + little-endian TIFF with
            # a 1-entry IFD0 carrying the orientation SHORT
            tiff = (b"II" + _struct.pack("<H", 42)
                    + _struct.pack("<I", 8) + _struct.pack("<H", 1)
                    + _struct.pack("<HHI", 0x0112, 3, 1)
                    + _struct.pack("<H", orient) + b"\x00\x00"
                    + _struct.pack("<I", 0))
            body = b"Exif\x00\x00" + tiff
            app1 = b"\xff\xe1" + _struct.pack(">H", 2 + len(body)) + body
            blob = jpeg_encode([0] * (w * h), w, h, channels=1)
            return blob[:2] + app1 + blob[2:], "image/jpeg"
        from .functions.imagemeta import webp_build_extended

        return webp_build_extended(w, h, n_frames=d1[2] % 4 + 1), \
            "image/webp"

    media = _doc_media_df(spark, sf_dir, build_image)
    meta = probe_image_meta(media)
    return meta.select("media_id", "format", "width", "height",
                       "n_frames", "orientation")


ORACLE_IMAGE_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id,
         CAST(('0x' || substr(d1, 15, 2)) AS INT) % 4 AS kind,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 16 + 1 AS w,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 16 + 1 AS hh,
         CAST(('0x' || substr(d1, 5, 2)) AS INT) % 4 + 1 AS frames,
         CAST(('0x' || substr(d1, 7, 2)) AS INT) % 8 + 1 AS orient
  FROM h
)
SELECT media_id,
       list_extract(['png', 'gif', 'jpeg', 'webp'], kind + 1) AS format,
       CAST(w AS INT) AS width,
       CAST(hh AS INT) AS height,
       CAST(CASE WHEN kind IN (1, 3) THEN frames ELSE 1 END AS INT)
         AS n_frames,
       CAST(CASE WHEN kind = 2 THEN orient ELSE 1 END AS INT)
         AS orientation
FROM p
"""
gate(image_probe_report, ORACLE_IMAGE_PROBE)


def id3_tags_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 text metadata end-to-end (r8): per document a real
    ID3v2.4 (or v2.3/UTF-16, md5-chosen) tag with md5-derived
    title/artist/year strings is authored (functions/mp3.
    id3v2_build_tags — spec frame layout, syncsafe v4 sizes) ahead of
    real MPEG frames, then ``extract_id3_tags`` parses the frames back
    with the production parser. The first STRING-valued media gate:
    the oracle replays the exact md5-hex-derived strings, so encoding
    handling (UTF-8 and UTF-16-with-BOM) is value-checked, not just
    counted. Map-only Arrow stage, no shuffle."""
    from .operators.multimodal import extract_id3_tags

    def build_tagged(text: str):
        import hashlib as _hashlib

        from .functions.mp3 import id3v2_build_tags, mp3_build_frames

        hx = _hashlib.md5(text.encode("utf-8")).hexdigest()
        d0 = int(hx[:2], 16)
        tag = id3v2_build_tags(
            {"TIT2": "T-" + hx[:8], "TPE1": "A-" + hx[8:16],
             "TDRC": str(1970 + d0 % 56)},
            version=4 if d0 % 2 else 3)
        return tag + mp3_build_frames("1", 3, [9], 0), "audio/mpeg"

    media = _doc_media_df(spark, sf_dir, build_tagged)
    tags = extract_id3_tags(media)
    return tags.select("media_id", "title", "artist", "year",
                       "n_text_frames")


def html_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction end-to-end (r8): per document a page is
    authored (md5-derived title, one h1, 1-4 paragraphs, 0-2 anchors
    and an &amp; entity in paragraph 0, plus a script block that must
    NOT leak into the text), then ``html_extract`` runs the real
    stdlib-parser tier (operators/html.py) and the gate value-checks
    the title string, the md5 of the extracted text (line structure
    included), link/paragraph/heading counts and the 4dp-rounded
    link-character density. The oracle replays the exact extracted
    text with string concatenation. One Arrow map stage, no
    shuffle."""
    from .operators.html import html_extract

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_html(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = int(h[0:2], 16) % 4 + 1
                n_links = int(h[2:4], 16) % 3
                parts = [f"<html><head><title>T-{h[:8]}</title>",
                         "<script>var x = '<p>no</p>';</script></head>",
                         f"<body><h1>H-{h[8:12]}</h1>"]
                for i in range(k):
                    seg = h[2 * i:2 * i + 6]
                    if i == 0:
                        links = "".join(f'<a href="/u">L{j}</a>'
                                        for j in range(n_links))
                        parts.append(f"<p>P0-{seg}&amp;Z{links}</p>")
                    else:
                        parts.append(f"<p>P{i}-{seg}</p>")
                parts.append("</body></html>")
                out.append((doc_id, "".join(parts)))
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    pages = docs.mapInPandas(build_html, schema="doc_id long, text string")
    ex = html_extract(pages)
    return ex.select(
        "doc_id", "title",
        F.md5("text").alias("text_hash"),
        "n_links", "n_paragraphs", "n_headings",
        F.round("link_density", 4).alias("link_density_r4"))


def mojibake_repair_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair end-to-end (r8): per document the input text is
    md5-chosen as clean ASCII, single-mojibake (the UTF-8 bytes of an
    accented string decoded as latin-1 — 'Ã©' for 'é'), or the
    double-encoded variant; ``fix_mojibake`` (operators/text.py, the
    ftfy core heuristic) must return the exact original string and the
    pass count. The oracle replays the expected repaired strings as
    unicode literals. One Arrow map stage, no shuffle."""
    from .operators.text import fix_mojibake

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def corrupt(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                mode = int(h[14:16], 16) % 3
                if mode == 0:
                    s = "clean-" + h[:6]
                else:
                    s = "café-" + h[:6] + "-№"
                    for _ in range(mode):
                        s = s.encode("utf-8").decode("latin-1")
                out.append((doc_id, s))
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    corrupted = docs.mapInPandas(corrupt, schema="doc_id long, text string")
    return fix_mojibake(corrupted).select(
        "doc_id", "fixed_text", "mojibake_passes")


def warc_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion end-to-end (r8): per document a record-at-time
    GZIPPED WARC file is authored (sources/warc.warc_build — one
    warcinfo record plus 1-3 HTTP-response records with md5-derived
    URIs and HTML bodies), then decoded with the production per-file
    parser (warc_decode_file — the function warc_import fans out over
    a crawl directory; spec golden bytes in tests/test_warc.py): gzip
    member walk, WARC framing, HTTP status/header split. One output
    row per response record, value-checking URI, status, content type
    and the exact HTML body string. The oracle replays the md5
    construction with a lateral range join. One Arrow map stage, no
    shuffle."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def gen(batches):
        import hashlib as _hashlib

        import pandas as pd

        from .sources.warc import warc_build, warc_decode_file

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = int(h[0:2], 16) % 3 + 1
                recs = [dict(warc_type="warcinfo", payload=b"ci")]
                for i in range(k):
                    html = (f"<title>W-{h[:6]}-{i}</title>"
                            f"<p>{h[2 * i:2 * i + 8]}</p>")
                    recs.append(dict(
                        warc_type="response",
                        target_uri=f"http://w/{h[:4]}/{i}",
                        payload=html.encode(), http=(200, "text/html")))
                blob = warc_build(recs, gzip_members=True)
                rec_i = 0
                for (idx, wtype, uri, _date, _rid, status, ctype,
                     body, _n) in warc_decode_file(blob):
                    if wtype != "response":
                        continue
                    out.append((doc_id, rec_i, uri, status, ctype,
                                body.decode("utf-8")))
                    rec_i += 1
            yield pd.DataFrame(out, columns=[
                "doc_id", "rec_idx", "target_uri", "http_status",
                "content_type", "body"])

    return docs.mapInPandas(
        gen, schema="doc_id long, rec_idx int, target_uri string, "
                    "http_status int, content_type string, body string")


ORACLE_WARC_PIPELINE = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k
  FROM h
)
SELECT doc_id,
       CAST(t.i AS INT) AS rec_idx,
       'http://w/' || substr(d1, 1, 4) || '/' || t.i AS target_uri,
       200 AS http_status,
       'text/html' AS content_type,
       '<title>W-' || substr(d1, 1, 6) || '-' || t.i || '</title><p>'
         || substr(d1, CAST(2 * t.i + 1 AS INT), 8) || '</p>' AS body
FROM p, range(3) t(i)
WHERE t.i < k
"""
gate(warc_pipeline_report, ORACLE_WARC_PIPELINE)


def charset_decode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware payload decode end-to-end (r9, VERDICT r8 #1):
    per document an md5-chosen (payload bytes, Content-Type) pair is
    authored in one of six real crawl shapes — UTF-8 with a header
    charset, Shift_JIS and GB2312-labeled GBK headers, a koi8-r
    ``<meta charset>`` page, a BOM'd undeclared UTF-8 page, and
    undeclared cp1252 bytes that are invalid UTF-8 (the slice a naive
    cast silently mangles) — then ``decode_payload``
    (operators/charset.py) resolves the codec with the production
    precedence chain. The gate value-checks the decoded STRING (so
    every codec's byte mapping is exercised), the codec name, the
    source tier and the validity flag; the oracle replays the expected
    strings as unicode literals. One Arrow map stage, no shuffle."""
    from .operators.charset import decode_payload

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def gen(batches):
        import codecs as _codecs
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                mode = int(h[0:2], 16) % 6
                ct = "text/html"
                if mode == 0:
                    payload = ("déjà-" + h[:6]).encode("utf-8")
                    ct = "text/html; charset=utf-8"
                elif mode == 1:
                    payload = ("日本語-" + h[:6]).encode("shift_jis")
                    ct = "text/html; charset=Shift_JIS"
                elif mode == 2:
                    payload = ("中文-" + h[:6]).encode("gbk")
                    ct = 'text/html; charset="GB2312"'
                elif mode == 3:
                    payload = ("<meta charset=koi8-r>русский-"
                               + h[:6]).encode("koi8-r")
                elif mode == 4:
                    payload = _codecs.BOM_UTF8 \
                        + ("bom-" + h[:6]).encode("utf-8")
                else:
                    payload = ("café—" + h[:6]).encode("cp1252")
                out.append((doc_id, payload, ct))
            yield pd.DataFrame(
                out, columns=["doc_id", "payload", "content_type"])

    pages = docs.mapInPandas(
        gen, schema="doc_id long, payload binary, content_type string")
    return decode_payload(pages, id_col="doc_id").select(
        "doc_id", "text", "charset_used", "charset_source", "is_valid")


ORACLE_CHARSET_DECODE = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, substr(d1, 1, 6) AS s6,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 6 AS mode
  FROM h
)
SELECT doc_id,
       CASE mode
         WHEN 0 THEN 'déjà-' || s6
         WHEN 1 THEN '日本語-' || s6
         WHEN 2 THEN '中文-' || s6
         WHEN 3 THEN '<meta charset=koi8-r>русский-' || s6
         WHEN 4 THEN 'bom-' || s6
         ELSE 'café—' || s6 END AS text,
       CASE mode WHEN 1 THEN 'shift_jis' WHEN 2 THEN 'gbk'
            WHEN 3 THEN 'koi8-r' WHEN 5 THEN 'cp1252'
            ELSE 'utf-8' END AS charset_used,
       CASE mode WHEN 3 THEN 'meta' WHEN 4 THEN 'bom'
            WHEN 5 THEN 'fallback' ELSE 'header' END AS charset_source,
       (mode <> 5) AS is_valid
FROM p
"""
gate(charset_decode_report, ORACLE_CHARSET_DECODE)


def pdf_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction end-to-end (r9, VERDICT r8 #3): per
    document a real PDF with 1-3 pages of md5-derived two-line text is
    authored in one of SIX md5-chosen file layouts — classic xref
    table (Flate and uncompressed), cross-reference STREAM with
    PNG-Up-predictor entries, every non-stream object packed into a
    /Type /ObjStm object stream, and LZWDecode / ASCII85Decode
    content streams (r9: the full text-filter menu) — then
    ``extract_pdf_text`` (operators/multimodal.py -> functions/pdf.py)
    parses the object graph back and walks the content-stream text
    operators. The gate value-checks the exact page-joined text and
    the page count across all four layouts; the oracle replays the md5
    string arithmetic with a lateral range join. One Arrow map stage,
    no shuffle."""
    from .operators.multimodal import extract_pdf_text

    def build_pdf(text: str):
        import hashlib as _hashlib

        from .functions.pdf import pdf_build

        h = _hashlib.md5(text.encode("utf-8")).hexdigest()
        k = int(h[0:2], 16) % 3 + 1
        variant = int(h[2:4], 16) % 6
        pages = [f"A{i}-{h[2 * i:2 * i + 6]}\nB{i}-{h[2 * i + 2:2 * i + 8]}"
                 for i in range(k)]
        kw = [dict(), dict(compress=False),
              dict(xref_stream=True, predictor=True),
              dict(use_objstm=True), dict(content_filter="lzw"),
              dict(content_filter="a85")][variant]
        return pdf_build(pages, **kw), "application/pdf"

    media = _doc_media_df(spark, sf_dir, build_pdf)
    return extract_pdf_text(media).select(
        "media_id", "text", "n_pages")


ORACLE_PDF_EXTRACT = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k
  FROM h
), pages AS (
  SELECT media_id, t.i,
         'A' || t.i || '-' || substr(d1, CAST(2 * t.i + 1 AS INT), 6)
           || chr(10) ||
         'B' || t.i || '-' || substr(d1, CAST(2 * t.i + 3 AS INT), 6)
           AS pg
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT media_id,
       string_agg(pg, chr(10) ORDER BY i) AS text,
       CAST(count(*) AS INT) AS n_pages
FROM pages
GROUP BY media_id
"""
gate(pdf_extract_report, ORACLE_PDF_EXTRACT)


def document_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified office/ebook extraction end-to-end (r9): per document
    an md5-chosen DOCX, PPTX, or EPUB is authored with 1-3 md5-derived
    text units (word paragraphs / slides / spine chapters — real ZIP +
    XML containers via functions/docx.py, functions/epub.py), then
    ``extract_document_text`` (operators/multimodal.py) routes by
    CONTAINER BYTES (the MIME column deliberately lies for every row)
    and extracts with the production parsers — DOCX through
    WordprocessingML runs, PPTX through numeric-ordered slide XML,
    EPUB through container.xml -> OPF spine -> the crawl front's real
    HTML tier. Value-checks kind, the EPUB dc:title, the exact joined
    text and the unit count; the oracle replays the md5 arithmetic.
    One Arrow map stage, no shuffle."""
    from .operators.multimodal import extract_document_text

    def build_doc(text: str):
        import hashlib as _hashlib

        from .functions.docx import docx_build, pptx_build
        from .functions.epub import epub_build

        h = _hashlib.md5(text.encode("utf-8")).hexdigest()
        k = int(h[0:2], 16) % 3 + 1
        kind = int(h[2:4], 16) % 3
        units = [f"U{i}-{h[2 * i:2 * i + 6]}" for i in range(k)]
        if kind == 0:
            return docx_build(units), "application/pdf"  # lying mime
        if kind == 1:
            return pptx_build(units), "text/plain"
        return epub_build("T-" + h[:8], units), "application/zip"

    media = _doc_media_df(spark, sf_dir, build_doc)
    return extract_document_text(media).select(
        "media_id", "kind", "title", "text", "n_units")


ORACLE_DOCUMENT_EXTRACT = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 AS kind
  FROM h
), units AS (
  SELECT media_id, kind, d1, t.i,
         'U' || t.i || '-' || substr(d1, CAST(2 * t.i + 1 AS INT), 6)
           AS u
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT media_id,
       list_extract(['docx', 'pptx', 'epub'], kind + 1) AS kind,
       CASE WHEN kind = 2 THEN 'T-' || substr(d1, 1, 8) END AS title,
       string_agg(u, chr(10) ORDER BY i) AS text,
       CAST(count(*) AS INT) AS n_units
FROM units
GROUP BY media_id, kind, d1
"""
gate(document_extract_report, ORACLE_DOCUMENT_EXTRACT)


def unicode_normalize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization end-to-end (r9): per document the input
    is md5-chosen as NFD-decomposed accents (combining acute — the
    dedup-splitting case), zero-width-space + NBSP contamination,
    C0-control contamination, or clean ASCII; ``normalize_unicode``
    (operators/text.py) must emit the cleaned NFC string and the
    changed flag. The decomposed mode's expectation is computed by
    DUCKDB'S OWN utf8proc ``nfc_normalize`` over the same construction
    — two independent Unicode implementations (CPython unicodedata vs
    utf8proc) value-agreeing per row. One Arrow map stage, no
    shuffle."""
    from .operators.text import normalize_unicode

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def corrupt(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                mode = int(h[0:2], 16) % 4
                s6 = h[:6]
                if mode == 0:
                    s = "cafe\u0301-" + s6  # DECOMPOSED accent
                elif mode == 1:
                    s = "a\u200bb\u00a0c-" + s6
                elif mode == 2:
                    s = "x\x07y\tz-" + s6
                else:
                    s = "plain-" + s6
                out.append((doc_id, s))
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    raw = docs.mapInPandas(corrupt, schema="doc_id long, text string")
    return normalize_unicode(raw).select("doc_id", "text_norm", "changed")


ORACLE_UNICODE_NORMALIZE = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, substr(d1, 1, 6) AS s6,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 AS mode
  FROM h
)
SELECT doc_id,
       CASE mode
         WHEN 0 THEN nfc_normalize('cafe' || chr(769) || '-' || s6)
         WHEN 1 THEN 'ab c-' || s6
         WHEN 2 THEN 'xy' || chr(9) || 'z-' || s6
         ELSE 'plain-' || s6 END AS text_norm,
       (mode <> 3) AS changed
FROM p
"""
gate(unicode_normalize_report, ORACLE_UNICODE_NORMALIZE)


def main_content_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal end-to-end (r9): per document a full page
    is authored — a nav bar of links (semantic-container boilerplate),
    a short copyright stub (under the length floor), 1-3 long
    md5-derived article paragraphs, and a link-farm div (density 1.0)
    — then ``extract_main_content`` (operators/html.py) runs the
    block-level justext-style classifier. The gate value-checks the
    exact surviving text and the block/kept counts; the oracle replays
    the article strings. One Arrow map stage, no shuffle."""
    from .operators.html import extract_main_content

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_page(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = int(h[0:2], 16) % 3 + 1
                parts = ["<html><head><title>T</title></head><body>",
                         '<nav><a href="/">Home</a> '
                         '<a href="/a">About</a></nav>',
                         "<div>(c) 2026</div>"]
                for i in range(k):
                    parts.append(
                        f"<p>Article paragraph {i} body "
                        f"{h[2 * i:2 * i + 8]} long enough to keep.</p>")
                parts.append('<div><a href="/r">A long related-links '
                             "anchor text block</a></div></body></html>")
                out.append((doc_id, "".join(parts)))
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    pages = docs.mapInPandas(build_page, schema="doc_id long, text string")
    return extract_main_content(pages).select(
        "doc_id", "main_text", "n_blocks", "n_kept")


ORACLE_MAIN_CONTENT = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k
  FROM h
), paras AS (
  SELECT doc_id, k, t.i,
         'Article paragraph ' || t.i || ' body '
           || substr(d1, CAST(2 * t.i + 1 AS INT), 8)
           || ' long enough to keep.' AS para
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT doc_id,
       string_agg(para, chr(10) ORDER BY i) AS main_text,
       CAST(k + 3 AS INT) AS n_blocks,
       CAST(k AS INT) AS n_kept
FROM paras
GROUP BY doc_id, k
"""
gate(main_content_report, ORACLE_MAIN_CONTENT)


def robots_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt URL filtering end-to-end (r9): per document an
    md5-chosen URL exercises one branch of a realistic rule set —
    plain allow, prefix disallow, longest-match Allow override,
    ``*``-wildcard + ``$``-anchored pattern (hit and near-miss), and a
    host with NO robots row (the protocol's allow default) — then
    ``robots_check`` (operators/robots.py) broadcasts the per-host
    robots table and evaluates each URL with the RFC 9309
    longest-match rules. The oracle replays the expected decisions.
    One broadcast join + one Arrow map stage."""
    from .operators.robots import robots_check

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    _ROBOTS = ("User-agent: trainbot\nDisallow: /\n\n"
               "User-agent: *\nDisallow: /private/\n"
               "Allow: /private/open\nDisallow: /*.pdf$\n")
    _PATHS = ["/public/p", "/private/p", "/private/open/p",
              "/doc.pdf", "/doc.pdfx", "/anywhere"]

    def gen(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            urls, robots = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                mode = int(h[0:2], 16) % 6
                s6 = h[:6]
                host = ("nosite-" if mode == 5 else "site-") + s6
                urls.append((doc_id, host,
                             f"http://{host}{_PATHS[mode]}"))
                robots.append(("site-" + s6, _ROBOTS))
            yield pd.DataFrame(
                {"doc_id": [u[0] for u in urls],
                 "host": [u[1] for u in urls],
                 "url": [u[2] for u in urls],
                 "rb_host": [r[0] for r in robots]})

    both = docs.mapInPandas(
        gen, schema="doc_id long, host string, url string, rb_host string")
    urls = both.select("doc_id", "host", "url")
    robots = both.select(
        F.col("rb_host").alias("host")).distinct() \
        .withColumn("robots_txt", F.lit(_ROBOTS))
    return robots_check(urls, robots).select("doc_id", "url", "allowed")


ORACLE_ROBOTS_FILTER = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, substr(d1, 1, 6) AS s6,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 6 AS mode
  FROM h
)
SELECT doc_id,
       'http://' || CASE WHEN mode = 5 THEN 'nosite-' ELSE 'site-' END
         || s6
         || list_extract(['/public/p', '/private/p', '/private/open/p',
                          '/doc.pdf', '/doc.pdfx', '/anywhere'],
                         mode + 1) AS url,
       mode NOT IN (1, 3) AS allowed
FROM p
"""
gate(robots_filter_report, ORACLE_ROBOTS_FILTER)


def sitemap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing end-to-end (r9): per document an md5-chosen
    sitemap is authored — a plain urlset, a GZIPPED urlset (the common
    robots-referenced form), or a sitemapindex (the fan-out case) —
    with 1-3 md5-derived entries carrying loc/lastmod/changefreq/
    priority, then ``sitemap_entries`` (operators/robots.py) explodes
    it with the production namespace-aware parser. Value-checks every
    field including the decimal->double priority parse on both
    engines; the oracle replays the construction with a lateral range
    join. One Arrow map stage, no shuffle."""
    from .operators.robots import sitemap_build, sitemap_entries

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def gen(batches):
        import hashlib as _hashlib

        import pandas as pd

        freqs = ["daily", "weekly", "monthly"]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = int(h[0:2], 16) % 3 + 1
                mode = int(h[2:4], 16) % 3
                s6 = h[:6]
                entries = []
                for i in range(k):
                    v = int(h[2 * i:2 * i + 2], 16)
                    if mode == 2:
                        entries.append(
                            dict(loc=f"https://s-{s6}/sm{i}.xml.gz"))
                    else:
                        entries.append(dict(
                            loc=f"https://s-{s6}/p{i}",
                            lastmod=f"2026-01-0{i + 1}",
                            changefreq=freqs[v % 3],
                            priority=f"0.{v % 10}"))
                blob = sitemap_build(
                    entries,
                    kind="sitemapindex" if mode == 2 else "urlset",
                    gzipped=(mode == 1))
                out.append((doc_id, blob))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    maps = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return sitemap_entries(maps).select(
        "doc_id", "seq", "kind", "loc", "lastmod", "changefreq",
        "priority")


ORACLE_SITEMAP = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1, substr(d1, 1, 6) AS s6,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 AS mode
  FROM h
), e AS (
  SELECT doc_id, s6, mode, t.i,
         CAST(('0x' || substr(d1, CAST(2 * t.i + 1 AS INT), 2)) AS INT)
           AS v
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT doc_id,
       CAST(i AS INT) AS seq,
       CASE WHEN mode = 2 THEN 'sitemapindex' ELSE 'urlset' END AS kind,
       CASE WHEN mode = 2
            THEN 'https://s-' || s6 || '/sm' || i || '.xml.gz'
            ELSE 'https://s-' || s6 || '/p' || i END AS loc,
       CASE WHEN mode <> 2 THEN '2026-01-0' || (i + 1) END AS lastmod,
       CASE WHEN mode <> 2
            THEN list_extract(['daily', 'weekly', 'monthly'],
                              v % 3 + 1) END AS changefreq,
       CASE WHEN mode <> 2
            THEN CAST('0.' || (v % 10) AS DOUBLE) END AS priority
FROM e
"""
gate(sitemap_report, ORACLE_SITEMAP)


def xlsx_cells_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX tabular ingestion end-to-end (r9): per document a real
    two-sheet workbook is authored (functions/docx.xlsx_build —
    sharedStrings for every string cell, workbook rels, typed
    boolean/number cells) with 1-3 md5-derived data rows, then
    ``extract_table_cells`` (operators/multimodal.py) explodes it with
    the production SpreadsheetML parser — sharedStrings indices
    resolved, cell references split into row/column, booleans
    normalized. Value-checks every cell of both sheets; the oracle
    replays the construction with a lateral range join + cell-kind
    union. One Arrow map stage, no shuffle."""
    from .operators.multimodal import extract_table_cells

    def build_wb(text: str):
        import hashlib as _hashlib

        from .functions.docx import xlsx_build

        h = _hashlib.md5(text.encode("utf-8")).hexdigest()
        k = int(h[0:2], 16) % 3 + 1
        rows = []
        for i in range(k):
            rows.append(["it-" + h[2 * i:2 * i + 6],
                         int(h[2 * i:2 * i + 3], 16) % 1000,
                         int(h[2 * i + 1:2 * i + 3], 16) % 2 == 0])
        return xlsx_build({"D": rows, "M": [["meta-" + h[:6]]]}), \
            "application/vnd.ms-excel"

    media = _doc_media_df(spark, sf_dir, build_wb)
    return extract_table_cells(media).select(
        "media_id", "sheet", F.col("row").alias("row_num"), "col",
        "value", "kind")


ORACLE_XLSX_CELLS = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k
  FROM h
), r AS (
  SELECT media_id, d1, t.i
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT media_id, 'D' AS sheet, CAST(i + 1 AS INT) AS row_num,
       'A' AS col, 'it-' || substr(d1, CAST(2 * i + 1 AS INT), 6)
         AS value, 's' AS kind
FROM r
UNION ALL
SELECT media_id, 'D', CAST(i + 1 AS INT), 'B',
       CAST(CAST(('0x' || substr(d1, CAST(2 * i + 1 AS INT), 3)) AS INT)
            % 1000 AS VARCHAR), 'n'
FROM r
UNION ALL
SELECT media_id, 'D', CAST(i + 1 AS INT), 'C',
       CASE WHEN CAST(('0x' || substr(d1, CAST(2 * i + 2 AS INT), 2))
                      AS INT) % 2 = 0
            THEN 'true' ELSE 'false' END, 'b'
FROM r
UNION ALL
SELECT media_id, 'M', 1, 'A', 'meta-' || substr(d1, 1, 6), 's'
FROM p
"""
gate(xlsx_cells_report, ORACLE_XLSX_CELLS)


def sentence_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation end-to-end (r9): per document a text of
    2-3 md5-derived sentences is authored — the first contains an
    abbreviation ('Dr.') that must NOT split, the set mixes ./!/?
    terminators — then ``split_sentences`` (operators/text.py) runs
    the all-JVM boundary rule (split + posexplode inside whole-stage
    codegen; DuckDB's RE2 cannot run the lookbehind, so the oracle
    replays the expected sentences from the same md5 arithmetic
    instead of the regex). No Python, no shuffle."""
    from .operators.text import split_sentences

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def gen(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = int(h[0:2], 16) % 2 + 2
                sents = [f"Alpha {h[0:6]} met Dr. Who.",
                         f"Beta {h[2:8]}!"]
                if k == 3:
                    sents.append(f"Gamma {h[4:10]}?")
                out.append((doc_id, " ".join(sents)))
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    raw = docs.mapInPandas(gen, schema="doc_id long, text string")
    return split_sentences(raw).select("doc_id", "sent_idx", "sentence")


ORACLE_SENTENCE_SPLIT = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 2 + 2 AS k
  FROM h
)
SELECT doc_id,
       CAST(t.i AS INT) AS sent_idx,
       CASE t.i
         WHEN 0 THEN 'Alpha ' || substr(d1, 1, 6) || ' met Dr. Who.'
         WHEN 1 THEN 'Beta ' || substr(d1, 3, 6) || '!'
         ELSE 'Gamma ' || substr(d1, 5, 6) || '?' END AS sentence
FROM p, range(3) t(i)
WHERE t.i < k
"""
gate(sentence_split_report, ORACLE_SENTENCE_SPLIT)


ORACLE_MOJIBAKE = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1,
         CAST(('0x' || substr(d1, 15, 2)) AS INT) % 3 AS mode
  FROM h
)
SELECT doc_id,
       CASE WHEN mode = 0 THEN 'clean-' || substr(d1, 1, 6)
            ELSE 'café-' || substr(d1, 1, 6) || '-№' END AS fixed_text,
       CAST(mode AS INT) AS mojibake_passes
FROM p
"""
gate(mojibake_repair_report, ORACLE_MOJIBAKE)


ORACLE_HTML_EXTRACT = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 1 AS k,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 AS n_links
  FROM h
), t AS (
  SELECT doc_id, d1, k, n_links,
         concat_ws(chr(10),
           'H-' || substr(d1, 9, 4),
           'P0-' || substr(d1, 1, 6) || '&Z'
             || CASE n_links WHEN 0 THEN '' WHEN 1 THEN 'L0'
                ELSE 'L0L1' END,
           CASE WHEN k > 1 THEN 'P1-' || substr(d1, 3, 6) END,
           CASE WHEN k > 2 THEN 'P2-' || substr(d1, 5, 6) END,
           CASE WHEN k > 3 THEN 'P3-' || substr(d1, 7, 6) END
         ) AS text
  FROM p
)
SELECT doc_id,
       'T-' || substr(d1, 1, 8) AS title,
       md5(text) AS text_hash,
       CAST(n_links AS INT) AS n_links,
       CAST(k AS INT) AS n_paragraphs,
       1 AS n_headings,
       round(CAST(2 * n_links AS DOUBLE)
             / length(replace(text, chr(10), '')), 4)
         AS link_density_r4
FROM t
"""
gate(html_extract_report, ORACLE_HTML_EXTRACT)


ORACLE_ID3_TAGS = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
)
SELECT media_id,
       'T-' || substr(d1, 1, 8) AS title,
       'A-' || substr(d1, 9, 8) AS artist,
       CAST(1970 + CAST(('0x' || substr(d1, 1, 2)) AS INT) % 56
            AS VARCHAR) AS year,
       3 AS n_text_frames
FROM h
"""
gate(id3_tags_report, ORACLE_ID3_TAGS)


def png_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end-to-end: the same per-document PNGs as
    png_decode_stats, pushed through resize_media with the genuine
    ``png_resizer`` (stdlib decode -> nearest-neighbor downsample ->
    re-encode, max_side=3), then re-decoded with ``real_decoder``. The
    oracle replays the nearest-neighbor index arithmetic in SQL
    (sy = y*h//nh, sx = x*w//nw over the md5-derived source bytes), so
    the resized width/height AND the exact resampled pixel sum are both
    value-checked. Three Arrow stages (encode harness, resize under
    test, decode under test), all partition-local — no shuffle."""
    from .operators.multimodal import (
        decode_features, png_resizer, real_decoder, resize_media)

    media = _doc_media_df(spark, sf_dir, _doc_png_payload)
    resized = resize_media(media, max_side=3, resizer=png_resizer)
    feats = decode_features(resized, decoder=real_decoder)
    return feats.select(
        "media_id", "width", "height",
        F.round(F.element_at("feature", 1) * F.col("width")
                * F.col("height") * 255).cast("long").alias("pixel_sum"),
    )


def wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: per document, a genuine WAV (mono
    8-bit PCM, md5-derived samples and sample rate) is encoded, then
    decoded by ``decode_audio_features`` with the production
    ``real_audio_decoder`` — the pure-stdlib RIFF/PCM codec in
    functions/wav.py. The oracle replays the md5-derived bytes in SQL
    and checks the decoded frame count, sample rate, channel count and
    EXACT integer sample sum. Two Arrow stages, no shuffle."""
    from .operators.multimodal import decode_audio_features, real_audio_decoder

    def build_wav(text: str):
        import hashlib as _hashlib

        from .functions.wav import wav_encode

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        d2 = _hashlib.md5((text + ":p2").encode("utf-8")).digest()
        n = d1[0] % 24 + 8
        rate = 8000 + d1[1] * 16
        return wav_encode((d1 + d2)[:n], rate), "audio/wav"

    media = _doc_media_df(spark, sf_dir, build_wav)
    feats = decode_audio_features(media, decoder=real_audio_decoder)
    return feats.select(
        "media_id", "n_frames", "sample_rate", "n_channels",
        F.round(F.element_at("feature", 1) * F.col("n_frames") * 255)
        .cast("long").alias("sample_sum"),
    )


ORACLE_WAV_DECODE = """
WITH h AS (
  SELECT doc_id AS media_id,
         md5(coalesce(text, '')) AS d1,
         md5(coalesce(text, '') || ':p2') AS d2
  FROM documents
), dims AS (
  SELECT media_id, d1 || d2 AS dd,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 24 + 8 AS n_frames,
         8000 + CAST(('0x' || substr(d1, 3, 2)) AS INT) * 16 AS sample_rate
  FROM h
)
SELECT media_id, n_frames, sample_rate, 1 AS n_channels,
       CAST(list_sum(list_transform(range(CAST(n_frames AS BIGINT)),
            i -> CAST(('0x' || substr(dd, CAST(1 + 2 * i AS INT), 2)) AS INT)
       )) AS BIGINT) AS sample_sum
FROM dims
"""
gate(wav_decode_stats, ORACLE_WAV_DECODE)


def gif_frames_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-media frame extraction end-to-end, chaining all
    three stdlib codecs: per document a 2-frame animated GIF is encoded
    (16-color md5-derived palette, md5-derived indices, real LZW),
    ``extract_frames`` decodes it and re-encodes every frame as an RGB
    PNG, and ``decode_features`` with the production ``real_decoder``
    decodes those PNGs back to per-channel means. The oracle replays
    the palette-lookup arithmetic in SQL and checks each frame's exact
    integer RGB sum — a wrong byte anywhere in the GIF LZW decode, the
    frame re-encode, or the PNG decode fails the gate. Three Arrow
    stages, no shuffle."""
    import hashlib as _hashlib

    from .operators.multimodal import (
        decode_features, extract_frames, real_decoder)

    def build_gif(text: str):
        from .functions.gif import gif_encode

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        d2 = _hashlib.md5((text + ":p2").encode("utf-8")).digest()
        dd = d1 + d2
        pal = b"".join(
            _hashlib.md5((text + f":p{k}").encode("utf-8")).digest()
            for k in (3, 4, 5))
        w, h = d1[0] % 3 + 2, d1[1] % 3 + 2
        frames = [[dd[(f * w * h + i) % 32] % 16 for i in range(w * h)]
                  for f in (0, 1)]
        return gif_encode(frames, w, h, pal, delays_cs=[3, 7]), "image/gif"

    media = _doc_media_df(spark, sf_dir, build_gif)
    frames = extract_frames(media, every_n=1)
    # composite id keeps frame identity through decode_features'
    # id/payload/mime projection (n_frames == 2 < 10)
    fid = frames.select(
        (F.col("media_id") * 10 + F.col("frame_idx")).alias("media_id"),
        "payload", "mime")
    feats = decode_features(fid, decoder=real_decoder)
    rgb_sum = F.round(
        (F.element_at("feature", 1) + F.element_at("feature", 2)
         + F.element_at("feature", 3))
        * F.col("width") * F.col("height") * 255).cast("long")
    return feats.select(
        (F.col("media_id") / 10).cast("long").alias("media_id"),
        (F.col("media_id") % 10).cast("int").alias("frame_idx"),
        "width", "height", rgb_sum.alias("rgb_sum"))


ORACLE_GIF_FRAMES = """
WITH h AS (
  SELECT doc_id AS media_id,
         md5(coalesce(text, '')) AS d1,
         md5(coalesce(text, '') || ':p2') AS d2,
         md5(coalesce(text, '') || ':p3')
           || md5(coalesce(text, '') || ':p4')
           || md5(coalesce(text, '') || ':p5') AS pal
  FROM documents
), dims AS (
  SELECT media_id, d1 || d2 AS dd, pal,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 2 AS width,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 + 2 AS height
  FROM h
)
SELECT media_id, fr.f AS frame_idx, width, height,
       CAST(list_sum(list_transform(range(CAST(width * height AS BIGINT)),
         i ->
           CAST(('0x' || substr(pal, CAST(1 + 6 * (CAST(('0x' || substr(dd,
             CAST(1 + 2 * ((fr.f * width * height + i) % 32) AS INT), 2))
             AS INT) % 16) AS INT), 2)) AS INT)
         + CAST(('0x' || substr(pal, CAST(3 + 6 * (CAST(('0x' || substr(dd,
             CAST(1 + 2 * ((fr.f * width * height + i) % 32) AS INT), 2))
             AS INT) % 16) AS INT), 2)) AS INT)
         + CAST(('0x' || substr(pal, CAST(5 + 6 * (CAST(('0x' || substr(dd,
             CAST(1 + 2 * ((fr.f * width * height + i) % 32) AS INT), 2))
             AS INT) % 16) AS INT), 2)) AS INT)
       )) AS BIGINT) AS rgb_sum
FROM dims CROSS JOIN (VALUES (0), (1)) fr(f)
"""
gate(gif_frames_report, ORACLE_GIF_FRAMES)


ORACLE_PNG_RESIZE = """
WITH h AS (
  SELECT doc_id AS media_id,
         md5(coalesce(text, '')) AS d1,
         md5(coalesce(text, '') || ':p2') AS d2
  FROM documents
), dims AS (
  SELECT media_id, d1 || d2 AS dd,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 2 AS w,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 4 + 2 AS h
  FROM h
), rs AS (
  -- nearest-neighbor target dims: scale = min(1, 3/max(w,h)),
  -- n = max(int(dim*scale), 1) with trunc-toward-zero like Python int()
  SELECT media_id, dd, w, h,
         greatest(CAST(trunc(w * least(1.0, 3.0 / greatest(w, h))) AS INT), 1) AS width,
         greatest(CAST(trunc(h * least(1.0, 3.0 / greatest(w, h))) AS INT), 1) AS height
  FROM dims
)
SELECT media_id, width, height,
       CAST(list_sum(list_transform(range(CAST(width * height AS BIGINT)),
            i -> CAST(('0x' || substr(dd,
                 CAST(1 + 2 * ((((i // width) * h // height) * w)
                              + ((i % width) * w // width)) AS INT),
                 2)) AS INT)
       )) AS BIGINT) AS pixel_sum
FROM rs
"""
gate(png_resize_stats, ORACLE_PNG_RESIZE)


# =====================================================================
# Windows / pivot / cube / set-ops / subquery shapes (native new surface
# beyond the reference — SURVEY §2.5/§2.6 'absent' rows)
# =====================================================================

def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per status x priority. Fixed pivot values so
    the output schema is static (scale rule: never let pivot scan for
    distinct values at 100 TB). Oracle uses conditional aggregation —
    same result, portable SQL."""
    orders = _t(spark, sf_dir, "orders")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", pris)
        .agg(F.count(F.lit(1)))
        .orderBy("o_orderstatus")
    )
    for p in pris:
        out = out.withColumnRenamed(p, "p" + p[0])
    return out.na.fill(0, ["p1", "p2", "p3", "p4", "p5"])


ORACLE_PIVOT = """
SELECT o_orderstatus,
       count(*) FILTER (o_orderpriority = '1-URGENT')        AS p1,
       count(*) FILTER (o_orderpriority = '2-HIGH')          AS p2,
       count(*) FILTER (o_orderpriority = '3-MEDIUM')        AS p3,
       count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
       count(*) FILTER (o_orderpriority = '5-LOW')           AS p5
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(pivot_status_priority, ORACLE_PIVOT)


def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over returnflag x linestatus."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


ORACLE_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""
gate(cube_lineitem, ORACLE_CUBE)


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API (Catalyst compiles it to the same
    expand+agg plan the DataFrame rollup/cube use)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


ORACLE_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""
gate(grouping_sets_orders, ORACLE_GROUPING_SETS)


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


def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (SURVEY §2.5 'absent in reference' row):
    customers active in 1995 who placed no order in 1996 (churn set)."""
    orders = _t(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.distinct().exceptAll(y96.distinct()) \
        .withColumnRenamed("o_custkey", "custkey")


ORACLE_SETOPS = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""
gate(segment_set_ops, ORACLE_SETOPS)


def union_chain_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-union semantics as a query (SURVEY §2.5 union-of-chain):
    three disjoint slices unioned back must aggregate exactly like the
    whole table."""
    orders = _t(spark, sf_dir, "orders")
    parts = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    chain = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return chain.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    ).orderBy("o_orderstatus")


ORACLE_UNION_CHAIN = """
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(union_chain_parts, ORACLE_UNION_CHAIN)


def big_spender_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (customers whose max order exceeds a
    threshold) — decorrelated to join+agg, the plan Catalyst produces
    for the subquery form as well."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    mx = orders.groupBy("o_custkey").agg(F.max("o_totalprice").alias("mx"))
    return (
        cust.join(mx, cust.c_custkey == mx.o_custkey)
        .filter(F.col("mx") > 400000)
        .select("c_custkey", "c_name", F.round("mx", 2).alias("max_order"))
    )


ORACLE_BIG_SPENDER = """
SELECT c_custkey, c_name, round(mx, 2) AS max_order
FROM customer
JOIN (SELECT o_custkey, max(o_totalprice) AS mx FROM orders GROUP BY o_custkey) m
  ON c_custkey = m.o_custkey
WHERE mx > 400000
"""
gate(big_spender_customers, ORACLE_BIG_SPENDER)


# =====================================================================
# More text/type operators as queries
# =====================================================================

def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token counting (operators/text.
    bpe_ish_token_count) — identical RE2 regex on both engines."""
    from .operators.text import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe"))


ORACLE_BPE = """
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe
FROM documents
"""
gate(bpe_token_counts, ORACLE_BPE)


def quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality_score operator end-to-end: drop-reason histogram over the
    corpus (the curation pipeline's monitoring query)."""
    from .operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return (
        quality_score(docs, min_tokens=20, min_uniq=0.4)
        .groupBy(F.coalesce("q_drop_reason", F.lit("kept")).alias("reason"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("q_n_tokens"), 2).alias("avg_tokens"))
        .orderBy("reason")
    )


ORACLE_QUALITY_REPORT = """
WITH feat AS (
  -- empty-doc guard mirrors operators/text.token_count: split('') is
  -- [''] in both engines, but an empty doc has 0 tokens, not 1
  SELECT doc_id,
         CASE WHEN NOT regexp_matches(text, '\\S') THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_tokens,
         length(regexp_replace(text, '[^[:punct:]]', '', 'g')) /
           CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
         len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) /
           CAST(greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS DOUBLE)
           AS uniq_ratio
  FROM documents
), reasons AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens < 20 THEN 'too_short'
              WHEN punct_ratio > 0.3 THEN 'too_punct'
              WHEN uniq_ratio < 0.4 THEN 'too_repetitive'
              ELSE 'kept' END AS reason
  FROM feat
)
SELECT reason, count(*) AS n, round(avg(n_tokens), 2) AS avg_tokens
FROM reasons GROUP BY reason ORDER BY reason
"""
gate(quality_filter_report, ORACLE_QUALITY_REPORT)


def predicted_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """predict_lang operator (argmax stopword evidence over 4 languages
    with deterministic tiebreak) — distribution by true label."""
    from .operators.text import predict_lang

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", predict_lang(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


def _predicted_langs_oracle() -> str:
    from .operators.text import STOPWORDS
    evid = ",\n           ".join(
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
        f"t -> t IN ({', '.join(repr(w) for w in STOPWORDS[l])}))) AS e_{l}"
        for l in sorted(STOPWORDS)
    )
    # argmax with lang-name tiebreak == max over (n, lang) structs in both
    # engines; DuckDB: greatest of structs compares fieldwise
    structs = ", ".join(f"{{'n': e_{l}, 'lang': '{l}'}}" for l in sorted(STOPWORDS))
    return f"""
WITH ev AS (
  SELECT lang,
           {evid}
  FROM documents
), best AS (
  SELECT lang, list_max([{structs}]) AS b FROM ev
)
SELECT lang,
       CASE WHEN b['n'] >= 2 THEN b['lang'] ELSE 'unk' END AS predicted,
       count(*) AS n
FROM best GROUP BY 1, 2 ORDER BY 1, 2
"""


ORACLE_PRED_LANGS = _predicted_langs_oracle()
gate(predicted_langs, ORACLE_PRED_LANGS)


def rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling fingerprint (operators/text.
    rolling_fingerprint, window=8), md5-derived so the oracle reproduces
    it exactly."""
    from .operators.text import rolling_fingerprint

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.select("doc_id", rolling_fingerprint(F.col("text"), 8).alias("fp"))


ORACLE_ROLLING_FP = """
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
), wins AS (
  SELECT doc_id, list_transform(
           generate_series(1, greatest(len(t) - 7, 1)),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                          t[i+4], t[i+5], t[i+6], t[i+7])) AS ws
  FROM toks
)
SELECT doc_id,
       list_min(list_transform(ws,
         w -> CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT))) AS fp
FROM wins
"""
gate(rolling_fingerprints, ORACLE_ROLLING_FP)


def hash_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 10% corpus sample (operators/partition.py
    hash_sample): membership depends only on md5(doc_id), so the sample
    is identical across runs, engines, partitionings and cluster sizes —
    verified literally here, since DuckDB recomputes the same sample.
    Narrow filter, no shuffle."""
    from .operators.partition import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.10).select("doc_id", "lang", "n_chars")


ORACLE_HASH_SAMPLE = """
SELECT doc_id, lang, n_chars FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 10000 < 1000
"""
gate(hash_sample_documents, ORACLE_HASH_SAMPLE)


def per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-cap sampling (operators/partition.py per_key_sample): at
    most 20 documents per source, selected by id-hash order so the kept
    set is reproducible across runs/engines/partitionings — DuckDB
    reselects the identical rows. The anti-domination step of corpus
    curation."""
    from .operators.partition import per_key_sample

    docs = _t(spark, sf_dir, "documents")
    kept = per_key_sample(docs, "source", 20, "doc_id")
    return kept.select("source", "doc_id", "lang")


ORACLE_PER_SOURCE = """
SELECT source, doc_id, lang FROM (
  SELECT source, doc_id, lang,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 4611686018427387904, doc_id) AS rn
  FROM documents
) WHERE rn <= 20
"""
gate(per_source_sample, ORACLE_PER_SOURCE)


def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (hash_split, 80/10/10) —
    row placement depends only on doc_id, so appending data or changing
    partitioning never moves an existing row between splits. The gate
    recomputes every assignment in DuckDB."""
    from .operators.partition import hash_split

    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        out.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
        .orderBy("split")
    )


ORACLE_SPLIT = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "split",
       "n_docs",
       CAST("total_chars" AS BIGINT) AS "total_chars"
FROM (
WITH b AS (
  SELECT *, CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 10000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs, sum(n_chars) AS total_chars
FROM b GROUP BY 1 ORDER BY 1
) _bigint_cast
"""
gate(dataset_split_counts, ORACLE_SPLIT)


_SQL_MULTI_SUPPLIER = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(avg(n_supp), 2) AS avg_suppliers
FROM (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp
      FROM lineitem GROUP BY l_orderkey
      HAVING count(DISTINCT l_suppkey) > 1) multi
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def sql_multi_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string surface (sqlapi.py) end-to-end: one ANSI query text
    runs on BOTH engines — spark.sql() here, DuckDB as the oracle. The
    reference has no SQL at all (SURVEY §0); this gate proves the whole
    SQL entry point, including HAVING over a distinct-agg subquery and
    the join back to orders."""
    from .sqlapi import sql

    return sql(spark, sf_dir, _SQL_MULTI_SUPPLIER)


gate(sql_multi_supplier_orders, _SQL_MULTI_SUPPLIER)


def udaf_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas GROUPED_AGG UDAF through the gate: per-segment median
    account balance via an Arrow-batched Python aggregator
    (operators/grouped.py grouped_agg_udaf). DuckDB's exact median is
    the oracle. The plan is a normal partial-less hash agg with one
    Python stage per group — the UDAF escape hatch, kept out of hot
    paths by design (SCALE.md)."""
    from .operators.grouped import grouped_agg_udaf, grouped_count_udaf

    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.round(grouped_agg_udaf("c_acctbal"), 2).alias("median_bal"),
            grouped_count_udaf("c_acctbal").alias("n_cust"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_UDAF_MEDIAN = """
SELECT c_mktsegment,
       round(median(c_acctbal), 2) AS median_bal,
       count(*) AS n_cust
FROM customer GROUP BY 1 ORDER BY 1
"""
gate(udaf_median_price, ORACLE_UDAF_MEDIAN)


def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual skew-salted shuffle join (operators/partition.py
    salted_join): lineitem⨝orders on a deliberately-skewed key layout,
    spread over 8 salt buckets, then aggregated. The oracle is the PLAIN
    join — salting must be invisible in the result. At 100 TB this is
    the tool for hot keys that AQE's sort-merge skew split can't reach."""
    from .operators.partition import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity", "l_extendedprice")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li, orders, "o_orderkey", salts=8)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_SALTED_JOIN = """
SELECT o_orderpriority,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       count(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""
gate(salted_join_agg, ORACLE_SALTED_JOIN)


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components (iterative min-label
    propagation, operators/dedup.py) over the MinHash-LSH candidate
    pairs. The md5 hash family keeps the pairs reproducible in DuckDB,
    and the component step is replicated there with a recursive CTE — so
    the gate checks candidate generation AND the grouping fixpoint.
    Scale: each iteration is one edges⨝labels shuffle + min-agg
    (Pregel shape); lineage truncated per round via localCheckpoint."""
    from .operators.dedup import connected_components, minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    pairs = minhash_lsh_candidates(docs, num_hashes=8, bands=4, bucket_cap=50)
    cc = connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), F.col("component").alias("component_id"))


ORACLE_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({ORACLE_MINHASH}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
cc AS (
  SELECT u AS node, u AS component FROM edges
  UNION
  SELECT e.u AS node, cc.component FROM cc JOIN edges e ON e.v = cc.node
)
SELECT node AS doc_id, min(component) AS component_id FROM cc GROUP BY node
"""
gate(dedup_components, ORACLE_COMPONENTS)


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


# =====================================================================
# TPC-H analogue extensions (adapted to the driver schema: no partsupp,
# no l_shipmode/commitdate/receiptdate/phone — each query states its
# adaptation). These widen SURVEY §2.7's "new relational surface".
# =====================================================================

def q2_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analogue (no partsupp: supply cost proxied by observed
    avg unit price in lineitem). For each Brand#1 part, the supplier
    selling it cheapest. Plan: lineitem scan -> partial agg on
    (partkey, suppkey) -> window min per part. nation is hint-broadcast;
    part/supplier scale with SF so AQE decides for them. One fact
    shuffle total."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    unit = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias("unit_price"))
    )
    w = W.partitionBy("l_partkey").orderBy(F.col("unit_price").asc(), F.col("l_suppkey").asc())
    best = unit.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(supp, best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            F.col("p_partkey"), F.col("p_name"),
            F.col("s_name").alias("cheapest_supplier"),
            F.col("n_name").alias("supplier_nation"),
            F.col("unit_price"),
        )
    )


ORACLE_Q2 = """
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         round(avg(l_extendedprice / l_quantity), 4) AS unit_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT *, row_number() OVER (PARTITION BY l_partkey
                               ORDER BY unit_price ASC, l_suppkey ASC) AS rk
  FROM unit
)
SELECT p_partkey, p_name, s_name AS cheapest_supplier,
       n_name AS supplier_nation, unit_price
FROM best
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE rk = 1 AND p_brand = 'Brand#1'
"""
gate(q2_cheapest_supplier, ORACLE_Q2)


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue shipped between two nations, by direction and
    year. nation×2 are hint-broadcast (25 rows); supplier/customer are
    AQE-decided (they scale with SF). lineitem⨝orders is the one big
    shuffle."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") <= F.lit("1997-12-31"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cust_nk"), F.col("n_name").alias("cust_nation"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("supp_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("cust_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                     AND TIMESTAMP '1997-12-31 00:00:00'
  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""
gate(q7_volume_shipping, ORACLE_Q7)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_5 suppliers' share of PROMO-part revenue sold to
    ASIA customers, per year. Conditional agg over one joined plan —
    share = sum(when)/sum, no second pass. region/nation hint-broadcast;
    part/customer/supplier AQE-decided (SF-scaling)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cnat = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey).select(
        F.col("n_nationkey").alias("cust_nk"))
    snat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cnat), cust.c_nationkey == F.col("cust_nk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(snat), supp.s_nationkey == F.col("supp_nk"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0)))
                / F.sum(vol), 4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


ORACLE_Q8 = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_5'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                      AND TIMESTAMP '1997-12-31 00:00:00'
GROUP BY 1 ORDER BY 1
"""
gate(q8_market_share, ORACLE_Q8)


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analogue (no ps_supplycost: cost proxied as 60% of
    p_retailprice per unit). Profit on ECONOMY parts by supplier nation
    and year. nation hint-broadcast; part/supplier AQE-decided
    (SF-scaling); one fact shuffle for the groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


ORACLE_Q9 = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'ECONOMY'
GROUP BY 1, 2 ORDER BY 1, 2 DESC
"""
gate(q9_product_profit, ORACLE_Q9)


def q12_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analogue (no l_shipmode/commitdate: buckets are
    order->ship latency instead). Orders shipped >90 days after order
    date, split by high/low priority. lineitem⨝orders shuffle join on
    orderkey, then a 2-row agg."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(
            F.when(high, F.lit("high")).otherwise(F.lit("low")).alias("priority_class")
        )
        .agg(
            F.count(F.lit(1)).alias("late_lines"),
            F.countDistinct(F.col("l_orderkey")).alias("late_orders"),
            F.round(F.avg(F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))), 2).alias("avg_delay_days"),
        )
        .orderBy("priority_class")
    )


ORACLE_Q12 = """
SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 'high' ELSE 'low' END AS priority_class,
       count(*) AS late_lines,
       count(DISTINCT l_orderkey) AS late_orders,
       round(avg(datediff('day', o_orderdate, l_shipdate)), 2) AS avg_delay_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE datediff('day', o_orderdate, l_shipdate) > 90
GROUP BY 1 ORDER BY 1
"""
gate(q12_ship_delay, ORACLE_Q12)


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of orders-per-customer including
    zero-order customers (left outer join), excluding 1-URGENT orders.
    Two aggs: per-customer count, then histogram of counts."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""
gate(q13_order_count_distribution, ORACLE_Q13)


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max revenue in 1996Q1. The max is a
    broadcast-joined 1-row agg, not a driver-side collect, so the plan
    stays fully distributed."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.max_rev)
        .join(supp, rev.supplier_no == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE_Q15 = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""
gate(q15_top_supplier, ORACLE_Q15)


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analogue (no partsupp: supplier-part relationships
    observed from lineitem). Distinct suppliers per (brand, type, size)
    for small sizes, excluding Brand#5. countDistinct after the part
    join (AQE-decided side) — one shuffle on the group keys."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_size IN (1, 2, 3, 4, 5)
GROUP BY 1, 2, 3 ORDER BY 4 DESC, 1, 2, 3
"""
gate(q16_supplier_part_counts, ORACLE_Q16)


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: yearly revenue that would be lost by dropping
    small-quantity (< 20% of the part's average) Brand#2 orders. The
    per-part average is a self-agg joined back on partkey — at scale a
    shuffle join co-partitioned with the probe, never a collect."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    li_b = li.join(part, li.l_partkey == part.p_partkey)
    # the cut is ROUNDED on both sides: Spark and DuckDB sum doubles in
    # different orders, so an unrounded avg differs in the last ulps and
    # a quantity within that epsilon of the cut flips engines (review
    # r5 — the module rule is round every cross-engine float seam)
    avg_q = li_b.groupBy(F.col("l_partkey").alias("ap")).agg(
        F.round(F.avg("l_quantity") * 0.2, 6).alias("qty_cut"))
    return (
        li_b.join(avg_q, li_b.l_partkey == avg_q.ap)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


ORACLE_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#2'
  AND l_quantity < (SELECT round(0.2 * avg(l2.l_quantity), 6)
                    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
"""
gate(q17_small_quantity_revenue, ORACLE_Q17)


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under OR-of-ANDs brand/size/quantity predicates.
    Catalyst pushes the common part-side predicates into the broadcast
    build; the disjunction evaluates post-join in one codegen stage."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 5))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 10))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 15))
           & (F.col("l_quantity").between(20, 30)))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""
gate(q19_disjunctive_revenue, ORACLE_Q19)


def q11_nation_stock_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analogue (no partsupp: 'stock value' proxied by shipped
    lineitem value). Parts whose shipped value from NATION_5 suppliers
    exceeds 2× the average part's value — per-part agg, scalar stats via
    broadcast cross-join (never a collect). The threshold is relative to
    the AVERAGE (not a fixed fraction of the total as in stock TPC-H) so
    the selectivity is scale-invariant: a fixed fraction empties out as
    the part count grows with SF."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 5)
    val = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        # value rounded BEFORE the stats/filter so the engines compare
        # identical numbers; the unrounded sum is order-dependent in
        # the last ulps and a value within epsilon of the 2x-average
        # cut flips engines (review r5)
        .agg(F.round(F.sum(val), 2).alias("value"))
    )
    stats = per_part.agg(F.round(F.avg("value") * 2, 2).alias("cut"))
    return (
        per_part.join(F.broadcast(stats))
        .filter(F.col("value") > F.col("cut"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), F.col("l_partkey"))
    )


ORACLE_Q11 = """
WITH per_part AS (
  SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS value
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey = 5
  GROUP BY 1
)
SELECT l_partkey, value
FROM per_part
WHERE value > (SELECT round(avg(value) * 2, 2) FROM per_part)
ORDER BY 2 DESC, 1
"""
gate(q11_nation_stock_value, ORACLE_Q11)


def q21_lonely_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analogue (no receipt/commit dates: 'late' = shipped
    more than 60 days after the order date). Suppliers who were the ONLY
    late supplier on a multi-supplier order — the reference pattern's
    EXISTS + NOT EXISTS double correlation, decorrelated to two stacked
    aggregations over one lineitem⨝orders pass. Because n_late == 1 the
    lonely supplier IS max(suppkey WHERE late), so the second agg folds
    the per-order stats AND the supplier extraction into one hash agg;
    only qualifying orders (one row each) reach the supplier join. Every
    exchange keeps its map-side partial combine — measured: forcing the
    stacked groupBys onto one explicit repartition(l_orderkey) halves
    the exchange count but shuffles the RAW join output (no partial
    agg), 1.7s -> 6.4s at sf0.1. When orders outgrows broadcast (100 TB)
    the join's own hashpartitioning(l_orderkey) satisfies both groupBys
    (partitioning ⊆ grouping keys) and the stacked aggs add no exchange
    at all. A window over l_orderkey computes the same stats but must
    SORT every partition of the per-(order,supplier) stream first; a
    groupBy+join-back computes the heavy join subtree twice (no
    ReusedExchange). The agg shape does neither."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("was_late"))
    )
    lonely = (
        per_os.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("was_late").alias("n_late"),
            F.max(F.when(F.col("was_late") == 1, F.col("l_suppkey"))).alias("l_suppkey"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        lonely.join(supp, lonely.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


ORACLE_Q21 = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
                  THEN 1 ELSE 0 END) AS was_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), per_o AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(was_late) AS n_late,
         max(CASE WHEN was_late = 1 THEN l_suppkey END) AS late_supp
  FROM per_os GROUP BY 1
)
SELECT s_name, count(*) AS numwait
FROM per_o
JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20
"""
gate(q21_lonely_late_supplier, ORACLE_Q21)


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analogue (no phone column: grouped by nation instead of
    country code; "no orders" relaxed to "no orders since 2000" — the
    synthetic data gives every customer at least one early order).
    Customers with above-average positive balance gone dormant: scalar
    avg via broadcast cross-join, anti-join against recent orders,
    per-nation agg."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
    nat = _t(spark, sf_dir, "nation")
    # rounded cut: the unrounded avg is summation-order-dependent in
    # the last ulps and a balance within epsilon flips engines (review r5)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    dormant = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        dormant.join(F.broadcast(nat), dormant.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("nation")
    )


ORACLE_Q22 = """
SELECT n_name AS nation, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1 ORDER BY 1
"""
gate(q22_dormant_customers, ORACLE_Q22)


def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analogue (no partsupp: 'excess availability' re-cast as
    shipment dominance). Suppliers who shipped >25% of a red part's total
    1995 volume, with how many parts they dominate. Plan: pushed-down
    year filter -> join to the red-part subset -> one partial agg on
    (suppkey, partkey) -> window share per partkey -> supplier/nation
    lookup. part scales with SF so it stays unhinted (AQE decides);
    nation is fixed-size -> broadcast. One fact shuffle + one window
    shuffle on the already-reduced agg."""
    li = _t(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1995)
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    qty = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = W.partitionBy("l_partkey")
    dom = qty.withColumn("part_total", F.sum("qty").over(w)).filter(
        F.col("qty") > 0.25 * F.col("part_total"))
    return (
        dom.join(supp, dom.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("dominated_parts"),
            F.round(F.sum("qty"), 2).alias("dominated_qty"),
        )
        .orderBy("s_suppkey")
    )


ORACLE_Q20 = """
WITH qty AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1995 AND p_name LIKE 'red%'
  GROUP BY 1, 2
), dom AS (
  SELECT *, sum(qty) OVER (PARTITION BY l_partkey) AS part_total FROM qty
)
SELECT s_suppkey, s_name, n_name AS nation,
       count(*) AS dominated_parts, round(sum(qty), 2) AS dominated_qty
FROM dom
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE qty > 0.25 * part_total
GROUP BY 1, 2, 3 ORDER BY 1
"""
gate(q20_dominant_supplier, ORACLE_Q20)


def decontaminate_train_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py decontaminate):
    a deterministic 5% of the corpus plays the held-out eval set; every
    remaining train doc sharing ANY word 8-gram with it, or containing a
    held-out item shorter than 8 tokens, is dropped (the standard
    test-set-leakage guard for training corpora). Reported per-source
    so the gate checks WHICH docs were dropped, not just how many:
    n_contaminated = n_train - n_kept.

    Scale shape: inverted-index membership probe inside the operator;
    the per-source counts are one union of the train and kept rows and
    one partial-agg shuffle. The held-out split is md5(doc_id)-derived, so the same docs
    are held out at every scale and on both engines."""
    from .operators.dedup import decontaminate
    from .operators.partition import _md5_bucket

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    bucket = _md5_bucket("doc_id")
    train = docs.filter(bucket >= 500)
    kept = decontaminate(train, docs.filter(bucket < 500), n=8)
    counts = (train.select("source", F.lit(1).alias("t"), F.lit(0).alias("k"))
              .unionByName(kept.select("source", F.lit(0).alias("t"),
                                       F.lit(1).alias("k")))
              .groupBy("source")
              .agg(F.sum("t").alias("n_train"), F.sum("k").alias("n_kept")))
    return counts.select(
        "source", "n_train",
        (F.col("n_train") - F.col("n_kept")).alias("n_contaminated"),
        "n_kept").orderBy("source")


ORACLE_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, source,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 10000 AS b,
         regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, source, b,
         list_transform(generate_series(1, greatest(len(t) - 7, 1)),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                          t[i+4], t[i+5], t[i+6], t[i+7])) AS gs
  FROM toks
), hg AS (
  -- empty-gram guard mirrors the Spark side (review r5)
  SELECT g FROM (
    SELECT DISTINCT unnest(gs) AS g FROM grams WHERE b < 500
  ) WHERE g <> ''
), shorts AS (
  -- held-out items shorter than n tokens: whitespace-collapsed,
  -- token-boundary-anchored containment probe (mirrors operators/
  -- dedup.decontaminate's short-item branch — review r4: a raw
  -- substring probe matched mid-token)
  SELECT DISTINCT regexp_replace(trim(text), '\\s+', ' ', 'g') AS st
  FROM toks JOIN documents USING (doc_id)
  WHERE b < 500 AND len(t) < 8
    AND regexp_replace(trim(text), '\\s+', ' ', 'g') <> ''
), bad AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(gs) AS g FROM grams WHERE b >= 500) tg
  JOIN hg USING (g)
  UNION
  SELECT DISTINCT d.doc_id
  FROM documents d JOIN toks tk USING (doc_id), shorts s
  WHERE tk.b >= 500
    AND contains(' ' || regexp_replace(trim(d.text), '\\s+', ' ', 'g')
                 || ' ', ' ' || s.st || ' ')
)
SELECT source,
       count(*) AS n_train,
       count(bad.doc_id) AS n_contaminated,
       count(*) - count(bad.doc_id) AS n_kept
FROM (SELECT doc_id, source FROM grams WHERE b >= 500) train
LEFT JOIN bad USING (doc_id)
GROUP BY 1 ORDER BY 1
"""
gate(decontaminate_train_set, ORACLE_DECONTAMINATE)


def cross_doc_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication report (operators/dedup.py
    duplicate_ngram_fraction): per source, how many documents exist,
    how many distinct word 5-grams they carry, how many of those grams
    also appear in another document, and how many docs are MOSTLY
    duplicate (more than half their grams shared). The per-source roll-
    up of the Lee-et-al exact-substring-duplication signal — the number
    a curation pipeline watches to decide which crawl sources to dedup
    or drop.

    All-integer output so the oracle hash is exact (no float rounding
    seam). Scale shape inherits the operator's: two shuffles (gram
    window, per-doc fold) plus one more for the per-source agg; no
    joins anywhere."""
    from .operators.dedup import duplicate_ngram_fraction

    docs = _t(spark, sf_dir, "documents")
    per_doc = duplicate_ngram_fraction(docs, n=5, carry=("source",))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_dup_grams").alias("dup_grams"),
            F.sum((2 * F.col("n_dup_grams") > F.col("n_grams")).cast("long"))
            .alias("mostly_dup_docs"),
        )
        .orderBy("source")
    )


ORACLE_CROSS_DOC_DUP = """
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, source, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(t) - 4, 1)),
      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
  FROM toks
), flag AS (
  SELECT doc_id, source, count(*) OVER (PARTITION BY g) AS df_g FROM grams
), per_doc AS (
  SELECT doc_id, source, count(*) AS n_grams,
         sum(CASE WHEN df_g > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM flag GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS total_grams,
       CAST(sum(n_dup) AS BIGINT) AS dup_grams,
       CAST(sum(CASE WHEN 2 * n_dup > n_grams THEN 1 ELSE 0 END) AS BIGINT)
         AS mostly_dup_docs
FROM per_doc GROUP BY 1 ORDER BY 1
"""
gate(cross_doc_duplication, ORACLE_CROSS_DOC_DUP)


def _stream_events(spark: SparkSession, sf_dir: str,
                   scratch_name: str) -> DataFrame:
    """Shared streaming-gate prologue: expose the single-file events
    fixture through a symlink DIRECTORY (the file stream source wants a
    directory; production streams an ingest dir, so the shim is
    test-only), readStream it, and apply the SAME ts normalization as
    _events (nanos-as-long or NTZ -> TIMESTAMP). One definition
    (review r5): the normalization branch was maintained in three
    places and a fix to one would silently miss the streaming gates."""
    import os

    from .streaming.structured import stream_from_directory

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _read_table(spark, f"{sf_dir}/events.parquet").schema
    stream_dir = _scratch(scratch_name)
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(stream_dir, "events.parquet"),
    )
    return _normalize_ts(stream_from_directory(spark, stream_dir, schema))


def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING path through the full correctness gate: events read
    with readStream, watermarked tumbling-window aggregation
    (streaming/structured.py windowed_counts), drained to a memory sink
    under Trigger.AvailableNow, and the drained result hash-compared to
    the SAME DuckDB oracle the batch form would use. Proves the
    streaming plan computes the identical answer — the property that
    lets a pipeline move from nightly chain batches to a live stream
    without changing semantics (SURVEY §2.9: chains ARE the reference's
    streaming; this is the Spark-native upgrade).

    Scale: watermark bounds state (late rows beyond 2h are dropped once
    the watermark passes — irrelevant here because AvailableNow drains a
    static directory, but the plan is the production plan); the window
    agg is a standard partial/final hash agg per microbatch."""
    from .streaming.structured import windowed_counts

    ev = _stream_events(spark, sf_dir, "stream_src")
    agg = windowed_counts(ev, "ts", "1 hour", "2 hours", ["event_type"])
    q = (
        agg.writeStream.format("memory").queryName("stream_hourly")
        .outputMode("complete")
        .option("checkpointLocation", _scratch("stream_ck"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "stream_hourly drain exceeded 180s — refusing to return a "
            "partial memory sink (review r4)")
    return (
        spark.table("stream_hourly")
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            F.round("sum_value", 2).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


ORACLE_STREAM_HOURLY = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""
gate(streaming_hourly_counts, ORACLE_STREAM_HOURLY)


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


def semantic_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.
    semantic_dedup): cluster embeddings into IVF cells (8 seed
    centroids, same cells as ivf_centroid_assign), compare all-pairs
    cosine ONLY within a cell, drop every vector with a smaller-id
    neighbor >= 0.35 (threshold tuned to the synthetic embeddings'
    similarity range). Reports per-cell before/dropped/kept counts, so
    the gate checks the clustering AND the in-cell pruning.

    Scale: quadratic work confined to cells (n²/k total), shuffled on
    centroid_id; the full-corpus all-pairs variant (embedding_near_pairs)
    is the correctness baseline this approximates at scale."""
    from .operators.similarity import cosine, ivf_assign

    # r12 (guide §2.5): _spread only — the in-cell all-pairs cosine is
    # interpreted per element and ran on the one-task scan; the
    # NO-checkpoint contract below is untouched
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    cents = emb.filter(F.col("vec_id") < 8)
    # NO checkpoint here, unlike operators/similarity.semantic_dedup:
    # an eager localCheckpoint truncates the lineage plan_report.py
    # audits, hiding the assignment stage's joins from PLANS.md — the
    # GATE keeps the full declarative plan (the 3x assignment recompute
    # is visible, bounded, and the audited shape is the point); users
    # get the checkpointed operator (review r4)
    assigned = ivf_assign(emb, cents).select(
        "vec_id", "embedding", "centroid_id")
    a = assigned.select(
        "centroid_id", F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a")
    )
    b = assigned.select(
        "centroid_id", F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b")
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine(F.col("e_a"), F.col("e_b")), 4) >= 0.35)
        .select(F.col("id_b").alias("vec_id")).distinct()
        .withColumn("d", F.lit(1))
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.coalesce(F.col("d"), F.lit(0))).alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum(F.coalesce(F.col("d"), F.lit(0)))).alias("n_kept"),
        )
        .orderBy("centroid_id")
    )


ORACLE_SEMANTIC_DEDUP = """
WITH c AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT e.vec_id, e.embedding, c.c_id,
         round(list_dot_product(e.embedding, c.c_emb) /
               (sqrt(list_dot_product(e.embedding, e.embedding)) *
                sqrt(list_dot_product(c.c_emb, c.c_emb))), 4) AS cos
  FROM embeddings e, c
), best AS (
  SELECT vec_id, embedding, c_id AS centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM scored
), assigned AS (
  SELECT vec_id, embedding, centroid_id FROM best WHERE rn = 1
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.embedding, b.embedding) /
              (sqrt(list_dot_product(a.embedding, a.embedding)) *
               sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.35
)
SELECT centroid_id, count(*) AS n_before,
       count(dropped.vec_id) AS n_dropped,
       count(*) - count(dropped.vec_id) AS n_kept
FROM assigned LEFT JOIN dropped USING (vec_id)
GROUP BY 1 ORDER BY 1
"""
gate(semantic_dedup_report, ORACLE_SEMANTIC_DEDUP)


def semantic_dedup_report_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe semantic-dedup configuration (VERDICT r4 #1,
    mirroring the simhash64 precedent): the SAME clustering as
    semantic_dedup_report but with ``cell_cap=25`` — each cell's
    comparison left arm truncated to its 25 smallest ids, so per-cell
    work is size × 25, not size². At this corpus (500 vectors / 8
    cells, ~62 per cell) the cap BITES in every cell, and the oracle
    replays the identical capped selection, so the gate checks capped
    MEMBERSHIP exactly: per-cell kept counts plus an md5-xor checksum
    over the kept vec_ids.

    This entry drives operators/similarity.semantic_dedup itself (the
    code users run, checkpoint included) rather than an inline mirror —
    the uncapped semantic_dedup_report keeps the fully-declarative plan
    for the plan audit."""
    from .operators.similarity import semantic_dedup

    emb = _spread(_t(spark, sf_dir, "embeddings"))
    cents = emb.filter(F.col("vec_id") < 8)
    kept = semantic_dedup(emb, cents, threshold=0.35, cell_cap=25)
    return (kept.withColumn("_h", md5_long(F.col("vec_id").cast("string")))
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("vec_id").alias("min_kept"),
                 F.max("vec_id").alias("max_kept"),
                 F.expr("bit_xor(_h)").alias("kept_checksum"))
            .orderBy("centroid_id"))


ORACLE_SEMANTIC_DEDUP_CAPPED = """
WITH c AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT e.vec_id, e.embedding, c.c_id,
         round(list_dot_product(e.embedding, c.c_emb) /
               (sqrt(list_dot_product(e.embedding, e.embedding)) *
                sqrt(list_dot_product(c.c_emb, c.c_emb))), 4) AS cos
  FROM embeddings e, c
), best AS (
  SELECT vec_id, embedding, c_id AS centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM scored
), assigned AS (
  SELECT vec_id, embedding, centroid_id FROM best WHERE rn = 1
), reps AS (
  -- cell_cap=25: the comparison left arm is each cell's 25 smallest ids
  SELECT * FROM (
    SELECT vec_id, embedding, centroid_id,
           row_number() OVER (PARTITION BY centroid_id
                              ORDER BY vec_id ASC) AS cr
    FROM assigned) WHERE cr <= 25
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM reps a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.embedding, b.embedding) /
              (sqrt(list_dot_product(a.embedding, a.embedding)) *
               sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.35
), kept AS (
  SELECT assigned.* FROM assigned
  LEFT JOIN dropped USING (vec_id) WHERE dropped.vec_id IS NULL
)
SELECT centroid_id,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(vec_id) AS BIGINT) AS min_kept,
       CAST(max(vec_id) AS BIGINT) AS max_kept,
       bit_xor(CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
         AS BIGINT)) AS kept_checksum
FROM kept GROUP BY 1 ORDER BY 1
"""
gate(semantic_dedup_report_capped, ORACLE_SEMANTIC_DEDUP_CAPPED)


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per doc: fraction of
    2-gram occurrences taken by the most frequent 2-gram (r_top2) and
    fraction of duplicated 2-gram occurrences (dup2). Repetitive,
    boilerplate-heavy docs score high on both — the published corpus
    filters cut at ~0.2 / ~0.3; the thresholds stay with the caller,
    this query is the measurement.

    Scale shape: ZERO shuffles. The measurement is per-doc, so it never
    needs to leave the row — sort the 2-gram array and fold it with one
    F.aggregate pass carrying (prev, run, maxrun, distinct): maxrun of
    the sorted array IS the top-gram count, the transition count IS the
    distinct count. The explode → groupBy(doc,gram) → groupBy(doc)
    alternative shuffles the whole gram stream TWICE ((doc,g) partition-
    ing does not satisfy a doc-only grouping, so the second agg
    re-exchanges); measured 3x slower at sf0.1 (0.62s vs 0.21s warm).
    Unlike minhash (where per-element hashing made interpreted array
    lambdas lose to explode+groupBy), this fold is a comparison chain —
    cheap enough that staying row-local wins outright."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # NON-distinct 2-gram stream: repetition is exactly what the
    # array_distinct inside _word_shingles_expr would erase, so shingle inline
    toks = F.split(F.trim(F.col("text")), r"\s+")
    _n = F.size(toks)
    ln = F.greatest(_n - 1, F.lit(1))
    z = F.arrays_zip(
        F.slice(toks, 1, ln).alias("a"), F.slice(toks, 2, ln).alias("b")
    )
    grams = F.sort_array(
        F.transform(z, lambda s: F.concat_ws(" ", s["a"], s["b"]))
    )
    # explicit started flag, NOT a sentinel prev value: the old ''-init
    # collided with the legitimate ''-gram of an empty doc, counting its
    # first gram as a continuation (distinct=0 -> dup2=1.0, review r4)
    init = F.struct(
        F.lit(False).alias("started"),
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("maxrun"),
        F.lit(0).cast("long").alias("distinct"),
    )

    def _step(acc, x):
        cont = acc["started"] & (x == acc["prev"])
        new_run = F.when(cont, acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            F.lit(True).alias("started"),
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["maxrun"], new_run).alias("maxrun"),
            (acc["distinct"] + F.when(cont, 0).otherwise(1)).alias("distinct"),
        )

    st = F.aggregate(grams, init, _step)
    return (
        docs.select(
            "doc_id",
            F.size(grams).alias("n_2grams"),
            st["maxrun"].alias("top2_cnt"),
            st["distinct"].alias("nd"),
        )
        .select(
            "doc_id",
            "n_2grams",
            "top2_cnt",
            F.round(F.col("top2_cnt") / F.col("n_2grams"), 4).alias("r_top2"),
            F.round((F.col("n_2grams") - F.col("nd")) / F.col("n_2grams"), 4).alias("dup2"),
        )
        .orderBy("doc_id")
    )


ORACLE_REPETITION = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "doc_id",
       CAST("n_2grams" AS BIGINT) AS "n_2grams",
       "top2_cnt",
       "r_top2",
       "dup2"
FROM (
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 1)),
                i -> concat_ws(' ', t[i], t[i+1]))) AS g
  FROM toks
), per_dg AS (
  SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2
)
SELECT doc_id, sum(cnt) AS n_2grams, max(cnt) AS top2_cnt,
       round(max(cnt) / sum(cnt), 4) AS r_top2,
       round((sum(cnt) - count(*)) / sum(cnt), 4) AS dup2
FROM per_dg GROUP BY 1 ORDER BY 1
) _bigint_cast
"""
gate(repetition_signals, ORACLE_REPETITION)


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences
    (operators/text.py pack_sequences, budget=512 whitespace tokens,
    32 parallel packing streams) and report per-sequence stats. The
    pack is contiguous greedy in deterministic (bucket, doc_id) order,
    so sequence membership is identical across runs, engines and
    cluster sizes — DuckDB reproduces it bit-for-bit here.

    Scale shape: one hash exchange on the md5 bucket + a per-bucket
    sort; the per-sequence groupBy keys start with the bucket, so it
    reuses the window's partitioning (no extra exchange — same trick as
    the jaccard prefilter). A global pack would be a single-partition
    window; bucketed packing is embarrassingly parallel at any corpus
    size (buckets ~ k×cores)."""
    from .operators.text import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    packed = pack_sequences(docs, "doc_id", "text", budget=512, buckets=32)
    return (
        packed.groupBy("bucket", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("bucket", "seq_id")
    )


ORACLE_SEQUENCE_PACKING = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "bucket",
       "seq_id",
       "n_docs",
       CAST("seq_tokens" AS BIGINT) AS "seq_tokens",
       "first_doc"
FROM (
WITH d AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 32 AS bucket,
         CASE WHEN NOT regexp_matches(text, '\\S') THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_tokens
  FROM documents
), placed AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS seq_start
  FROM d
)
SELECT bucket, CAST(floor(seq_start / 512) AS BIGINT) AS seq_id,
       count(*) AS n_docs, sum(n_tokens) AS seq_tokens,
       min(doc_id) AS first_doc
FROM placed
GROUP BY 1, 2 ORDER BY 1, 2
) _bigint_cast
"""
gate(sequence_packing, ORACLE_SEQUENCE_PACKING)


# =====================================================================
# Curation round 2: PII redaction, line cleaning, LM quality, JSONL IO
# =====================================================================

def pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.redact_pii): the synthetic corpus
    has no PII, so the query deterministically injects emails / phones /
    IPv4s derived from (doc_id, source) — the same self-synthesis idiom
    dataset_type_menu2 uses — then counts matches per kind and verifies
    redaction leaves zero residual matches. Both engines run the
    IDENTICAL RE2-safe regexes (Spark regexp_replace is global by
    default; the oracle passes the 'g' flag).

    Scale: pure map-stage expressions over the scan — no shuffle except
    the final tiny per-source agg."""
    from .operators.text import PII_PATTERNS, pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), k.cast("string"),
        F.lit("@"), F.col("source"), F.lit(".example.com"),
        F.when(k % 3 == 0, F.concat(
            F.lit(" call 555-"),
            F.lpad((k % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad((k % 10000).cast("string"), 4, "0"),
        )).otherwise(F.lit("")),
        F.when(k % 5 == 0, F.concat(
            F.lit(" from 10.0."),
            (k % 256).cast("string"), F.lit("."),
            (k % 100).cast("string"),
        )).otherwise(F.lit("")),
    )
    counts = pii_counts(injected)
    residual = sum(
        F.size(F.regexp_extract_all(redact_pii(injected), F.lit(p), F.lit(0)))
        for p in PII_PATTERNS.values()
    )
    return (
        docs.select(
            "source",
            counts["email"].alias("n_email"),
            counts["phone"].alias("n_phone"),
            counts["ipv4"].alias("n_ip"),
            residual.alias("resid"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("emails"),
            F.sum("n_phone").alias("phones"),
            F.sum("n_ip").alias("ips"),
            F.sum("resid").alias("residual_matches"),
        )
        .orderBy("source")
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

ORACLE_PII = f"""
WITH injected AS (
  SELECT source,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source
              || '.example.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                           || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                      THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                           || '.' || CAST(doc_id % 100 AS VARCHAR)
                      ELSE '' END AS txt
  FROM documents
), redacted AS (
  SELECT source, txt,
         regexp_replace(regexp_replace(regexp_replace(txt,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IPV4>', 'g') AS red
  FROM injected
)
SELECT source, count(*) AS n_docs,
       -- BIGINT casts: DuckDB widens integer sum() to HUGEINT (VERDICT r3 #1)
       CAST(sum(len(regexp_extract_all(txt, '{_PII_EMAIL}'))) AS BIGINT) AS emails,
       CAST(sum(len(regexp_extract_all(txt, '{_PII_PHONE}'))) AS BIGINT) AS phones,
       CAST(sum(len(regexp_extract_all(txt, '{_PII_IP}'))) AS BIGINT) AS ips,
       CAST(sum(len(regexp_extract_all(red, '{_PII_EMAIL}'))
         + len(regexp_extract_all(red, '{_PII_PHONE}'))
         + len(regexp_extract_all(red, '{_PII_IP}'))) AS BIGINT) AS residual_matches
FROM redacted GROUP BY source ORDER BY source
"""
gate(pii_redaction_report, ORACLE_PII)


def line_cleaning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (operators/text.clean_lines): the
    corpus is single-line, so each doc is expanded to 3 lines (full
    text / first-10-words / first-60-words) and lines under 50 words
    are dropped — keep/drop is data-dependent on each doc's real word
    count. Reports per-source line survival and surviving chars.

    Scale: split/filter/concat array expressions in the scan stage;
    one tiny per-source agg shuffle."""
    from .operators.text import clean_lines

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    multiline = F.concat_ws(
        "\n",
        F.col("text"),
        F.concat_ws(" ", F.slice(words, 1, 10)),
        F.concat_ws(" ", F.slice(words, 1, 60)),
    )
    cleaned = clean_lines(
        docs.withColumn("text", multiline), min_words=50)
    return (
        cleaned.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("lines_in").alias("lines_in"),
            F.sum("lines_kept").alias("lines_kept"),
            F.sum(F.length("text_clean")).alias("clean_chars"),
        )
        .orderBy("source")
    )


ORACLE_LINE_CLEANING = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "source",
       "n_docs",
       CAST("lines_in" AS BIGINT) AS "lines_in",
       CAST("lines_kept" AS BIGINT) AS "lines_kept",
       CAST("clean_chars" AS BIGINT) AS "clean_chars"
FROM (
WITH ml AS (
  SELECT source,
         text || chr(10)
              || array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
              || chr(10)
              || array_to_string(list_slice(string_split(text, ' '), 1, 60), ' ')
           AS txt
  FROM documents
), f AS (
  SELECT source,
         len(string_split(txt, chr(10))) AS lines_in,
         -- empty-line guard mirrors operators/text.clean_lines: a
         -- blank line has 0 words, not 1 (split('') is [''])
         list_filter(string_split(txt, chr(10)),
                     ln -> CASE WHEN NOT regexp_matches(ln, '\\S') THEN 0
                                ELSE len(regexp_split_to_array(trim(ln), '\\s+'))
                           END >= 50)
           AS kept
  FROM ml
)
SELECT source, count(*) AS n_docs,
       sum(lines_in) AS lines_in,
       sum(len(kept)) AS lines_kept,
       sum(length(array_to_string(kept, chr(10)))) AS clean_chars
FROM f GROUP BY source ORDER BY source
) _bigint_cast
"""
gate(line_cleaning_report, ORACLE_LINE_CLEANING)


def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-quality proxy (operators/text.unigram_logprob): score every
    document by its mean ln-probability under the corpus's own unigram
    distribution (CCNet-style cheap perplexity stand-in), then roll up
    per source. Two shuffles: vocabulary build + per-doc agg; the
    corpus total rides as a 1-row broadcast."""
    from .operators.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    scored = unigram_logprob(docs)
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_logprob"), 2).alias("avg_lp"),
            F.min("n_tokens").alias("min_toks"),
            F.max("n_tokens").alias("max_toks"),
        )
        .orderBy("source")
    )


ORACLE_UNIGRAM_LP = """
WITH toks0 AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), toks AS (
  -- '' pseudo-token guard mirrors operators/text.unigram_logprob:
  -- split('') is [''] in both engines, an empty doc has no tokens
  SELECT doc_id, tok FROM toks0 WHERE tok <> ''
), vocab AS (
  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
), total AS (
  SELECT CAST(sum(tf) AS DOUBLE) AS corpus_n FROM vocab
), scored AS (
  SELECT t.doc_id, count(*) AS n_tokens,
         round(avg(ln(v.tf / total.corpus_n)), 4) AS avg_logprob
  FROM toks t JOIN vocab v USING (tok) CROSS JOIN total
  GROUP BY t.doc_id
)
SELECT d.source, count(*) AS n_docs,
       round(avg(s.avg_logprob), 2) AS avg_lp,
       min(s.n_tokens) AS min_toks,
       max(s.n_tokens) AS max_toks
FROM scored s JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""
gate(unigram_logprob_quality, ORACLE_UNIGRAM_LP)


def jsonl_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink gate (sources/jsonl.py): export documents to
    newline-delimited JSON, re-import with an explicit schema, and
    digest the round-tripped rows with the order-independent md5-xor
    checksum. The oracle digests the parquet directly — a hash match
    proves the JSONL path loses nothing (ids, full text bytes, nulls).

    Scale: export+import are distributed file ops (one shard per
    partition); the digest is a distributed agg."""
    from .sources.jsonl import jsonlexport, jsonlimport

    docs = _t(spark, sf_dir, "documents")
    path = _scratch("jsonl_rt")
    jsonlexport(docs, path)
    back = jsonlimport(
        spark, path,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).default
    h = _md5_xor_long("doc_id", "text", "lang", "source", "n_chars")
    return back.select(h.alias("h"), F.col("n_chars")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("n_chars").alias("total_chars"),
    )


ORACLE_JSONL_RT = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "docs",
       "checksum_xor",
       CAST("total_chars" AS BIGINT) AS "total_chars"
FROM (
SELECT count(*) AS docs,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(doc_id AS VARCHAR), '<N>'),
           coalesce(text, '<N>'),
           coalesce(lang, '<N>'),
           coalesce(source, '<N>'),
           coalesce(CAST(n_chars AS VARCHAR), '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       sum(n_chars) AS total_chars
FROM documents
) _bigint_cast
"""
gate(jsonl_roundtrip_checksum, ORACLE_JSONL_RT)


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (operators/merge.py compact_latest) —
    the CDC/upsert compaction idiom (reference analogue: chains carry
    updates append-only and the consumer picks the newest row per key,
    SURVEY §1.1 chains). One window over user_id; ties broken on
    event_id so both engines pick the same row. At 100 TB this is one
    hash exchange on the key; AQE splits skewed users."""
    from .operators.merge import compact_latest

    ev = _events(spark, sf_dir)
    return (
        compact_latest(ev, ["user_id"], "ts", ["event_id"])
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        )
    )


ORACLE_LATEST = """
WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
           FROM events),
r AS (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, event_id AS last_event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM r WHERE rn = 1
"""
gate(latest_event_per_user, ORACLE_LATEST)


def range_join_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — SURVEY §2.7's theta-join row: classify
    every event's value into a small table of [lo, hi) bands via a
    non-equi join condition. The band table is tiny and carries an
    explicit broadcast hint, so the plan is BroadcastNestedLoopJoin —
    each row tests ~5 intervals map-side, no shuffle, no cartesian
    blowup. That is the scale-correct shape whenever the interval side
    is bounded; interval trees / bucketized equi-prejoins only pay off
    when BOTH sides are large."""
    ev = _events(spark, sf_dir)
    bands = spark.createDataFrame(
        [("tiny", 0.0, 10.0), ("small", 10.0, 50.0), ("mid", 50.0, 200.0),
         ("large", 200.0, 1000.0), ("huge", 1000.0, 1e18)],
        ["band", "lo", "hi"],
    )
    joined = ev.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        "inner",
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("band")
    )


ORACLE_RANGE_JOIN = """
WITH bands(band, lo, hi) AS (
  VALUES ('tiny', 0.0, 10.0), ('small', 10.0, 50.0), ('mid', 50.0, 200.0),
         ('large', 200.0, 1000.0), ('huge', 1000.0, 1e18)
)
SELECT band, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY band ORDER BY band
"""
gate(range_join_value_buckets, ORACLE_RANGE_JOIN)


# =====================================================================
# Round 2 additions: analytics, storage layout, curation, streaming
# =====================================================================

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


def partitioned_pruning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: orders written
    partitionBy(year), re-read with a year predicate that prunes to ONE
    directory. The oracle computes the same aggregate from the flat
    table — a hash match proves the partitioned rewrite loses nothing
    and the pruned read returns exactly the partition's rows.

    Scale: partitioned layout is THE 100 TB table design — a year/date
    predicate then touches only matching directories (PartitionFilters
    in the scan, zero data read outside them). The rewrite itself is one
    shuffle-free pass (each task writes its rows into per-year files)."""

    orders = _t(spark, sf_dir, "orders")
    path = _scratch("part_orders")
    (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite").partitionBy("o_year").parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("o_year") == 1996)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_PART_PRUNE = """
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
FROM orders
WHERE date_part('year', o_orderdate) = 1996
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(partitioned_pruning_revenue, ORACLE_PART_PRUNE)


def orc_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink gate (columnar-format breadth beyond parquet):
    documents written to ORC, re-read, digested with the order-independent
    md5-xor checksum; the oracle digests the parquet directly. Both
    directions are distributed file ops — one shard per partition."""

    docs = _t(spark, sf_dir, "documents")
    path = _scratch("orc_rt")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    h = _md5_xor_long("doc_id", "text", "lang", "source", "n_chars")
    return back.select(h.alias("h"), F.col("n_chars")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("n_chars").alias("total_chars"),
    )


def overlay_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy column overlay gate (Dataset.write_overlay — reference
    ``parent=``/``link_to_here``, accelerator/dataset.py:864-941): nation
    is written as a base dataset, a derived column (name length) plus a
    VIRTUAL expression column are overlaid WITHOUT rewriting the base
    (only key+new-column parquet is written; base files byte-identical,
    unit-tested in test_core), and the overlay read — base scan + key
    join + scan-time expression — is digested. The oracle computes the
    same projection straight from the source table, proving the overlay
    read path is semantically a join it never had to materialize."""
    from .dataset import Dataset

    nation = _t(spark, sf_dir, "nation")
    root = _scratch("overlay_rt")
    base = Dataset.write(nation, f"{root}/base")
    new = nation.select("n_nationkey",
                        F.length("n_name").alias("name_len"))
    ov = Dataset.write_overlay(
        f"{root}/ov", base, new_cols=new, key="n_nationkey",
        virtual={"key_x2": "n_nationkey * 2"})
    back = ov.df(spark)
    h = _md5_xor_long("n_nationkey", "n_name", "n_regionkey", "name_len",
                      "key_x2")
    return back.select(h.alias("h"), "name_len").agg(
        F.count(F.lit(1)).alias("nations"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("name_len").alias("total_name_len"),
    )


ORACLE_OVERLAY_RT = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "nations",
       "checksum_xor",
       CAST("total_name_len" AS BIGINT) AS "total_name_len"
FROM (
SELECT count(*) AS nations,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(n_nationkey AS VARCHAR), '<N>'),
           coalesce(n_name, '<N>'),
           coalesce(CAST(n_regionkey AS VARCHAR), '<N>'),
           coalesce(CAST(length(n_name) AS VARCHAR), '<N>'),
           coalesce(CAST(n_nationkey * 2 AS VARCHAR), '<N>'))), 1, 15))
         AS BIGINT)) AS checksum_xor,
       sum(length(n_name)) AS total_name_len
FROM nation
) _bigint_cast
"""
gate(overlay_roundtrip_checksum, ORACLE_OVERLAY_RT)


ORACLE_ORC_RT = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "docs",
       "checksum_xor",
       CAST("total_chars" AS BIGINT) AS "total_chars"
FROM (
SELECT count(*) AS docs,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(doc_id AS VARCHAR), '<N>'),
           coalesce(text, '<N>'),
           coalesce(lang, '<N>'),
           coalesce(source, '<N>'),
           coalesce(CAST(n_chars AS VARCHAR), '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       sum(n_chars) AS total_chars
FROM documents
) _bigint_cast
"""
gate(orc_roundtrip_checksum, ORACLE_ORC_RT)


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-words linear quality classifier (the fastText-style
    scoring pass of LLM curation, run as pure column expressions): each
    token hashes (md5, 28-bit) into one of 64 buckets; each bucket carries
    a deterministic integer weight in [-6, 6]; a doc's score is the mean
    token weight; score > 0 = keep. Integer weight sums are EXACT, so both
    engines agree bit-for-bit before the final rounded division.

    Scale: map-only over the corpus (no shuffle until the per-lang
    roll-up); a real model swaps the weight expression for a broadcast
    weight-vector lookup — same plan shape."""
    from .operators.text import hashed_bow_score

    docs = _t(spark, sf_dir, "documents")
    d = hashed_bow_score(docs)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("wsum") > 0, 1).otherwise(0)).alias("n_good"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("lang")
    )


ORACLE_QUALITY_CLF = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "lang",
       "n_docs",
       CAST("n_good" AS BIGINT) AS "n_good",
       "avg_score"
FROM (
WITH s AS (
  -- ''-token filter mirrors operators/text.hashed_bow_score: split('')
  -- is [''], which must not hash into the weight sum
  SELECT lang,
         list_sum(list_transform(
           list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                       w -> w <> ''),
           w -> (CAST(('0x' || substring(md5(w), 1, 7)) AS BIGINT) % 64) % 13 - 6
         )) AS wsum,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         w -> w <> '')) AS n_toks
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       sum(CASE WHEN coalesce(wsum, 0) > 0 THEN 1 ELSE 0 END) AS n_good,
       round(avg(wsum / (6.0 * n_toks)), 4) AS avg_score
FROM s GROUP BY lang ORDER BY lang
) _bigint_cast
"""
gate(quality_classifier_score, ORACLE_QUALITY_CLF)


def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain reweighting / mixture sampling (the DoReMi-style corpus-mix
    step): each source gets a target weight (deterministic from its name),
    a 50%-of-corpus budget is split across sources proportionally to
    weight, and rows are kept by a reproducible md5-uniform draw at
    rate quota/count — integer-compared (h28·count < quota·2^28) so both
    engines make the identical keep decision with NO float threshold.

    Scale: the per-source count/quota table is O(#sources) — broadcast;
    the keep pass is map-only. Rates are engine- and partitioning-
    invariant (hash of doc_id), so the same sample falls out on any
    cluster size — the reference's reproducibility contract (SURVEY §1)
    applied to sampling."""
    from .operators.partition import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    # unbounded suffix + try_cast, matching the oracle's
    # TRY_CAST(substring(source, 4)) exactly: the old substring(4, 10)
    # truncated digits past position 13 and ANSI cast would THROW on a
    # non-numeric suffix where DuckDB's plain CAST also errors — now
    # both engines yield NULL weights for garbage names (review r5)
    wt = (F.substring("source", 4, 2147483647).try_cast("long") % 4 + 1)
    kept_df, quotas = mixture_sample(
        docs, "source", "doc_id", frac=0.5, weights=wt)
    kept = kept_df.groupBy("source").agg(F.count(F.lit(1)).alias("kept"))
    return (
        quotas.join(kept, "source", "left")
        .select(
            "source", "n_docs", "quota",
            F.coalesce("kept", F.lit(0)).alias("kept"),
        )
        .orderBy("source")
    )


ORACLE_MIXTURE = """
WITH w AS (
  SELECT doc_id, source,
         (TRY_CAST(substring(source, 4) AS BIGINT) % 4) + 1 AS wt
  FROM documents
), c AS (
  SELECT source, wt, count(*) AS n_docs FROM w GROUP BY source, wt
), t AS (
  SELECT sum(n_docs) AS total, sum(wt) AS wsum FROM c
), q AS (
  SELECT source, n_docs, wt,
         CAST(floor(0.5 * t.total * c.wt / t.wsum) AS BIGINT) AS quota
  FROM c, t
), k AS (
  SELECT w.source, count(*) AS kept
  FROM w JOIN q USING (source)
  WHERE CAST(('0x' || substring(md5(CAST(w.doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
        * q.n_docs < q.quota * 268435456
  GROUP BY w.source
)
SELECT q.source, q.n_docs, q.quota, coalesce(k.kept, 0) AS kept
FROM q LEFT JOIN k USING (source)
ORDER BY q.source
"""
gate(domain_mixture_sample, ORACLE_MIXTURE)


def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization via the JVM ``session_window``
    (gap 30 min) — the native stateful operator the reference has no
    analogue for (SURVEY §2.9). Drained with Trigger.AvailableNow to a
    memory sink; the oracle recomputes sessions in batch SQL with the
    gaps-and-islands lag/cumsum pattern (>= gap starts a new session, the
    session_window boundary rule) and aggregates identically. A hash
    match proves streaming state transitions ≡ the batch answer.

    Scale: session_window state is per (user, open session) and closes
    `gap` after the last event under the watermark — bounded state on an
    unbounded stream; one shuffle on user_id per microbatch."""
    ev = _stream_events(spark, sf_dir, "stream_sess")
    sess = (
        ev.withWatermark("ts", "10 days")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = "stream_sessions"
    q = (
        sess.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", _scratch("stream_sck"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "session stream drain exceeded 180s — refusing to return a "
            "partial memory sink (review r4)")
    return spark.table(name).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_STREAM_SESSIONS = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "n_sessions",
       CAST("n_events" AS BIGINT) AS "n_events",
       "max_session_events",
       "n_users"
FROM (
WITH ev AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
), flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ev
), sess AS (
  SELECT user_id,
         -- (ts, event_id) tiebreak matching the flag window: ordering
         -- the cumsum by ts alone assigned tied-timestamp rows to the
         -- wrong session when the tie straddled a boundary (review r4)
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), per AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT count(*) AS n_sessions, sum(n_events) AS n_events,
       max(n_events) AS max_session_events,
       count(DISTINCT user_id) AS n_users
FROM per
) _bigint_cast
"""
gate(streaming_session_counts, ORACLE_STREAM_SESSIONS)


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


def unpivot_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (``unpivot``/melt — the inverse of the pivot
    query): per-returnflag metric columns melted into (flag, metric,
    value) rows. Map-only after the tiny agg; reshaping never shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )
    return (
        wide.unpivot(
            ["l_returnflag"], ["sum_qty", "sum_price", "avg_disc"],
            "metric", "value",
        )
        .orderBy("l_returnflag", "metric")
    )


ORACLE_UNPIVOT = """
WITH wide AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         round(avg(l_discount), 4) AS avg_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value
FROM (UNPIVOT wide ON sum_qty, sum_price, avg_disc
      INTO NAME metric VALUE value)
ORDER BY l_returnflag, metric
"""
gate(unpivot_flag_metrics, ORACLE_UNPIVOT)


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


def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) matching with blocking — the
    entity-resolution primitive: count part PAIRS whose names are within
    levenshtein ≤ 2, compared only WITHIN blocks sharing the same last
    word (noun).

    Scale design: the quadratic compare runs on the DISTINCT-NAME
    dictionary (vocabulary-sized — 64 names here, maybe 10^5 at 100 TB),
    never the row stream; row-level pair counts come back via
    multiplicities (a·b for cross-name, C(a,2) within a name). A
    row-level self-join at 20k rows already cost 21s — the dictionary
    form is O(vocab²/blocks) regardless of table size."""
    part = _t(spark, sf_dir, "part")
    names = (
        part.groupBy(
            F.element_at(F.split(F.col("p_name"), " "), -1).alias("block"),
            F.col("p_name").alias("name"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("p_partkey").alias("min_key"))
    )
    a, b = names.alias("a"), names.alias("b")
    pairs = (
        a.join(b, "block")
        .filter(F.col("a.name") <= F.col("b.name"))
        .filter(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 2)
        .select(
            "block",
            F.when(
                F.col("a.name") == F.col("b.name"),
                F.col("a.cnt") * (F.col("a.cnt") - 1) / 2,
            ).otherwise(F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("n_pairs"),
            F.least("a.min_key", "b.min_key").alias("min_key"),
        )
    )
    return (
        pairs.groupBy("block")
        .agg(F.sum("n_pairs").alias("n_pairs"), F.min("min_key").alias("min_key"))
        .orderBy("block")
    )


ORACLE_FUZZY = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "block",
       CAST("n_pairs" AS BIGINT) AS "n_pairs",
       "min_key"
FROM (
WITH names AS (
  SELECT regexp_split_to_array(p_name, ' ')[-1] AS block, p_name AS name,
         count(*) AS cnt, min(p_partkey) AS min_key
  FROM part GROUP BY 1, 2
), pairs AS (
  SELECT a.block,
         CAST(CASE WHEN a.name = b.name THEN a.cnt * (a.cnt - 1) / 2
              ELSE a.cnt * b.cnt END AS BIGINT) AS n_pairs,
         least(a.min_key, b.min_key) AS min_key
  FROM names a JOIN names b ON a.block = b.block
  WHERE a.name <= b.name AND levenshtein(a.name, b.name) <= 2
)
SELECT block, sum(n_pairs) AS n_pairs, min(min_key) AS min_key
FROM pairs GROUP BY block ORDER BY block
) _bigint_cast
"""
gate(fuzzy_part_name_pairs, ORACLE_FUZZY)


def cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (operators/merge.py apply_changes): a deterministic
    change set — price-bump updates for keys ≡3 (mod 10), deletes for
    keys ≡7 (mod 10), fresh inserts for keys ≡0 (mod 97) — applied to
    orders in ONE full-outer hash join; the oracle states the merged
    result set-theoretically. Hash match proves upsert/delete/insert
    semantics row-for-row.

    Scale: the change set shuffles only itself; the base shuffles once
    on the key (or not at all if already bucketed on it). This is the
    compaction step of an incremental 100 TB table."""
    from .operators.merge import apply_changes

    orders = _t(spark, sf_dir, "orders")
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("op", F.lit("U"))
    )
    deletes = (
        orders.filter(F.col("o_orderkey") % 10 == 7)
        .withColumn("op", F.lit("D"))
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 97 == 0)
        # -(k+1), not +10M: orderkeys grow with SF (~1.5M x SF), so a
        # fixed offset collides with real keys at SF >~ 7 and the
        # "insert" silently became an update, diverging from the oracle
        # and violating apply_changes' one-change-per-key contract
        # (review r4). Keys are >= 0, so -(k+1) <= -1 never collides.
        .withColumn("o_orderkey", -(F.col("o_orderkey") + 1))
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("o_totalprice", F.lit(42.0))
        .withColumn("op", F.lit("U"))
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = apply_changes(orders, changes, "o_orderkey")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_CDC_MERGE = """
WITH merged AS (
  SELECT o_orderkey, o_orderstatus,
         o_totalprice + (CASE WHEN o_orderkey % 10 = 3 THEN 1000.0 ELSE 0 END) AS p
  FROM orders WHERE o_orderkey % 10 <> 7
  UNION ALL
  SELECT -(o_orderkey + 1), 'N', 42.0
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT o_orderstatus, count(*) AS n, round(sum(p), 2) AS sum_price,
       max(o_orderkey) AS max_key
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(cdc_merge_orders, ORACLE_CDC_MERGE)


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


def vector_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function breadth over embeddings: per-vector
    L2 norm (transform+aggregate fold), reverse-self dot product
    (zip_with), mean dimension value — rolled up per label. Everything
    stays a JVM columnar expression (no UDF, no shuffle before the tiny
    per-label agg); both engines fold arrays left-to-right so the
    float math agrees to well past the rounded digits."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    rdot = F.aggregate(
        F.zip_with(v, F.reverse(v), lambda a, b: a * b),
        F.lit(0.0), lambda a, x: a + x)
    meandim = F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size("embedding")
    d = emb.select(
        "label", norm.alias("norm"), rdot.alias("rdot"), meandim.alias("meandim"))
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.avg("rdot"), 4).alias("avg_reverse_dot"),
            F.round(F.avg("meandim"), 4).alias("avg_mean_dim"),
        )
        .orderBy("label")
    )


ORACLE_VECTOR_SUITE = """
WITH d AS (
  SELECT label,
         sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b)) AS norm,
         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
              list_reverse(list_transform(embedding, x -> CAST(x AS DOUBLE))))
              AS rdot,
         list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
              (a, b) -> a + b) / len(embedding) AS meandim
  FROM embeddings
)
SELECT label, count(*) AS n,
       round(avg(norm), 4) AS avg_norm,
       round(avg(rdot), 4) AS avg_reverse_dot,
       round(avg(meandim), 4) AS avg_mean_dim
FROM d GROUP BY label ORDER BY label
"""
gate(vector_arithmetic_suite, ORACLE_VECTOR_SUITE)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (the RAG / context-window
    prep step): 50-token chunks, stride 40 (10-token overlap), chunks
    MATERIALIZED via sequence+explode+slice — all JVM array expressions —
    then rolled up per source. n_chunks = 1 + ceil((n-50)/40) for n>50.

    Scale: map-only explode (row → its own chunks, no cross-row data),
    one shuffle into the tiny per-source agg. Chunk explosion is bounded
    by token count / stride — linear in corpus size."""
    from .operators.text import chunk_tokens

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_tokens(docs, size=50, stride=40, carry=["source"]).select(
        "source", F.size("chunk_toks").alias("chunk_tokens"))
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").alias("total_chunk_tokens"),
            F.min("chunk_tokens").alias("min_chunk_tokens"),
            F.max("chunk_tokens").alias("max_chunk_tokens"),
        )
        .orderBy("source")
    )


ORACLE_CHUNKS = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "source",
       "n_chunks",
       CAST("total_chunk_tokens" AS BIGINT) AS "total_chunk_tokens",
       "min_chunk_tokens",
       "max_chunk_tokens"
FROM (
WITH d AS (
  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks,
         -- empty/whitespace-only docs have 0 tokens hence 0 chunks
         -- (mirrors operators/text.chunk_tokens, review r5)
         CASE WHEN NOT regexp_matches(text, '\\S') THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
  FROM documents
), sized AS (
  SELECT source, toks, n,
         CASE WHEN n = 0 THEN 0
              WHEN n <= 50 THEN 1
              ELSE CAST(ceil((n - 50) / 40.0) AS BIGINT) + 1 END AS n_chunks
  FROM d
), chunks AS (
  SELECT source,
         len(toks[(ci.g * 40 + 1):least(ci.g * 40 + 50, n)]) AS chunk_tokens
  FROM sized, unnest(generate_series(0, n_chunks - 1)) ci(g)
)
SELECT source, count(*) AS n_chunks,
       sum(chunk_tokens) AS total_chunk_tokens,
       min(chunk_tokens) AS min_chunk_tokens,
       max(chunk_tokens) AS max_chunk_tokens
FROM chunks GROUP BY source ORDER BY source
) _bigint_cast
"""
gate(chunk_documents, ORACLE_CHUNKS)


def datetime_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar-function breadth (the dataset_type datetime menu's
    query-side complement): quarter, day-of-week, last-day-of-month,
    date arithmetic — engine-portable spellings (Spark dayofweek is
    1=Sunday, DuckDB 0=Sunday; the oracle shifts by one). Single scan,
    tiny agg."""
    orders = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        orders.select(
            F.year(d).alias("y"),
            F.quarter(d).alias("q"),
            F.dayofweek(d).alias("dow"),
            F.dayofmonth(F.last_day(d)).alias("month_len"),
            F.datediff(F.date_add(d, 90), d).alias("plus90"),
        )
        .groupBy("y", "q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("dow").isin(1, 7), 1).otherwise(0)).alias("n_weekend"),
            F.max("month_len").alias("max_month_len"),
            F.min("month_len").alias("min_month_len"),
            F.max("plus90").alias("plus90_const"),
        )
        .orderBy("y", "q")
    )


ORACLE_DATETIME_SWEEP = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "y",
       "q",
       "n",
       CAST("n_weekend" AS BIGINT) AS "n_weekend",
       "max_month_len",
       "min_month_len",
       "plus90_const"
FROM (
WITH d AS (
  SELECT year(CAST(o_orderdate AS DATE)) AS y,
         quarter(CAST(o_orderdate AS DATE)) AS q,
         dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
         day(last_day(CAST(o_orderdate AS DATE))) AS month_len,
         90 AS plus90
  FROM orders
)
SELECT y, q, count(*) AS n,
       sum(CASE WHEN dow IN (1, 7) THEN 1 ELSE 0 END) AS n_weekend,
       max(month_len) AS max_month_len,
       min(month_len) AS min_month_len,
       max(plus90) AS plus90_const
FROM d GROUP BY y, q ORDER BY y, q
) _bigint_cast
"""
gate(datetime_function_sweep, ORACLE_DATETIME_SWEEP)


def string_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function breadth (translate, lpad, instr, reverse,
    repeat, replace — engine-portable spellings): one part scan, tiny
    per-type agg. The reference has no scalar string library at all
    (plain Python in translators, SURVEY §2.8) — this pins the F.*
    superset surface."""
    part = _t(spark, sf_dir, "part")
    d = part.select(
        "p_type",
        F.translate("p_name", "aeiou", "AEIOU").alias("tr"),
        F.lpad("p_brand", 12, "*").alias("pad"),
        F.instr(F.col("p_name"), " ").alias("sp_pos"),
        F.reverse(F.col("p_name")).alias("rev"),
        F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit("__"))).alias("rep_len"),
        F.length(F.repeat(F.col("p_brand"), 2)).alias("rep2_len"),
    )
    return (
        d.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sp_pos").alias("sum_space_pos"),
            F.sum("rep_len").alias("sum_rep_len"),
            F.sum("rep2_len").alias("sum_rep2_len"),
            F.min("tr").alias("min_translated"),
            F.max("rev").alias("max_reversed"),
            F.max("pad").alias("max_padded"),
        )
        .orderBy("p_type")
    )


ORACLE_STRING_SWEEP = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "p_type",
       "n",
       CAST("sum_space_pos" AS BIGINT) AS "sum_space_pos",
       CAST("sum_rep_len" AS BIGINT) AS "sum_rep_len",
       CAST("sum_rep2_len" AS BIGINT) AS "sum_rep2_len",
       "min_translated",
       "max_reversed",
       "max_padded"
FROM (
WITH d AS (
  SELECT p_type,
         translate(p_name, 'aeiou', 'AEIOU') AS tr,
         lpad(p_brand, 12, '*') AS pad,
         instr(p_name, ' ') AS sp_pos,
         reverse(p_name) AS rev,
         length(replace(p_name, ' ', '__')) AS rep_len,
         length(repeat(p_brand, 2)) AS rep2_len
  FROM part
)
SELECT p_type, count(*) AS n,
       sum(sp_pos) AS sum_space_pos,
       sum(rep_len) AS sum_rep_len,
       sum(rep2_len) AS sum_rep2_len,
       min(tr) AS min_translated,
       max(rev) AS max_reversed,
       max(pad) AS max_padded
FROM d GROUP BY p_type ORDER BY p_type
) _bigint_cast
"""
gate(string_function_sweep, ORACLE_STRING_SWEEP)


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the IVF index (8 cells,
    n_probe=2) against the exact brute-force top-5, per query — the
    measurement that justifies an approximate index before pointing it
    at a corpus. Composes the two existing operators; the oracle replays
    BOTH pipelines in SQL and joins them, so even the evaluation is
    hash-checked.

    Scale: exact side is n_q×corpus (the evaluation cost, run on a
    sample); IVF side is n_q×corpus×(n_probe/n_cells). Recall < 1 is
    expected and part of the oracle-pinned answer."""
    from .operators.similarity import brute_force_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))
    cents = emb.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, qs, k=5).select("q_id", "c_id")
    approx = ivf_topk(emb, qs, cents, k=5, n_probe=2).select("q_id", "c_id")
    hits = approx.join(exact, ["q_id", "c_id"])
    per_q = hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        qs.select(F.col("vec_id").alias("q_id"))
        .join(per_q, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 5.0, 2).alias("recall_at_5"),
        )
        .orderBy("q_id")
    )


ORACLE_ANN_RECALL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id >= 8 AND vec_id < 13
), exact AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, c_id ASC) AS rank
    FROM (SELECT q.q_id, e.vec_id AS c_id,
                 {_COS.format(a='q.q_emb', b='e.embedding')} AS cosine
          FROM q, embeddings e WHERE e.vec_id <> q.q_id)
  ) WHERE rank <= 5
), cent AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), assign AS (
  SELECT vec_id, embedding, c_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM (SELECT e.vec_id, e.embedding, cent.c_id,
               {_COS.format(a='e.embedding', b='cent.c_emb')} AS cos
        FROM embeddings e, cent)
), cor AS (
  SELECT vec_id AS cand_id, embedding AS cand_emb, c_id AS centroid_id
  FROM assign WHERE rn = 1
), probes AS (
  SELECT q_id, q_emb, c_id AS centroid_id FROM (
    SELECT q.q_id, q.q_emb, cent.c_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_COS.format(a='q.q_emb', b='cent.c_emb')} DESC,
                                       cent.c_id ASC) AS rn
    FROM q, cent)
  WHERE rn <= 2
), approx AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, c_id ASC) AS rank
    FROM (SELECT q_id, cand_id AS c_id,
                 {_COS.format(a='q_emb', b='cand_emb')} AS cosine
          FROM probes JOIN cor USING (centroid_id)
          WHERE cand_id <> q_id)
  ) WHERE rank <= 5
), hits AS (
  SELECT a.q_id, count(*) AS n_hits
  FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.c_id = x.c_id
  GROUP BY a.q_id
)
SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
       round(coalesce(h.n_hits, 0) / 5.0, 2) AS recall_at_5
FROM q LEFT JOIN hits h USING (q_id)
ORDER BY q.q_id
"""
gate(ann_recall_report, ORACLE_ANN_RECALL)


# The later suites live in queries2..6.py; importing them runs their
# gate(...) lines.
from . import queries2, queries3, queries4, queries5, queries6  # noqa: E402,F401
