"""Relational gates (SURVEY §2.6 aggregation, §2.7 joins, §2.4
sort/top-k): the TPC-H analogues, semi/anti joins, top-k, rollup /
cube / grouping sets, pivot / unpivot, set operations, range, star,
point-in-time and interval joins, null semantics and the SQL-string
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import gate
from ._common import _events, _md5_xor_long, _t
from ..operators.grouped import grouped_agg_udaf, grouped_count_udaf
from ..operators.merge import interval_join
from ..operators.partition import salted_join
from ..sqlapi import sql


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


# =====================================================================
# Pivot / cube / set-ops / subquery shapes (native new surface
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
    return sql(spark, sf_dir, _SQL_MULTI_SUPPLIER)


gate(sql_multi_supplier_orders, _SQL_MULTI_SUPPLIER)


def udaf_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas GROUPED_AGG UDAF through the gate: per-segment median
    account balance via an Arrow-batched Python aggregator
    (operators/grouped.py grouped_agg_udaf). DuckDB's exact median is
    the oracle. The plan is a normal partial-less hash agg with one
    Python stage per group — the UDAF escape hatch, kept out of hot
    paths by design (SCALE.md)."""
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


# =====================================================================
# Join, reshape and aggregate breadth
# =====================================================================

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


def null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI null semantics breadth on a derived column with real nulls
    (status 'O' -> NULL): count vs count(col), distinct-with-null,
    null-safe equality (<=> / IS NOT DISTINCT FROM), aggregates over
    all-null groups, coalesce/nullif/nvl2 — the rules every engine must
    agree on for the rest of the suite to be trustworthy."""
    return sql(spark, sf_dir, """
WITH t AS (
  SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st, o_totalprice
  FROM orders
)
SELECT count(*) AS n_rows,
       count(st) AS n_nonnull,
       count(DISTINCT st) AS n_distinct_nonnull,
       sum(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS n_null,
       count(CASE WHEN st <=> NULL THEN 1 END) AS n_nullsafe_eq_null,
       round(sum(CASE WHEN st IS NULL THEN o_totalprice END) / 1000, 2)
         AS sum_null_group_k,
       min(coalesce(st, 'zz')) AS min_coalesced,
       count(nvl2(st, 1, NULL)) AS n_nvl2
FROM t
""")


ORACLE_NULL_SEMANTICS = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "n_rows",
       "n_nonnull",
       "n_distinct_nonnull",
       CAST("n_null" AS BIGINT) AS "n_null",
       "n_nullsafe_eq_null",
       "sum_null_group_k",
       "min_coalesced",
       "n_nvl2"
FROM (
WITH t AS (
  SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st, o_totalprice
  FROM orders
)
SELECT count(*) AS n_rows,
       count(st) AS n_nonnull,
       count(DISTINCT st) AS n_distinct_nonnull,
       sum(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS n_null,
       count(CASE WHEN st IS NOT DISTINCT FROM NULL THEN 1 END)
         AS n_nullsafe_eq_null,
       round(sum(CASE WHEN st IS NULL THEN o_totalprice END) / 1000, 2)
         AS sum_null_group_k,
       min(coalesce(st, 'zz')) AS min_coalesced,
       count(CASE WHEN st IS NOT NULL THEN 1 END) AS n_nvl2
FROM t
) _bigint_cast
"""
gate(null_semantics_suite, ORACLE_NULL_SEMANTICS)


def wide_denormalize_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full star-schema denormalization (lineitem ⨝ orders ⨝ customer ⨝
    nation ⨝ region ⨝ part ⨝ supplier — the widest join pipeline in the
    suite, the shape of every warehouse export), digested to one row
    (count / md5-xor checksum / revenue). Dims are unhinted: AQE
    broadcasts them while they fit and demotes when they don't — the
    same plan survives 100 TB. The only repartition-grade shuffle is
    lineitem ⨝ orders."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    wide = (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(nation, cust.c_nationkey == nation.n_nationkey)
            .join(region, nation.n_regionkey == region.r_regionkey)
            .join(part, li.l_partkey == part.p_partkey)
            .join(supp, li.l_suppkey == supp.s_suppkey))
    h = _md5_xor_long("l_orderkey", "l_linenumber", "o_orderstatus",
                      "c_mktsegment", "n_name", "r_name", "p_brand",
                      "s_name")
    return wide.select(h.alias("h"), "l_extendedprice").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor("h").alias("checksum_xor"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"))


ORACLE_WIDE_DENORM = """
SELECT count(*) AS n_rows,
       bit_xor(CAST(('0x' || substring(md5(concat_ws(chr(31),
           coalesce(CAST(l_orderkey AS VARCHAR), '<N>'),
           coalesce(CAST(l_linenumber AS VARCHAR), '<N>'),
           coalesce(o_orderstatus, '<N>'),
           coalesce(c_mktsegment, '<N>'),
           coalesce(n_name, '<N>'),
           coalesce(r_name, '<N>'),
           coalesce(p_brand, '<N>'),
           coalesce(s_name, '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
"""
gate(wide_denormalize_checksum, ORACLE_WIDE_DENORM)


def string_agg_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG — the SQL:2023
    surface): per status, the distinct priorities concatenated in
    order. Spark spells it WITHIN GROUP (ORDER BY), DuckDB takes the
    ORDER BY inline; same semantics."""
    # DISTINCT is pre-applied in a subquery: Spark 4.1's
    # string_agg(DISTINCT ...) WITHIN GROUP combination hits a
    # ClassCastException (SortOrder cast) — the subquery form is also
    # the better plan (distinct shrinks before the agg)
    return sql(spark, sf_dir, """
SELECT o_orderstatus,
       string_agg(o_orderpriority, '|')
         WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
       count(*) AS n_priorities
FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
GROUP BY o_orderstatus ORDER BY o_orderstatus
""")


ORACLE_STRING_AGG = """
SELECT o_orderstatus,
       string_agg(o_orderpriority, '|' ORDER BY o_orderpriority)
         AS priorities,
       count(*) AS n_priorities
FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(string_agg_priorities, ORACLE_STRING_AGG)


def argmax_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (Spark) ≡ arg_max / arg_min (DuckDB): the
    which-row-holds-the-extreme aggregate without a window. Tie-proof
    via EXACT integer arithmetic: cents * 1e10 + key (review r5 — the
    old float fold price + key*1e-9 collapses once keys reach ~1e7,
    the same double-granularity collision class as the cdc_merge
    offset bug). Cents are exact to price < $9.2M and keys to 1e10,
    far past any realistic SF."""
    expr = ("cast(round(o_totalprice * 100) AS BIGINT) * 10000000000 "
            "+ o_orderkey")
    return sql(spark, sf_dir, f"""
SELECT o_orderstatus,
       max_by(o_orderkey, {expr}) AS priciest_order,
       min_by(o_orderkey, {expr}) AS cheapest_order,
       round(max(o_totalprice), 2) AS max_price,
       round(min(o_totalprice), 2) AS min_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")


ORACLE_ARGMAX = """
SELECT o_orderstatus,
       arg_max(o_orderkey, cast(round(o_totalprice * 100) AS BIGINT)
                           * 10000000000 + o_orderkey) AS priciest_order,
       arg_min(o_orderkey, cast(round(o_totalprice * 100) AS BIGINT)
                           * 10000000000 + o_orderkey) AS cheapest_order,
       round(max(o_totalprice), 2) AS max_price,
       round(min(o_totalprice), 2) AS min_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(argmax_suite, ORACLE_ARGMAX)


_GROUP_BY_ALL_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


def group_by_all_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL sugar parity: GROUP BY ALL / ORDER BY ALL — the
    IDENTICAL text runs on both engines (Spark 4 and DuckDB both
    implement the clause)."""
    return sql(spark, sf_dir, _GROUP_BY_ALL_SQL)


gate(group_by_all_sql, _GROUP_BY_ALL_SQL)


def pit_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness across grains: a customer's "priority
    regime" dimension (validity intervals from consecutive orders:
    [order date, next order date), attribute = that order's priority)
    joined to lineitem SHIP events — each shipment priced under the
    regime in force AT SHIP TIME, never a later one (the leakage a
    feature store exists to prevent). Join shape: equi on custkey +
    interval containment; per-customer interval counts are bounded
    (~orders per customer), so the range filter after the key join
    expands each fact row by a small constant."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    wd = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = orders.select(
        "o_custkey", "o_orderpriority",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(wd).alias("valid_to"))
    fact = (li.join(orders.select("o_orderkey", "o_custkey"),
                    li.l_orderkey == orders.o_orderkey)
            .select("o_custkey", "l_shipdate", "l_extendedprice"))
    pit = fact.join(
        dim,
        (fact.o_custkey == dim.o_custkey)
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull()
           | (F.col("l_shipdate") < F.col("valid_to"))))
    return (pit.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_shipments"),
                 F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
            .orderBy("o_orderpriority"))


ORACLE_PIT_JOIN = """
WITH dim AS (
  SELECT o_custkey, o_orderpriority,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
           AS valid_to
  FROM orders
), fact AS (
  SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT d.o_orderpriority, count(*) AS n_shipments,
       round(sum(f.l_extendedprice), 2) AS revenue
FROM fact f JOIN dim d
  ON f.o_custkey = d.o_custkey
 AND f.l_shipdate >= d.valid_from
 AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
GROUP BY d.o_orderpriority ORDER BY d.o_orderpriority
"""
gate(pit_join_revenue, ORACLE_PIT_JOIN)


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap join end-to-end: every event becomes a half-open
    interval (start = epoch ts, length = event_id-derived), a sparse
    subset becomes ±300 s incident windows, and ``interval_join``
    pairs them per user-bucket via the bin trick (equi-join on
    covering bins, owner-bin pair-once dedup, exact predicate last —
    never a cross product). The oracle is the naive SQL overlap join.
    Output: per window, overlap count + first overlapping event."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", (F.col("user_id") % 4).alias("k"),
        F.unix_timestamp("ts").alias("start"))
    left = (base.filter(F.col("event_id") % 5 != 0)
            .withColumn("end", F.col("start")
                        + F.col("event_id") % 120 + 1))
    right = (base.filter(F.col("event_id") % 97 == 0)
             .select("event_id", "k",
                     (F.col("start") - 300).alias("start"),
                     (F.col("start") + 300).alias("end")))
    pairs = interval_join(left, right, by="k", bin_width=256)
    return (pairs.groupBy(F.col("r_event_id").alias("window_id"))
            .agg(F.count(F.lit(1)).alias("n_overlaps"),
                 F.min("l_event_id").alias("first_event")))


ORACLE_INTERVAL_OVERLAP = """
WITH base AS (
  SELECT event_id, user_id % 4 AS k,
         CAST(epoch(ts) AS BIGINT) AS start
  FROM events
), l AS (
  SELECT event_id, k, start, start + event_id % 120 + 1 AS "end"
  FROM base WHERE event_id % 5 <> 0
), r AS (
  SELECT event_id, k, start - 300 AS start, start + 300 AS "end"
  FROM base WHERE event_id % 97 = 0
)
SELECT r.event_id AS window_id,
       count(*) AS n_overlaps,
       min(l.event_id) AS first_event
FROM l JOIN r ON l.k = r.k
  AND l.start < r."end" AND r.start < l."end"
GROUP BY r.event_id
"""
gate(interval_overlap_join, ORACLE_INTERVAL_OVERLAP)
