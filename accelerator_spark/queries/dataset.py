"""Dataset and engine-operation gates: typing (SURVEY §2.8
dataset_type), checksums (§2.6 dataset_checksum), hash partitioning,
sort, merge, range filters, chains and overlays, partition pruning,
schema evolution, profiling and constraint checks, CDC merge and
latest-row compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gate
from ._common import _events, _md5_xor_long, _scratch, _spread, _t
from ..dataset import Dataset
from ..functions.conversions import convert_expr, dataset_type
from ..operators.merge import apply_changes
from ..operators.partition import hashpart
from ..operators.profile import check_constraints, profile


def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (SURVEY §2.5 — absent in the reference, native here)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


ORACLE_DISTINCT = "SELECT DISTINCT c_mktsegment FROM customer"
gate(distinct_segments, ORACLE_DISTINCT)


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


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (operators/merge.py compact_latest) —
    the CDC/upsert compaction idiom (reference analogue: chains carry
    updates append-only and the consumer picks the newest row per key,
    SURVEY §1.1 chains). One window over user_id; ties broken on
    event_id so both engines pick the same row. At 100 TB this is one
    hash exchange on the key; AQE splits skewed users."""
    # imported per call: a test swaps this operator on its module
    from ..operators.merge import compact_latest

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


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile of orders (count / nulls / exact
    distinct / min / max as strings) — the distributed `ax ds` (the
    reference prints per-column min/max from metadata; we compute the
    full profile in a single agg over one scan)."""
    # r12 (guide §2.5): the multi-countDistinct agg plans through an
    # Expand that multiplies the input x(distinct cols + 1); on the
    # single-row-group scan that whole expansion ran on one core.
    orders = _spread(_t(spark, sf_dir, "orders"))
    return (profile(orders).withColumnRenamed("column", "col_name")
            .orderBy("col_name"))


ORACLE_PROFILE = """
SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
       count(*) - count(o_orderkey) AS n_nulls,
       count(DISTINCT o_orderkey) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_value,
       CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
UNION ALL
SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
       count(DISTINCT o_custkey),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
       count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
       count(DISTINCT o_totalprice),
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
       count(DISTINCT o_orderdate),
       strftime(min(CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S'),
       strftime(max(CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
       count(DISTINCT o_orderpriority), min(o_orderpriority),
       max(o_orderpriority)
FROM orders
ORDER BY col_name
"""
gate(profile_orders, ORACLE_PROFILE)


def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint validation (operators/profile.
    check_constraints) over orders with a deterministic set of planted
    violations (a bad-status/negative-price/duplicate-key/orphan-FK row
    per class), so every rule class demonstrably fires. Row-level rules
    fold into ONE conditional-sum pass; unique and FK run as their own
    minimal shuffle/join jobs."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    bad = spark.createDataFrame(
        [(-1, 1, "X", 100.0),        # bad status
         (-2, 1, "O", -5.0),         # negative price
         (1, 1, "O", 50.0),          # duplicate of real key 1
         (-3, -999999, "F", 60.0)],  # orphan custkey
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double")
    full = orders.unionByName(bad)
    customer = _t(spark, sf_dir, "customer")
    rep = check_constraints(
        full,
        not_null=["o_orderkey"],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
        ranges={"o_totalprice": (0.0, 1e7)},
        unique=["o_orderkey"],
        foreign_keys=[("o_custkey", customer, "c_custkey")])
    return rep.orderBy("rule")


ORACLE_QUALITY_CHECKS = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "rule",
       CAST("n_violations" AS BIGINT) AS "n_violations"
FROM (
WITH bad(o_orderkey, o_custkey, o_orderstatus, o_totalprice) AS (
  VALUES (-1, 1, 'X', 100.0), (-2, 1, 'O', -5.0),
         (1, 1, 'O', 50.0), (-3, -999999, 'F', 60.0)
), full_t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
  UNION ALL SELECT * FROM bad
)
SELECT 'accepted_values:o_orderstatus' AS rule,
       count(*) FILTER (o_orderstatus NOT IN ('O','F','P')
                        OR o_orderstatus IS NULL) AS n_violations FROM full_t
UNION ALL
SELECT 'foreign_key:o_custkey->c_custkey',
       count(*) FILTER (o_custkey NOT IN (SELECT c_custkey FROM customer))
FROM full_t
UNION ALL
SELECT 'not_null:o_orderkey',
       count(*) FILTER (o_orderkey IS NULL) FROM full_t
UNION ALL
SELECT 'range:o_totalprice',
       count(*) FILTER (o_totalprice NOT BETWEEN 0 AND 1e7
                        OR o_totalprice IS NULL) FROM full_t
UNION ALL
SELECT 'unique:o_orderkey', coalesce(sum(c - 1), 0) FROM (
  -- NULL keys are not uniqueness violations (dbt/SQL UNIQUE semantics,
  -- mirrored in operators/profile.check_constraints)
  SELECT count(*) AS c FROM full_t WHERE o_orderkey IS NOT NULL
  GROUP BY o_orderkey HAVING count(*) > 1)
ORDER BY rule
) _bigint_cast
"""
gate(orders_quality_report, ORACLE_QUALITY_CHECKS)


def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 of a table lacks a column
    that generation 2 added; mergeSchema=true reconciles the footers and
    nulls the missing column — how a long-lived 100 TB table absorbs
    schema change without rewriting history. The oracle replays the
    generation split from the flat table."""

    orders = _t(spark, sf_dir, "orders")
    path = _scratch("schevo")
    (orders.filter(F.col("o_orderkey") % 2 == 0)
     .select("o_orderkey", "o_totalprice")
     .write.mode("overwrite").parquet(path + "/g=1"))
    (orders.filter(F.col("o_orderkey") % 2 == 1)
     .select("o_orderkey", "o_totalprice", "o_orderstatus")
     .write.mode("overwrite").parquet(path + "/g=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        path + "/g=1", path + "/g=2")
    return (back.groupBy(F.coalesce("o_orderstatus", F.lit("<missing>"))
                         .alias("status"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"))
            .orderBy("status"))


ORACLE_SCHEMA_EVO = """
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
            ELSE '<missing>' END AS status,
       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
FROM orders GROUP BY 1 ORDER BY status
"""
gate(schema_evolution_union, ORACLE_SCHEMA_EVO)
