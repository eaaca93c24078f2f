"""Scalar and semi-structured function gates: JSON and Variant
extraction, MAP higher-order functions, bitwise / array / regex /
datetime / string sweeps, and ANSI try_* arithmetic and number
boundaries (Spark 4 runs ANSI mode by default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gate
from ._common import _events, _t
from ..sqlapi import sql


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


def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path for semi-structured columns: parse_json
    once into a variant, typed variant_get extraction, aggregate. The
    binary variant encoding makes repeated field access O(1) vs
    re-parsing JSON text per access (get_json_object) — the idiomatic
    upgrade of the reference's `json` column type (SURVEY §1.2)."""
    ev = _events(spark, sf_dir)
    v = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"))
    return (v.groupBy("event_type")
            .agg(F.count("k").alias("n_with_k"),
                 F.countDistinct("k").alias("distinct_k"),
                 F.round(F.avg("k"), 2).alias("avg_k"),
                 F.countDistinct("day").alias("n_days"))
            .orderBy("event_type"))


ORACLE_VARIANT_PROPS = """
SELECT event_type,
       count(CAST(props->>'k' AS BIGINT)) AS n_with_k,
       count(DISTINCT CAST(props->>'k' AS BIGINT)) AS distinct_k,
       round(avg(CAST(props->>'k' AS BIGINT)), 2) AS avg_k,
       count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days
FROM events GROUP BY event_type ORDER BY event_type
"""
gate(variant_props_stats, ORACLE_VARIANT_PROPS)


def map_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType higher-order breadth: build a per-user event_type→count
    map (map_from_entries), transform_values, map_filter, map_entries
    render, and an aggregate fold over map_values — all JVM expressions.
    DuckDB has no map lambdas, so the oracle replicates from the
    flat (type, count) stream — same values, proving the map pipeline
    computes the relational answer."""
    ev = _events(spark, sf_dir)
    ev.createOrReplaceTempView("events_mapfn")
    return spark.sql("""
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events_mapfn WHERE user_id < 5 GROUP BY user_id, event_type
), m AS (
  SELECT user_id,
         map_from_entries(sort_array(collect_list(struct(event_type, n)))) AS m
  FROM c GROUP BY user_id
)
SELECT user_id,
       size(m) AS n_types,
       concat_ws(',',
         transform(
           sort_array(map_entries(
             map_filter(transform_values(m, (k, v) -> v * 2),
                        (k, v) -> v > 20))),
           e -> concat(e.key, '=', e.value))) AS big_counts,
       aggregate(map_values(m), 0L, (a, b) -> a + b) AS total
FROM m ORDER BY user_id
""")


ORACLE_MAP_FUNCTIONS = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "user_id",
       "n_types",
       "big_counts",
       CAST("total" AS BIGINT) AS "total"
FROM (
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events WHERE user_id < 5 GROUP BY user_id, event_type
)
SELECT user_id, count(*) AS n_types,
       coalesce(string_agg(
         CASE WHEN n * 2 > 20 THEN event_type || '=' || (n * 2) END,
         ',' ORDER BY event_type), '') AS big_counts,
       sum(n) AS total
FROM c GROUP BY user_id ORDER BY user_id
) _bigint_cast
"""
gate(map_functions_suite, ORACLE_MAP_FUNCTIONS)


def bitwise_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar breadth over order keys: and/or/xor, shifts,
    popcount — aggregated so the gate covers every row's results."""
    return sql(spark, sf_dir, """
SELECT o_orderstatus,
       sum(o_orderkey & 255) AS sum_and,
       sum(o_orderkey | 15) AS sum_or,
       sum(o_orderkey ^ 60) AS sum_xor,
       sum(shiftleft(o_orderkey & 7, 3)) AS sum_shl,
       sum(shiftright(o_orderkey, 4)) AS sum_shr,
       sum(bit_count(o_orderkey)) AS sum_popcount
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")


ORACLE_BITWISE = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "o_orderstatus",
       CAST("sum_and" AS BIGINT) AS "sum_and",
       CAST("sum_or" AS BIGINT) AS "sum_or",
       CAST("sum_xor" AS BIGINT) AS "sum_xor",
       CAST("sum_shl" AS BIGINT) AS "sum_shl",
       CAST("sum_shr" AS BIGINT) AS "sum_shr",
       CAST("sum_popcount" AS BIGINT) AS "sum_popcount"
FROM (
SELECT o_orderstatus,
       sum(o_orderkey & 255) AS sum_and,
       sum(o_orderkey | 15) AS sum_or,
       sum(xor(o_orderkey, 60)) AS sum_xor,
       sum((o_orderkey & 7) * 8) AS sum_shl,
       sum(o_orderkey // 16) AS sum_shr,
       sum(bit_count(o_orderkey)) AS sum_popcount
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
) _bigint_cast
"""
gate(bitwise_function_sweep, ORACLE_BITWISE)


def array_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra breadth on token arrays: union / intersect /
    except / overlap / distinct / position / flatten — the §2.8
    "ArrayType is a superset of the reference's type system" evidence."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.split(F.trim("text"), r"\s+")
    head = F.slice(toks, 1, 8)
    tail = F.slice(toks, 9, 8)
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(head)).alias("n_head_distinct"),
        F.size(F.array_union(head, tail)).alias("n_union"),
        F.size(F.array_intersect(F.array_distinct(head),
                                 F.array_distinct(tail))).alias("n_intersect"),
        F.size(F.array_except(F.array_distinct(head),
                              F.array_distinct(tail))).alias("n_except"),
        F.arrays_overlap(head, tail).alias("overlaps"),
        F.array_position(toks, "the").cast("long").alias("pos_the"),
        F.size(F.flatten(F.array(head, tail))).alias("n_flat"),
    ).orderBy("doc_id")


ORACLE_ARRAY_SWEEP = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents WHERE doc_id < 100
), ht AS (
  SELECT doc_id, toks, toks[1:8] AS head, toks[9:16] AS tail FROM t
)
SELECT doc_id,
       len(list_distinct(head)) AS n_head_distinct,
       len(list_distinct(list_concat(head, tail))) AS n_union,
       len(list_intersect(list_distinct(head), list_distinct(tail)))
         AS n_intersect,
       len(list_filter(list_distinct(head),
                       x -> NOT list_contains(list_distinct(tail), x)))
         AS n_except,
       len(list_intersect(head, tail)) > 0 AS overlaps,
       coalesce(list_position(toks, 'the'), 0) AS pos_the,
       len(head) + len(tail) AS n_flat
FROM ht ORDER BY doc_id
"""
gate(array_function_sweep, ORACLE_ARRAY_SWEEP)


def regex_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar breadth: count / extract / extract_all-size /
    replace over part names — aggregated per brand."""
    return sql(spark, sf_dir, """
SELECT p_brand,
       sum(regexp_count(p_name, '[aeiou]')) AS n_vowels,
       count(CASE WHEN regexp_like(p_name, '^[a-z]+_') THEN 1 END)
         AS n_prefixed,
       sum(size(regexp_extract_all(p_name, '[0-9]+', 0))) AS n_number_runs,
       sum(length(regexp_replace(p_name, '[aeiou]', ''))) AS len_devoweled
FROM part GROUP BY p_brand ORDER BY p_brand
""")


ORACLE_REGEX_SWEEP = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "p_brand",
       CAST("n_vowels" AS BIGINT) AS "n_vowels",
       "n_prefixed",
       CAST("n_number_runs" AS BIGINT) AS "n_number_runs",
       CAST("len_devoweled" AS BIGINT) AS "len_devoweled"
FROM (
SELECT p_brand,
       sum(len(regexp_extract_all(p_name, '[aeiou]'))) AS n_vowels,
       count(CASE WHEN regexp_matches(p_name, '^[a-z]+_') THEN 1 END)
         AS n_prefixed,
       sum(len(regexp_extract_all(p_name, '[0-9]+'))) AS n_number_runs,
       sum(length(regexp_replace(p_name, '[aeiou]', '', 'g')))
         AS len_devoweled
FROM part GROUP BY p_brand ORDER BY p_brand
) _bigint_cast
"""
gate(regex_function_sweep, ORACLE_REGEX_SWEEP)


def try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ANSI-mode safety surface: plain arithmetic THROWS on
    overflow/÷0, try_add/try_multiply/try_divide return NULL instead.
    Exercises NULL-on-error division (o_orderkey % 7 hits zero), bigint
    overflow via try_multiply at the int64 edge, and aggregation over
    the resulting nulls. The oracle mirrors each null with explicit
    CASE guards — proving the try_* semantics equal ANSI CASE-protected
    arithmetic.

    r12 (guide §2.5): the projected scan is REPARTITION-hinted inside
    a subquery — every overflowing try_multiply row pays a caught JVM
    arithmetic exception (~30 µs each, measured 4.3 s for the
    single-core scan at sf0.1), so the per-row work must spread; the
    hint sizes to the session's default parallelism, and at production
    scale a multi-split scan makes it a near-no-op reshuffle of three
    narrow columns."""
    n = spark.sparkContext.defaultParallelism
    return sql(spark, sf_dir, f"""
SELECT o_orderstatus,
       count(*) AS n,
       sum(try_divide(o_totalprice, CAST(o_orderkey % 7 AS DOUBLE)))
         IS NOT NULL AS sum_skips_nulls,
       count(CASE WHEN try_divide(o_totalprice,
                                  CAST(o_orderkey % 7 AS DOUBLE)) IS NULL
                  THEN 1 END) AS n_div_by_zero,
       count(CASE WHEN try_multiply(o_orderkey,
                                    CAST(9e17 AS BIGINT)) IS NULL
                  THEN 1 END) AS n_overflow,
       round(avg(try_divide(o_totalprice,
                            CAST(o_orderkey % 7 AS DOUBLE))), 2) AS avg_ratio
FROM (SELECT /*+ REPARTITION({n}) */
             o_orderstatus, o_totalprice, o_orderkey FROM orders) _spread
GROUP BY o_orderstatus ORDER BY o_orderstatus
""")


_NUMBER_BOUNDARIES_SQL = """
SELECT
  CAST(CAST('99999999999999999999999999999999999999' AS DECIMAL(38,0))
       AS STRING) AS dec38_max,
  CAST(CAST('-99999999999999999999999999999999999999' AS DECIMAL(38,0))
       AS STRING) AS dec38_min,
  TRY_CAST('1' || repeat('0', 38) AS DECIMAL(38,0)) IS NULL
    AS overflow_39_digits_is_null,
  TRY_CAST('1e40' AS DECIMAL(38,0)) IS NULL AS overflow_sci_is_null,
  TRY_CAST('not a number' AS DECIMAL(38,0)) IS NULL AS junk_is_null,
  CAST(CAST('123.999' AS DECIMAL(38,0)) AS STRING) AS rounded_half_up,
  CAST(CAST('1267650600228229401496703205376' AS DECIMAL(38,0)) * 64
       AS STRING) AS pow2_106,
  CAST(sum(CAST(o_orderkey AS DECIMAL(38,0))) AS STRING) AS sum_keys_dec,
  CAST(max(CAST(o_orderkey AS BIGINT)) AS STRING) AS max_key_i64,
  count(*) AS n
FROM orders
"""


def number_boundaries_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``number`` type's range contract, enforced in the gate
    (VERDICT r2 next-step #9). The reference's ``number`` is a varint
    holding ±2^1007 (dsutil/dsutilmodule.c:1673-1800); our documented
    mapping (SURVEY §7.4, FIXTURES §1) is DecimalType(38,0) — this
    query pins the boundary behavior with IDENTICAL SQL text on both
    engines: 38-digit extremes survive exactly, a 39-digit literal /
    1e40 / junk all TRY_CAST to NULL (DuckDB agrees for DECIMAL(38,0);
    its HUGEINT would hold ±2^127 and the reference ±2^1007 — beyond-38
    -digit integers are deliberately out of scope), half-up rounding,
    exact 2^106 decimal arithmetic, and a full-table decimal sum that
    would overflow BIGINT semantics at scale."""
    return sql(spark, sf_dir, _NUMBER_BOUNDARIES_SQL)


gate(number_boundaries_suite, _NUMBER_BOUNDARIES_SQL)


ORACLE_TRY_ARITH = """
SELECT o_orderstatus,
       count(*) AS n,
       TRUE AS sum_skips_nulls,
       count(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS n_div_by_zero,
       count(CASE WHEN o_orderkey > CAST(9223372036854775807 // 900000000000000000
                                         AS BIGINT)
                  THEN 1 END) AS n_overflow,
       round(avg(CASE WHEN o_orderkey % 7 <> 0
                      THEN o_totalprice / (o_orderkey % 7) END), 2) AS avg_ratio
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(try_arithmetic_suite, ORACLE_TRY_ARITH)
