"""SQL-string surface.

The reference has no query language at all (SURVEY §0) — relational work
is hand-written per-slice Python. On Spark the SQL surface is free, so we
expose it as a first-class entry point: register the standard tables as
temp views once, then ``spark.sql(...)`` anything. Catalyst plans SQL and
DataFrame code identically, so everything in SCALE.md (pushdown,
broadcast, AQE) applies unchanged.
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# session -> {table: sf_dir it is registered against}; avoids re-reading
# 9 parquet footers on every sql() call (the gates call it ~15x per run)
# while staying correct when one session alternates sf_dirs (the view is
# re-created whenever the dir differs). Keyed by WEAK reference, not
# id(): a dead session's id can be recycled by a new session, which
# would then inherit stale 'already registered' state (ADVICE r3).
_registered: "weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = (
    weakref.WeakKeyDictionary())

# Inferred input-table schemas, keyed by path. Schema INFERENCE (the
# driver-side directory listing + footer read spark.read.parquet does
# on every call) costs ~65 ms per call vs ~13 ms with an
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
    """One standard table as a DataFrame, with its schema served from
    _TABLE_SCHEMAS after the first read of an unchanged file."""
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


def register_views(spark: SparkSession, sf_dir: str,
                   tables: list[str] | None = None,
                   skip_missing: bool = False) -> None:
    """Register parquet tables as session temp views. Memoized per
    session; a view is only (re)created when this session has not yet
    registered the table against THIS sf_dir (and still HAS it — an
    externally dropped temp view is re-created, not trusted).
    ``skip_missing`` tolerates absent parquet files (sql()'s word-scan
    over-approximates the referenced tables — see sql())."""
    try:
        done = _registered.setdefault(spark, {})
    except TypeError:  # session type not weakref-able: no memo, stay correct
        done = {}
    for t in tables or TABLES:
        if done.get(t) == sf_dir and spark.catalog.tableExists(t):
            continue
        p = f"{sf_dir}/{t}.parquet"
        if skip_missing and not os.path.exists(p):
            # a view WE registered from a DIFFERENT sf_dir must not
            # survive the skip — sql() would silently read the old
            # directory's data where its docstring promises
            # TABLE_OR_VIEW_NOT_FOUND (review r5). Only tracked views
            # are dropped: a user-created temp view of the same name is
            # theirs to serve the query (review r5b — the word-scan
            # over-approximates, so an untracked drop could destroy a
            # view the query never even reads)
            if done.pop(t, None) is not None:
                spark.catalog.dropTempView(t)
            continue
        _read_table(spark, p).createOrReplaceTempView(t)
        done[t] = sf_dir


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run an SQL string against the standard tables. The word-scan
    below OVER-approximates the referenced tables (a table name inside
    a string literal or comment matches too — review r4), so
    registration skips missing parquet files: a table the query never
    actually reads cannot fail the call, and a genuinely missing
    referenced table still fails — inside spark.sql, with Spark's own
    TABLE_OR_VIEW_NOT_FOUND."""
    words = set(re.findall(r"[A-Za-z_]+", query.lower()))
    needed = [t for t in TABLES if t in words]
    register_views(spark, sf_dir, needed or TABLES, skip_missing=True)
    return spark.sql(query)
