"""Helpers the gate families share: the standard-table readers, the
scratch directory, the cross-engine md5 row hash, the doc -> media
fixture generator, and the oracle builders more than one family
replays.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import md5_long
from ..session import tune_for_session
from ..sqlapi import _read_table


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
        tune_for_session(spark)
        _TUNED.add(id(spark))
    return _read_table(spark, f"{sf_dir}/{name}.parquet")


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
