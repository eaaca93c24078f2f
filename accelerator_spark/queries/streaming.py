"""Structured Streaming gates: windowed and sessionized event counts,
and the streaming near-dedup pipelines (fingerprint and text, with
state compaction). The streaming near-dedup gates answer to their batch
twins' oracles.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import gate
from ._common import _incr_oracle, _normalize_ts, _scratch, _t
from .dedup import (
    ORACLE_NEAR_DEDUP_INCREMENTAL, ORACLE_TEXT_NEAR_DEDUP_INCREMENTAL,
)
from ..operators.dedup import simhash
from ..sqlapi import _read_table
from ..streaming.structured import (
    compact_batch_store, stream_from_directory, stream_near_dedup,
    stream_text_near_dedup, windowed_counts,
)


def _stream_events(spark: SparkSession, sf_dir: str,
                   scratch_name: str) -> DataFrame:
    """Shared streaming-gate prologue: expose the single-file events
    fixture through a symlink DIRECTORY (the file stream source wants a
    directory; production streams an ingest dir, so the shim is
    test-only), readStream it, and apply the SAME ts normalization as
    _events (nanos-as-long or NTZ -> TIMESTAMP). One definition
    (review r5): the normalization branch was maintained in three
    places and a fix to one would silently miss the streaming gates."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _read_table(spark, f"{sf_dir}/events.parquet").schema
    stream_dir = _scratch(scratch_name)
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(stream_dir, "events.parquet"),
    )
    return _normalize_ts(stream_from_directory(spark, stream_dir, schema))


def _drain_to_memory(frame: DataFrame, name: str,
                     checkpoint: str) -> DataFrame:
    """Drain a streaming aggregate to the memory sink ``name`` under
    Trigger.AvailableNow (complete mode) and return the sink's table.
    A drain that outlasts 180 s stops the query and raises instead of
    returning a partial memory sink (review r4)."""
    q = (
        frame.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", _scratch(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            f"{name} drain exceeded 180s — refusing to return a partial "
            "memory sink (review r4)")
    return frame.sparkSession.table(name)


def _land(frame: DataFrame, seq: int, cols: list[str], src: str,
          stage: str) -> None:
    """Land the ``batch_seq == seq`` rows of ``frame`` (columns
    ``cols``) as ONE parquet file in the stream source dir ``src``,
    staged through ``stage``. The file's mtime grows with ``seq``: the
    file source admits new files in modification-time order, so the
    batches drain in sequence."""
    d = os.path.join(stage, f"b{seq}")
    (frame.filter(F.col("batch_seq") == seq).select(*cols)
     .coalesce(1).write.parquet(d))
    part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    dst = os.path.join(src, f"batch{seq}.parquet")
    shutil.copyfile(os.path.join(d, part), dst)
    t = 1_700_000_000 + 1000 * seq
    os.utime(dst, (t, t))


def _kept_flags(frame: DataFrame, kept_path: str) -> DataFrame:
    """(doc_id, batch_seq, kept) for every row of ``frame``: kept is
    whether the doc reached the kept store at ``kept_path``."""
    kept = (frame.sparkSession.read.parquet(kept_path).select("doc_id")
            .withColumn("_k", F.lit(True)))
    return (frame.select("doc_id", "batch_seq")
            .join(kept, "doc_id", "left")
            .select("doc_id", "batch_seq",
                    F.coalesce("_k", F.lit(False)).alias("kept")))


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
    ev = _stream_events(spark, sf_dir, "stream_src")
    agg = windowed_counts(ev, "ts", "1 hour", "2 hours", ["event_type"])
    return (
        _drain_to_memory(agg, "stream_hourly", "stream_ck")
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
    return _drain_to_memory(sess, "stream_sessions", "stream_sck").agg(
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


def streaming_near_dedup_report(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The rolling-crawl pipeline as an ACTUAL stream: the same three
    out-of-order document batches as near_dedup_incremental_report
    land as three parquet files with increasing mtimes, a single
    AvailableNow drain with maxFilesPerTrigger=1 processes them as
    three micro-batches in arrival order (FileStreamSource orders by
    modification time), and each micro-batch probes the
    parquet-persisted band-row state via stream_near_dedup's
    foreachBatch handler. The drained survivor set must equal the
    batch operator's — so the gate reuses
    ORACLE_NEAR_DEDUP_INCREMENTAL verbatim: the streaming plan
    computes the identical answer (the streaming_hourly_counts
    property, extended to a stateful-by-construction pipeline)."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    sh = (simhash(docs, bits=64)
          .withColumn("batch_seq",
                      ((F.col("doc_id") % 3 + 2) % 3).cast("int"))
          .localCheckpoint(eager=False))  # lazy: batch-0 fixture
    # write materializes it; later consumers read the cache (r13)

    src = _scratch("snd_src")
    kept_p = _scratch("snd_kept")
    state_p = _scratch("snd_state")
    ckpt = _scratch("snd_ckpt")
    stage = _scratch("snd_stage")
    for seq in range(3):
        _land(sh, seq, ["doc_id", "simhash"], src, stage)

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("simhash", T.LongType())])
    stream = stream_from_directory(spark, src, schema,
                                   max_files_per_trigger=1)
    stream_near_dedup(stream, kept_p, state_p, ckpt,
                      fp_col="simhash", id_col="doc_id",
                      bits=64, max_hamming=3, bucket_cap=5000)
    return _kept_flags(sh, kept_p)


gate(streaming_near_dedup_report, ORACLE_NEAR_DEDUP_INCREMENTAL)


def streaming_near_dedup_compacted_report(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """The rolling-crawl MAINTENANCE story end-to-end: FOUR
    out-of-order document batches (batch_seq = (doc_id % 4 + 2) % 4)
    land as parquet files; the first three drain as three
    micro-batches (AvailableNow + maxFilesPerTrigger=1), then
    ``compact_batch_store`` folds BOTH stores' generations (state
    batch_id 0,1 -> 0, validated 4-band-rows-per-doc; kept likewise),
    then the fourth file lands and a SECOND drain (same checkpoint)
    processes it as micro-batch 3 probing the COMPACTED state.
    Compaction must be answer-invariant: the oracle replays the plain
    four-batch greedy sequence (the near_dedup_incremental_report
    replay at n=4) with no compaction notion at all — any row the
    compaction lost, duplicated, or mislabeled flips a kept flag."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    sh = (simhash(docs, bits=64)
          .withColumn("batch_seq",
                      ((F.col("doc_id") % 4 + 2) % 4).cast("int"))
          .localCheckpoint(eager=False))  # lazy: batch-0 fixture
    # write materializes it; later consumers read the cache (r13)

    src = _scratch("sndc_src")
    kept_p = _scratch("sndc_kept")
    state_p = _scratch("sndc_state")
    ckpt = _scratch("sndc_ckpt")
    stage = _scratch("sndc_stage")
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("simhash", T.LongType())])

    def drain() -> None:
        stream_near_dedup(
            stream_from_directory(spark, src, schema,
                                  max_files_per_trigger=1),
            kept_p, state_p, ckpt, fp_col="simhash", id_col="doc_id",
            bits=64, max_hamming=3, bucket_cap=5000)

    for seq in range(3):
        _land(sh, seq, ["doc_id", "simhash"], src, stage)
    drain()
    folded = compact_batch_store(spark, state_p,
                                 rows_per_key=("doc_id", 4))
    if folded != 2:  # three generations -> fold 0,1; newest stays
        raise RuntimeError(
            f"compacted-stream gate: expected to fold 2 state "
            f"generations, folded {folded}")
    compact_batch_store(spark, kept_p)
    _land(sh, 3, ["doc_id", "simhash"], src, stage)
    drain()  # micro-batch 3 probes the compacted store
    return _kept_flags(sh, kept_p)


ORACLE_STREAMING_NEAR_DEDUP_COMPACTED = _incr_oracle(
    4, "(doc_id % 4 + 2) % 4")
gate(streaming_near_dedup_compacted_report,
     ORACLE_STREAMING_NEAR_DEDUP_COMPACTED)


def streaming_text_near_dedup_report(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """The rolling TEXT pipeline as an ACTUAL stream: the same three
    out-of-order document batches as text_near_dedup_incremental_report
    land as three parquet files with increasing mtimes; one
    AvailableNow drain with maxFilesPerTrigger=1 processes them as
    three micro-batches, each probing the parquet-persisted LSH
    band-bucket state and joining candidates back to the kept-corpus
    store for the exact Jaccard verify. The drained survivor set must
    equal the batch operator's — the gate reuses
    ORACLE_TEXT_NEAR_DEDUP_INCREMENTAL verbatim (the
    streaming_near_dedup_report property, on the text front)."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    slim = (docs.select("doc_id", "text")
            .withColumn("batch_seq",
                        ((F.col("doc_id") % 3 + 2) % 3).cast("int"))
            .localCheckpoint(eager=False))  # lazy: first action
    # materializes it; later consumers read the cache (r13)

    src = _scratch("stnd_src")
    kept_p = _scratch("stnd_kept")
    state_p = _scratch("stnd_state")
    ckpt = _scratch("stnd_ckpt")
    stage = _scratch("stnd_stage")
    for seq in range(3):
        _land(slim, seq, ["doc_id", "text"], src, stage)

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    stream_text_near_dedup(
        stream_from_directory(spark, src, schema,
                              max_files_per_trigger=1),
        kept_p, state_p, ckpt)
    return _kept_flags(slim, kept_p)


gate(streaming_text_near_dedup_report, ORACLE_TEXT_NEAR_DEDUP_INCREMENTAL)
