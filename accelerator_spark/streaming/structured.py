"""Structured Streaming wrappers — the Spark-native upgrade beyond the
reference (SURVEY §2.9: optional; parity needs only incremental batch).

Patterns packaged:
- file-source stream (``readStream`` over a directory; schema explicit —
  streaming sources don't infer);
- watermarked tumbling-window aggregation (same logical plan as the
  batch events_hourly query);
- Trigger.AvailableNow runner: drain-all-then-stop with a checkpoint —
  the exactly-once incremental execution mode that matches the
  reference's batch-chain semantics;
- stateful sessionization via applyInPandasWithState (custom stateful
  operator escape hatch, SURVEY §2.10).
"""

from __future__ import annotations

import datetime as _dt
import os
import re
import shutil
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_from_directory(spark: SparkSession, path: str, schema: T.StructType,
                          fmt: str = "parquet",
                          max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.format(fmt).load(path)


class _DefaultValueCol:
    """Private sentinel for windowed_counts' value_col default. A plain
    interned string ("value") would compare `is`-identical to an
    explicitly passed "value" literal, defeating the explicit-typo
    check (ADVICE r5)."""

    def __repr__(self):  # shows sanely in signatures/tracebacks
        return "<default: 'value'>"


_DEFAULT_VALUE_COL = _DefaultValueCol()


def windowed_counts(stream_df: DataFrame, ts_col: str = "ts",
                    window: str = "1 hour", watermark: str = "2 hours",
                    group_cols: list[str] | None = None,
                    *, value_col=_DEFAULT_VALUE_COL) -> DataFrame:
    """Watermarked tumbling-window counts; late rows beyond the watermark
    are dropped, state is bounded — the scale-safe streaming agg.
    ``value_col=None`` (or a stream without the default 'value' column)
    yields counts only — a counts function must not require a summable
    column (review r4). The absent-column leniency applies ONLY to the
    default: an EXPLICITLY passed value_col that is missing is a typo
    and raises instead of silently omitting sum_value (review r5).
    The default is an identity sentinel (ADVICE r5), so an explicit
    value_col="value" on a stream without that column raises like any
    other explicit name instead of slipping through the leniency."""
    g = [F.window(F.col(ts_col), window).alias("win")] + [
        F.col(c) for c in (group_cols or [])
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is _DEFAULT_VALUE_COL:
        value_col = "value" if "value" in stream_df.columns else None
    elif value_col is not None and value_col not in stream_df.columns:
        raise ValueError(
            f"windowed_counts: value_col {value_col!r} not in stream "
            f"columns {stream_df.columns}")
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("sum_value"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*g)
        .agg(*aggs)
    )


def stream_dedup(stream_df: DataFrame, keys: list[str],
                 ts_col: str | None = None,
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming deduplication on key columns — JVM-side stateful
    operator (works in this container, unlike the Python state ops).

    With ``ts_col``, uses dropDuplicatesWithinWatermark: the dedup state
    for a key is dropped once the watermark passes it, so state stays
    bounded by the watermark horizon — the only shape that survives an
    unbounded 100 TB/day stream. Without it, plain dropDuplicates keeps
    one state entry per distinct key forever (fine for bounded drains,
    ruinous for continuous streams)."""
    if ts_col is not None:
        return stream_df.withWatermark(ts_col, watermark) \
                        .dropDuplicatesWithinWatermark(keys)
    return stream_df.dropDuplicates(keys)


def run_available_now(stream_df: DataFrame, sink_path: str, checkpoint: str,
                      output_mode: str = "append", fmt: str = "parquet") -> None:
    """Drain everything currently available, then stop. Re-running picks
    up only NEW files (checkpoint) — the streaming twin of ChainRunner."""
    q = (
        stream_df.writeStream.format(fmt)
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API, not
    os.path.isdir (ADVICE r11): the state store can live on HDFS/S3/
    any Hadoop-supported filesystem, where a driver-local isdir is
    always False — state would silently be treated as absent every
    micro-batch and cross-batch near-dedup would degrade to per-batch
    dedup with no error, the opposite of the fail-loudly intent."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def _band_state_schema(batch_df: DataFrame, id_col: str) -> T.StructType:
    """Explicit read schema for the band-row state store — (blk, fp,
    id, batch_id), the fp_band_rows shape plus the batch_id partition
    column. Explicit rather than inferred (ADVICE r11): a micro-batch
    that kept zero rows leaves a batch_id=N dir with no schema-bearing
    part file, and an inference-based read of a store whose every
    generation is empty fails with 'unable to infer schema'."""
    return T.StructType([
        T.StructField("blk", T.StringType()),
        T.StructField("fp", T.LongType()),
        T.StructField(id_col, batch_df.schema[id_col].dataType),
        T.StructField("batch_id", T.LongType()),
    ])


def near_dedup_micro_batch(batch_df: DataFrame, batch_id: int,
                           kept_path: str, state_path: str,
                           fp_col: str = "fp", id_col: str = "doc_id",
                           bits: int = 64, max_hamming: int = 3,
                           bucket_cap: int | None = None,
                           broadcast_batch: bool = True) -> None:
    """One micro-batch of the rolling near-dedup — the foreachBatch
    body of ``stream_near_dedup``, module-level so the at-least-once
    RETRY window is directly testable (call it twice with the same
    batch_id and assert the survivor set is unchanged).

    Retry correctness (ADVICE r11, the high-severity window): the
    state read keeps the ``batch_id`` partition column and filters
    ``batch_id < current`` before probing. Without the filter, a retry
    of batch N that crashed after the state write but before the
    checkpoint commit re-reads ITS OWN band rows as state — every
    previously-kept row is Hamming-0 from its own fingerprint, so the
    probe drops all of them and the retry overwrites both partitions
    with empty data: silent loss of the batch's survivors. foreachBatch
    ids are monotonically increasing (checkpoint-backed), so
    ``batch_id < current`` is exactly "everything committed before me"."""
    from ..operators.dedup import fp_band_rows, near_dedup_incremental

    spark = batch_df.sparkSession
    # existence check through Hadoop FS, not a broad except: a CORRUPT
    # state store must fail the query loudly at the read — silently
    # treating it as "first batch" would re-admit every near-duplicate
    if _hadoop_path_exists(spark, state_path):
        state = (spark.read
                 .schema(_band_state_schema(batch_df, id_col))
                 .parquet(state_path)
                 .filter(F.col("batch_id") < F.lit(int(batch_id)))
                 .drop("batch_id"))
    else:
        state = None  # first batch: no state written yet
    kept, _ = near_dedup_incremental(
        batch_df, state, fp_col, id_col, bits, max_hamming,
        bucket_cap, broadcast_batch)
    # r13 (guide §2.4 job economy): the kept write IS the shared
    # materialization — the state delta derives from reading the
    # just-written kept partition back (bit-identical rows by
    # construction), so the separate eager localCheckpoint job is
    # gone. Explicit schema on the read-back: a zero-kept batch
    # leaves a partition dir with no schema-bearing part file.
    kdir = os.path.join(kept_path, f"batch_id={int(batch_id)}")
    kept.write.mode("overwrite").parquet(kdir)
    kept_back = spark.read.schema(batch_df.schema).parquet(kdir)
    fp_band_rows(kept_back.filter(F.col(fp_col).isNotNull()),
                 fp_col, id_col, bits, max_hamming) \
        .write.mode("overwrite").parquet(
            os.path.join(state_path, f"batch_id={int(batch_id)}"))


def _drain(stream_df: DataFrame, handle, checkpoint: str,
           available_now: bool):
    """Run ``handle`` per micro-batch through ``foreachBatch``. With
    ``available_now`` drain what is there and return None; otherwise
    return the running query (the caller owns awaitTermination/stop)."""
    writer = (stream_df.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer.trigger(availableNow=True).start().awaitTermination()
        return None
    return writer.start()


def stream_near_dedup(stream_df: DataFrame, kept_path: str,
                      state_path: str, checkpoint: str,
                      fp_col: str = "fp", id_col: str = "doc_id",
                      bits: int = 64, max_hamming: int = 3,
                      bucket_cap: int | None = None,
                      broadcast_batch: bool = True,
                      available_now: bool = True):
    """Rolling NEAR-dedup over a stream of fingerprinted documents —
    ``near_dedup_incremental`` wired into Structured Streaming via
    ``foreachBatch`` (the standard pattern for batch-incremental
    operators that manage their own state store): per micro-batch,
    probe the parquet-persisted band-row state, keep the survivors,
    append their band rows to the state. The per-batch body is
    ``near_dedup_micro_batch`` (see there for the retry-window and
    state-schema contracts).

    Layout: survivors land under ``kept_path/batch_id=N/`` and their
    band rows under ``state_path/batch_id=N/`` — each batch's write is
    ``mode("overwrite")`` of ITS OWN partition directory, so a
    foreachBatch retry (at-least-once delivery) overwrites the same
    subdir instead of duplicating rows, and the state probe filters
    ``batch_id < current`` so the retry never sees its own previous
    write: the two-directory commit is idempotent per batch id even
    though it is not atomic across the pair. Readers take
    ``spark.read.parquet(kept_path)`` (batch_id becomes a partition
    column — the arrival provenance).

    ``available_now=True`` drains everything currently available and
    stops (the ChainRunner-style daily semantics; the checkpoint makes
    re-runs pick up only new files); False leaves a continuous query —
    the caller owns awaitTermination then.

    Scale: each micro-batch pays O(batch) work (see
    near_dedup_incremental — the state is probed via a broadcast of
    the batch's band rows and never shuffles); the state store grows
    max_hamming+1 parquet rows per kept doc. For a long-lived stream,
    run ``compact_batch_store`` on state_path (and kept_path) between
    drains — it folds the accumulated batch_id=N dirs into one
    compacted generation with an atomic swap, and the next drain picks
    the compacted store up unchanged (VERDICT r11 #1; gated by
    streaming_near_dedup_compacted_report + probe-identity tests)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        near_dedup_micro_batch(batch_df, batch_id, kept_path,
                               state_path, fp_col, id_col, bits,
                               max_hamming, bucket_cap, broadcast_batch)

    return _drain(stream_df, handle, checkpoint, available_now)


def compact_batch_store(spark: SparkSession, path: str,
                        target_files: int = 8,
                        rows_per_key: tuple | None = None,
                        schema: T.StructType | None = None) -> int:
    """Maintenance compaction for a ``batch_id=N``-partitioned store —
    the state-lifecycle operator a long-lived ``stream_near_dedup``
    needs (VERDICT r11 #1): a year-long crawl leaves one small parquet
    dir per micro-batch; scans then pay one task + one open per file
    and the directory listing itself becomes the bottleneck.

    Folds every generation EXCEPT the newest into a single compacted
    generation at the smallest folded batch_id; the newest (max
    batch_id) generation keeps its id and its rows UNCHANGED. That
    asymmetry is load-bearing for the at-least-once retry contract:
    only the newest batch can be uncommitted (micro-batches run
    sequentially), its retry probes ``batch_id < max`` — which still
    selects exactly the folded generations — and overwrites only its
    own ``batch_id=max`` dir, never the compacted one. Folding the
    newest generation down would let a retry see its own previous
    write as state (the ADVICE r11 loss window) AND orphan its stale
    rows in the compacted generation.

    Works on both stores (the band-row state and the kept corpus);
    note folding REWRITES kept rows' batch_id, so arrival provenance
    collapses to "compacted generation" — archive the column first if
    provenance must survive maintenance.

    Swap protocol (the compact_files discipline,
    operators/partition.py): the new layout is built in a temp sibling,
    validated, then swapped in with two renames; data is never deleted
    until the swap completes and a crash between the renames rolls back
    on the next invocation. Local filesystem paths only (os.rename) —
    object stores need their own atomic-swap primitive.

    Validation before the swap: total row count is preserved, and with
    ``rows_per_key=(col, n)`` every key in the compacted store has
    exactly n rows (the band-row store invariant: max_hamming+1 rows
    per kept doc). ``schema`` guards the read the same way the
    micro-batch read is guarded (required if EVERY generation may be
    empty). Returns the number of generations folded (0 = no-op)."""
    back = path.rstrip("/") + ".__compact_old__"
    tmp = path.rstrip("/") + ".__compact_tmp__"
    if os.path.exists(back):  # crash recovery, compact_files protocol
        if os.path.exists(path):
            shutil.rmtree(back)
        else:
            os.rename(back, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    gens = sorted(int(m.group(1)) for e in os.listdir(path)
                  if (m := re.fullmatch(r"batch_id=(\d+)", e)))
    if len(gens) < 3:
        return 0  # nothing worth folding (newest stays as-is anyway)
    newest, fold_to = gens[-1], gens[0]

    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    df = r.parquet(path)
    if "batch_id" not in df.columns:
        raise ValueError(
            f"compact_batch_store: {path} is not a batch_id-partitioned "
            "store")
    before = df.count()
    folded = (df.withColumn(
        "batch_id",
        F.when(F.col("batch_id") < newest, F.lit(fold_to))
        .otherwise(F.col("batch_id"))))
    (folded.repartition(target_files)
     .write.partitionBy("batch_id").parquet(tmp))
    check = spark.read.parquet(tmp)
    after = check.count()
    if after != before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compact_batch_store: rewrite lost rows ({before} -> "
            f"{after}); original store untouched")
    if rows_per_key is not None:
        key, n = rows_per_key
        bad = (check.groupBy(key).count()
               .filter(F.col("count") != n).count())
        if bad:
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"compact_batch_store: {bad} keys violate the "
                f"{n}-rows-per-{key} invariant; original store untouched")
    os.rename(path, back)
    os.rename(tmp, path)
    shutil.rmtree(back)
    return len(gens) - 1


def _text_state_schema(batch_df: DataFrame,
                       id_col: str) -> T.StructType:
    """Explicit read schema for the LSH band-bucket state store —
    (band, key, id, batch_id), the text_band_rows shape plus the
    batch_id partition column (the _band_state_schema rationale: a
    zero-kept generation has no schema-bearing part file)."""
    return T.StructType([
        T.StructField("band", T.IntegerType()),
        T.StructField("key", T.StringType()),
        T.StructField(id_col, batch_df.schema[id_col].dataType),
        T.StructField("batch_id", T.LongType()),
    ])


def text_near_dedup_micro_batch(batch_df: DataFrame, batch_id: int,
                                kept_path: str, state_path: str,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                num_hashes: int = 8, bands: int = 4,
                                shingle_n: int = 3,
                                threshold: float = 0.5,
                                bucket_cap: int = 50,
                                hash_family: str = "md5",
                                broadcast_batch: bool = True) -> None:
    """One micro-batch of the rolling TEXT near-dedup — the
    foreachBatch body of ``stream_text_near_dedup``, module-level so
    the at-least-once retry window is directly testable. Same
    contracts as ``near_dedup_micro_batch``: Hadoop-FS existence
    check (corrupt state fails loudly; HDFS/S3 paths are seen),
    explicit read schemas (a zero-kept generation cannot break
    inference), and the ``batch_id < current`` probe filter so a
    retry never reads its own previous write as state (every doc is
    Jaccard-1.0 with itself — an unfiltered retry would drop the
    whole batch and overwrite its partitions empty).

    Store layout: survivors (the batch's FULL rows — this store IS
    the kept corpus the Jaccard verify stage joins back to) land
    under ``kept_path/batch_id=N/``; their LSH band-bucket rows under
    ``state_path/batch_id=N/``. The state is written strictly AFTER
    the kept rows, so state_path existing implies every generation it
    references has its kept text on disk — a crash between the two
    writes is healed by the retry's overwrite."""
    from ..operators.dedup import (
        text_band_rows, text_near_dedup_incremental)

    spark = batch_df.sparkSession
    if _hadoop_path_exists(spark, state_path):
        cur = F.col("batch_id") < F.lit(int(batch_id))
        state = (spark.read
                 .schema(_text_state_schema(batch_df, id_col))
                 .parquet(state_path).filter(cur).drop("batch_id"))
        corpus = (spark.read
                  .schema(T.StructType(
                      list(batch_df.schema.fields)
                      + [T.StructField("batch_id", T.LongType())]))
                  .parquet(kept_path).filter(cur).drop("batch_id"))
    else:
        state = corpus = None  # first batch (kept-only on disk can
        # only mean batch 0 crashed mid-pair; its retry rewrites it)
    # ONE MinHash pass per micro-batch (r12, guide §2.4): the band rows
    # are computed here, injected into the operator (which otherwise
    # derives its own), and the state delta below is the semi-join of
    # this SAME checkpointed frame against the kept ids — signatures
    # are per-doc deterministic, so the delta rows are bit-identical to
    # the old text_band_rows(kept) recompute that re-shingled and
    # re-hashed every kept document a second time.
    batch_bands = text_band_rows(
        batch_df, text_col, id_col, num_hashes, bands, shingle_n,
        hash_family).localCheckpoint(eager=False)
    kept, _ = text_near_dedup_incremental(
        batch_df, state, corpus, text_col, id_col, num_hashes, bands,
        shingle_n, threshold, bucket_cap, hash_family,
        broadcast_batch, batch_bands=batch_bands)
    # r13 (guide §2.4 job economy): the kept write IS the shared
    # materialization — the state delta semi-joins the checkpointed
    # batch_bands against the just-written kept partition's ids
    # (bit-identical rows by construction), so the separate eager
    # localCheckpoint job is gone. Explicit schema on the read-back:
    # a zero-kept batch leaves no schema-bearing part file.
    kdir = os.path.join(kept_path, f"batch_id={int(batch_id)}")
    kept.write.mode("overwrite").parquet(kdir)
    kept_ids = (spark.read.schema(batch_df.schema).parquet(kdir)
                .select(id_col))
    (batch_bands.join(kept_ids, id_col, "left_semi")
     .select("band", "key", id_col)
     .write.mode("overwrite").parquet(
         os.path.join(state_path, f"batch_id={int(batch_id)}")))


def stream_text_near_dedup(stream_df: DataFrame, kept_path: str,
                           state_path: str, checkpoint: str,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           num_hashes: int = 8, bands: int = 4,
                           shingle_n: int = 3,
                           threshold: float = 0.5,
                           bucket_cap: int = 50,
                           hash_family: str = "md5",
                           broadcast_batch: bool = True,
                           available_now: bool = True):
    """Rolling TEXT near-dedup over a document stream —
    ``text_near_dedup_incremental`` wired into Structured Streaming
    via ``foreachBatch``, completing the symmetry: the classic
    MinHash/Jaccard pipeline now exists in batch (text_near_dedup),
    incremental (text_near_dedup_incremental) and streaming form,
    exactly like the fingerprint family (near_dedup /
    near_dedup_incremental / stream_near_dedup). Per micro-batch the
    body is ``text_near_dedup_micro_batch`` (see there for the
    retry-window, schema and store-layout contracts). Readers take
    ``spark.read.parquet(kept_path)`` — the shrunk corpus with
    batch_id arrival provenance. Maintenance: ``compact_batch_store``
    folds both stores' generations between drains (both are
    batch_id=N layouts).

    Scale: each micro-batch pays O(batch) LSH work plus a
    candidate-bounded verify — the band-bucket state is probed via a
    broadcast of the batch's band rows and never shuffles, and only
    candidate docs' text is ever shingled (the kept-corpus scan is
    column-pruned and semi-joined down to the candidate ids)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        text_near_dedup_micro_batch(
            batch_df, batch_id, kept_path, state_path, text_col,
            id_col, num_hashes, bands, shingle_n, threshold,
            bucket_cap, hash_family, broadcast_batch)

    return _drain(stream_df, handle, checkpoint, available_now)


_SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("n", T.LongType()),
])


def sessionize_stateful(stream_df: DataFrame, gap_minutes: int = 30,
                        ts_col: str = "ts", user_col: str = "user_id") -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user open session in state; a gap > gap_minutes (or state
    timeout) closes and emits it. This is the §2.10 escape hatch shape —
    state is per-key and bounded, so it distributes.

    EXPERIMENTAL: in this container's Spark 4.1.2 local build, Python
    stateful streaming hangs — re-probed r6 (VERDICT r5 #7, repro at
    tools/probe_stateful_streaming.py): under Trigger.AvailableNow the
    DATA microbatch completes, then the follow-up state-cleanup batch
    ("No new data but cleaning up state") never terminates (>420 s for
    4 rows). JVM-side stateful aggregation (windowed_counts,
    stream_dedup) works. Use the batch sessionizer
    (queries.sessionize_events, oracle-gated) or windowed_counts until
    the environment supports Python state. The per-key fold itself is
    the pure, unit-tested _fold_sessions below."""
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame([{
                "user_id": user_id,
                "session_start": _us_ts(start_us),
                "session_end": _us_ts(last_us),
                "n_events": n,
            }])
            return
        ts_list: list[int] = []
        for pdf in pdfs:
            # NaT.value is INT64_MIN — one NULL timestamp would sort
            # first and poison session_start (year 1677), gapping every
            # later event out (review r5); skip NULLs like the batch
            # sessionizer does
            ts_list.extend(int(v.value // 1000)
                           for v in pd.to_datetime(pdf[ts_col])
                           if v is not pd.NaT)
        ts_list.sort()
        prior = state.get if state.exists else None
        closed, new_state = _fold_sessions(ts_list, prior, gap_us)
        if new_state is None:
            return  # no open session and no usable events
        out = [{
            "user_id": user_id,
            "session_start": _us_ts(s),
            "session_end": _us_ts(e),
            "n_events": n_ev,
        } for s, e, n_ev in closed]
        state.update(new_state)
        # MUST re-arm on EVERY invocation that keeps state — Spark
        # clears a ProcessingTimeTimeout that isn't re-set, so an early
        # return on a stale-only (or NULL-only) batch would cancel the
        # open session's flush and it would never be emitted (review r6)
        state.setTimeoutDuration(gap_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(out)

    return stream_df.groupBy(user_col).applyInPandasWithState(
        fn, _SESSION_SCHEMA, _STATE_SCHEMA, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def _us_ts(us: int) -> _dt.datetime:
    return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)


def _fold_sessions(ts_list: list, prior: "tuple | None", gap_us: int):
    """Pure per-key session fold (unit-testable without GroupState):
    given SORTED event micros and the open session state
    (start_us, last_us, n) or None, returns (closed_sessions,
    new_state) where closed_sessions is a list of (start, end, n).

    Cross-batch late-event policy (ADVICE r5): an event OLDER than the
    open session's start may belong to an already-emitted prior
    session — emitted history is immutable, so it is DROPPED
    (watermark-style). An event inside the open span [start, last] is a
    late arrival of the CURRENT session: it is clamped to last_us so it
    counts without regressing session_end. Returns (_, None) when every
    event was dropped and no state existed."""
    if prior is not None:
        start_us, last_us, n = prior
        ts_list = [max(t, last_us) for t in ts_list if t >= start_us]
        if not ts_list:
            return [], (start_us, last_us, n)
    else:
        if not ts_list:
            return [], None
        start_us, last_us, n = ts_list[0], ts_list[0], 0
    closed = []
    for t in ts_list:
        if t - last_us > gap_us:
            closed.append((start_us, last_us, n))
            start_us, n = t, 0
        last_us = t
        n += 1
    return closed, (start_us, last_us, n)
