"""Streaming: incremental chains (reference parity) + Structured
Streaming (AvailableNow, watermarked windows, stateful sessionize)."""

import glob

from pyspark.sql import functions as F, types as T

from accelerator_spark.build import BuildContext, Urd
from accelerator_spark.dataset import Dataset
from accelerator_spark.streaming import (
    ChainRunner, run_available_now, stream_from_directory, windowed_counts,
)

from conftest import load


def test_chain_runner_incremental(spark, sf_dir, tmp_path):
    ctx = BuildContext(spark, str(tmp_path / "wd"))
    urd = Urd(str(tmp_path / "wd"))
    runner = ChainRunner(ctx, urd, "daily")
    src_path = f"{sf_dir}/orders.parquet"

    def import_day(spark, datasets, options):
        df = spark.read.parquet(options["path"])
        return df.filter(F.col("o_orderkey") % 3 == options["day"])

    head = runner.process(
        {"d1": {"path": src_path, "day": 0}, "d2": {"path": src_path, "day": 1}},
        import_day)
    assert len(head.chain()) == 2
    n2 = head.chain_df(spark).count()

    # second wave: only d3 is new; d1/d2 skipped via urd
    head = runner.process(
        {"d1": {"path": src_path, "day": 0},
         "d2": {"path": src_path, "day": 1},
         "d3": {"path": src_path, "day": 2}},
        import_day)
    assert len(head.chain()) == 3
    assert head.chain_df(spark).count() == load(spark, sf_dir, "orders").count()
    assert head.chain_df(spark).count() > n2
    # urd recorded 3 batches, none cached on first build
    assert runner.seen() == {"d1", "d2", "d3"}


def test_available_now_streaming_roundtrip(spark, sf_dir, tmp_path):
    src_dir = str(tmp_path / "in")
    load(spark, sf_dir, "nation").write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    stream = stream_from_directory(spark, src_dir, schema)
    assert stream.isStreaming
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_available_now(stream, sink, ckpt)
    got = spark.read.parquet(sink)
    assert got.count() == 25

    # incremental: add one new file, rerun -> only the new rows are added
    load(spark, sf_dir, "nation").limit(3).coalesce(1).write.mode("append").parquet(src_dir)
    run_available_now(stream_from_directory(spark, src_dir, schema), sink, ckpt)
    assert spark.read.parquet(sink).count() == 28


def test_windowed_counts_watermark_plan(spark, sf_dir, tmp_path):
    """Watermarked windowed agg compiles and produces the right schema in
    a streaming plan; values checked via the batch twin (events_hourly
    oracle covers numeric parity)."""
    src_dir = str(tmp_path / "ev")
    from accelerator_spark.queries._common import _events
    ev = _events(spark, sf_dir)
    ev.write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = stream_from_directory(spark, src_dir, schema)
    agg = windowed_counts(stream, group_cols=["event_type"])
    assert agg.isStreaming
    sink = str(tmp_path / "agg_out")
    run_available_now(agg, sink, str(tmp_path / "agg_ckpt"), output_mode="append")
    # append mode emits only watermark-closed windows; with a single
    # drain, late-window rows may be withheld — assert structure + subset
    out = spark.read.parquet(sink)
    assert set(out.columns) == {"win", "event_type", "n", "sum_value"}
    batch = ev.groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type")) \
        .agg(F.count(F.lit(1)).alias("n"))
    if out.count():
        j = out.select("win", "event_type", "n").join(
            batch.select("win", "event_type", F.col("n").alias("n_batch")),
            ["win", "event_type"])
        assert j.filter(F.col("n") != F.col("n_batch")).count() == 0


def test_stream_dedup_drops_planted_duplicates(spark, sf_dir, tmp_path):
    """Streaming dropDuplicatesWithinWatermark (JVM stateful): a source
    directory holding the same rows twice drains to exactly one copy
    per event_id."""
    from accelerator_spark.queries._common import _events
    from accelerator_spark.streaming import stream_dedup

    src_dir = str(tmp_path / "dup_src")
    ev = _events(spark, sf_dir).limit(200)
    ev.write.parquet(src_dir)                       # copy 1
    ev.write.mode("append").parquet(src_dir)        # copy 2 (exact dups)
    schema = spark.read.parquet(src_dir).schema
    n_distinct = spark.read.parquet(src_dir).select("event_id").distinct().count()

    stream = stream_from_directory(spark, src_dir, schema)
    deduped = stream_dedup(stream, ["event_id"], ts_col="ts")
    sink = str(tmp_path / "dedup_out")
    run_available_now(deduped, sink, str(tmp_path / "dedup_ckpt"))
    out = spark.read.parquet(sink)
    assert out.count() == n_distinct == 200
    assert out.select("event_id").distinct().count() == n_distinct


def test_foreach_batch_cdc_upsert(spark, sf_dir, tmp_path):
    """Streaming CDC: change batches arrive as files; every microbatch
    folds into the keyed table via apply_changes (foreachBatch = the
    streaming MERGE INTO sink). After the drain the table equals the
    batch application of all changes in order."""
    from accelerator_spark.operators.merge import apply_changes

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double")
    table_path = str(tmp_path / "cdc_table")
    base.write.parquet(table_path)

    src = str(tmp_path / "changes_src")
    # one file = one microbatch (maxFilesPerTrigger=1): order matters
    spark.createDataFrame([(2, "U", "b2", 21.0), (3, "D", None, None)],
                          "k int, op string, s string, v double") \
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(5, "U", "e", 50.0), (2, "U", "b3", 22.0)],
                          "k int, op string, s string, v double") \
        .coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def fold(batch_df, batch_id):
        current = batch_df.sparkSession.read.parquet(table_path)
        merged = apply_changes(
            current, batch_df.select("k", "s", "v", "op"), "k")
        merged.write.mode("overwrite").parquet(table_path + ".next")
        out = batch_df.sparkSession.read.parquet(table_path + ".next")
        out.write.mode("overwrite").parquet(table_path)

    q = (stream.writeStream.foreachBatch(fold)
         .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.k: (r.s, r.v) for r in spark.read.parquet(table_path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b3", 22.0), 4: ("d", 40.0),
                   5: ("e", 50.0)}


def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    """Stream-stream inner join with watermarks + a time-range bound
    (click ⨝ purchase by the same user within 1 hour after the click):
    the only join shape whose state stays bounded on two unbounded
    streams. Drained result must equal the identical batch join."""
    import os

    from accelerator_spark.queries._common import _events

    ev = _events(spark, sf_dir)
    src = str(tmp_path / "ss_src")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def side(event_type, alias_pref):
        s = (spark.readStream.schema(schema).parquet(src)
             .withColumn("ts", F.col("ts").cast("timestamp"))
             .filter(F.col("event_type") == event_type)
             .withWatermark("ts", "2 hours"))
        return s.select(
            F.col("user_id").alias(f"{alias_pref}_user"),
            F.col("ts").alias(f"{alias_pref}_ts"),
            F.col("event_id").alias(f"{alias_pref}_id"))

    clicks, purchases = side("click", "c"), side("purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("interval 1 hour")),
        "inner")
    sink = str(tmp_path / "ss_out")
    q = (joined.writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", str(tmp_path / "ss_ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    if q.isActive:
        q.stop()

    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    want = bc.join(
        bp,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("interval 1 hour")),
        "inner").count()
    got = spark.read.parquet(sink).count() if os.listdir(sink) else 0
    assert got == want and want > 0


def test_incremental_hll_sketch_chain(spark, sf_dir, tmp_path):
    """Continuous aggregate through the incremental layer: each daily
    batch persists per-type HLL sketches (binary, parquet-stable);
    answering total distinct users = union-merging the CHAIN of daily
    sketch datasets — no raw-event rescan. The mergeable-state story
    (operators/sketches) composed with reference-parity chains
    (ChainRunner, memoized per batch)."""
    from accelerator_spark.queries._common import _events

    ctx = BuildContext(spark, str(tmp_path / "wd"))
    urd = Urd(str(tmp_path / "wd"))
    runner = ChainRunner(ctx, urd, "daily-sketches")

    def sketch_day(spark, datasets, options):
        ev = _events(spark, sf_dir)
        day = ev.filter(F.dayofmonth("ts") % 3 == options["slot"])
        return day.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))

    head = runner.process(
        {f"d{s}": {"slot": s} for s in range(3)}, sketch_day)
    assert len(head.chain()) == 3

    merged = (head.chain_df(spark)
              .groupBy("event_type")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")))
    got = {r["event_type"]: r["est"] for r in merged.collect()}
    want = {r["event_type"]: r["d"] for r in
            _events(spark, sf_dir).groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("d")).collect()}
    assert set(got) == set(want)
    for et, exact in want.items():
        assert abs(got[et] - exact) <= max(1, 0.05 * exact), (et, got[et], exact)

    # idempotence: reprocessing the same batches is a no-op (memo hits)
    head2 = runner.process(
        {f"d{s}": {"slot": s} for s in range(3)}, sketch_day)
    assert [d.path for d in head2.chain()] == [d.path for d in head.chain()]


def test_watermark_append_finalization(spark, tmp_path):
    """Watermark/append-mode contract (what is actually GUARANTEED):
    append emits a window exactly once, only after the watermark passes
    its end; windows still inside the watermark are withheld in state.
    (Rows later than the watermark are *eligible* for dropping, not
    guaranteed dropped — verified empirically on this Spark: a 07:15
    row arriving under a 09:30 watermark is still absorbed and its
    already-expired window emitted on eviction. A pipeline needing
    hard late-row exclusion must filter explicitly against its own
    lateness bound; the engine contract is only finalization.)"""
    import time

    import pandas as pd

    src = str(tmp_path / "late_src")
    batches = [
        pd.DataFrame({"ts": pd.to_datetime(
            ["2024-01-01 10:00:00", "2024-01-01 10:30:00"]), "v": [1.0, 2.0]}),
        pd.DataFrame({"ts": pd.to_datetime(
            ["2024-01-01 12:30:00", "2024-01-01 07:15:00"]), "v": [4.0, 8.0]}),
        pd.DataFrame({"ts": pd.to_datetime(
            ["2024-01-01 14:30:00"]), "v": [16.0]}),
    ]
    for i, b in enumerate(batches):
        spark.createDataFrame(b).coalesce(1).write.parquet(f"{src}/b{i}")
        time.sleep(1.1)  # distinct mtimes: file source processes in order

    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*")
              .withWatermark("ts", "1 hour")
              .groupBy(F.window("ts", "1 hour").alias("win"))
              .agg(F.sum("v").alias("sv")))
    sink, ckpt = str(tmp_path / "late_out"), str(tmp_path / "late_ck")
    q = (stream.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r["win"]["start"].hour: r["sv"]
           for r in spark.read.parquet(sink).collect()}
    # final watermark = 14:30 - 1h = 13:30: every window ending before it
    # has been finalized and emitted exactly once, with complete sums
    assert got[10] == 3.0 and got[12] == 4.0
    # the 14:00 window is NOT emitted: still open under the watermark
    assert 14 not in got
    # windows never emit twice (exactly-once finalization)
    assert len(spark.read.parquet(sink).collect()) == len(got)


def test_windowed_counts_without_value_column(spark, tmp_path):
    """Review r4: a counts function must not require a summable 'value'
    column — a stream with only ts/key columns aggregates counts."""
    import datetime

    from accelerator_spark.streaming.structured import (
        stream_from_directory, windowed_counts,
    )

    src = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, h), "c") for h in range(3)],
        "ts timestamp, event_type string")
    d = str(tmp_path / "in")
    src.write.parquet(d)
    ev = stream_from_directory(spark, d, "ts timestamp, event_type string")
    agg = windowed_counts(ev, "ts", "1 hour", "2 hours", ["event_type"])
    assert "sum_value" not in agg.schema.fieldNames()
    q = (agg.writeStream.format("memory").queryName("wc_noval")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM wc_noval").collect()
    assert len(rows) == 3 and all(r["n"] == 1 for r in rows)


def test_windowed_counts_explicit_missing_value_col_raises(spark, sf_dir,
                                                            tmp_path):
    """Review r5: the absent-column leniency is for the DEFAULT 'value'
    only — an explicitly passed value_col that is missing is a typo and
    must raise, not silently omit sum_value."""
    import pytest

    from accelerator_spark.streaming.structured import (
        stream_from_directory, windowed_counts,
    )

    src = load(spark, sf_dir, "events").limit(10)
    p = str(tmp_path / "ev")
    src.write.mode("overwrite").parquet(p)
    ev = stream_from_directory(spark, p, src.schema)
    with pytest.raises(ValueError, match="revenu"):
        windowed_counts(ev, "ts", "1 hour", "2 hours", value_col="revenu")
    # ADVICE r5: an EXPLICIT value_col="value" on a stream without that
    # column is also a typo — the identity sentinel keeps the leniency
    # for the default only, so this raises too
    # (cast ts explicitly: events.parquet reads back TIMESTAMP_NTZ,
    # which watermarks reject)
    noval = src.drop("value").selectExpr(
        "cast(ts as timestamp) as ts", "event_type")
    p2 = str(tmp_path / "ev_noval")
    noval.write.mode("overwrite").parquet(p2)
    ev2 = stream_from_directory(spark, p2, "ts timestamp, event_type string")
    with pytest.raises(ValueError, match="'value'"):
        windowed_counts(ev2, "ts", "1 hour", "2 hours", value_col="value")
    # while the DEFAULT still degrades to counts-only on the same stream
    assert "sum_value" not in windowed_counts(
        ev2, "ts", "1 hour", "2 hours").columns


def test_fold_sessions_model():
    """Unit tests for the pure per-key session fold behind
    sessionize_stateful, including the ADVICE r5 late-event policy:
    events older than the open session's start are DROPPED (emitted
    history is immutable); events inside the open span clamp to
    last_us; fresh events extend or close sessions."""
    from accelerator_spark.streaming.structured import _fold_sessions

    GAP = 30 * 60 * 1_000_000  # 30 min in us
    M = 60 * 1_000_000

    # no state, one batch, one gap -> first session closed, second open
    closed, st = _fold_sessions([0, 5 * M, 60 * M, 62 * M], None, GAP)
    assert closed == [(0, 5 * M, 2)]
    assert st == (60 * M, 62 * M, 2)

    # empty batch without state: nothing
    assert _fold_sessions([], None, GAP) == ([], None)

    # continuation: new events within gap extend the open session
    closed, st = _fold_sessions([70 * M], (60 * M, 62 * M, 2), GAP)
    assert closed == [] and st == (60 * M, 70 * M, 3)

    # late event BEFORE the open session's start: dropped, state kept
    closed, st = _fold_sessions([10 * M], (60 * M, 70 * M, 3), GAP)
    assert closed == [] and st == (60 * M, 70 * M, 3)

    # late event inside the open span: clamps to last_us, counts, no
    # session_end regression
    closed, st = _fold_sessions([65 * M], (60 * M, 70 * M, 3), GAP)
    assert closed == [] and st == (60 * M, 70 * M, 4)

    # mixed batch: stale dropped, in-span clamped, fresh closes after gap
    closed, st = _fold_sessions(
        [10 * M, 65 * M, 120 * M], (60 * M, 70 * M, 3), GAP)
    assert closed == [(60 * M, 70 * M, 4)]
    assert st == (120 * M, 120 * M, 1)


def test_stream_near_dedup_two_drains(spark, tmp_path):
    """near_dedup_incremental wired into Structured Streaming
    (stream_near_dedup): two AvailableNow drains over a landing
    directory — the second drain processes ONLY the new file
    (checkpoint) and its rows probe the parquet-persisted band-row
    state, so survivors match a direct two-batch
    near_dedup_incremental run; kept/state land under batch_id=N
    partition dirs (idempotent per-batch overwrite commits)."""
    from pyspark.sql import types as T

    from accelerator_spark.operators.dedup import near_dedup_incremental
    from accelerator_spark.streaming.structured import (
        stream_from_directory, stream_near_dedup)

    def flip(fp, *bits):
        for b in bits:
            fp ^= 1 << b
        if fp >= 1 << 63:
            fp -= 1 << 64
        return fp

    base = flip(0, 1, 9, 17, 33)
    far = flip(0, 2, 22, 44, 63)
    batch_a = [(10, base), (11, flip(base, 5))]          # near pair
    batch_b = [(5, flip(base, 6)),                       # near kept 10
               (6, far), (7, flip(far, 3))]              # near pair
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("fp", T.LongType())])
    src = str(tmp_path / "landing")
    kept_p, state_p, ckpt = (str(tmp_path / d)
                             for d in ("kept", "state", "ckpt"))

    spark.createDataFrame(batch_a, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream_near_dedup(stream_from_directory(spark, src, schema),
                      kept_p, state_p, ckpt)
    got_a = {r.doc_id for r in spark.read.parquet(kept_p).collect()}

    spark.createDataFrame(batch_b, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream_near_dedup(stream_from_directory(spark, src, schema),
                      kept_p, state_p, ckpt)
    back = spark.read.parquet(kept_p)
    got_all = {r.doc_id for r in back.collect()}

    # direct two-batch replay is the ground truth
    k0, st = near_dedup_incremental(
        spark.createDataFrame(batch_a, schema), None)
    k1, st = near_dedup_incremental(
        spark.createDataFrame(batch_b, schema), st)
    want_a = {r.doc_id for r in k0.collect()}
    want_all = want_a | {r.doc_id for r in k1.collect()}
    assert got_a == want_a
    assert got_all == want_all
    # provenance: batch_id partition column distinguishes the drains
    assert set(back.select("batch_id").distinct().toPandas()
               ["batch_id"]) == {0, 1}
    # state = 4 band rows per kept doc across both drains
    st_rows = spark.read.parquet(state_p)
    assert st_rows.count() == 4 * len(want_all)


def _flip64(fp, *bits):
    for b in bits:
        fp ^= 1 << b
    if fp >= 1 << 63:
        fp -= 1 << 64
    return fp


def test_near_dedup_micro_batch_retry_window(spark, tmp_path):
    """The at-least-once RETRY window (ADVICE r11, high): a retry of
    batch N re-runs after N's state write already landed (crash before
    the checkpoint commit). The state probe must filter
    batch_id < current — otherwise the batch reads its OWN band rows
    as state, every kept row is Hamming-0 from itself, and the retry
    overwrites both partitions with empty data."""
    from accelerator_spark.streaming.structured import (
        near_dedup_micro_batch)

    base = _flip64(0, 1, 9, 17, 33)
    far = _flip64(0, 2, 22, 44, 63)
    schema = "doc_id long, fp long"
    kept_p, state_p = str(tmp_path / "kept"), str(tmp_path / "state")

    b0 = spark.createDataFrame([(10, base), (11, _flip64(base, 5))],
                               schema)
    near_dedup_micro_batch(b0, 0, kept_p, state_p)
    b1 = spark.createDataFrame(
        [(5, _flip64(base, 6)), (6, far), (7, _flip64(far, 3))], schema)
    near_dedup_micro_batch(b1, 1, kept_p, state_p)
    first = {r.doc_id for r in spark.read.parquet(kept_p).collect()}
    assert first == {10, 6}  # 5 near kept 10; 7 near in-batch 6

    # the retry: same batch, same id, state write from the first
    # attempt already on disk
    near_dedup_micro_batch(b1, 1, kept_p, state_p)
    retried = {r.doc_id for r in spark.read.parquet(kept_p).collect()}
    assert retried == first  # survivors NOT lost
    st = spark.read.parquet(state_p)
    assert st.count() == 4 * len(first)  # state intact, no dup rows


def test_near_dedup_micro_batch_empty_batch_then_data(spark, tmp_path):
    """A micro-batch that keeps ZERO rows leaves a schema-less
    batch_id=N dir; the next batch's state read must still work (the
    explicit-schema read, ADVICE r11) and dedup correctly against the
    union of earlier generations."""
    from accelerator_spark.streaming.structured import (
        near_dedup_micro_batch)

    base = _flip64(0, 3, 12, 48)
    schema = "doc_id long, fp long"
    kept_p, state_p = str(tmp_path / "kept"), str(tmp_path / "state")

    b0 = spark.createDataFrame([(10, base)], schema)
    near_dedup_micro_batch(b0, 0, kept_p, state_p)
    empty = spark.createDataFrame([], schema)
    near_dedup_micro_batch(empty, 1, kept_p, state_p)
    # batch 2 reads a store whose newest generation has no part files
    b2 = spark.createDataFrame(
        [(20, _flip64(base, 7)), (21, _flip64(0, 5, 25, 45, 60))], schema)
    near_dedup_micro_batch(b2, 2, kept_p, state_p)
    got = {r.doc_id for r in spark.read.parquet(kept_p).collect()}
    assert got == {10, 21}  # 20 dropped against generation-0 state


def test_compact_batch_store_probe_identity(spark, tmp_path):
    """compact_batch_store folds all generations but the newest into
    one; the band-row store must probe IDENTICALLY before and after
    (state_near_ids on fragmented vs compacted state), preserve its
    row count and the (max_hamming+1)-rows-per-doc invariant, and
    leave the newest generation's id in place for the retry window."""
    import os
    import re
    import shutil

    from accelerator_spark.operators.dedup import state_near_ids
    from accelerator_spark.streaming.structured import (
        compact_batch_store, near_dedup_micro_batch)

    schema = "doc_id long, fp long"
    kept_p, state_p = str(tmp_path / "kept"), str(tmp_path / "state")
    seeds = [_flip64(0, *bits) for bits in
             [(1, 9), (2, 22, 44), (3, 15, 60), (4, 30, 55, 63)]]
    for i, s in enumerate(seeds):
        b = spark.createDataFrame([(100 + i, s)], schema)
        near_dedup_micro_batch(b, i, kept_p, state_p)

    frag = str(tmp_path / "state_frag")
    shutil.copytree(state_p, frag)
    probe = spark.createDataFrame(
        [(900, _flip64(seeds[0], 6)), (901, _flip64(0, 7, 27, 47))],
        schema)

    def probe_ids(path):
        st = spark.read.parquet(path).drop("batch_id")
        return {r.doc_id
                for r in state_near_ids(probe, st).collect()}

    before = probe_ids(frag)
    folded = compact_batch_store(spark, state_p, target_files=2,
                                 rows_per_key=("doc_id", 4))
    assert folded == 3
    assert probe_ids(state_p) == before == {900}
    gens = sorted(int(m.group(1)) for e in os.listdir(state_p)
                  if (m := re.fullmatch(r"batch_id=(\d+)", e)))
    assert gens == [0, 3]  # folded generation + untouched newest
    assert (spark.read.parquet(state_p).count()
            == spark.read.parquet(frag).count() == 4 * len(seeds))


def test_compact_batch_store_restart_drain(spark, tmp_path):
    """Restart-after-compaction: drain three micro-batches, compact
    BOTH stores, drain a fourth new file — the final survivor set must
    equal an uncompacted reference run (the stream picks up the
    compacted store transparently)."""
    from accelerator_spark.streaming.structured import (
        compact_batch_store, stream_from_directory, stream_near_dedup)

    base = _flip64(0, 1, 9, 17, 33)
    far = _flip64(0, 2, 22, 44, 63)
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("fp", T.LongType())])
    batches = [[(10, base), (11, _flip64(base, 5))],
               [(20, _flip64(base, 6))],          # near kept 10
               [(30, far)],
               [(40, _flip64(far, 3)),            # near kept 30
                (41, _flip64(0, 6, 26, 46, 61))]]

    def drain(src, kept_p, state_p, ckpt, data):
        spark.createDataFrame(data, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        stream_near_dedup(stream_from_directory(spark, src, schema),
                          kept_p, state_p, ckpt)

    # reference: no compaction
    ref = str(tmp_path / "ref")
    for b in batches:
        drain(ref + "/src", ref + "/kept", ref + "/state",
              ref + "/ckpt", b)
    want = {r.doc_id
            for r in spark.read.parquet(ref + "/kept").collect()}

    # compacted run: three drains, compact both stores, fourth drain
    c = str(tmp_path / "cmp")
    for b in batches[:3]:
        drain(c + "/src", c + "/kept", c + "/state", c + "/ckpt", b)
    assert compact_batch_store(spark, c + "/state",
                               rows_per_key=("doc_id", 4)) == 2
    assert compact_batch_store(spark, c + "/kept") == 2
    drain(c + "/src", c + "/kept", c + "/state", c + "/ckpt",
          batches[3])
    got = {r.doc_id for r in spark.read.parquet(c + "/kept").collect()}
    assert got == want == {10, 30, 41}


_T1 = "the quick brown fox jumps over the lazy dog today"
_T2 = "completely different content about spark execution engines"
_T5 = "partition pruning keeps scans small at any realistic scale"
_T7 = "watermarks bound streaming state across long sessions"


def test_text_near_dedup_micro_batch_retry_window(spark, tmp_path):
    """At-least-once retry of the TEXT micro-batch: re-running batch N
    after its state write landed (crash before the checkpoint commit)
    must not read its own band rows/corpus as state — every doc is
    Jaccard-1.0 with itself, so an unfiltered retry would drop the
    whole batch and overwrite both partitions empty."""
    from accelerator_spark.streaming.structured import (
        text_near_dedup_micro_batch)

    schema = "doc_id long, text string"
    kept_p, state_p = str(tmp_path / "kept"), str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, _T1), (2, _T2)], schema)
    text_near_dedup_micro_batch(b0, 0, kept_p, state_p)
    b1 = spark.createDataFrame([(3, _T1), (5, _T5)], schema)
    text_near_dedup_micro_batch(b1, 1, kept_p, state_p)
    first = {r.doc_id for r in spark.read.parquet(kept_p).collect()}
    assert first == {1, 2, 5}  # 3 = exact dup of kept 1

    text_near_dedup_micro_batch(b1, 1, kept_p, state_p)  # the retry
    retried = {r.doc_id for r in spark.read.parquet(kept_p).collect()}
    assert retried == first
    st = spark.read.parquet(state_p)
    assert st.count() == 4 * len(first)  # 4 bands per kept doc


def test_text_near_dedup_micro_batch_empty_batch_then_data(spark,
                                                          tmp_path):
    """A TEXT micro-batch that keeps ZERO rows leaves schema-less
    batch_id=N dirs in both stores; the next batch's state and corpus
    reads must still work (explicit schemas) and dedup against the
    earlier generations."""
    from accelerator_spark.streaming.structured import (
        text_near_dedup_micro_batch)

    schema = "doc_id long, text string"
    kept_p, state_p = str(tmp_path / "kept"), str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, _T1), (2, _T2)], schema)
    text_near_dedup_micro_batch(b0, 0, kept_p, state_p)
    # every doc of batch 1 is an exact duplicate of a kept doc
    b1 = spark.createDataFrame([(3, _T1), (4, _T2)], schema)
    text_near_dedup_micro_batch(b1, 1, kept_p, state_p)
    kept = spark.read.parquet(kept_p)
    assert kept.filter("batch_id = 1").count() == 0
    b2 = spark.createDataFrame([(5, _T2), (7, _T7)], schema)
    text_near_dedup_micro_batch(b2, 2, kept_p, state_p)
    got = {r.doc_id for r in spark.read.parquet(kept_p).collect()}
    assert got == {1, 2, 7}  # 5 dropped against generation-0 state
    assert spark.read.parquet(state_p).count() == 4 * len(got)


def test_stream_text_near_dedup_matches_direct(spark, tmp_path):
    """Three document files drained as three micro-batches
    (AvailableNow + maxFilesPerTrigger=1), with compact_batch_store
    folding BOTH stores between drains, must produce exactly the
    direct text_near_dedup_incremental answer."""
    import os

    from accelerator_spark.operators.dedup import (
        text_near_dedup_incremental)
    from accelerator_spark.streaming.structured import (
        compact_batch_store, stream_from_directory,
        stream_text_near_dedup)

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    batches = [[(1, _T1), (2, _T2)],
               [(3, _T1), (5, _T5)],
               [(6, _T5), (7, _T7), (8, _T7)]]

    # direct reference
    state = corpus = None
    want = set()
    for rows in batches:
        b = spark.createDataFrame(rows, schema)
        kept, state = text_near_dedup_incremental(b, state, corpus)
        kept = kept.localCheckpoint()
        state = state.localCheckpoint()
        want |= {r.doc_id for r in kept.collect()}
        kc = kept.select("doc_id", "text")
        corpus = kc if corpus is None else corpus.unionByName(kc)

    # streamed run: drain per file, compact both stores after drain 2
    src = str(tmp_path / "src")
    kept_p, state_p = str(tmp_path / "kept"), str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        stream_text_near_dedup(
            stream_from_directory(spark, src, schema,
                                  max_files_per_trigger=1),
            kept_p, state_p, ckpt)
        if i == 1:
            assert compact_batch_store(spark, state_p) == 0  # 2 gens
    got = {r.doc_id for r in spark.read.parquet(kept_p).collect()}
    assert got == want == {1, 2, 5, 7}

    # state lifecycle: all three generations now fold; the store
    # still reads back with the same per-doc band multiplicity
    folded = compact_batch_store(spark, state_p,
                                 rows_per_key=("doc_id", 4))
    assert folded == 2
    assert spark.read.parquet(state_p).count() == 4 * len(want)
