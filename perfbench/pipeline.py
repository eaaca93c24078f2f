"""``pipeline`` workload: the reference's daily-import chain, one cycle
per pass in a fresh workdir, after one untimed warm-up cycle.

1. Cold build: import days 1-7 of ``lineitem`` (split in ``l_shipdate``
   order into eight batches) one ``ChainRunner.process`` call per day,
   then build a report over ``chain_df``.
2. Re-run: the same script on a new urd list in a new ``BuildContext``;
   every step must memo-hit.
3. Append: import day 8 and build two reports, one over the whole chain
   and one with ``range_filter`` over a seed-chosen ``l_shipdate`` window,
   so the zone maps skip most of the chain.

Checks: the reports equal DuckDB aggregates over the same rows, and the
re-run is all memo hits. A step is one build that runs (memo hits are
timed as the re-run).
"""

from __future__ import annotations

import itertools
import os
import random
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from harness import (JobCounter, dir_bytes, exec_metrics, median, run_for,
                     self_time)

DAYS = 8
_AGG_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(CAST(l_quantity AS BIGINT)) AS qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents
FROM read_parquet({files}) {where} GROUP BY 1, 2
"""


def import_batch(spark, datasets, options):
    """One day's feed, hash-partitioned on the order key."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark.read.parquet(options["path"]).repartition(n, "l_orderkey")


def _totals(df):
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .alias("price_cents"))


def chain_report(spark, datasets, options):
    return _totals(datasets["chain"].chain_df(spark))


def range_report(spark, datasets, options):
    return _totals(datasets["chain"].chain_df(
        spark, range_filter={"l_shipdate": (options["lo"], options["hi"])}))


def split_feed(lineitem_path: str, feed_dir: str) -> list[str]:
    """Write lineitem as DAYS parquet files of consecutive ship dates."""
    os.makedirs(feed_dir, exist_ok=True)
    table = pq.read_table(lineitem_path)
    table = table.take(pc.sort_indices(table, [("l_shipdate", "ascending")]))
    per = -(-table.num_rows // DAYS)
    paths = []
    for d in range(DAYS):
        path = os.path.join(feed_dir, f"day-{d + 1}.parquet")
        pq.write_table(table.slice(d * per, per), path)
        paths.append(path)
    return paths


class Checker:
    """DuckDB aggregates over the feed files, to compare reports with."""

    def __init__(self, bench):
        self.oracle = bench.oracle([])
        self.con = self.oracle.con

    def expect(self, files, lo=None, hi=None):
        where = ""
        if lo is not None:
            where = (f"WHERE l_shipdate >= TIMESTAMP '{lo}' "
                     f"AND l_shipdate < TIMESTAMP '{hi}'")
        cur = self.con.execute(_AGG_SQL.format(files=files, where=where))
        return [d[0] for d in cur.description], cur.fetchall()

    def check(self, job, files, lo=None, hi=None):
        df = job.df()
        o_cols, o_rows = self.expect(files, lo, hi)
        return self.oracle.compare(df.columns, [tuple(r) for r in
                                                df.collect()],
                                   o_cols, o_rows)


def run(bench) -> dict:
    from accelerator_spark import BuildContext, Urd
    from accelerator_spark.streaming import ChainRunner

    spark, tracer = bench.spark, bench.tracer
    counter = JobCounter(spark)
    rng = random.Random(bench.seed)
    feed = split_feed(os.path.join(bench.data_dir, "lineitem.parquet"),
                      os.path.join(bench.work, "feed"))
    feed_bytes = sum(os.path.getsize(p) for p in feed)
    days = {f"2024-01-{d + 1:02d}": {"path": p} for d, p in enumerate(feed)}
    stamps = sorted(days)
    checker = Checker(bench)
    lo_t, hi_t = pq.read_table(feed[0], columns=["l_shipdate"]), \
        pq.read_table(feed[-1], columns=["l_shipdate"])
    first = pc.min(lo_t["l_shipdate"]).as_py()
    last = pc.max(hi_t["l_shipdate"]).as_py()

    failures: list[str] = []
    attempted = 0
    step_s: list[float] = []

    def timed(label, fn):
        nonlocal attempted
        attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failing step is counted, not fatal
            failures.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
            return None
        step_s.append(time.perf_counter() - t0)
        return out

    def window():
        """A seed-chosen quarter of the ship-date span."""
        span = (last - first) / 4
        lo = first + (last - first - span) * rng.random()
        lo = lo.replace(hour=0, minute=0, second=0, microsecond=0)
        return lo.isoformat(), (lo + span).replace(
            hour=0, minute=0, second=0, microsecond=0).isoformat()

    def check(label, job, files, lo=None, hi=None):
        if job is not None:
            err = checker.check(job, files, lo, hi)
            if err:
                failures.append(f"{label}: {err}")

    def cycle(k: int) -> dict:
        nonlocal attempted
        wd = os.path.join(bench.work, f"cycle-{k}")
        lo, hi = window()
        mark = tracer.mark()
        gid = counter.group(f"cycle-{k}")
        first_step = len(step_s)
        cc = bench.cpu()
        tc = time.perf_counter()
        ctx, urd = BuildContext(spark, wd), Urd(wd)
        runner = ChainRunner(ctx, urd, "lineitem")
        head = None
        for ts in stamps[:-1]:
            head = timed(f"import {ts}", lambda: runner.process(
                {ts: days[ts]}, import_batch)) or head
        rep = timed("chain_report", lambda: ctx.build(
            chain_report, datasets={"chain": head}))
        t_cold = time.perf_counter()

        ctx2 = BuildContext(spark, wd)
        rerun = ChainRunner(ctx2, urd, "lineitem-rerun")
        head2 = rerun.process({ts: days[ts] for ts in stamps[:-1]},
                              import_batch)
        rep2 = ctx2.build(chain_report, datasets={"chain": head2})
        t_rerun = time.perf_counter()

        head8 = timed(f"import {stamps[-1]}", lambda: runner.process(
            {stamps[-1]: days[stamps[-1]]}, import_batch))
        full = timed("chain_report", lambda: ctx.build(
            chain_report, datasets={"chain": head8}))
        ranged = timed("range_report", lambda: ctx.build(
            range_report, datasets={"chain": head8},
            options={"lo": lo, "hi": hi}))
        t_end = time.perf_counter()
        cpu_s = bench.cpu() - cc
        counter.clear()
        spans = tracer.spans[mark:]

        # untimed: output checks and bookkeeping
        attempted += 1
        hits = [e["payload"]["cached"]
                for e in urd.entries("lineitem-rerun")] + [rep2.cached]
        if not all(hits):
            failures.append(f"re-run: {hits.count(False)}/{len(hits)} "
                            "steps missed the memo")
        check("cold chain_report", rep, feed[:-1])
        check("chain_report", full, feed)
        check("range_report", ranged, feed, lo, hi)
        rec = {
            "cycle_s": t_end - tc, "cpu_s": cpu_s,
            "cold_build_s": t_cold - tc,
            "rebuild_s": t_rerun - t_cold, "append_s": t_end - t_rerun,
            "bytes_written": dir_bytes(wd), "jobs": counter.jobs(gid),
            "step_s": step_s[first_step:],
        }
        if tracer.enabled:
            rec.update(spans=spans, chain_links=0, zone_skip_ratio=0.0,
                       stage=counter.stage_metrics(rec["jobs"]))
            if head8 is not None:
                # datasets the range report's chain_df reads after the
                # zone-map skip
                links = len(head8.chain())
                read = {os.path.dirname(os.path.dirname(f)) for f in
                        head8.chain_df(spark, range_filter={
                            "l_shipdate": (lo, hi)}).inputFiles()}
                rec.update(chain_links=links,
                           zone_skip_ratio=(links - len(read)) / links)
        return rec

    # untimed warm-up: one whole checked cycle
    cycle(0)
    del step_s[:]
    numbers = itertools.count(1)
    cycles = run_for(bench.seconds, lambda: cycle(next(numbers)))

    def med(key):
        return median([c[key] for c in cycles])

    out = {
        "attempted": attempted,
        "failures": failures,
        "pass_s": med("cycle_s"),
        "pass_samples": [c["cycle_s"] for c in cycles],
        "pass_cpu_s": med("cpu_s"),
        "pass_cpu_samples": [c["cpu_s"] for c in cycles],
        "pass_steps": [list(enumerate(c["step_s"])) for c in cycles],
        "step_s": step_s,
        "passes": len(cycles),
        "steps_per_pass": DAYS + 3,
        "cold_build_s": med("cold_build_s"),
        "rebuild_s": med("rebuild_s"),
        "append_s": med("append_s"),
        "write_amp": med("bytes_written") / feed_bytes,
        "jobs_per_cycle": [min(len(c["jobs"]) for c in cycles),
                           max(len(c["jobs"]) for c in cycles)],
    }
    if tracer.enabled:
        out["layers"] = layer_metrics(cycles, out)
    return out


def layer_metrics(cycles: list[dict], out: dict) -> dict[str, float]:
    """Per-cycle medians of the dataset, build and streaming layer
    counters."""
    def med(fn):
        return median([fn(c) for c in cycles])

    def named(name):
        return lambda s: s["name"] == name

    def count(c, pred):
        return sum(1 for s in c["spans"] if pred(s))

    def total(c, pred):
        return sum(s["end"] - s["start"] for s in c["spans"] if pred(s))

    builds = named("BuildContext.build")
    process = named("ChainRunner.process")
    return {
        "dataset.write_s": med(lambda c: self_time(
            c["spans"], named("Dataset.write"))),
        "dataset.write_calls": med(lambda c: count(
            c, named("Dataset.write"))),
        "dataset.bytes_written": med(lambda c: c["bytes_written"]),
        "dataset.chain_df_s": med(lambda c: self_time(
            c["spans"], named("Dataset.chain_df"))),
        "dataset.chain_links": med(lambda c: c["chain_links"]),
        "dataset.zone_skip_ratio": med(lambda c: c["zone_skip_ratio"]),
        "build.calls": med(lambda c: count(c, builds)),
        "build.hit_ratio": med(lambda c: count(
            c, lambda s: s.get("hit")) / max(count(c, builds), 1)),
        "build.hit_s": med(lambda c: total(c, lambda s: s.get("hit"))),
        "build.miss_s": med(lambda c: self_time(
            c["spans"], lambda s: builds(s) and not s.get("hit"))),
        "build.urd_s": med(lambda c: self_time(
            c["spans"], lambda s: s["name"].startswith("Urd."))),
        "streaming.batches": med(lambda c: sum(
            s["batches"] for s in c["spans"] if process(s))),
        "streaming.batch_s": med(lambda c: total(c, process) / max(sum(
            s["batches"] for s in c["spans"] if process(s)), 1)),
        "exec.jobs": med(lambda c: len(c["jobs"])),
        "pipeline.cold_build_s": out["cold_build_s"],
        "pipeline.rebuild_s": out["rebuild_s"],
        "pipeline.append_s": out["append_s"],
        "pipeline.write_amp": out["write_amp"],
        "trace.pass_s": out["pass_s"],
        **exec_metrics(cycles),
    }
