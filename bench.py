"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

STDOUT CONTRACT (ADVICE r5, VERDICT r12 #1): stdout carries EXACTLY
ONE JSON line — metric/value/unit/total plus the per-query median map
under ``queries`` (the driver diffs per-query times from this line;
rounds 11-12 lost that diff because the line carried only the total).
The full record (plus spreads and rerun provenance) is also persisted
to bench_latest.json beside this file.

Timing (VERDICT r5 #4): per query, the MEDIAN of N runs (default 3)
plus the [min, max] spread — single-sample records absorbed up to 2x
box drift on this machine and polluted every cross-round comparison.
Timing excludes SparkSession startup (cold JVM) and uses a noop write
so results are computed but never collected to the driver.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__
from accelerator_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # warm the JVM + parquet footers once with a trivial action
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    # median-of-N (VERDICT r5 #4): the first run pays one-time parquet
    # footer reads + plan compilation, outlier runs absorb box noise —
    # the median is robust to both; the spread makes drift visible.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    reruns: dict[str, float] = {}  # spread-triggered extra reps (r8)
    # the full gated registry, in the driver's order, so a perf
    # regression in any query is catchable
    for name, fn in __spark_entry__.queries().items():
        samples: list[float] = []
        # a single failing query must not sink the whole benchmark (and
        # with it the round's perf record) — record the error, move on.
        # Per-RUN try: surviving runs' timings are kept even if a later
        # run fails (dropping them made a failure read as a speedup in
        # the headline total — review r4), and clearCache always runs so
        # a failed query's persisted intermediates can't distort the
        # next query's memory budget.
        for _ in range(runs):
            try:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                # noop write, not count(): count lets Catalyst PRUNE the
                # projections/windows/sorts under it, timing map-only and
                # window queries as bare scans (verified: the count-plan
                # of array_function_sweep drops every expression —
                # review r4). The noop sink executes the full plan,
                # result stays distributed.
                df.write.mode("overwrite").format("noop").save()
                samples.append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001 — deliberate catch-all
                errors[name] = str(e).split("\n")[0][:200]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            finally:
                spark.catalog.clearCache()
        # spread self-healing (VERDICT r7 #4): the long bench JVM
        # occasionally lands one GC/compilation artifact rep 3-5x the
        # others, and a median of 3 can't outvote it when a second rep
        # is also slightly off — r7's committed record carried a 3.87 s
        # median with spread [1.70, 5.19] for a ~2.2 s query. When the
        # rep spread exceeds 3x, run ONE extra rep and take the median
        # of the best 3 — same basis, minus single-rep JVM artifacts.
        if (len(samples) >= 3 and name not in errors
                and max(samples) / max(min(samples), 1e-9) > 3.0):
            try:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite") \
                    .format("noop").save()
                samples.append(time.perf_counter() - t0)
                reruns[name] = round(samples[-1], 3)
                # drop ONLY the single worst rep, and only when it is
                # still past the 3x guard — dropping the max of 4
                # unconditionally kept the 3 FASTEST and biased the
                # median optimistic when reps genuinely vary
                # (ADVICE r8); otherwise all 4 vote
                if max(samples) > 3.0 * max(min(samples), 1e-9):
                    samples = sorted(samples)[:3]
            except Exception as e:  # noqa: BLE001
                # the 3 base reps already succeeded — the query itself
                # is fine, so keep their median and record the rerun
                # failure under its own key instead of errors[name]
                # (which would make times+errors an inconsistent
                # record, ADVICE r8)
                errors[name + "#rerun"] = str(e).split("\n")[0][:200]
            finally:
                spark.catalog.clearCache()
        if samples:
            times[name] = round(statistics.median(samples), 3)
            spread[name] = [round(min(samples), 3), round(max(samples), 3)]
            print(f"# {name}: {times[name]:.3f}s "
                  f"[{spread[name][0]:.3f}-{spread[name][1]:.3f}]",
                  file=sys.stderr)

    total = round(sum(times.values()), 3)

    def _parse_sf(v):
        # sf0.1 -> 0.1; anything unparseable stays a string — a weird
        # sf_dir suffix must not crash bench AFTER all timing work
        # (review r5: '1.2.3'.replace('.','').isdigit() passed the old
        # guard and float() then raised)
        try:
            return float(v)
        except (TypeError, ValueError):
            return v

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "basis": f"median_of_{runs}",
        "queries": times,
        "spread": spread,
        "sf": _parse_sf(sf),
    }
    if reruns:
        # which queries tripped the >3x spread guard, and what the
        # extra rep measured — makes the self-healing auditable
        out["spread_reruns"] = reruns
    if errors:
        out["errors"] = errors
    # the driver only tail-captures stdout (BENCH_r03's record lost the
    # headline total to truncation) — persist the full per-query JSON
    # beside the repo so every round has a complete committed artifact
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_latest.json"), "w") as f:
            json.dump(out, f, indent=1)
    except OSError as e:
        print(f"# bench_latest.json not written: {e}", file=sys.stderr)
    # stdout carries EXACTLY ONE JSON object (VERDICT r6 #7): the
    # summary, INCLUDING the per-query medians (VERDICT r12 #1: the
    # driver's per-query regression diff ran two rounds with
    # per_query = {} / n_common = 0 because this line carried only the
    # total — the driver contract reads `queries` from the final
    # stdout JSON line, so the map must live HERE, not only in
    # bench_latest.json). The full record (with spreads/reruns) stays
    # in bench_latest.json; metric/value/unit mirror its keys so any
    # parser of either artifact sees a valid bench record.
    summary = {"metric": out.get("metric", "total_runtime"), "value": total,
               "unit": "sec", "total_sec": total, "n_queries": len(times),
               "basis": out["basis"], "queries": times, "sf": out["sf"],
               "per_query_record": "bench_latest.json"}
    if errors:
        summary["n_errors"] = len(errors)
    print(json.dumps(summary))
    # honest exit status: verify_all's "exit 0 iff green" contract must
    # see bench-only failures (a query can break at sf0.1 under bench
    # memory pressure while the sf0.01 oracle passes — review r4)
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
