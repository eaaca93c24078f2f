"""``relational`` workload: sixteen read-only registry queries (joins,
windows, shuffles; 2-12 Spark jobs each), one client, one step at a time.

A pass runs every step once in a seed-permuted order. A step is the
registry function (the ``queries`` layer: the plan built client-side) plus
a noop-sink write (the ``exec`` layer). Two untimed warm-up passes come
first; the first of them collects each step instead and compares it with
the step's DuckDB oracle.
"""

from __future__ import annotations

import random
import time

from datagen import TABLES
from harness import (JobCounter, exec_metrics, median, python_in_plan,
                     run_for, self_time)

STEPS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
    "q6_forecast_revenue", "q9_product_profit", "q10_returned_items",
    "q13_order_count_distribution", "q18_large_orders",
    "q21_lonely_late_supplier", "top3_orders_per_customer",
    "window_suite_orders", "running_monthly_revenue", "sessionize_events",
    "asof_click_purchase", "cohort_retention", "salted_join_agg",
]


def check_step(spark, queries, oracles, oracle, name, data_dir):
    """Collect one step and compare it with its oracle; returns an error
    string, or None when the result matches."""
    df = queries[name](spark, data_dir)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    cur = oracle.con.execute(oracles[name])
    o_cols = [d[0] for d in cur.description]
    return oracle.compare(cols, rows, o_cols, cur.fetchall())


def run(bench) -> dict:
    from accelerator_spark.queries import ORACLES, QUERIES

    spark, tracer = bench.spark, bench.tracer
    counter = JobCounter(spark)
    rng = random.Random(bench.seed)
    oracle = bench.oracle(TABLES)
    failures: list[str] = []
    attempted = 0

    def order():
        steps = list(STEPS)
        rng.shuffle(steps)
        return steps

    # warm-up pass: untimed, and the output check
    t0 = time.perf_counter()
    for name in order():
        attempted += 1
        counter.group(f"check:{name}")
        try:
            err = check_step(spark, QUERIES, ORACLES, oracle, name,
                             bench.data_dir)
        except Exception as e:  # a failing step is counted, not fatal
            err = f"{type(e).__name__}: {str(e)[:200]}"
        if err:
            failures.append(f"{name}: {err}")
    warmup_s = time.perf_counter() - t0
    counter.clear()

    step_s: list[float] = []
    jobs_by_step: dict[str, list[int]] = {n: [] for n in STEPS}

    def one_pass() -> dict:
        nonlocal attempted
        mark = tracer.mark()
        groups, lat = [], []
        cp = bench.cpu()
        tp = time.perf_counter()
        for name in order():
            attempted += 1
            ts = time.perf_counter()
            try:
                gb = counter.group(f"build:{name}")
                with tracer.span(name, "queries"):
                    df = QUERIES[name](spark, bench.data_dir)
                ge = counter.group(f"exec:{name}")
                with tracer.span("noop_write", "exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            lat.append((name, time.perf_counter() - ts))
            groups.append((name, gb, ge, df))
        rec = {"pass_s": time.perf_counter() - tp, "step_s": lat,
               "cpu_s": bench.cpu() - cp,
               "build_jobs": 0, "exec_jobs": 0, "python_steps": 0,
               "jobs": {}}
        counter.clear()
        # untimed bookkeeping: job counts per step, and in the traced run
        # the stage counters and span roll-up
        all_jobs = []
        for name, gb, ge, df in groups:
            jb, je = counter.jobs(gb), counter.jobs(ge)
            rec["jobs"][name] = len(jb) + len(je)
            rec["build_jobs"] += len(jb)
            rec["exec_jobs"] += len(je)
            all_jobs += jb + je
            if tracer.enabled:
                rec["python_steps"] += python_in_plan(df)
        if tracer.enabled:
            rec["stage"] = counter.stage_metrics(all_jobs)
            rec["spans"] = tracer.spans[mark:]
        return rec

    # One more untimed pass: the JIT compiles most of the query path during
    # the first two passes, and the pass right after the check pass varies
    # most with how much CPU the host left the compiler.
    one_pass()
    passes = run_for(bench.seconds, one_pass)
    for rec in passes:
        step_s += [t for _name, t in rec["step_s"]]
        for name, n in rec["jobs"].items():
            jobs_by_step[name].append(n)

    out = {
        "attempted": attempted,
        "failures": failures,
        "pass_s": median([p["pass_s"] for p in passes]),
        "pass_samples": [p["pass_s"] for p in passes],
        "pass_cpu_s": median([p["cpu_s"] for p in passes]),
        "pass_cpu_samples": [p["cpu_s"] for p in passes],
        "pass_steps": [p["step_s"] for p in passes],
        "step_s": step_s,
        "passes": len(passes),
        "steps_per_pass": len(STEPS),
        "warmup_pass_s": warmup_s,
        "jobs_per_step": {n: [min(v), max(v)] for n, v in
                          jobs_by_step.items() if v},
        "step_median_s": {n: median([t for p in passes
                                     for m, t in p["step_s"] if m == n])
                          for n in STEPS if jobs_by_step[n]},
    }
    if tracer.enabled:
        out["layers"] = layer_metrics(passes)
    return out


def layer_metrics(passes: list[dict]) -> dict[str, float]:
    """Per-pass medians of the queries and exec layer counters."""
    def med(fn):
        return median([fn(p) for p in passes])

    return {
        "queries.build_s": med(lambda p: self_time(
            p["spans"], lambda s: s["layer"] == "queries")),
        "queries.build_jobs": med(lambda p: p["build_jobs"]),
        "exec.run_s": med(lambda p: self_time(
            p["spans"], lambda s: s["layer"] == "exec")),
        "exec.jobs": med(lambda p: p["exec_jobs"]),
        "exec.python_steps": med(lambda p: p["python_steps"]),
        "trace.pass_s": med(lambda p: p["pass_s"]),
        **exec_metrics(passes),
    }
