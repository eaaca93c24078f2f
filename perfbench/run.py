"""The repository benchmark: one named workload, one seed, one client.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. After an untimed, output-checked warm-up
pass, a run repeats timed passes for ``--seconds`` (at least two passes).
Inputs are generated from ``--seed`` under
``.perfbench/`` in the current directory; nothing outside it is written.
The environment is pinned before Spark starts: ``local[N]`` with N half
the usable cores, and a fixed JVM heap of a quarter of physical memory
(1-6 GiB).

Every end-to-end metric is the same for every workload:

* ``setup_s``     median of five session set-ups (``get_spark`` plus a
                  first read, a row count of ``lineitem``); the first
                  pays the JVM launch, the others restart the session.
* ``pass_s``      median wall time of one timed pass (relational: all
                  sixteen steps; pipeline: one cold build, re-run and
                  append cycle in a fresh workdir).
* ``step_p50_s``  median latency of one step.
* ``step_tail_s`` the highest percentile of step latency with at least
                  ten samples beyond it among the fewest samples a run
                  takes (two passes); the record states it and the n.
* ``ok_ratio``    steps that ran and matched their check / steps tried.

``--trace 1`` reports the per-layer metrics instead: spans around each
call into a layer, rolled up into per-layer self time and counts, plus
Spark job/stage counters from the status store, and the peak resident
memory (VmHWM) of this process plus the JVM. The traced ``pass_s``
is reported as ``trace.pass_s``; its excess over the untraced run's
``pass_s`` on the same seed is the tracing overhead.

The second-to-last stdout line is a JSON record with the environment
stamp (cores, heap, SF, source revision, pyspark and java versions, load
average at start and end), every sample behind the medians, the CPU
seconds (this process plus the JVM and its children) of each pass and
the job count range of each step. The last line is the result.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

SETUPS = 5

WORKLOADS = ("pipeline", "relational")
SF = 0.01  # scale factor of the generated tables (lineitem: 60,000 rows)

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "step_p50_s": "s", "step_tail_s": "s",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "exec.task_skew": "ratio", "exec.input_rows": "count",
    "exec.gc_s": "s", "exec.python_steps": "count",
    "dataset.write_s": "s", "dataset.write_calls": "count",
    "dataset.bytes_written": "B", "dataset.chain_df_s": "s",
    "dataset.chain_links": "count", "dataset.zone_skip_ratio": "ratio",
    "build.calls": "count", "build.hit_ratio": "ratio",
    "build.hit_s": "s", "build.miss_s": "s", "build.urd_s": "s",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "pipeline.cold_build_s": "s", "pipeline.rebuild_s": "s",
    "pipeline.append_s": "s", "pipeline.write_amp": "ratio",
    "trace.pass_s": "s",
}


def jvm_heap_gb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_gb = int(line.split()[1]) / (1024 * 1024)
                return max(1, min(6, int(total_gb // 4)))
    raise RuntimeError("no MemTotal in /proc/meminfo")


def source_rev(root: str) -> dict:
    """git HEAD when the tree is a checkout, and always a digest of the
    library sources (the benchmark also runs from exported trees)."""
    head = None
    if os.path.exists(os.path.join(root, ".git")):
        try:
            head = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    h = hashlib.sha1()
    lib = os.path.join(root, "accelerator_spark")
    for d, _dirs, files in sorted(os.walk(lib)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {"git_head": head, "source_sha1": h.hexdigest()}


class Bench:
    """What a workload gets: the session, its inputs and its budget."""

    def __init__(self, root, work, spark, seed, seconds, data_dir, tracer):
        self.root, self.work, self.spark = root, work, spark
        self.seed, self.seconds = seed, seconds
        self.data_dir, self.tracer = data_dir, tracer
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        self.cpu = harness.CpuClock(jvm_pid)

    def oracle(self, tables):
        return harness.Oracle(self.root, self.data_dir, tables)


def setup_session(get_spark, data_dir, tracer):
    """Start the session SETUPS times (stopping it in between), each time
    followed by a first read: a row count of ``lineitem``."""
    samples = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("get_spark", "session"):
            spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        with tracer.span("first_read", "session"):
            spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")) \
                .count()
        t2 = time.perf_counter()
        samples.append({"start_s": t1 - t0, "warmup_s": t2 - t1})
    return spark, samples


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM pyspark launched and wait for
    it: the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help=f"scale factor of the generated tables (default {SF})")
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "accelerator_spark")):
        print(f"perfbench: no accelerator_spark package under {root}",
              file=sys.stderr)
        return 2
    sf = args.sf or SF
    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    # Pin the environment before pyspark starts the JVM.
    cores = len(os.sched_getaffinity(0))
    # Spark gets half the cores: the JVM's compiler and GC threads and the
    # Python client need the rest, or the run measures the scheduler.
    cpus = max(1, cores // 2)
    heap = jvm_heap_gb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # JVM temp files go under the work dir; no hsperfdata file in /tmp
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "TMPDIR": tmp,
        "TZ": "UTC",
        # a fixed-size heap, so heap resizing does not vary between runs
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Xms{heap}g '
                               f'{jvm_opts}" pyspark-shell',
    })
    time.tzset()
    load_start = os.getloadavg()
    sys.path.insert(0, root)
    from accelerator_spark import get_spark

    import datagen

    workload = importlib.import_module(args.workload)
    data_dir = os.path.join(work, "data")
    datagen.write_tables(data_dir, args.seed, sf)

    tracer = harness.Tracer(bool(args.trace))
    spark, setups = setup_session(get_spark, data_dir, tracer)
    tracer.instrument()
    try:
        bench = Bench(root, work, spark, args.seed, args.seconds, data_dir,
                      tracer)
        res = workload.run(bench)
    finally:
        tracer.uninstrument()
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    rss_mb = harness.vm_hwm_mb(os.getpid()) + harness.vm_hwm_mb(jvm_pid)
    versions = {
        "pyspark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    stop_jvm(spark)
    load_end = os.getloadavg()

    step_s = res["step_s"]
    # fixed by the fewest samples a run can take, so every run reports
    # the same percentile
    tail_p = harness.tail_percentile(harness.MIN_PASSES
                                     * res["steps_per_pass"])
    attempted = res["attempted"]
    failed = len(res["failures"])
    e2e = {
        "setup_s": harness.median([s["start_s"] + s["warmup_s"]
                                   for s in setups]),
        "pass_s": res["pass_s"],
        "step_p50_s": harness.median(step_s) if step_s else float("nan"),
        "step_tail_s": harness.percentile(step_s, tail_p)
        if step_s else float("nan"),
        "ok_ratio": (attempted - failed) / attempted,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "stamp": {"cores": cores, "spark_cpus": cpus, "jvm_heap": f"{heap}g",
                  "sf": sf,
                  **source_rev(root), **versions,
                  "loadavg_start": load_start, "loadavg_end": load_end,
                  "load_over_cores": max(load_start[0], load_end[0]) > cores},
        "setups": setups, "peak_rss_mb": rss_mb,
        "step_tail_percentile": tail_p, "step_samples": len(step_s),
        "failures": res["failures"],
        **{k: v for k, v in res.items()
           if k not in ("step_s", "failures", "layers")},
    }
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers["session.start_s"] = harness.median(
            [s["start_s"] for s in setups])
        layers["session.warmup_s"] = harness.median(
            [s["warmup_s"] for s in setups])
        layers["session.peak_rss_mb"] = rss_mb
        layers.update(res["layers"])
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        trace_path = os.path.join(cwd, ".perfbench",
                                  f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(tracer.spans, f)
        record["trace_file"] = trace_path
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    if record["stamp"]["load_over_cores"]:
        print("perfbench: load average exceeded the core count during "
              "this run; its timings are flagged", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
