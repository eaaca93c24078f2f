"""Isolated per-query timing — the guide §1 measurement loop without
the full bench: run only the named queries (median of N noop-sink
runs, same methodology as bench.py), and report the Spark JOB COUNT
per run via the status tracker so job-count reductions (guide §2.4 —
each extra action/shuffle round is fixed latency at any scale) are
directly visible.

Usage: python tools/time_query.py [-n reps] query [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from accelerator_spark import queries as Q
from accelerator_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="time_query")
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()  # warm JVM
    tracker = spark.sparkContext.statusTracker()

    for name in args:
        fn = Q.QUERIES.get(name)
        if fn is None:
            print(f"{name}: NOT IN REGISTRY", file=sys.stderr)
            continue
        samples, jobs = [], []
        for _ in range(reps):
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            spark.sparkContext.setJobDescription(name)
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            samples.append(time.perf_counter() - t0)
            j1 = len(tracker.getJobIdsForGroup(None) or [])
            jobs.append(j1 - j0)
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
        med = statistics.median(samples)
        print(f"{name}: {med:.3f}s  [{min(samples):.3f}-{max(samples):.3f}]"
              f"  jobs/run={jobs}")


if __name__ == "__main__":
    main()
