"""Per-query timing: each run of a query is split into BUILD (the
``fn(spark, sf_dir)`` DataFrame construction — driver-side Py4J
chatter, analysis, parquet footer/schema reads) and EXEC (the noop-sink
write), and its Spark JOB COUNT is read from the status tracker. A
build-heavy query is pure driver latency that no cluster size fixes
(guide §4/§5), and job counts are the contention-free signal for
job-count reductions (guide §2.4 — each extra action/shuffle round is
fixed latency at any scale).

Usage: python tools/time_query.py [-n reps] [query ...]

Prints the median build/exec seconds and the per-run job counts of each
query. With no names, times the whole registry and ends with the table
sorted by build time.
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


def _line(build: float, exec_: float, jobs: list[int], name: str) -> str:
    return f"{build:7.3f} build {exec_:7.3f} exec  jobs/run={jobs}  {name}"


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="time_query")
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()  # warm JVM
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    rows = []
    for name in args or sorted(Q.QUERIES):
        fn = Q.QUERIES.get(name)
        if fn is None:
            print(f"# {name}: not in registry", file=sys.stderr)
            continue
        builds, execs, jobs = [], [], []
        for rep in range(reps):
            # one job group per run: the ungrouped job list is capped by
            # spark.ui.retainedJobs, so a before/after difference of it
            # goes negative once a long sweep fills the cap
            gid = f"time_query-{name}-{rep}"
            sc.setJobGroup(gid, name)
            try:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                print(f"# {name}: ERROR {str(e).splitlines()[0][:160]}",
                      file=sys.stderr)
                break
            finally:
                spark.catalog.clearCache()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            jobs.append(len(tracker.getJobIdsForGroup(gid) or []))
        if builds:
            rows.append((statistics.median(builds),
                         statistics.median(execs), jobs, name))
            print(_line(*rows[-1]), flush=True)

    if not args:
        rows.sort(reverse=True)
        print("\n== sorted by build time ==")
        for row in rows:
            print(_line(*row))
        print(f"\nTOTAL build {sum(r[0] for r in rows):.1f}s "
              f"exec {sum(r[1] for r in rows):.1f}s over {len(rows)} queries")


if __name__ == "__main__":
    main()
