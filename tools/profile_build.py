"""Split each query's bench-timed region into BUILD (the ``fn(spark,
sf_dir)`` DataFrame construction — driver-side Py4J chatter, analysis,
parquet footer/schema reads) and EXEC (the noop-sink write). The bench
times both together; a build-heavy query is pure driver latency that
no cluster size fixes (guide §4/§5 — the kmeans model-literal finding
generalized). Usage:

    python tools/profile_build.py [-n reps] [query ...]

With no names, profiles the whole registry and prints the table
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


def main() -> None:
    args = sys.argv[1:]
    reps = 2
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile_build")
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    names = args or sorted(Q.QUERIES)
    rows = []
    for name in names:
        fn = Q.QUERIES.get(name)
        if fn is None:
            print(f"# {name}: not in registry", file=sys.stderr)
            continue
        builds, execs = [], []
        for _ in range(reps):
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
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        if builds:
            b = statistics.median(builds)
            e = statistics.median(execs)
            rows.append((b, e, name))
            print(f"{b:7.3f} build {e:7.3f} exec  {name}", flush=True)

    rows.sort(reverse=True)
    print("\n== sorted by build time ==")
    for b, e, name in rows[:40]:
        print(f"{b:7.3f} build {e:7.3f} exec  {name}")
    print(f"\nTOTAL build {sum(r[0] for r in rows):.1f}s "
          f"exec {sum(r[1] for r in rows):.1f}s over {len(rows)} queries")


if __name__ == "__main__":
    main()
