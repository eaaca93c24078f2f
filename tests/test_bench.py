"""bench.py over named queries: one stdout line, one stderr line per
query with its build/exec split, job and compile counts and operator
family, and no record written."""

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_times_named_queries_without_writing_the_record(sf_dir):
    names = ["q1_pricing_summary", "q6_forecast_revenue"]
    record = os.path.join(REPO, "bench_latest.json")
    with open(record, "rb") as f:
        before = f.read()
    r = subprocess.run(
        [sys.executable, "bench.py", *names], cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
                 SPARK_GRAFT_BENCH_RUNS="2"),
        capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.splitlines()
    assert len(lines) == 1, r.stdout
    out = json.loads(lines[0])
    assert list(out["queries"]) == names
    assert "per_query_record" not in out
    for name in names:
        m = re.search(rf"^# {name}: .* build ([\d.]+)s exec ([\d.]+)s "
                      r"jobs/run=\[([\d, ]+)\]", r.stderr, re.M)
        assert m, r.stderr[-2000:]
        jobs = [int(j) for j in m.group(3).split(",")]
        assert len(jobs) == 2 and min(jobs) >= 1, jobs
        m = re.search(rf"^# {name}: .* compiles/run=\[([^\]]*)\]",
                      r.stderr, re.M)
        assert m, r.stderr[-2000:]
        compiles = [int(c) for c in m.group(1).split(",")]
        assert len(compiles) == 2 and min(compiles) >= 0, compiles
        assert re.search(rf"^# {name}: .* family=relational$", r.stderr,
                         re.M), r.stderr[-2000:]
    with open(record, "rb") as f:
        assert f.read() == before
