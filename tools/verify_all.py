"""One-stop verification: the Tier-1 pytest run (ROADMAP.md) + full
DuckDB oracle gate + bench + plan audit. Exit 0 iff everything is green.

Usage: python tools/verify_all.py [--quick] [--scale]
  --quick: skip bench and plan report (tests + oracle only)
  The plans step lists the queries whose PLANS.md row differs from
  git HEAD — each one is a plan diff to explain.
  --scale: also run the 16x scale-bound suite (SPARK_GRAFT_SCALE=1
           tests) and record the result in SCALECHECK.json — VERDICT
           r5 #5: the scale suite runs once per round, committed next
           to CORRECTNESS_HEAD.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the Tier-1 command of ROADMAP.md: every core for Spark, the suite's
# 2670 s budget, and no stop at the first failure or collection error
TIER1_ENV = {"SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
             "SPARK_LOCAL_DIRS": "/tmp/spark-local"}
STEPS = [
    ("pytest", ["timeout", "-k", "10", "2670", sys.executable, "-m",
                "pytest", "tests/", "-q", "--continue-on-collection-errors",
                "-p", "no:cacheprovider"], TIER1_ENV),
    ("oracle", [sys.executable, "tools/check_oracle.py"], {}),
    ("bench", [sys.executable, "bench.py"], {}),
    ("plans", [sys.executable, "tools/plan_report.py"], {}),
]

def run_scale() -> int:
    """Run the env-gated 16x scale suite and write SCALECHECK.json."""
    cmd = [sys.executable, "-m", "pytest", "tests/test_scale.py", "-q"]
    env = dict(os.environ, SPARK_GRAFT_SCALE="1")
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=REPO, env=env,
                          capture_output=True, text=True)
    tail = (proc.stdout or "").strip().splitlines()[-3:]
    rec = {
        "suite": "tests/test_scale.py",
        "env": {"SPARK_GRAFT_SCALE": "1"},
        "rc": proc.returncode,
        "seconds": round(time.time() - t0, 1),
        "tail": tail,
        "head": _git_head(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(os.path.join(REPO, "SCALECHECK.json"), "w") as f:
        json.dump(rec, f, indent=1)
    print("\n".join(tail))
    return proc.returncode


def _plan_rows(text: str) -> dict:
    """query name -> its PLANS.md table row."""
    return {line.split("|")[1].strip(): line for line in text.splitlines()
            if line.startswith("| ") and not line.startswith("| query ")}


def changed_plans() -> list:
    """Queries whose PLANS.md row was added, removed or changed
    against git HEAD."""
    old = subprocess.run(["git", "show", "HEAD:PLANS.md"], cwd=REPO,
                         capture_output=True, text=True).stdout
    with open(os.path.join(REPO, "PLANS.md")) as f:
        new = f.read()
    a, b = _plan_rows(old), _plan_rows(new)
    return sorted(q for q in a.keys() | b.keys() if a.get(q) != b.get(q))


def _git_head() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO,
            capture_output=True, text=True).stdout.strip()
    except OSError:
        return ""


def main() -> int:
    quick = "--quick" in sys.argv
    scale = "--scale" in sys.argv
    failed = []
    for name, cmd, env in STEPS:
        if quick and name in ("bench", "plans"):
            continue
        print(f"=== {name}: {' '.join(cmd)}", flush=True)
        rc = subprocess.call(cmd, cwd=REPO, env={**os.environ, **env})
        print(f"=== {name}: {'OK' if rc == 0 else f'FAILED rc={rc}'}", flush=True)
        if rc:
            failed.append(name)
        elif name == "plans":
            diff = changed_plans()
            print(f"=== plans: {len(diff)} rows differ from HEAD"
                  + (": " + ", ".join(diff) if diff else ""), flush=True)
    if scale:
        print("=== scale: SPARK_GRAFT_SCALE=1 pytest tests/test_scale.py",
              flush=True)
        rc = run_scale()
        print(f"=== scale: {'OK' if rc == 0 else f'FAILED rc={rc}'}",
              flush=True)
        if rc:
            failed.append("scale")
    print("ALL GREEN" if not failed else f"FAILED: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
