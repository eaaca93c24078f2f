"""Capture .explain("formatted") output for named queries into
plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<tag>.txt (round dir defaults to
r13) — the before/after plan evidence the optimization rounds commit
(guide §1: capture the plan shape before changing anything, then prove
the diff).

Usage: python tools/capture_plan.py <tag> query [query ...]
  tag is 'before' or 'after' (any suffix works).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from accelerator_spark import queries as Q
from accelerator_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r13"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture_plan")
    for name in names:
        fn = Q.QUERIES.get(name)
        if fn is None:
            print(f"{name}: NOT IN REGISTRY", file=sys.stderr)
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
