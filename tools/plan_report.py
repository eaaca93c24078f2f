"""Generate PLANS.md: a compact physical-plan audit of every gated
query — exchanges, join strategies, pushed filters, codegen
spans — so the scale posture in SCALE.md is verifiable per query
without re-running anything.

Usage: python tools/plan_report.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__
from accelerator_spark.session import get_spark

# the full gated registry in the driver's order — every query gets a
# plan audit (round-2's scale-weak plans hid in an unaudited tail)
ALL = __spark_entry__.queries()


def audit(plan: str) -> dict:
    joins = {
        "broadcast": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        # ShuffledHashJoin was missing (review r5): AQE/config can pick
        # it and the audit reported 'none' for a clearly-joining plan
        "shj": plan.count("ShuffledHashJoin"),
        "bnl": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
    }
    return {
        "exchanges": len(re.findall(r"\bExchange (?:hash|range|Single|RoundRobin)", plan)),
        "single_part": plan.count("Exchange SinglePartition"),
        "joins": "+".join(f"{v}{k}" for k, v in joins.items() if v) or "none",
        "pushed": "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
        "python": ("arrow" if ("ArrowEvalPython" in plan
                               or "MapInPandas" in plan
                               or "FlatMapGroupsInPandas" in plan
                               or "PythonUDTF" in plan
                               or "BatchEvalPython" in plan) else "-"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_report")
    lines = [
        "# PLANS — physical-plan audit of the bench headline "
        f"({len(ALL)} queries, {os.path.basename(sf_dir)})",
        "",
        "Auto-generated by tools/plan_report.py (re-run after plan-affecting",
        "changes). Columns: shuffle exchange count (single-partition",
        "exchanges called out — these are the scale smells), join strategies",
        "in the plan, whether parquet-pushed filters are present, and whether",
        "any Python (Arrow) stage exists. A single-partition exchange is",
        "EXPECTED for 1-row scalar results and tiny post-agg windows (a",
        "per-day table); anywhere else it is a scale bug. Plan-shape",
        "REQUIREMENTS are enforced by tests/test_plans.py;",
        "this file is the full inventory those spot-checks sample from.",
        "Plans are the STATIC (pre-AQE) shapes: at runtime AQE demotes the",
        "listed SortMergeJoins to broadcast when the build side measures",
        "small, so an smj entry on a tiny-side join is not a regression.",
        "r12: fp_near_pairs lazily checkpoints its band-row frame (one",
        "materialization instead of three copies of the fingerprint DAG),",
        "so the pair gates' rows TRUNCATE at that checkpoint — their",
        "upstream decode/hash stages (incl. Arrow columns reading '-')",
        "are audited via plans/r12/*_before.txt and the operator tests.",
        "Queries that localCheckpoint an intermediate (rfm_segmentation's",
        "three chained ntile passes) show only the FINAL plan segment —",
        "the truncated stages are audited through the operator tests,",
        "not this table.",
        "",
        "| query | exchanges | 1-part | joins | pushed | python |",
        "|---|---|---|---|---|---|",
    ]
    n_errors = 0
    for name, fn in ALL.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            a = audit(plan)
            lines.append(
                f"| {name} | {a['exchanges']} | {a['single_part'] or '-'} | "
                f"{a['joins']} | {a['pushed']} | {a['python']} |")
        except Exception as e:  # noqa: BLE001
            n_errors += 1
            lines.append(f"| {name} | ERROR: {str(e)[:60]} | | | | |")
        print(lines[-1], file=sys.stderr)
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    if n_errors:
        # verify_all's 'exit 0 iff green' contract: a broken plan audit
        # must not ship as ALL GREEN (review r5)
        print(f"{n_errors} plan ERRORs", file=sys.stderr)
    return n_errors


if __name__ == "__main__":
    sys.exit(1 if main() else 0)
