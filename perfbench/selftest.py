"""Self-test of the benchmark harness on tiny inputs (sf 0.001).

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced and checks that each
end-to-end or per-layer metric is printed with its unit and that all
steps pass. Then runs each workload with one step made to return a wrong
result and checks that the run counts it as failed, which shows the
output checks can fail. Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SF = "0.001"


def bench(workload: str, trace: int, fault: bool = False) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__)] if fault else \
        [sys.executable, os.path.join(HERE, "run.py")]
    cmd += ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--sf", SF]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                             f"{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, expected: dict[str, str], label: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
    got = res["metrics"]
    assert set(got) == set(expected), \
        f"{label}: metrics {sorted(set(got) ^ set(expected))} differ"
    for name, unit in expected.items():
        assert got[name]["unit"] == unit, f"{label}: {name} unit"
        assert isinstance(got[name]["value"], (int, float)), \
            f"{label}: {name} value"


def faulty_child(argv: list[str]) -> int:
    """run.main with one step returning a wrong result: a relational query
    loses its rows, or the pipeline's chain report loses a group."""
    import pipeline
    import relational

    real_run = relational.run

    def run_with_wrong_step(b):
        from accelerator_spark.queries import QUERIES

        good = QUERIES["q6_forecast_revenue"]
        QUERIES["q6_forecast_revenue"] = lambda s, d: good(s, d).limit(0)
        try:
            return real_run(b)
        finally:
            QUERIES["q6_forecast_revenue"] = good

    def chain_report(spark, datasets, options):
        return pipeline._totals(datasets["chain"].chain_df(spark)) \
            .filter("l_returnflag != 'A'")

    relational.run = run_with_wrong_step
    pipeline.chain_report = chain_report
    return run.main(argv)


def main() -> int:
    for workload in run.WORKLOADS:
        res = bench(workload, 0)
        check_metrics(res, run.END_TO_END, f"{workload} untraced")
        assert res["correct"] and res["failed"] == 0, (workload, res)
        assert res["metrics"]["ok_ratio"]["value"] == 1.0
        res = bench(workload, 1)
        check_metrics(res, run.PER_LAYER, f"{workload} traced")
        assert res["correct"], (workload, res)
        res = bench(workload, 0, fault=True)
        assert not res["correct"] and res["failed"] >= 1, (workload, res)
        assert res["metrics"]["ok_ratio"]["value"] < 1.0, (workload, res)
        print(f"{workload}: ok")
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1:
        sys.exit(faulty_child(sys.argv[1:]))
    sys.exit(main())
