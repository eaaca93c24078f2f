"""The session get_spark creates keeps every compiled class of the
perfbench relational steps: a warm pass over them compiles nothing."""

import ast
import os
import time

from accelerator_spark.queries import QUERIES
from accelerator_spark.session import codegen_compiles, get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _relational_steps() -> list[str]:
    # the workload's own list, read without importing the benchmark
    with open(os.path.join(REPO, "perfbench", "relational.py")) as f:
        tree = ast.parse(f.read())
    return next(ast.literal_eval(node.value) for node in tree.body
                if isinstance(node, ast.Assign)
                and getattr(node.targets[0], "id", None) == "STEPS")


def test_warm_relational_pass_compiles_nothing(spark, sf_dir):
    assert get_spark().conf.get(
        "spark.sql.codegen.cache.maxEntries") == "4096"
    steps = _relational_steps()
    assert len(steps) == 16

    def one_pass() -> int:
        c0 = codegen_compiles(spark)
        for name in steps:
            QUERIES[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
        return codegen_compiles(spark) - c0

    one_pass()
    # at Spark's default of 100 entries each of these recompiles ~230
    assert [one_pass(), one_pass()] == [0, 0]
    # and the counter counts: a literal never seen before is new code
    c0 = codegen_compiles(spark)
    spark.range(3).selectExpr(f"id * {time.time_ns()} AS x") \
        .write.format("noop").mode("overwrite").save()
    assert codegen_compiles(spark) > c0
