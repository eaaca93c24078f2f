"""Source-level scale-discipline guards: the rules SCALE.md promises
are enforced mechanically, so a future query can't quietly reintroduce
a driver-side materialization or a Python-UDF hot path.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# every module of the registry package, so a new family module cannot
# escape the scans below
QUERY_MODULES = tuple(sorted(
    os.path.relpath(p, REPO) for p in
    glob.glob(os.path.join(REPO, "accelerator_spark", "queries", "*.py"))))

# Functions allowed to .collect(): each pulls a provably tiny,
# size-bounded result to the driver (a sketch, k centroid dims, two
# scalar counts) — documented in their docstrings.
COLLECT_WHITELIST = {
    "heavy_hitter_users",     # 2 scalar aggregates (threshold inputs)
    "cms_frequency_gate",     # one few-KiB sketch blob
    "classifier_auc_report",  # 64 centroid dimensions
}


def _functions(path):
    tree = ast.parse(open(os.path.join(REPO, path)).read())
    return [n for n in tree.body if isinstance(n, ast.FunctionDef)]


def test_no_unbounded_collect_in_query_surface():
    """Every .collect() in the query surface must be on the whitelist
    of known bounded-size driver pulls."""
    offenders = []
    for mod in QUERY_MODULES:
        for fn in _functions(mod):
            if fn.name in COLLECT_WHITELIST:
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and node.attr == "collect":
                    offenders.append(f"{mod}:{fn.name}")
    assert not offenders, (
        f"unreviewed .collect() in query surface: {offenders} — bounded "
        "driver pulls go on COLLECT_WHITELIST with a docstring note")


def test_no_rdd_or_topandas_in_query_surface():
    """No RDD drops or full toPandas() materializations anywhere in the
    query surface (Arrow-batched mapInPandas is fine — it is an
    executor-side exchange, not a driver pull)."""
    offenders = []
    for mod in QUERY_MODULES:
        for fn in _functions(mod):
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and node.attr in (
                        "toPandas",):
                    offenders.append(f"{mod}:{fn.name}:{node.attr}")
    assert not offenders


def test_no_row_at_a_time_python_udf():
    """F.udf (row-at-a-time Python) must not appear in operators or
    queries — Python escape hatches are Arrow-batched (pandas_udf,
    mapInPandas, applyInPandas, UDTF)."""
    roots = list(QUERY_MODULES) + ["accelerator_spark/operators"]
    offenders = []
    for root in roots:
        full = os.path.join(REPO, root)
        paths = ([full] if full.endswith(".py") else
                 [os.path.join(full, f) for f in os.listdir(full)
                  if f.endswith(".py")])
        for p in paths:
            src = open(p).read()
            for node in ast.walk(ast.parse(src)):
                if (isinstance(node, ast.Attribute) and node.attr == "udf"
                        and isinstance(node.value, ast.Name)
                        and node.value.id == "F"):
                    offenders.append(p)
    assert not offenders


def test_file_sinks_commit_through_one_module():
    """Only sources/shards.py renames a task's hidden temp into place:
    a sink that opens its final name, or hand-writes its own temp and
    rename, would bring back the truncated-file-on-failure edge."""
    owner = os.path.join("accelerator_spark", "sources", "shards.py")
    offenders = []
    for p in sorted(glob.glob(os.path.join(REPO, "accelerator_spark", "**",
                                           "*.py"), recursive=True)):
        rel = os.path.relpath(p, REPO)
        src = open(p).read()
        if rel != owner and ("os.replace" in src or ".inprogress" in src):
            offenders.append(rel)
    assert not offenders


def test_per_row_operators_map_through_one_stage():
    """Under operators/, a per-row Python operator crosses into Python
    only through arrowmap.map_rows: no other module but the two
    partition-level stages (analytics.skyline, sketches.heavy_hitters)
    calls mapInPandas, the on_error check is stated in one module, and
    the text and media adapters hold no row loop of their own."""
    ops = os.path.join(REPO, "accelerator_spark", "operators")
    mappers = [os.path.basename(p)
               for p in sorted(glob.glob(os.path.join(ops, "*.py")))
               if ".mapInPandas(" in open(p).read()]
    assert set(mappers) <= {"arrowmap.py", "analytics.py", "sketches.py"}
    checkers = [
        os.path.relpath(p, REPO)
        for p in sorted(glob.glob(os.path.join(
            REPO, "accelerator_spark", "**", "*.py"), recursive=True))
        if "on_error must be 'raise' or 'null'" in open(p).read()]
    assert checkers == [os.path.join(
        "accelerator_spark", "operators", "arrowmap.py")]
    adapters = {
        "map_text_rows": os.path.join(ops, "arrowmap.py"),
        "_map_media_rows": os.path.join(ops, "multimodal.py")}
    for name, path in adapters.items():
        fn, = [n for n in ast.parse(open(path).read()).body
               if isinstance(n, ast.FunctionDef) and n.name == name]
        loops = [n for n in ast.walk(fn)
                 if isinstance(n, (ast.For, ast.While, ast.comprehension))
                 or (isinstance(n, ast.Attribute)
                     and n.attr == "mapInPandas")]
        assert not loops, name


def test_file_sources_read_through_one_module():
    """Under sources/, only shards.py lists files with ``binaryFile``
    or hands a driver list to ``sparkContext.parallelize``: the read
    stage (listing, decode, batching, split ranges) is stated once.
    media.py's public listings ``binary_import`` and ``image_import``
    are the only exceptions."""
    src = os.path.join(REPO, "accelerator_spark", "sources")
    allowed = {("media.py", "binary_import"), ("media.py", "image_import")}
    offenders = []
    for p in sorted(glob.glob(os.path.join(src, "*.py"))):
        mod = os.path.basename(p)
        if mod == "shards.py":
            continue
        for top in ast.parse(open(p).read()).body:
            name = getattr(top, "name", None)
            for node in ast.walk(top):
                binary = (isinstance(node, ast.Call)
                          and isinstance(node.func, ast.Attribute)
                          and node.func.attr == "format"
                          and any(isinstance(a, ast.Constant)
                                  and a.value == "binaryFile"
                                  for a in node.args))
                parallel = (isinstance(node, ast.Attribute)
                            and node.attr == "parallelize")
                if (binary or parallel) and (mod, name) not in allowed:
                    offenders.append(f"{mod}:{name}")
    assert not offenders, offenders
