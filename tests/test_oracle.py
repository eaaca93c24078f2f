"""Pytest entry for the DuckDB-oracle comparator (tools/check_oracle.py
holds the implementation; the driver runs the same comparison per-round).

The full sweep costs ~3 minutes, so it only runs when explicitly asked:

    SPARK_GRAFT_ORACLE=1 python -m pytest tests/test_oracle.py -q

Without the env var the test is skipped (the fast suite stays fast; the
sweep still runs in /verify and in the driver's own gate).
"""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_hugeint_oracle_output_columns():
    """Guard against the round-3 driver hash-fail class: DuckDB widens
    integer sum() (and windowed sums) to HUGEINT, and the driver's Arrow
    fetch path has no int128 so HUGEINT rows render differently than
    Spark's long ("9549.0" vs "9549"). Every oracle must therefore emit
    only Arrow-exact types — DESCRIBE each registered oracle and assert
    no HUGEINT/UHUGEINT output column anywhere. Cheap (DuckDB only, no
    Spark), so it runs in the fast suite."""
    import duckdb

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from accelerator_spark.sqlapi import TABLES

    oracles = entrymod.oracle_sql()
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")  # match the pinned Spark session TZ
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    offenders = []
    for name, sql in oracles.items():
        desc = con.execute(f"DESCRIBE ({sql})").fetchall()
        bad = [(r[0], r[1]) for r in desc if "HUGEINT" in r[1].upper()]
        if bad:
            offenders.append((name, bad))
    assert not offenders, (
        "oracle output columns typed HUGEINT (wrap in CAST(... AS BIGINT)): "
        f"{offenders}")


def test_correctness_head_artifact_not_stale():
    """VERDICT r4 #7: the committed CORRECTNESS_HEAD.json must track the
    registry — if queries() grows or shrinks without re-running the full
    sweep (tools/check_oracle.py with no names), this FAST test fails,
    so the artifact can never silently go stale. Older artifacts without
    the registry_size stamp fall back to the graded-query count."""
    import json

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    with open(os.path.join(REPO, "CORRECTNESS_HEAD.json")) as f:
        head = json.load(f)
    meta = head["_meta"]
    recorded = meta.get("registry_size", meta["queries"])
    assert recorded == len(entrymod.queries()), (
        f"CORRECTNESS_HEAD.json covers {recorded} queries but the "
        f"registry has {len(entrymod.queries())} — re-run "
        "tools/check_oracle.py (full sweep) to refresh the artifact")
    assert meta["matched"] == meta["queries"]


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_ORACLE"),
    reason="full oracle sweep is opt-in: set SPARK_GRAFT_ORACLE=1",
)
def test_all_queries_match_duckdb_oracle():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py")],
        capture_output=True, text=True, timeout=2400, cwd=REPO,
    )
    tail = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "FAIL" not in proc.stdout, proc.stdout[-2000:]
    assert "matched" in tail
    # the sweep refreshes the committed at-HEAD artifact; every graded
    # record in it must be fully green
    import json
    with open(os.path.join(REPO, "CORRECTNESS_HEAD.json")) as f:
        head = json.load(f)
    assert head["_meta"]["matched"] == head["_meta"]["queries"]
    bad = [k for k, v in head.items() if k != "_meta"
           and v.get("hash_match") is False]
    assert not bad, bad


def test_decontaminate_short_heldout_branch_matches_oracle(spark, tmp_path):
    """Review r5: the short-held-out containment branch existed in the
    ORACLE and the operator but not in the inlined Spark query — a
    <8-token eval answer quoted verbatim in a train doc was flagged by
    DuckDB only. Plant exactly that case in a synthetic documents table
    and require both engines to agree."""
    import hashlib

    import duckdb

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15],
                   16) % 10000

    held_id = next(i for i in range(10000) if bucket(i) < 500)
    train_ids = [i for i in range(10000) if bucket(i) >= 500][:3]
    rows = [
        # short held-out doc (4 tokens)
        (held_id, "src1", "the secret eval answer"),
        # train doc quoting it verbatim (with differing whitespace)
        (train_ids[0], "src1",
         "preamble text the  secret eval　answer".replace("　", " ")
         + " postamble words here to make this longer than eight tokens"),
        # clean train docs
        (train_ids[1], "src1", "completely unrelated training text one"),
        (train_ids[2], "src2", "more unrelated training text two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    d = tmp_path / "sf"
    d.mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = entrymod.queries()["decontaminate_train_set"](spark, str(d))
    spark_rows = {r["source"]: (r["n_train"], r["n_contaminated"])
                  for r in got.collect()}
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{d}/documents.parquet/*.parquet'")
    ora = {r[0]: (r[1], r[2]) for r in con.execute(
        entrymod.oracle_sql()["decontaminate_train_set"]).fetchall()}
    assert spark_rows == ora
    # and the planted quote IS caught
    assert spark_rows["src1"] == (2, 1)


def test_md5_long_matches_its_duckdb_twin(spark):
    """md5_long is the Spark half of a cross-engine contract: the
    DuckDB oracles replay it as CAST(('0x'||substring(md5(x),1,15)) AS
    BIGINT). Both sides (and Python's hashlib) must agree on edge
    inputs, and NULL must stay NULL."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from accelerator_spark.operators import md5_long

    vals = ["", "naïve café 日本語 ✓", "a\x1fb", "0123456789" * 20, None]
    df = spark.createDataFrame(list(enumerate(vals)), "i int, s string")
    got = {r["i"]: r["h"]
           for r in df.select("i", md5_long(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    twin = {i: con.execute(
        "SELECT CAST(('0x'||substring(md5(CAST(? AS VARCHAR)),1,15)) "
        "AS BIGINT)", [v]).fetchone()[0] for i, v in enumerate(vals)}
    py = {i: None if v is None else
          int(hashlib.md5(v.encode("utf-8")).hexdigest()[:15], 16)
          for i, v in enumerate(vals)}
    assert got == twin == py
    assert all(0 <= got[i] < 1 << 60 for i in range(4))
