"""Mirror of the driver's correctness gate: run each Spark query and its
DuckDB oracle side-by-side, compare row count + column names + sorted
values. Usage: python tools/check_oracle.py [sf_dir] [query ...]"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

from accelerator_spark.session import get_spark
from accelerator_spark.sqlapi import TABLES


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0"  # -0.0 formats as '-0' and false-FAILed vs 0.0
        return f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    try:
        import numpy as np
        if isinstance(v, np.generic):
            return norm_cell(v.item())
        if isinstance(v, np.ndarray):
            return norm_cell(list(v))
    except ImportError:
        pass
    # floats NESTED in arrays/maps/structs got exact str() comparison
    # (no 6-sig-fig tolerance, '-0' vs '0') — normalize recursively
    # with sorted map keys (review r5). Row is a TUPLE SUBCLASS, so the
    # asDict check must come first or Spark struct cells render as
    # '[..]' while DuckDB's dicts render as '{..}' (review r5b)
    if hasattr(v, "asDict"):  # pyspark Row (struct cell)
        return norm_cell(v.asDict())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{norm_cell(k)}:{norm_cell(x)}"
            for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    return str(v)


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    cols_sorted = [cols[i] for i in order]
    data = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return cols_sorted, data


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]

    # go through the driver's actual artifact, not the library module —
    # catches wiring drift between the registry and __spark_entry__
    import __spark_entry__ as entrymod
    QUERIES = entrymod.queries()
    ORACLES = entrymod.oracle_sql()

    spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    # pin the session TZ: Spark's session is pinned UTC, and any oracle
    # that touches a timestamptz render would otherwise follow the HOST
    # timezone (review r4 — the gate must not depend on the box's TZ)
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    todo = names or list(QUERIES)
    failures = []
    results = {}
    for name in todo:
        fn = QUERIES[name]
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        results[name] = rec
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(s_rows)
        except Exception as e:
            failures.append(name)
            rec["err"] = f"spark error: {str(e)[:300]}"
            print(f"FAIL {name}: {rec['err']}")
            continue
        try:
            cur = con.execute(ORACLES[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            rec["oracle_rows"] = len(o_rows)
        except Exception as e:
            failures.append(name)
            rec["err"] = f"duckdb error: {str(e)[:300]}"
            print(f"FAIL {name}: {rec['err']}")
            continue
        sc, sd = frame_sig(s_cols, s_rows)
        oc, od = frame_sig(o_cols, o_rows)
        rec["rows_match"] = len(sd) == len(od)
        rec["schema_match"] = sc == oc
        if sc != oc:
            failures.append(name)
            print(f"FAIL {name}: columns spark={sc} duckdb={oc}")
            continue
        if len(sd) != len(od):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(sd)} duckdb={len(od)}")
            continue
        if sd != od:
            failures.append(name)
            diffs = [(a, b) for a, b in zip(sd, od) if a != b][:3]
            print(f"FAIL {name}: value mismatch ({sum(1 for a, b in zip(sd, od) if a != b)}/{len(sd)} rows); first: {diffs}")
            continue
        rec["hash_match"] = True
        print(f"OK   {name}: {len(sd)} rows")
    if not names:
        # full sweep: record the at-HEAD correctness artifact next to the
        # driver's CORRECTNESS_r{N}.json (same per-query record shape),
        # so every round ships a committed 168-query result
        import json
        import time
        out = {"_meta": {"sf_dir": sf_dir, "queries": len(todo),
                         "matched": len(todo) - len(failures),
                         # staleness stamp: tests/test_oracle.py asserts
                         # registry_size == len(queries()) at HEAD, so a
                         # registry change without a fresh sweep fails
                         # the fast suite (VERDICT r4 #7)
                         "registry_size": len(QUERIES),
                         "generated_at": time.strftime(
                             "%Y-%m-%dT%H:%M:%SZ", time.gmtime())}}
        out.update(results)
        # REPO matches where tests/test_oracle.py reads it back; never
        # let an unwritable checkout eat the summary line or exit code
        dest = os.path.join(REPO, "CORRECTNESS_HEAD.json")
        try:
            with open(dest, "w") as f:
                json.dump(out, f, indent=1)
            print(f"wrote {dest}")
        except OSError as e:
            print(f"CORRECTNESS_HEAD.json not written: {e}")
    print(f"\n{len(todo) - len(failures)}/{len(todo)} matched")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
