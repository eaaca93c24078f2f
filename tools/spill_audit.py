"""Spill/memory audit of the near-dedup family beyond sf0.1 (VERDICT
r12 #8): run the full one-call near-dedup composite over a
16x-replicated sf0.1 documents corpus (unique ids — the test_scale
replication discipline) in a FRESH session whose heap is pinned LOW,
and record per-stage spill counters from the app status store, not
just row counts. Validates the localCheckpoint-heavy design under
memory pressure before any scale claim.

Usage: SPARK_GRAFT_DRIVER_MEM=4g python tools/spill_audit.py [reps]
Appends a JSON entry to SCALECHECK.json under "spill_audit_r13".
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from accelerator_spark.session import get_spark


def main() -> None:
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="spill_audit")
    from accelerator_spark.operators.dedup import near_dedup, simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    n0 = docs.count()
    # 16x with unique ids (ids shifted per replica so every doc gains
    # 15 extra exact near-dup copies — the worst pressure case for the
    # pair/components path)
    big = docs
    for i in range(1, 16):
        big = big.unionByName(
            docs.select((F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                        "text"))
    big = big.repartition(spark.sparkContext.defaultParallelism)

    t0 = time.perf_counter()
    sh = simhash(big, bits=64).localCheckpoint(eager=False)
    kept, report = near_dedup(sh, "simhash", "doc_id", 64,
                              max_hamming=3, bucket_cap=5000)
    n_kept = kept.count()
    n_groups = report.select("kept_doc_id").distinct().count()
    wall = time.perf_counter() - t0

    # per-stage spill counters from the app status store (UI is off;
    # the store is still populated)
    store = spark.sparkContext._jsc.sc().statusStore()
    # Spark 4.1 signature (no py4j default-arg support, pass all five):
    # stageList(List[StageStatus] statuses, boolean details,
    #           boolean withSummaries, double[] unsortedQuantiles,
    #           List[TaskStatus] taskStatus); empty lists mean "all".
    gw = spark.sparkContext._gateway
    empty = gw.jvm.java.util.ArrayList()
    no_q = gw.new_array(gw.jvm.double, 0)
    it = store.stageList(empty, False, False, no_q,
                         gw.jvm.java.util.ArrayList()).iterator()
    mem_spill = disk_spill = 0
    n_stages = 0
    while it.hasNext():
        s = it.next()
        n_stages += 1
        mem_spill += s.memoryBytesSpilled()
        disk_spill += s.diskBytesSpilled()
    entry = {
        "what": "near_dedup composite (simhash64 + banded pairs + "
                "components + survivor anti-join) on 16x sf0.1 docs",
        "driver_mem": mem,
        "n_docs_base": n0,
        "n_docs_16x": n0 * 16,
        "n_kept": n_kept,
        "n_dup_groups": n_groups,
        "wall_s": round(wall, 1),
        "n_stages": n_stages,
        "memoryBytesSpilled": mem_spill,
        "diskBytesSpilled": disk_spill,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    print(json.dumps(entry, indent=1))
    path = os.path.join(REPO, "SCALECHECK.json")
    rec = json.load(open(path)) if os.path.exists(path) else {}
    rec["spill_audit_r13"] = entry
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    print(f"appended spill_audit_r13 to {path}")


if __name__ == "__main__":
    main()
