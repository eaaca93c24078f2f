"""Round-2 operators: storage layout (partitioned write, ORC, compaction),
analytics (cohort, histogram, z-score), curation (hashed classifier,
mixture sampling), streaming session windows.

Oracle-hash coverage lives in the driver gate / tools/check_oracle.py;
these tests pin the operator-level contracts that the hash check can't
see: file layout effects, plan shape (partition pruning), determinism
under repartitioning.
"""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from accelerator_spark import queries as Q
from accelerator_spark.queries._common import _events
from accelerator_spark.operators.partition import compact_files, rebuild_dir
from tests.conftest import load


def _data_files(path):
    return [
        f for f in os.listdir(path)
        if not f.startswith(("_", ".")) and f.endswith(".parquet")
    ]


def test_compact_files_preserves_content(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="compact_t_")
    docs.repartition(16).write.mode("overwrite").parquet(path)
    assert len(_data_files(path)) == 16
    before = docs.select(F.bit_xor(F.xxhash64("doc_id", "text"))).first()[0]

    n = compact_files(spark, path, 2)
    assert n <= 2
    assert len(_data_files(path)) == n
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert back.select(F.bit_xor(F.xxhash64("doc_id", "text"))).first()[0] == before


def test_rebuild_dir_swap_recovery_and_failed_build(tmp_path):
    """rebuild_dir's crash-safe swap: a failed build leaves the dir
    untouched and no temp sibling behind; a crash between the renames
    (original parked at .__compact_old__, dir missing) is rolled back
    before the next build; a build that writes nothing swaps nothing."""
    path = str(tmp_path / "store")
    os.makedirs(path)
    (tmp_path / "store" / "a").write_text("old")

    def failing(tmp):
        os.makedirs(tmp)
        raise RuntimeError("validation failed")

    with pytest.raises(RuntimeError, match="validation failed"):
        rebuild_dir(path, failing)
    assert os.listdir(path) == ["a"]
    assert sorted(os.listdir(tmp_path)) == ["store"]

    os.rename(path, path + ".__compact_old__")  # crash between renames

    def build(tmp):
        assert os.listdir(path) == ["a"]  # rolled back before building
        os.makedirs(tmp)
        open(os.path.join(tmp, "b"), "w").close()
        return 7

    assert rebuild_dir(path, build) == 7
    assert os.listdir(path) == ["b"]
    assert rebuild_dir(path, lambda tmp: 0) == 0
    assert os.listdir(path) == ["b"]
    assert sorted(os.listdir(tmp_path)) == ["store"]


def test_partitioned_write_prunes(spark, sf_dir):
    """The pruned read's plan must carry the year predicate as a
    PartitionFilter (no data read outside the matching directory)."""
    orders = load(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="prune_t_")
    (orders.withColumn("o_year", F.year("o_orderdate"))
     .write.mode("overwrite").partitionBy("o_year").parquet(path))
    back = spark.read.parquet(path).filter(F.col("o_year") == 1996)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_year" in plan
    years = [r[0] for r in back.select("o_year").distinct().collect()]
    assert years == [1996]


def test_mixture_sample_deterministic(spark, sf_dir):
    a = Q.QUERIES["domain_mixture_sample"](spark, sf_dir).collect()
    b = Q.QUERIES["domain_mixture_sample"](spark, sf_dir).collect()
    assert a == b
    for row in a:
        assert 0 <= row.kept <= row.n_docs
    # the budget is ~50% of the corpus; binomial draws keep the total
    # in a loose band around it
    total = sum(r.n_docs for r in a)
    kept = sum(r.kept for r in a)
    assert 0.25 * total < kept < 0.75 * total


def test_quality_classifier_bounded(spark, sf_dir):
    rows = Q.QUERIES["quality_classifier_score"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.avg_score <= 1.0
        assert 0 <= r.n_good <= r.n_docs


def test_cohort_retention_offsets(spark, sf_dir):
    rows = Q.QUERIES["cohort_retention"](spark, sf_dir).collect()
    assert rows
    # offset 0 of a cohort counts every member: it must be the max
    by_cohort = {}
    for r in rows:
        assert r.week_offset >= 0
        by_cohort.setdefault(r.cohort_week, []).append(r)
    for members in by_cohort.values():
        zero = [r.active_users for r in members if r.week_offset == 0]
        assert zero and zero[0] == max(r.active_users for r in members)


def test_value_histogram_total(spark, sf_dir):
    rows = Q.QUERIES["events_value_histogram"](spark, sf_dir).collect()
    ev = _events(spark, sf_dir)
    assert sum(r.n for r in rows) == ev.count()
    assert all(0 <= r.bucket <= 9 for r in rows)


def test_orc_roundtrip_matches_parquet_digest(spark, sf_dir):
    got = Q.QUERIES["orc_roundtrip_checksum"](spark, sf_dir).first()
    docs = load(spark, sf_dir, "documents")
    assert got.docs == docs.count()


@pytest.mark.slow
def test_streaming_sessions_vs_batch(spark, sf_dir):
    """Streaming session_window must agree with the batch lag/cumsum
    sessionization on total session count."""
    got = Q.QUERIES["streaming_session_counts"](spark, sf_dir).first()
    batch = Q.QUERIES["sessionize_events"](spark, sf_dir)
    assert got.n_sessions == batch.count()
    assert got.n_events == _events(spark, sf_dir).count()


def test_apply_changes_semantics(spark):
    from accelerator_spark.operators.merge import apply_changes

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, s string, v double")
    changes = spark.createDataFrame(
        [(2, "U", "b2", 21.0),   # update existing
         (3, "D", None, None),   # delete existing
         (9, "U", "new", 90.0),  # insert fresh key
         (8, "D", None, None)],  # delete of absent key: no-op
        "k int, op string, s string, v double")
    # changes DataFrame must carry the base columns (k, s, v) + op
    got = {r.k: (r.s, r.v) for r in
           apply_changes(base, changes.select("k", "s", "v", "op"), "k").collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 9: ("new", 90.0)}


def test_exact_substring_spans_planted(spark):
    """Two docs sharing one long verbatim run: the shared span (and
    only it) must be found, with exact token offsets, in both docs."""
    from accelerator_spark.operators.dedup import exact_substring_spans
    from pyspark.sql import Row

    shared = " ".join(f"S{i}" for i in range(12))        # 12 shared tokens
    a = "a0 a1 a2 " + shared + " a3 a4"                  # span at [3, 15)
    b = shared + " b0 b1 b2 b3 b4"                       # span at [0, 12)
    c = "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"                  # no shared run
    df = spark.createDataFrame(
        [Row(doc_id=1, text=a), Row(doc_id=2, text=b), Row(doc_id=3, text=c)])
    got = {r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
           for r in exact_substring_spans(df, k=8).collect()}
    assert got == {1: (3, 15, 12), 2: (0, 12, 12)}


def test_exact_substring_spans_merges_adjacent_windows(spark):
    """A 30-token shared run is ONE maximal span, not 23 window hits."""
    from accelerator_spark.operators.dedup import exact_substring_spans
    from pyspark.sql import Row

    run = " ".join(f"T{i}" for i in range(30))
    df = spark.createDataFrame(
        [Row(doc_id=1, text="x y z " + run),
         Row(doc_id=2, text=run + " p q")])
    rows = exact_substring_spans(df, k=8).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert len(per_doc[1]) == 1 and len(per_doc[2]) == 1
    assert per_doc[1][0]["span_tokens"] == 30
    assert per_doc[2][0]["span_start"] == 0


def test_compact_files_counts_extensionless_formats(spark, sf_dir):
    """Review r5: the post-compaction file count used a data-extension
    whitelist that missed 'text' (and avro/zstd) outputs, returning 0
    after a successful compaction."""
    docs = load(spark, sf_dir, "documents").limit(50)
    path = tempfile.mkdtemp(prefix="compact_txt_")
    (docs.select(F.regexp_replace("text", r"[\r\n]", " ").alias("value"))
     .repartition(8).write.mode("overwrite").format("text").save(path))
    n = compact_files(spark, path, 1, fmt="text")
    assert n == 1
    assert spark.read.format("text").load(path).count() == 50
