"""The contract of ``operators/arrowmap.map_rows``, the one Arrow map
stage that every per-row Python operator (media, document, crawl and
text) runs through."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from accelerator_spark.operators.arrowmap import keyed_schema, map_rows


def _input(spark):
    # n = how many rows per_row yields; "c" raises after its second
    return spark.createDataFrame(
        [("a", 1), ("b", 0), ("c", 3)], "doc_id string, n int")


def _schema(df):
    return keyed_schema(df, "doc_id", [
        T.StructField("k", T.IntegerType(), True),
        T.StructField("tag", T.StringType(), True)])


def _rows(out):
    return sorted((tuple(r) for r in out.collect()), key=repr)


def test_map_rows_contract(spark):
    # defined in the test: Python workers cannot import this module
    def _per_row(did, n):
        for k in range(n):
            if k == 2:
                raise ValueError(f"row {did} failed part-way")
            yield (did, k, f"{did}{k}")

    df = _input(spark)
    schema = _schema(df)
    # the id keeps its own (string) type, non-nullable by default
    assert schema["doc_id"].dataType == T.StringType()
    assert not schema["doc_id"].nullable
    assert keyed_schema(df, "doc_id", [], "id", nullable=True)["id"] \
        .nullable

    # "raise" propagates the per-row error and fails the job
    with pytest.raises(Exception, match="row c failed part-way"):
        map_rows(df, ["doc_id", "n"], schema, _per_row).collect()

    # "null": "b" yields no rows, and "c" — which yielded two rows and
    # then raised — contributes exactly one error row, the default one
    # (first input value followed by NULLs): no partial output leaks
    out = map_rows(df, ["doc_id", "n"], schema, _per_row, on_error="null")
    assert out.schema == schema
    assert _rows(out) == [("a", 0, "a0"), ("c", None, None)]

    # a caller's error row sees the failing row's input values
    out = map_rows(df, ["doc_id", "n"], schema, _per_row, on_error="null",
                   error_row=lambda did, n: (did, -n, "error"))
    assert _rows(out) == [("a", 0, "a0"), ("c", -3, "error")]

    # batch_partitions only repartitions: same rows
    out = map_rows(df, ["doc_id", "n"], schema, _per_row, on_error="null",
                   batch_partitions=3)
    assert _rows(out) == [("a", 0, "a0"), ("c", None, None)]


def test_map_rows_bad_on_error_fails_before_any_job(spark):
    df = _input(spark)
    sc = spark.sparkContext
    sc.setJobGroup("map_rows_bad_on_error", "no job may run")
    try:
        with pytest.raises(ValueError, match="on_error must be"):
            map_rows(df, ["doc_id", "n"], _schema(df),
                     lambda did, n: [(did, n, None)], on_error="skip")
        assert not sc.statusTracker().getJobIdsForGroup(
            "map_rows_bad_on_error")
    finally:
        sc.setJobGroup(None, None)
