"""Arrow IPC source/sink tests (sources/arrowipc.py): both layouts,
type-mapping fidelity (incl. NTZ timestamps, decimals, arrays),
batch-granular reads, unsupported-type failures, pyarrow-written
files read back (foreign-writer direction)."""

import datetime
import os
from decimal import Decimal

import pytest

from accelerator_spark.sources.arrowipc import (
    ArrowIpcError, arrow_export, arrow_import)


def test_roundtrip_both_layouts(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 2.5, "a", [1, 2], Decimal("12.34"),
          datetime.datetime(2026, 1, 2, 3, 4, 5)),
         (2, None, None, [], Decimal("0.01"), None)],
        "k long, x double, s string, arr array<int>, "
        "d decimal(10,2), ts timestamp_ntz")
    for layout in ("file", "stream"):
        out = str(tmp_path / layout)
        n = arrow_export(df.repartition(2), out, layout=layout)
        assert n == 2
        back = arrow_import(spark, out)
        assert back.schema == df.schema
        assert sorted(map(tuple, back.collect())) == \
            sorted(map(tuple, df.collect()))


def test_batch_granularity(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    out = str(tmp_path / "b")
    arrow_export(df.coalesce(1), out, rows_per_batch=100)
    import pyarrow.ipc as ipc
    fname = os.path.join(out, os.listdir(out)[0])
    with open(fname, "rb") as fh:
        r = ipc.open_file(fh)
        assert r.num_record_batches == 10  # writer honored the bound
    assert arrow_import(spark, out).count() == 1000


def test_pyarrow_written_file_reads_back(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.ipc as ipc

    tbl = pa.table({"a": pa.array([1, 2, 3], pa.int32()),
                    "b": pa.array(["x", None, "z"])})
    f = tmp_path / "foreign.arrow"
    with ipc.new_file(str(f), tbl.schema) as w:
        w.write_table(tbl)
    back = arrow_import(spark, str(tmp_path))
    assert back.schema.simpleString() == "struct<a:int,b:string>"
    assert sorted(map(tuple, back.collect())) == \
        [(1, "x"), (2, None), (3, "z")]


def test_errors(spark, tmp_path):
    with pytest.raises(ArrowIpcError):
        arrow_import(spark, str(tmp_path))          # no files
    (tmp_path / "junk.arrow").write_bytes(b"not arrow at all")
    with pytest.raises(ArrowIpcError):
        arrow_import(spark, str(tmp_path))
    df = spark.createDataFrame([({"k": 1},)], "m map<string,int>")
    with pytest.raises(ArrowIpcError):
        arrow_export(df, str(tmp_path / "o"))       # unmapped type
    with pytest.raises(ArrowIpcError):
        arrow_export(df.select(df.m.getItem("k").alias("v")),
                     str(tmp_path / "o2"), layout="nope")


def test_import_binds_columns_by_name(spark, tmp_path):
    """ADVICE r9: a second file with the SAME columns in a DIFFERENT
    order must bind by name (not silently by position); a file with a
    different column SET raises."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    from accelerator_spark.sources.arrowipc import (
        ArrowIpcError, arrow_import)

    d = tmp_path / "byname"
    d.mkdir()

    def write(name, table):
        with pa.OSFile(str(d / name), "wb") as f, \
                ipc.new_file(f, table.schema) as w:
            w.write_table(table)

    # NOTE: names sort a < b so "a_first" is the schema probe file
    write("a_first.arrow", pa.table(
        {"x": pa.array([1, 2], pa.int64()),
         "y": pa.array(["p", "q"])}))
    write("b_second.arrow", pa.table(
        {"y": pa.array(["r"]), "x": pa.array([3], pa.int64())}))
    got = {r.x: r.y for r in arrow_import(spark, str(d)).collect()}
    assert got == {1: "p", 2: "q", 3: "r"}

    write("c_bad.arrow", pa.table({"x": pa.array([9], pa.int64()),
                                   "z": pa.array([1], pa.int64())}))
    with pytest.raises(Exception) as ei:
        arrow_import(spark, str(d)).collect()
    assert "ArrowIpcError" in str(ei.value) or isinstance(
        ei.value, ArrowIpcError)


def test_failed_task_leaves_no_visible_file(spark, tmp_path):
    """A task that fails mid-partition leaves at most its hidden temp:
    no file a reader lists, and a later export into the same directory
    reads back only its own committed rows."""
    from pyspark.sql import functions as F

    df = spark.range(0, 20000, numPartitions=1).select(
        F.when(F.col("id") == 19000, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("k"))
    out = tmp_path / "failed"
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        with pytest.raises(Exception, match="boom"):
            arrow_export(df, str(out), rows_per_batch=1)
    finally:
        spark.conf.set(key, old)
    assert [p.name for p in out.iterdir()
            if not p.name.startswith(".")] == []
    arrow_export(spark.createDataFrame([(1,), (2,)], "k long"), str(out))
    assert sorted(r.k for r in arrow_import(spark, str(out)).collect()) \
        == [1, 2]
