"""Arrow IPC source/sink — the zero-copy interchange format.

Arrow IPC (Feather v2) is the interchange format of the Python data
stack (pyarrow/pandas/polars/DuckDB all speak it natively) and the
natural handoff between a Spark curation pipeline and single-node ML
tooling: column-major, no decode step, memory-mappable. Two layouts,
both read here: the FILE format (``ARROW1`` magic + footer with
record-batch offsets) and the STREAM format (bare schema + batch
messages) — sniffed per file.

``arrow_import`` reads a directory through the shared listing of
sources/shards.py, emitting each record batch as its own
Arrow-to-Arrow pandas chunk (peak heap per task is one batch plus the
file's bytes; the writer's ``rows_per_batch`` controls the
granularity). The Spark
schema is derived driver-side from the first file's IPC schema
(mirrors sources/avro.py's header read). ``arrow_export`` writes one
file per partition via mapInPandas, schema derived from the Spark
side, so a Spark repartition controls file count and size.

Unsupported Arrow types (unions, dictionaries, maps with non-string
keys…) fail loudly at schema mapping — silent coercion would corrupt
a training corpus.

Reference scope note: the reference engine's interchange surface is
its own pickle/CSV formats (SURVEY §2.1); Arrow IPC is the
Spark-native equivalent for the Python ML handoff (LLM-pipeline
extension surface).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import shards


class ArrowIpcError(ValueError):
    """Not Arrow IPC, or a type outside the supported mapping."""


def _pa_to_spark(t) -> T.DataType:
    import pyarrow as pa

    if pa.types.is_int8(t):
        return T.ByteType()
    if pa.types.is_int16(t):
        return T.ShortType()
    if pa.types.is_int32(t):
        return T.IntegerType()
    if pa.types.is_int64(t):
        return T.LongType()
    if pa.types.is_float32(t):
        return T.FloatType()
    if pa.types.is_float64(t):
        return T.DoubleType()
    if pa.types.is_boolean(t):
        return T.BooleanType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return T.StringType()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return T.BinaryType()
    if pa.types.is_date32(t) or pa.types.is_date64(t):
        return T.DateType()
    if pa.types.is_timestamp(t):
        # tz-less arrow timestamps are NTZ in Spark 4 — mapping them
        # to the session-tz type would shift values on re-export
        return T.TimestampType() if t.tz else T.TimestampNTZType()
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return T.ArrayType(_pa_to_spark(t.value_type))
    if pa.types.is_struct(t):
        return T.StructType([
            T.StructField(f.name, _pa_to_spark(f.type), f.nullable)
            for f in t])
    raise ArrowIpcError(f"unsupported arrow type in IPC schema: {t}")


def _spark_to_pa(t: T.DataType):
    import pyarrow as pa

    m = {T.ByteType: pa.int8, T.ShortType: pa.int16,
         T.IntegerType: pa.int32, T.LongType: pa.int64,
         T.FloatType: pa.float32, T.DoubleType: pa.float64,
         T.BooleanType: pa.bool_, T.StringType: pa.string,
         T.BinaryType: pa.binary, T.DateType: pa.date32}
    for k, v in m.items():
        if isinstance(t, k):
            return v()
    if isinstance(t, T.TimestampType):
        return pa.timestamp("us", tz="UTC")  # session tz is pinned UTC
    if isinstance(t, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(t, T.DecimalType):
        return pa.decimal128(t.precision, t.scale)
    if isinstance(t, T.ArrayType):
        return pa.list_(_spark_to_pa(t.elementType))
    if isinstance(t, T.StructType):
        return pa.struct([(f.name, _spark_to_pa(f.dataType))
                          for f in t.fields])
    raise ArrowIpcError(f"unsupported spark type for arrow export: {t}")


def _open_reader(data: bytes):
    import pyarrow as pa
    import pyarrow.ipc as ipc

    try:
        if data[:6] == b"ARROW1":
            return ipc.open_file(pa.BufferReader(data))
        return ipc.open_stream(pa.BufferReader(data))
    except pa.ArrowInvalid as e:
        raise ArrowIpcError(f"not an arrow IPC file/stream: {e}") from e


def _read_schema(local: str):
    """The IPC schema of one local file, read without loading its
    batches: the file layout's footer through a memory map, the stream
    layout's first message through an open file."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    with open(local, "rb") as fh:
        is_file = fh.read(6) == b"ARROW1"
    try:
        if is_file:
            with pa.memory_map(local) as src:
                return ipc.open_file(src).schema
        with pa.OSFile(local) as src:
            return ipc.open_stream(src).schema
    except pa.ArrowInvalid as e:
        raise ArrowIpcError(f"not an arrow IPC file/stream: {e}") from e


def _iter_batches(data: bytes):
    import pyarrow.ipc as ipc

    r = _open_reader(data)
    if isinstance(r, ipc.RecordBatchFileReader):
        for i in range(r.num_record_batches):
            yield r.get_batch(i)
    else:
        yield from r


def arrow_import(spark: SparkSession, path: str,
                 pattern: str = "*.arrow*") -> DataFrame:
    """Read a directory of Arrow IPC files distributed, one Arrow
    batch out per IPC record batch (sources/shards.py states how files
    pack into tasks). All files must share the schema of the first
    file by path (enforced per batch by the mapInPandas coercion)."""
    files = shards.list_files(spark, path, pattern)
    first = shards.first_path(files)
    if first is None:
        raise ArrowIpcError(f"no files match {pattern} under {path}")
    local = shards.as_local(first)
    if local is None:
        raise ArrowIpcError(
            "schema probe needs a locally readable first file "
            f"(got {first}); copy one shard local or pass a schema-"
            "bearing local path")
    schema = T.StructType([
        T.StructField(f.name, _pa_to_spark(f.type), f.nullable)
        for f in _read_schema(local)])

    expected = [f.name for f in schema.fields]

    def run(batches):
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                for rb in _iter_batches(bytes(content)):
                    # bind by NAME, never position: a file whose
                    # columns are ordered differently but type-
                    # compatible would otherwise be silently mis-bound
                    # into the wrong columns (ADVICE r9)
                    if set(rb.schema.names) != set(expected):
                        raise ArrowIpcError(
                            f"{p}: columns {sorted(rb.schema.names)} != "
                            f"first file's {sorted(expected)}")
                    out = rb.to_pandas()[expected]
                    yield out

    return files.mapInPandas(run, schema=schema)


def arrow_export(df: DataFrame, path: str, layout: str = "file",
                 rows_per_batch: int = 1 << 16) -> int:
    """Write one Arrow IPC file per Spark partition under ``path``
    (``part-<hex>.arrow`` / ``.arrows`` by layout); empty partitions
    write nothing. Returns the row count written. Repartition first to
    control file count — the single knob that matters for the
    downstream single-node reader. Task commit: each file is a
    ``shards.Shard``; raises ArrowIpcError at entry when
    spark.speculation=true."""
    import pyarrow as pa

    shards.require_no_speculation(df, ArrowIpcError, "arrow_export")
    if layout not in ("file", "stream"):
        raise ArrowIpcError(f"layout must be file/stream, not {layout!r}")
    os.makedirs(path, exist_ok=True)
    pa_schema = pa.schema([(f.name, _spark_to_pa(f.dataType))
                           for f in df.schema.fields])
    ext = ".arrow" if layout == "file" else ".arrows"

    def write(batches):
        import pyarrow.ipc as ipc

        n = 0
        shard = writer = None
        for pdf in batches:
            if writer is None:
                shard = shards.Shard(path, shards.part_name(ext))
                writer = (ipc.new_file if layout == "file"
                          else ipc.new_stream)(shard.fh, pa_schema)
            for lo in range(0, len(pdf), rows_per_batch):
                chunk = pdf.iloc[lo:lo + rows_per_batch]
                tbl = pa.Table.from_pandas(
                    chunk, schema=pa_schema, preserve_index=False)
                writer.write_table(tbl)
                n += len(chunk)
        if writer is not None:
            writer.close()
            shard.commit()
        return n

    return shards.write_partitions(df, write)
