"""The read and write stages the file sources share, and the zstd
read hook their import twins share.

Read. ``tar_import``, ``mbox_import``, ``tensor_import``,
``warc_import``, ``avro_import``, ``arrow_import`` and csvimport's
non-UTF-8 branch all start from a flat ``binaryFile`` listing of
``(path, content)`` rows (``list_files``; Avro's listing is the
recursive ``media.binary_import``). Its unit of work is NOT one file:
Spark packs small files into one partition up to
``spark.sql.files.maxPartitionBytes`` (each file costing at least
``spark.sql.files.openCostInBytes``), so one task may decode several
files, and a file larger than the limit is still one task, since
``binaryFile`` never splits a file. ``read_files`` runs the
format's ``decode(path, data)`` over every row of a partition and
sends the rows out through ``chunked``, the one batch bound
(``CHUNK_ROWS`` rows or ``CHUNK_BYTES`` of bytes/str cells), so a
decode that streams (tar, mbox, WARC) holds one file's bytes plus one
chunk in task heap, never the file's decoded rows. ``read_ranges`` is
the two-stage split read for files that carry their own split points
(Avro block framing, WARC CDX sidecars): a distributed index stage,
one driver collect of the ranges, and one task per range.

Write. ``tar_export``, ``warc_export``, ``tensor_export``,
``arrow_export`` and ``avro_export`` each run one mapInPandas pass
(``write_partitions``) whose tasks write files straight into the
output directory. Every file goes through a ``Shard``: it streams
into a hidden ``.<name>.inprogress`` temp next to its final name and
``commit`` renames it into place. ``os.replace`` is atomic on one
filesystem and Spark's file listing skips dot-prefixed names, so a
failed or killed task never leaves a truncated file visible to a
reader; a stale temp is inert.

The rename is atomic, not exclusive: a speculative task twin that runs
to completion would commit a duplicate randomly-named file, or race
its twin on one temp name where names are deterministic (Avro's
``part-<pid>``). So every sink calls ``require_no_speculation`` at
entry.
"""

from __future__ import annotations

import os
import pickle

ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"  # zstd frame magic, little-endian


def maybe_zstd(data: bytes, codec_hook, err_cls: type, what: str):
    """Route zstd-compressed bytes through the injectable codec hook:
    stdlib gains ``compression.zstd`` only in 3.14 and WebDataset and
    CommonCrawl shards are moving to .zst, so the hook is how the tar
    and WARC sources read them the day the environment has a codec.

    Hook contract: the hook receives the compressed bytes — possibly a
    CONCATENATION of frames (the sinks write one frame per member or
    record, and a CDX range spanning several records hands the hook
    several back-to-back frames) — and must return the decompressed
    stream of ALL of them. Python 3.14's
    ``compression.zstd.decompress`` handles concatenated frames;
    python-zstandard's one-shot ``zstandard.decompress`` stops at the
    first frame — wrap it in a frame loop, e.g.::

        def hook(data):
            out, d = [], zstandard.ZstdDecompressor()
            with d.stream_reader(io.BytesIO(data),
                                 read_across_frames=True) as r:
                while chunk := r.read(1 << 20):
                    out.append(chunk)
            return b"".join(out)

    Memory caveat: the hook decompresses the given bytes WHOLE, so a
    full .zst shard costs its decompressed size in task heap, unlike
    the gzip paths, which stream. Non-zstd bytes pass through; zstd
    bytes without a hook raise ``err_cls`` naming the hook."""
    if data[:4] != ZSTD_MAGIC:
        return data
    if codec_hook is None:
        raise err_cls(
            f"zstd-compressed {what} and no codec available: pass "
            "codec_hook=<bytes->bytes zstd decompressor that handles "
            "CONCATENATED frames> (e.g. Python 3.14 "
            "compression.zstd.decompress, or python-zstandard's "
            "stream_reader(read_across_frames=True) in a loop — "
            "one-shot zstandard.decompress stops at the first frame)")
    return codec_hook(data)


CHUNK_ROWS = 1024       # rows per Arrow batch a read task yields
CHUNK_BYTES = 64 << 20  # bytes/str cell bytes per Arrow batch


def list_files(spark, path: str, pattern: str):
    """The flat ``binaryFile`` listing of ``path`` as ``(path,
    content)`` rows, names filtered by the glob ``pattern``. The
    content column is read lazily: a ``select("path")`` never loads
    a file's bytes."""
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", pattern).load(path)
            .select("path", "content"))


def as_local(spark_path: str) -> str | None:
    """binaryFile's path column -> a locally readable filesystem path,
    or None when the file isn't reachable through the OS (hdfs://,
    s3a://). NO percent-decoding: binaryFile paths are not encoded
    (verified live in media.py, review r4)."""
    if spark_path.startswith("file:"):
        from urllib.parse import urlparse

        p = urlparse(spark_path).path
    elif "://" in spark_path:
        return None
    else:
        p = spark_path
    return p if os.path.exists(p) else None


def first_path(files) -> str | None:
    """The smallest ``path`` of a listing (None when it is empty), so
    a schema probe reads the same file on every run. A top-1
    ``orderBy().limit(1)`` runs as one Spark job; ``F.min`` would run
    two under adaptive execution (its exchange is a job of its own)."""
    head = files.select("path").orderBy("path").limit(1).collect()
    return head[0][0] if head else None


def chunked(rows, cols, max_rows: int = CHUNK_ROWS,
            max_bytes: int = CHUNK_BYTES):
    """Drain an iterator of row tuples into pandas frames of at most
    ``max_rows`` rows and ``max_bytes`` bytes, counted as the ``len``
    of each row's bytes/str cells; a single row over ``max_bytes``
    forms a frame of its own. Lazy: the first frame leaves before
    the iterator is read past it."""
    import pandas as pd

    out, nbytes = [], 0
    for row in rows:
        size = sum(len(v) for v in row if isinstance(v, (bytes, str)))
        if out and (len(out) >= max_rows or nbytes + size > max_bytes):
            yield pd.DataFrame(out, columns=cols)
            out, nbytes = [], 0
        out.append(row)
        nbytes += size
    if out:
        yield pd.DataFrame(out, columns=cols)


def read_files(files, schema, decode):
    """Decode a ``(path, content)`` listing into ``schema`` rows:
    ``decode(path, data)`` yields row tuples for one file, and a
    partition's rows leave through ``chunked`` (a chunk may span the
    files of one partition)."""
    cols = schema.fieldNames()

    def run(batches):
        yield from chunked(
            (row for pdf in batches
             for p, content in zip(pdf["path"], pdf["content"])
             for row in decode(p, bytes(content))), cols)

    return files.mapInPandas(run, schema=schema)


def read_ranges(paths, index, decode, schema):
    """The two-stage split read. Stage 1 runs ``index(path)`` over the
    one-column frame ``paths`` as a distributed job, yielding picklable
    range tuples; the ranges are collected to the driver (one small
    tuple per split) and handed out one per task: a partition-count
    or AQE-sized repartition would size tasks by the index rows'
    bytes, not the decode work each stands for. Stage 2 decodes each
    range with ``decode(*range)`` into ``schema`` rows, leaving
    through ``chunked``. No ranges gives an empty frame."""
    spark = paths.sparkSession
    idx = paths.rdd.flatMap(lambda row: index(row[0])).collect()
    if not idx:
        return spark.createDataFrame([], schema)
    blobs = spark.sparkContext.parallelize(
        [(pickle.dumps(r),) for r in idx], len(idx))
    cols = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            for blob in pdf["r"]:
                yield from chunked(decode(*pickle.loads(blob)), cols)

    return (spark.createDataFrame(blobs, "r binary")
            .mapInPandas(run, schema=schema))


def require_no_speculation(df, err_cls: type, opname: str) -> None:
    """Raise ``err_cls`` when the session runs with
    ``spark.speculation=true`` (see the module docstring): a sink must
    fail at entry instead of silently duplicating data."""
    spec = df.sparkSession.conf.get("spark.speculation", "false")
    if str(spec).strip().lower() == "true":
        raise err_cls(
            f"{opname}: spark.speculation=true would let a completed "
            "speculative task twin commit a duplicate file (the rename "
            "into place is atomic, not exclusive) — disable speculative "
            "execution for file sinks")


def part_name(suffix: str) -> str:
    """A fresh random ``part-<hex><suffix>`` file name."""
    return "part-" + os.urandom(8).hex() + suffix


class Shard:
    """One output file of a task: ``fh`` is the open hidden temp,
    ``commit`` closes it and renames it to ``name`` under ``path``."""

    def __init__(self, path: str, name: str, mode: str = "wb", **kw):
        self.final = os.path.join(path, name)
        self.fh = open(os.path.join(path, "." + name + ".inprogress"),
                       mode, **kw)

    def commit(self) -> None:
        self.fh.close()
        os.replace(self.fh.name, self.final)


def write_partitions(df, task) -> int:
    """Run ``task(batches) -> int`` once per partition of ``df`` and
    return the sum of the counts the tasks report."""
    def run(batches):
        import pandas as pd

        yield pd.DataFrame({"n": [task(batches)]})

    return sum(r["n"] for r in df.mapInPandas(run, schema="n long").collect())
