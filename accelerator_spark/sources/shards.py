"""Task commit for the per-partition file sinks, and the zstd read hook
their import twins share.

``tar_export``, ``warc_export``, ``tensor_export``, ``arrow_export``
and ``avro_export`` each run one mapInPandas pass (``write_partitions``)
whose tasks write files straight into the output directory. Every
file goes through a ``Shard``: it streams into a hidden
``.<name>.inprogress`` temp next to its final name and ``commit``
renames it into place. ``os.replace`` is atomic on one filesystem and
Spark's file listing skips dot-prefixed names, so a failed or killed
task never leaves a truncated file visible to a reader; a stale temp
is inert.

The rename is atomic, not exclusive: a speculative task twin that runs
to completion would commit a duplicate randomly-named file, or race
its twin on one temp name where names are deterministic (Avro's
``part-<pid>``). So every sink calls ``require_no_speculation`` at
entry.
"""

from __future__ import annotations

import os

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
