"""The shared read stage of the file sources (sources/shards.py):
the batch bound of ``read_files`` over several files of one
partition, and ``first_path``."""

import io

import numpy as np
import pandas as pd

from accelerator_spark.sources import shards
from accelerator_spark.sources.tar import (
    TAR_SCHEMA, tar_build, tar_decode_file)
from accelerator_spark.sources.tensors import (
    TENSOR_SCHEMA, tensor_decode_file)


class _Partition:
    """A listing holding one partition: ``mapInPandas`` runs the
    stage's partition function in-process and returns the frames it
    yields, so the frame boundaries are visible to the test."""

    def __init__(self, files):
        self.batches = [pd.DataFrame({"path": [p for p, _ in files],
                                      "content": [c for _, c in files]})]

    def mapInPandas(self, fn, schema):
        return list(fn(iter(self.batches)))


def _cell_bytes(row):
    return sum(len(v) for v in row if isinstance(v, (bytes, str)))


def _check(files, schema, decode):
    frames = shards.read_files(_Partition(files), schema, decode)
    for f in frames:
        rows = list(f.itertuples(index=False, name=None))
        assert len(rows) <= shards.CHUNK_ROWS
        assert sum(_cell_bytes(r) for r in rows) <= shards.CHUNK_BYTES
    want = [row for p, c in files for row in decode(p, c)]
    got = [row for f in frames for row in f.itertuples(index=False,
                                                       name=None)]
    assert [tuple(map(str, r)) for r in got] == \
           [tuple(map(str, r)) for r in want]
    return frames


def test_read_files_row_bound_spans_files():
    """Three .npy files of 700 row vectors each in one partition: the
    rows leave in frames of CHUNK_ROWS, a frame spanning two files."""
    files = []
    for i in range(3):
        buf = io.BytesIO()
        np.save(buf, np.arange(700 * 2, dtype="<f8").reshape(700, 2) + i)
        files.append((f"f{i}.npy", buf.getvalue()))
    frames = _check(files, TENSOR_SCHEMA, tensor_decode_file)
    assert [len(f) for f in frames] == [1024, 1024, 52]
    assert set(frames[0]["path"]) == {"f0.npy", "f1.npy"}


def test_read_files_byte_bound():
    """Tar shards whose payloads outweigh CHUNK_BYTES: a frame never
    holds more than CHUNK_BYTES of bytes/str cells, and the small
    shard after them shares the last frame."""
    big = shards.CHUNK_BYTES // 3 + 1
    files = [("big.tar", tar_build([(f"m{i}.bin", b"x" * big)
                                    for i in range(3)])),
             ("small.tar", tar_build([("s.txt", b"s")]))]
    frames = _check(files, TAR_SCHEMA, tar_decode_file)
    assert [len(f) for f in frames] == [2, 2]
    assert list(frames[-1]["path"]) == ["big.tar", "small.tar"]


def test_first_path_is_the_smallest_path(spark, tmp_path):
    for name in ("c.bin", "a.bin", "b.bin"):
        (tmp_path / name).write_bytes(b"x")
    files = shards.list_files(spark, str(tmp_path), "*.bin")
    assert shards.first_path(files).endswith("/a.bin")
    assert shards.first_path(
        shards.list_files(spark, str(tmp_path), "*.none")) is None
