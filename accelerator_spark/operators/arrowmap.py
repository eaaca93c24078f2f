"""The one Arrow-batched map stage behind every per-row Python operator.

``map_rows`` owns how a per-row operator crosses into Python: the slim
projection, the ``on_error`` containment rule and the output frame.
``keyed_schema`` builds the usual output schema, whose id column keeps
the input id's own type (a hardcoded LongType failed mid-job on string
ids — review r3). The text and media operators reach it through
``map_text_rows`` and ``multimodal._map_media_rows``, thin adapters
that build their schema and wrap their ``per_row``."""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..identifiers import qcol


def keyed_schema(df: DataFrame, id_col: str, fields: list,
                 name: str | None = None,
                 nullable: bool = False) -> T.StructType:
    """(``name``-or-``id_col`` with the id's OWN type, *fields)."""
    return T.StructType(
        [T.StructField(name or id_col, df.schema[id_col].dataType,
                       nullable)] + list(fields))


def map_rows(
    df: DataFrame,
    cols: list,
    schema: T.StructType,
    per_row: Callable,          # (*values of cols) -> iterable of rows
    on_error: str = "raise",
    error_row: Callable | None = None,
    batch_partitions: int | None = None,
) -> DataFrame:
    """One Arrow map stage over ``df.select(*cols)``: each input row's
    values go to ``per_row``, which returns that row's output rows
    (one, none or many) as tuples in ``schema`` order. Rows iterate by
    zip over the column arrays, not iterrows (a per-row Series is the
    slowest pandas access path in exactly the hot loop).

    ``on_error``: "raise" (default) fails the job on the first row
    whose ``per_row`` raises; "null" keeps the job alive, and that
    input row contributes exactly one row, ``error_row(*values)`` —
    by default the first input value followed by NULLs. A row's output
    is built in full before any of it is kept, so a row that fails
    part-way never leaks part of its output (all or nothing)."""
    if on_error not in ("raise", "null"):
        raise ValueError(
            f"on_error must be 'raise' or 'null', got {on_error!r}")
    slim = df.select(*(qcol(c) for c in cols))
    if batch_partitions:
        slim = slim.repartition(batch_partitions)
    names = [f.name for f in schema.fields]
    if error_row is None:
        n_null = len(names) - 1

        def error_row(first, *_):
            return (first,) + (None,) * n_null

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for vals in zip(*(pdf[c] for c in cols)):
                try:
                    rows = list(per_row(*vals))
                except Exception:
                    if on_error == "raise":
                        raise
                    rows = [error_row(*vals)]
                out.extend(rows)
            yield pd.DataFrame(out, columns=names)

    return slim.mapInPandas(run, schema=schema)


def map_text_rows(
    df: DataFrame,
    per_row: Callable,          # (text_or_None) -> tuple of outputs
    out_fields: list,           # StructFields AFTER the id column
    text_col: str,
    id_col: str,
    id_out_name: str | None = None,
    batch_partitions: int | None = None,
) -> DataFrame:
    """``map_rows`` over (id, text): output schema is
    (id_out_name-or-id_col with the id's OWN type, *out_fields), one
    row per document. The per-row callable owns None handling — text
    operators have per-format ideas of what a NULL document means."""
    return map_rows(
        df, [id_col, text_col],
        keyed_schema(df, id_col, out_fields, id_out_name),
        lambda did, text: [(did,) + tuple(per_row(text))],
        batch_partitions=batch_partitions)
