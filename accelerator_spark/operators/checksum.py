"""Order-insensitive dataset checksum.

Reference: ``dataset_checksum`` / ``dataset_checksum_chain`` — md5 per line,
xor-folded across lines and slices so the digest is independent of row order
and slicing (/root/reference/accelerator/standard_methods/
a_dataset_checksum.py:24-52, a_dataset_checksum_chain.py:36-50).

Spark-first design: hash each row with xxhash64 (JVM-side, codegen'd) and
fold with bit_xor + sum in one distributed agg — no row ever reaches the
driver, so this works unchanged at 100 TB. We fold with BOTH xor and sum of
the 64-bit hashes: xor alone is blind to duplicate-row parity, the pair is
a much stronger equality check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cols(df: DataFrame, columns: list[str] | None) -> list[str]:
    # `columns or df.columns` read an EMPTY list as "all columns" —
    # which let datasets_equal() compare full-table digests of two
    # frames sharing no columns at all (review r5). None means all;
    # an empty selection is an error, never a silent widening.
    cols = df.columns if columns is None else list(columns)
    if not cols:
        raise ValueError("checksum needs at least one column")
    return cols


def checksum_df(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Order/partitioning-insensitive digest of selected columns as a
    1-row DataFrame (lines, checksum_xor, checksum_sum). Carries BOTH
    folds — xor alone is blind to rows duplicated an even number of
    times (review r5: two such datasets looked equal)."""
    cols = _cols(df, columns)
    # Null-safe canonical text form per row; the \x1f separator prevents
    # ("ab","c") colliding with ("a","bc"). Known ambiguity (accepted):
    # a VALUE containing \x1f, or equal to the "\x00NULL" sentinel, can
    # collide with a differently-split row — impossible for the
    # numeric/clean-text columns this digests. This in-engine digest is
    # not replayed by any oracle; the DuckDB-replayable one is the md5
    # digest of the gates (queries._md5_xor_long).
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in cols]
    h = F.xxhash64(F.concat_ws("\x1f", *parts))
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("lines"),
        F.bit_xor("h").alias("checksum_xor"),
        # sum as decimal: exact and overflow-free under ANSI mode
        F.sum(F.col("h").cast("decimal(38,0)")).alias("checksum_sum"),
    )


def checksum(df: DataFrame, columns: list[str] | None = None) -> dict:
    """checksum_df collected: {"lines": n, "xor": int, "sum": int}."""
    row = checksum_df(df, columns).collect()[0]
    return {"lines": row["lines"], "xor": row["checksum_xor"] or 0,
            "sum": int(row["checksum_sum"] or 0)}


def checksum_chain(dataset, spark, columns: list[str] | None = None,
                   length: int = -1) -> dict:
    """Chain-wide digest (the reference's dataset_checksum_chain,
    a_dataset_checksum_chain.py:36-50: per-dataset checksums xor-folded).
    Equivalent to checksumming the chain union — xor/sum fold over rows
    is associative across datasets."""
    return checksum(dataset.chain_df(spark, length=length), columns)


def datasets_equal(a: DataFrame, b: DataFrame, columns: list[str] | None = None) -> bool:
    """Order-insensitive equality of two DataFrames on shared columns —
    the reference's test_compare_datasets idiom (SURVEY §5). Raises when
    the frames share no columns (via checksum's empty-selection check)
    instead of vacuously digesting everything."""
    cols = sorted(set(a.columns) & set(b.columns)) if columns is None \
        else columns
    return checksum(a, cols) == checksum(b, cols)
