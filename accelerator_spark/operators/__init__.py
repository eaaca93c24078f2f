"""Operator library — each module maps a SURVEY.md §2 inventory row (or a
north-star extension) onto idiomatic PySpark."""

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column) -> Column:
    """md5 of a string column as a signed 60-bit long: the first 15 hex
    digits of the digest. md5-derived (not xxhash64) so DuckDB replays
    it bit-for-bit as CAST(('0x'||substring(md5(x),1,15)) AS BIGINT);
    NULL in, NULL out. The one definition of this encoding: every
    60-bit md5 hash, bucket and digest in the library and the gates
    calls it."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def lit_double_array(vals) -> Column:
    """Array<double> literal built in ONE Py4J round-trip.

    ``F.lit(list)`` / ``F.array(*[F.lit(x) ...])`` cost one JVM call
    PER ELEMENT (~45 ms for 64 doubles, measured warm) — the dominant
    driver-side cost of every model-literal plan (k-means assignment,
    logreg scoring, LSH hyperplanes). A SQL ``array(...)`` string is
    parsed JVM-side in one call (~0.7 ms) and ``repr(float)`` is the
    shortest round-trip form, so the parsed doubles are bit-identical
    (verified incl. subnormals-adjacent, negative zero, exponents).
    Finite values only — callers hold model weights, never NaN/inf."""
    return F.expr(
        "array(" + ",".join(repr(float(x)) + "D" for x in vals) + ")")
