"""Dataset profiling and declarative data-quality validation.

Reference parity: ``ax ds`` prints per-column min/max and line counts
from dataset metadata (SURVEY.md §2.11, /root/reference/accelerator/
shell/ds.py:54-67); the reference has no validation layer. Here both
are one-pass distributed aggregations.

Scale shape: ``profile`` computes every column's stats in a SINGLE agg
over one scan (count/count-nonnull/min/max fold map-side; the exact
distinct counts expand the agg but still one pass); the wide 1-row
result is exploded to one-row-per-column JVM-side. ``check_constraints``
evaluates all row-level rules in one pass as conditional sums; the
uniqueness/FK rules that genuinely need a shuffle or join run as their
own minimal jobs and union in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..identifiers import qcol


def profile(df: DataFrame, columns: list[str] | None = None,
            exact_distinct: bool = True) -> DataFrame:
    """One-row-per-column profile: (column, n_rows, n_nulls, n_distinct,
    min_value, max_value) with min/max rendered as strings (the typed
    values are per-column heterogeneous). ``exact_distinct=False``
    switches to approx_count_distinct — the right call at 100 TB where
    per-column exact distincts are a luxury."""
    cols = columns or df.columns
    distinct_fn = (F.countDistinct if exact_distinct
                   else lambda c: F.approx_count_distinct(c))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(qcol(c)).alias(f"_nn_{c}"),
            distinct_fn(qcol(c)).alias(f"_nd_{c}"),
            F.min(qcol(c)).cast("string").alias(f"_min_{c}"),
            F.max(qcol(c)).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            (F.col("_n") - qcol(f"_nn_{c}")).alias("n_nulls"),
            qcol(f"_nd_{c}").alias("n_distinct"),
            qcol(f"_min_{c}").alias("min_value"),
            qcol(f"_max_{c}").alias("max_value"),
        ) for c in cols
    ])
    return one.select(F.explode(per_col).alias("p")).select("p.*")


def check_constraints(df: DataFrame,
                      not_null: list[str] = (),
                      accepted_values: dict[str, list] | None = None,
                      ranges: dict[str, tuple] | None = None,
                      unique: list[str] = (),
                      foreign_keys: list[tuple] = ()) -> DataFrame:
    """dbt-style declarative checks -> violation report
    (rule, n_violations), one row per rule (0 rows are reported too —
    a silent green is indistinguishable from a rule that never ran).

    - not_null / accepted_values / ranges: ONE conditional-sum pass.
    - unique: one groupBy per column list (rows beyond the first per
      key are violations).
    - foreign_keys: (col, dim_df, dim_col) left-anti against the dim
      (broadcast when small — Catalyst decides). Semantics: a violation
      is a NON-NULL fact key with no matching NON-NULL dim key (NULLs
      on either side are ignored). This deliberately differs from
      literal SQL NOT IN, whose tri-state logic reports ZERO violations
      the moment the dim side contains a single NULL.
    """
    def _viol_sum(cond):
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))

    row_aggs = []
    for c in not_null:
        row_aggs.append(_viol_sum(F.col(c).isNull()).alias(f"not_null:{c}"))
    for c, vals in (accepted_values or {}).items():
        row_aggs.append(_viol_sum(
            ~F.col(c).isin(vals) | F.col(c).isNull()
        ).alias(f"accepted_values:{c}"))
    for c, (lo, hi) in (ranges or {}).items():
        row_aggs.append(_viol_sum(
            ~F.col(c).between(lo, hi) | F.col(c).isNull()
        ).alias(f"range:{c}"))

    parts = []
    if row_aggs:
        one = df.agg(*row_aggs)
        arr = F.array(*[
            F.struct(F.lit(a).alias("rule"),
                     qcol(a).cast("long").alias("n_violations"))
            for a in [field.name for field in one.schema.fields]
        ])
        parts.append(one.select(F.explode(arr).alias("v")).select("v.*"))
    for c in unique:
        # dbt/SQL UNIQUE semantics: NULLs are not violations (the FK
        # rule below already filters them; review r4)
        dup = (df.filter(qcol(c).isNotNull())
               .groupBy(c).agg(F.count(F.lit(1)).alias("_c"))
               .agg(F.coalesce(
                   F.sum(F.when(F.col("_c") > 1, F.col("_c") - 1)),
                   F.lit(0)).cast("long").alias("n_violations"))
               .select(F.lit(f"unique:{c}").alias("rule"), "n_violations"))
        parts.append(dup)
    for c, dim_df, dim_c in foreign_keys:
        # SQL "x NOT IN (SELECT ...)" semantics: a NULL key is never a
        # violation — filter nulls before the anti-join (a bare
        # left_anti keeps null-key rows, diverging from the oracle)
        miss = (df.select(F.col(c).alias("_k"))
                .filter(F.col("_k").isNotNull())
                .join(dim_df.select(F.col(dim_c).alias("_k"))
                      .filter(F.col("_k").isNotNull()).distinct(),
                      "_k", "left_anti")
                .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
                .select(F.lit(f"foreign_key:{c}->{dim_c}").alias("rule"),
                        "n_violations"))
        parts.append(miss)
    if not parts:
        # no rules: empty report, not an IndexError
        return df.sparkSession.createDataFrame(
            [], "rule string, n_violations long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
