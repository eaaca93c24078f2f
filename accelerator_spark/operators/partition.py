"""Partitioning / distribution operators.

Reference: ``dataset_hashpart`` rewrites a dataset hash-partitioned on one
column (/root/reference/accelerator/standard_methods/a_dataset_hashpart.py:
32-135); ``dataset_unroundrobin`` restores original row order
(a_dataset_unroundrobin.py:22-101); round-robin split writers cycle slices
(accelerator/dataset.py:1369-1375).

Spark mapping (SURVEY §2.3): partition placement is an engine concern —
``repartition(n, col)`` for hash co-location, ``repartition(n)`` for
round-robin, ``repartitionByRange`` for the trigger-column "keep equal
keys together" contract. Row identity never depends on which partition a
row lives in, so results are invariant — the checksum tests assert that.

At scale: hashpart before a chain of same-key operations = the
``bucketBy`` pattern; ``Dataset.write(hashlabel=...)`` records the
contract in the manifest so later steps know the data is co-partitioned.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dataset import LINENO
from . import md5_long


def hashpart(df: DataFrame, hashlabel: str, partitions: int | None = None) -> DataFrame:
    """Hash-partition on one column (the reference's single-column
    hashlabel contract, accelerator/dataset.py:1362-1368)."""
    n = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.col(hashlabel))


def roundrobin(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin redistribution (no-hashlabel split writers)."""
    n = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


def unroundrobin(df: DataFrame, lineno_col: str = LINENO,
                 trigger_column: str | None = None,
                 partitions: int | None = None) -> DataFrame:
    """Restore original ingest order (a_dataset_unroundrobin.py:22-101):
    ``new.iterate(None) == old.iterate('roundrobin')`` becomes a sort on
    the ingest-order column. ``trigger_column`` keeps equal values in the
    same partition (range partitioning on the trigger, then order within
    partitions) — the reference's delayed-slice-switch semantics."""
    if trigger_column:
        n = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return df.repartitionByRange(n, F.col(trigger_column)) \
                 .sortWithinPartitions(trigger_column, lineno_col)
    return df.orderBy(lineno_col)


def filter_columns(df: DataFrame, keep: list[str] | None = None,
                   discard: list[str] | None = None) -> DataFrame:
    """dataset_filter_columns (a_dataset_filter_columns.py:27-44): keep or
    discard a column subset. Zero-copy in the reference via link_to_here;
    zero-IO here via parquet column pruning."""
    if keep is not None:
        return df.select(*keep)
    if discard:
        return df.drop(*discard)
    return df


def translate(df: DataFrame, mapping: dict[str, "dict | object"],
              default_miss=None) -> DataFrame:
    """The iterate ``translators=`` surface (SURVEY §2.2,
    accelerator/dataset.py:469-476): per-column value rewriting applied
    before filters. Dict translators become literal maps (JVM-side
    element_at — dict-miss yields NULL, matching the reference's
    dict.get); callables are not accepted here — express them as Column
    expressions or go through the grouped/pandas escape hatch."""
    from pyspark.sql import functions as FF
    from itertools import chain as _chain

    out = df
    for col, tr in mapping.items():
        if isinstance(tr, dict):
            literal_map = FF.create_map(*[FF.lit(x) for x in _chain(*tr.items())])
            v = literal_map[FF.col(col)]
            out = out.withColumn(col, FF.coalesce(v, FF.lit(default_miss))
                                 if default_miss is not None else v)
        else:  # a Column expression
            out = out.withColumn(col, tr)
    return out


def slice_rows(df: DataFrame, start: int = 0, stop: int | None = None,
               order_col: str = LINENO) -> DataFrame:
    """The iterate ``slice=`` surface (accelerator/dataset.py:508-516):
    global offset/limit against a deterministic order column (reference
    order is per-slice insertion order; ours is the lineno contract,
    SURVEY §7.4)."""
    out = df.orderBy(order_col)
    if start:
        out = out.offset(start)
    if stop is not None:
        out = out.limit(stop - start)
    return out


def salted_join(big: DataFrame, small: DataFrame, on: str,
                how: str = "inner", salts: int = 8,
                salt_cols: list[str] | None = None) -> DataFrame:
    """Shuffle join with manual key salting for skewed join keys.

    The big side gets a deterministic pseudo-random salt in [0, salts);
    the small side is replicated once per salt value. Joining on
    (key, salt) spreads a hot key over ``salts`` reducers instead of one.

    This is the manual fallback for when AQE's skew-join splitting can't
    apply (e.g. the skewed side feeds an aggregation in the same stage,
    or a non-sort-merge plan is forced). Replication cost: small side
    ×salts — only use when `small` really is small, but too big or too
    row-multiplying to broadcast outright.

    The salt derives from xxhash64 over ``salt_cols`` (default: ALL
    big-side columns) — a stable row content hash, no rand(): a
    nondeterministic salt re-buckets rows when a map task is retried
    after some reducers already fetched, which can drop or duplicate
    rows. CAVEAT (review r5): byte-identical duplicate rows — the
    classic hot-key shape when the hot key's payload repeats — all
    hash to ONE salt and still land in one reducer. When the big side
    has a unique id column, pass it (alone) as ``salt_cols``; unique
    values spread uniformly over every salt. pmod, not abs(...)%:
    abs(Long.MIN_VALUE) is still negative in JVM two's complement,
    which silently dropped that row from an inner join (review r4).
    Only big-side-preserving join types are valid — the small side is
    REPLICATED per salt, so right/full outer joins would emit one
    null-extended row per unmatched salt replica.
    """
    if how not in ("inner", "left", "left_semi", "left_anti", "leftsemi",
                   "leftanti", "left_outer"):
        raise ValueError(
            f"salted_join: how={how!r} is not big-side-preserving — the "
            "replicated small side would duplicate right/full outer "
            "results; salt the other side or broadcast instead")
    if salt_cols is not None:
        missing = [c for c in salt_cols if c not in big.columns]
        if not salt_cols or missing:
            raise ValueError(
                f"salted_join: salt_cols must name big-side columns "
                f"(missing: {missing or 'empty list'})")
    salt_b = F.pmod(F.xxhash64(*(salt_cols or big.columns)), F.lit(salts))
    big_s = big.withColumn("__salt", salt_b.cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    joined = big_s.join(small_s, [on, "__salt"], how)
    return joined.drop("__salt")


def _md5_bucket(col, buckets: int = 10_000):
    """Deterministic uniform bucket in [0, buckets) from a column value:
    md5_long of its string form, mod ``buckets`` (DuckDB: the md5_long
    twin over CAST(x AS VARCHAR), % buckets)."""
    return md5_long(F.col(col).cast("string")) % buckets


def hash_sample(df: DataFrame, col: str, rate: float) -> DataFrame:
    """Reproducible sample: keep rows whose id-hash bucket falls under
    ``rate``. Unlike ``df.sample`` this is deterministic across runs,
    engines, partitionings and cluster sizes — the property a training-
    data pipeline needs so a 1% dev-corpus is THE SAME 1% every rebuild.
    Pure narrow filter: no shuffle, pushes down around it."""
    # round, not int(): binary-float artifacts (0.57*10000 = 5699.99..)
    # truncated a bucket off the requested fraction (review r4)
    return df.filter(_md5_bucket(col) < round(rate * 10_000))


def hash_split(df: DataFrame, col: str, weights: dict[str, float],
               split_col: str = "split") -> DataFrame:
    """Deterministic train/val/test split. ``weights`` maps split name →
    fraction (must sum to ≤1; remainder falls in the last split).
    Row placement depends only on the id value, so adding data or
    changing partitioning never moves an existing row between splits."""
    b = _md5_bucket(col)
    expr = None
    lo = 0
    names = list(weights)
    for name in names[:-1]:
        hi = lo + round(weights[name] * 10_000)
        cond = (b >= lo) & (b < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    expr = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def per_key_sample(df: DataFrame, key: str, n: int, id_col: str) -> DataFrame:
    """Deterministic per-key cap: keep at most ``n`` rows per key,
    chosen by id-hash order (NOT input order, which is partitioning-
    dependent). The domain-cap operator of corpus curation — stops one
    source from dominating a training set, reproducibly: the kept set
    depends only on the ids present under the key.

    One shuffle on ``key``; the window's running row_number needs no
    full-group materialization."""
    from pyspark.sql import Window
    w = Window.partitionBy(key).orderBy(_md5_bucket(id_col, 1 << 62),
                                        F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


_BUCKETABLE = {"tinyint", "smallint", "int", "bigint", "float", "double",
               "date", "timestamp", "boolean"}


def _require_bucketable(df, col: str, op: str) -> None:
    """Value-range bucketing needs a numeric/temporal column: a string
    column would cast('double') to NULL everywhere and SILENTLY collapse
    the operator into one bucket (a single-task sort) — fail fast
    instead (review r3: the None-guard must not mask misuse)."""
    t = dict(df.dtypes).get(col)
    base = (t or "").split("(")[0]
    if base not in _BUCKETABLE and not base.startswith("decimal"):
        raise TypeError(
            f"{op}: column {col!r} has type {t!r} — value-range "
            "bucketing needs a numeric/temporal column (cast or derive "
            "a sortable numeric key first)")


def _as_double(df, col: str):
    """Order-preserving DOUBLE view of a bucketable column. DATE is in
    _BUCKETABLE but Spark 4 (ANSI) refuses CAST(date AS DOUBLE) — the
    guard admitted it and percentile_approx then crashed with a raw
    DATATYPE_MISMATCH (review r5). unix_date (days since epoch) is
    monotone, which is all value-range bucketing needs."""
    base = (dict(df.dtypes).get(col) or "").split("(")[0]
    if base == "date":
        return F.unix_date(F.col(col)).cast("double")
    return F.col(col).cast("double")


def _quantile_bucket_col(df, col: str, bounds, strict_less: bool):
    """Bucket index column from percentile_approx boundaries; NULL/empty
    boundaries (all-null or empty input) degenerate to one bucket.
    Shared by zorder_layout and assign_global_ids so the degenerate-
    input policy is single-sourced. ``df`` supplies the column's dtype
    (dates bucket via unix_date, see _as_double)."""
    vals = [float(v) for v in (bounds or []) if v is not None]
    if not vals:
        return F.lit(0).cast("long")
    d = _as_double(df, col)
    arr = F.array(*[F.lit(v) for v in vals])
    if strict_less:
        pred = lambda b: b < d  # noqa: E731
    else:
        pred = lambda b: b <= d  # noqa: E731
    return F.size(F.filter(arr, pred)).cast("long")


def zorder_layout(df, cols: list[str], bits: int = 8,
                  num_partitions: int | None = None):
    """Multi-dimensional data-skipping layout: cluster rows along a
    Z-order (Morton) curve over numeric ``cols`` so a range predicate on
    ANY of the dimensions maps to few files/row-groups.

    Each column is quantile-binned into 2^bits buckets using
    percentile_approx boundaries from ONE aggregation pass (quantile
    binning spreads skewed distributions over the curve; a global
    percent_rank window would serialize the table through one task —
    exactly the shape this module exists to avoid). The tiny boundary
    arrays ride into the plan as literals; bucketing is a JVM array
    filter (2^bits comparisons/row). Bucket bits interleave into one
    z-value; the frame is range-repartitioned + sorted on it. Parquet
    then records tight per-file min/max for every clustered column —
    the layout is the index.

    A linear sort optimizes one leading column; Z-order trades a little
    locality per dimension for usable locality on all of them — the
    standard lakehouse answer for 100 TB tables queried on several
    dimensions. Rewrite cost: one stats agg + one range shuffle."""
    for c in cols:
        _require_bucketable(df, c, "zorder_layout")
    if bits * len(cols) > 63:
        # bit j of dim d lands at position j*len(cols)+d in the Morton
        # word; past 63 the 1<<shift literal no longer fits a long and
        # failed deep in Py4J with no hint (review r4)
        raise ValueError(
            f"zorder_layout: bits({bits}) * len(cols)({len(cols)}) must "
            "be <= 63 to fit the interleaved Morton key in a long — "
            "lower bits or cluster fewer columns")
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bins = 1 << bits
    fracs = F.array(*[F.lit(i / bins) for i in range(1, bins)])
    bounds_row = df.agg(*[
        F.percentile_approx(_as_double(df, c), fracs, F.lit(10000))
        .alias(c) for c in cols]).collect()[0]

    out = df
    rank_cols = []
    for c in cols:
        rc = f"_r_{c}"
        out = out.withColumn(
            rc, _quantile_bucket_col(df, c, bounds_row[c],
                                     strict_less=False))
        rank_cols.append(rc)
    d_count = len(rank_cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for d, rc in enumerate(rank_cols):
            bit = F.shiftright(F.col(rc), b).bitwiseAND(F.lit(1))
            z = z + (bit * F.lit(1 << (b * d_count + d))).cast("long")
    out = out.withColumn("_z", z)
    return (out.repartitionByRange(n, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z", *rank_cols))


def assign_global_ids(df, order_col: str, id_col: str = "row_id",
                      num_partitions: int | None = None):
    """Dense 0-based global row ids in ``order_col`` order WITHOUT a
    single-task global window.

    The naive ``row_number() OVER (ORDER BY k)`` collapses the whole
    table into one partition — a non-starter at 100 TB. The scalable
    form buckets by VALUE, not by physical partition (spark_partition_id
    is unstable across jobs once AQE re-coalesces a shuffle — measured:
    the two-job pid-offset variant double-assigned ids):

    1. approx-quantile boundaries of the key (one agg) define N
       deterministic key-range buckets;
    2. per-bucket counts (tiny agg, N rows) -> cumulative offsets,
       broadcast back as a literal map;
    3. row_number inside each bucket (windows partitioned by bucket id
       run fully parallel) + the bucket's offset.

    Ids are identical to the naive form whenever ``order_col`` is
    unique. Reference parity: ``lineno`` assignment generalized from
    insertion order to any sort order (SURVEY §2.2 roundrobin/lineno).
    """
    from pyspark.sql import Window

    _require_bucketable(df, order_col, "assign_global_ids")
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if n > 1:
        fracs = F.array(*[F.lit(i / n) for i in range(1, n)])
        bounds = df.agg(F.percentile_approx(
            _as_double(df, order_col), fracs, F.lit(10000)).alias("b")
        ).collect()[0]["b"]
    else:
        bounds = None
    # NULL boundaries (all-null/empty input) or n<=1 degenerate to a
    # single bucket — a plain row_number, correct for tiny inputs
    bucketed = df.withColumn(
        "_bkt", _quantile_bucket_col(df, order_col, bounds,
                                     strict_less=True))
    sizes = {r["_bkt"]: r["c"] for r in
             bucketed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("c")).collect()}
    offsets, acc = {}, 0
    for b in sorted(sizes):
        offsets[b] = acc
        acc += sizes[b]
    if not offsets:  # empty input: create_map() would be untyped
        offsets = {0: 0}
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_bkt").orderBy(order_col)
    return (bucketed
            .withColumn(id_col, F.row_number().over(w) - 1 + omap[F.col("_bkt")])
            .drop("_bkt"))


def _ntile_bucket_frame(df, order_col: str, tiebreak_col: str,
                        n_buckets: int, sid: str):
    """Assign every row a bucket key ``(sid_bkt, sid_sub)`` such that

    - buckets are contiguous ranges of the ``(order_col, tiebreak_col)``
      total order (so per-bucket row_number + cumulative offsets
      reconstruct the exact global row_number), and
    - no bucket holds much more than ``2/n_buckets`` of the rows even
      when one order value dominates (the round-3 tie-skew hazard: with
      value-range cuts alone, a 90%-tied column funnels 90% of the rows
      into ONE bucket whose window is a single task).

    Tie de-skew at ~zero extra cost: a value REPEATED in the
    percentile_approx bounds array holds >= 1/n_buckets of the rows, so
    the dominant tied values fall straight out of the bounds collect —
    no separate counting pass. Each heavy value gets before+after cuts
    (isolating its tie group in its own bucket) and is sub-split by
    quantile cuts on ``tiebreak_col`` (one extra grouped agg, only when
    heavy values exist) — within a tie group the ordering IS the
    tiebreak, so tiebreak value-range sub-buckets stay contiguous.
    Sub-splitting needs a numeric tiebreak and a collision-free double
    cast (guarded by countDistinct); otherwise that value keeps one
    bucket (correct, merely skewed).

    Driver pulls are bounded (one 1-row bounds agg; one <=n_buckets/2-
    row tie-cut agg when skewed), and bucket assignment compiles to
    flat when-sums — no joins in the plan. NOTE for callers chaining
    several exact_ntile passes: the collects re-execute the input
    lineage, so materialize (localCheckpoint) between passes — see
    rfm_segmentation."""
    from collections import Counter

    order_d = _as_double(df, order_col)
    tie_base = (dict(df.dtypes).get(tiebreak_col) or "").split("(")[0]
    tie_numeric = tie_base in _BUCKETABLE or tie_base.startswith("decimal")
    tie_string = tie_base == "string"

    def n_cuts_below(cuts, cmp):
        # flat sum of per-cut booleans (not an array+filter HOF: a
        # lambda capturing an outer column trips Catalyst's reference
        # binding once the expression flows through groupBy+window)
        e = F.lit(0)
        for c in cuts:
            e = e + F.when(cmp(F.lit(float(c))), 1).otherwise(0)
        return e

    fracs = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
    row = df.agg(F.percentile_approx(
        order_d, fracs, F.lit(10000)).alias("b")).collect()[0]
    raw = [x for x in (row["b"] or []) if x is not None]
    cuts = sorted(set(raw))
    repeats = {v: c for v, c in Counter(raw).items() if c >= 2}
    heavy = sorted(repeats)
    # after-cuts at every distinct bound + before-cuts at heavy values:
    # g(o) = |cuts < o| + |heavy <= o| isolates each heavy tie group in
    # its own bucket while staying monotone in o
    bkt = (n_cuts_below(cuts, lambda x: x < order_d)
           + n_cuts_below(heavy, lambda x: x <= order_d))
    b = df.withColumn(f"{sid}_bkt", bkt)
    if not heavy or not (tie_numeric or tie_string):
        return b.withColumn(f"{sid}_sub", F.lit(0))
    if tie_numeric:
        tie_exprs = {float(v): _as_double(df, tiebreak_col)
                     for v in heavy}
        tc_rows = (df.filter(order_d.isin([float(v) for v in heavy]))
                   .groupBy(order_d.alias("_hv"))
                   .agg(F.percentile_approx(
                       _as_double(df, tiebreak_col), fracs,
                       F.lit(10000)).alias("_tc"),
                        F.count_distinct(F.col(order_col)).alias("_nd"))
                   .collect())
        # nd > 1: two real values collide in double space — sub-splitting
        # by tiebreak would misorder them; leave that group un-split
        tie_cuts = {r["_hv"]: sorted({x for x in (r["_tc"] or [])
                                      if x is not None})
                    for r in tc_rows if r["_nd"] == 1}
    else:
        # string tiebreak (VERDICT r4 #3): sub-split by an ORDER-
        # PRESERVING numeric proxy — strip the heavy group's common
        # prefix (real-world ids share long prefixes: 'doc-000...'),
        # then take the first 8 bytes of the remaining UTF-8 as a
        # zero-padded big-endian integer. Spark compares strings
        # byte-wise (UTF8String), so proxy order is a monotone
        # coarsening of string order within the group: cutting on proxy
        # quantiles yields CONTIGUOUS tiebreak ranges, which is all
        # exactness needs (proxy collisions only merge adjacent
        # sub-buckets; the within-bucket sort still uses the true
        # tiebreak column). The double cast is monotone too.
        # Pass 1: per-group min/max (their common CHAR prefix is shared
        # by every string lexicographically between them) + nd guard.
        from os.path import commonprefix

        mm_rows = (df.filter(order_d.isin([float(v) for v in heavy]))
                   .groupBy(order_d.alias("_hv"))
                   .agg(F.min(F.col(tiebreak_col)).alias("_lo"),
                        F.max(F.col(tiebreak_col)).alias("_hi"),
                        F.count_distinct(F.col(order_col)).alias("_nd"))
                   .collect())

        def _proxy(skip_chars):
            tail = F.substring(F.col(tiebreak_col), skip_chars + 1,
                               2147483647)
            hx = F.hex(F.encode(tail, "utf-8"))
            return F.conv(
                F.substring(F.concat(hx, F.lit("0" * 16)), 1, 16),
                16, 10).cast("double")

        tie_exprs = {}
        for r in mm_rows:
            if r["_nd"] != 1 or r["_lo"] is None or r["_lo"] == r["_hi"]:
                continue  # un-splittable (or double-collided) group
            tie_exprs[r["_hv"]] = _proxy(
                len(commonprefix([r["_lo"], r["_hi"]])))
        tie_cuts = {}
        if tie_exprs:
            # Pass 2: quantile cuts over each group's own proxy
            pe = F.lit(None).cast("double")
            for v, p in tie_exprs.items():
                pe = F.when(order_d == F.lit(float(v)), p).otherwise(pe)
            tc_rows = (df.filter(order_d.isin(list(tie_exprs)))
                       .groupBy(order_d.alias("_hv"))
                       .agg(F.percentile_approx(
                           pe, fracs, F.lit(10000)).alias("_tc"))
                       .collect())
            tie_cuts = {r["_hv"]: sorted({x for x in (r["_tc"] or [])
                                          if x is not None})
                        for r in tc_rows}
    sub = F.lit(0)
    for v, cs in tie_cuts.items():
        # a value repeated r times spans ~r/n_buckets of the rows, so r
        # sub-cuts suffice to keep each sub-bucket at ~1/n_buckets —
        # trimming keeps the TOTAL when-sum terms across all heavy
        # values at ~n_buckets (a full 63-cut chain per value made
        # Catalyst analysis the bottleneck, not the data)
        r = repeats.get(v, 2)
        if len(cs) > r:
            step = len(cs) / (r + 1)
            cs = sorted({cs[int((i + 1) * step) - 1] for i in range(r)})
        if cs:
            tie_d = tie_exprs[v]
            sub = F.when(order_d == F.lit(float(v)),
                         n_cuts_below(cs, lambda x, t=tie_d: x < t)
                         ).otherwise(sub)
    return b.withColumn(f"{sid}_sub", sub)


def exact_ntile(df, order_col: str, n_tiles: int, tiebreak_col: str,
                out_col: str, n_buckets: int = 64):
    """Exact ``ntile(n) OVER (ORDER BY order_col, tiebreak_col)``
    WITHOUT a single-task global sort (the assign_global_ids /
    ntile_price_quartiles pattern, reusable):

    1. ``_ntile_bucket_frame`` cuts the rows into contiguous value-range
       buckets — heavy tied values isolated and sub-split by tiebreak
       ranges so a dominant value can't collapse into one task;
    2. within-bucket row_number (PARTITIONED window, fully parallel);
    3. per-bucket counts (tiny frame) -> cumulative offsets broadcast
       back: rn = offset + in-bucket rank == the global row_number;
    4. the ntile closed form maps rn to its tile (first n%k tiles hold
       ceil(n/k) rows).

    Hash-identical to the window form whenever ``tiebreak_col`` breaks
    ties totally. ``order_col`` must be numeric/temporal (dates bucket
    via unix_date internally)."""
    from pyspark.sql import Window

    _require_bucketable(df, order_col, "exact_ntile")
    sid = f"_{out_col}"
    b = _ntile_bucket_frame(df, order_col, tiebreak_col, n_buckets, sid)
    key = [f"{sid}_bkt", f"{sid}_sub"]
    counts = b.groupBy(*key).agg(F.count(F.lit(1)).alias(f"{sid}_n"))
    w_cum = (Window.orderBy(*key)
             .rowsBetween(Window.unboundedPreceding, -1))
    w_tot = (Window.orderBy(*key)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    offsets = (counts
               .withColumn(f"{sid}_off",
                           F.coalesce(F.sum(f"{sid}_n").over(w_cum),
                                      F.lit(0)))
               .withColumn(f"{sid}_tot", F.sum(f"{sid}_n").over(w_tot))
               .select(*key, f"{sid}_off", f"{sid}_tot"))
    w_in = Window.partitionBy(*key).orderBy(
        F.col(order_col).asc(), F.col(tiebreak_col).asc())
    ranked = (b.withColumn(f"{sid}_r", F.row_number().over(w_in))
              .join(F.broadcast(offsets), key)
              .withColumn(f"{sid}_rn",
                          F.col(f"{sid}_off") + F.col(f"{sid}_r")))
    q = F.floor(F.col(f"{sid}_tot") / n_tiles)
    r_mod = F.col(f"{sid}_tot") % n_tiles
    big = r_mod * (q + 1)
    rn = F.col(f"{sid}_rn")
    out = ranked.withColumn(
        out_col,
        F.when(q == 0, rn)
        .when(rn <= big, F.ceil(rn / (q + 1)))
        .otherwise(r_mod + F.ceil((rn - big) / q)).cast("int"))
    return out.drop(f"{sid}_bkt", f"{sid}_sub", f"{sid}_r", f"{sid}_off",
                    f"{sid}_tot", f"{sid}_rn")


def rebuild_dir(path: str, build):
    """Replace the directory ``path`` crash-safely: ``build(tmp)``
    writes the new content into the temp sibling ``tmp``, then two
    renames swap it in (``path`` -> ``.__compact_old__``, ``tmp`` ->
    ``path``) and the old content is deleted. Data is never deleted
    until the swap completes: a crash between the renames leaves the
    original at the ``.__compact_old__`` sibling, and the next call
    rolls it back before building (review r4). A ``build`` that raises
    leaves ``path`` untouched and its temp dir removed; one that writes
    nothing to ``tmp`` swaps nothing. Returns what ``build`` returns.
    Local filesystem paths only (os.rename) — object stores need their
    own atomic-swap primitive."""
    back = path.rstrip("/") + ".__compact_old__"
    tmp = path.rstrip("/") + ".__compact_tmp__"
    # either the original still sits at `back` (crash between the
    # renames — finish the rollback) or the rebuilt dir reached `path`
    # and `back` is a stale backup
    if os.path.exists(back):
        if os.path.exists(path):
            shutil.rmtree(back)
        else:
            os.rename(back, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # incomplete previous attempt
    try:
        out = build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.exists(tmp):
        os.rename(path, back)
        os.rename(tmp, path)
        shutil.rmtree(back)
    return out


def compact_files(spark, path: str, target_files: int,
                  fmt: str = "parquet") -> int:
    """Small-file compaction: rewrite a table directory into
    ``target_files`` files. The 100 TB housekeeping operator — streaming
    ingest and fine-grained incremental steps leave thousands of small
    files per partition; scans then pay one task + one open per file.
    Compaction restores scan efficiency without changing content (the
    checksum test asserts equality).

    Uses coalesce (no shuffle) when shrinking file count — each output
    task concatenates whole input splits. The rewrite is swapped in by
    ``rebuild_dir`` (crash-safe, local paths only).

    Returns the number of data files after compaction."""
    # the read is part of the build: it must see the recovered `path`
    rebuild_dir(path, lambda tmp: spark.read.format(fmt).load(path)
                .coalesce(target_files).write.mode("overwrite")
                .format(fmt).save(tmp))
    # count by excluding Spark's metadata names, not by whitelisting
    # data extensions — 'avro'/'text'/zstd-compressed outputs matched
    # nothing and a successful compaction reported 0 files (review r5)
    return sum(1 for f in os.listdir(path)
               if not f.startswith(("_", ".")) and not f.endswith(".crc"))


def mixture_sample(df: DataFrame, source_col: str, id_col: str,
                   frac: float = 0.5, weights=None):
    """Domain reweighting / mixture sampling (DoReMi-style corpus mix):
    split a ``frac``-of-corpus budget across sources proportionally to
    ``weights`` (a Column giving each row's source weight; rows of one
    source must agree), then keep rows by a reproducible md5 draw at
    rate quota/count. Keep decisions are integer comparisons
    (h28·count < quota·2^28) — engine-, partitioning- and cluster-size-
    invariant, no float threshold.

    Returns (kept_df, quotas_df); quotas_df carries source, n_docs, wt,
    quota. The quota table is O(#sources) and broadcast; the keep pass
    is map-only."""
    if weights is None:
        weights = F.lit(1)
    per_src = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"), F.first(weights).alias("wt"))
    tot = per_src.agg(F.sum("n_docs").alias("total"), F.sum("wt").alias("wsum"))
    quotas = per_src.crossJoin(F.broadcast(tot)).select(
        source_col, "n_docs", "wt",
        F.floor(frac * F.col("total") * F.col("wt") / F.col("wsum")).alias("quota"),
    )
    h28 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10).cast("long")
    # decimal(38,0) arithmetic: h28 (up to 2^28) times a >2^35-row
    # source count overflows int64 and the keep test inverts pseudo-
    # randomly (review r4) — exactly the corpus sizes this module
    # claims; DuckDB mirrors in int128 natively
    kept = (
        df.join(F.broadcast(quotas.select(source_col, "n_docs", "quota")), source_col)
        .filter(h28.cast("decimal(38,0)") * F.col("n_docs")
                < F.col("quota").cast("decimal(38,0)") * F.lit(1 << 28))
        .drop("n_docs", "quota")
    )
    return kept, quotas
