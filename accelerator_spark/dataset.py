"""Dataset: a Parquet directory + JSON manifest.

The reference's dataset is a pickled metadata dict + one gzip file per
(column, slice), hash- or roundrobin-sliced, chained via ``previous``
(/root/reference/accelerator/dataset.py:55-88, 428-441, 1321-1386).

Our mapping (SURVEY.md §1):
- column files / slices   -> Parquet (columnar, splittable); Spark tasks
                             replace the fixed slice count.
- hashlabel               -> ``repartition(n, col)`` before write, recorded
                             in the manifest so downstream steps know the
                             co-partitioning contract.
- previous / chain        -> ``previous`` pointer in the manifest;
                             ``chain()`` resolves it, ``chain_df()`` is the
                             union-of-chain read (SURVEY §2.5).
- per-column min/max      -> computed in the SAME Spark job as the write
                             (one extra agg) and stored in the manifest;
                             Parquet row-group stats additionally give
                             zone-map skipping for free at scan time.
- lines per slice         -> total row count (partition counts are Spark's
                             business; order is preserved by an explicit
                             ``lineno`` column when callers need it,
                             SURVEY §7.4).

At 100 TB: a Dataset is just a directory of Parquet files — reads are
distributed scans with predicate pushdown and column pruning; nothing here
ever collects data to the driver (min/max is a 1-row agg).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from datetime import date, datetime
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from .identifiers import qcol as _qcol, quote_ident
from .operators.observe import observed

MANIFEST_NAME = "dataset.json"
LINENO = "lineno"  # conventional ingest-order column (SURVEY §7.4)

# columns whose min/max we track (matches the reference tracking everything
# orderable — accelerator/dataset.py:875-897)
_MINMAX_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz", "string", "boolean",
}


def _json_safe(v: Any) -> Any:
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, float) and (v != v):  # NaN
        return "NaN"
    return v


# Chain-resolution cache (reference checkpoints chain metadata every 64
# links — accelerator/dataset.py:955-961 — so resolving a years-long
# chain is O(1)-ish). ``chain_cache`` holds entries for the most recent
# len(cache) ancestors (path + the metadata chain_df needs: lines,
# minmax zone maps, whether df() is a plain parquet read, and the
# ``schema_id`` that groups plain links into one scan). Every
# _CHAIN_CHECKPOINT_EVERY-th link is a CHECKPOINT holding its full
# ancestry (capped at _CHAIN_CACHE_MAX); links in between hold only the
# suffix back to the last checkpoint, so total metadata stays O(N) per
# chain (a full list in every manifest would be O(N^2) — review r4).
# Resolution consumes the tip's suffix, then hops checkpoint to
# checkpoint: O(1 + depth/_CHAIN_CACHE_MAX) manifest reads. Appending
# is O(1) at write time except at checkpoints. Every manifest with a
# ``previous`` carries ``chain_depth`` and a non-empty ``chain_cache``;
# ``Dataset.load`` refuses one that does not.
#
# IMMUTABILITY: cached entries snapshot the ancestor's manifest at
# write time (the reference's datasets are immutable job outputs).
# Rewriting an ancestor dataset IN PLACE leaves descendants' cached
# lines/minmax/plain stale; ``chain()`` re-reads manifests and verifies
# linkage (self-healing), while ``chain_entries``/``chain_df`` trust
# the snapshot for speed.
_CHAIN_CACHE_MAX = 4096
_CHAIN_CHECKPOINT_EVERY = 64


def _chain_entry(path: str, manifest: dict) -> dict:
    # string min/max can be arbitrarily long (document text columns) and
    # each entry is replicated into descendants' caches — bound them
    # CONSERVATIVELY (review r4): a prefix of min is <= min, so the
    # "min >= hi" skip stays sound; a truncated max cannot bound above,
    # so that side is dropped (no skip — correct, just less pruning).
    mm = {}
    for c, pair in (manifest.get("minmax") or {}).items():
        mn, mx = (pair or [None, None])[:2]
        if isinstance(mn, str) and len(mn) > 64:
            mn = mn[:64]
        if isinstance(mx, str) and len(mx) > 64:
            mx = None
        mm[c] = [mn, mx]
    entry = {
        "path": path,
        "id": manifest.get("id"),
        "lines": manifest.get("lines", 0),
        "minmax": mm,
        "plain": not (manifest.get("parent") or manifest.get("bucketing")),
    }
    if manifest.get("schema"):
        entry["schema_id"] = _schema_id(manifest["schema"])
    return entry


def _chain_meta(previous: "Dataset | str | None") -> dict:
    """chain_depth + chain_cache fields for a manifest being written."""
    if not previous:
        return {"chain_depth": 0}
    prev = previous if isinstance(previous, Dataset) else Dataset.load(previous)
    pm = prev.manifest
    # a chain root has depth 0 whether or not its manifest says so
    depth = pm.get("chain_depth", 0) + 1
    # suffix of the NEW dataset's ancestry we have in hand for free
    known = [*pm.get("chain_cache", []), _chain_entry(prev.path, pm)]
    if depth % _CHAIN_CHECKPOINT_EVERY == 0:
        need = min(depth, _CHAIN_CACHE_MAX)
        if len(known) < need:
            # only the newest `need` entries are kept: bounded resolve,
            # not the whole ancestry (review r4 — O(depth) per
            # checkpoint write past the cap)
            known = prev.chain_entries(length=need)
        cache = known[-need:]
    else:
        keep = min(depth % _CHAIN_CHECKPOINT_EVERY, _CHAIN_CACHE_MAX)
        cache = known[-keep:]
    return {"chain_depth": depth, "chain_cache": cache}


def _schema_meta(schema) -> dict:
    """The manifest's ``columns`` map of a schema."""
    return {"columns": {f_.name: f_.dataType.simpleString() for f_ in schema.fields}}


def _as_nullable(t: DataType) -> DataType:
    """``t`` as Spark reads it back from parquet: every struct field,
    array element and map value nullable, at every depth."""
    if isinstance(t, StructType):
        return StructType([StructField(f_.name, _as_nullable(f_.dataType),
                                       True, f_.metadata) for f_ in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _schema_id(schema_json: str) -> str:
    """Short id of a manifest ``schema``: equal ids, one scan."""
    return hashlib.sha1(schema_json.encode()).hexdigest()[:12]


def _scan(spark: SparkSession, schema_json: str | None,
          *data_dirs: str) -> DataFrame:
    """Read parquet dirs with the manifest's schema; without one (a
    manifest written before it was kept) Spark infers it, one job."""
    reader = spark.read
    if schema_json:
        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    return reader.parquet(*data_dirs)


def _write_observed(df: DataFrame, path: str, mm_cols: list[str],
                    write) -> tuple[int, dict]:
    """Run ``write(observed_df)`` and return the manifest stats — line
    count and per-column [min, max] of ``mm_cols`` — observed in the
    write job itself: ONE scan, not write-then-rescan (at 100 TB a
    read-back agg pass doubled every write's IO).

    The existing manifest is removed BEFORE the data is replaced: a
    crash between the data overwrite and the manifest dump used to leave
    the OLD manifest describing the NEW files, whose stale zone maps
    silently skipped matching rows (review r4/r5). A missing manifest is
    a loud, recoverable state. Every writer goes through here, so the
    rule cannot drift between them."""
    metrics = {"__lines__": F.count(F.lit(1))}
    for c in mm_cols:
        metrics[f"__min_{c}"] = F.min(_qcol(c))
        metrics[f"__max_{c}"] = F.max(_qcol(c))
    tallied, obs = observed(df, "write", **metrics)
    old_manifest = os.path.join(path, MANIFEST_NAME)
    if os.path.exists(old_manifest):
        os.remove(old_manifest)
    write(tallied)
    row = obs.get
    return row["__lines__"], {
        c: [_json_safe(row[f"__min_{c}"]), _json_safe(row[f"__max_{c}"])]
        for c in mm_cols}


def _minmax_cols(df: DataFrame, skip: str | None = None) -> list[str]:
    return [f_.name for f_ in df.schema.fields
            if f_.name != skip and f_.dataType.simpleString() in _MINMAX_TYPES]


def _valid_table_name(table: str) -> None:
    """Spark's catalog only accepts [A-Za-z0-9_] table names: a
    backtick fails identifier analysis even correctly escaped
    (INVALID_ATTRIBUTE_NAME_SYNTAX) and anything else — dots included —
    fails INVALID_SCHEMA_OR_RELATION_NAME even inside a quoted
    single-part name. One clear error at the boundary instead of a
    deep analyzer failure (ADVICE r4 + review r5)."""
    if not re.fullmatch(r"\w+", table, re.ASCII):
        raise ValueError(
            f"bucketed table name {table!r} is not a valid Spark "
            "catalog name (only letters, digits and _ are accepted)")


def _same_path(a: str | None, b: str | None) -> bool:
    """Path equality for chain links / stop_ds: manifests store paths
    verbatim (datasets stay relocatable), so compare normalized
    absolute forms — './ds1' vs 'ds1' vs a trailing slash must not
    silently defeat stop_ds or chain verification (review r4)."""
    if a is None or b is None:
        return a == b
    return (os.path.normpath(os.path.abspath(a))
            == os.path.normpath(os.path.abspath(b)))


# manifest column type -> the class whose fromisoformat reads back the
# isoformat min/max that _json_safe stored for it
_TEMPORAL_TYPES = {"date": date, "timestamp": datetime,
                   "timestamp_ntz": datetime}


def _entry_range_skips(minmax: dict, range_filter: dict[str, tuple[Any, Any]],
                       types: dict[str, str]) -> bool:
    """True if cached [min,max] proves no row of the dataset matches.

    ``types`` is the manifest's ``columns`` map. Date and timestamp
    bounds compare as parsed values, not strings: a bound written
    '2024-01-01 12:00:00' (a form Spark casts) sorts below the stored
    '2024-01-01T06:00:00'. A pair that cannot be parsed or compared
    never skips."""
    for c, (lo, hi) in range_filter.items():
        mn, mx = (minmax.get(c) or [None, None])[:2]
        if mn is None and mx is None:
            continue
        try:
            if types.get(c) in _TEMPORAL_TYPES:
                parse = _TEMPORAL_TYPES[types[c]].fromisoformat
                mn, mx, lo, hi = (parse(v) if isinstance(v, str) else v
                                  for v in (mn, mx, lo, hi))
            if hi is not None and mn is not None and mn >= hi:
                return True
            if lo is not None and mx is not None and mx < lo:
                return True
        except (TypeError, ValueError):
            continue
    return False


def _range_filtered(df: DataFrame,
                    range_filter: dict[str, tuple[Any, Any]] | None
                    ) -> DataFrame:
    """Keep rows with lo <= col < hi for each ``{col: (lo, hi)}``; a
    None bound is open."""
    for c, (lo, hi) in (range_filter or {}).items():
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) < F.lit(hi))
    return df


@dataclass
class Dataset:
    """Handle to a written dataset. Cheap; holds no data."""

    path: str
    manifest: dict[str, Any] = field(default_factory=dict)

    # -- loading ---------------------------------------------------------
    @classmethod
    def load(cls, path: str) -> "Dataset":
        with open(os.path.join(path, MANIFEST_NAME)) as f:
            manifest = json.load(f)
        # chain_entries trusts the chain cache; a linked manifest
        # without one would silently end its chain at this link
        if manifest.get("previous") and not (
                manifest.get("chain_depth") and manifest.get("chain_cache")):
            raise ValueError(
                f"dataset manifest {os.path.join(path, MANIFEST_NAME)} has "
                "previous= but no chain_depth/chain_cache; rewrite the "
                "dataset to link it")
        return cls(path=path, manifest=manifest)

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, MANIFEST_NAME))

    # -- writing ---------------------------------------------------------
    @classmethod
    def _commit(cls, path: str, caption: str,
                previous: "Dataset | str | None", fields: dict) -> "Dataset":
        """Fill the keys every manifest carries around the writer's own
        ``fields``, dump it and return the handle. The dump is atomic
        (tmp file + os.rename): a concurrent reader sees either the old
        or the new complete manifest, never half of one (review r4)."""
        manifest = {
            "version": 1,
            "id": uuid.uuid4().hex,
            "created": time.time(),
            "caption": caption,
            "previous": previous.path if isinstance(previous, Dataset) else previous,
            **fields,
            **_chain_meta(previous),
        }
        os.makedirs(path, exist_ok=True)
        dest = os.path.join(path, MANIFEST_NAME)
        with open(dest + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1, default=_json_safe)
        os.rename(dest + ".tmp", dest)
        return cls(path=path, manifest=manifest)

    @classmethod
    def write(
        cls,
        df: DataFrame,
        path: str,
        hashlabel: str | None = None,
        previous: "Dataset | str | None" = None,
        caption: str = "",
        partitions: int | None = None,
        filename: str | None = None,
    ) -> "Dataset":
        """Write ``df`` as a dataset.

        ``hashlabel`` repartitions on that column first — the analog of the
        reference's hash split writers (accelerator/dataset.py:1362-1368).
        The co-partitioning *contract* (same hashlabel => no shuffle for a
        per-key op) is honored by Spark when the downstream op keys on the
        same column: the exchange is reused or AQE elides it.

        The manifest's ``schema`` is ``df.schema`` as parquet reads it
        back (all nullable), so reads never re-infer it.
        """
        if hashlabel:
            if hashlabel not in df.columns:
                raise ValueError(f"hashlabel {hashlabel!r} not in columns {df.columns}")
            n = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            df = df.repartition(n, F.col(hashlabel))
        elif partitions:
            df = df.repartition(partitions)

        data_dir = os.path.join(path, "data")
        lines, minmax = _write_observed(
            df, path, _minmax_cols(df),
            lambda d: d.write.mode("overwrite").parquet(data_dir))
        schema = _as_nullable(df.schema)
        return cls._commit(path, caption, previous, {
            "filename": filename,
            "hashlabel": hashlabel,
            **_schema_meta(schema),
            "schema": schema.json(),
            "lines": lines,
            "minmax": minmax,
        })

    @classmethod
    def write_bucketed(
        cls,
        df: DataFrame,
        path: str,
        table: str,
        bucket_col: str,
        n_buckets: int = 32,
        previous: "Dataset | str | None" = None,
        caption: str = "",
    ) -> "Dataset":
        """Write with PERSISTED bucketing — the durable form of the
        reference's hashlabel contract (accelerator/dataset.py:1362-1368;
        SURVEY §4 "hash co-partitioning"). ``Dataset.write(hashlabel=)``
        co-partitions for ONE step; each later same-key join or groupBy
        still re-shuffles, because plain parquet carries no layout
        metadata. ``bucketBy`` records the layout in the catalog: every
        downstream join/agg on ``bucket_col`` between tables bucketed the
        same way runs with ZERO exchanges on either side (plan-tested).
        At 100 TB this is the difference between shuffling the fact table
        once at write time and shuffling it in every pipeline step.

        The catalog entry is per-session (in-memory catalog); the layout
        itself lives in the files + manifest, and ``register_bucketed``
        re-creates the table entry in a fresh session from the manifest
        alone.
        """
        # Spark's catalog only accepts [A-Za-z0-9_] table names — a
        # backtick fails identifier analysis even correctly escaped and
        # a dot fails INVALID_SCHEMA_OR_RELATION_NAME even inside a
        # quoted single-part name. Fail clearly up front. The quoted
        # form is still used below so the name is always parsed as ONE
        # identifier, never database.table.
        _valid_table_name(table)
        quoted = quote_ident(table)
        data_dir = os.path.join(path, "data")
        lines, _ = _write_observed(
            df, path, [],
            lambda d: (d.write.mode("overwrite").format("parquet")
                       .bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
                       .option("path", data_dir).saveAsTable(quoted)))
        written = df.sparkSession.table(quoted)
        return cls._commit(path, caption, previous, {
            "filename": None,
            "hashlabel": bucket_col,
            "bucketing": {"table": table, "col": bucket_col, "n": n_buckets},
            **_schema_meta(written.schema),
            "lines": lines,
            "minmax": {},
        })

    @classmethod
    def write_overlay(
        cls,
        path: str,
        parent: "Dataset | str",
        new_cols: DataFrame | None = None,
        key: str | None = None,
        virtual: dict[str, str] | None = None,
        exclude: list[str] | tuple = (),
        caption: str = "",
        previous: "Dataset | str | None" = None,
    ) -> "Dataset":
        """Zero-copy column overlay — the reference's ``parent=`` /
        ``link_to_here`` (accelerator/dataset.py:864-941, 292-327,
        1132-1148): create a dataset that adds, overrides, or drops
        columns WITHOUT rewriting the parent's files.

        - ``new_cols`` (requires ``key``): a DataFrame of ``key`` + the
          added/overridden columns. ONLY these columns are written; at
          read time they join back to the parent on ``key`` (write the
          parent and the overlay with the same hashlabel/bucketing on
          ``key`` and the join co-partitions). A column name that
          already exists in the parent SHADOWS it, like link overrides.
        - ``virtual``: {name: sql_expr} columns evaluated at scan time —
          zero bytes written, the overlay is pure manifest.
        - ``exclude``: parent columns hidden from the overlay dataset
          (the reference's column discard without copy).

        At 100 TB: adding one column to a wide fact table writes that
        one column, not the table. The parent's files are byte-identical
        afterwards (tested)."""
        parent_ds = parent if isinstance(parent, Dataset) else Dataset.load(parent)
        overlay_meta: dict[str, Any] = {}
        new_col_types: dict[str, str] = {}
        mm = {}
        if new_cols is not None:
            if not key:
                raise ValueError("write_overlay with new_cols requires key=")
            if key not in new_cols.columns:
                raise ValueError(f"key {key!r} not in new_cols {new_cols.columns}")
            # fail BEFORE the write, not at first read (review r4): the
            # read path joins back to the parent on the key, so a key
            # absent from the parent (or hidden by exclude) makes every
            # later df() raise after the write cost was already paid
            if key not in parent_ds.columns:
                raise ValueError(
                    f"overlay key {key!r} not in parent columns "
                    f"{sorted(parent_ds.columns)}")
            if key in exclude:
                raise ValueError(
                    f"overlay key {key!r} cannot be in exclude= — the "
                    "read-time join needs it")
            data_dir = os.path.join(path, "data")
            _, mm = _write_observed(
                new_cols, path, _minmax_cols(new_cols, skip=key),
                lambda d: d.write.mode("overwrite").parquet(data_dir))
            # the schema of data/, kept so df() reads it without inference
            schema = _as_nullable(new_cols.schema).json()
            # duplicate overlay keys would multiply rows at read time
            # while the manifest claims the parent's line count — refuse
            # (tiny agg over the just-written overlay columns only)
            chk = _scan(new_cols.sparkSession, schema, data_dir).agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col(key)).alias("nd"),
                F.count(F.when(F.col(key).isNull(), 1)).alias("nnull"),
            ).collect()[0]
            if chk["nd"] + chk["nnull"] != chk["n"]:
                raise ValueError(
                    f"write_overlay: new_cols key {key!r} is not unique "
                    f"({chk['n']} rows, {chk['nd']} distinct non-null + "
                    f"{chk['nnull']} null) — a read-time join would "
                    "multiply rows")
            new_col_types = {
                f_.name: f_.dataType.simpleString()
                for f_ in new_cols.schema.fields if f_.name != key}
            overlay_meta = {"key": key, "cols": list(new_col_types),
                            "schema": schema}
        shadowed = set(new_col_types) | set(exclude)
        resolved = {c: t for c, t in parent_ds.columns.items()
                    if c not in shadowed}
        resolved.update(new_col_types)
        for name in (virtual or {}):
            resolved[name] = "expr"
        return cls._commit(path, caption, previous, {
            "filename": None,
            # an overlay that SHADOWS or excludes the hashlabel column
            # invalidates the parent's co-partitioning claim (the values
            # come from the join, not the parent's hash layout)
            "hashlabel": (parent_ds.hashlabel
                          if parent_ds.hashlabel not in shadowed else None),
            "parent": parent_ds.path,
            "overlay": overlay_meta,
            "virtual": virtual or {},
            "exclude": list(exclude),
            "columns": resolved,
            "lines": parent_ds.lines,
            "minmax": mm,
        })

    def register_bucketed(self, spark: SparkSession) -> DataFrame:
        """Re-create the bucketed table entry from the manifest (needed
        once per new session — bucket layout is in the files, but Spark
        only TRUSTS it via a catalog entry). Idempotent — but NOT
        trusting: an existing entry with this name must actually point
        at THIS dataset's files. tableExists also matches temp views,
        so a same-named view (or another bucketed dataset reusing the
        name) used to be returned silently instead of this dataset's
        data (review r4)."""
        b = self.manifest.get("bucketing")
        if not b:
            raise ValueError(f"dataset at {self.path} was not written bucketed")
        data_dir = os.path.join(self.path, "data")
        # a table named a`b used to break out of the CREATE TABLE quotes
        # (ADVICE r4); the catalog itself rejects non-\w names (see
        # write_bucketed), so a hand-edited manifest gets a clear error
        # here instead of an injection or a deep analyzer failure.
        _valid_table_name(b["table"])
        # tableExists/spark.table PARSE their argument as a (possibly
        # multipart) identifier — quoting keeps the name one identifier,
        # never database.table
        quoted = quote_ident(b["table"])
        if spark.catalog.tableExists(quoted):
            rows = spark.sql(
                f"DESCRIBE FORMATTED {quoted}").collect()
            loc = next((r["data_type"] for r in rows
                        if (r["col_name"] or "").strip() == "Location"), None)
            # strip only a leading file: scheme — .replace() used to eat
            # the substring anywhere in the path (ADVICE r4)
            same = loc is not None and (
                os.path.normpath(re.sub(r"^file:(//)?", "", loc))
                == os.path.normpath(os.path.abspath(data_dir)))
            if not same:
                raise ValueError(
                    f"catalog name {b['table']!r} is already bound to "
                    f"{loc or 'a temp view'} — not this dataset's "
                    f"{data_dir}; drop it or rewrite with a distinct "
                    "table name")
        else:
            cols = ", ".join(
                f"{quote_ident(c)} {t}"
                for c, t in self.manifest["columns"].items()
            )
            bcol = quote_ident(b["col"])
            spark.sql(
                f"CREATE TABLE {quoted} ({cols}) USING parquet "
                f"CLUSTERED BY ({bcol}) SORTED BY ({bcol}) "
                f"INTO {b['n']} BUCKETS "
                f"LOCATION '{data_dir.replace(chr(39), chr(39) * 2)}'"
            )
        return spark.table(quoted)

    # -- reading ---------------------------------------------------------
    def df(self, spark: SparkSession) -> DataFrame:
        parent = self.manifest.get("parent")
        if parent:
            return self._overlay_df(spark, parent)
        b = self.manifest.get("bucketing")
        if b:
            return self.register_bucketed(spark)
        return _scan(spark, self.manifest.get("schema"),
                     os.path.join(self.path, "data"))

    def _overlay_df(self, spark: SparkSession, parent: str) -> DataFrame:
        """Resolve a write_overlay dataset: parent scan + (optional)
        overlay-column join on the key + virtual expressions. Parent
        columns stream from the PARENT's files — never copied."""
        base = Dataset.load(parent).df(spark)
        ov = self.manifest.get("overlay") or {}
        exclude = set(self.manifest.get("exclude") or [])
        cols = [c for c in base.columns if c not in exclude]
        if ov.get("cols"):
            key = ov["key"]
            o = _scan(spark, ov.get("schema"),
                      os.path.join(self.path, "data"))
            shadowed = set(ov["cols"])
            cols = [c for c in cols if c not in shadowed]
            if key not in cols:
                raise ValueError(
                    f"overlay key {key!r} missing from parent columns")
            base = base.select(*cols).join(o, key, "left")
        else:
            base = base.select(*cols)
        for name, expr in (self.manifest.get("virtual") or {}).items():
            base = base.withColumn(name, F.expr(expr))
        return base

    # -- metadata --------------------------------------------------------
    @property
    def lines(self) -> int:
        return self.manifest.get("lines", 0)

    @property
    def hashlabel(self) -> str | None:
        return self.manifest.get("hashlabel")

    @property
    def columns(self) -> dict[str, str]:
        return self.manifest.get("columns", {})

    def min(self, col: str) -> Any:
        return self.manifest.get("minmax", {}).get(col, [None, None])[0]

    def max(self, col: str) -> Any:
        return self.manifest.get("minmax", {}).get(col, [None, None])[1]

    # -- chains (reference: accelerator/dataset.py:428-446) --------------
    @property
    def previous(self) -> "Dataset | None":
        p = self.manifest.get("previous")
        return Dataset.load(p) if p else None

    def chain_entries(self, length: int = -1,
                      stop_ds: "Dataset | str | None" = None) -> list[dict]:
        """Resolve the ``previous`` chain as lightweight cached entries
        (path, id, lines, minmax, plain), oldest first, using the
        manifest chain cache: consume the tip's suffix, then hop
        checkpoint to checkpoint — O(1 + depth/_CHAIN_CACHE_MAX)
        manifest reads instead of one per link (reference checkpoints
        the same metadata every 64 links —
        accelerator/dataset.py:955-961). Entries snapshot each
        ancestor's manifest at write time — see the immutability note
        on the cache constants; ``chain()`` re-verifies against live
        manifests."""
        stop = stop_ds.path if isinstance(stop_ds, Dataset) else stop_ds
        if (stop and _same_path(self.path, stop)) or length == 0:
            return []
        rev: list[dict] = [_chain_entry(self.path, self.manifest)]
        cur = self
        while (length < 0 or len(rev) < length) and \
                cur.manifest.get("previous"):
            cache = cur.manifest["chain_cache"]
            done = False
            for e in reversed(cache):
                if (length >= 0 and len(rev) >= length) or \
                        (stop and _same_path(e["path"], stop)):
                    done = True
                    break
                rev.append(dict(e))
            if done or cur.manifest["chain_depth"] == len(cache):
                break  # limit hit, or cache covered the whole ancestry
            # ancestry extends beyond cache[0] (suffix segment or capped
            # checkpoint): hop to the oldest cached dataset — its entry
            # is already in rev — and continue consuming ITS cache
            cur = Dataset.load(cache[0]["path"])
        rev.reverse()
        return rev

    def chain(self, length: int = -1, stop_ds: "Dataset | str | None" = None) -> list["Dataset"]:
        """Resolve the ``previous`` chain, newest last (matching the
        reference's iteration order: oldest dataset first). Returns full
        ``Dataset`` handles — one manifest read each; use
        ``chain_entries`` / ``chain_df`` when only chain metadata or the
        unioned frame is needed (those stay O(1)-ish in reads).

        Self-healing: because the handles re-read live manifests, the
        cached resolution is verified against actual ``previous``
        linkage — if an ancestor was rewritten in place (cache entries
        are write-time snapshots), the eager walk re-resolves."""
        entries = self.chain_entries(length=length, stop_ds=stop_ds)
        out = [self if e["path"] == self.path else Dataset.load(e["path"])
               for e in entries]
        ok = all(
            _same_path(out[i + 1].manifest.get("previous"), out[i].path)
            and (entries[i].get("id") is None
                 or entries[i]["id"] == out[i].manifest.get("id"))
            for i in range(len(out) - 1))
        if ok:
            return out
        # snapshot/live mismatch: eager link-by-link walk (the pre-cache
        # behavior), correct for any live chain shape
        stop = stop_ds.path if isinstance(stop_ds, Dataset) else stop_ds
        walk: list[Dataset] = []
        cur: Dataset | None = self
        while cur is not None and (length < 0 or len(walk) < length):
            if stop and _same_path(cur.path, stop):
                break
            walk.append(cur)
            cur = cur.previous
        walk.reverse()
        return walk

    def chain_df(
        self,
        spark: SparkSession,
        length: int = -1,
        stop_ds: "Dataset | str | None" = None,
        range_filter: dict[str, tuple[Any, Any]] | None = None,
        allow_missing_columns: bool = False,
    ) -> DataFrame:
        """Union-of-chain read (the reference's ``iterate_chain``,
        accelerator/dataset.py:443-446): one parquet scan per schema.

        Plain links (no overlay/bucketing) that share a manifest
        ``schema`` are read together by one multi-path scan with that
        schema, so building the frame runs no Spark job whatever the
        chain length. Each other link (overlay, bucketed, or a manifest
        without ``schema``) is read on its own. The parts are combined
        by ``unionByName`` in the order of each part's oldest link, so
        column order and type widening follow the oldest link first.
        Row order across links is unspecified; sort by ``lineno``
        (``with_lineno``) for ingest order.

        ``range_filter={col: (lo, hi)}`` keeps lo <= col < hi AND skips
        whole datasets whose manifest [min,max] misses the range — the
        reference's zone-map skip (accelerator/dataset.py:609-614). Spark's
        parquet row-group stats then skip inside surviving datasets.

        ``allow_missing_columns=True`` opts into schema evolution across
        the chain: a batch that ADDED a column unions with older batches,
        which read NULL for it (the reference requires identical columns;
        this is new surface for long-lived ingest chains whose feed grows
        fields)."""
        entries = self.chain_entries(length=length, stop_ds=stop_ds)
        if range_filter:
            entries = [e for e in entries
                       if not _entry_range_skips(e["minmax"], range_filter,
                                                 self.columns)]
        if not entries:
            return self.df(spark).limit(0)
        # group plain links by schema_id (keys keep oldest-link order);
        # any other link is a part of its own, keyed by its position
        parts: dict[Any, list[dict]] = {}
        for i, e in enumerate(entries):
            key = e.get("schema_id") if e["plain"] else None
            parts.setdefault(key or i, []).append(e)
        tip_schema = self.manifest.get("schema")
        tip_id = tip_schema and _schema_id(tip_schema)

        def read(part: list[dict]) -> DataFrame:
            e = part[-1]
            if not e["plain"]:
                return (self if e["path"] == self.path
                        else Dataset.load(e["path"])).df(spark)
            # the tip's schema, else one manifest load per other schema
            schema = None
            if e.get("schema_id"):
                schema = (tip_schema if e["schema_id"] == tip_id
                          else Dataset.load(e["path"]).manifest.get("schema"))
            return _scan(spark, schema,
                         *(os.path.join(x["path"], "data") for x in part))

        dfs = [read(part) for part in parts.values()]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=allow_missing_columns)
        return _range_filtered(out, range_filter)

    def iterate(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        filters=None,
        range_filter: dict[str, tuple[Any, Any]] | None = None,
    ) -> DataFrame:
        """The single-dataset ``iterate`` surface (SURVEY §2.2) as a
        DataFrame recipe: projection + filter + range, all pushed to the
        scan by Catalyst."""
        df = _range_filtered(self.df(spark), range_filter)
        if filters is not None:
            df = df.filter(filters)
        if columns:
            df = df.select(*columns)
        return df


def with_lineno(df: DataFrame, col: str = LINENO) -> DataFrame:
    """Attach a monotonically increasing ingest-order id. Not densely
    sequential (per-partition blocks), but strictly ordered within a
    partition and unique — sufficient for stable sort keys and
    original-order recovery (SURVEY §7.4)."""
    return df.withColumn(col, F.monotonically_increasing_id())
