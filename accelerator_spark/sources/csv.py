"""CSV import/export.

Reference: ``csvimport`` (/root/reference/accelerator/standard_methods/
a_csvimport.py:58-183 + C backend csvimport.py) produces an all-bytes
dataset plus optional ``bad`` (lineno, data) and ``skipped`` datasets;
``csvexport`` (a_csvexport.py:38-228) writes datasets/chains back with
quoting / none_as / sliced options. Corner-case semantics ported from the
reference's own tests (test_methods/a_test_csvimport_separators.py,
a_test_csvimport_corner_cases.py):

- ANY single iso-8859-1 byte is a valid separator (0x00-0xFF) — pass
  ``encoding="iso-8859-1"`` for non-UTF8 bytes;
- ``quotes``: None (quotes are ordinary data), a single char, or True
  (EITHER ' or " allowed per field). Escape inside a quoted field is
  quote doubling. A field that STARTS with a quote must close it and be
  followed by the separator or end-of-line — otherwise the line is bad;
- ``allow_bad``: wrong field count or malformed quoting routes the raw
  line to the ``bad`` dataset; without it the import RAISES (the
  reference fails the job);
- ``comment`` / ``skip_lines`` / ``skip_empty_lines``: skipped rows are
  RETURNED as the ``skipped`` DataFrame;
- linenos are 1-based file positions (reference semantics);
- ``allow_extra_empty``: trailing empty fields/labels beyond the label
  count are tolerated and trimmed.

Spark-first mapping (SURVEY §2.1):
- standard separators -> ``spark.read.csv`` with an all-StringType schema
  (typing is a separate pass, exactly like the reference — SURVEY §1.2);
- the corner-case menu (bad capture / comments / both-quote-kinds /
  linenos) -> a distributed text scan + a tokenizer that ports the
  reference's C state machine (csvimport.py). The tokenizer runs as an
  Arrow-batched ``mapInPandas`` ONLY when quote parsing is requested —
  it is the exotic path, the hot path stays JVM-side;
- non-UTF8 text-path files read through the shared file stage
  (sources/shards.py) + per-file line split (a file is never split —
  same as the reference, which is single-node; the UTF-8 path is a
  fully splittable distributed scan).

Scale: the UTF-8 text path is a distributed file scan. Line numbers are
computed WITHOUT a global sort: ``monotonically_increasing_id`` encodes
(partition_index << 33) + in-partition ordinal for a fresh file scan, so
the dense file-order lineno is ``in-partition ordinal + cumulative count
of earlier partitions``. The only global op is a window over the
per-partition-counts frame (one row per input split — a few thousand
rows at 100 TB), then a broadcast join back. No single-task sort of the
data.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..identifiers import qcol, quote_ident
from . import shards

_LINES_SCHEMA = T.StructType([
    T.StructField("_path", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("_in_file", T.LongType()),
])


@dataclass
class CsvImportResult:
    """Mirrors the reference's outputs: default + bad + skipped."""

    default: DataFrame
    bad: DataFrame | None = None
    skipped: DataFrame | None = None


class CsvImportError(ValueError):
    """Raised on bad lines without ``allow_bad`` (the reference fails
    the whole job: csvimport.py 'Failed to parse')."""


def _tokenize(line: str, sep: str, qchars: str):
    """Port of the reference tokenizer semantics (C csvimport field
    scanner): returns the field list, or None if the line has malformed
    quoting. A field starting with a quote char must close (doubling
    escapes) and be immediately followed by the separator or EOL."""
    fields = []
    i, n = 0, len(line)
    while True:
        if qchars and i < n and line[i] in qchars:
            q = line[i]
            i += 1
            buf = []
            while True:
                if i >= n:
                    return None  # unterminated quote
                c = line[i]
                if c == q:
                    if i + 1 < n and line[i + 1] == q:
                        buf.append(q)
                        i += 2
                    else:
                        i += 1
                        break
                else:
                    buf.append(c)
                    i += 1
            if i < n and (not sep or not line.startswith(sep, i)):
                return None  # closing quote not followed by sep/EOL
            field = "".join(buf)
        else:
            j = line.find(sep, i) if sep else -1
            if j == -1:
                j = n
            field = line[i:j]
            i = j
        fields.append(field)
        if i >= n:
            return fields
        i += len(sep)  # consume separator
        if i >= n:  # trailing separator -> trailing empty field
            fields.append("")
            return fields


def _trim_extra_empty(fields: list[str], n: int) -> list[str]:
    if len(fields) > n and all(f == "" for f in fields[n:]):
        return fields[:n]
    return fields


def _reject_dup_labels(labels: list[str]) -> None:
    """The reference rejects duplicate labels at import time; silently
    continuing gives either ambiguous duplicate columns (text path) or
    Spark's silent a0/a1 renames (native reader) — both wrong
    (review r5)."""
    seen, dups = set(), []
    for l in labels:
        if l in seen:
            dups.append(l)
        else:
            seen.add(l)
    if dups:
        raise CsvImportError(f"duplicate labels {sorted(set(dups))!r} "
                             f"in label line {labels!r}")


def _driver_head_lines(spark: SparkSession, path: str, encoding: str,
                       newline: str, n: int) -> "list[str] | None":
    """Driver-side read of the first ``n`` lines in _read_lines' global
    order (files sorted by path; lines in file order) WITHOUT running a
    distributed job. The auto-header scan previously forced a full
    lineno pipeline over the entire input just to find the label line
    in the head (review r5). Returns None when the input is not plain
    local files (non-file scheme, unsupported codec) — callers fall
    back to the distributed scan, which stays the correctness path."""
    import bz2 as _bz2
    import gzip as _gzip
    import re as _re
    from urllib.parse import unquote as _unquote, urlparse as _urlparse

    try:
        files = sorted(spark.read.text(path).inputFiles())
    except Exception:
        return None
    if not files:
        return None
    enc = encoding or "utf-8"
    norm_enc = enc.lower().replace("-", "").replace("_", "")
    # single-byte-safe encodings ONLY (review r5b): for BOM/multi-byte
    # codecs (utf-16/32, utf-8-sig) newline.encode() embeds the BOM in
    # the separator (never matches -> whole file becomes one "line",
    # strict decode can still SUCCEED, and the fallback never fires)
    # and byte-wise \n search would split mid-character. Those inputs
    # take the distributed binaryFile path, which decodes first.
    if not (norm_enc in ("utf8", "ascii", "usascii", "latin1", "latin")
            or norm_enc.startswith("iso8859")
            or norm_enc.startswith("cp12")):
        return None
    # Spark's UTF-8 text reader substitutes invalid bytes rather than
    # failing; mirror that so the head probe can't diverge on them
    errors = "replace" if norm_enc in ("utf8", "ascii", "usascii") \
        else "strict"
    out: list[str] = []
    for uri in files:
        if not uri.startswith("file:"):
            return None
        fp = _unquote(_urlparse(uri).path)
        if fp.endswith(".gz"):
            opener = _gzip.open
        elif fp.endswith(".bz2"):
            opener = _bz2.open
        elif _re.search(r"\.(zst|zstd|lz4|snappy|deflate|xz|br)$", fp):
            return None  # codec the driver can't stream — fall back
        else:
            opener = open
        sep = newline.encode(enc) if newline else None
        try:
            with opener(fp, "rb") as fh:
                buf = b""
                eof = False
                while len(out) < n:
                    if not eof:
                        chunk = fh.read(1 << 20)
                        if chunk:
                            buf += chunk
                        else:
                            eof = True
                    while len(out) < n:
                        if sep is not None:
                            i = buf.find(sep)
                            if i < 0:
                                break
                            out.append(buf[:i].decode(enc, errors))
                            buf = buf[i + len(sep):]
                        else:
                            m = _re.search(rb"\r\n|\n|\r", buf)
                            if not m:
                                break
                            # a lone \r at buffer end may be half of a
                            # \r\n spanning the chunk boundary
                            if (not eof and m.group() == b"\r"
                                    and m.end() == len(buf)):
                                break
                            out.append(buf[:m.start()].decode(enc, errors))
                            buf = buf[m.end():]
                    if eof:
                        if buf and len(out) < n:
                            out.append(buf.decode(enc, errors))
                        break
        except (OSError, EOFError, UnicodeDecodeError, ValueError):
            # unreadable/corrupt/undecodable head: let the distributed
            # scan produce the real (possibly failing) answer
            return None
        if len(out) >= n:
            break
    return out[:n]


def _read_lines(spark: SparkSession, path: str, encoding: str,
                newline: str = "",
                keep_file_info: bool = False) -> DataFrame:
    """Lines DataFrame with 1-based dense file-order ``_lineno``.

    UTF-8: distributed text scan + per-split offset arithmetic (see
    module docstring). Other encodings: binaryFile + per-file decode
    (files are the parallel unit). ``newline``: custom record
    terminator (reference csvimport ``newline=`` — any byte); ""
    means universal (\n, \r\n, \r). ``keep_file_info`` also returns
    ``_path`` and the 1-based in-file ``_fline`` (multi-file header
    handling needs per-file positions)."""
    if encoding.lower().replace("-", "") in ("utf8", "ascii", "usascii"):
        reader = spark.read
        if newline:
            reader = reader.option("lineSep", newline)
        # per-(file, split) offset arithmetic: Spark packs splits into
        # partitions by SIZE DESCENDING, so with multiple input files
        # partition order is not path order (ADVICE r3) — and one
        # partition can hold splits of several files, so the in-
        # partition row index needs rebasing per (file, partition).
        # Linenos come out dense in (path, in-file) order, matching the
        # non-UTF8 binaryFile branch. The split-count frames below hold
        # one row per split / per file — broadcast-tiny at any scale.
        raw = reader.text(path).select(
            "value",
            F.input_file_name().alias("_path"),
            F.monotonically_increasing_id().alias("_mono"),
        )
        raw = raw.withColumn(
            "_pid", F.shiftright(F.col("_mono"), 33)
        ).withColumn(
            "_idx", F.col("_mono").bitwiseAND(F.lit((1 << 33) - 1))
        )
        counts = raw.groupBy("_path", "_pid").agg(
            F.count(F.lit(1)).alias("_n"), F.min("_idx").alias("_base"))
        w_in_file = (W.partitionBy("_path").orderBy("_pid")
                     .rowsBetween(W.unboundedPreceding, -1))
        counts = counts.withColumn(
            "_off_in", F.coalesce(F.sum("_n").over(w_in_file), F.lit(0)))
        file_tot = counts.groupBy("_path").agg(F.sum("_n").alias("_fn"))
        w_files = W.orderBy("_path").rowsBetween(W.unboundedPreceding, -1)
        file_off = file_tot.withColumn(
            "_foff", F.coalesce(F.sum("_fn").over(w_files), F.lit(0))
        ).select("_path", "_foff")
        offsets = (counts.join(file_off, "_path")
                   .select("_path", "_pid", "_base", "_off_in", "_foff"))
        out = (
            raw.join(F.broadcast(offsets), ["_path", "_pid"])
            .withColumn("_fline",
                        F.col("_idx") - F.col("_base") + F.col("_off_in") + 1)
            .withColumn("_lineno", F.col("_fline") + F.col("_foff"))
            .drop("_pid", "_idx", "_mono", "_off_in", "_foff", "_base")
        )
        return out if keep_file_info else out.drop("_path", "_fline")

    def _decode(path: str, data: bytes):
        import re

        text = data.decode(encoding)
        if newline:
            # custom terminator: \n etc. inside values is DATA
            lines = text.split(newline)
        else:
            lines = re.split("\r\n|\r|\n", text)
        if lines and lines[-1] == "":
            lines = lines[:-1]  # terminator after last line
        for i, line in enumerate(lines, 1):
            yield path, line, i

    per_file = shards.read_files(
        shards.list_files(spark, path, "*"), _LINES_SCHEMA, _decode)
    # globally dense linenos across files (path order), same offset
    # pattern as the UTF-8 branch — one row per FILE in the tiny frame
    counts = per_file.groupBy("_path").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_n").over(
                W.orderBy("_path").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0)),
    ).select("_path", "_off")
    out = (per_file.join(F.broadcast(offsets), "_path")
           .withColumn("_lineno", F.col("_in_file") + F.col("_off"))
           .withColumnRenamed("_in_file", "_fline")
           .drop("_off"))
    return out if keep_file_info else out.drop("_path", "_fline")


def _read_header(
    lines_head: list,
    separator: str,
    qchars: str,
    skip_lines: int,
    comment: str | None,
    skip_empty_lines: bool,
    allow_extra_empty: bool,
) -> tuple[list[str], int]:
    """Find the label line: first line after ``skip_lines`` that is not
    a comment/empty line. Tiny driver-side metadata op. Returns
    (labels, 1-based lineno_of_header)."""
    for i in range(skip_lines, len(lines_head)):
        v = lines_head[i]
        if comment is not None and v.startswith(comment):
            continue
        if skip_empty_lines and v == "":
            continue
        labels = (_tokenize(v, separator, qchars)
                  if separator or qchars else [v])
        if labels is None:
            raise CsvImportError(f"malformed quoting in label line: {v!r}")
        if allow_extra_empty:
            while labels and labels[-1] == "":
                labels.pop()
        if not labels:
            raise CsvImportError(f"label line has no labels: {v!r}")
        return labels, i + 1
    raise CsvImportError(f"no label line after skipping {skip_lines}")


def _jvm_split(body: DataFrame, separator: str, n: int,
               allow_extra_empty: bool) -> DataFrame:
    """JVM-side field split (+_ok field-count check) for lines that need
    no quote parsing. Columns in: value, _lineno; out: +_f, +_ok."""
    line = F.col("value")
    if separator == "":
        fields = F.array(line)
    else:
        # split with -1 limit keeps trailing empty fields
        fields = F.split(line, _rx_escape(separator), -1)
    body = body.withColumn("_f", fields)
    if allow_extra_empty:
        extras_ok = F.expr(
            f"size(_f) > {n} and "
            f"forall(slice(_f, {n + 1}, size(_f)), x -> x = '')")
        body = body.withColumn(
            "_f", F.when(extras_ok, F.slice("_f", 1, n))
                   .otherwise(F.col("_f")))
    return body.withColumn("_ok", F.size("_f") == n)


def csvimport(
    spark: SparkSession,
    path: str,
    separator: str = ",",
    labels: list[str] | None = None,
    quotes: str | bool | None = '"',
    comment: str | None = None,
    skip_lines: int = 0,
    skip_empty_lines: bool = False,
    allow_bad: bool = False,
    lineno_label: str | None = None,
    rename: dict[str, str] | None = None,
    discard: list[str] | None = None,
    strip_labels: bool = False,
    encoding: str = "utf-8",
    allow_extra_empty: bool = False,
    multiline: bool = False,
    newline: str = "",
) -> CsvImportResult:
    """Import CSV to an all-string DataFrame (+ bad/skipped capture).

    See module docstring for the full option menu and its reference
    parity. Without ``allow_bad``, a malformed/wrong-field-count line
    raises :class:`CsvImportError` on the text path; the NATIVE-reader
    fast path (plain separators, no bad/comment/skip options) surfaces
    Spark's own FAILFAST exception at action time instead — same
    fail-the-job contract, different exception type (documented
    divergence; wrap with allow_bad or an exotic option to get the
    text path's typed error)."""
    qchars = ("'\"" if quotes is True else (quotes or ""))
    exotic_quotes = quotes is True
    if multiline:
        # quoted fields may embed line terminators: records are no
        # longer line-delimited, so the text path cannot apply — the
        # native reader parses whole records (multiLine scans are
        # per-file parallel, not per-split; reference values cannot
        # contain the record terminator at all, so this is new surface)
        bad_opts = (allow_bad or comment is not None or skip_lines
                    or skip_empty_lines or lineno_label or exotic_quotes
                    or allow_extra_empty or len(separator) != 1)
        if bad_opts:
            raise ValueError(
                "multiline=True supports only the native reader options "
                "(single-char separator, single quote char, no bad/"
                "comment/skip/lineno capture)")
    use_text_path = (
        len(separator) != 1 or allow_bad or comment is not None
        or skip_lines or skip_empty_lines or lineno_label
        or exotic_quotes or allow_extra_empty
        or separator == "\\"  # univocity rejects backslash as sep
    )
    if not use_text_path:
        hdr = labels is None
        if labels is not None:
            # check the POST-STRIP form: ['a ', 'a'] strips to a
            # duplicate pair the raw check missed (review r5b; the text
            # path already checks after stripping)
            _reject_dup_labels([l.strip() for l in labels]
                               if strip_labels else labels)
        else:
            # best-effort duplicate-header rejection on the native
            # reader path, which otherwise SILENTLY renames dups to
            # a0/a1 (review r5): probe the first line of the first
            # file driver-side; non-local inputs skip the probe (the
            # text path and explicit labels stay fully checked)
            probe = _driver_head_lines(spark, path, encoding, newline, 1)
            if probe:
                hdr_labels = _tokenize(probe[0], separator, qchars) \
                    if separator or qchars else [probe[0]]
                if hdr_labels:
                    _reject_dup_labels([l.strip() for l in hdr_labels]
                                       if strip_labels else hdr_labels)
        reader = (
            spark.read.option("sep", separator)
            .option("quote", qchars or "\u0000")
            .option("escape", qchars or "\u0000")  # doubling, not backslash
            .option("charset", encoding)
            .option("header", hdr)
            .option("inferSchema", False)
            .option("multiLine", multiline)
            # malformed quoting fails too (univocity's default lenient
            # unescaped-quote recovery would silently import what the
            # text-path tokenizer marks bad)
            .option("unescapedQuoteHandling", "RAISE_ERROR")
            # reference contract: a wrong-field-count line FAILS the
            # import unless allow_bad (which routes to the text path) —
            # never silently pad/truncate
            .option("mode", "FAILFAST")
        )
        if newline:
            reader = reader.option("lineSep", newline)
        if labels:
            # embedded backticks escape by doubling, or the DDL breaks
            # (review r5; the text path handles these via alias())
            reader = reader.schema(
                ", ".join(f"{quote_ident(l)} string" for l in labels))
        df = reader.csv(path)
        # reference import is all-bytes: an empty field is "", never null
        df = df.select(*[
            F.coalesce(qcol(c), F.lit("")).alias(c)
            for c in df.columns])
        return CsvImportResult(default=_relabel(df, rename, discard, strip_labels))

    # ---- text fallback path (exact reference semantics) ----
    # multi-file auto-header imports need per-file line positions;
    # inputFiles() is a driver-side listing
    multi_file = (labels is None
                  and len(spark.read.text(path).inputFiles()) > 1)
    raw = _read_lines(spark, path, encoding, newline,
                      keep_file_info=multi_file)

    if labels is None:
        # scan cap: 10k lines of leading comments/blanks before the
        # label line. Head read driver-side when the input is plain
        # local files — the distributed fallback forced a FULL lineno
        # pipeline over the entire input just to find the header
        # (review r5); the fallback remains for remote/exotic inputs.
        head = _driver_head_lines(spark, path, encoding, newline,
                                  skip_lines + 10_000)
        if head is None:
            head = [r["value"] for r in
                    raw.orderBy("_lineno")
                    .limit(skip_lines + 10_000).collect()]
        labels, header_at = _read_header(
            head, separator, qchars, skip_lines, comment,
            skip_empty_lines, allow_extra_empty)
    else:
        header_at = None
    if strip_labels:
        labels = [l.strip() for l in labels]
    _reject_dup_labels(labels)

    line = F.col("value")
    skip_cond = F.col("_lineno") <= skip_lines
    if header_at is not None:
        skip_cond = skip_cond | (F.col("_lineno") == header_at)
        # Multi-FILE auto-header imports (globs/directories; beyond the
        # reference's one-file contract): EVERY file's header line is
        # skipped, identified by POSITION — the first non-comment/
        # non-empty line of each file — matching the native reader's
        # per-file header handling. (ADVICE r3 removed an unconditional
        # text-equality skip that ate identical data rows; review r4
        # showed equality also MISSED headers with different quoting or
        # label order — position, not text, is the right key. A later
        # file whose labels disagree with file 1's still lands its data
        # rows under file 1's labels, like the native reader.) The
        # per-file agg below is map-side combinable to one row per file.
        if multi_file:
            # skip_lines is a global (file-1) head skip: file 1 — where
            # _lineno == _fline — looks for its header after it, later
            # files from their first line
            cand = F.col("_fline") > F.when(
                F.col("_lineno") == F.col("_fline"),
                F.lit(skip_lines)).otherwise(F.lit(0))
            if comment is not None:
                cand = cand & ~line.startswith(comment)
            if skip_empty_lines:
                cand = cand & (line != "")
            hdrs = (raw.filter(cand)
                    .groupBy("_path")
                    .agg(F.min("_fline").alias("_hdr_line")))
            raw = raw.join(F.broadcast(hdrs), "_path", "left")
            skip_cond = skip_cond | (F.col("_fline") == F.col("_hdr_line"))
    if comment is not None:
        skip_cond = skip_cond | line.startswith(comment)
    if skip_empty_lines:
        skip_cond = skip_cond | (line == "")

    skipped = raw.filter(skip_cond).select(
        F.col("_lineno").alias("lineno"), F.col("value").alias("data")
    )
    body = raw.filter(~skip_cond).select("value", "_lineno")
    n = max(len(labels), 1)

    if qchars:
        # quote-aware tokenizer: the reference's C scanner, Arrow-batched.
        # Exotic path only — plain separators stay on the JVM split below.
        sep_, q_, n_, aee_ = separator, qchars, n, allow_extra_empty

        def _tok(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                out_fields, out_ok = [], []
                for v in pdf["value"]:
                    f_ = _tokenize(v, sep_, q_)
                    if f_ is not None and aee_:
                        f_ = _trim_extra_empty(f_, n_)
                    ok = f_ is not None and len(f_) == n_
                    out_fields.append(f_ if ok else None)
                    out_ok.append(ok)
                yield pd.DataFrame({
                    "value": pdf["value"], "_lineno": pdf["_lineno"],
                    "_f": pd.Series(out_fields, dtype=object),
                    "_ok": out_ok,
                })

        # HYBRID dispatch: a line with no quote char tokenizes exactly
        # like a plain split, so only quote-BEARING lines pay the Python
        # tokenizer; the common quote-free case stays JVM-side (whole-
        # stage codegen), keeping the hot path off Python even though
        # quotes default to '"'.
        has_quote = F.col("value").contains(qchars[0])
        for qc in qchars[1:]:
            has_quote = has_quote | F.col("value").contains(qc)
        quoted = body.filter(has_quote).mapInPandas(
            _tok,
            schema="value string, _lineno long, _f array<string>, _ok boolean")
        plain = _jvm_split(body.filter(~has_quote), separator, n,
                           allow_extra_empty)
        body = plain.unionByName(quoted)
    else:
        body = _jvm_split(body, separator, n, allow_extra_empty)

    good = body.filter(F.col("_ok"))
    bad_df = body.filter(~F.col("_ok")).select(
        F.col("_lineno").alias("lineno"), F.col("value").alias("data"))
    bad = None
    if allow_bad:
        bad = bad_df
    else:
        # reference without allow_bad fails the job on a bad line
        sample = bad_df.limit(1).collect()
        if sample:
            raise CsvImportError(
                f"bad line {sample[0]['lineno']}: {sample[0]['data']!r} "
                "(pass allow_bad=True to capture instead)")

    cols = [F.col("_f")[i].alias(labels[i]) for i in range(n)]
    out = [F.col("_lineno").alias(lineno_label)] if lineno_label else []
    default = good.select(*out, *cols)
    return CsvImportResult(
        default=_relabel(default, rename, discard, False),
        bad=bad,
        skipped=skipped,
    )


def _rx_escape(s: str) -> str:
    return "".join("\\" + c if c in r"\.[]{}()*+?^$|" else c for c in s)


def _relabel(df: DataFrame, rename, discard, strip) -> DataFrame:
    if strip:
        df = df.toDF(*[c.strip() for c in df.columns])
    if rename:
        for old, new in rename.items():
            df = df.withColumnRenamed(old, new)
    if discard:
        df = df.drop(*discard)
    return df


def csvexport(
    df: DataFrame,
    path: str,
    separator: str = ",",
    labels: list[str] | None = None,
    quote_all: bool = False,
    none_as: str | dict[str, str] | None = None,
    sliced: bool = False,
    gzip: bool = False,
    header: bool = True,
) -> None:
    """Export to CSV (a_csvexport.py:38-54 options).

    - ``labels``: column subset;
    - ``none_as``: global or per-column null replacement string
      (reference's per-label none_as map);
    - ``quote_all`` -> writer quoteAll (reference 'always'); default lazy
      quoting (reference 'lazy');
    - ``sliced=True`` -> one file per partition (reference's ``sliced=``
      %d-pattern files); else a single file via coalesce(1);
    - ``gzip`` -> gzip codec.
    """
    if labels:
        df = df.select(*labels)
    if none_as is not None:
        if isinstance(none_as, str):
            none_as = {c: none_as for c in df.columns}
        for c, s in none_as.items():
            df = df.withColumn(c, F.coalesce(F.col(c).cast("string"), F.lit(s)))
    if not sliced:
        df = df.coalesce(1)
    w = (
        df.write.mode("overwrite")
        .option("sep", separator)
        .option("header", header)
        .option("quoteAll", quote_all)
        # standard CSV quote-doubling, not backslash escapes — matches
        # csvimport's tokenizer and the reference's quoting
        .option("escape", '"')
        .option("emptyValue", "")
        # Spark's CSV WRITER trims leading/trailing whitespace by
        # default (unlike its reader) — a space-only cell exported as
        # empty, breaking the reference's all-bytes round-trip
        # (review r5, found by the csv round-trip property test)
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
    )
    if gzip:
        w = w.option("compression", "gzip")
    w.csv(path)
