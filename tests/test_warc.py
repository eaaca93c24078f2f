"""WARC source tests (sources/warc.py).

Hand-authored spec golden bytes (ISO 28500 record framing, written
out longhand and independent of warc_build), record-at-time gzip
members, HTTP payload splitting, malformed/hostile inputs, the
distributed import, and the WARC -> html_extract pipeline hop."""

import gzip

import pytest

from accelerator_spark.sources.warc import (
    WarcError, warc_build, warc_decode_file, warc_import,
    warc_iter_records)


def _golden_plain():
    """Two records written out longhand: a warcinfo and an HTTP
    response whose payload is a 5-byte body behind HTTP headers."""
    info = (b"WARC/1.0\r\n"
            b"WARC-Type: warcinfo\r\n"
            b"WARC-Record-ID: <urn:uuid:0>\r\n"
            b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            b"Content-Length: 9\r\n"
            b"\r\n"
            b"info-body"
            b"\r\n\r\n")
    http = (b"HTTP/1.1 200 X\r\n"
            b"Content-Type: text/html\r\n"
            b"Content-Length: 5\r\n\r\n"
            b"hello")
    resp = (b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Record-ID: <urn:uuid:1>\r\n"
            b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            b"WARC-Target-URI: http://x.example/a\r\n"
            b"Content-Length: %d\r\n"
            b"\r\n" % len(http)) + http + b"\r\n\r\n"
    return info + resp


def test_golden_spec_bytes_and_builder_agreement():
    golden = _golden_plain()
    rows = warc_decode_file(golden)
    assert len(rows) == 2
    idx, wtype, uri, date, rid, status, ctype, body, n = rows[0]
    assert (wtype, status, body) == ("warcinfo", None, b"info-body")
    idx, wtype, uri, date, rid, status, ctype, body, n = rows[1]
    assert wtype == "response"
    assert uri == "http://x.example/a"
    assert (status, ctype) == (200, "text/html")
    assert body == b"hello" and n == 5
    # builder reproduces the golden bytes for the same inputs
    built = warc_build([
        dict(warc_type="warcinfo", payload=b"info-body"),
        dict(warc_type="response", target_uri="http://x.example/a",
             payload=b"hello", http=(200, "text/html")),
    ])
    assert built == golden


def test_gzip_members_and_sniff():
    recs = [dict(warc_type="response", target_uri=f"http://x/{i}",
                 payload=f"body-{i}".encode(), http=(200, "text/html"))
            for i in range(5)]
    gz = warc_build(recs, gzip_members=True)
    assert gz[:2] == b"\x1f\x8b"
    rows = warc_decode_file(gz)
    assert [r[7] for r in rows] == [f"body-{i}".encode()
                                    for i in range(5)]
    # single-member whole-file gzip (non-record-at-time) also reads
    whole = gzip.compress(warc_build(recs))
    assert [r[7] for r in warc_decode_file(whole)] == \
        [r[7] for r in rows]


def test_malformed_and_hostile():
    good = warc_build([dict(warc_type="response", payload=b"x" * 10)])
    with pytest.raises(WarcError, match="version line"):
        warc_decode_file(b"HARC/1.0\r\n\r\n")
    with pytest.raises(WarcError, match="truncated WARC header"):
        warc_decode_file(good[:10])
    with pytest.raises(WarcError, match="overruns"):
        warc_decode_file(good[:-14])  # cut inside the payload
    with pytest.raises(WarcError, match="unsupported WARC version"):
        warc_decode_file(good.replace(b"WARC/1.0", b"WARC/2.0"))
    no_len = good.replace(b"Content-Length: 10\r\n", b"")
    with pytest.raises(WarcError, match="Content-Length"):
        warc_decode_file(no_len)
    bad_gz = b"\x1f\x8b" + b"\x00" * 30
    with pytest.raises(WarcError, match="gzip member"):
        warc_decode_file(bad_gz)
    # record budget bounds crafted many-record streams
    spam = warc_build([dict(warc_type="resource", payload=b"")] * 50)
    with pytest.raises(WarcError, match="budget"):
        list(warc_iter_records(spam, max_records=10))
    # HTTP payload without blank line passes through whole
    raw = warc_build([dict(warc_type="response",
                           payload=b"HTTP/1.1 200 X\r\nbroken")])
    assert warc_decode_file(raw)[0][7] == b"HTTP/1.1 200 X\r\nbroken"


def test_warc_import_distributed_and_html_hop(spark, tmp_path):
    """Directory of .warc.gz -> rows -> html_extract: the CommonCrawl
    pipeline front."""
    from pyspark.sql import functions as F

    from accelerator_spark.operators.html import html_extract

    d = tmp_path / "crawl"
    d.mkdir()
    for f in range(2):
        recs = [dict(warc_type="warcinfo", payload=b"crawler")]
        for i in range(3):
            html = (f"<title>T{f}-{i}</title><p>body {f}-{i} "
                    f"<a href=x>l</a></p>").encode()
            recs.append(dict(warc_type="response",
                             target_uri=f"http://s{f}/p{i}",
                             payload=html, http=(200, "text/html")))
        (d / f"part-{f}.warc.gz").write_bytes(
            warc_build(recs, gzip_members=True))
    df = warc_import(spark, str(d))
    assert df.count() == 8
    pages = (df.filter("warc_type = 'response' AND http_status = 200")
             .select("target_uri",
                     F.col("payload").cast("string").alias("text")))
    ex = html_extract(pages, html_col="text", id_col="target_uri")
    got = {r["doc_id"]: r for r in ex.collect()}
    assert len(got) == 6
    assert got["http://s1/p2"]["title"] == "T1-2"
    assert got["http://s0/p0"]["text"] == "body 0-0 l"
    assert got["http://s0/p0"]["n_links"] == 1


def test_chunked_decode_bounds_memory():
    """VERDICT r8 #2: the distributed decode drains warc_iter_file in
    bounded chunks — a multi-hundred-record file leaves the task as
    MULTIPLE Arrow batches, never one whole-file list."""
    from accelerator_spark.sources import shards
    from accelerator_spark.sources.warc import warc_iter_file

    recs = [dict(warc_type="response", target_uri=f"http://x/{i}",
                 payload=b"b" * 100, http=(200, "text/html"))
            for i in range(300)]
    blob = warc_build(recs, gzip_members=True)
    cols = ["record_idx", "warc_type", "target_uri", "warc_date",
            "record_id", "http_status", "content_type", "payload",
            "n_bytes"]
    frames = list(shards.chunked(warc_iter_file(blob), cols, max_rows=50))
    assert len(frames) == 6 and all(len(f) == 50 for f in frames)
    assert list(frames[0]["record_idx"])[:3] == [0, 1, 2]
    assert list(frames[5]["record_idx"])[-1] == 299
    # the BYTE bound triggers too, before the record bound: a frame
    # holds at most 1000 bytes of str/bytes cells (a 100-byte payload
    # plus the uri, id and type strings per row), and the next row
    # would have overflowed it
    sizes = [sum(len(v) for v in r if isinstance(v, (bytes, str)))
             for r in warc_iter_file(blob)]
    frames = list(shards.chunked(warc_iter_file(blob), cols,
                                 max_bytes=1000))
    assert 1 < len(frames) < 300
    assert sum(len(f) for f in frames) == 300
    cut = 0
    for f in frames[:-1]:
        used = sum(sizes[cut:cut + len(f)])
        assert used <= 1000 < used + sizes[cut + len(f)]
        cut += len(f)
    # generator laziness: the first frame arrives without walking the
    # rest of the stream (a poisoned tail is only hit when reached)
    poisoned = blob + b"\x1f\x8b" + b"\x00" * 10
    it = shards.chunked(warc_iter_file(poisoned), cols, max_rows=50)
    assert len(next(it)) == 50
    with pytest.raises(WarcError):
        list(it)


def test_cdx_formats_and_ranges():
    from accelerator_spark.sources.warc import cdx_offsets, warc_cdx_ranges

    blob, cdx = warc_build(
        [dict(warc_type="response", payload=b"p%d" % i,
              target_uri=f"http://x/{i}", http=(200, "text/html"))
         for i in range(4)], gzip_members=True, with_cdx=True)
    offs = cdx_offsets(cdx)
    assert len(offs) == 4 and offs[0] == 0
    assert offs == sorted(offs)
    # gzipped sidecar reads the same
    assert cdx_offsets(gzip.compress(cdx)) == offs
    # classic CDX with a header line (V = offset)
    classic = (b" CDX N b a m s k r M S V g\n"
               + b"\n".join(
                   b"u 2026 http://x/%d t 200 sum - - 40 %d f.warc.gz"
                   % (i, o) for i, o in enumerate(offs)) + b"\n")
    assert cdx_offsets(classic) == offs
    with pytest.raises(WarcError, match="unrecognized CDX"):
        cdx_offsets(b"no json and no header\n")
    with pytest.raises(WarcError, match="without offset"):
        cdx_offsets(b" CDX N b a\nx y z\n")
    # ranges tile [0, size) exactly, cut only at record starts
    ranges = warc_cdx_ranges(offs, len(blob), target_bytes=1)
    assert [r[0] for r in ranges] == offs
    assert ranges[-1][1] == len(blob)
    assert [r[2] for r in ranges] == [0, 1, 2, 3]
    assert all(r[3] == 1 for r in ranges)
    one = warc_cdx_ranges(offs, len(blob), target_bytes=1 << 30)
    assert one == [(0, len(blob), 0, 4)]
    with pytest.raises(WarcError, match="first record"):
        warc_cdx_ranges(offs[1:], len(blob), 1)
    with pytest.raises(WarcError, match="beyond the file"):
        warc_cdx_ranges(offs, offs[-1], 1)


def test_cdx_split_read_is_byte_identical(spark, tmp_path):
    """VERDICT r8 #6 done-criterion: with a CDX sidecar the read fans
    out one-task-per-record-range and returns exactly the whole-file
    rows; a partial sidecar fails loudly."""
    d = tmp_path / "crawl"
    d.mkdir()
    recs = [dict(warc_type="warcinfo", payload=b"ci")]
    for i in range(20):
        recs.append(dict(warc_type="response",
                         target_uri=f"http://s/{i}",
                         payload=b"<p>%d</p>" % i + b"x" * 50,
                         http=(200, "text/html")))
    blob, cdx = warc_build(recs, gzip_members=True, with_cdx=True)
    (d / "a.warc.gz").write_bytes(blob)
    (d / "a.warc.cdx").write_bytes(cdx)

    whole = warc_import(spark, str(d), split=False)
    split = warc_import(spark, str(d), split=True,
                        target_split_bytes=300)
    assert split.rdd.getNumPartitions() > 1  # really fanned out
    w = sorted(map(tuple, whole.collect()))
    s = sorted(map(tuple, split.collect()))
    assert s == w and len(s) == 21
    # auto mode picks the sidecar up without being asked
    auto = warc_import(spark, str(d), target_split_bytes=300)
    assert sorted(map(tuple, auto.collect())) == w
    # partial sidecar (a skipped record) fails the decode task loudly
    partial = b"\n".join(ln for i, ln in enumerate(cdx.splitlines())
                         if i != 3) + b"\n"
    (d / "a.warc.cdx").write_bytes(partial)
    with pytest.raises(Exception, match="partial or stale"):
        warc_import(spark, str(d), split=True,
                    target_split_bytes=1 << 30).collect()
    # split=True without any sidecar raises at plan time
    (d / "a.warc.cdx").unlink()
    with pytest.raises(WarcError, match="no usable CDX"):
        warc_import(spark, str(d), split=True)


def test_cdx_mixed_directory_and_find(spark, tmp_path):
    """One file with a sidecar, one without: the split and whole paths
    union back into one DataFrame with per-file record numbering."""
    from accelerator_spark.sources.warc import _find_cdx

    d = tmp_path / "crawl"
    d.mkdir()
    blob_a, cdx_a = warc_build(
        [dict(warc_type="response", target_uri=f"http://a/{i}",
              payload=b"A%d" % i, http=(200, "text/html"))
         for i in range(4)], gzip_members=True, with_cdx=True)
    (d / "a.warc.gz").write_bytes(blob_a)
    (d / "a.cdx.gz").write_bytes(gzip.compress(cdx_a))
    blob_b = warc_build(
        [dict(warc_type="response", target_uri=f"http://b/{i}",
              payload=b"B%d" % i, http=(200, "text/html"))
         for i in range(3)], gzip_members=True)
    (d / "b.warc.gz").write_bytes(blob_b)

    assert _find_cdx(str(d / "a.warc.gz")) == str(d / "a.cdx.gz")
    assert _find_cdx(str(d / "b.warc.gz")) is None

    df = warc_import(spark, str(d), target_split_bytes=1)
    rows = df.select("file", "record_idx", "target_uri").collect()
    got = {(r["file"].rsplit("/", 1)[-1], r["record_idx"]):
           r["target_uri"] for r in rows}
    assert len(got) == 7
    assert got[("a.warc.gz", 2)] == "http://a/2"
    assert got[("b.warc.gz", 2)] == "http://b/2"


def test_warc_export_roundtrip_and_determinism(spark, tmp_path):
    """warc_export -> warc_import value identity (whole and
    CDX-split), deterministic record bytes, NULL-payload skip,
    date_col passthrough."""
    from accelerator_spark.sources.warc import warc_export

    rows = [("http://x/%d" % i, bytearray(b"<i>%d</i>" % i),
             "text/html", 200, "2025-0%d-01T00:00:00Z" % (i % 9 + 1))
            for i in range(12)] + [("http://x/null", None, None, 500,
                                    None)]
    df = spark.createDataFrame(
        rows, "target_uri string, payload binary, content_type string,"
              " http_status int, fetch_date string")
    out = tmp_path / "reshard"
    n = warc_export(df.repartition(2), str(out), date_col="fetch_date")
    assert n == 12                      # NULL payload skipped
    import pyspark.sql.functions as F

    from accelerator_spark.sources.warc import warc_import
    for split in (False, True):
        back = warc_import(spark, str(out), split=split) \
            .filter(F.col("warc_type") == "response")
        got = {r.target_uri: (bytes(r.payload), r.http_status,
                              r.content_type, r.warc_date)
               for r in back.collect()}
        assert len(got) == 12
        assert got["http://x/3"] == (b"<i>3</i>", 200, "text/html",
                                     "2025-04-01T00:00:00Z")
    # deterministic record bytes: same single-partition export twice
    one = df.filter(F.col("payload").isNotNull()).coalesce(1)
    d1, d2 = tmp_path / "a", tmp_path / "b"
    warc_export(one, str(d1))
    warc_export(one, str(d2))
    b1 = [(p.name.split(".", 1)[1], p.read_bytes())
          for p in sorted(d1.iterdir())]
    b2 = [(p.name.split(".", 1)[1], p.read_bytes())
          for p in sorted(d2.iterdir())]
    assert [x[1] for x in b1] == [x[1] for x in b2]


def test_surt_urlkey_forms():
    """SURT transform (VERDICT r9 #5): host reversal, scheme/userinfo
    drop, default-port drop, explicit ports kept, IPv4/IPv6 literals
    un-reversed, lowercasing, CDX-hostile characters percent-encoded,
    non-URI passthrough."""
    from accelerator_spark.sources.warc import surt

    assert surt("http://www.Example.com/Path?Q=1") \
        == "com,example,www)/path?q=1"
    assert surt("https://a.b.c.example.org:443/") == "org,example,c,b,a)/"
    assert surt("http://example.com:80/x") == "com,example)/x"
    assert surt("http://user:pw@example.com:8080/x") \
        == "com,example:8080)/x"
    assert surt("http://1.2.3.4:81/p") == "1.2.3.4:81)/p"
    assert surt("http://[2001:DB8::1]:8443/p") == "[2001:db8::1]:8443)/p"
    assert surt("http://[::1]/p") == "[::1])/p"
    assert surt("http://example.com") == "com,example)/"
    # CDX line structure survives spaces/braces/quotes in the path
    assert surt('http://a.b/p q/{r}"s\\') == 'b,a)/p%20q/%7br%7d%22s%5c'
    assert surt("no scheme here") == "no%20scheme%20here"


def test_export_cdxj_is_valid_json_with_surt_urlkey(tmp_path, spark):
    """A double-quote/backslash URI must yield a VALID JSON sidecar
    payload (ADVICE r9) with a SURT urlkey, and the sidecar must still
    drive the split re-import."""
    import json

    from accelerator_spark.sources.warc import warc_export, warc_import

    evil = 'http://ex.com/a"b\\c{d} e'
    df = spark.createDataFrame(
        [(evil, bytearray(b"<p>x</p>"))],
        "target_uri string, payload binary")
    out = tmp_path / "evil"
    assert warc_export(df.coalesce(1), str(out)) == 1
    (cdx,) = [p for p in out.iterdir() if p.name.endswith(".cdx")]
    line = cdx.read_text().strip()
    urlkey, ts, payload = line.split(" ", 2)
    assert json.loads(payload)["url"] == evil
    assert " " not in urlkey and '"' not in urlkey and "{" not in urlkey
    assert urlkey.startswith("com,ex)/")
    back = warc_import(spark, str(out), split=True).collect()
    assert len(back) == 1 and back[0].target_uri == evil


def test_zstd_codec_hook(tmp_path, spark):
    """zstd-magic WARC input routes through the injectable codec hook
    (VERDICT r9 #4): no hook -> WarcError NAMING the hook; fake-codec
    (zlib behind the real zstd magic) round-trips both the direct
    iterator and the distributed import."""
    import zlib

    from accelerator_spark.sources.warc import (
        ZSTD_MAGIC, warc_import, warc_iter_file)

    raw = warc_build([
        {"warc_type": "response", "target_uri": "http://z/%d" % i,
         "payload": b"<b>%d</b>" % i, "http": (200, "text/html")}
        for i in range(4)])
    fake = ZSTD_MAGIC + zlib.compress(raw)
    with pytest.raises(WarcError, match="codec_hook"):
        list(warc_iter_file(fake))
    hook = lambda b: zlib.decompress(b[4:])  # noqa: E731
    assert list(warc_iter_file(fake, codec_hook=hook)) \
        == list(warc_iter_file(raw))
    d = tmp_path / "zst"
    d.mkdir()
    (d / "a.warc.zst").write_bytes(fake)
    got = warc_import(spark, str(d), pattern="*.warc.zst",
                      codec_hook=hook).collect()
    assert {r.target_uri for r in got} == {"http://z/%d" % i
                                           for i in range(4)}


def test_cdxj_timestamp_from_record_date(tmp_path, spark):
    """The sidecar's second field is the 14-digit CDX timestamp
    derived from the record's WARC-Date (what third-party CDX tooling
    sorts within a urlkey); an absent date falls back to '-'."""
    from accelerator_spark.sources.warc import _cdx_timestamp, warc_export

    assert _cdx_timestamp("2025-04-01T12:34:56Z") == "20250401123456"
    assert _cdx_timestamp(None) == "-"
    assert _cdx_timestamp("garbage") == "-"
    df = spark.createDataFrame(
        [("http://t/1", bytearray(b"<p>x</p>"), "2025-04-01T12:34:56Z")],
        "target_uri string, payload binary, fetch_date string")
    out = tmp_path / "ts"
    warc_export(df.coalesce(1), str(out), date_col="fetch_date")
    (cdx,) = [p for p in out.iterdir() if p.name.endswith(".cdx")]
    urlkey, ts, _ = cdx.read_text().strip().split(" ", 2)
    assert ts == "20250401123456"


def test_zstd_write_hook_roundtrip(tmp_path, spark):
    """The WRITE half of the zstd story: warc_export with a
    compressor codec_hook lands .warc.zst shards in record-at-time
    frames whose CDXJ offsets are valid split points, and
    warc_import(codec_hook=...) reads them back whole AND
    record-granular (split). The fake codecs are CLOSURES so
    cloudpickle ships them by value into executor tasks (the same
    requirement a real hook has)."""
    import zlib as _z

    from accelerator_spark.sources.warc import (
        ZSTD_MAGIC, warc_export, warc_import)

    def _fake_zstd_compress(b, _magic=ZSTD_MAGIC):
        return _magic + _z.compress(b)

    def _fake_zstd_decompress(data, _magic=ZSTD_MAGIC):
        # concatenated-frame decompressor (what a real zstd hook does)
        out, pos = b"", 0
        while pos < len(data):
            assert data[pos:pos + 4] == _magic
            d = _z.decompressobj()
            out += d.decompress(data[pos + 4:])
            pos = len(data) - len(d.unused_data)
        return out

    df = spark.createDataFrame(
        [("http://z/%d" % i, bytearray(b"<b>%d</b>" % i))
         for i in range(10)],
        "target_uri string, payload binary")
    out = tmp_path / "zstout"
    n = warc_export(df.repartition(2), str(out),
                    codec_hook=_fake_zstd_compress)
    assert n == 10
    shards = [p.name for p in out.iterdir()]
    assert any(s.endswith(".warc.zst") for s in shards)
    assert any(s.endswith(".cdx") for s in shards)
    for split in (False, True):
        back = warc_import(spark, str(out), split=split,
                           codec_hook=_fake_zstd_decompress)
        got = {r.target_uri: bytes(r.payload) for r in back.collect()}
        assert got == {"http://z/%d" % i: b"<b>%d</b>" % i
                       for i in range(10)}, f"split={split}"


def test_zstd_hook_concatenated_frame_contract(tmp_path, spark):
    """The hook contract is CONCATENATED frames (VERDICT r10 #5 — the
    docs now say so; this makes it executable): a CDX range spanning
    two records hands the decompressor hook BOTH frames back-to-back;
    a frame-looping hook restores both records, and a first-frame-only
    hook (one-shot zstandard.decompress behavior) silently loses the
    second — exactly the failure the docstring warns about."""
    import zlib as _z

    from accelerator_spark.sources.warc import (
        ZSTD_MAGIC, warc_export, warc_iter_file)

    def _compress(b, _magic=ZSTD_MAGIC):
        return _magic + _z.compress(b)

    def _looping(data, _magic=ZSTD_MAGIC):
        out, pos = b"", 0
        frames = 0
        while pos < len(data):
            assert data[pos:pos + 4] == _magic
            d = _z.decompressobj()
            out += d.decompress(data[pos + 4:])
            pos = len(data) - len(d.unused_data)
            frames += 1
        _looping.frames = max(getattr(_looping, "frames", 0), frames)
        return out

    def _one_shot(data, _magic=ZSTD_MAGIC):
        assert data[:4] == _magic
        return _z.decompressobj().decompress(data[4:])

    df = spark.createDataFrame(
        [("http://c/1", bytearray(b"<i>one</i>")),
         ("http://c/2", bytearray(b"<i>two</i>"))],
        "target_uri string, payload binary")
    out = tmp_path / "twoframe"
    warc_export(df.coalesce(1), str(out), codec_hook=_compress)
    shard = next(p for p in out.iterdir() if p.name.endswith(".warc.zst"))
    data = shard.read_bytes()
    assert data.count(ZSTD_MAGIC) == 2  # one frame per record

    # the whole two-record range through the split-reader entry point
    rows = list(warc_iter_file(data, codec_hook=_looping))
    assert len(rows) == 2 and _looping.frames == 2
    # a one-shot hook truncates to the first record — demonstrates
    # why the error message must not recommend zstandard.decompress
    assert len(list(warc_iter_file(data, codec_hook=_one_shot))) == 1


def test_warc_export_non_ascii_uri_cdx(tmp_path, spark):
    """ADVICE r10: a non-ASCII URI reaches the CDX sidecar as a
    non-ASCII urlkey — the sidecar is opened with an explicit utf-8
    encoding so a C-locale executor cannot UnicodeEncodeError, and the
    line re-reads as valid utf-8 + JSON."""
    import json as _json

    from accelerator_spark.sources.warc import warc_export, warc_import

    uri = "http://exämple.com/päge?q=søk"
    df = spark.createDataFrame(
        [(uri, bytearray(b"<p>hi</p>"))],
        "target_uri string, payload binary")
    out = tmp_path / "nonascii"
    assert warc_export(df.coalesce(1), str(out)) == 1
    cdx = next(p for p in out.iterdir() if p.name.endswith(".cdx"))
    line = cdx.read_text(encoding="utf-8").strip()
    urlkey, _, js = line.split(" ", 2)
    assert urlkey.startswith("com,exämple)")
    assert _json.loads(js)["url"] == uri
    back = warc_import(spark, str(out), split=True)
    assert [r.target_uri for r in back.collect()] == [uri]


def test_warc_export_commits_atomically(tmp_path, spark):
    """Rename-on-close task commit (ADVICE r10): no hidden temp
    survives a completed export, and stale .inprogress leftovers are
    invisible to the import listing."""
    from accelerator_spark.sources.warc import warc_export, warc_import

    df = spark.createDataFrame(
        [("http://a/%d" % i, bytearray(b"<x>%d</x>" % i))
         for i in range(4)],
        "target_uri string, payload binary")
    out = tmp_path / "atomic"
    warc_export(df.repartition(2), str(out))
    names = [p.name for p in out.iterdir()]
    assert names and not any(n.startswith(".") for n in names)
    # both halves of the pair committed for every shard
    warcs = {n[:-len(".warc.gz")] for n in names if n.endswith(".warc.gz")}
    cdxs = {n[:-len(".cdx")] for n in names if n.endswith(".cdx")}
    assert warcs and warcs == cdxs
    (out / ".part-dead.warc.gz.inprogress").write_bytes(b"\x1f\x8b")
    got = {r.target_uri for r in warc_import(spark, str(out)).collect()}
    assert got == {"http://a/%d" % i for i in range(4)}
