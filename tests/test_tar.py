"""TAR / WebDataset source tests (sources/tar.py).

Hand-authored spec golden bytes (ustar 512-byte header layout written
out longhand, independent of tar_build), the tar_build writer vs the
stdlib-backed reader cross-check, WebDataset key/ext semantics,
compression sniffing, chunked decode memory bounds, malformed inputs,
the distributed import and sample grouping."""

import gzip
import hashlib
import io
import tarfile

import pytest

from accelerator_spark.sources import shards
from accelerator_spark.sources.tar import (
    TAR_SCHEMA, TarError, tar_build, tar_decode_file, tar_import,
    tar_iter_members, wds_key_ext, webdataset_group)


def _golden_header(name: bytes, size: int) -> bytes:
    """One ustar header written out longhand from the IEEE 1003.1
    field table (offsets 0/100/108/116/124/136/148/156/257/263)."""
    hdr = bytearray(512)
    hdr[0:len(name)] = name
    hdr[100:108] = b"0000644\0"
    hdr[108:116] = b"0000000\0"
    hdr[116:124] = b"0000000\0"
    hdr[124:136] = b"%011o\0" % size
    hdr[136:148] = b"%011o\0" % 1700000000
    hdr[148:156] = b" " * 8
    hdr[156] = ord("0")
    hdr[257:263] = b"ustar\0"
    hdr[263:265] = b"00"
    hdr[148:156] = b"%06o\0 " % sum(hdr)
    return bytes(hdr)


def _golden_tar() -> bytes:
    """Two members + end blocks, all field bytes hand-laid."""
    p1, p2 = b"hello", b"x" * 600
    return (_golden_header(b"a/s.txt", len(p1)) + p1 + b"\0" * (512 - 5)
            + _golden_header(b"a/s.json", len(p2)) + p2 + b"\0" * (1024 - 600)
            + b"\0" * 1024)


def test_golden_bytes_parse():
    rows = list(tar_iter_members(_golden_tar()))
    assert [(r[0], r[1], r[3], r[4]) for r in rows] == [
        (0, "a/s.txt", 5, 1700000000), (1, "a/s.json", 600, 1700000000)]
    assert rows[0][2] == b"hello" and rows[1][2] == b"x" * 600


def test_build_read_cross_check():
    """Hand-rolled writer vs stdlib reader, including ustar prefix
    long names, gzip, and mtime stepping."""
    long = "p/" * 60 + "f.bin"
    members = [("d/a.jpg", b"\xff\xd8" * 7), ("d/a.txt", b"t"),
               (long, b"LL"), ("noext", b"")]
    for gz in (False, True):
        data = tar_build(members, mtime=1600000000, mtime_step=3,
                         gzip_compress=gz)
        rows = list(tar_iter_members(data))
        assert [(r[1], r[2]) for r in rows] == members
        assert [r[4] for r in rows] == [1600000000 + 3 * i
                                        for i in range(4)]
    # and stdlib tarfile agrees with our writer directly
    tf = tarfile.open(fileobj=io.BytesIO(tar_build(members)))
    assert [m.name for m in tf.getmembers()] == [m[0] for m in members]


def test_build_rejects_unrepresentable():
    with pytest.raises(TarError):
        tar_build([("x" * 300, b"")])          # no slash to split at
    with pytest.raises(TarError):
        tar_build([("a", b"")], mtime=8 ** 12)  # octal overflow


def test_wds_key_ext():
    assert wds_key_ext("d/a.jpg") == ("d/a", "jpg")
    assert wds_key_ext("d/a.seg.json") == ("d/a", "seg.json")
    assert wds_key_ext("./d/a.txt") == ("d/a", "txt")
    assert wds_key_ext("noext") == ("noext", "")
    assert wds_key_ext("d.ir/plain") == ("d.ir/plain", "")
    assert wds_key_ext(".hidden") == ("", "hidden")


def test_skips_non_regular_members():
    """Directories and links carry no payload; PAX/GNU metadata
    entries must be consumed by the reader, not surfaced as rows."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.PAX_FORMAT) as tf:
        d = tarfile.TarInfo("dir/")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
        f = tarfile.TarInfo("dir/" + "n" * 150 + ".txt")  # forces PAX path
        f.size = 3
        tf.addfile(f, io.BytesIO(b"abc"))
        ln = tarfile.TarInfo("dir/link.txt")
        ln.type = tarfile.SYMTYPE
        ln.linkname = "dir/other"
        tf.addfile(ln)
    rows = list(tar_iter_members(buf.getvalue()))
    assert len(rows) == 1
    assert rows[0][1].endswith(".txt") and rows[0][2] == b"abc"
    assert rows[0][0] == 0


def test_malformed_inputs():
    with pytest.raises(TarError):
        list(tar_iter_members(b"not a tar at all" + b"\0" * 600))
    # truncated payload: header promises more bytes than exist
    good = tar_build([("a.txt", b"12345")])
    with pytest.raises(TarError):
        list(tar_iter_members(good[:512 + 2]))


def test_chunked_decode_bounds():
    members = [(f"s{i:03d}.txt", bytes([i % 251]) * 10) for i in range(57)]
    data = tar_build(members)
    cols = [f.name for f in TAR_SCHEMA.fields]
    batches = list(shards.chunked(tar_decode_file("p", data), cols,
                                  max_rows=10))
    assert [len(b) for b in batches] == [10] * 5 + [7]
    flat = [r for b in batches for r in b.itertuples(index=False)]
    assert [r.member for r in flat] == [m[0] for m in members]
    assert [r.member_idx for r in flat] == list(range(57))
    # byte-budget cut: a row counts its str/bytes cells — path "p",
    # member "s000.txt", key "s000", ext "txt" and a 10-byte payload
    # make 26 bytes, so an 80-byte budget holds 3 rows per batch
    by_bytes = list(shards.chunked(tar_decode_file("p", data), cols,
                                   max_bytes=80))
    assert [len(b) for b in by_bytes][:3] == [3, 3, 3]


def test_tar_import_and_group(spark, tmp_path):
    shard1 = [("d/a.jpg", b"IMGA"), ("d/a.txt", b"capA"),
              ("d/b.jpg", b"IMGB"),
              ("d/a.txt", b"capA2")]          # duplicate ext: last wins
    shard2 = [("d/c.jpg", b"IMGC"), ("d/c.cls", b"7")]
    (tmp_path / "s1.tar").write_bytes(tar_build(shard1))
    (tmp_path / "s2.tar.gz").write_bytes(
        tar_build(shard2, gzip_compress=True))
    df = tar_import(spark, str(tmp_path))
    rows = {(r.path.rsplit("/", 1)[-1], r.member_idx):
            (r.member, r.sample_key, r.ext, bytes(r.payload))
            for r in df.collect()}
    assert len(rows) == 6
    assert rows[("s1.tar", 3)] == ("d/a.txt", "d/a", "txt", b"capA2")
    assert rows[("s2.tar.gz", 1)] == ("d/c.cls", "d/c", "cls", b"7")

    g = webdataset_group(df)
    samples = {r.sample_key: r for r in g.collect()}
    assert set(samples) == {"d/a", "d/b", "d/c"}
    a = samples["d/a"]
    assert a.n_parts == 2
    assert bytes(a.parts["txt"]) == b"capA2"      # last-wins
    assert bytes(a.parts["jpg"]) == b"IMGA"
    assert a.total_bytes == 4 + 4 + 5             # dup bytes counted
    assert a.first_member_idx == 0
    assert samples["d/c"].n_parts == 2
    assert bytes(samples["d/c"].parts["cls"]) == b"7"


def test_zstd_hook_and_sniff():
    """zstd-magic shards route through the injectable codec hook
    (VERDICT r9 #4): no hook -> a TarError NAMING the hook; a
    hook-injected round-trip decodes identically (the fake codec is
    zlib behind the real zstd magic — the wiring under test is the
    sniff + routing, not the codec)."""
    import zlib

    from accelerator_spark.sources.tar import ZSTD_MAGIC

    raw = tar_build([("d/a.txt", b"T"), ("d/a.json", b"J")])
    fake = ZSTD_MAGIC + zlib.compress(raw)
    with pytest.raises(TarError, match="codec_hook"):
        list(tar_iter_members(fake))
    hook = lambda b: zlib.decompress(b[4:])  # noqa: E731
    assert list(tar_iter_members(fake, codec_hook=hook)) \
        == list(tar_iter_members(raw))
    # non-zstd bytes never touch the hook
    boom = lambda b: (_ for _ in ()).throw(AssertionError)  # noqa: E731
    assert list(tar_iter_members(raw, codec_hook=boom)) \
        == list(tar_iter_members(raw))


def test_tar_export_roundtrip_and_adjacency(spark, tmp_path):
    """The WebDataset sink (VERDICT r9 #1): member rows -> tar shards
    -> tar_import round-trip with value identity; every sample's
    members sit ADJACENT in ONE shard; NULL payloads skipped; NULL
    sample keys raise; deterministic shard content."""
    from accelerator_spark.sources.tar import tar_export

    rows = []
    for i in range(20):
        rows.append((f"s{i:03d}", "txt", b"T%d" % i))
        rows.append((f"s{i:03d}", "cap.json", b"J%d" % i))
        if i % 3 == 0:
            rows.append((f"s{i:03d}", "cls", b"C%d" % i))
    rows.append(("snull", "txt", None))         # skipped
    df = spark.createDataFrame(
        rows, "sample_key string, ext string, payload binary")
    out = tmp_path / "wds"
    n = tar_export(df.repartition(5), str(out), n_shards=3)
    assert n == len(rows) - 1
    shards = sorted(out.iterdir())
    assert 1 < len(shards) <= 3 and all(
        p.name.endswith(".tar.gz") for p in shards)

    back = tar_import(spark, str(out))
    got = {(r.sample_key, r.ext): bytes(r.payload)
           for r in back.collect()}
    want = {(k, e): p for k, e, p in rows if p is not None}
    assert got == want
    # adjacency: one sample = one contiguous run in exactly one shard
    rowlist = back.select("path", "member_idx", "sample_key").collect()
    by_key = {}
    for r in rowlist:
        by_key.setdefault(r.sample_key, []).append(
            (r.path, r.member_idx))
    for key, locs in by_key.items():
        paths = {p for p, _ in locs}
        assert len(paths) == 1, f"sample {key} straddles shards"
        idxs = sorted(i for _, i in locs)
        assert idxs == list(range(idxs[0], idxs[0] + len(idxs))), \
            f"sample {key} members not adjacent: {idxs}"

    with pytest.raises(Exception):  # Py4J wraps TarError
        tar_export(spark.createDataFrame(
            [(None, "txt", b"x")],
            "sample_key string, ext string, payload binary"), str(
                tmp_path / "nk"))
    # deterministic shard content (fresh names, identical bytes)
    one = df.filter("payload is not null").coalesce(1)
    d1, d2 = tmp_path / "a", tmp_path / "b"
    tar_export(one, str(d1), arrange=False)
    tar_export(one, str(d2), arrange=False)
    assert [p.read_bytes() for p in sorted(d1.iterdir())] \
        == [p.read_bytes() for p in sorted(d2.iterdir())]


def test_tar_export_rolls_at_sample_boundaries(spark, tmp_path):
    """samples_per_shard rolls to a fresh shard only at sample
    boundaries: 7 samples x 2 members in ONE partition with
    samples_per_shard=3 -> 3 shards of 3/3/1 whole samples."""
    from accelerator_spark.sources.tar import tar_export

    rows = [(f"k{i}", e, b"p") for i in range(7)
            for e in ("txt", "json")]
    df = spark.createDataFrame(
        rows, "sample_key string, ext string, payload binary")
    out = tmp_path / "rolled"
    assert tar_export(df.coalesce(1), str(out), gzip_compress=False,
                      samples_per_shard=3, arrange=False) == 14
    shards = sorted(out.iterdir())
    assert len(shards) == 3
    per_shard = []
    for p in shards:
        keys = {wds_key_ext(r[1])[0]
                for r in tar_iter_members(p.read_bytes())}
        per_shard.append(keys)
    assert sorted(len(k) for k in per_shard) == [1, 3, 3]
    # no sample appears in two shards
    assert sum(len(k) for k in per_shard) == 7


def test_tar_export_gnu_long_names(spark, tmp_path):
    """A sample key beyond ustar's name+prefix reach round-trips via
    the GNU 'L' long-name convention — verified through the
    stdlib-backed reader AND raw stdlib tarfile directly."""
    from accelerator_spark.sources.tar import tar_export

    long_key = "x" * 180                       # no slash: ustar can't
    deep_key = "/".join(["d" * 40] * 6)        # prefix can't either
    rows = [(long_key, "txt", b"LONG"), (deep_key, "cap.json", b"DEEP"),
            ("short", "txt", b"S")]
    df = spark.createDataFrame(
        rows, "sample_key string, ext string, payload binary")
    out = tmp_path / "gnu"
    assert tar_export(df.coalesce(1), str(out), gzip_compress=False,
                      arrange=False) == 3
    back = {(r.sample_key, r.ext): bytes(r.payload)
            for r in tar_import(spark, str(out)).collect()}
    assert back == {(k, e): p for k, e, p in rows}
    # raw stdlib read: names fully restored from the 'L' members
    (shard,) = list(out.iterdir())
    with tarfile.open(shard, "r") as tf:
        names = {m.name for m in tf.getmembers() if m.isreg()}
    assert names == {f"{long_key}.txt", f"{deep_key}.cap.json",
                     "short.txt"}


def test_zstd_hook_distributed_import(spark, tmp_path):
    """The codec hook must pickle into tasks: a .tar.zst shard (fake
    codec behind the real zstd magic) imports distributed."""
    import zlib

    from accelerator_spark.sources.tar import ZSTD_MAGIC

    raw = tar_build([("d/a.txt", b"T"), ("d/a.json", b"J"),
                     ("d/b.txt", b"U")])
    d = tmp_path / "zst"
    d.mkdir()
    (d / "shard.tar.zst").write_bytes(ZSTD_MAGIC + zlib.compress(raw))

    def hook(b):
        import zlib as _z
        return _z.decompress(b[4:])

    got = tar_import(spark, str(d), pattern="*.tar.zst",
                     codec_hook=hook).collect()
    assert {(r.member, bytes(r.payload)) for r in got} == {
        ("d/a.txt", b"T"), ("d/a.json", b"J"), ("d/b.txt", b"U")}


def test_tar_export_n_shards_requires_arrange(spark, tmp_path):
    df = spark.createDataFrame(
        [("k", "txt", b"x")],
        "sample_key string, ext string, payload binary")
    with pytest.raises(TarError, match="arrange"):
        from accelerator_spark.sources.tar import tar_export
        tar_export(df, str(tmp_path / "o"), n_shards=2, arrange=False)


def test_tar_export_zstd_write_hook_roundtrip(spark, tmp_path):
    """The tar side of the zstd WRITE story (VERDICT r10 #3):
    tar_export with a compressor codec_hook lands .tar.zst shards as
    one frame per MEMBER (+ a final end-of-archive frame) that the
    production reader restores through a frame-looping decompressor
    hook — closing the last read/write codec asymmetry. The fake
    codecs are closures (the cloudpickle shipping requirement a real
    hook has)."""
    import zlib as _z

    from accelerator_spark.sources.tar import ZSTD_MAGIC, tar_export

    def _fake_compress(b, _magic=ZSTD_MAGIC):
        return _magic + _z.compress(b)

    def _fake_decompress(data, _magic=ZSTD_MAGIC):
        out, pos = b"", 0
        while pos < len(data):
            assert data[pos:pos + 4] == _magic
            d = _z.decompressobj()
            out += d.decompress(data[pos + 4:])
            pos = len(data) - len(d.unused_data)
        return out

    rows = [(f"s{i:02d}", "txt", b"T%d" % i) for i in range(12)] \
        + [(f"s{i:02d}", "json", b"J%d" % i) for i in range(12)]
    df = spark.createDataFrame(
        rows, "sample_key string, ext string, payload binary")
    out = tmp_path / "wds_zst"
    n = tar_export(df.repartition(4), str(out), n_shards=2,
                   codec_hook=_fake_compress)
    assert n == len(rows)
    shards = sorted(out.iterdir())
    assert shards and all(p.name.endswith(".tar.zst") for p in shards)
    for p in shards:
        raw = p.read_bytes()
        assert raw[:4] == ZSTD_MAGIC
        # multi-frame layout: >= 2 members + end-of-archive frame
        assert raw.count(ZSTD_MAGIC) >= 3
        # frames concatenate to a valid raw tar readable by stdlib
        tf = tarfile.open(fileobj=io.BytesIO(_fake_decompress(raw)),
                          mode="r|*")
        assert all(m.isreg() for m in tf)

    back = tar_import(spark, str(out), codec_hook=_fake_decompress)
    got = {(r.sample_key, r.ext): bytes(r.payload)
           for r in back.collect()}
    assert got == {(k, e): p for k, e, p in rows}
    # a FIRST-FRAME-ONLY decompressor (one-shot zstandard.decompress
    # behavior) silently truncates to the first member — the reason
    # the hook contract demands concatenated-frame handling
    def _one_shot(data, _magic=ZSTD_MAGIC):
        assert data[:4] == _magic
        d = _z.decompressobj()
        return d.decompress(data[4:])

    from accelerator_spark.sources.tar import tar_iter_members as _tim
    whole = list(_tim(shards[0].read_bytes(),
                      codec_hook=_fake_decompress))
    trunc = list(_tim(shards[0].read_bytes(), codec_hook=_one_shot))
    assert len(trunc) < len(whole)


def test_tar_export_commits_shards_atomically(spark, tmp_path):
    """Rename-on-close task commit (ADVICE r10): after an export no
    hidden .inprogress temp survives, and a stale temp left by a
    crashed task is invisible to tar_import's listing."""
    from accelerator_spark.sources.tar import tar_export

    df = spark.createDataFrame(
        [(f"s{i}", "txt", b"x%d" % i) for i in range(6)],
        "sample_key string, ext string, payload binary")
    out = tmp_path / "atomic"
    tar_export(df, str(out), n_shards=2)
    names = [p.name for p in out.iterdir()]
    assert names and not any(n.startswith(".") for n in names)
    # a crashed task's leftover: truncated bytes under a hidden name
    (out / ".part-deadbeef.tar.gz.inprogress").write_bytes(b"\x1f\x8b")
    got = {r.sample_key for r in tar_import(spark, str(out)).collect()}
    assert got == {f"s{i}" for i in range(6)}


def test_rename_on_close_sinks_refuse_speculation(spark, tmp_path,
                                                  monkeypatch):
    """All five file sinks commit through sources/shards.py and must
    FAIL AT ENTRY when spark.speculation=true (ADVICE r11): a completed
    speculative task twin would rename its own duplicate file into the
    output directory — rename-on-close is atomic, not exclusive.
    spark.speculation is a core (launch-time) config, so the guard is
    checked against a stubbed session and the wiring against a spy."""
    import pytest

    import accelerator_spark.sources.shards as shardmod
    from accelerator_spark.sources.arrowipc import (
        ArrowIpcError, arrow_export)
    from accelerator_spark.sources.avro import AvroError, avro_export
    from accelerator_spark.sources.shards import require_no_speculation
    from accelerator_spark.sources.tar import TarError, tar_export
    from accelerator_spark.sources.tensors import (
        TensorFormatError, tensor_export)
    from accelerator_spark.sources.warc import WarcError, warc_export

    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, key, default=None):
            return self._v if key == "spark.speculation" else default

    class _Df:
        def __init__(self, v):
            self.sparkSession = type("S", (), {"conf": _Conf(v)})()

    with pytest.raises(TarError, match="speculation"):
        require_no_speculation(_Df("true"), TarError, "tar_export")
    with pytest.raises(TarError, match="speculation"):
        require_no_speculation(_Df(" TRUE "), TarError, "tar_export")
    require_no_speculation(_Df("false"), TarError, "tar_export")
    require_no_speculation(_Df(None), TarError, "tar_export")

    # wiring: every sink consults the shared guard at entry, so one
    # spy on the shards module covers all five
    calls = []

    def spy(df, err_cls, opname):
        calls.append(opname)
        raise err_cls(opname + ": speculation on")

    monkeypatch.setattr(shardmod, "require_no_speculation", spy)
    members = spark.createDataFrame(
        [("k1", "txt", b"x")],
        "sample_key string, ext string, payload binary")
    pages = spark.createDataFrame(
        [("http://e.com/", b"hi", "text/plain", 200)],
        "target_uri string, payload binary, content_type string, "
        "http_status int")
    vecs = spark.createDataFrame([(1, [0.5, 0.5])],
                                 "vec_id long, embedding array<float>")
    with pytest.raises(TarError, match="speculation"):
        tar_export(members, str(tmp_path / "t"))
    with pytest.raises(WarcError, match="speculation"):
        warc_export(pages, str(tmp_path / "w"))
    with pytest.raises(TensorFormatError, match="speculation"):
        tensor_export(vecs, str(tmp_path / "v"))
    with pytest.raises(ArrowIpcError, match="speculation"):
        arrow_export(vecs, str(tmp_path / "a"))
    with pytest.raises(AvroError, match="speculation"):
        avro_export(vecs, str(tmp_path / "r"))
    assert calls == ["tar_export", "warc_export", "tensor_export",
                     "arrow_export", "avro_export"]
    # refused before any file or directory is made
    assert not list(tmp_path.iterdir())
