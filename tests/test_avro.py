"""Pure-Python Avro Object Container tests (sources/avro.py).

Hypothesis round-trips over the supported type lattice, container
framing/codec error cases, schema <-> Spark type mapping both ways,
and the distributed export -> import round-trip including nested
arrays/maps and NTZ timestamps.
"""

import datetime
import json
import os

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from accelerator_spark.sources.avro import (
    AvroError, avro_decode_file, avro_encode_file, avro_export,
    avro_import, avro_to_spark_type, parse_schema, spark_to_avro_schema)

PROP = settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)

_SCHEMA = {
    "type": "record", "name": "r", "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "f", "type": "double"},
        {"name": "b", "type": "bytes"},
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "flag", "type": "boolean"},
    ]}


@PROP
@given(st.data())
def test_prop_avro_roundtrip(data):
    n = data.draw(st.integers(0, 12))
    recs = []
    for i in range(n):
        recs.append({
            "k": data.draw(st.integers(-(2**63), 2**63 - 1)),
            "s": data.draw(st.one_of(st.none(), st.text(max_size=6))),
            "f": data.draw(st.floats(allow_nan=False, width=64)),
            "b": bytes(data.draw(st.binary(max_size=8))),
            "xs": data.draw(st.lists(st.integers(-100, 100), max_size=4)),
            "m": data.draw(st.dictionaries(st.text(max_size=3),
                                           st.text(max_size=3), max_size=3)),
            "flag": data.draw(st.booleans()),
        })
    codec = data.draw(st.sampled_from(["null", "deflate", "bzip2",
                                       "xz"]))
    block = data.draw(st.sampled_from([1, 3, 4096]))
    blob = avro_encode_file(json.dumps(_SCHEMA), recs, codec=codec,
                            block_records=block)
    _, back = avro_decode_file(blob)
    assert back == recs


def test_avro_logical_types_and_named_refs():
    schema = {
        "type": "record", "name": "ev", "fields": [
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
            {"name": "lts", "type": {"type": "long",
                                     "logicalType": "local-timestamp-millis"}},
            {"name": "e", "type": {"type": "enum", "name": "Col",
                                   "symbols": ["A", "B"]}},
            {"name": "e2", "type": "Col"},  # named-type reference
            {"name": "fx", "type": {"type": "fixed", "name": "F2",
                                    "size": 2}},
        ]}
    recs = [{"d": datetime.date(2024, 2, 29),
             "ts": datetime.datetime(2024, 2, 29, 23, 59, 59, 999999),
             "lts": datetime.datetime(1969, 7, 20, 20, 17, 40, 123000),
             "e": "B", "e2": "A", "fx": b"xy"}]
    _, back = avro_decode_file(avro_encode_file(json.dumps(schema), recs))
    assert back == recs


def test_avro_malformed_inputs():
    blob = avro_encode_file(json.dumps(_SCHEMA), [], codec="deflate")
    with pytest.raises(AvroError, match="magic"):
        avro_decode_file(b"PAR1" + blob)
    with pytest.raises(AvroError, match="truncated"):
        avro_decode_file(blob[:10])
    with pytest.raises(AvroError, match="codec"):
        avro_encode_file(json.dumps(_SCHEMA), [], codec="snappy")
    # corrupt a block's sync marker
    recs = [{"k": 1, "s": None, "f": 0.0, "b": b"", "xs": [], "m": {},
             "flag": True}]
    good = avro_encode_file(json.dumps(_SCHEMA), recs, codec="null")
    bad = bytearray(good)
    bad[-1] ^= 0xFF
    with pytest.raises(AvroError, match="sync"):
        avro_decode_file(bytes(bad))
    with pytest.raises(AvroError, match="unknown type name"):
        parse_schema('"not_a_type"')


def test_avro_int_long_range_checks():
    """ADVICE r6: the direct encode API must reject values outside the
    spec width — an out-of-range 'int' would encode as an out-of-spec
    varint that strict external readers overflow on or reject. (The
    Spark export path can't hit this: IntegerType/LongType are bounded.)"""
    ischema = {"type": "record", "name": "ri",
               "fields": [{"name": "v", "type": "int"}]}
    lschema = {"type": "record", "name": "rl",
               "fields": [{"name": "v", "type": "long"}]}
    # boundary values pass
    for v in (-(2**31), 2**31 - 1):
        _, back = avro_decode_file(
            avro_encode_file(json.dumps(ischema), [{"v": v}], codec="null"))
        assert back == [{"v": v}]
    for v in (-(2**63), 2**63 - 1):
        _, back = avro_decode_file(
            avro_encode_file(json.dumps(lschema), [{"v": v}], codec="null"))
        assert back == [{"v": v}]
    # one past the boundary raises
    for v in (2**31, -(2**31) - 1):
        with pytest.raises(AvroError, match="out of range for int"):
            avro_encode_file(json.dumps(ischema), [{"v": v}], codec="null")
    for v in (2**63, -(2**63) - 1):
        with pytest.raises(AvroError, match="out of range for long"):
            avro_encode_file(json.dumps(lschema), [{"v": v}], codec="null")


def test_avro_spark_type_mapping_roundtrip(spark):
    from pyspark.sql import types as T

    sdt = T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.StringType(), True),
        T.StructField("c", T.ArrayType(T.DoubleType(), False), True),
        T.StructField("d", T.MapType(T.StringType(), T.LongType(), False),
                      True),
        T.StructField("e", T.DateType(), True),
        T.StructField("f", T.TimestampNTZType(), True),
        T.StructField("g", T.BinaryType(), True),
        T.StructField("h", T.BooleanType(), True),
    ])
    avro = spark_to_avro_schema(sdt, "row")
    back = avro_to_spark_type(parse_schema(json.dumps(avro)))
    assert back == sdt


def test_avro_export_import_distributed(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", [1.5, 2.5], {"k": 9}, datetime.date(2024, 1, 2),
          datetime.datetime(2024, 1, 2, 3, 4, 5), b"\x01", True),
         (2, None, [], {}, None, None, None, None)],
        "a long, b string, c array<double>, d map<string,long>, "
        "e date, f timestamp_ntz, g binary, h boolean")
    path = str(tmp_path / "av")
    n = avro_export(df.repartition(3), path)
    assert n == 3
    back = avro_import(spark, path)
    assert back.schema == df.schema
    key = lambda r: (r["a"],)  # noqa: E731
    got = sorted(back.collect(), key=key)
    want = sorted(df.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    empty = tmp_path / "empty_dir"
    empty.mkdir()
    with pytest.raises(AvroError, match="no .*files"):
        avro_import(spark, str(empty))


def test_avro_import_reads_nested_directories(spark, tmp_path):
    """avro_import lists recursively (its listing is
    media.binary_import's): a container in a subdirectory is read in
    both read modes, and the schema comes from the first file by
    path."""
    schema = json.dumps({"type": "record", "name": "N", "fields": [
        {"name": "k", "type": "long"}]})
    d = tmp_path / "nested"
    (d / "sub" / "deeper").mkdir(parents=True)
    (d / "a.avro").write_bytes(
        avro_encode_file(schema, [{"k": 1}, {"k": 2}]))
    (d / "sub" / "deeper" / "b.avro").write_bytes(
        avro_encode_file(schema, [{"k": 3}]))
    for split in (False, True):
        got = avro_import(spark, str(d), split=split)
        assert sorted(r["k"] for r in got.collect()) == [1, 2, 3]


def test_avro_export_exactness_and_modes(spark, tmp_path):
    """Review r6 closures: int64 beyond 2^53 with nulls survives the
    pandas hop exactly (JVM string detour); NaN stays NaN and null
    stays null for doubles, both directions; stale part files are
    refused by default and removed under mode='overwrite'."""
    big = 9007199254740993  # 2^53 + 1: float64 would round it
    df = spark.createDataFrame(
        [(1, big, float("nan"), [float("nan"), None, 1.5], [3, None]),
         (2, None, None, None, None)],
        "k long, v long, d double, xs array<double>, ys array<long>")
    p = str(tmp_path / "exact")
    avro_export(df.repartition(2), p)
    back = {r["k"]: r for r in avro_import(spark, p).collect()}
    assert back[1]["v"] == big            # exact, not 2^53
    assert back[1]["d"] != back[1]["d"]   # NaN preserved as NaN
    assert back[2]["v"] is None and back[2]["d"] is None
    xs = back[1]["xs"]
    assert xs[0] != xs[0] and xs[1] is None and xs[2] == 1.5
    assert list(back[1]["ys"]) == [3, None]
    # mode semantics
    with pytest.raises(AvroError, match="overwrite"):
        avro_export(df, p)
    n = avro_export(df.repartition(1), p, mode="overwrite")
    assert n == 1
    import glob as g
    assert len(g.glob(p + "/*.avro")) == 1  # stale wider parts removed
    assert avro_import(spark, p).count() == 2


def test_avro_header_only_and_corrupt_block_count(tmp_path):
    """avro_read_header parses only the header (never inflates blocks);
    a corrupt negative block record-count raises instead of silently
    dropping records."""
    import io
    import struct

    blob = avro_encode_file(json.dumps(_SCHEMA), [
        {"k": 1, "s": "a", "f": 0.5, "b": b"", "xs": [], "m": {},
         "flag": False}], codec="deflate")
    from accelerator_spark.sources.avro import avro_read_header

    stream = io.BytesIO(blob)
    schema, codec, sync = avro_read_header(stream)
    assert codec == "deflate" and len(sync) == 16
    assert schema["name"] == "r"
    assert stream.tell() < len(blob)  # blocks untouched
    # corrupt the first block's record count to a negative varint
    pos = stream.tell()
    bad = bytearray(blob)
    bad[pos] = 0x01  # zigzag(-1)
    with pytest.raises(AvroError, match="record-count"):
        avro_decode_file(bytes(bad))


def test_avro_nested_exactness_and_edge_cells(spark, tmp_path):
    """Review r6 second pass: the string detour recurses — int64 in a
    struct child survives exactly past 2^53; array<int> with nulls
    exports instead of crashing; a one-element [None] array stays
    [None] (pd.isna on a len-1 ndarray must not make the cell NULL)."""
    big = 9007199254740993
    df = spark.createDataFrame(
        [(1, {"a": big, "w": 1.5}, [3, None], [None]),
         (2, None, None, ["x"])],
        "k long, s struct<a: long, w: double>, ys array<int>, "
        "zs array<string>")
    p = str(tmp_path / "nested")
    avro_export(df.repartition(2), p)
    back = {r["k"]: r for r in avro_import(spark, p).collect()}
    assert back[1]["s"]["a"] == big
    assert back[1]["s"]["w"] == 1.5
    assert back[2]["s"] is None  # struct-level NULL preserved
    assert list(back[1]["ys"]) == [3, None]
    assert list(back[1]["zs"]) == [None]
    assert list(back[2]["zs"]) == ["x"]


def test_avro_import_plain_nonnull_items_and_recursive_schema(spark, tmp_path):
    """Review r6 second pass: files with plain non-union array items
    (what every external writer emits) import fine; recursive record
    schemas raise a clean AvroError, not RecursionError."""
    import os

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "k", "type": "long"},
        {"name": "xs", "type": {"type": "array", "items": "long"}}]}
    d = tmp_path / "plain"
    d.mkdir()
    with open(os.path.join(str(d), "a.avro"), "wb") as f:
        f.write(avro_encode_file(json.dumps(schema),
                                 [{"k": 7, "xs": [1, 2, 3]}]))
    got = avro_import(spark, str(d)).collect()
    assert len(got) == 1 and list(got[0]["xs"]) == [1, 2, 3]

    rec = {"type": "record", "name": "Node", "fields": [
        {"name": "next", "type": ["null", "Node"]}]}
    d2 = tmp_path / "recur"
    d2.mkdir()
    with open(os.path.join(str(d2), "a.avro"), "wb") as f:
        f.write(avro_encode_file(json.dumps(rec), [{"next": None}]))
    with pytest.raises(AvroError, match="recursive"):
        avro_import(spark, str(d2))


def test_avro_unique_record_names():
    """Review r6 second pass: colliding '_'-joined struct paths get
    deduplicated record names (a duplicate named type is spec-invalid
    for external readers)."""
    from pyspark.sql import types as T

    sdt = T.StructType([
        T.StructField("a_b", T.StructType([
            T.StructField("x", T.IntegerType())]), True),
        T.StructField("a", T.StructType([
            T.StructField("b", T.StructType([
                T.StructField("x", T.IntegerType())]), True)]), True),
    ])
    schema = spark_to_avro_schema(sdt, "row")
    names = []

    def walk(s):
        if isinstance(s, list):
            for x in s:
                walk(x)
        elif isinstance(s, dict):
            if s.get("type") == "record":
                names.append(s["name"])
                for f in s["fields"]:
                    walk(f["type"])
            elif s.get("type") == "array":
                walk(s["items"])
            elif s.get("type") == "map":
                walk(s["values"])

    walk(schema)
    assert len(names) == len(set(names)), names
    # and the schema still parses + maps back
    assert parse_schema(json.dumps(schema)) is not None


# ----------------------------------------------------------------------
# Spec-golden-byte interop proofs (VERDICT r6 #1): round-trip tests pass
# even when encoder+decoder are BOTH wrong the same way (the r6 GIF LZW
# episode). These tests pin the codec to the Avro 1.11 spec itself —
# hand-derived bytes from the spec's zigzag worked examples and container
# layout — and to the bundled Apache Avro *Java reference implementation*
# (avro-1.12.1.jar ships with Spark), in both directions.

_GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "avro")
_GOLDEN_SCHEMA_TEXT = (
    '{"type":"record","name":"R","fields":'
    '[{"name":"a","type":"long"},{"name":"s","type":"string"}]}')
_GOLDEN_RECORDS = [{"a": 1, "s": "foo"}, {"a": -64, "s": ""},
                   {"a": 64, "s": "hi"}]


def _spec_vlong(n: int) -> bytes:
    """Zigzag + varint, written independently of sources/avro.py so the
    expectations below can't inherit a codec bug."""
    z = (n << 1) ^ (n >> 63) if n >= 0 else ((-n - 1) << 1 | 1)
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def test_avro_zigzag_spec_table():
    """Byte-exact zigzag varints per the spec's worked examples
    (Avro 1.11 'Binary Encoding': 0->00, -1->01, 1->02, -2->03, 2->04,
    -64->7f, 64->80 01), both directions."""
    import io
    from accelerator_spark.sources.avro import _read_long, _write_long

    table = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03",
             2: b"\x04", 63: b"\x7e", -64: b"\x7f", 64: b"\x80\x01",
             -65: b"\x81\x01", 2**63 - 1: b"\xfe" + b"\xff" * 8 + b"\x01",
             -(2**63): b"\xff" * 9 + b"\x01"}
    for n, want in table.items():
        out = bytearray()
        _write_long(out, n)
        assert bytes(out) == want, f"encode {n}"
        assert _spec_vlong(n) == want  # the test's own model agrees
        assert _read_long(io.BytesIO(want)) == n, f"decode {n}"


def test_avro_golden_spec_fixture_decode():
    """Decode CONTAINER FILES whose every byte was hand-derived from the
    spec (committed fixtures): magic Obj\\x01, metadata map framing, sync
    repetition per block, zigzag counts/sizes, record payloads. The
    null-codec fixture is re-derived here byte-for-byte so a fixture edit
    can't silently drift; the deflate twin pins raw-DEFLATE (RFC 1951,
    no zlib wrapper) block compression."""
    sync = bytes(range(16))
    st = _GOLDEN_SCHEMA_TEXT.encode()
    header = (b"Obj\x01" + _spec_vlong(2)
              + _spec_vlong(10) + b"avro.codec" + _spec_vlong(4) + b"null"
              + _spec_vlong(11) + b"avro.schema"
              + _spec_vlong(len(st)) + st + b"\x00" + sync)
    body1 = b"\x02" + b"\x06foo" + b"\x7f" + b"\x00"   # {1,"foo"},{-64,""}
    body2 = b"\x80\x01" + b"\x04hi"                     # {64,"hi"}
    derived = (header
               + _spec_vlong(2) + _spec_vlong(len(body1)) + body1 + sync
               + _spec_vlong(1) + _spec_vlong(len(body2)) + body2 + sync)
    with open(os.path.join(_GOLDEN_DIR, "golden_null.avro"), "rb") as f:
        committed = f.read()
    assert committed == derived
    schema, recs = avro_decode_file(committed)
    assert recs == _GOLDEN_RECORDS
    with open(os.path.join(_GOLDEN_DIR, "golden_deflate.avro"), "rb") as f:
        _, recs_d = avro_decode_file(f.read())
    assert recs_d == _GOLDEN_RECORDS


def test_avro_encoder_framing_spec():
    """Validate our ENCODER's output against the spec with a minimal
    independent reader written in this test (magic, metadata map, sync
    repetition, block count/size framing, exact datum bytes) — the
    encode-direction half of the golden-byte proof."""
    import io

    def rd_vlong(buf):
        shift = acc = 0
        while True:
            b = buf.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    sync = bytes(range(16, 32))
    blob = avro_encode_file(_GOLDEN_SCHEMA_TEXT, _GOLDEN_RECORDS,
                            codec="null", sync=sync, block_records=2)
    buf = io.BytesIO(blob)
    assert buf.read(4) == b"Obj\x01"
    meta, n = {}, rd_vlong(buf)
    while n:
        for _ in range(n):
            k = buf.read(rd_vlong(buf)).decode()
            meta[k] = buf.read(rd_vlong(buf))
        n = rd_vlong(buf)
    assert meta["avro.codec"] == b"null"
    assert json.loads(meta["avro.schema"]) == json.loads(_GOLDEN_SCHEMA_TEXT)
    assert buf.read(16) == sync
    # block 1: two records, byte-exact spec payload
    assert rd_vlong(buf) == 2
    size1 = rd_vlong(buf)
    assert buf.read(size1) == b"\x02\x06foo\x7f\x00"
    assert buf.read(16) == sync  # sync repeats after EVERY block
    # block 2: the remaining record
    assert rd_vlong(buf) == 1
    size2 = rd_vlong(buf)
    assert buf.read(size2) == b"\x80\x01\x04hi"
    assert buf.read(16) == sync
    assert buf.read() == b""  # nothing after the last sync


def _java_read_avro(spark, path, fields):
    """Read an .avro file with the bundled Apache Avro JAVA reference
    implementation (org.apache.avro 1.12, via the Spark JVM gateway) —
    a genuinely foreign decoder."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path),
        jvm.org.apache.avro.generic.GenericDatumReader())
    codec = reader.getMetaString("avro.codec")
    out = []
    while reader.hasNext():
        r = reader.next()
        rec = {}
        for f in fields:
            v = r.get(f)
            # py4j hands primitives back as Python natives; Utf8 and
            # ByteBuffer arrive as opaque JavaObjects — ask the JVM
            if v is not None and not isinstance(v, (int, float, bool, str)):
                jcls = v.getClass().getName()
                if jcls.endswith("Utf8"):
                    v = v.toString()
                elif "ByteBuffer" in jcls:
                    arr = jvm.java.util.Arrays.copyOfRange(
                        v.array(), v.position(), v.limit())
                    v = bytes(arr)
                else:
                    raise AssertionError(f"unexpected java type {jcls}")
            rec[f] = v
        out.append(rec)
    reader.close()
    return codec, out


def test_avro_java_reference_interop(spark, tmp_path):
    """Cross-implementation proof in BOTH directions against Apache
    Avro's Java reference implementation (VERDICT r6 #1): files our
    encoder writes must be readable by the real Avro library, and files
    the real library writes must decode to identical records here —
    null and deflate codecs, the full primitive lattice plus a union
    and a date logical type."""
    schema = {"type": "record", "name": "X", "fields": [
        {"name": "k", "type": "long"},
        {"name": "i", "type": "int"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "f", "type": "double"},
        {"name": "g", "type": "float"},
        {"name": "b", "type": "bytes"},
        {"name": "flag", "type": "boolean"},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
    ]}
    recs = [
        {"k": 2**63 - 1, "i": -(2**31), "s": "héllo", "f": 2.5,
         "g": 1.5, "b": b"\x00\xff\x10", "flag": True,
         "d": datetime.date(2024, 2, 29)},
        {"k": -(2**63), "i": 2**31 - 1, "s": None, "f": -0.0,
         "g": -3.0, "b": b"", "flag": False,
         "d": datetime.date(1969, 12, 31)},
    ]
    epoch = datetime.date(1970, 1, 1)
    want_java = [dict(r, d=(r["d"] - epoch).days) for r in recs]
    fields = list(want_java[0])

    for codec in ("null", "deflate"):
        # ours -> Java reference
        p = str(tmp_path / f"ours_{codec}.avro")
        with open(p, "wb") as f:
            f.write(avro_encode_file(json.dumps(schema), recs, codec=codec,
                                     block_records=1))
        jcodec, got = _java_read_avro(spark, p, fields)
        assert jcodec == codec
        assert got == want_java

    # Java reference -> ours (deflate), including the spec-golden
    # fixtures the Java reader must also accept
    jvm = spark._jvm
    parser = jvm.org.apache.avro.Schema.Parser()
    jschema = parser.parse(json.dumps(schema))
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema))
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    jp = str(tmp_path / "java.avro")
    writer.create(jschema, jvm.java.io.File(jp))
    for r in want_java:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        for f in fields:
            v = r[f]
            if isinstance(v, bytes):
                v = jvm.java.nio.ByteBuffer.wrap(bytearray(v) if v else bytearray(b""))
            rec.put(f, v)
        writer.append(rec)
    writer.close()
    with open(jp, "rb") as f:
        _, back = avro_decode_file(f.read())
    # our decoder surfaces the date logical type as datetime.date
    assert back == [dict(r, d=epoch + datetime.timedelta(days=r["d"]))
                    for r in want_java]
    for name in ("golden_null.avro", "golden_deflate.avro"):
        _, jgot = _java_read_avro(
            spark, os.path.join(_GOLDEN_DIR, name), ["a", "s"])
        assert jgot == _GOLDEN_RECORDS


def test_avro_block_split_reads(spark, tmp_path):
    """VERDICT r6 #3: one multi-block container reads as MANY tasks.
    The block index must tile the file exactly (contiguous ranges from
    header end to EOF, whole blocks only), the split read must return
    byte-identical rows to the whole-file read (including the exact
    int64 > 2^53 detour), and corrupt framing must fail the index."""
    from accelerator_spark.sources.avro import (
        avro_block_ranges, avro_read_header)

    schema = {"type": "record", "name": "S", "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "f", "type": "double"},
    ]}
    recs = [{"k": 2**53 + i, "s": None if i % 7 == 0 else f"s{i}",
             "f": i / 3.0} for i in range(60)]
    d = tmp_path / "av"
    d.mkdir()
    p = str(d / "one.avro")
    with open(p, "wb") as f:
        f.write(avro_encode_file(json.dumps(schema), recs, codec="deflate",
                                 block_records=5))  # 12 blocks

    # index: contiguous whole-block tiling of the file
    ranges = avro_block_ranges(p, target_bytes=64)
    assert len(ranges) > 1
    with open(p, "rb") as f:
        avro_read_header(f)
        header_end = f.tell()
    assert ranges[0][0] == header_end
    assert ranges[-1][1] == os.path.getsize(p)
    for (s0, e0, _), (s1, _, _) in zip(ranges, ranges[1:]):
        assert e0 == s1
    assert sum(nb for _, _, nb in ranges) == 12

    # split read == whole-file read, and it actually ran on >1 task:
    # the index stage hands each block range to a task of its own
    whole = avro_import(spark, str(d), split=False)
    split = avro_import(spark, str(d), split=True, target_split_bytes=64)
    assert split.rdd.getNumPartitions() == len(ranges) > 1
    key = lambda r: r["k"]  # noqa: E731
    assert sorted([tuple(r) for r in split.collect()]) == \
           sorted([tuple(r) for r in whole.collect()])
    from pyspark.sql import functions as F
    n_tasks = (split.withColumn("p", F.spark_partition_id())
               .select("p").distinct().count())
    assert n_tasks > 1
    assert split.count() == 60 and split.schema == whole.schema

    # default auto mode picks the split path for local files and agrees
    auto = avro_import(spark, str(d), target_split_bytes=64)
    assert sorted([tuple(r) for r in auto.collect()]) == \
           sorted([tuple(r) for r in whole.collect()])

    # corrupt a block's sync in a copy: the INDEX stage already fails
    blob = bytearray(open(p, "rb").read())
    blob[-1] ^= 0xFF
    p2 = str(d / "broken.avro")
    with open(p2, "wb") as f:
        f.write(bytes(blob))
    with pytest.raises(AvroError, match="sync"):
        avro_block_ranges(p2, target_bytes=64)
    os.remove(p2)

    # a single block larger than the target is its own range
    big = avro_block_ranges(p, target_bytes=1)
    assert [nb for _, _, nb in big] == [1] * 12


def test_avro_split_corrupt_deflate_block_raises_avroerror(spark, tmp_path):
    """Review r7: a corrupt deflate payload (sync intact) must surface
    as AvroError in BOTH read modes — the split path let raw zlib.error
    escape the module's error contract."""
    schema = {"type": "record", "name": "Z",
              "fields": [{"name": "k", "type": "long"}]}
    recs = [{"k": i} for i in range(20)]
    d = tmp_path / "av"
    d.mkdir()
    p = str(d / "z.avro")
    blob = bytearray(avro_encode_file(json.dumps(schema), recs,
                                      codec="deflate", block_records=5))
    # overwrite the FIRST block's compressed payload with 0xFF bytes:
    # deflate reads BTYPE=3 (reserved) -> guaranteed inflate error,
    # while count/size/sync framing stays intact (a trailing-byte flip
    # can silently still inflate)
    import io as _io
    from accelerator_spark.sources.avro import _read_long, avro_read_header
    buf = _io.BytesIO(bytes(blob))
    avro_read_header(buf)
    _read_long(buf)            # block record-count
    size = _read_long(buf)     # payload byte-size
    start = buf.tell()
    blob[start:start + size] = b"\xff" * size
    with open(p, "wb") as f:
        f.write(bytes(blob))
    for split in (False, True):
        df = avro_import(spark, str(d), split=split,
                         target_split_bytes=64)
        with pytest.raises(Exception, match="AvroError|deflate|sync"):
            df.collect()


def test_snappy_spec_golden_bytes():
    """Pure-Python raw-snappy decompressor (VERDICT r7 #3) against
    streams hand-authored from the format description
    (snappy/format_description.txt): literals (short and 1-extra-
    length-byte forms), copy-1 with an overlapping run, copy-2 with
    offset 1 (byte repetition), copy-4, and the malformed lattice."""
    from accelerator_spark.sources.avro import _snappy_uncompress

    # litera l"abc", copy-1 offset 3 len 9 (overlap run), literal "X"
    assert _snappy_uncompress(b"\x0d\x08abc\x15\x03\x00X") \
        == b"abcabcabcabcX"
    # literal "a", copy-2 offset 1 len 20 -> "a" * 21
    assert _snappy_uncompress(b"\x15\x00a\x4e\x01\x00") == b"a" * 21
    # 100-byte literal via the 60-marker (1 extra length byte)
    body = bytes(range(100))
    assert _snappy_uncompress(b"\x64\xf0\x63" + body) == body
    # copy-4: literal "ab", copy len 2 offset 2 via 4-byte offset
    assert _snappy_uncompress(
        b"\x04\x04ab" + bytes([(2 - 1) << 2 | 3]) + b"\x02\x00\x00\x00"
    ) == b"abab"
    # malformed lattice
    for blob, msg in [
        (b"", "truncated length"),
        (b"\x05\x08ab", "literal overruns"),
        (b"\x02\x00a\x15\x03\x00", "outside output"),   # off 3 > out 1
        (b"\x02\x00a\x15\x00\x00", "outside output"),   # off 0
        (b"\x01\x00a\x11\x01", "overruns declared"),    # copy past len
        (b"\x0d\x08abc", "declared 13 bytes, produced 3"),
        (b"\xff\xff\xff\xff\xff\xff", "varint too long"),
    ]:
        with pytest.raises(AvroError, match=msg):
            _snappy_uncompress(blob)


def test_avro_snappy_container_hand_framed():
    """A snappy-codec container framed by hand (header metadata +
    count/size varints + compressed payload + the spec's 4-byte
    BIG-endian CRC32 of the uncompressed data + sync) decodes to the
    records; a corrupted CRC raises AvroError, and export refuses the
    codec (read-only by scope)."""
    import zlib

    from accelerator_spark.sources.avro import avro_encode_file

    schema = '{"type":"record","name":"R","fields":' \
             '[{"name":"a","type":"long"}]}'
    # payload: two records a=1, a=2 -> zigzag varints 02 04
    raw = b"\x02\x04"
    comp = b"\x02" + bytes([(len(raw) - 1) << 2]) + raw  # one literal
    crc = zlib.crc32(raw).to_bytes(4, "big")
    sync = b"\x07" * 16
    # header (magic + meta + sync) from encoding zero records, with
    # the codec metadata string swapped null -> snappy byte-wise
    hdr = avro_encode_file(schema, [], codec="null", sync=sync)
    hdr = hdr.replace(b"\x08null", b"\x0csnappy")
    blob = hdr + b"\x04" + _spec_vlong(len(comp) + 4) \
        + comp + crc + sync
    got_schema, recs = avro_decode_file(blob)
    assert recs == [{"a": 1}, {"a": 2}]
    bad = blob.replace(crc + sync, b"\xde\xad\xbe\xef" + sync)
    with pytest.raises(AvroError, match="CRC32 mismatch"):
        avro_decode_file(bad)
    with pytest.raises(AvroError, match="read-only"):
        avro_encode_file(schema, [{"a": 1}], codec="snappy")


def test_avro_snappy_java_written_container(spark, tmp_path):
    """The foreign cross-check (VERDICT r7 #3): a snappy container
    written by the Apache Avro JAVA reference implementation (via the
    bundled snappy-java codec) decodes to identical records through
    our pure-Python snappy path — single-file decode AND the
    distributed block-split import."""
    from accelerator_spark.sources.avro import avro_import

    schema = {"type": "record", "name": "S", "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
    ]}
    recs = [{"k": i, "s": None if i % 7 == 0 else f"text-{i}" * (i % 5)}
            for i in range(500)]
    jvm = spark._jvm
    parser = jvm.org.apache.avro.Schema.Parser()
    jschema = parser.parse(json.dumps(schema))
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema))
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.snappyCodec())
    # small sync interval -> many blocks, so the split index has real
    # block boundaries to cut at
    writer.setSyncInterval(256)
    d = tmp_path / "snappy_dir"
    d.mkdir()
    jp = str(d / "java_snappy.avro")
    writer.create(jschema, jvm.java.io.File(jp))
    for r in recs:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("k", r["k"])
        rec.put("s", r["s"])
        writer.append(rec)
    writer.close()
    with open(jp, "rb") as f:
        _, back = avro_decode_file(f.read())
    assert back == recs
    # distributed import, forced through the block-split range path
    df = avro_import(spark, str(d), target_split_bytes=512)
    got = sorted((r["k"], r["s"]) for r in df.collect())
    assert got == [(r["k"], r["s"]) for r in recs]


def test_avro_bzip2_xz_codecs_java_interop(spark, tmp_path):
    """bzip2 and xz are the two optional Avro codecs stdlib can do in
    BOTH directions (bz2/lzma); files our encoder writes must be
    readable by the Apache Avro Java reference implementation
    (commons-compress / org.tukaani xz, both bundled) and vice versa,
    plus the distributed block-split import over an xz container."""
    from accelerator_spark.sources.avro import avro_import

    schema = {"type": "record", "name": "Z", "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": "string"},
    ]}
    recs = [{"k": i, "s": f"row-{i}" * (i % 4)} for i in range(300)]
    fields = ["k", "s"]
    jvm = spark._jvm
    factory = jvm.org.apache.avro.file.CodecFactory

    for codec, jcodec in [("bzip2", factory.bzip2Codec()),
                          ("xz", factory.xzCodec(6))]:
        # ours -> Java
        p = str(tmp_path / f"ours_{codec}.avro")
        with open(p, "wb") as f:
            f.write(avro_encode_file(json.dumps(schema), recs,
                                     codec=codec, block_records=64))
        got_codec, got = _java_read_avro(spark, p, fields)
        assert got_codec == codec
        assert got == recs
        # Java -> ours
        parser = jvm.org.apache.avro.Schema.Parser()
        jschema = parser.parse(json.dumps(schema))
        writer = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(jschema))
        writer.setCodec(jcodec)
        writer.setSyncInterval(256)
        d = tmp_path / f"dir_{codec}"
        d.mkdir()
        jp = str(d / f"java_{codec}.avro")
        writer.create(jschema, jvm.java.io.File(jp))
        for r in recs:
            rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
            rec.put("k", r["k"])
            rec.put("s", r["s"])
            writer.append(rec)
        writer.close()
        with open(jp, "rb") as f:
            _, back = avro_decode_file(f.read())
        assert back == recs
        # split path decodes the multi-block Java file identically
        df = avro_import(spark, str(d), target_split_bytes=512)
        assert sorted((r["k"], r["s"]) for r in df.collect()) == \
            [(r["k"], r["s"]) for r in recs]
    # corrupt bzip2/xz payloads surface as AvroError, not bz2/lzma
    blob = bytearray(avro_encode_file(json.dumps(schema), recs[:5],
                                      codec="xz"))
    blob[-20] ^= 0xFF
    with pytest.raises(AvroError, match="xz block failed|truncated|sync"):
        avro_decode_file(bytes(blob))


def test_avro_export_bad_codec_fails_before_overwrite(spark, tmp_path):
    """Review r8: a bad codec must fail at the driver BEFORE
    mode='overwrite' deletes the previous export."""
    df = spark.createDataFrame([(1,)], "a long")
    path = str(tmp_path / "keepme")
    avro_export(df, path)
    files = sorted(os.listdir(path))
    assert files
    with pytest.raises(AvroError, match="read-only"):
        avro_export(df, path, codec="snappy", mode="overwrite")
    assert sorted(os.listdir(path)) == files  # nothing was deleted
