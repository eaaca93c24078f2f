"""Pure-Python Avro Object Container source/sink.

This container ships neither the ``spark-avro`` external module nor any
Python avro library (verified absent — PARITY.md), so Avro joined the
PNG/WAV pattern: the format's building blocks are all stdlib (zigzag
varints + struct floats + zlib deflate), and a complete Object
Container Format codec is a few hundred lines. ``avro_import`` reads
a directory of .avro files distributed (binaryFile scan, one Python
decode per file or block range, Arrow-batched back into Spark rows); ``avro_export``
writes one container file per partition into a shared directory — the
same per-slice file model the reference uses for its workdirs
(/root/reference/accelerator/dataset.py writes one file per slice).

Scope (spec 1.11.x Object Container Format):
- codecs: null, deflate (raw zlib), bzip2, xz read+write (bz2/lzma
  are stdlib BOTH ways, so the optional-codec pair is symmetric,
  Java-interop-checked in tests/test_avro.py); snappy READ (pure-
  Python raw-snappy block decoder + the spec's 4-byte big-endian CRC32
  of the uncompressed data, VERDICT r7 #3 — cross-checked against
  containers the Apache Avro Java reference implementation writes via
  snappy-java). Snappy stays read-only: corpora ARRIVE snappy-framed
  (it's ubiquitous), but what we write is our choice and stdlib has no
  snappy compressor — deflate stays the default sink codec.
- types: null boolean int long float double bytes string fixed enum
  record array map union; named-type references; logical types
  date (int), timestamp-millis/micros (long) mapped to Spark
  DateType/TimestampType. Other logical types decode as their base.
- unions: arbitrary on read for [null, X] shapes; export emits
  [null, X] for nullable columns.
Files SPLIT on block boundaries (VERDICT r6 #3): Avro's sync markers
exist precisely to make containers splittable, and the block framing
(record-count varint, byte-size varint, payload, sync) is
self-describing — so the split index is exact, not a probabilistic
sync search. ``avro_import`` runs two distributed stages when files
are locally readable (local paths, NFS/fuse mounts): stage 1 walks
each file's framing reading ~20 bytes per block plus seeks and emits
(file, byte-range) pairs of ~target_split_bytes; stage 2 fans the
ranges out and each task decodes only its range — one 10 GB file
becomes ~80 tasks instead of one task holding the whole blob
(``shards.read_ranges``). Paths only a JVM filesystem connector can
reach (hdfs://, s3a://) fall back to whole-file decode through the
shared read stage (``shards.read_files``).
"""

from __future__ import annotations

import bz2
import io
import json
import lzma
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import shards

_MAGIC = b"Obj\x01"


class AvroError(ValueError):
    """Malformed or unsupported-by-scope Avro input."""


# ---------------------------------------------------------------- binary
def _read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise AvroError("truncated varint")
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            break
        shift += 7
        if shift > 70:
            raise AvroError("varint too long")
    return (acc >> 1) ^ -(acc & 1)  # zigzag


def _write_long(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n >= 0 else ((-n - 1) << 1 | 1)
    # the line above is equivalent to the canonical (n << 1) ^ (n >> 63)
    # for 64-bit two's complement, but works on Python's unbounded ints
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    if n < 0:
        raise AvroError("negative byte-length")
    data = buf.read(n)
    if len(data) != n:
        raise AvroError("truncated bytes")
    return data


# ---------------------------------------------------------------- schema
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "bytes", "string"}


def _resolve(schema, names: dict):
    """Normalize a schema node: strings resolve named types, dicts keep
    their attrs, lists are unions. Registers named types."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return schema
        if schema in names:
            return names[schema]
        raise AvroError(f"unknown type name {schema!r}")
    if isinstance(schema, list):
        return [_resolve(s, names) for s in schema]
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "enum", "fixed"):
            name = schema.get("name")
            if not name:
                raise AvroError(f"{t} without a name")
            full = (schema.get("namespace", "") + "." + name).lstrip(".")
            names[name] = schema
            names[full] = schema
            # attribute validation HERE, not at datum-read time: a
            # crafted header otherwise leaks KeyError from executor
            # tasks (fuzz round 10)
            if t == "fixed" and not isinstance(schema.get("size"), int):
                raise AvroError(f"fixed {name!r} without an int size")
            if t == "enum" and not isinstance(schema.get("symbols"),
                                              list):
                raise AvroError(f"enum {name!r} without symbols")
            if t == "record":
                if not isinstance(schema.get("fields"), list):
                    raise AvroError(
                        f"record {name!r} without a fields list")
                # resolve field schemas AFTER registering (recursion)
                for f in schema.get("fields", []):
                    if (not isinstance(f, dict) or "type" not in f
                            or not isinstance(f.get("name"), str)):
                        raise AvroError(
                            f"record {name!r}: field must be a dict "
                            f"with name and type, got {f!r}")
                    f["type"] = _resolve(f["type"], names)
            return schema
        if t == "array":
            if "items" not in schema:
                raise AvroError("array schema without items")
            schema["items"] = _resolve(schema["items"], names)
            return schema
        if t == "map":
            if "values" not in schema:
                raise AvroError("map schema without values")
            schema["values"] = _resolve(schema["values"], names)
            return schema
        if t in _PRIMITIVES:
            return schema  # primitive with logicalType attrs
        if isinstance(t, (dict, list)):
            return _resolve(t, names)
        raise AvroError(f"unsupported schema node {schema!r}")
    raise AvroError(f"unsupported schema node {schema!r}")


def parse_schema(text: str):
    return _resolve(json.loads(text), {})


def _type_of(schema):
    return schema if isinstance(schema, str) else (
        "union" if isinstance(schema, list) else schema["type"])


def _logical(schema):
    return schema.get("logicalType") if isinstance(schema, dict) else None


# ---------------------------------------------------------------- datum
def _read_datum(buf: io.BytesIO, schema):
    t = _type_of(schema)
    if t == "null":
        return None
    if t == "boolean":
        b = buf.read(1)
        if not b:
            raise AvroError("truncated boolean")
        return b[0] == 1
    if t in ("int", "long"):
        v = _read_long(buf)
        lt = _logical(schema)
        if lt == "date":
            import datetime
            return datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            import datetime
            return (datetime.datetime(1970, 1, 1)
                    + datetime.timedelta(microseconds=v))
        if lt in ("timestamp-millis", "local-timestamp-millis"):
            import datetime
            return (datetime.datetime(1970, 1, 1)
                    + datetime.timedelta(milliseconds=v))
        return v
    if t == "float":
        b = buf.read(4)
        if len(b) != 4:
            raise AvroError("truncated float")
        return struct.unpack("<f", b)[0]
    if t == "double":
        b = buf.read(8)
        if len(b) != 8:
            raise AvroError("truncated double")
        return struct.unpack("<d", b)[0]
    if t == "bytes":
        return _read_bytes(buf)
    if t == "string":
        try:
            return _read_bytes(buf).decode("utf-8")
        except UnicodeDecodeError as e:
            raise AvroError(f"invalid utf-8 in string datum: {e}") \
                from None
    if t == "fixed":
        data = buf.read(schema["size"])
        if len(data) != schema["size"]:
            raise AvroError("truncated fixed")
        return data
    if t == "enum":
        idx = _read_long(buf)
        symbols = schema["symbols"]
        if not 0 <= idx < len(symbols):
            raise AvroError(f"enum index {idx} out of range")
        return symbols[idx]
    if t == "union":
        idx = _read_long(buf)
        if not 0 <= idx < len(schema):
            raise AvroError(f"union index {idx} out of range")
        return _read_datum(buf, schema[idx])
    if t == "record":
        return {f["name"]: _read_datum(buf, f["type"])
                for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                _read_long(buf)  # block byte-size (skippable hint)
            for _ in range(n):
                out.append(_read_datum(buf, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                try:
                    k = _read_bytes(buf).decode("utf-8")
                except UnicodeDecodeError as e:
                    raise AvroError(
                        f"invalid utf-8 in map key: {e}") from None
                out[k] = _read_datum(buf, schema["values"])
    raise AvroError(f"unsupported type {t!r}")


def _write_datum(out: bytearray, schema, v) -> None:
    t = _type_of(schema)
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if v else 0)
    elif t in ("int", "long"):
        lt = _logical(schema)
        if lt == "date":
            import datetime
            v = (v - datetime.date(1970, 1, 1)).days
        elif lt in ("timestamp-micros", "local-timestamp-micros"):
            import datetime
            d = v - datetime.datetime(1970, 1, 1)
            v = (d.days * 86_400_000_000 + d.seconds * 1_000_000
                 + d.microseconds)
        elif lt in ("timestamp-millis", "local-timestamp-millis"):
            import datetime
            d = v - datetime.datetime(1970, 1, 1)
            v = (d.days * 86_400_000 + d.seconds * 1000
                 + d.microseconds // 1000)
        if isinstance(v, str):
            # avro_export detours long leaves through JVM-side strings
            # (exact — pandas would round int64-with-nulls via float64)
            v = int(v)
        elif isinstance(v, float):
            # direct-API floats: coerce exactly or raise; NOTE this path
            # cannot distinguish 2^53+1 passed as float (already lossy
            # at the caller) — pass ints or strings for exactness
            if not v.is_integer():
                raise AvroError(f"non-integral value {v!r} for {t}")
            v = int(v)
        v = int(v)
        # range-check per spec width (ADVICE r6): an out-of-range value
        # through the direct encode API would emit an out-of-spec varint
        # that strict external readers overflow on or reject. (The Spark
        # export path can't hit this — IntegerType/LongType are bounded.)
        if t == "int" and not -(1 << 31) <= v < (1 << 31):
            raise AvroError(f"value {v} out of range for int (32-bit)")
        if t == "long" and not -(1 << 63) <= v < (1 << 63):
            raise AvroError(f"value {v} out of range for long (64-bit)")
        _write_long(out, v)
    elif t == "float":
        out.extend(struct.pack("<f", float(v) if isinstance(v, str) else v))
    elif t == "double":
        out.extend(struct.pack("<d", float(v) if isinstance(v, str) else v))
    elif t == "bytes":
        _write_long(out, len(v))
        out.extend(v)
    elif t == "string":
        b = v.encode("utf-8")
        _write_long(out, len(b))
        out.extend(b)
    elif t == "fixed":
        if len(v) != schema["size"]:
            raise AvroError("fixed size mismatch")
        out.extend(v)
    elif t == "enum":
        _write_long(out, schema["symbols"].index(v))
    elif t == "union":
        # emit the first matching branch (null vs not-null covers the
        # [null, X] shapes export produces)
        for i, branch in enumerate(schema):
            if (v is None) == (_type_of(branch) == "null"):
                _write_long(out, i)
                _write_datum(out, branch, v)
                return
        raise AvroError("no union branch matched value")
    elif t == "record":
        for f in schema["fields"]:
            _write_datum(out, f["type"], v.get(f["name"]))
    elif t == "array":
        # len(), not truthiness: Arrow hands array cells to Python as
        # numpy arrays, whose bool() raises on >1 element
        if len(v):
            _write_long(out, len(v))
            for item in v:
                _write_datum(out, schema["items"], item)
        _write_long(out, 0)
    elif t == "map":
        if len(v):
            _write_long(out, len(v))
            for k, item in v.items():
                kb = k.encode("utf-8")
                _write_long(out, len(kb))
                out.extend(kb)
                _write_datum(out, schema["values"], item)
        _write_long(out, 0)
    else:
        raise AvroError(f"unsupported type {t!r}")


# ------------------------------------------------------------- container
def avro_read_header(stream):
    """Parse ONLY the container header from a readable binary stream
    (magic, metadata map, sync marker) — reads a few KB, never the
    blocks, so the driver can learn a multi-GB file's schema cheaply
    (review r6). Returns (schema, codec, sync)."""
    if stream.read(4) != _MAGIC:
        raise AvroError("not an Avro object container (bad magic)")
    meta = _read_datum(stream, {"type": "map", "values": "bytes"})
    sync = stream.read(16)
    if len(sync) != 16:
        raise AvroError("truncated header")
    try:
        codec = meta.get("avro.codec", b"null").decode()
    except UnicodeDecodeError as e:
        raise AvroError(f"invalid utf-8 in avro.codec: {e}") from None
    if codec not in ("null", "deflate", "snappy", "bzip2", "xz"):
        raise AvroError(f"unsupported codec {codec!r} "
                        "(null/deflate/snappy/bzip2/xz only)")
    if "avro.schema" not in meta:
        raise AvroError("container header has no avro.schema")
    try:
        schema = parse_schema(meta["avro.schema"].decode("utf-8"))
    except (ValueError, UnicodeDecodeError) as e:
        if isinstance(e, AvroError):
            raise
        raise AvroError(f"bad avro.schema in header: {e}") from None
    return schema, codec, sync


def avro_block_ranges(local: str, target_bytes: int = 128 << 20) -> list:
    """Walk one container's block framing and coalesce consecutive
    blocks into byte ranges of >= target_bytes (always whole blocks;
    a single block bigger than the target is its own range). Exact by
    construction — the framing is self-describing, so no probabilistic
    sync-pattern search (a sync-sized byte string CAN occur inside
    data). Reads ~20 bytes per block plus seeks: indexing a 10 GB file
    touches kilobytes. Returns [(start, end, n_blocks), ...]."""
    ranges = []
    with open(local, "rb") as f:
        _, _, sync = avro_read_header(f)
        r_start = pos = f.tell()
        r_blocks = 0
        while True:
            head = f.read(1)
            if not head:
                break  # clean EOF at a block boundary
            f.seek(-1, io.SEEK_CUR)
            n = _read_long(f)
            if n < 0:
                raise AvroError(f"corrupt block record-count {n}")
            size = _read_long(f)
            if size < 0:
                raise AvroError("negative block size")
            f.seek(size, io.SEEK_CUR)
            if f.read(16) != sync:
                raise AvroError("sync marker mismatch (corrupt block)")
            pos = f.tell()
            r_blocks += 1
            if pos - r_start >= target_bytes:
                ranges.append((r_start, pos, r_blocks))
                r_start, r_blocks = pos, 0
        if r_blocks:
            ranges.append((r_start, pos, r_blocks))
    return ranges


def _snappy_uncompress(data: bytes) -> bytes:
    """Pure-Python raw-Snappy (block format) decompressor (VERDICT r7
    #3). The format is a little-endian-varint uncompressed length
    followed by tagged elements — 2-bit type in the tag's low bits:
    00 literal (length in the high 6 bits, 60..63 meaning 1..4 extra
    LE length bytes), 01 copy with 3-bit length and 11-bit offset
    (3 high tag bits + 1 byte), 10 copy with 6-bit length and 2-byte
    LE offset, 11 copy with 6-bit length and 4-byte LE offset. Copies
    may overlap their own output (offset < length = run repetition).
    Decompression only — Avro corpora ARRIVE snappy-framed; what we
    write is deflate (module scope note)."""
    n = len(data)
    pos = 0
    # preamble: uncompressed length, LE base-128 varint
    out_len = shift = 0
    while True:
        if pos >= n:
            raise AvroError("snappy: truncated length preamble")
        b = data[pos]
        pos += 1
        out_len |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
        if shift > 35:
            raise AvroError("snappy: length varint too long")
    out = bytearray()
    while pos < n:
        tag = data[pos]
        pos += 1
        ttype = tag & 3
        if ttype == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                extra = ln - 59
                if pos + extra > n:
                    raise AvroError("snappy: truncated literal length")
                ln = int.from_bytes(data[pos:pos + extra], "little")
                pos += extra
            ln += 1
            if pos + ln > n:
                raise AvroError("snappy: literal overruns input")
            out += data[pos:pos + ln]
            pos += ln
            continue
        if ttype == 1:   # copy, 1 extra offset byte
            ln = 4 + ((tag >> 2) & 0x7)
            if pos >= n:
                raise AvroError("snappy: truncated copy-1 offset")
            off = ((tag & 0xE0) << 3) | data[pos]
            pos += 1
        elif ttype == 2:  # copy, 2-byte LE offset
            ln = (tag >> 2) + 1
            if pos + 2 > n:
                raise AvroError("snappy: truncated copy-2 offset")
            off = int.from_bytes(data[pos:pos + 2], "little")
            pos += 2
        else:             # copy, 4-byte LE offset
            ln = (tag >> 2) + 1
            if pos + 4 > n:
                raise AvroError("snappy: truncated copy-4 offset")
            off = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise AvroError(f"snappy: copy offset {off} outside output")
        if len(out) + ln > out_len:
            raise AvroError("snappy: copy overruns declared length")
        if off >= ln:
            start = len(out) - off
            out += out[start:start + ln]
        else:
            # overlapping run: repeat byte-window until filled
            start = len(out) - off
            for i in range(ln):
                out.append(out[start + i])
    if len(out) != out_len:
        raise AvroError(f"snappy: declared {out_len} bytes, "
                        f"produced {len(out)}")
    return bytes(out)


def _read_block(buf, sync: bytes, codec: str):
    """Read ONE container block at the cursor — count varint, payload
    (inflated for deflate), sync verification — and return
    (record_count, payload_bytes). Shared by avro_decode_file and the
    split-range decode (review r7: the two block loops had already
    drifted, and the range copy let zlib.error escape the AvroError
    contract)."""
    n = _read_long(buf)
    if n < 0:
        # negative counts are legal only inside array/map blocks; a
        # container block count must be positive — silently reading
        # zero records here would shrink the data without an error
        raise AvroError(f"corrupt block record-count {n}")
    block = _read_bytes(buf)
    if buf.read(16) != sync:
        raise AvroError("sync marker mismatch (corrupt block)")
    if codec == "deflate":
        try:
            block = zlib.decompress(block, -15)
        except zlib.error as e:
            raise AvroError(f"deflate block failed: {e}") from None
    elif codec == "snappy":
        # Avro frames each snappy block as compressed-bytes + 4-byte
        # BIG-endian CRC32 of the UNCOMPRESSED data (spec §"Required
        # Codecs"/snappy)
        if len(block) < 4:
            raise AvroError("snappy block too short for its CRC32")
        block, crc = _snappy_uncompress(block[:-4]), block[-4:]
        if zlib.crc32(block) != int.from_bytes(crc, "big"):
            raise AvroError("snappy block CRC32 mismatch")
    elif codec == "bzip2":
        try:
            block = bz2.decompress(block)
        except (OSError, ValueError) as e:
            raise AvroError(f"bzip2 block failed: {e}") from None
    elif codec == "xz":
        try:
            block = lzma.decompress(block, format=lzma.FORMAT_XZ)
        except lzma.LZMAError as e:
            raise AvroError(f"xz block failed: {e}") from None
    return n, block


def avro_decode_file(data: bytes):
    """Decode one Object Container file -> (schema, list of records)."""
    buf = io.BytesIO(data)
    schema, codec, sync = avro_read_header(buf)
    records = []
    while True:
        head = buf.read(1)
        if not head:
            break  # clean EOF at a block boundary
        buf.seek(-1, io.SEEK_CUR)
        n, block = _read_block(buf, sync, codec)
        bbuf = io.BytesIO(block)
        for _ in range(n):
            records.append(_read_datum(bbuf, schema))
    return schema, records


def avro_encode_file(schema, records, codec: str = "deflate",
                     sync: bytes = b"\x07" * 16,
                     block_records: int = 4096) -> bytes:
    """Encode records into one Object Container file."""
    if codec not in ("null", "deflate", "bzip2", "xz"):
        raise AvroError(f"unsupported codec {codec!r} (export writes "
                        "null/deflate/bzip2/xz; snappy is read-only)")
    # metadata carries the ORIGINAL schema text: dumping the resolved
    # form would hit the dict cycle a (legal) recursive record creates
    schema_text = schema if isinstance(schema, str) else json.dumps(schema)
    schema = _resolve(json.loads(schema_text), {})
    out = bytearray(_MAGIC)
    meta = {"avro.schema": schema_text.encode(),
            "avro.codec": codec.encode()}
    _write_datum(out, {"type": "map", "values": "bytes"}, meta)
    out.extend(sync)
    for i in range(0, len(records), block_records):
        chunk = records[i:i + block_records]
        body = bytearray()
        for r in chunk:
            _write_datum(body, schema, r)
        body = bytes(body)
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            body = c.compress(body) + c.flush()
        elif codec == "bzip2":
            body = bz2.compress(body)
        elif codec == "xz":
            body = lzma.compress(body, format=lzma.FORMAT_XZ)
        _write_long(out, len(chunk))
        _write_long(out, len(body))
        out.extend(body)
        out.extend(sync)
    return bytes(out)


# ------------------------------------------------------------ Spark glue
def avro_to_spark_type(schema, _stack: tuple = ()) -> T.DataType:
    if isinstance(schema, (dict, list)):
        if id(schema) in _stack:
            # legal Avro, but relational engines have no recursive rows
            raise AvroError(
                "recursive record schemas cannot map to a Spark type")
        _stack = _stack + (id(schema),)
    t = _type_of(schema)
    lt = _logical(schema)
    if lt == "date":
        return T.DateType()
    if lt in ("timestamp-micros", "timestamp-millis"):
        return T.TimestampType()
    if lt in ("local-timestamp-micros", "local-timestamp-millis"):
        return T.TimestampNTZType()
    simple = {"null": T.NullType(), "boolean": T.BooleanType(),
              "int": T.IntegerType(), "long": T.LongType(),
              "float": T.FloatType(), "double": T.DoubleType(),
              "bytes": T.BinaryType(), "string": T.StringType(),
              "enum": T.StringType(), "fixed": T.BinaryType()}
    if t in simple:
        return simple[t]
    if t == "union":
        non_null = [s for s in schema if _type_of(s) != "null"]
        if len(non_null) != 1:
            raise AvroError("only [null, X] unions map to Spark")
        return avro_to_spark_type(non_null[0], _stack)
    if t == "record":
        return T.StructType([
            T.StructField(f["name"],
                          avro_to_spark_type(f["type"], _stack),
                          _is_nullable(f["type"]))
            for f in schema["fields"]])
    if t == "array":
        return T.ArrayType(avro_to_spark_type(schema["items"], _stack),
                           _is_nullable(schema["items"]))
    if t == "map":
        return T.MapType(T.StringType(),
                         avro_to_spark_type(schema["values"], _stack),
                         _is_nullable(schema["values"]))
    raise AvroError(f"unsupported type {t!r}")


def _is_nullable(schema) -> bool:
    return isinstance(schema, list) and any(
        _type_of(s) == "null" for s in schema)


def spark_to_avro_schema(dt: T.DataType, name: str = "row",
                         nullable: bool = False,
                         _used: set | None = None):
    # _used keeps generated record names UNIQUE: '_'-joined path names
    # can collide ('a_b struct<x>' vs 'a struct<b: struct<x>>' both
    # derive row_a_b), and a duplicate named type is a spec-invalid
    # schema external readers reject (review r6)
    if _used is None:
        _used = set()
    simple = {T.BooleanType: "boolean", T.IntegerType: "int",
              T.ShortType: "int", T.ByteType: "int",
              T.LongType: "long", T.FloatType: "float",
              T.DoubleType: "double", T.BinaryType: "bytes",
              T.StringType: "string"}
    if type(dt) in simple:
        s = simple[type(dt)]
    elif isinstance(dt, T.DateType):
        s = {"type": "int", "logicalType": "date"}
    elif isinstance(dt, T.TimestampNTZType):
        s = {"type": "long", "logicalType": "local-timestamp-micros"}
    elif isinstance(dt, T.TimestampType):
        s = {"type": "long", "logicalType": "timestamp-micros"}
    elif isinstance(dt, T.DecimalType):
        # documents-scale export favors portability over exactness here
        s = "string"
    elif isinstance(dt, T.StructType):
        rec_name, n = name, 2
        while rec_name in _used:
            rec_name = f"{name}_{n}"
            n += 1
        _used.add(rec_name)
        s = {"type": "record", "name": rec_name, "fields": [
            {"name": f.name,
             "type": spark_to_avro_schema(f.dataType, f"{rec_name}_{f.name}",
                                          f.nullable, _used)}
            for f in dt.fields]}
    elif isinstance(dt, T.ArrayType):
        s = {"type": "array",
             "items": spark_to_avro_schema(dt.elementType, name + "_item",
                                           dt.containsNull, _used)}
    elif isinstance(dt, T.MapType):
        s = {"type": "map",
             "values": spark_to_avro_schema(dt.valueType, name + "_val",
                                            dt.valueContainsNull, _used)}
    else:
        raise AvroError(f"no avro mapping for Spark type {dt}")
    return ["null", s] if nullable else s


def avro_import(spark: SparkSession, path: str, glob: str = "*.avro",
                split: bool | str = "auto",
                target_split_bytes: int = 128 << 20) -> DataFrame:
    """Read a directory of Avro object containers (recursively: the
    listing is ``media.binary_import``'s) into a DataFrame.
    Distributed two ways (module docstring): when the first file is
    locally readable (default ``split="auto"``), a block-boundary
    index stage fans each file out into ~``target_split_bytes``
    ranges so one huge container decodes on many tasks; otherwise the
    whole files go through the shared read stage
    (``shards.read_files``). ``split=True`` forces range reads (raises
    on remote paths), ``split=False`` forces whole files. The schema
    is taken from the header of the first file by path; files whose
    schema disagrees fail their task loudly (no silent coercion)."""
    from .media import binary_import

    files = binary_import(spark, path, glob=glob).select(
        F.col("media_path").alias("path"), "content")
    first_path = shards.first_path(files)
    if first_path is None:
        raise AvroError(f"no {glob} files under {path}")
    local = shards.as_local(first_path)
    if local:
        # header-only read: a few KB off disk, never the blocks
        with open(local, "rb") as f:
            schema, _, _ = avro_read_header(f)
    else:
        # non-local filesystem: pull ONE file's bytes through Spark
        blob = (files.filter(F.col("path") == first_path)
                .select("content").head()["content"])
        schema, _, _ = avro_read_header(io.BytesIO(bytes(blob)))
    if split is True and local is None:
        raise AvroError(
            f"avro_import(split=True): {first_path} is not locally "
            "readable — range reads need OS-level file access")
    do_split = split is True or (split == "auto" and local is not None)
    sdt = avro_to_spark_type(schema)
    # UTC-instant logical types decode as naive datetimes that Spark's
    # Arrow path re-interprets in SESSION time — the exact hazard the
    # export guard catches; mirror it on import (review r6)
    def _has_utc_instant(s):
        lt = _logical(s)
        if lt in ("timestamp-micros", "timestamp-millis"):
            return True
        if isinstance(s, list):
            return any(_has_utc_instant(x) for x in s)
        if isinstance(s, dict):
            t = s.get("type")
            if t == "record":
                return any(_has_utc_instant(f["type"]) for f in s["fields"])
            if t == "array":
                return _has_utc_instant(s["items"])
            if t == "map":
                return _has_utc_instant(s["values"])
        return False

    if _has_utc_instant(schema):
        tz = spark.conf.get("spark.sql.session.timeZone", "")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise AvroError(
                f"avro_import of timestamp-micros/millis needs an UTC "
                f"session (got {tz!r}): the spec-UTC instants would be "
                "re-interpreted as session-local on the Arrow hop")
    if not isinstance(sdt, T.StructType):
        sdt = T.StructType([T.StructField("value", sdt, True)])
        wrap = True
    else:
        wrap = False
    cols = [f.name for f in sdt.fields]
    # the Python->Arrow hop conflates null with NaN for float64 columns
    # (no null bitmap survives a pandas float column), so long/float/
    # double leaves travel as EXACT strings and are cast back JVM-side —
    # the mirror of avro_export's detour (review r6)
    safe_fields, casts = [], []
    for f in sdt.fields:
        dt = f.dataType
        if _needs_string_detour(dt):
            safe_fields.append(T.StructField(f.name, T.StringType(), True))
            casts.append(F.col(f.name).cast(dt).alias(f.name))
        elif isinstance(dt, T.ArrayType) and _needs_string_detour(dt.elementType):
            safe_fields.append(T.StructField(
                f.name, T.ArrayType(T.StringType(), True), True))
            # cast target relaxes containsNull: Spark refuses casting a
            # nullable-element array to a non-nullable-element one, and
            # plain "items": "long" files derive containsNull=False
            # (review r6)
            casts.append(F.col(f.name).cast(
                T.ArrayType(dt.elementType, True)).alias(f.name))
        elif isinstance(dt, T.MapType) and _needs_string_detour(dt.valueType):
            safe_fields.append(T.StructField(
                f.name, T.MapType(T.StringType(), T.StringType(), True), True))
            casts.append(F.col(f.name).cast(
                T.MapType(dt.keyType, dt.valueType, True)).alias(f.name))
        else:
            safe_fields.append(f)
            casts.append(F.col(f.name))
    safe_sdt = T.StructType(safe_fields)
    detoured = [i for i, (a, b) in enumerate(zip(safe_fields, sdt.fields))
                if a.dataType != b.dataType]

    def _exact_str(x):
        if x is None:
            return None
        if isinstance(x, int):
            return str(x)
        if x != x:
            return "NaN"
        if x == float("inf"):
            return "Infinity"
        if x == float("-inf"):
            return "-Infinity"
        return repr(x)

    det = set(detoured)

    def _rows_from(records):
        """records -> row tuples (shared by whole-file and range decode)."""
        if wrap:
            rows = [(r,) for r in records]
        else:
            # a [null, record] top-level union can yield None
            # datums — surface them as all-NULL rows (Spark has
            # no null-row concept), review r6
            none_row = (None,) * len(cols)
            rows = [none_row if r is None
                    else tuple(r.get(c) for c in cols)
                    for r in records]
        if det:
            fixed = []
            for row in rows:
                row = list(row)
                for i in det:
                    v = row[i]
                    if isinstance(v, list):
                        row[i] = [_exact_str(e) for e in v]
                    elif isinstance(v, dict):
                        row[i] = {k: _exact_str(e)
                                  for k, e in v.items()}
                    else:
                        row[i] = _exact_str(v)
                fixed.append(tuple(row))
            rows = fixed
        return rows

    _schema_mismatch = ("file schema differs from the directory's first "
                        "file — mixed-schema avro directories are not "
                        "merged")
    expect = json.dumps(parse_schema(json.dumps(schema)))

    def decode(p, data):
        fschema, records = avro_decode_file(data)
        if json.dumps(fschema) != expect:
            raise AvroError(_schema_mismatch)
        return _rows_from(records)

    def index(sp):
        local = shards.as_local(sp)
        if local is None:
            raise AvroError(
                f"avro_import: {sp} is not locally readable — use "
                "avro_import(split=False) for remote filesystems")
        for start, end, n_blocks in avro_block_ranges(
                local, target_split_bytes):
            yield local, start, end, n_blocks

    def decode_range(local, start, end, n_blocks):
        with open(local, "rb") as f:
            fschema, codec, sync = avro_read_header(f)
            if json.dumps(fschema) != expect:
                raise AvroError(_schema_mismatch)
            f.seek(start)
            records = []
            for _ in range(n_blocks):
                n, block = _read_block(f, sync, codec)
                bbuf = io.BytesIO(block)
                for _ in range(n):
                    records.append(_read_datum(bbuf, fschema))
            if f.tell() != end:
                raise AvroError(
                    f"range decode drift: ended at {f.tell()}, "
                    f"index said {end} (file changed under us?)")
        return _rows_from(records)

    if do_split:
        out = shards.read_ranges(files.select("path"), index, decode_range,
                                 safe_sdt)
    else:
        out = shards.read_files(files, safe_sdt, decode)
    return out.select(*casts)


def _needs_string_detour(dt: T.DataType) -> bool:
    """Leaves that pandas/Arrow would corrupt on the Python hop: any
    integer type inside a nullable context becomes float64 (silently
    rounds int64 > 2^53; null markers arrive as NaN and crash integer
    writes), and float/double NaN is indistinguishable from null.
    Detour them through JVM-side strings (Spark's double->string is
    Java Double.toString — exact round-trip, 'NaN'/'Infinity'
    included); _write_datum parses the strings back while the avro
    schema keeps the true type."""
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType, T.FloatType, T.DoubleType))


def _detour_needed(dt: T.DataType) -> bool:
    if _needs_string_detour(dt):
        return True
    if isinstance(dt, T.ArrayType):
        return _detour_needed(dt.elementType)
    if isinstance(dt, T.MapType):
        return _detour_needed(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_detour_needed(f.dataType) for f in dt.fields)
    return False


def _detour_expr(expr, dt: T.DataType):
    """Recursively rewrite numeric leaves to strings at EVERY nesting
    level — review r6: the corruption reproduces one struct level down
    and inside arrays of any integer type, not just top-level longs."""
    if _needs_string_detour(dt):
        return expr.cast("string")
    if isinstance(dt, T.ArrayType):
        return F.transform(expr, lambda x: _detour_expr(x, dt.elementType))
    if isinstance(dt, T.MapType):
        return F.transform_values(
            expr, lambda _, v: _detour_expr(v, dt.valueType))
    if isinstance(dt, T.StructType):
        rebuilt = F.struct(*[
            _detour_expr(expr.getField(f.name), f.dataType).alias(f.name)
            for f in dt.fields])
        # preserve struct-level NULLs: a rebuilt struct of a null parent
        # would otherwise materialize as non-null all-null children
        return F.when(expr.isNull(), F.lit(None)).otherwise(rebuilt)
    return expr


def _detour_col(c: str, dt: T.DataType):
    if _detour_needed(dt):
        return _detour_expr(F.col(c), dt).alias(c)
    return F.col(c)


def avro_export(df: DataFrame, path: str, codec: str = "deflate",
                mode: str = "error") -> int:
    """Write the DataFrame as one .avro container file per partition
    under ``path`` (shared filesystem — the reference's per-slice file
    model). ``mode``: "error" refuses a directory that already holds
    .avro files (stale parts from a wider previous export would be
    silently merged by avro_import — review r6); "overwrite" removes
    them first. Returns the number of files written.

    TimestampType columns require an UTC session (get_spark pins it):
    the Python hop delivers session-local naive datetimes, and
    encoding those as spec-UTC timestamp-micros under any other zone
    would shift every instant. TimestampNTZType is zone-free and
    always safe.

    Task commit: each ``part-<pid>.avro`` is a ``shards.Shard``;
    raises AvroError at entry when spark.speculation=true (two twins
    of one partition would share one temp name)."""
    shards.require_no_speculation(df, AvroError, "avro_export")
    if codec not in ("null", "deflate", "bzip2", "xz"):
        # validate BEFORE mode='overwrite' deletes anything: executors
        # would reject the codec anyway, but only after the previous
        # export was already destroyed (review r8)
        raise AvroError(f"unsupported codec {codec!r} (export writes "
                        "null/deflate/bzip2/xz; snappy is read-only)")
    if any(isinstance(f.dataType, T.TimestampType) for f in df.schema.fields):
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise AvroError(
                f"avro_export of TimestampType needs an UTC session "
                f"(got {tz!r}): timestamp-micros is a UTC instant but "
                "the Python hop sees session-local naive datetimes. Set "
                "spark.sql.session.timeZone=UTC or use TIMESTAMP_NTZ")
    if mode not in ("error", "overwrite"):
        raise AvroError(f"mode must be 'error' or 'overwrite', got {mode!r}")
    os.makedirs(path, exist_ok=True)
    import glob as _glob

    existing = _glob.glob(os.path.join(path, "*.avro"))
    if existing:
        if mode == "error":
            raise AvroError(
                f"{path} already holds {len(existing)} .avro files — "
                "pass mode='overwrite' to replace them")
        for p in existing:
            os.remove(p)
    schema = spark_to_avro_schema(df.schema, "row")
    schema_json = json.dumps(schema)
    cols = df.columns
    df = df.select([_detour_col(f.name, f.dataType)
                    for f in df.schema.fields])

    def _null_cell(v):
        # pandas nulls arrive as None / NaN / NaT depending on dtype;
        # containers and numpy arrays are never null themselves. The
        # sized check must come BEFORE pd.isna: a 1-element ndarray
        # cell ([None]) returns its ELEMENT's verdict from pd.isna and
        # bool() happily accepts it (review r6 — [None] became NULL)
        if v is None:
            return True
        if hasattr(v, "__len__"):
            return False
        try:
            import pandas as pd

            return bool(pd.isna(v))
        except (TypeError, ValueError):
            return False

    def write_part(batches):
        import pandas as pd

        from pyspark import TaskContext

        part_id = TaskContext.get().partitionId()
        records = []
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                rec = {}
                for c, v in zip(cols, row):
                    if _null_cell(v):
                        rec[c] = None
                    elif isinstance(v, pd.Timestamp):
                        rec[c] = v.to_pydatetime()
                    else:
                        rec[c] = v
                records.append(rec)
        shard = shards.Shard(path, f"part-{part_id:05d}.avro")
        shard.fh.write(avro_encode_file(schema_json, records, codec=codec))
        shard.commit()
        return 1

    return shards.write_partitions(df, write_part)
