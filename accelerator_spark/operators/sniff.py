"""Format sniffing + corpus inventory — plan a mixed 100 TB scrape
from file heads.

A scraped corpus arrives as billions of blobs with lying extensions
and MIME types. The right first move at scale is an INVENTORY pass
that reads only magic bytes and routes each blob to the family
pipeline (image probes, audio probes, document extractors, archive
expanders) — never a decode. ``sniff_format`` classifies from the
head by the magics this package already parses end-to-end (PNG, GIF,
JPEG, WebP, TIFF, BMP; WAV, FLAC, Ogg, MP3; MP4, WebM/Matroska; PDF,
RTF, HTML, XML; OOXML/EPUB zip members; WARC, tar, Avro, Parquet,
Arrow IPC, mbox, JSON, plain text), with gzip members sniffed one
level deep (``.gz``-suffixed format) — the '.warc.gz vs .tar.gz'
distinction a crawl inventory actually needs. ``corpus_inventory``
aggregates (family, format) counts and bytes in one scan.

Map-only; zip disambiguation reads only the central directory, gzip
peeking decompresses at most ``_PEEK`` bytes. Unknown stays unknown —
honest inventory beats optimistic routing.
"""

from __future__ import annotations

import io
import zipfile
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .arrowmap import map_rows

_PEEK = 1024


def _sniff_zip(data: bytes) -> tuple[str, str]:
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            names = set(zf.namelist())
    except Exception:
        # crafted central directories also surface NotImplementedError
        # ("zip file version"), negative-seek ValueError, zlib.error
        # (fuzz round 10) — a sniff classifies, it never raises
        return ("archive", "zip-corrupt")
    if "META-INF/container.xml" in names:
        return ("document", "epub")
    if "word/document.xml" in names:
        return ("document", "docx")
    if "ppt/presentation.xml" in names:
        return ("document", "pptx")
    if "xl/workbook.xml" in names:
        return ("document", "xlsx")
    return ("archive", "zip")


def sniff_format(data: bytes) -> tuple[str, str]:
    """(family, format) from the blob head. Families: image, audio,
    video, document, web, archive, data, text, unknown."""
    if not data:
        return ("unknown", "empty")
    h = data[:_PEEK]
    # ---- exact magics, fixed offsets
    if h.startswith(b"\x89PNG\r\n\x1a\n"):
        return ("image", "png")
    if h.startswith((b"GIF87a", b"GIF89a")):
        return ("image", "gif")
    if h.startswith(b"\xff\xd8\xff"):
        return ("image", "jpeg")
    if h.startswith(b"RIFF") and h[8:12] == b"WEBP":
        return ("image", "webp")
    if h.startswith((b"II*\x00", b"MM\x00*")):
        return ("image", "tiff")
    if h.startswith(b"BM") and len(data) >= 26:
        return ("image", "bmp")
    if h.startswith(b"RIFF") and h[8:12] == b"WAVE":
        return ("audio", "wav")
    if h.startswith(b"fLaC"):
        return ("audio", "flac")
    if h.startswith(b"OggS"):
        return ("audio", "ogg")
    if h.startswith(b"ID3") or (
            len(h) >= 2 and h[0] == 0xFF and (h[1] & 0xE0) == 0xE0):
        return ("audio", "mp3")
    if h[4:8] == b"ftyp":
        return ("video", "mp4")
    if h.startswith(b"\x1aE\xdf\xa3"):
        return ("video", "webm")
    if h.startswith(b"%PDF-"):
        return ("document", "pdf")
    if h.startswith(b"{\\rtf"):
        return ("document", "rtf")
    if h.startswith(b"WARC/"):
        return ("web", "warc")
    if h.startswith(b"Obj\x01"):
        return ("data", "avro")
    if h.startswith(b"PAR1"):
        return ("data", "parquet")
    if h.startswith(b"ARROW1"):
        return ("data", "arrow")
    if h.startswith(b"From "):
        return ("document", "mbox")
    if len(data) > 262 and data[257:262] == b"ustar":
        return ("archive", "tar")
    if h.startswith(b"PK\x03\x04"):
        return _sniff_zip(data)
    if h.startswith(b"\x1f\x8b"):
        # gzip: sniff ONE level into the member (bounded peek)
        try:
            inner = zlib.decompressobj(31).decompress(data[:1 << 16],
                                                      _PEEK)
        except zlib.error:
            return ("archive", "gzip-corrupt")
        fam, fmt = sniff_format(inner)
        if fmt.endswith(".gz") or fmt == "empty":
            return ("archive", "gzip")  # nested/hollow: stop at one level
        return (fam, fmt + ".gz")
    # ---- text heuristics (after every binary magic)
    low = h.lstrip().lower()
    if low.startswith((b"<!doctype html", b"<html")):
        return ("web", "html")
    if low.startswith(b"<?xml"):
        return ("document", "xml")
    if low.startswith((b"{", b"[")):
        return ("text", "json")
    printable = sum(32 <= b < 127 or b in (9, 10, 13) for b in h)
    if printable >= 0.95 * len(h):
        return ("text", "plain")
    return ("unknown", "binary")


SNIFF_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("family", T.StringType(), True),
    T.StructField("format", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), True),
])


def sniff_blobs(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id") -> DataFrame:
    """One (family, format, n_bytes) row per blob — the map stage
    corpus_inventory aggregates; keep it when per-file routing is the
    goal."""
    def per_row(mid, payload):
        if payload is None:
            return [(mid, None, None, None)]
        raw = bytes(payload)
        return [(mid, *sniff_format(raw), len(raw))]

    return map_rows(df, [id_col, payload_col], SNIFF_SCHEMA, per_row)


def corpus_inventory(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """(family, format, n_files, total_bytes) — the planning table a
    mixed-corpus run starts from. One scan + one tiny agg shuffle."""
    return (sniff_blobs(df, payload_col, id_col)
            .groupBy("family", "format")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("n_bytes").alias("total_bytes")))
