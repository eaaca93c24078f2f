"""Format gates: JSONL, ORC, XML, Avro and Arrow IPC round-trips,
WebDataset tar shards, mbox mail, the WARC sink, tensor containers,
PDF / Office / RTF / XLSX text extraction and format sniffing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import gate
from ._common import _doc_media_df, _md5_xor_long, _scratch, _spread, _t
from ..operators.multimodal import (
    extract_document_text, extract_pdf_text, extract_table_cells,
)
from ..operators.sniff import corpus_inventory
from ..sources.arrowipc import arrow_export, arrow_import
from ..sources.avro import avro_export, avro_import
from ..sources.jsonl import jsonlexport, jsonlimport
from ..sources.mail import MAIL_SCHEMA
from ..sources.tar import (
    TAR_SCHEMA, tar_decode_file, tar_export, tar_import, webdataset_group,
)
from ..sources.tensors import TENSOR_SCHEMA, tensor_decode_file
from ..sources.warc import warc_export, warc_import


def pdf_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction end-to-end (r9, VERDICT r8 #3): per
    document a real PDF with 1-3 pages of md5-derived two-line text is
    authored in one of SIX md5-chosen file layouts — classic xref
    table (Flate and uncompressed), cross-reference STREAM with
    PNG-Up-predictor entries, every non-stream object packed into a
    /Type /ObjStm object stream, and LZWDecode / ASCII85Decode
    content streams (r9: the full text-filter menu) — then
    ``extract_pdf_text`` (operators/multimodal.py -> functions/pdf.py)
    parses the object graph back and walks the content-stream text
    operators. The gate value-checks the exact page-joined text and
    the page count across all four layouts; the oracle replays the md5
    string arithmetic with a lateral range join. One Arrow map stage,
    no shuffle."""
    def build_pdf(text: str):
        import hashlib as _hashlib

        from ..functions.pdf import pdf_build

        h = _hashlib.md5(text.encode("utf-8")).hexdigest()
        k = int(h[0:2], 16) % 3 + 1
        variant = int(h[2:4], 16) % 6
        pages = [f"A{i}-{h[2 * i:2 * i + 6]}\nB{i}-{h[2 * i + 2:2 * i + 8]}"
                 for i in range(k)]
        kw = [dict(), dict(compress=False),
              dict(xref_stream=True, predictor=True),
              dict(use_objstm=True), dict(content_filter="lzw"),
              dict(content_filter="a85")][variant]
        return pdf_build(pages, **kw), "application/pdf"

    media = _doc_media_df(spark, sf_dir, build_pdf)
    return extract_pdf_text(media).select(
        "media_id", "text", "n_pages")


ORACLE_PDF_EXTRACT = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k
  FROM h
), pages AS (
  SELECT media_id, t.i,
         'A' || t.i || '-' || substr(d1, CAST(2 * t.i + 1 AS INT), 6)
           || chr(10) ||
         'B' || t.i || '-' || substr(d1, CAST(2 * t.i + 3 AS INT), 6)
           AS pg
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT media_id,
       string_agg(pg, chr(10) ORDER BY i) AS text,
       CAST(count(*) AS INT) AS n_pages
FROM pages
GROUP BY media_id
"""
gate(pdf_extract_report, ORACLE_PDF_EXTRACT)


def document_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified office/ebook extraction end-to-end (r9): per document
    an md5-chosen DOCX, PPTX, or EPUB is authored with 1-3 md5-derived
    text units (word paragraphs / slides / spine chapters — real ZIP +
    XML containers via functions/docx.py, functions/epub.py), then
    ``extract_document_text`` (operators/multimodal.py) routes by
    CONTAINER BYTES (the MIME column deliberately lies for every row)
    and extracts with the production parsers — DOCX through
    WordprocessingML runs, PPTX through numeric-ordered slide XML,
    EPUB through container.xml -> OPF spine -> the crawl front's real
    HTML tier. Value-checks kind, the EPUB dc:title, the exact joined
    text and the unit count; the oracle replays the md5 arithmetic.
    One Arrow map stage, no shuffle."""
    def build_doc(text: str):
        import hashlib as _hashlib

        from ..functions.docx import docx_build, pptx_build
        from ..functions.epub import epub_build

        h = _hashlib.md5(text.encode("utf-8")).hexdigest()
        k = int(h[0:2], 16) % 3 + 1
        kind = int(h[2:4], 16) % 3
        units = [f"U{i}-{h[2 * i:2 * i + 6]}" for i in range(k)]
        if kind == 0:
            return docx_build(units), "application/pdf"  # lying mime
        if kind == 1:
            return pptx_build(units), "text/plain"
        return epub_build("T-" + h[:8], units), "application/zip"

    media = _doc_media_df(spark, sf_dir, build_doc)
    return extract_document_text(media).select(
        "media_id", "kind", "title", "text", "n_units")


ORACLE_DOCUMENT_EXTRACT = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 AS kind
  FROM h
), units AS (
  SELECT media_id, kind, d1, t.i,
         'U' || t.i || '-' || substr(d1, CAST(2 * t.i + 1 AS INT), 6)
           AS u
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT media_id,
       list_extract(['docx', 'pptx', 'epub'], kind + 1) AS kind,
       CASE WHEN kind = 2 THEN 'T-' || substr(d1, 1, 8) END AS title,
       string_agg(u, chr(10) ORDER BY i) AS text,
       CAST(count(*) AS INT) AS n_units
FROM units
GROUP BY media_id, kind, d1
"""
gate(document_extract_report, ORACLE_DOCUMENT_EXTRACT)


def xlsx_cells_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX tabular ingestion end-to-end (r9): per document a real
    two-sheet workbook is authored (functions/docx.xlsx_build —
    sharedStrings for every string cell, workbook rels, typed
    boolean/number cells) with 1-3 md5-derived data rows, then
    ``extract_table_cells`` (operators/multimodal.py) explodes it with
    the production SpreadsheetML parser — sharedStrings indices
    resolved, cell references split into row/column, booleans
    normalized. Value-checks every cell of both sheets; the oracle
    replays the construction with a lateral range join + cell-kind
    union. One Arrow map stage, no shuffle."""
    def build_wb(text: str):
        import hashlib as _hashlib

        from ..functions.docx import xlsx_build

        h = _hashlib.md5(text.encode("utf-8")).hexdigest()
        k = int(h[0:2], 16) % 3 + 1
        rows = []
        for i in range(k):
            rows.append(["it-" + h[2 * i:2 * i + 6],
                         int(h[2 * i:2 * i + 3], 16) % 1000,
                         int(h[2 * i + 1:2 * i + 3], 16) % 2 == 0])
        return xlsx_build({"D": rows, "M": [["meta-" + h[:6]]]}), \
            "application/vnd.ms-excel"

    media = _doc_media_df(spark, sf_dir, build_wb)
    return extract_table_cells(media).select(
        "media_id", "sheet", F.col("row").alias("row_num"), "col",
        "value", "kind")


ORACLE_XLSX_CELLS = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k
  FROM h
), r AS (
  SELECT media_id, d1, t.i
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT media_id, 'D' AS sheet, CAST(i + 1 AS INT) AS row_num,
       'A' AS col, 'it-' || substr(d1, CAST(2 * i + 1 AS INT), 6)
         AS value, 's' AS kind
FROM r
UNION ALL
SELECT media_id, 'D', CAST(i + 1 AS INT), 'B',
       CAST(CAST(('0x' || substr(d1, CAST(2 * i + 1 AS INT), 3)) AS INT)
            % 1000 AS VARCHAR), 'n'
FROM r
UNION ALL
SELECT media_id, 'D', CAST(i + 1 AS INT), 'C',
       CASE WHEN CAST(('0x' || substr(d1, CAST(2 * i + 2 AS INT), 2))
                      AS INT) % 2 = 0
            THEN 'true' ELSE 'false' END, 'b'
FROM r
UNION ALL
SELECT media_id, 'M', 1, 'A', 'meta-' || substr(d1, 1, 6), 's'
FROM p
"""
gate(xlsx_cells_report, ORACLE_XLSX_CELLS)


def jsonl_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink gate (sources/jsonl.py): export documents to
    newline-delimited JSON, re-import with an explicit schema, and
    digest the round-tripped rows with the order-independent md5-xor
    checksum. The oracle digests the parquet directly — a hash match
    proves the JSONL path loses nothing (ids, full text bytes, nulls).

    Scale: export+import are distributed file ops (one shard per
    partition); the digest is a distributed agg."""
    docs = _t(spark, sf_dir, "documents")
    path = _scratch("jsonl_rt")
    jsonlexport(docs, path)
    back = jsonlimport(
        spark, path,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).default
    h = _md5_xor_long("doc_id", "text", "lang", "source", "n_chars")
    return back.select(h.alias("h"), F.col("n_chars")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("n_chars").alias("total_chars"),
    )


ORACLE_JSONL_RT = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "docs",
       "checksum_xor",
       CAST("total_chars" AS BIGINT) AS "total_chars"
FROM (
SELECT count(*) AS docs,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(doc_id AS VARCHAR), '<N>'),
           coalesce(text, '<N>'),
           coalesce(lang, '<N>'),
           coalesce(source, '<N>'),
           coalesce(CAST(n_chars AS VARCHAR), '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       sum(n_chars) AS total_chars
FROM documents
) _bigint_cast
"""
gate(jsonl_roundtrip_checksum, ORACLE_JSONL_RT)


def orc_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink gate (columnar-format breadth beyond parquet):
    documents written to ORC, re-read, digested with the order-independent
    md5-xor checksum; the oracle digests the parquet directly. Both
    directions are distributed file ops — one shard per partition."""

    docs = _t(spark, sf_dir, "documents")
    path = _scratch("orc_rt")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    h = _md5_xor_long("doc_id", "text", "lang", "source", "n_chars")
    return back.select(h.alias("h"), F.col("n_chars")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("n_chars").alias("total_chars"),
    )


ORACLE_ORC_RT = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "docs",
       "checksum_xor",
       CAST("total_chars" AS BIGINT) AS "total_chars"
FROM (
SELECT count(*) AS docs,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(doc_id AS VARCHAR), '<N>'),
           coalesce(text, '<N>'),
           coalesce(lang, '<N>'),
           coalesce(source, '<N>'),
           coalesce(CAST(n_chars AS VARCHAR), '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       sum(n_chars) AS total_chars
FROM documents
) _bigint_cast
"""
gate(orc_roundtrip_checksum, ORACLE_ORC_RT)


def xml_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink gate (Spark 4 builds in the XML reader/writer —
    format breadth beyond parquet/orc/csv/jsonl): nation written as XML
    rows, re-read with the explicit schema (no inference drift), then
    digested with the order-independent md5-xor checksum the oracle
    computes over the parquet directly."""

    nation = _t(spark, sf_dir, "nation")
    path = _scratch("xml_rt") + "/x"
    (nation.write.mode("overwrite").format("xml")
     .option("rootTag", "nations").option("rowTag", "nation").save(path))
    back = (spark.read.format("xml").option("rowTag", "nation")
            .schema(nation.schema).load(path))
    h = _md5_xor_long("n_nationkey", "n_name", "n_regionkey")
    return back.select(h.alias("h"), "n_regionkey").agg(
        F.count(F.lit(1)).alias("nations"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("n_regionkey").alias("sum_region"))


def avro_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink gate (r6): the spark-avro module and every
    Python avro lib are absent from this container, so sources/avro.py
    implements the Object Container Format pure-stdlib (zigzag varints
    + deflate blocks) — orders filtered to a deterministic subset,
    exported one .avro file per partition, re-read distributed, then
    digested with the order-independent md5-xor checksum the oracle
    computes over the parquet directly. Exercises long/double/string/
    local-timestamp round-tripping through real avro binary."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0)
    path = _scratch("avro_rt")
    avro_export(orders.repartition(4), path)
    back = avro_import(spark, path)
    # cents as LONG, not double->string: the two engines format doubles
    # differently, integers identically
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    h = _md5_xor_long("o_orderkey", "o_orderstatus", cents,
                      "o_orderpriority")
    return back.select(h.alias("h"), "o_custkey", "o_orderdate").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("o_custkey").alias("sum_cust"),
        F.max(F.col("o_orderdate").cast("date")).cast("string")
        .alias("max_date"))


ORACLE_AVRO_RT = """
SELECT "n_orders", "checksum_xor",
       CAST("sum_cust" AS BIGINT) AS "sum_cust",
       "max_date"
FROM (
SELECT count(*) AS n_orders,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(o_orderkey AS VARCHAR), '<N>'),
           coalesce(o_orderstatus, '<N>'),
           coalesce(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), '<N>'),
           coalesce(o_orderpriority, '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       sum(o_custkey) AS sum_cust,
       CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS max_date
FROM orders WHERE o_orderkey % 10 = 0
) _bigint_cast
"""
gate(avro_roundtrip_checksum, ORACLE_AVRO_RT)


ORACLE_XML_RT = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "nations",
       "checksum_xor",
       CAST("sum_region" AS BIGINT) AS "sum_region"
FROM (
SELECT count(*) AS nations,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(n_nationkey AS VARCHAR), '<N>'),
           coalesce(n_name, '<N>'),
           coalesce(CAST(n_regionkey AS VARCHAR), '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       sum(n_regionkey) AS sum_region
FROM nation
) _bigint_cast
"""
gate(xml_roundtrip_checksum, ORACLE_XML_RT)


def webdataset_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard ingestion end-to-end: per document a gzipped
    tar shard is authored with the hand-rolled spec writer
    (sources/tar.tar_build — ustar header bytes, not stdlib) holding
    1-2 interleaved samples (``.txt`` always, ``.cap.json`` md5-gated,
    a LATER duplicate ``.txt`` member md5-gated for sample 0) plus a
    no-extension README sample, then decoded with the production
    streaming reader (tar_decode_file) and folded by
    ``webdataset_group``. Value-checked per sample: part count, the
    ext→payload map content (as sorted ``ext:md5`` signatures — so
    duplicate-ext LAST-WINS is hash-checked), total member bytes
    (duplicates included), and the sample's first archive position.
    One Arrow map stage + one sample-key shuffle."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_and_decode(batches):
        import hashlib as _hashlib

        import pandas as pd

        from ..sources.tar import tar_build

        cols = [f.name for f in TAR_SCHEMA.fields]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                b0, b1, b2 = (int(hx[0:2], 16), int(hx[2:4], 16),
                              int(hx[4:6], 16))
                n = b0 % 2 + 1
                keys = [f"k{i}-{hx[0:6]}" for i in range(n)]
                members = [(f"d/{keys[i]}.txt", f"T{i}-{hx[6:14]}".encode())
                           for i in range(n)]
                members += [(f"d/{keys[i]}.cap.json",
                             f"J{i}-{hx[14:20]}".encode())
                            for i in range(n) if (b1 >> i) & 1]
                if b2 & 1:
                    members.append((f"d/{keys[0]}.txt",
                                    f"T0b-{hx[20:26]}".encode()))
                members.append(("README", f"R-{hx[26:30]}".encode()))
                shard = tar_build(members, mtime=1600000000,
                                  gzip_compress=True)
                out.extend(tar_decode_file(str(doc_id), shard))
            yield pd.DataFrame(out, columns=cols)

    # the authored-fixture stage parallelizes via _spread above (r12:
    # the hard-coded repartition(32) became the conditional
    # session-parallelism spread; a real crawl directory has
    # file-granular parallelism already and spreads to a no-op)
    member_df = docs.mapInPandas(
        build_and_decode, schema=TAR_SCHEMA)
    g = webdataset_group(member_df)
    exts = F.array_sort(F.map_keys("parts"))
    sig = F.array_join(
        F.transform(exts, lambda e: F.concat(
            e, F.lit(":"), F.md5(F.element_at(F.col("parts"), e)))), "|")
    return g.select(
        F.col("path").cast("long").alias("doc_id"),
        "sample_key",
        F.col("n_parts").cast("long").alias("n_parts"),
        F.col("total_bytes").cast("long").alias("total_bytes"),
        F.col("first_member_idx").cast("long").alias("first_idx"),
        sig.alias("parts_sig"))


ORACLE_WEBDATASET = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS b0,
         CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS b1,
         CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS b2
  FROM documents
), d AS (
  SELECT doc_id, hx, b0 % 2 + 1 AS n,
         b1 & 1 AS j0, (b1 >> 1) & 1 AS j1, b2 & 1 AS dup
  FROM h
), s0 AS (
  SELECT doc_id, 'd/k0-' || substr(hx, 1, 6) AS sample_key,
         CAST(1 + j0 AS BIGINT) AS n_parts,
         CAST(11 + j0 * 9 + dup * 10 AS BIGINT) AS total_bytes,
         CAST(0 AS BIGINT) AS first_idx,
         CASE WHEN j0 = 1
              THEN 'cap.json:' || md5('J0-' || substr(hx, 15, 6)) || '|'
              ELSE '' END
         || 'txt:' || CASE WHEN dup = 1
              THEN md5('T0b-' || substr(hx, 21, 6))
              ELSE md5('T0-' || substr(hx, 7, 8)) END AS parts_sig
  FROM d
), s1 AS (
  SELECT doc_id, 'd/k1-' || substr(hx, 1, 6) AS sample_key,
         CAST(1 + j1 AS BIGINT) AS n_parts,
         CAST(11 + j1 * 9 AS BIGINT) AS total_bytes,
         CAST(1 AS BIGINT) AS first_idx,
         CASE WHEN j1 = 1
              THEN 'cap.json:' || md5('J1-' || substr(hx, 15, 6)) || '|'
              ELSE '' END
         || 'txt:' || md5('T1-' || substr(hx, 7, 8)) AS parts_sig
  FROM d WHERE n = 2
), rm AS (
  SELECT doc_id, 'README' AS sample_key,
         CAST(1 AS BIGINT) AS n_parts,
         CAST(6 AS BIGINT) AS total_bytes,
         CAST(n + j0 + CASE WHEN n = 2 THEN j1 ELSE 0 END + dup
              AS BIGINT) AS first_idx,
         ':' || md5('R-' || substr(hx, 27, 4)) AS parts_sig
  FROM d
)
SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM rm
"""
gate(webdataset_report, ORACLE_WEBDATASET)


def mbox_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mbox/MIME ingestion end-to-end: per document an mboxrd file is
    authored (sources/mail.mbox_build framing over hand-assembled
    RFC 2822 bytes) with 1-2 messages in one of three md5-chosen body
    shapes — 7bit text/plain whose body embeds a ``From ``-prefixed
    line (so mboxrd quoting is exercised through build→split),
    quoted-printable with non-ASCII, or multipart/mixed with a base64
    text/plain + text/html + a binary attachment — and message 1
    carries an RFC 2047 encoded-word subject. The production decode
    (mbox_decode_file) parses everything back; the oracle replays
    subjects (incl. the decoded ü), epoch dates, exact decoded bodies
    and attachment arithmetic. One Arrow map stage, no shuffle."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [f for f in MAIL_SCHEMA.fields if f.name not in ("path",)])

    def build_and_decode(batches):
        import base64 as _b64
        import hashlib as _hashlib
        import quopri as _quopri

        import pandas as pd

        from ..sources.mail import mbox_build, mbox_decode_file

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                b0, b1, b2 = (int(hx[0:2], 16), int(hx[2:4], 16),
                              int(hx[4:6], 16))
                mode = b2 % 3
                raws = []
                for i in range(b0 % 2 + 1):
                    if i == 0:
                        subj = f"S-{hx[:8]}".encode()
                    else:
                        subj = (b"=?utf-8?b?" + _b64.b64encode(
                            f"Sü-{hx[8:12]}".encode()) + b"?=")
                    head = (b"Message-ID: <m%d-%s@x>\n"
                            % (i, hx[:6].encode())
                            + b"From: u" + hx[12:16].encode()
                            + b"@example.com\n"
                            + b"Subject: " + subj + b"\n"
                            + b"Date: Thu, 01 Jan 2026 00:00:%02d +0000\n"
                            % ((b1 + i) % 60))
                    if mode == 0:
                        body = (f"B-{hx[16:24]}\n"
                                f"From here-{hx[24:28]}").encode()
                        raw = (head + b"Content-Type: text/plain; "
                               b"charset=utf-8\n\n" + body)
                    elif mode == 1:
                        body = _quopri.encodestring(
                            f"Q-{hx[16:20]}-é№".encode())
                        raw = (head + b"Content-Type: text/plain; "
                               b"charset=utf-8\n"
                               b"Content-Transfer-Encoding: "
                               b"quoted-printable\n\n" + body)
                    else:
                        plain = _b64.encodebytes(
                            f"B64-{hx[16:22]}-±".encode())
                        att = _b64.encodebytes(bytes.fromhex(hx[:16]))
                        raw = (head
                               + b"MIME-Version: 1.0\n"
                               b"Content-Type: multipart/mixed; "
                               b"boundary=BB\n\n"
                               b"--BB\n"
                               b"Content-Type: text/plain; charset=utf-8\n"
                               b"Content-Transfer-Encoding: base64\n\n"
                               + plain +
                               b"--BB\n"
                               b"Content-Type: text/html; charset=utf-8\n\n"
                               + f"<p>H-{hx[22:26]}</p>".encode() + b"\n"
                               b"--BB\n"
                               b"Content-Type: application/octet-stream\n"
                               b"Content-Disposition: attachment; "
                               b"filename=a.bin\n"
                               b"Content-Transfer-Encoding: base64\n\n"
                               + att +
                               b"--BB--\n")
                    raws.append(raw)
                data = mbox_build(raws)
                out.extend((int(r[0]),) + r[1:]
                           for r in mbox_decode_file(str(doc_id), data))
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields])

    # fixture-stage parallelism comes from _spread above (r12: the
    # hard-coded repartition(32) folded into the conditional spread)
    return docs.mapInPandas(
        build_and_decode, schema=out_schema)


ORACLE_MBOX_EXTRACT = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS b0,
         CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS b1,
         CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 3 AS mode
  FROM documents
), msgs AS (
  SELECT h.*, i.msg_idx
  FROM h JOIN (SELECT 0 AS msg_idx UNION ALL SELECT 1) i
    ON i.msg_idx <= b0 % 2
)
SELECT doc_id,
       CAST(msg_idx AS BIGINT) AS msg_idx,
       '<m' || msg_idx || '-' || substr(hx, 1, 6) || '@x>' AS message_id,
       CASE WHEN msg_idx = 0 THEN 'S-' || substr(hx, 1, 8)
            ELSE 'Sü-' || substr(hx, 9, 4) END AS subject,
       'u' || substr(hx, 13, 4) || '@example.com' AS from_addr,
       CAST(NULL AS VARCHAR) AS to_addrs,
       CAST(1767225600 + (b1 + msg_idx) % 60 AS BIGINT) AS date_ts,
       CASE mode
         WHEN 0 THEN 'B-' || substr(hx, 17, 8) || chr(10)
                     || 'From here-' || substr(hx, 25, 4)
         WHEN 1 THEN 'Q-' || substr(hx, 17, 4) || '-é№'
         ELSE 'B64-' || substr(hx, 17, 6) || '-±' END AS body_text,
       CASE WHEN mode = 2
            THEN '<p>H-' || substr(hx, 23, 4) || '</p>'
            ELSE NULL END AS body_html,
       CAST(CASE WHEN mode = 2 THEN 3 ELSE 1 END AS INT) AS n_parts,
       CAST(CASE WHEN mode = 2 THEN 1 ELSE 0 END AS INT)
         AS n_attachments,
       CAST(CASE WHEN mode = 2 THEN 8 ELSE 0 END AS BIGINT)
         AS attachment_bytes
FROM msgs
"""
gate(mbox_extract_report, ORACLE_MBOX_EXTRACT)


def rtf_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF extraction end-to-end: per document an RTF file is authored
    (functions/rtf.rtf_build — brace/backslash escapes, cp1252 \\'hh
    bytes, \\uN-with-fallback unicode, a skippable font table and a
    starred generator destination) with 2-3 md5-derived paragraphs
    mixing braces, accents, № and a tab, then routed through the
    PRODUCTION byte-sniffing router (extract_document_text → rtf_text)
    and the oracle replays the exact extracted text. One Arrow map
    stage, no shuffle."""
    def build_rtf(text: str):
        import hashlib as _hashlib

        from ..functions.rtf import rtf_build

        h = _hashlib.md5(text.encode("utf-8")).hexdigest()
        b0 = int(h[0:2], 16)
        paras = [f"P1-{h[:8]} {{caf\xe9}}", f"P2-{h[8:14]}-№"]
        if b0 & 1:
            paras.append(f"P3-{h[14:18]}\tT")
        return rtf_build(paras), "application/rtf"

    media = _doc_media_df(spark, sf_dir, build_rtf)
    ex = extract_document_text(media)
    return ex.select(F.col("media_id").alias("doc_id"), "kind",
                     "text", "n_units")


ORACLE_RTF_EXTRACT = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS b0
  FROM documents
)
SELECT doc_id, 'rtf' AS kind,
       'P1-' || substr(hx, 1, 8) || ' {café}' || chr(10)
       || 'P2-' || substr(hx, 9, 6) || '-№'
       || CASE WHEN b0 & 1 = 1
               THEN chr(10) || 'P3-' || substr(hx, 15, 4)
                    || chr(9) || 'T'
               ELSE '' END AS text,
       CAST(CASE WHEN b0 & 1 = 1 THEN 3 ELSE 2 END AS INT) AS n_units
FROM h
"""
gate(rtf_extract_report, ORACLE_RTF_EXTRACT)


def corpus_inventory_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-corpus inventory end-to-end: per document one 64-byte
    blob is authored with an md5-chosen magic head (png/gif/jpeg/pdf/
    warc/mp4/json/raw-binary), then the PRODUCTION sniffer
    (sniff_format via corpus_inventory) classifies and aggregates;
    the oracle replays the choice distribution and the fixed sizes.
    The planning pass a 100 TB scrape starts with: map-only scan +
    one tiny agg shuffle. (Builder-output sniffing — docx/tar/mbox/
    gzip-peek — is pinned in tests/test_sniff.py.)"""
    heads = [b"\x89PNG\r\n\x1a\n", b"GIF89a", b"\xff\xd8\xff\xe0",
             b"%PDF-1.7\n", b"WARC/1.0\r\n", b"\x00\x00\x00\x18ftyp",
             b'{"k": "v", "x": "', b"\x00\x01\x02\x03"]

    def build_blob(text: str):
        import hashlib as _hashlib

        h = _hashlib.md5(text.encode("utf-8")).hexdigest()
        c = int(h[2], 16) % 8
        head = heads[c]
        pad = (b"\x00" if c == 7 else b"a") * (64 - len(head))
        return head + pad, "application/octet-stream"

    media = _doc_media_df(spark, sf_dir, build_blob)
    return corpus_inventory(media)


ORACLE_CORPUS_INVENTORY = """
WITH h AS (
  SELECT CAST(('0x' || substr(md5(text), 3, 1)) AS INT) % 8 AS c
  FROM documents
), m AS (
  SELECT CASE c WHEN 0 THEN 'image' WHEN 1 THEN 'image'
                WHEN 2 THEN 'image' WHEN 3 THEN 'document'
                WHEN 4 THEN 'web' WHEN 5 THEN 'video'
                WHEN 6 THEN 'text' ELSE 'unknown' END AS family,
         CASE c WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                WHEN 2 THEN 'jpeg' WHEN 3 THEN 'pdf'
                WHEN 4 THEN 'warc' WHEN 5 THEN 'mp4'
                WHEN 6 THEN 'json' ELSE 'binary' END AS format
  FROM h
)
SELECT family, format, count(*) AS n_files,
       CAST(count(*) * 64 AS BIGINT) AS total_bytes
FROM m GROUP BY family, format
"""
gate(corpus_inventory_report, ORACLE_CORPUS_INVENTORY)


def arrow_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC sink/source gate (the avro_roundtrip_checksum shape):
    a deterministic lineitem subset exports one IPC FILE per
    partition (pyarrow writer, Spark→Arrow schema mapping incl. the
    NTZ timestamp), re-imports distributed batch-per-batch, and
    digests with the order-independent md5-xor checksum the oracle
    computes over the parquet directly — so a value corrupted
    anywhere in the export/import hop flips the hash."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") % 17 == 0)
          .select("l_orderkey", "l_linenumber", "l_quantity",
                  "l_returnflag", "l_shipdate"))
    path = _scratch("arrow_rt")
    arrow_export(li.repartition(4), path)
    back = arrow_import(spark, path)
    cents = F.round(F.col("l_quantity") * 100).cast("long")
    h = _md5_xor_long("l_orderkey", "l_linenumber", cents, "l_returnflag")
    return back.select(h.alias("h"), "l_orderkey", "l_shipdate").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("l_orderkey").alias("sum_okey"),
        F.max(F.col("l_shipdate").cast("date")).cast("string")
        .alias("max_ship"))


ORACLE_ARROW_RT = """
SELECT "n_rows", "checksum_xor",
       CAST("sum_okey" AS BIGINT) AS "sum_okey",
       "max_ship"
FROM (
SELECT count(*) AS n_rows,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(l_orderkey AS VARCHAR), '<N>'),
           coalesce(CAST(l_linenumber AS VARCHAR), '<N>'),
           coalesce(CAST(CAST(round(l_quantity * 100) AS BIGINT)
                         AS VARCHAR), '<N>'),
           coalesce(l_returnflag, '<N>'))), 1, 15)) AS BIGINT))
         AS checksum_xor,
       sum(l_orderkey) AS sum_okey,
       CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS max_ship
FROM lineitem WHERE l_orderkey % 17 = 0
) _bigint_cast
"""
gate(arrow_roundtrip_checksum, ORACLE_ARROW_RT)


def warc_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC sink/source gate: per document an md5-derived page
    (URI, ASCII HTML body, 200-or-404 status, month-coded date) is
    exported as record-at-time-gzipped WARC shards WITH CDXJ sidecars
    (warc_export, 4 partitions), then re-imported record-granular
    through the SPLIT reader — so the writer's framing, HTTP wrapping,
    deterministic <urn:md5:> record ids and its own sidecars are all
    value-checked by the production import path. The oracle replays
    every field, the record-id hash included, from DuckDB md5()."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_pages(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                b0 = int(hx[0:2], 16)
                out.append((doc_id,
                            f"http://ex.test/{doc_id}",
                            f"<p>B-{hx[8:16]}</p>".encode(),
                            "text/html",
                            200 if b0 & 1 else 404,
                            f"2025-{b0 % 12 + 1:02d}-01T00:00:00Z"))
            yield pd.DataFrame(out, columns=[
                "doc_id", "target_uri", "payload", "content_type",
                "http_status", "fetch_date"])

    pages = docs.mapInPandas(build_pages, schema=(
        "doc_id long, target_uri string, payload binary, "
        "content_type string, http_status int, fetch_date string"))
    path = _scratch("warc_export_rt")
    # r12 (guide §2.5/§6): shard count follows the session parallelism
    # instead of a hard-coded 4 — the per-record gzip framing is
    # Python-side work that otherwise ran on 4 workers regardless of
    # cluster size (export AND the split re-import are both
    # shard-granular). Record ids/fields are shard-independent, so the
    # gate's answer is unchanged.
    warc_export(pages.repartition(
        spark.sparkContext.defaultParallelism), path,
        date_col="fetch_date")
    back = warc_import(spark, path, split=True)
    return back.filter(F.col("warc_type") == "response").select(
        F.element_at(F.split("target_uri", "/"), -1).cast("long")
        .alias("doc_id"),
        "target_uri", "http_status", "content_type",
        F.col("warc_date").alias("fetch_date"),
        F.md5("payload").alias("body_md5"),
        "record_id")


ORACLE_WARC_EXPORT = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS b0
  FROM documents
), p AS (
  SELECT doc_id,
         'http://ex.test/' || doc_id AS target_uri,
         '<p>B-' || substr(hx, 9, 8) || '</p>' AS body,
         CASE WHEN b0 & 1 = 1 THEN 200 ELSE 404 END AS http_status,
         printf('2025-%02d-01T00:00:00Z', b0 % 12 + 1) AS fetch_date
  FROM h
)
SELECT doc_id, target_uri,
       CAST(http_status AS INT) AS http_status,
       'text/html' AS content_type,
       fetch_date,
       md5(body) AS body_md5,
       '<urn:md5:' || md5(target_uri || chr(0) || body) || '>'
         AS record_id
FROM p
"""
gate(warc_export_roundtrip, ORACLE_WARC_EXPORT)


def tensor_import_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """safetensors ingestion end-to-end: per document a container with
    an F32 (2x3) embedding matrix and a 1-D I64 id vector is authored
    from md5 digest bytes (safetensors_build — spec header layout),
    then the PRODUCTION decode (tensor_decode_file: header JSON,
    offset validation, row-vector emission) parses it back and the
    oracle replays every vector element from DuckDB md5 byte
    arithmetic. (NPY/NPZ parsing is cross-checked against numpy as a
    foreign writer in tests/test_tensors.py.) Map-only Arrow stage."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_and_decode(batches):
        import hashlib as _hashlib

        import pandas as pd

        from ..sources.tensors import safetensors_build

        cols = [f.name for f in TENSOR_SCHEMA.fields]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = _hashlib.md5((text or "").encode("utf-8")).digest()
                blob = safetensors_build({
                    "emb": ("F32", [2, 3], [float(b) for b in d[:6]]),
                    "ids": ("I64", [2], [d[6], d[7]]),
                })
                out.extend(tensor_decode_file(str(doc_id), blob))
            yield pd.DataFrame(out, columns=cols)

    rows = docs.mapInPandas(build_and_decode, schema=TENSOR_SCHEMA)
    return rows.select(
        F.col("path").cast("long").alias("doc_id"),
        "tensor", "dtype", "n_rows", "dim", "row_idx", "vector")


ORACLE_TENSOR_IMPORT = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx FROM documents
), b AS (
  SELECT doc_id,
         [CAST(('0x' || substr(hx, 2 * i + 1, 2)) AS INT) :: DOUBLE
          FOR i IN range(8)] AS by
  FROM h
)
SELECT doc_id, 'emb' AS tensor, 'F32' AS dtype,
       CAST(2 AS INT) AS n_rows, CAST(3 AS INT) AS dim,
       CAST(0 AS INT) AS row_idx, [by[1], by[2], by[3]] AS vector
FROM b
UNION ALL
SELECT doc_id, 'emb', 'F32', 2, 3, 1, [by[4], by[5], by[6]] FROM b
UNION ALL
SELECT doc_id, 'ids', 'I64', 1, 2, 0, [by[7], by[8]] FROM b
"""
gate(tensor_import_report, ORACLE_TENSOR_IMPORT)


def webdataset_export_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """WebDataset sink/source gate: per document md5-derived member
    rows (a ``txt`` part always, a ``cap.json`` part for half the
    docs) are exported as gzipped .tar shards (tar_export, 16 shards,
    sample-adjacent streamed ustar bytes), then re-imported through
    the production reader (tar_import) and folded by
    ``webdataset_group`` — so the sink's header bytes, member naming
    ({key}.{ext}), sample adjacency and gzip framing are all
    value-checked by the import path. Value-checked per sample: part
    count, total member bytes, and the ext→payload map content as a
    sorted ``ext:md5`` signature. The oracle replays every value from
    DuckDB md5()."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_members(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = _hashlib.md5(
                    (text or "").encode("utf-8")).hexdigest()
                key = f"s/{doc_id}-{hx[0:6]}"
                out.append((key, "txt", f"T-{hx[8:16]}".encode()))
                if int(hx[0:2], 16) & 1:
                    out.append((key, "cap.json",
                                f"J-{hx[16:22]}".encode()))
            yield pd.DataFrame(
                out, columns=["sample_key", "ext", "payload"])

    members = docs.mapInPandas(
        build_members,
        schema="sample_key string, ext string, payload binary")
    path = _scratch("wds_export_rt")
    tar_export(members, path, n_shards=16)
    back = tar_import(spark, path)
    g = webdataset_group(back)
    exts = F.array_sort(F.map_keys("parts"))
    sig = F.array_join(
        F.transform(exts, lambda e: F.concat(
            e, F.lit(":"), F.md5(F.element_at(F.col("parts"), e)))),
        "|")
    return g.select(
        F.regexp_extract("sample_key", r"^s/(\d+)-", 1).cast("long")
        .alias("doc_id"),
        "sample_key",
        F.col("n_parts").cast("long").alias("n_parts"),
        F.col("total_bytes").cast("long").alias("total_bytes"),
        sig.alias("parts_sig"))


ORACLE_WDS_EXPORT = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS b0
  FROM documents
)
SELECT doc_id,
       's/' || doc_id || '-' || substr(hx, 1, 6) AS sample_key,
       CAST(1 + (b0 & 1) AS BIGINT) AS n_parts,
       CAST(10 + (b0 & 1) * 8 AS BIGINT) AS total_bytes,
       CASE WHEN b0 & 1 = 1
            THEN 'cap.json:' || md5('J-' || substr(hx, 17, 6))
                 || '|txt:' || md5('T-' || substr(hx, 9, 8))
            ELSE 'txt:' || md5('T-' || substr(hx, 9, 8)) END
         AS parts_sig
FROM h
"""
gate(webdataset_export_roundtrip, ORACLE_WDS_EXPORT)
