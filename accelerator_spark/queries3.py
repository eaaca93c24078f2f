"""Gates for WebDataset/tar shards, HTML→Markdown, mbox/MIME mail, RTF
extraction, multi-iteration k-means, logistic-regression training,
deterministic Bloom pre-filtering, BPE tokenization, format sniffing /
corpus inventory, Arrow IPC round-trip, perceptual image hashing
(dHash), the WARC sink, incremental batch dedup, interval overlap join
and bigram LM quality (contract: queries.py).

Fixture-backed gates follow the r8 media pattern (queries.py
_doc_media_df): container bytes are authored per document from
md5(text) ONLY, pushed through the PRODUCTION parser, and the oracle
replays every derived value from DuckDB's md5() — so framing, payload
extraction and grouping are value-checked, not row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import (
    _doc_media_df, _events, _md5_xor_long, _scratch, _spread, _t, gate,
)


# =====================================================================
# WebDataset / tar shards (sources/tar.py)
# =====================================================================

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
    from .sources.tar import tar_decode_file, webdataset_group, TAR_SCHEMA

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_and_decode(batches):
        import hashlib as _hashlib

        import pandas as pd

        from .sources.tar import tar_build

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
                for rows in tar_decode_file(str(doc_id), shard):
                    out.extend(rows)
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


# =====================================================================
# HTML → Markdown (operators/markdown.py)
# =====================================================================

def html_markdown_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→Markdown conversion end-to-end: per document a page is
    authored with an h2, a paragraph exercising every inline form
    (bold, italic, inline code, a link), an md5-chosen ul-or-ol list
    and an md5-gated fenced pre block, then ``html_to_markdown`` runs
    the production converter and the oracle replays the EXACT Markdown
    string (newlines and all) by concatenation. One Arrow map stage,
    no shuffle."""
    from .operators.markdown import html_to_markdown

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_html(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                b0 = int(h[0:2], 16)
                parts = [
                    f"<h2>H-{h[:6]}</h2>",
                    f'<p>P-{h[6:10]} <b>B-{h[10:14]}</b> '
                    f'<i>I-{h[14:18]}</i> <code>C-{h[18:22]}</code> '
                    f'<a href="/u/{h[22:26]}">L-{h[26:30]}</a>.</p>',
                ]
                tag = "ul" if b0 & 1 else "ol"
                parts.append(f"<{tag}><li>i1-{h[2:6]}</li>"
                             f"<li>i2-{h[4:8]}</li></{tag}>")
                if b0 & 2:
                    parts.append(f"<pre>code-{h[8:12]}</pre>")
                out.append((doc_id, "".join(parts)))
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    pages = docs.mapInPandas(build_html, schema="doc_id long, text string")
    return html_to_markdown(pages).select("doc_id", "markdown", "n_chars")


ORACLE_HTML_MARKDOWN = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS b0
  FROM documents
), m AS (
  SELECT doc_id,
         '## H-' || substr(hx, 1, 6) || chr(10) || chr(10)
         || 'P-' || substr(hx, 7, 4)
         || ' **B-' || substr(hx, 11, 4) || '**'
         || ' *I-' || substr(hx, 15, 4) || '*'
         || ' `C-' || substr(hx, 19, 4) || '`'
         || ' [L-' || substr(hx, 27, 4) || '](/u/' || substr(hx, 23, 4)
         || ').' || chr(10) || chr(10)
         || CASE WHEN b0 & 1 = 1
                 THEN '- i1-' || substr(hx, 3, 4) || chr(10)
                      || '- i2-' || substr(hx, 5, 4)
                 ELSE '1. i1-' || substr(hx, 3, 4) || chr(10)
                      || '2. i2-' || substr(hx, 5, 4) END
         || CASE WHEN b0 & 2 = 2
                 THEN chr(10) || chr(10) || '```' || chr(10)
                      || 'code-' || substr(hx, 9, 4) || chr(10) || '```'
                 ELSE '' END AS markdown
  FROM h
)
SELECT doc_id, markdown, CAST(length(markdown) AS INT) AS n_chars FROM m
"""
gate(html_markdown_report, ORACLE_HTML_MARKDOWN)


# =====================================================================
# mbox / MIME mail (sources/mail.py)
# =====================================================================

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
    from pyspark.sql import types as T

    from .sources.mail import MAIL_SCHEMA

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [f for f in MAIL_SCHEMA.fields if f.name not in ("path",)])

    def build_and_decode(batches):
        import base64 as _b64
        import hashlib as _hashlib
        import quopri as _quopri

        import pandas as pd

        from .sources.mail import mbox_build, mbox_decode_file

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
                for rows in mbox_decode_file(str(doc_id), data):
                    out.extend((int(r[0]),) + r[1:] for r in rows)
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


# =====================================================================
# k-means training (operators/similarity.py kmeans_train)
# =====================================================================

def kmeans_train_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration Lloyd training end-to-end: ``kmeans_train``
    (k=4, iters=2, init = 4 lowest-id vectors) over the embeddings
    table; the oracle UNROLLS both iterations in SQL (unit-normalize →
    rounded-dot argmax with low-id tiebreak → per-dim rounded means)
    — so the full train loop, not just one step (kmeans_lloyd_step),
    is value-checked: final sizes, each centroid's first coordinate
    and L2 norm. Per iteration: one JVM assignment scan (centroid
    literals compiled into the plan) + one (c_id, dim) agg shuffle."""
    from .operators.similarity import kmeans_train

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, _assigned = kmeans_train(emb, k=4, iters=2)
    return cents.select(
        F.col("c_id").cast("int").alias("c_id"),
        "n_members",
        F.round(F.element_at("c_emb", 1), 4).alias("dim0_r4"),
        F.round(F.sqrt(F.aggregate(
            F.transform("c_emb", lambda x: x * x),
            F.lit(0.0), lambda a, v: a + v)), 4).alias("norm_r4"))


# one Lloyd iteration in SQL: {p} = previous-centroid CTE (c_id, c),
# {a}/{m}/{c} = names for the assignment / means / new-centroid CTEs
_KM_ITER = """
u{n} AS (
  SELECT c_id, list_transform(c, x -> x / sqrt(list_dot_product(c, c)))
           AS u
  FROM {p}
), a{n} AS (
  SELECT vec_id, v, c_id FROM (
    SELECT e.vec_id, e.v, u{n}.c_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.v, u{n}.u), 4) DESC,
                      u{n}.c_id ASC) AS rn
    FROM emb e, u{n}) WHERE rn = 1
), m{n} AS (
  SELECT c_id, d, round(avg(x), 6) AS nx
  FROM (SELECT c_id, generate_subscripts(v, 1) AS d, unnest(v) AS x
        FROM a{n})
  GROUP BY c_id, d
), c{n} AS (
  -- empty cluster keeps its centroid; count() guards the LEFT JOIN's
  -- all-NULL group (list() of it would be [NULL], not NULL)
  SELECT p.c_id,
         CASE WHEN count(m{n}.nx) = 0 THEN p.c
              ELSE list(m{n}.nx ORDER BY m{n}.d) END AS c
  FROM {p} p LEFT JOIN m{n} USING (c_id)
  GROUP BY p.c_id, p.c
)"""

ORACLE_KMEANS_TRAIN = ("""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  SELECT CAST(vec_id AS INT) AS c_id, v AS c FROM emb WHERE vec_id < 4
), """
+ _KM_ITER.format(n=1, p="c0") + ", "
+ _KM_ITER.format(n=2, p="c1") + """,
sizes AS (
  SELECT c_id, count(*) AS n_members FROM a2 GROUP BY c_id
)
SELECT c2.c_id,
       CAST(coalesce(sizes.n_members, 0) AS BIGINT) AS n_members,
       round(c2.c[1], 4) AS dim0_r4,
       round(sqrt(list_dot_product(c2.c, c2.c)), 4) AS norm_r4
FROM c2 LEFT JOIN sizes USING (c_id)
""")
gate(kmeans_train_report, ORACLE_KMEANS_TRAIN)


# =====================================================================
# RTF extraction (functions/rtf.py via extract_document_text)
# =====================================================================

def rtf_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF extraction end-to-end: per document an RTF file is authored
    (functions/rtf.rtf_build — brace/backslash escapes, cp1252 \\'hh
    bytes, \\uN-with-fallback unicode, a skippable font table and a
    starred generator destination) with 2-3 md5-derived paragraphs
    mixing braces, accents, № and a tab, then routed through the
    PRODUCTION byte-sniffing router (extract_document_text → rtf_text)
    and the oracle replays the exact extracted text. One Arrow map
    stage, no shuffle."""
    from .operators.multimodal import extract_document_text

    def build_rtf(text: str):
        import hashlib as _hashlib

        from .functions.rtf import rtf_build

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


# =====================================================================
# Bloom pre-filter (operators/sketches.py BloomFilter)
# =====================================================================

def bloom_prefilter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-Bloom pre-filter end-to-end: the BUILDING-segment
    customer keys build a 2048-bit / 3-hash filter (sized to force
    real false positives at sf0.01), every order probes it as a pure
    JVM expression, and the per-priority report counts probes, maybes,
    true members and false positives. The oracle replays the md5-lane
    positions in SQL and applies the same all-positions-set
    semantics — so the filter's exact bit pattern, FALSE POSITIVES
    INCLUDED, is value-checked. Build: one distinct-positions
    collect (bounded by m_bits); probe: map-only, no shuffle."""
    from .operators.sketches import bloom_build

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    build = (cust.filter(F.col("c_mktsegment") == "BUILDING")
             .select("c_custkey"))
    bf = bloom_build(build, "c_custkey", m_bits=2048, n_hashes=3)
    probed = (orders
              .withColumn("maybe", bf.might_contain(F.col("o_custkey")))
              .join(F.broadcast(build),
                    F.col("o_custkey") == F.col("c_custkey"), "left")
              .withColumn("is_true", F.col("c_custkey").isNotNull()))
    return (probed.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_probe"),
                 F.sum(F.col("maybe").cast("long")).alias("n_maybe"),
                 F.sum(F.col("is_true").cast("long")).alias("n_true"),
                 F.sum((F.col("maybe") & ~F.col("is_true"))
                       .cast("long")).alias("n_false_pos")))


ORACLE_BLOOM_PREFILTER = """
WITH js AS (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2),
build AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
), bpos AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                              8 * j + 1, 8)) AS BIGINT) % 2048 AS p
  FROM build, js
), probe AS (
  SELECT o_orderkey, o_custkey, o_orderpriority,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                              8 * j + 1, 8)) AS BIGINT) % 2048 AS p
  FROM orders, js
), pm AS (
  SELECT o_orderkey, any_value(o_custkey) AS o_custkey,
         any_value(o_orderpriority) AS o_orderpriority,
         bool_and(p IN (SELECT p FROM bpos)) AS maybe
  FROM probe GROUP BY o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_probe,
       CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
       CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM build)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN maybe AND o_custkey NOT IN
                          (SELECT c_custkey FROM build)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM pm GROUP BY o_orderpriority
"""
gate(bloom_prefilter_report, ORACLE_BLOOM_PREFILTER)


# =====================================================================
# BPE tokenization (operators/bpe.py)
# =====================================================================

def bpe_tokenize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge application end-to-end: a fixed 4-entry merge table
    with chained ranks (a+b → ab+c → abc+</w>, plus x+y) tokenizes
    per-document texts of 3-5 md5-chosen words from a closed set whose
    tokenizations are hand-derived — so rank ORDER, end-of-word fusion
    and non-merging fallthrough are value-checked token-by-token
    against a DuckDB replay. (The TRAINER is cross-checked in
    tests/test_bpe.py against an independent reference implementation
    and the published example corpus; training is iterative and not
    SQL-expressible.) One Arrow map stage, no shuffle."""
    from .operators.bpe import EOW, bpe_tokenize

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    words = ["abc", "ab", "cab", "xyz"]

    def build_text(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = 3 + int(h[0:2], 16) % 3
                picked = [words[int(h[2 + i], 16) % 4] for i in range(k)]
                out.append((doc_id, " ".join(picked)))
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    texts = docs.mapInPandas(build_text, schema="doc_id long, text string")
    merges = [("a", "b"), ("ab", "c"), ("abc", EOW), ("x", "y")]
    tok = bpe_tokenize(texts, merges)
    return tok.select("doc_id",
                      F.array_join("tokens", " ").alias("tokens_str"),
                      "n_tokens")


ORACLE_BPE_TOKENIZE = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         3 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 3 AS k
  FROM documents
), pos AS (
  SELECT 0 AS i UNION ALL SELECT 1 UNION ALL SELECT 2
  UNION ALL SELECT 3 UNION ALL SELECT 4
), picked AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(hx, 3 + i, 1)) AS INT) % 4 AS c
  FROM h, pos WHERE i < k
), toks AS (
  SELECT doc_id, i,
         CASE c WHEN 0 THEN 'abc</w>' WHEN 1 THEN 'ab </w>'
                WHEN 2 THEN 'c ab </w>' ELSE 'xy z </w>' END AS t,
         CASE c WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END AS n
  FROM picked
)
SELECT doc_id,
       string_agg(t, ' ' ORDER BY i) AS tokens_str,
       CAST(sum(n) AS INT) AS n_tokens
FROM toks GROUP BY doc_id
"""
gate(bpe_tokenize_report, ORACLE_BPE_TOKENIZE)


# =====================================================================
# format sniffing / corpus inventory (operators/sniff.py)
# =====================================================================

def corpus_inventory_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-corpus inventory end-to-end: per document one 64-byte
    blob is authored with an md5-chosen magic head (png/gif/jpeg/pdf/
    warc/mp4/json/raw-binary), then the PRODUCTION sniffer
    (sniff_format via corpus_inventory) classifies and aggregates;
    the oracle replays the choice distribution and the fixed sizes.
    The planning pass a 100 TB scrape starts with: map-only scan +
    one tiny agg shuffle. (Builder-output sniffing — docx/tar/mbox/
    gzip-peek — is pinned in tests/test_sniff.py.)"""
    from .operators.sniff import corpus_inventory

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


# =====================================================================
# logistic-regression training (operators/analytics.py logreg_train)
# =====================================================================

def logreg_train_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed classifier training end-to-end: ``logreg_train``
    (2 full-batch GD iterations, lr=1.0, y = label%2) over the
    embeddings table; the oracle UNROLLS both iterations in SQL
    (sigmoid residuals → per-dim gradient sums → rounded weight
    update), so the whole training loop is value-checked weight by
    weight (d=0 is the bias). Per iteration: one JVM scoring scan
    (weights as plan literals) + one (dim) agg shuffle; the model is
    dim+1 doubles of driver state."""
    from .operators.analytics import logreg_train

    emb = (_t(spark, sf_dir, "embeddings")
           .select("embedding", (F.col("label") % 2).alias("y")))
    w, b = logreg_train(emb, "embedding", "y", iters=2, lr=1.0)
    rows = [(0, float(b))] + [(i + 1, float(x)) for i, x in enumerate(w)]
    return spark.createDataFrame(rows, schema="d int, weight double")


_LR_ITER = """
s{n} AS (
  SELECT e.v, e.y,
         1.0 / (1.0 + exp(-(list_dot_product(e.v, {p}.w) + {p}.b)))
           - e.y AS r
  FROM emb e, {p}
), g{n} AS (
  SELECT d, sum(xv * r) AS g
  FROM (SELECT generate_subscripts(v, 1) AS d, unnest(v) AS xv, r
        FROM s{n})
  GROUP BY d
), w{n} AS (
  SELECT list(round(wp.w[g.d] - 1.0 * g.g / c.n, 6) ORDER BY g.d) AS w,
         round(any_value(wp.b)
               - 1.0 * (SELECT sum(r) FROM s{n}) / any_value(c.n),
               6) AS b
  FROM g{n} g, {p} wp, cnt c
)"""

ORACLE_LOGREG_TRAIN = ("""
WITH emb AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v,
         CAST(label % 2 AS DOUBLE) AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
), cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM emb),
w0 AS (
  SELECT list_transform((SELECT v FROM emb LIMIT 1), x -> 0.0) AS w,
         0.0 AS b
), """
+ _LR_ITER.format(n=1, p="w0") + ", "
+ _LR_ITER.format(n=2, p="w1") + """
SELECT CAST(0 AS INT) AS d, b AS weight FROM w2
UNION ALL
SELECT CAST(gs AS INT) AS d, val AS weight
FROM (SELECT generate_subscripts(w, 1) AS gs, unnest(w) AS val FROM w2)
""")
gate(logreg_train_report, ORACLE_LOGREG_TRAIN)


# =====================================================================
# Arrow IPC source/sink (sources/arrowipc.py)
# =====================================================================

def arrow_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC sink/source gate (the avro_roundtrip_checksum shape):
    a deterministic lineitem subset exports one IPC FILE per
    partition (pyarrow writer, Spark→Arrow schema mapping incl. the
    NTZ timestamp), re-imports distributed batch-per-batch, and
    digests with the order-independent md5-xor checksum the oracle
    computes over the parquet directly — so a value corrupted
    anywhere in the export/import hop flips the hash."""
    from .sources.arrowipc import arrow_export, arrow_import

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


# =====================================================================
# image dHash (operators/multimodal.py dhash_bits / image_dhash)
# =====================================================================

def image_dhash_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash end-to-end: per document a 9x8 grayscale PNG is
    authored whose 72 pixel bytes are five chained md5 digests — the
    exact dHash grid size, so the resample is the identity and every
    one of the 64 gradient bits is replayable in SQL. The production
    path (real PNG decode -> dhash_bits) runs; the oracle recomputes
    each bit from the same md5 bytes and assembles the identical hex
    string. Map-only Arrow stage, no shuffle."""
    from .operators.multimodal import image_dhash

    def build_png(text: str):
        import hashlib as _hashlib

        from .functions.png import png_encode

        raw = b"".join(
            _hashlib.md5((text + suffix).encode("utf-8")).digest()
            for suffix in ("", ":p2", ":p3", ":p4", ":p5"))
        return png_encode(list(raw[:72]), 9, 8, color_type=0), "image/png"

    media = _doc_media_df(spark, sf_dir, build_png)
    return image_dhash(media).select(
        F.col("media_id").alias("doc_id"), "dhash_hex",
        "n_gradient_bits", "width", "height")


def _dhash_oracle_sql() -> str:
    """Assemble the 64-bit replay: pixel i is byte i of the five
    concatenated digests; bit (y*8+x) compares grid (x,y) to (x+1,y);
    nibbles index a hex alphabet."""
    def px(i):
        return f"CAST(('0x' || substr(hc, {2 * i + 1}, 2)) AS INT)"

    def bit(b):
        y, x = divmod(b, 8)
        i = y * 9 + x
        return f"(CASE WHEN {px(i)} < {px(i + 1)} THEN 1 ELSE 0 END)"

    nibbles = []
    for n in range(16):
        v = " + ".join(f"{w} * {bit(4 * n + k)}"
                       for k, w in enumerate((8, 4, 2, 1)))
        nibbles.append(f"substr('0123456789abcdef', ({v}) + 1, 1)")
    hex_expr = " || ".join(nibbles)
    count_expr = " + ".join(bit(b) for b in range(64))
    return f"""
WITH h AS (
  SELECT doc_id,
         md5(text) || md5(text || ':p2') || md5(text || ':p3')
         || md5(text || ':p4') || md5(text || ':p5') AS hc
  FROM documents
)
SELECT doc_id,
       {hex_expr} AS dhash_hex,
       CAST({count_expr} AS INT) AS n_gradient_bits,
       CAST(9 AS INT) AS width,
       CAST(8 AS INT) AS height
FROM h
"""


ORACLE_IMAGE_DHASH = _dhash_oracle_sql()
gate(image_dhash_report, ORACLE_IMAGE_DHASH)


# =====================================================================
# bigram LM quality (operators/text.py bigram_logprob)
# =====================================================================

def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM quality (the rung above
    unigram_logprob_quality): every document scored by mean ln P(w2|w1)
    with lam*c2/c1 + (1-lam)*c1/N smoothing, rolled up per source. The
    oracle replays tokenization, pairing, both vocabularies and the
    interpolation in SQL. Plan: JVM-side pairing inside the token
    array (no window), vocab joins AQE-broadcast, one final agg."""
    from .operators.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    scored = bigram_logprob(docs)
    return (scored.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("avg_logprob2"), 2).alias("avg_lp2"),
                 F.sum("n_bigrams").alias("total_bigrams"))
            .orderBy("source"))


ORACLE_BIGRAM_LP = """
WITH toks0 AS (
  SELECT doc_id,
         generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1)
           AS pos,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), toks AS (
  SELECT doc_id, pos, tok FROM toks0 WHERE tok <> ''
), pairs AS (
  SELECT t1.doc_id, t1.tok AS w1, t2.tok AS w2
  FROM toks t1 JOIN toks t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
), big AS (
  SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2
), uni AS (
  SELECT tok, count(*) AS c1 FROM toks GROUP BY tok
), total AS (
  SELECT CAST(sum(c1) AS DOUBLE) AS corpus_n FROM uni
), scored AS (
  SELECT p.doc_id, count(*) AS n_bigrams,
         round(avg(ln(0.75 * b.c2 / u1.c1
                      + 0.25 * u2.c1 / total.corpus_n)), 4)
           AS avg_logprob2
  FROM pairs p
  JOIN big b USING (w1, w2)
  JOIN uni u1 ON u1.tok = p.w1
  JOIN uni u2 ON u2.tok = p.w2
  CROSS JOIN total
  GROUP BY p.doc_id
)
SELECT d.source, count(*) AS n_docs,
       round(avg(s.avg_logprob2), 2) AS avg_lp2,
       CAST(sum(s.n_bigrams) AS BIGINT) AS total_bigrams
FROM scored s JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""
gate(bigram_logprob_quality, ORACLE_BIGRAM_LP)


# =====================================================================
# WARC sink (sources/warc.py warc_export)
# =====================================================================

def warc_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC sink/source gate: per document an md5-derived page
    (URI, ASCII HTML body, 200-or-404 status, month-coded date) is
    exported as record-at-time-gzipped WARC shards WITH CDXJ sidecars
    (warc_export, 4 partitions), then re-imported record-granular
    through the SPLIT reader — so the writer's framing, HTTP wrapping,
    deterministic <urn:md5:> record ids and its own sidecars are all
    value-checked by the production import path. The oracle replays
    every field, the record-id hash included, from DuckDB md5()."""
    from .sources.warc import warc_export, warc_import

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


# =====================================================================
# incremental batch dedup (operators/dedup.py dedup_incremental)
# =====================================================================

def dedup_incremental_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-corpus dedup end-to-end: documents arrive as three
    sequential batches (doc_id % 3 = 0, 1, 2 — so batch order is NOT
    id order and cross-batch winners matter), each batch deduped
    against the accumulated fingerprint state with
    ``dedup_incremental``; contents are md5-bucketed into ~256 groups
    so collisions span batches heavily. The oracle replays the batch
    protocol in SQL: a row survives iff its batch is its
    fingerprint's FIRST batch and its id is the min within that
    (fp, batch) group. Output: every kept row with its batch."""
    from .operators.dedup import dedup_incremental

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def content(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = [(did,
                    "G-" + _hashlib.md5(
                        (t or "").encode("utf-8")).hexdigest()[:2])
                   for did, t in zip(pdf["doc_id"], pdf["text"])]
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    # the keyed frame is referenced by every batch filter AND rides
    # the fingerprint-state chain — without a shared materialization
    # the md5 mapInPandas pass ran three times (r13 §2.4/§4; the
    # plan is map-only, so the lazy checkpoint call itself runs no
    # exchange jobs and batch 0's action caches it)
    keyed = (docs.mapInPandas(content, schema="doc_id long, text string")
             .localCheckpoint(eager=False))
    fps = None
    kept_parts = []
    for b in range(3):
        batch = keyed.filter(F.col("doc_id") % 3 == b)
        kept, fps = dedup_incremental(batch, fps)
        kept_parts.append(kept.select(
            "doc_id", F.lit(b).cast("int").alias("batch")))
    out = kept_parts[0]
    for p in kept_parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_DEDUP_INCREMENTAL = """
WITH keyed AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch,
         md5('g-' || substr(md5(text), 1, 2)) AS fp
  FROM documents
), firstb AS (
  SELECT fp, min(batch) AS batch FROM keyed GROUP BY fp
)
SELECT min(k.doc_id) AS doc_id, k.batch
FROM keyed k JOIN firstb USING (fp, batch)
GROUP BY k.fp, k.batch
"""
gate(dedup_incremental_report, ORACLE_DEDUP_INCREMENTAL)


# =====================================================================
# interval overlap join (operators/merge.py interval_join)
# =====================================================================

def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap join end-to-end: every event becomes a half-open
    interval (start = epoch ts, length = event_id-derived), a sparse
    subset becomes ±300 s incident windows, and ``interval_join``
    pairs them per user-bucket via the bin trick (equi-join on
    covering bins, owner-bin pair-once dedup, exact predicate last —
    never a cross product). The oracle is the naive SQL overlap join.
    Output: per window, overlap count + first overlapping event."""
    from .operators.merge import interval_join

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", (F.col("user_id") % 4).alias("k"),
        F.unix_timestamp("ts").alias("start"))
    left = (base.filter(F.col("event_id") % 5 != 0)
            .withColumn("end", F.col("start")
                        + F.col("event_id") % 120 + 1))
    right = (base.filter(F.col("event_id") % 97 == 0)
             .select("event_id", "k",
                     (F.col("start") - 300).alias("start"),
                     (F.col("start") + 300).alias("end")))
    pairs = interval_join(left, right, by="k", bin_width=256)
    return (pairs.groupBy(F.col("r_event_id").alias("window_id"))
            .agg(F.count(F.lit(1)).alias("n_overlaps"),
                 F.min("l_event_id").alias("first_event")))


ORACLE_INTERVAL_OVERLAP = """
WITH base AS (
  SELECT event_id, user_id % 4 AS k,
         CAST(epoch(ts) AS BIGINT) AS start
  FROM events
), l AS (
  SELECT event_id, k, start, start + event_id % 120 + 1 AS "end"
  FROM base WHERE event_id % 5 <> 0
), r AS (
  SELECT event_id, k, start - 300 AS start, start + 300 AS "end"
  FROM base WHERE event_id % 97 = 0
)
SELECT r.event_id AS window_id,
       count(*) AS n_overlaps,
       min(l.event_id) AS first_event
FROM l JOIN r ON l.k = r.k
  AND l.start < r."end" AND r.start < l."end"
GROUP BY r.event_id
"""
gate(interval_overlap_join, ORACLE_INTERVAL_OVERLAP)


# =====================================================================
# tensor containers (sources/tensors.py)
# =====================================================================

def tensor_import_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """safetensors ingestion end-to-end: per document a container with
    an F32 (2x3) embedding matrix and a 1-D I64 id vector is authored
    from md5 digest bytes (safetensors_build — spec header layout),
    then the PRODUCTION decode (tensor_decode_file: header JSON,
    offset validation, row-vector emission) parses it back and the
    oracle replays every vector element from DuckDB md5 byte
    arithmetic. (NPY/NPZ parsing is cross-checked against numpy as a
    foreign writer in tests/test_tensors.py.) Map-only Arrow stage."""
    from .sources.tensors import TENSOR_SCHEMA, tensor_decode_file

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_and_decode(batches):
        import hashlib as _hashlib

        import pandas as pd

        from .sources.tensors import safetensors_build

        cols = [f.name for f in TENSOR_SCHEMA.fields]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = _hashlib.md5((text or "").encode("utf-8")).digest()
                blob = safetensors_build({
                    "emb": ("F32", [2, 3], [float(b) for b in d[:6]]),
                    "ids": ("I64", [2], [d[6], d[7]]),
                })
                out.extend((str(doc_id),) + r[1:]
                           for r in tensor_decode_file(str(doc_id), blob))
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
