"""Web-crawl gates, the crawl -> training-text front: WARC decode,
charset detection and decode, HTML text and main-content extraction,
HTML -> Markdown, robots.txt filtering and sitemaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gate
from ._common import _spread, _t
from ..operators.charset import decode_payload
from ..operators.html import extract_main_content, html_extract
from ..operators.markdown import html_to_markdown
from ..operators.robots import robots_check, sitemap_build, sitemap_entries


def html_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction end-to-end (r8): per document a page is
    authored (md5-derived title, one h1, 1-4 paragraphs, 0-2 anchors
    and an &amp; entity in paragraph 0, plus a script block that must
    NOT leak into the text), then ``html_extract`` runs the real
    stdlib-parser tier (operators/html.py) and the gate value-checks
    the title string, the md5 of the extracted text (line structure
    included), link/paragraph/heading counts and the 4dp-rounded
    link-character density. The oracle replays the exact extracted
    text with string concatenation. One Arrow map stage, no
    shuffle."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_html(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = int(h[0:2], 16) % 4 + 1
                n_links = int(h[2:4], 16) % 3
                parts = [f"<html><head><title>T-{h[:8]}</title>",
                         "<script>var x = '<p>no</p>';</script></head>",
                         f"<body><h1>H-{h[8:12]}</h1>"]
                for i in range(k):
                    seg = h[2 * i:2 * i + 6]
                    if i == 0:
                        links = "".join(f'<a href="/u">L{j}</a>'
                                        for j in range(n_links))
                        parts.append(f"<p>P0-{seg}&amp;Z{links}</p>")
                    else:
                        parts.append(f"<p>P{i}-{seg}</p>")
                parts.append("</body></html>")
                out.append((doc_id, "".join(parts)))
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    pages = docs.mapInPandas(build_html, schema="doc_id long, text string")
    ex = html_extract(pages)
    return ex.select(
        "doc_id", "title",
        F.md5("text").alias("text_hash"),
        "n_links", "n_paragraphs", "n_headings",
        F.round("link_density", 4).alias("link_density_r4"))


def warc_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion end-to-end (r8): per document a record-at-time
    GZIPPED WARC file is authored (sources/warc.warc_build — one
    warcinfo record plus 1-3 HTTP-response records with md5-derived
    URIs and HTML bodies), then decoded with the production per-file
    parser (warc_decode_file — the function warc_import fans out over
    a crawl directory; spec golden bytes in tests/test_warc.py): gzip
    member walk, WARC framing, HTTP status/header split. One output
    row per response record, value-checking URI, status, content type
    and the exact HTML body string. The oracle replays the md5
    construction with a lateral range join. One Arrow map stage, no
    shuffle."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def gen(batches):
        import hashlib as _hashlib

        import pandas as pd

        from ..sources.warc import warc_build, warc_decode_file

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = int(h[0:2], 16) % 3 + 1
                recs = [dict(warc_type="warcinfo", payload=b"ci")]
                for i in range(k):
                    html = (f"<title>W-{h[:6]}-{i}</title>"
                            f"<p>{h[2 * i:2 * i + 8]}</p>")
                    recs.append(dict(
                        warc_type="response",
                        target_uri=f"http://w/{h[:4]}/{i}",
                        payload=html.encode(), http=(200, "text/html")))
                blob = warc_build(recs, gzip_members=True)
                rec_i = 0
                for (idx, wtype, uri, _date, _rid, status, ctype,
                     body, _n) in warc_decode_file(blob):
                    if wtype != "response":
                        continue
                    out.append((doc_id, rec_i, uri, status, ctype,
                                body.decode("utf-8")))
                    rec_i += 1
            yield pd.DataFrame(out, columns=[
                "doc_id", "rec_idx", "target_uri", "http_status",
                "content_type", "body"])

    return docs.mapInPandas(
        gen, schema="doc_id long, rec_idx int, target_uri string, "
                    "http_status int, content_type string, body string")


ORACLE_WARC_PIPELINE = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k
  FROM h
)
SELECT doc_id,
       CAST(t.i AS INT) AS rec_idx,
       'http://w/' || substr(d1, 1, 4) || '/' || t.i AS target_uri,
       200 AS http_status,
       'text/html' AS content_type,
       '<title>W-' || substr(d1, 1, 6) || '-' || t.i || '</title><p>'
         || substr(d1, CAST(2 * t.i + 1 AS INT), 8) || '</p>' AS body
FROM p, range(3) t(i)
WHERE t.i < k
"""
gate(warc_pipeline_report, ORACLE_WARC_PIPELINE)


def charset_decode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware payload decode end-to-end (r9, VERDICT r8 #1):
    per document an md5-chosen (payload bytes, Content-Type) pair is
    authored in one of six real crawl shapes — UTF-8 with a header
    charset, Shift_JIS and GB2312-labeled GBK headers, a koi8-r
    ``<meta charset>`` page, a BOM'd undeclared UTF-8 page, and
    undeclared cp1252 bytes that are invalid UTF-8 (the slice a naive
    cast silently mangles) — then ``decode_payload``
    (operators/charset.py) resolves the codec with the production
    precedence chain. The gate value-checks the decoded STRING (so
    every codec's byte mapping is exercised), the codec name, the
    source tier and the validity flag; the oracle replays the expected
    strings as unicode literals. One Arrow map stage, no shuffle."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def gen(batches):
        import codecs as _codecs
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                mode = int(h[0:2], 16) % 6
                ct = "text/html"
                if mode == 0:
                    payload = ("déjà-" + h[:6]).encode("utf-8")
                    ct = "text/html; charset=utf-8"
                elif mode == 1:
                    payload = ("日本語-" + h[:6]).encode("shift_jis")
                    ct = "text/html; charset=Shift_JIS"
                elif mode == 2:
                    payload = ("中文-" + h[:6]).encode("gbk")
                    ct = 'text/html; charset="GB2312"'
                elif mode == 3:
                    payload = ("<meta charset=koi8-r>русский-"
                               + h[:6]).encode("koi8-r")
                elif mode == 4:
                    payload = _codecs.BOM_UTF8 \
                        + ("bom-" + h[:6]).encode("utf-8")
                else:
                    payload = ("café—" + h[:6]).encode("cp1252")
                out.append((doc_id, payload, ct))
            yield pd.DataFrame(
                out, columns=["doc_id", "payload", "content_type"])

    pages = docs.mapInPandas(
        gen, schema="doc_id long, payload binary, content_type string")
    return decode_payload(pages, id_col="doc_id").select(
        "doc_id", "text", "charset_used", "charset_source", "is_valid")


ORACLE_CHARSET_DECODE = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, substr(d1, 1, 6) AS s6,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 6 AS mode
  FROM h
)
SELECT doc_id,
       CASE mode
         WHEN 0 THEN 'déjà-' || s6
         WHEN 1 THEN '日本語-' || s6
         WHEN 2 THEN '中文-' || s6
         WHEN 3 THEN '<meta charset=koi8-r>русский-' || s6
         WHEN 4 THEN 'bom-' || s6
         ELSE 'café—' || s6 END AS text,
       CASE mode WHEN 1 THEN 'shift_jis' WHEN 2 THEN 'gbk'
            WHEN 3 THEN 'koi8-r' WHEN 5 THEN 'cp1252'
            ELSE 'utf-8' END AS charset_used,
       CASE mode WHEN 3 THEN 'meta' WHEN 4 THEN 'bom'
            WHEN 5 THEN 'fallback' ELSE 'header' END AS charset_source,
       (mode <> 5) AS is_valid
FROM p
"""
gate(charset_decode_report, ORACLE_CHARSET_DECODE)


def main_content_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal end-to-end (r9): per document a full page
    is authored — a nav bar of links (semantic-container boilerplate),
    a short copyright stub (under the length floor), 1-3 long
    md5-derived article paragraphs, and a link-farm div (density 1.0)
    — then ``extract_main_content`` (operators/html.py) runs the
    block-level justext-style classifier. The gate value-checks the
    exact surviving text and the block/kept counts; the oracle replays
    the article strings. One Arrow map stage, no shuffle."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_page(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = int(h[0:2], 16) % 3 + 1
                parts = ["<html><head><title>T</title></head><body>",
                         '<nav><a href="/">Home</a> '
                         '<a href="/a">About</a></nav>',
                         "<div>(c) 2026</div>"]
                for i in range(k):
                    parts.append(
                        f"<p>Article paragraph {i} body "
                        f"{h[2 * i:2 * i + 8]} long enough to keep.</p>")
                parts.append('<div><a href="/r">A long related-links '
                             "anchor text block</a></div></body></html>")
                out.append((doc_id, "".join(parts)))
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    pages = docs.mapInPandas(build_page, schema="doc_id long, text string")
    return extract_main_content(pages).select(
        "doc_id", "main_text", "n_blocks", "n_kept")


ORACLE_MAIN_CONTENT = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k
  FROM h
), paras AS (
  SELECT doc_id, k, t.i,
         'Article paragraph ' || t.i || ' body '
           || substr(d1, CAST(2 * t.i + 1 AS INT), 8)
           || ' long enough to keep.' AS para
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT doc_id,
       string_agg(para, chr(10) ORDER BY i) AS main_text,
       CAST(k + 3 AS INT) AS n_blocks,
       CAST(k AS INT) AS n_kept
FROM paras
GROUP BY doc_id, k
"""
gate(main_content_report, ORACLE_MAIN_CONTENT)


def robots_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt URL filtering end-to-end (r9): per document an
    md5-chosen URL exercises one branch of a realistic rule set —
    plain allow, prefix disallow, longest-match Allow override,
    ``*``-wildcard + ``$``-anchored pattern (hit and near-miss), and a
    host with NO robots row (the protocol's allow default) — then
    ``robots_check`` (operators/robots.py) broadcasts the per-host
    robots table and evaluates each URL with the RFC 9309
    longest-match rules. The oracle replays the expected decisions.
    One broadcast join + one Arrow map stage."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    _ROBOTS = ("User-agent: trainbot\nDisallow: /\n\n"
               "User-agent: *\nDisallow: /private/\n"
               "Allow: /private/open\nDisallow: /*.pdf$\n")
    _PATHS = ["/public/p", "/private/p", "/private/open/p",
              "/doc.pdf", "/doc.pdfx", "/anywhere"]

    def gen(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            urls, robots = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                mode = int(h[0:2], 16) % 6
                s6 = h[:6]
                host = ("nosite-" if mode == 5 else "site-") + s6
                urls.append((doc_id, host,
                             f"http://{host}{_PATHS[mode]}"))
                robots.append(("site-" + s6, _ROBOTS))
            yield pd.DataFrame(
                {"doc_id": [u[0] for u in urls],
                 "host": [u[1] for u in urls],
                 "url": [u[2] for u in urls],
                 "rb_host": [r[0] for r in robots]})

    both = docs.mapInPandas(
        gen, schema="doc_id long, host string, url string, rb_host string")
    urls = both.select("doc_id", "host", "url")
    robots = both.select(
        F.col("rb_host").alias("host")).distinct() \
        .withColumn("robots_txt", F.lit(_ROBOTS))
    return robots_check(urls, robots).select("doc_id", "url", "allowed")


ORACLE_ROBOTS_FILTER = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, substr(d1, 1, 6) AS s6,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 6 AS mode
  FROM h
)
SELECT doc_id,
       'http://' || CASE WHEN mode = 5 THEN 'nosite-' ELSE 'site-' END
         || s6
         || list_extract(['/public/p', '/private/p', '/private/open/p',
                          '/doc.pdf', '/doc.pdfx', '/anywhere'],
                         mode + 1) AS url,
       mode NOT IN (1, 3) AS allowed
FROM p
"""
gate(robots_filter_report, ORACLE_ROBOTS_FILTER)


def sitemap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing end-to-end (r9): per document an md5-chosen
    sitemap is authored — a plain urlset, a GZIPPED urlset (the common
    robots-referenced form), or a sitemapindex (the fan-out case) —
    with 1-3 md5-derived entries carrying loc/lastmod/changefreq/
    priority, then ``sitemap_entries`` (operators/robots.py) explodes
    it with the production namespace-aware parser. Value-checks every
    field including the decimal->double priority parse on both
    engines; the oracle replays the construction with a lateral range
    join. One Arrow map stage, no shuffle."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def gen(batches):
        import hashlib as _hashlib

        import pandas as pd

        freqs = ["daily", "weekly", "monthly"]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5((text or "").encode("utf-8")).hexdigest()
                k = int(h[0:2], 16) % 3 + 1
                mode = int(h[2:4], 16) % 3
                s6 = h[:6]
                entries = []
                for i in range(k):
                    v = int(h[2 * i:2 * i + 2], 16)
                    if mode == 2:
                        entries.append(
                            dict(loc=f"https://s-{s6}/sm{i}.xml.gz"))
                    else:
                        entries.append(dict(
                            loc=f"https://s-{s6}/p{i}",
                            lastmod=f"2026-01-0{i + 1}",
                            changefreq=freqs[v % 3],
                            priority=f"0.{v % 10}"))
                blob = sitemap_build(
                    entries,
                    kind="sitemapindex" if mode == 2 else "urlset",
                    gzipped=(mode == 1))
                out.append((doc_id, blob))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    maps = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    return sitemap_entries(maps).select(
        "doc_id", "seq", "kind", "loc", "lastmod", "changefreq",
        "priority")


ORACLE_SITEMAP = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1, substr(d1, 1, 6) AS s6,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 1 AS k,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 AS mode
  FROM h
), e AS (
  SELECT doc_id, s6, mode, t.i,
         CAST(('0x' || substr(d1, CAST(2 * t.i + 1 AS INT), 2)) AS INT)
           AS v
  FROM p, range(3) t(i)
  WHERE t.i < k
)
SELECT doc_id,
       CAST(i AS INT) AS seq,
       CASE WHEN mode = 2 THEN 'sitemapindex' ELSE 'urlset' END AS kind,
       CASE WHEN mode = 2
            THEN 'https://s-' || s6 || '/sm' || i || '.xml.gz'
            ELSE 'https://s-' || s6 || '/p' || i END AS loc,
       CASE WHEN mode <> 2 THEN '2026-01-0' || (i + 1) END AS lastmod,
       CASE WHEN mode <> 2
            THEN list_extract(['daily', 'weekly', 'monthly'],
                              v % 3 + 1) END AS changefreq,
       CASE WHEN mode <> 2
            THEN CAST('0.' || (v % 10) AS DOUBLE) END AS priority
FROM e
"""
gate(sitemap_report, ORACLE_SITEMAP)


ORACLE_HTML_EXTRACT = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT doc_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 1 AS k,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 AS n_links
  FROM h
), t AS (
  SELECT doc_id, d1, k, n_links,
         concat_ws(chr(10),
           'H-' || substr(d1, 9, 4),
           'P0-' || substr(d1, 1, 6) || '&Z'
             || CASE n_links WHEN 0 THEN '' WHEN 1 THEN 'L0'
                ELSE 'L0L1' END,
           CASE WHEN k > 1 THEN 'P1-' || substr(d1, 3, 6) END,
           CASE WHEN k > 2 THEN 'P2-' || substr(d1, 5, 6) END,
           CASE WHEN k > 3 THEN 'P3-' || substr(d1, 7, 6) END
         ) AS text
  FROM p
)
SELECT doc_id,
       'T-' || substr(d1, 1, 8) AS title,
       md5(text) AS text_hash,
       CAST(n_links AS INT) AS n_links,
       CAST(k AS INT) AS n_paragraphs,
       1 AS n_headings,
       round(CAST(2 * n_links AS DOUBLE)
             / length(replace(text, chr(10), '')), 4)
         AS link_density_r4
FROM t
"""
gate(html_extract_report, ORACLE_HTML_EXTRACT)


def html_markdown_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→Markdown conversion end-to-end: per document a page is
    authored with an h2, a paragraph exercising every inline form
    (bold, italic, inline code, a link), an md5-chosen ul-or-ol list
    and an md5-gated fenced pre block, then ``html_to_markdown`` runs
    the production converter and the oracle replays the EXACT Markdown
    string (newlines and all) by concatenation. One Arrow map stage,
    no shuffle."""
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
