"""robots.txt (RFC 9309) parsing and corpus-scale URL filtering.

A crawl-derived training corpus is expected to respect the Robots
Exclusion Protocol; re-checking stored URLs against their hosts'
robots.txt (CommonCrawl ships those too) is a standard curation
step. Stdlib has ``urllib.robotparser``, but it predates RFC 9309 —
no ``*`` wildcard / ``$`` end-anchor support and no longest-match
precedence — so the matcher here implements the RFC directly:

- groups are runs of ``User-agent:`` lines followed by rules; a
  crawler matches every group whose product token equals its name
  case-insensitively (merged), falling back to the ``*`` groups;
- ``Allow``/``Disallow`` values match path+query by prefix with ``*``
  wildcards and an optional ``$`` end anchor;
- the LONGEST matching pattern wins; on a length tie, allow wins;
  no match or empty pattern means allowed (RFC defaults);
- ``Sitemap:`` lines and the group's ``Crawl-delay`` surface as data.

``robots_check`` joins a URL corpus against a per-host robots table
(one row per host — tiny next to the corpus, so it BROADCASTS) and
evaluates each URL in an Arrow map stage with a per-task parsed-rules
cache keyed by host: parse cost is bounded by distinct hosts per
task, not rows. No shuffle beyond the broadcast. Hosts with no
robots row are allowed (the protocol's no-file default).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .arrowmap import map_rows


@dataclass(frozen=True)
class RobotsRules:
    rules: tuple          # ((allow: bool, pattern: str, regex), ...)
    crawl_delay: float | None = None
    sitemaps: tuple = ()
    matched_agent: str | None = None  # group that applied (None = none)


def _pattern_regex(pattern: str):
    """RFC 9309 path pattern -> compiled regex (prefix match, ``*``
    wildcard, ``$`` end anchor)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = [re.escape(seg) for seg in pattern.split("*")]
    body = ".*".join(parts)
    return re.compile(body + ("$" if anchored else ""))


def parse_robots(text: str | None, agent: str = "*") -> RobotsRules:
    """Parse one robots.txt for one crawler name. Group selection per
    RFC 9309: all groups whose token equals ``agent``
    (case-insensitive) merge; if none match, the ``*`` groups apply;
    if there are none of those either, everything is allowed."""
    if not text:
        return RobotsRules(rules=())
    agent_l = agent.lower()
    groups: list = []        # (tokens, rules, crawl_delay)
    cur_tokens: list = []
    cur_rules: list = []
    cur_delay = [None]
    sitemaps: list = []
    in_agent_run = False

    def close_group():
        if cur_tokens:
            groups.append((tuple(cur_tokens), tuple(cur_rules),
                           cur_delay[0]))

    for line in text.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agent_run:
                close_group()
                cur_tokens, cur_rules = [], []
                cur_delay = [None]
            cur_tokens.append(val.lower())
            in_agent_run = True
            continue
        in_agent_run = False
        if key == "sitemap":
            sitemaps.append(val)  # sitemap lines are group-independent
        elif key in ("allow", "disallow"):
            if cur_tokens:
                cur_rules.append((key == "allow", val))
        elif key == "crawl-delay" and cur_tokens:
            try:
                cur_delay[0] = float(val)
            except ValueError:
                pass
    close_group()

    matched = [g for g in groups if agent_l in g[0]]
    label = agent_l
    if not matched:
        matched = [g for g in groups if "*" in g[0]]
        label = "*" if matched else None
    rules = []
    delay = None
    for _, grules, gdelay in matched:
        for allow, pattern in grules:
            if pattern:  # empty Disallow: means allow-all (no rule)
                rules.append((allow, pattern, _pattern_regex(pattern)))
        if gdelay is not None and delay is None:
            delay = gdelay
    return RobotsRules(rules=tuple(rules), crawl_delay=delay,
                       sitemaps=tuple(sitemaps), matched_agent=label)


def robots_allowed(rules: RobotsRules, path: str) -> bool:
    """Longest-match decision for one path (include the query string
    if you have one); allow wins length ties; default allowed."""
    if not path.startswith("/"):
        path = "/" + path
    best_len = -1
    best_allow = True
    for allow, pattern, rx in rules.rules:
        if rx.match(path):
            ln = len(pattern)
            if ln > best_len or (ln == best_len and allow):
                best_len = ln
                best_allow = allow
    return best_allow


def _url_path(url: str) -> str:
    """path+query of an absolute, scheme-relative, or relative URL
    (the RFC match target), without urllib overhead in the hot
    loop."""
    frag = url.find("#")
    if frag != -1:
        url = url[:frag]  # BEFORE the authority scan: a '#f?q' or
        # '#f/x' fragment must not leak into the match target
        # (review r9b)
    at = url.find("://")
    if at != -1:
        rest = at + 3
    elif url.startswith("//"):
        rest = 2  # scheme-relative: //host/path
    else:
        rest = None
    if rest is not None:
        slash = url.find("/", rest)
        q = url.find("?", rest)
        if q != -1 and (slash == -1 or q < slash):
            # authority directly followed by a query: path is '/',
            # the query still participates in the match (review r9)
            url = "/" + url[q:]
        elif slash != -1:
            url = url[slash:]
        else:
            return "/"
    return url or "/"


def robots_check(
    urls: DataFrame,
    robots: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    host_col: str = "host",
    robots_col: str = "robots_txt",
) -> DataFrame:
    """URL corpus x per-host robots table -> the URL columns plus an
    ``allowed`` boolean. The robots side broadcasts (one row per
    host); evaluation is one Arrow map stage with an lru parse cache
    per task. Missing robots rows allow by default."""
    slim = robots.select(
        F.col(host_col).alias("__rb_host"),
        F.col(robots_col).alias("__rb_txt"))
    joined = urls.join(
        F.broadcast(slim),
        urls[host_col] == F.col("__rb_host"), "left").drop("__rb_host")
    out_schema = T.StructType(
        list(urls.schema.fields)
        + [T.StructField("allowed", T.BooleanType(), True)])
    in_cols = [f.name for f in urls.schema.fields]
    url_at = in_cols.index(url_col)
    # parse cache, bounded by the distinct robots TEXTS one task sees
    # and evicted wholesale past the cap: each task unpickles its own
    # copy of the closure (a module-level lru_cache would not pickle)
    cache: dict = {}

    def per_row(*row):
        *vals, txt = row
        url = vals[url_at]
        if url is None:
            return [(*vals, None)]
        rules = cache.get(txt)
        if rules is None:
            if len(cache) > 4096:
                cache.clear()
            rules = cache[txt] = parse_robots(txt, agent)
        return [(*vals, robots_allowed(rules, _url_path(url)))]

    return map_rows(joined, in_cols + ["__rb_txt"], out_schema, per_row)


# ----------------------------------------------------------- sitemaps
_SM = "{http://www.sitemaps.org/schemas/sitemap/0.9}"

SITEMAP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("seq", T.IntegerType(), True),
    T.StructField("kind", T.StringType(), True),
    T.StructField("loc", T.StringType(), True),
    T.StructField("lastmod", T.StringType(), True),
    T.StructField("changefreq", T.StringType(), True),
    T.StructField("priority", T.DoubleType(), True),
])


class SitemapError(ValueError):
    """Malformed or unsupported-by-scope sitemap input."""


def parse_sitemap(data: bytes, max_entries: int = 200_000,
                  max_bytes: int = 256 << 20) -> tuple:
    """(kind, entries) for one sitemap document (plain or gzipped —
    sitemap.org caps files at 50 MB / 50k URLs, the budgets enforce
    more): kind is 'urlset' (page entries) or 'sitemapindex' (child
    sitemap entries, the fan-out case); each entry is (loc, lastmod,
    changefreq, priority). ``max_bytes`` caps the DECOMPRESSED size —
    a gzip bomb fails the row before it can materialize (review r9).
    Robots ``Sitemap:`` lines name these files — the crawl-frontier
    companion to robots_check."""
    import zlib
    from xml.etree import ElementTree

    if data[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(47)
        try:
            out = d.decompress(data, max_bytes + 1)
        except zlib.error as e:
            raise SitemapError(f"bad gzip: {e}") from None
        if len(out) > max_bytes or not d.eof:
            raise SitemapError("decompressed-size budget exceeded "
                               "(or truncated gzip)")
        data = out
    try:
        root = ElementTree.fromstring(data)
    except ElementTree.ParseError as e:
        raise SitemapError(f"malformed sitemap XML: {e}") from None
    if root.tag == _SM + "urlset":
        kind, child_tag = "urlset", _SM + "url"
    elif root.tag == _SM + "sitemapindex":
        kind, child_tag = "sitemapindex", _SM + "sitemap"
    else:
        raise SitemapError(f"unexpected root element {root.tag!r}")
    entries = []
    for el in root:
        if el.tag != child_tag:
            continue
        if len(entries) >= max_entries:
            raise SitemapError("sitemap entry budget exceeded")
        loc = el.findtext(_SM + "loc")
        if loc is None:
            continue  # an entry without <loc> carries nothing
        prio = el.findtext(_SM + "priority")
        try:
            prio_f = float(prio) if prio is not None else None
        except ValueError:
            prio_f = None
        entries.append((loc.strip(),
                        el.findtext(_SM + "lastmod"),
                        el.findtext(_SM + "changefreq"),
                        prio_f))
    return kind, entries


def sitemap_entries(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    on_error: str = "raise",
) -> DataFrame:
    """Arrow-batched sitemap explosion: one row per <url>/<sitemap>
    entry with its metadata and the container kind — feed 'urlset'
    locs to robots_check / the frontier, recurse on 'sitemapindex'
    locs. ``on_error="null"`` turns a NULL or malformed payload into
    ONE all-NULL-fields row (kind/loc NULL, seq NULL) instead of
    failing the job — one corrupt sitemap must not abort a corpus
    sweep (review r9). Map-only over the scan, no shuffle."""
    def per_row(did, payload):
        raw = bytes(payload) if payload is not None else b""
        kind, entries = parse_sitemap(raw)
        return [(did, i, kind, loc, lastmod, freq, prio)
                for i, (loc, lastmod, freq, prio) in enumerate(entries)]

    return map_rows(df, [id_col, payload_col], SITEMAP_SCHEMA, per_row,
                    on_error)


def sitemap_build(entries, kind: str = "urlset",
                  gzipped: bool = False) -> bytes:
    """Author a sitemap (the gate half). Each entry: dict with loc and
    optional lastmod/changefreq/priority."""
    import gzip as _gzip

    from ..functions.docx import _xml_escape

    child = "url" if kind == "urlset" else "sitemap"
    parts = ['<?xml version="1.0" encoding="UTF-8"?>',
             f'<{kind} xmlns="http://www.sitemaps.org/schemas/'
             'sitemap/0.9">']
    for e in entries:
        # sitemap.org mandates entity escaping — '&' in query-string
        # URLs is everyday sitemap content (review r9b)
        fields = [f"<loc>{_xml_escape(str(e['loc']))}</loc>"]
        for k in ("lastmod", "changefreq", "priority"):
            if e.get(k) is not None:
                fields.append(f"<{k}>{_xml_escape(str(e[k]))}</{k}>")
        parts.append(f"<{child}>{''.join(fields)}</{child}>")
    parts.append(f"</{kind}>")
    raw = "".join(parts).encode("utf-8")
    return _gzip.compress(raw, mtime=0) if gzipped else raw
