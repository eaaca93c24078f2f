"""mbox / MIME email source — the mailing-list & archive corpus format.

Email archives (mailing lists, support corpora, enterprise dumps) are
a standard LLM training source and ship as mbox: messages
concatenated with ``From `` separator lines, bodies ``>From``-quoted
(mboxrd). The framing is hand-parsed here; the MIME payload is stdlib
``email`` all the way down — RFC 2047 encoded-word headers, RFC 2822
dates, multipart walks, base64/quoted-printable transfer decoding,
per-part charsets.

``mbox_import`` reads a directory of mbox files distributed (the
shared read stage of sources/shards.py, rows out in bounded Arrow
batches) and emits one row per message:
identity headers, epoch date, the first text/plain and text/html
bodies (transfer-decoded, charset-decoded with a utf-8 → latin-1
fallback), and attachment count/bytes. Route ``body_html`` through
operators/html.html_extract or operators/markdown.html_to_markdown
for the text pipeline.

Scope: mboxo/mboxrd framing (the common forms; mboxcl Content-Length
framing falls back to separator scanning), message/rfc822 parts
walked into (their leaves count as the outer message's parts), no
S/MIME decryption.

Reference scope note: the reference engine has no mail surface; this
is LLM-pipeline extension surface (brief §extras: text corpus
ingestion).
"""

from __future__ import annotations

import email
import email.policy
import email.utils
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import shards


MAIL_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("msg_idx", T.LongType()),
    T.StructField("message_id", T.StringType()),
    T.StructField("subject", T.StringType()),
    T.StructField("from_addr", T.StringType()),
    T.StructField("to_addrs", T.StringType()),      # comma-joined
    T.StructField("date_ts", T.LongType()),         # epoch seconds
    T.StructField("body_text", T.StringType()),
    T.StructField("body_html", T.StringType()),
    T.StructField("n_parts", T.IntegerType()),
    T.StructField("n_attachments", T.IntegerType()),
    T.StructField("attachment_bytes", T.LongType()),
])

_FROM_LINE = re.compile(rb"^From \S+.*$")
_QUOTED_FROM = re.compile(rb"^(>+)From ")


def mbox_split(data: bytes):
    """Yield raw RFC 2822 message bytes from an mbox: messages start
    at ``From `` separator lines (column 0), bodies un-``>From``-quoted
    per mboxrd (one ``>`` stripped from every ``>+From `` line — the
    writer added exactly one). Tolerates a missing trailing newline
    and both LF / CRLF line ends. A file that does not start with a
    separator is one bare RFC 2822 message (the common single-message
    case); leading junk before a later separator becomes message 0 the
    same way — raw garbage with no headers still parses as an email
    with every field None, by stdlib's tolerant design. Nothing here
    raises: a 100 TB archive read must not abort on one malformed
    file."""
    if not data:
        return
    lines = data.split(b"\n")
    if lines and lines[-1] == b"":
        lines.pop()  # the final newline's split artifact, not a line
    cur: list[bytes] | None = None
    started = bool(lines) and _FROM_LINE.match(lines[0]) is not None
    if not started:
        cur = []

    def finish(buf):
        # ONE blank line preceding a separator (or the file end)
        # belongs to the FRAMING, not the message (mboxrd)
        if buf and buf[-1] in (b"", b"\r"):
            buf.pop()
        return b"\n".join(buf)

    for ln in lines:
        bare = ln[:-1] if ln.endswith(b"\r") else ln
        if _FROM_LINE.match(bare):
            if cur is not None:
                yield finish(cur)
            cur = []
            continue
        if _QUOTED_FROM.match(bare):
            ln = ln.replace(b">", b"", 1)
        cur.append(ln)
    if cur is not None:
        yield finish(cur)


def _decode_part(part) -> str | None:
    """Transfer-decode + charset-decode one leaf part. Charset chain:
    declared → utf-8 strict → latin-1 (total — the scrape-tolerant
    floor; a wrong-but-declared charset still decodes deterministically
    via errors='replace')."""
    payload = part.get_payload(decode=True)
    if payload is None:
        return None
    cs = part.get_content_charset()
    if cs:
        try:
            return payload.decode(cs, errors="replace")
        except LookupError:
            pass
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        return payload.decode("latin-1")


def parse_email(raw: bytes) -> dict:
    """One message → the MAIL_SCHEMA fields (sans path/msg_idx).
    First text/plain and first text/html NON-attachment leaves win;
    everything else with a payload counts as an attachment."""
    msg = email.message_from_bytes(raw, policy=email.policy.default)

    def hdr(name):
        try:
            v = msg[name]
        except Exception:  # malformed header: tolerant, not fatal
            v = None
        return str(v) if v is not None else None

    date_ts = None
    try:
        dt = email.utils.parsedate_to_datetime(hdr("Date") or "")
        if dt is not None:
            if dt.tzinfo is None:
                import datetime as _dt
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            date_ts = int(dt.timestamp())
    except (ValueError, TypeError):
        pass

    body_text = body_html = None
    n_parts = n_att = 0
    att_bytes = 0
    for part in msg.walk():
        if part.is_multipart():
            continue
        n_parts += 1
        ctype = part.get_content_type()
        is_att = part.get_content_disposition() == "attachment"
        if not is_att and ctype == "text/plain" and body_text is None:
            body_text = _decode_part(part)
        elif not is_att and ctype == "text/html" and body_html is None:
            body_html = _decode_part(part)
        else:
            n_att += 1
            payload = part.get_payload(decode=True)
            att_bytes += len(payload) if payload else 0

    tos = msg.get_all("To") or []
    return {
        "message_id": hdr("Message-ID"),
        "subject": hdr("Subject"),
        "from_addr": hdr("From"),
        "to_addrs": ", ".join(str(t) for t in tos) or None,
        "date_ts": date_ts,
        "body_text": body_text,
        "body_html": body_html,
        "n_parts": n_parts,
        "n_attachments": n_att,
        "attachment_bytes": att_bytes,
    }


def mbox_decode_file(path: str, data: bytes):
    """MAIL_SCHEMA row tuples for one mbox file, one per message."""
    cols = [f.name for f in MAIL_SCHEMA.fields]
    for idx, raw in enumerate(mbox_split(data)):
        d = parse_email(raw)
        yield (path, idx) + tuple(d[c] for c in cols[2:])


def mbox_import(spark: SparkSession, path: str,
                pattern: str = "*.mbox*") -> DataFrame:
    """Read a directory of mbox files distributed through the shared
    read stage (sources/shards.py): one row per message, bounded Arrow
    batches. Large single archives should be pre-split (mbox has no
    record index; the separator scan is inherently sequential per
    file — file count is the parallelism axis, as with
    WARC-without-CDX)."""
    return shards.read_files(shards.list_files(spark, path, pattern),
                             MAIL_SCHEMA, mbox_decode_file)


def mbox_build(messages: list[bytes]) -> bytes:
    """Author mboxrd bytes from raw RFC 2822 messages: ``From ``
    separator per message, body ``From ``/``>From `` lines quoted with
    one more ``>``. The writer half of the framing cross-check
    (tests + the oracle gate read back through mbox_split)."""
    out = []
    for raw in messages:
        out.append(b"From mbox_build Thu Jan  1 00:00:00 2026\n")
        for ln in raw.split(b"\n"):
            bare = ln[:-1] if ln.endswith(b"\r") else ln
            if _FROM_LINE.match(bare) or _QUOTED_FROM.match(bare):
                ln = b">" + ln
            out.append(ln + b"\n")
        out.append(b"\n")  # the framing blank line mbox_split pops
    return b"".join(out)
