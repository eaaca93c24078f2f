"""HTML → Markdown conversion (the LLM-corpus text format).

Training corpora increasingly keep documents as Markdown rather than
stripped plain text: structure (headings, lists, tables, code, links)
carries signal a flat extraction throws away, and Markdown is what
instruction-tuned models are expected to read and write. This operator
converts scraped HTML into a deterministic CommonMark-flavored subset:

- headings → ``#``·level, paragraphs/divs → blank-line-separated
  blocks, ``<br>`` → line break, ``<hr>`` → ``---``
- ``strong``/``b`` → ``**``, ``em``/``i`` → ``*``, inline ``code`` →
  backticks, ``pre`` → fenced blocks (whitespace preserved)
- ``a`` → ``[text](href)``, ``img`` → ``![alt](src)``
- ``ul``/``ol``/``li`` → ``-`` / ``1.`` items, nested lists indented
  two spaces per depth, ordered counters per level
- ``blockquote`` → ``> `` per nesting level, applied per line
- tables → pipe rows with a ``---`` separator after a header row
- ``script``/``style``/``noscript``/``template`` subtrees dropped

Deliberately NOT done: Markdown-metacharacter escaping in text nodes
(``*``, ``_``, ``[``). The output is training text, not an authoring
round-trip — escapes would inject tokens the source page never
showed. Parsing is stdlib ``html.parser`` (tolerant tokenizer:
malformed markup cannot raise), entity-exact via convert_charrefs.

One Arrow map stage per call — no shuffle, scales with the scan
(same contract as operators/html.html_extract). Oracle gate:
queries.crawl.html_markdown_report replays the exact converted string.

Reference scope note: the reference engine has no HTML surface; this
is LLM-pipeline extension surface beside operators/html.py (brief
§extras: text analysis for training data).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .html import _DROP as _HTML_DROP, _VOID

# markdown additionally drops <title>: it is document METADATA (the
# html_extract operator surfaces it as its own column), not body text —
# leaking it produced a phantom leading paragraph on every real page
_DROP = _HTML_DROP | {"title"}

_HEADING_LEVEL = {f"h{i}": i for i in range(1, 7)}
# block containers that flush the current paragraph on both edges
_PARA_EDGE = {"p", "div", "section", "article", "header", "footer",
              "main", "aside", "figure", "figcaption", "details",
              "summary", "dl", "dt", "dd"}
_INLINE_MARK = {"strong": "**", "b": "**", "em": "*", "i": "*"}


class _MarkdownConverter(HTMLParser):
    """One instance per document (HTMLParser tokenizer state is not
    reusable after malformed input — see html._Extractor)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self.buf: list[str] = []
        self.drop_depth = 0
        self.pre_depth = 0
        self.quote_depth = 0
        self.heading: int | None = None
        self.href_stack: list[str] = []
        # lists: (marker, counter) per open list; lines accumulate for
        # the OUTERMOST list and flush as one block when it closes
        self.list_stack: list[list] = []
        self.list_lines: list[str] = []
        self.li_open = 0
        # tables: rows of cells for the innermost table only (nested
        # tables flatten into the outer one — tolerant, not faithful)
        self.table_rows: list[tuple[list[str], bool]] | None = None
        self.row_cells: list[str] | None = None
        self.row_is_header = False
        self.in_cell = False

    # -- block assembly ------------------------------------------------

    def _inline_text(self) -> str:
        s = "".join(self.buf)
        self.buf = []
        s = re.sub(r"[ \t]+", " ", s)
        s = re.sub(r" ?\n ?", "\n", s)
        return s.strip()

    def _emit(self, block: str):
        if not block:
            return
        if self.quote_depth:
            p = "> " * self.quote_depth
            block = "\n".join(p + ln for ln in block.split("\n"))
        self.blocks.append(block)

    def _flush_para(self):
        self._emit(self._inline_text())

    def _flush_li_line(self):
        """Close the pending item text as one list line. Outside a
        list context this is a no-op (buf stays for the paragraph
        path — result() calls this unconditionally)."""
        if not self.li_open or not self.list_stack:
            return
        text = self._inline_text()
        if not text:
            return
        marker, count = self.list_stack[-1]
        indent = "  " * (len(self.list_stack) - 1)
        if marker == "-":
            self.list_lines.append(f"{indent}- {text}")
        else:
            self.list_stack[-1][1] = count + 1
            self.list_lines.append(f"{indent}{count}. {text}")

    # -- tag handlers ----------------------------------------------------

    def handle_starttag(self, tag, attrs):
        if tag in _DROP and tag not in _VOID:
            self.drop_depth += 1
            return
        if self.drop_depth:
            return
        if self.pre_depth:
            if tag == "pre":
                self.pre_depth += 1
            return
        if tag in _INLINE_MARK:
            self.buf.append(_INLINE_MARK[tag])
        elif tag == "code":
            self.buf.append("`")
        elif tag == "a":
            self.href_stack.append(dict(attrs).get("href") or "")
            self.buf.append("[")
        elif tag == "img":
            a = dict(attrs)
            self.buf.append(f"![{a.get('alt') or ''}]({a.get('src') or ''})")
        elif tag == "br":
            self.buf.append("\n")
        elif tag == "hr":
            self._flush_para()
            self._emit("---")
        elif tag in _HEADING_LEVEL:
            self._flush_para()
            self.heading = _HEADING_LEVEL[tag]
        elif tag == "pre":
            self._flush_para()
            self.pre_depth = 1
        elif tag == "blockquote":
            self._flush_para()
            self.quote_depth += 1
        elif tag in ("ul", "ol"):
            if self.list_stack:
                self._flush_li_line()  # item text before its sublist
            else:
                self._flush_para()
            self.list_stack.append(
                ["-" if tag == "ul" else "1", 1])
        elif tag == "li":
            self._flush_li_line()      # tolerate unclosed <li>
            self.li_open += 1
        elif tag == "table":
            self._flush_para()
            if self.table_rows is None:
                self.table_rows = []
        elif tag == "tr":
            self.row_cells, self.row_is_header = [], False
        elif tag in ("td", "th"):
            if self.row_cells is None:
                self.row_cells = []
            self.buf = []
            self.in_cell = True
            if tag == "th":
                self.row_is_header = True
        elif tag in _PARA_EDGE:
            self._flush_para()

    def handle_startendtag(self, tag, attrs):
        if tag in _VOID or tag in ("img",):
            self.handle_starttag(tag, attrs)
        else:
            self.handle_starttag(tag, attrs)
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in _DROP and tag not in _VOID:
            self.drop_depth = max(0, self.drop_depth - 1)
            return
        if self.drop_depth:
            return
        if self.pre_depth:
            if tag == "pre":
                self.pre_depth -= 1
                if self.pre_depth == 0:
                    code = "".join(self.buf)
                    self.buf = []
                    code = code.strip("\n")
                    self._emit(f"```\n{code}\n```")
            return
        if tag in _INLINE_MARK:
            self.buf.append(_INLINE_MARK[tag])
        elif tag == "code":
            self.buf.append("`")
        elif tag == "a":
            href = self.href_stack.pop() if self.href_stack else ""
            self.buf.append(f"]({href})")
        elif tag in _HEADING_LEVEL:
            level = self.heading or _HEADING_LEVEL[tag]
            text = self._inline_text()
            self.heading = None
            if text:
                self._emit("#" * level + " " + text)
        elif tag == "blockquote":
            self._flush_para()
            self.quote_depth = max(0, self.quote_depth - 1)
        elif tag == "li":
            self._flush_li_line()
            self.li_open = max(0, self.li_open - 1)
        elif tag in ("ul", "ol"):
            self._flush_li_line()
            if self.list_stack:
                self.list_stack.pop()
            if not self.list_stack and self.list_lines:
                self._emit("\n".join(self.list_lines))
                self.list_lines = []
        elif tag in ("td", "th"):
            if self.in_cell and self.row_cells is not None:
                self.row_cells.append(self._inline_text() or " ")
                self.in_cell = False
        elif tag == "tr":
            if self.in_cell and self.row_cells is not None:
                self.row_cells.append(self._inline_text() or " ")
                self.in_cell = False
            if self.row_cells:
                if self.table_rows is None:
                    self.table_rows = []
                self.table_rows.append((self.row_cells, self.row_is_header))
            self.row_cells = None
        elif tag == "table":
            rows, self.table_rows = self.table_rows, None
            if rows:
                lines = []
                for i, (cells, is_header) in enumerate(rows):
                    lines.append("| " + " | ".join(cells) + " |")
                    if i == 0 and is_header:
                        lines.append("|" + " --- |" * len(cells))
                self._emit("\n".join(lines))
        elif tag in _PARA_EDGE:
            self._flush_para()

    def handle_data(self, data):
        if self.drop_depth:
            return
        if self.pre_depth:
            self.buf.append(data)
            return
        if self.list_stack and not self.li_open and not self.in_cell:
            return  # whitespace between <li> siblings
        self.buf.append(re.sub(r"\s+", " ", data))

    def result(self) -> str:
        self._flush_li_line()
        if self.list_lines:
            self._emit("\n".join(self.list_lines))
            self.list_lines = []
        # dangling table fragments (stray <td>/<tr> without </table>)
        if self.in_cell and self.row_cells is not None:
            self.row_cells.append(self._inline_text() or " ")
            self.in_cell = False
        if self.row_cells:
            if self.table_rows is None:
                self.table_rows = []
            self.table_rows.append((self.row_cells, self.row_is_header))
            self.row_cells = None
        if self.table_rows:
            self.handle_endtag("table")
        self._flush_para()
        return "\n\n".join(self.blocks)


def html_to_markdown_one(raw: str) -> str:
    conv = _MarkdownConverter()
    conv.feed(raw)
    conv.close()
    return conv.result()


def html_to_markdown(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, markdown, n_chars) per document — see module docstring for
    the dialect. One Arrow map stage, no shuffle."""
    from .arrowmap import map_text_rows

    def per_row(s):
        if s is None:
            return None, None
        md = html_to_markdown_one(s)
        return md, len(md)

    return map_text_rows(
        df, per_row,
        [T.StructField("markdown", T.StringType(), True),
         T.StructField("n_chars", T.IntegerType(), True)],
        text_col, id_col)
