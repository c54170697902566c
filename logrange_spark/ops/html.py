"""HTML → text extraction for crawled payloads.

The step between a WARC ``response`` record and a documents-table row
(CCNet/C4/RefinedWeb all start here): strip markup, drop
script/style/head and invisible containers, decode entities, and
normalize whitespace into paragraph-ish lines that the downstream
quality/boilerplate/dedup operators expect. Pure stdlib
(``html.parser`` — no lxml/bs4 in this environment), tolerant of the
malformed tag soup real crawls contain (HTMLParser never raises on bad
nesting; a try/except guards the rest).

100 TB shape: extraction is an Arrow-batched ``mapInPandas`` over the
payload column — one Python pass per document, no shuffle. Block-level
tags emit newlines so paragraph structure survives for the
line-grained ops (``boilerplate_lines``, bullet/ellipsis rules);
inline tags don't split words.

reference: no analogue (log engine); part of the beyond-reference
training-data toolkit (SURVEY §2.8).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# content inside these never renders as document text
_SKIP = frozenset(
    {"script", "style", "noscript", "template", "head", "svg", "iframe"}
)
# tags that end a visual line — emit a newline boundary
_BLOCK = frozenset(
    {
        "p", "div", "br", "li", "ul", "ol", "table", "tr", "td", "th",
        "h1", "h2", "h3", "h4", "h5", "h6", "section", "article",
        "header", "footer", "nav", "aside", "blockquote", "pre", "form",
        "hr", "figure", "figcaption", "main", "details", "summary",
    }
)
# void elements never push onto the skip stack (crawl soup rarely
# closes them, and an unclosed <script> would otherwise eat the page)


class _TextExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._parts: list[str] = []
        self.title: str | None = None
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP:
            self._skip_depth += 1
        elif tag in _BLOCK:
            self._parts.append("\n")
        if tag == "title":
            self._in_title = True

    def handle_endtag(self, tag):
        if tag in _SKIP and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag in _BLOCK:
            self._parts.append("\n")
        if tag == "title":
            self._in_title = False

    def handle_data(self, data):
        if self._in_title and self.title is None and data.strip():
            self.title = data.strip()
        # 'head' is in _SKIP, but title capture above runs regardless so
        # soup that never opens <head> still yields a title
        if self._skip_depth == 0 and data:
            self._parts.append(data)

    def text(self) -> str:
        raw = "".join(self._parts)
        # whitespace-normalize per line, drop empty lines
        lines = [re.sub("[ \t\r\f\v\u00a0]+", " ", ln).strip()
                 for ln in raw.split("\n")]
        return "\n".join(ln for ln in lines if ln)


def extract_text(html: str | None) -> tuple[str | None, str | None]:
    """(text, title) from one HTML string — the python-callable core
    (None-total; parser soup never raises out of here)."""
    if html is None:
        return None, None
    ex = _TextExtractor()
    try:
        ex.feed(html)
        ex.close()
    except Exception:
        pass  # keep whatever was extracted before the soup broke
    return ex.text(), ex.title


_HTML_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

_META_CHARSET = re.compile(
    rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_.:-]+)""", re.IGNORECASE
)


def _decode_payload(payload: bytes | None) -> str | None:
    """Bytes → str: honor an in-document meta charset when python knows
    it, else UTF-8 with replacement (the crawl-processing default)."""
    if payload is None:
        return None
    enc = "utf-8"
    m = _META_CHARSET.search(payload[:2048])
    if m:
        cand = m.group(1).decode("ascii", "ignore")
        try:
            b"x".decode(cand)
            enc = cand
        except (LookupError, UnicodeDecodeError):
            pass
    return payload.decode(enc, errors="replace")


def html_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    payload_col: str = "payload",
) -> DataFrame:
    """(doc_id, url, title, text) from a frame of HTML payload bytes —
    e.g. ``wet.read_warc`` responses bridged through an id column.
    Arrow-batched mapInPandas; one Python pass per document, no shuffle.
    Non-HTML/undecodable payloads still yield a row (title/text may be
    empty) — totality, like every decode op in this repo."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for i, u, p in zip(
                pdf[id_col], pdf[url_col], pdf[payload_col]
            ):
                text, title = extract_text(
                    _decode_payload(None if p is None else bytes(p))
                )
                out.append((i, u, title, text))
            yield pd.DataFrame(
                out, columns=[f.name for f in _HTML_TEXT_SCHEMA]
            )

    return df.select(
        df[id_col].alias("doc_id"),
        df[url_col].alias("url"),
        df[payload_col].alias("payload"),
    ).mapInPandas(_batches, _HTML_TEXT_SCHEMA)
