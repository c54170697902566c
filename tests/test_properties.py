"""Property-based tests (hypothesis) for the pure-Python layers.

The reference's closest thing to property testing is the randomized
insert/search loops in pkg/tmindex (reference: tmindex/ckindex_test.go);
here we apply the same idea to the components with algebraic contracts:
glob translation (vs Go path.Match semantics reimplemented as a checker),
tag canonicalization (parse∘render roundtrip), cursor tokens, and
datetime literal folding. No SparkSession involved — these run in ms.
"""

from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from logrange_spark.compiler.select import CursorToken
from logrange_spark.lql.datetime_lit import parse_datetime
from logrange_spark.lql.glob import glob_to_regex
from logrange_spark.model.tags import parse_tags, subset_of, tag_line

# ------------------------------------------------------------------ glob


def path_match(pattern: str, s: str) -> bool:
    """Reference checker: Go path.Match semantics (backtracking, '*' and
    '?' never cross '/'), restricted to the glob subset without classes."""

    def match(p: int, i: int) -> bool:
        while p < len(pattern):
            c = pattern[p]
            if c == "*":
                # try all split points that don't cross '/'
                for j in range(i, len(s) + 1):
                    if match(p + 1, j):
                        return True
                    if j < len(s) and s[j] == "/":
                        return False
                return False
            if i >= len(s):
                return False
            if c == "?":
                if s[i] == "/":
                    return False
            elif c != s[i]:
                return False
            p += 1
            i += 1
        return i == len(s)

    return match(0, 0)


_GLOB_ALPHA = "ab/c*?"  # small alphabet makes collisions (and bugs) likely


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="ab/c*?", min_size=0, max_size=8),
    st.text(alphabet="ab/c", min_size=0, max_size=8),
)
def test_glob_translation_matches_path_match(pattern, s):
    rx = glob_to_regex(pattern)
    assert (re.fullmatch(rx[1:-1], s) is not None) == path_match(pattern, s)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abc.^$+(){}|[]-", min_size=0, max_size=6))
def test_glob_literal_specials_are_escaped(s):
    """A glob with no meta chars matches exactly itself."""
    if any(ch in s for ch in "*?[\\"):
        return
    rx = glob_to_regex(s)
    assert re.fullmatch(rx[1:-1], s)
    assert not re.fullmatch(rx[1:-1], s + "x")


# ------------------------------------------------------------------ tags

_key = st.text(alphabet="abcdefkey_09", min_size=1, max_size=6)
_val = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters='\0\n\r'),
    min_size=1,
    max_size=8,
)


@settings(max_examples=300, deadline=None)
@given(st.dictionaries(_key, _val, min_size=1, max_size=5))
def test_tag_line_roundtrip(tags):
    line = tag_line(tags)
    assert parse_tags(line) == tags
    # canonical: sorted by key, stable under re-render
    assert tag_line(parse_tags(line)) == line


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(_key, _val, min_size=0, max_size=4),
    st.dictionaries(_key, _val, min_size=0, max_size=4),
)
def test_subset_semantics(a, b):
    merged = {**a, **b}
    assert subset_of(b, merged)  # b ⊆ a∪b (b wins collisions in merge)
    if subset_of(a, b) and subset_of(b, a):
        assert a == b


# ---------------------------------------------------------------- cursor


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**62),
    st.text(alphabet="abcdef0123456789", min_size=0, max_size=16),
    st.integers(min_value=0, max_value=2**62),
)
def test_cursor_token_roundtrip(ts, src, seq):
    tok = CursorToken(ts, src, seq)
    assert CursorToken.decode(tok.encode()) == tok


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abc:0123456789", min_size=1, max_size=20),
    st.integers(min_value=0, max_value=2**62),
    st.integers(min_value=0, max_value=2**62),
)
def test_cursor_token_src_may_contain_colons(src, ts, seq):
    """src is opaque — the token format must survive ':' inside it."""
    tok = CursorToken(ts, src, seq)
    assert CursorToken.decode(tok.encode()) == tok


# -------------------------------------------------------------- datetime

NS = 10**9
NOW = 1_700_000_000 * NS


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=10_000), st.sampled_from(["m", "h", "d"]))
def test_relative_datetime_folding(n, unit):
    mult = {"m": 60, "h": 3600, "d": 86400}[unit]
    got = parse_datetime(f"-{n}{unit}", now_ns=NOW)
    assert got == NOW - n * mult * NS


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=4 * 10**18))
def test_unix_nanos_passthrough(ns)  :
    assert parse_datetime(str(ns), now_ns=NOW) == ns


# -------------------------------------------------------------- parser fuzz

from logrange_spark.lql.lexer import LqlSyntaxError
from logrange_spark.lql.parser import parse_lql


@settings(max_examples=500, deadline=None)
@given(
    st.text(
        alphabet='SELECTFROMWHERELIMITOFSTPIN{}=!<>"\'(),:*?-. abcdefghij0123456789',
        min_size=0,
        max_size=80,
    )
)
def test_parser_never_crashes_on_token_soup(text):
    """Any input either parses or raises LqlSyntaxError/ValueError —
    never an unexpected exception type (the server maps these to 400s)."""
    try:
        parse_lql(text)
    except (LqlSyntaxError, ValueError):
        pass


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="abcxyz", min_size=1, max_size=6),
        st.text(alphabet='abc ,="\\', min_size=0, max_size=8),
        min_size=1,
        max_size=4,
    ),
    st.integers(min_value=0, max_value=5000),
    st.integers(min_value=1, max_value=10_000),
)
def test_select_roundtrip_through_parser(tags, offset, limit):
    """A SELECT built from arbitrary tag sets round-trips: the parsed AST
    carries the same tags (via the canonical tag line), offset and limit."""
    from logrange_spark.model.tags import parse_tags, tag_line

    line = tag_line(tags)
    stmt = parse_lql(f"SELECT FROM {{{line}}} OFFSET {offset} LIMIT {limit}")
    assert stmt.source is not None and stmt.source.tags == parse_tags(line) == tags
    assert stmt.offset == offset and stmt.limit == limit


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["conversion", "response", "warcinfo"]),
            st.binary(min_size=0, max_size=60),
        ),
        min_size=0,
        max_size=6,
    ),
    st.booleans(),
)
@example(
    records=[
        # a body that IS a complete WARC record — length framing must
        # deliver it verbatim, not re-split at the nested version line
        ("response",
         b"WARC/1.0\r\nWARC-Type: conversion\r\n"
         b"Content-Length: 2\r\n\r\nxy\r\n\r\n"),
        ("conversion", b"\r\n\r\ntrailing and leading\r\n"),
    ],
    crlf=True,
)
def test_warc_record_splitter_roundtrip(records, crlf):
    """_iter_records recovers every (type, body) from a well-formed file
    — bodies are arbitrary bytes, including blank lines, CR/LF runs and
    the literal 'WARC/' marker (Content-Length framing must not care)."""
    from logrange_spark.ingest.wet import _iter_records

    nl = b"\r\n" if crlf else b"\n"
    buf = b""
    for wtype, body in records:
        buf += (
            b"WARC/1.0" + nl
            + b"WARC-Type: " + wtype.encode() + nl
            + b"Content-Length: " + str(len(body)).encode() + nl + nl
            + body + nl + nl
        )
    got = [(h["warc-type"], body) for _, h, body in _iter_records(buf)]
    want = [(t, b) for t, b in records]
    # a body ENDING in CR/LF bytes is indistinguishable from framing at
    # the next boundary only if the next header still parses — framing
    # is by Content-Length, so recovery must be exact regardless
    assert got == want
