"""SELECT statement → DataFrame pipeline.

The Spark mapping of the reference's read path (pkg/cursor/cursor.go:85-164):

    parse → resolve partitions (tag index) → time-range prune → per-record
    WHERE → k-way ts merge → position/offset → limit → projection

becomes

    .where(src IN resolved)        -- static partition pruning
    .where(ts BETWEEN ...)         -- parquet min/max row-group skipping
    .where(compiled WHERE Column)  -- codegen'd predicate, pushed down
    .orderBy(ts, src, seq)         -- replaces the streaming merge
    .limit(n)                      -- TakeOrderedAndProject (no full sort)
    .select(projection)

Cursor pagination is value-based: POSITION carries a ``ts:src:seq`` token
and compiles to a composite-key predicate, so every page is an independent
pruned scan — stateless, any-executor, no server-side cursor cache needed
(deviation from the reference's 50k-cursor LRU, pkg/cursor/provider.go).

Ordering note: the reference breaks ts ties by journal iteration order
(pkg/model/mixer.go:47-49); we use deterministic (ts, src, seq) instead.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..lql import ast
from ..model.schema import ORDER_COLUMNS
from .formatter import compile_format
from .tagexpr import compile_tags
from .whereexpr import CompileError, compile_where


@dataclass(frozen=True)
class CursorToken:
    """Value-based cursor: the last row returned, exclusive."""

    ts: int
    src: str
    seq: int

    def encode(self) -> str:
        return f"{self.ts}:{self.src}:{self.seq}"

    @staticmethod
    def decode(token: str) -> "CursorToken":
        # src is opaque and may contain ':' — ts and seq are digit-only,
        # so peel them off the ends
        ts, rest = token.split(":", 1)
        src, seq = rest.rsplit(":", 1)
        return CursorToken(int(ts), src, int(seq))

    @staticmethod
    def of_row(row) -> "CursorToken":
        """The cursor just past ``row`` (any mapping with ts/src/seq)."""
        return CursorToken(row["ts"], row["src"], row["seq"])


def after_cursor(tok: CursorToken) -> Column:
    """(ts, src, seq) > (tok.ts, tok.src, tok.seq) lexicographically."""
    ts, src, seq = F.col("ts"), F.col("src"), F.col("seq")
    return (
        (ts > tok.ts)
        | ((ts == tok.ts) & (src > tok.src))
        | ((ts == tok.ts) & (src == tok.src) & (seq > tok.seq))
    )


def before_cursor(tok: CursorToken) -> Column:
    ts, src, seq = F.col("ts"), F.col("src"), F.col("seq")
    return (
        (ts < tok.ts)
        | ((ts == tok.ts) & (src < tok.src))
        | ((ts == tok.ts) & (src == tok.src) & (seq < tok.seq))
    )


def compile_select(
    logs: DataFrame,
    sel: ast.Select,
    now_ns: int | None = None,
    src_ids: list[str] | None = None,
    default_limit: int | None = None,
) -> DataFrame:
    """Compile a SELECT AST over a logs DataFrame.

    ``src_ids`` — pre-resolved partition ids (tag-index path); when given,
    the tag predicate becomes ``src IN (...)`` for static pruning. Otherwise
    the compiled tag Column filters the scan directly.
    """
    df = logs

    if src_ids is not None:
        df = df.where(F.col("src").isin(src_ids))
    elif sel.source is not None:
        df = df.where(compile_tags(sel.source))

    if sel.range is not None:
        if sel.range.min_ns is not None:
            df = df.where(F.col("ts") >= F.lit(sel.range.min_ns))
        if sel.range.max_ns is not None:
            df = df.where(F.col("ts") <= F.lit(sel.range.max_ns))

    if sel.where is not None:
        df = df.where(compile_where(sel.where, now_ns))

    offset = sel.offset or 0
    pos = sel.position.pos_id.lower() if sel.position else "head"
    limit = sel.limit if sel.limit is not None else default_limit

    asc = [F.col(c).asc() for c in ORDER_COLUMNS]
    desc = [F.col(c).desc() for c in ORDER_COLUMNS]

    if pos == "head":
        if offset < 0:
            offset = 0  # can't step back from head
    elif pos == "tail":
        # tail + OFFSET -n: the cursor steps back n records from the end,
        # then reads LIMIT *forward* (reference: pkg/cursor/cursor.go:246-285
        # backward walk then forward read) — so the window is the last n
        # records and LIMIT selects from the start of that window. When
        # n != LIMIT the two caps differ; both apply.
        if offset < 0:
            df = df.orderBy(*desc).limit(-offset)  # the last n records
            offset = 0
            # fall through: re-sorted ascending, then forward LIMIT
        else:
            # at end-of-stream going forward: nothing to return in batch mode
            return _project(df.where(F.lit(False)), sel).limit(0)
    else:
        tok = CursorToken.decode(sel.position.pos_id)
        if offset >= 0:
            df = df.where(after_cursor(tok))
        else:
            # OFFSET -n: move the cursor n records back, then read LIMIT
            # forward (reference: pkg/cursor/cursor.go:246-285). The n
            # records at-or-before the token (which is the last row
            # already returned) plus everything after it, read in order.
            n = -offset
            offset = 0
            back = df.where(~after_cursor(tok)).orderBy(*desc).limit(n)
            df = back.unionByName(df.where(after_cursor(tok)))

    df = df.orderBy(*asc)
    if offset:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(limit)

    return _project(df, sel)


def _project(df: DataFrame, sel: ast.Select) -> DataFrame:
    if sel.format:
        try:
            line = compile_format(sel.format)
        except Exception as e:  # surface as compile error with context
            raise CompileError(f"bad format {sel.format!r}: {e}") from e
        return df.select(
            F.col("ts"), F.col("src"), F.col("seq"), line.alias("line")
        )
    # default projection (reference: pkg/backend/querier.go:90-107):
    # timestamp, message, tag line, fields
    return df.select("ts", "msg", "tag_line", "fields", "src", "seq")
