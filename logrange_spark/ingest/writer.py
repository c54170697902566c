"""Batch ingest: normalize incoming events into the canonical log schema.

The Spark analogue of the reference write path (api/rpc/ingestor.go:107-118
→ pkg/partition/partition.go:159-211): write-level tags identify the
partition; write-level fields are merged into each record's fields
(write-level fields are concatenated first and field lookup is
first-match, so write-level WINS on key clash — mirrors
api/rpc/ingestor.go:159-230 + pkg/model/field/field.go:143-157); the tag
set is canonicalized and hashed to
the physical partition key ``src``; ``seq`` is assigned monotonically per
src from a persisted high-water mark.

Single-writer-per-partition is assumed for seq monotonicity — the same
contract the reference has (one aggregator owns a journal).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Any, Iterable

from ..model.tags import parse_tags, tag_line
from ..model.schema import src_for_tag_line


@dataclass
class NormalizedBatch:
    """COLUMNAR normalized batch (ts/msg/fields as parallel lists):
    the write hot path feeds these straight into pyarrow arrays —
    no per-row tuple allocation, and the per-batch constants (tags,
    tag_line, the contiguous seq range) stay one value instead of a
    column of copies."""

    ts: list[int]
    msg: list[str]
    fields: list[dict]
    tags: dict[str, str]
    src: str
    tag_line: str
    first_seq: int
    last_seq: int

    def __len__(self) -> int:
        return len(self.ts)


class SeqState:
    """Persisted per-src sequence high-water marks."""

    def __init__(self, path: str):
        self.path = path
        self._hw: dict[str, int] = {}
        if os.path.exists(path):
            with open(path) as f:
                self._hw = {k: int(v) for k, v in json.load(f).items()}

    def next_range(self, src: str, n: int) -> tuple[int, int]:
        base = self._hw.get(src, 0)
        self._hw[src] = base + n
        return base + 1, base + n

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._hw, f)
        os.replace(tmp, self.path)


def normalize_rows(
    tags: str | dict[str, str],
    write_fields: dict[str, str] | None,
    events: Iterable[Any],
) -> NormalizedBatch:
    """Row normalization WITHOUT seq assignment (first/last seq 0) — the
    expensive per-row Python work, deliberately lock-free so the write
    path runs it outside the engine's global lock (only the seq-range
    reservation needs serialization; holding the lock across this loop
    serialized every concurrent writer's CPU work).

    Accepts (ts_ns, msg), (ts_ns, msg, fields) tuples or lists, or dict
    events, and raises ValueError for any other event; a None/absent ts
    stamps ingest time. Field merge: write-level fields
    WIN on key clash (record fields first, write fields overwrite —
    mirrors api/rpc/ingestor.go:159-230 first-match lookup)."""
    tmap = parse_tags(tags) if isinstance(tags, str) else {str(k): str(v) for k, v in tags.items()}
    line = tag_line(tmap)
    src = src_for_tag_line(line)
    wfields = {str(k): str(v) for k, v in (write_fields or {}).items()}

    ts_l: list[int] = []
    msg_l: list[str] = []
    f_l: list[dict] = []
    for i, ev in enumerate(events):
        if isinstance(ev, dict):
            ts = ev.get("ts")
            msg = ev.get("msg", "")
            f = ev.get("fields")
        elif isinstance(ev, (tuple, list)) and len(ev) in (2, 3):
            ts = ev[0]
            msg = ev[1]
            f = ev[2] if len(ev) > 2 else None
        else:
            raise ValueError(
                f"event {i}: expected a dict or a (ts, msg[, fields]) tuple "
                f"or list, got {ev!r:.60}"
            )
        fields = {str(k): str(v) for k, v in f.items()} if f else {}
        ts_l.append(time.time_ns() if ts is None else int(ts))
        msg_l.append(msg if type(msg) is str else str(msg))
        # dict-merge: later keys win, so record fields go first and
        # write-level fields overwrite on clash (write-level wins)
        f_l.append({**fields, **wfields} if wfields else fields)
    return NormalizedBatch(ts_l, msg_l, f_l, tmap, src, line, 0, 0)


def normalize_batch(
    tags: str | dict[str, str],
    write_fields: dict[str, str] | None,
    events: Iterable[Any],
    seq_state: SeqState,
) -> NormalizedBatch:
    """`normalize_rows` + seq-range reservation in one call (callers that
    already hold whatever lock guards ``seq_state``)."""
    b = normalize_rows(tags, write_fields, events)
    b.first_seq, b.last_seq = seq_state.next_range(b.src, len(b))
    return b
