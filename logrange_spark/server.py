"""HTTP/JSON serving layer: Query / Write / Execute over the wire.

The reference is a client/server system speaking a custom binary RPC
(api/rpc/querier.go:85-182, api/rpc/ingestor.go:107-118); this is the
same API surface re-expressed as JSON-over-HTTP on the Python stdlib
server — no extra dependencies, and the transport is not the interesting
part at 100 TB (the query plan is).

Semantics mirror the reference's backend querier
(pkg/backend/querier.go:40-130):

- ``limit`` is clamped to 10k (QueryMaxLimit), negative limit is an
  error, and ``limit == 0`` with no waitTimeout returns an empty result;
- ``waitTimeout`` must be in [0, 60] (QueryMaxWaitTimeout); when the read
  starts at end-of-stream and returns nothing, the server waits up to
  that many seconds for new data before answering;
- ``pos`` (when non-empty) overrides the statement's POSITION, and
  ``offset`` is applied relative to it, then reset to 0 in the returned
  ``nextQueryRequest`` — consecutive page reads just echo
  ``nextQueryRequest`` back, exactly the reference's iteration contract
  (api/querier.go:41-83).

One deliberate deviation: the reference caches server-side cursors in a
50k-entry LRU (pkg/cursor/provider.go) because its iterators hold open
journal handles. Our cursor is a *value* (``ts:src:seq``) compiled into
the next page's pruned scan, so the server stays stateless — any replica
can serve any page, which is the property that matters on a
1000-executor cluster.

Events serialize as the reference's api.LogEvent: ``timestamp`` (ns),
``message``, ``tags`` (canonical tag line) and ``fields`` rendered as a
``k=v,...`` KV string (field.Fields.AsKVString analogue).
"""

from __future__ import annotations

import json
import threading
from dataclasses import replace
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .compiler.select import CursorToken
from .engine import MAX_LIMIT, wait_rows
from .lql import ast
from .lql.parser import parse_lql

QUERY_MAX_WAIT_TIMEOUT = 60  # reference: pkg/backend/querier.go:42


class ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def _kv_string(fields: dict | None) -> str:
    if not fields:
        return ""
    return ",".join(f"{k}={v}" for k, v in sorted(fields.items()))


def _event_of_row(row) -> dict:
    if "line" in row.__fields__:  # formatted projection
        return {
            "timestamp": row["ts"],
            "message": row["line"],
            "tags": "",
            "fields": "",
        }
    return {
        "timestamp": row["ts"],
        "message": row["msg"],
        "tags": row["tag_line"] or "",
        "fields": _kv_string(row["fields"]),
    }


def _parse_select(query: str) -> ast.Select:
    try:
        stmt = parse_lql(query)
    except Exception as e:
        raise ApiError(400, f"bad LQL: {e}") from e
    if not isinstance(stmt, ast.Select):
        raise ApiError(400, "query endpoint accepts SELECT statements only; use /execute")
    return stmt


def query_once(engine, req: dict) -> dict:
    """One Query round-trip (pkg/backend/querier.go:52-130 semantics)."""
    query = req.get("query") or ""
    pos = req.get("pos") or ""
    offset = int(req.get("offset") or 0)
    wait_timeout = int(req.get("waitTimeout") or 0)

    if wait_timeout < 0 or wait_timeout > QUERY_MAX_WAIT_TIMEOUT:
        raise ApiError(
            400,
            f"wrong wait timeout. Must be in range [0..{QUERY_MAX_WAIT_TIMEOUT}], "
            f"but provided {wait_timeout}",
        )

    stmt = _parse_select(query)

    limit = req.get("limit")
    if limit is None:
        limit = stmt.limit if stmt.limit is not None else MAX_LIMIT
    limit = int(limit)
    if limit < 0:
        raise ApiError(400, f"wrong limit value, expected not-negative integer, but got {limit}")
    lim = min(limit, MAX_LIMIT)

    if lim == 0:
        # the reference's read loop never runs with limit=0 — it returns
        # an empty result immediately even when waitTimeout is set
        # (pkg/backend/querier.go:90 `for limit > 0`)
        return {
            "events": [],
            "nextQueryRequest": {"query": query, "pos": pos, "offset": 0,
                                 "limit": lim, "waitTimeout": wait_timeout},
            "err": None,
        }

    if pos:
        # request position overrides the statement's POSITION; the request
        # offset applies relative to it (cursor.State semantics)
        stmt = replace(stmt, position=ast.Position(pos), offset=offset)
    elif offset:
        stmt = replace(stmt, offset=(stmt.offset or 0) + offset)
    stmt = replace(stmt, limit=lim)

    if stmt.position and stmt.position.pos_id.lower() == "tail" and (stmt.offset or 0) >= 0:
        # batch-compiled 'tail going forward' is always empty; the cursor
        # semantics are 'start at end-of-stream, return what arrives
        # later'. Seed a value cursor from the current last row (like
        # engine.follow_rows) so the wait loop — and the returned pos — can
        # actually observe new data.
        ct = engine.tail_cursor(stmt)
        if ct is not None:
            pos = ct.encode()
        else:
            # Empty stream: everything that ever arrives is new. Pin an
            # explicit beginning-of-stream VALUE cursor ("0::0") — if the
            # wait below expires empty, next_pos echoes it, so the next
            # page still reads from the beginning. (Round-4 race: echoing
            # the request's empty pos made the next page re-seed tail at
            # the then-current last row, silently skipping anything
            # written between the two requests. The reference's
            # server-side cursor, pkg/cursor/provider.go, can't lose
            # those; a stateless value cursor must pin the position.)
            pos = CursorToken(0, "", 0).encode()
        stmt = replace(stmt, position=ast.Position(pos), offset=0)

    # a forward value cursor (the tail seed, a nextQueryRequest echo)
    # lets the chunk catalog skip the scan when nothing can follow it
    after = None
    if stmt.position and (stmt.offset or 0) >= 0:
        try:
            after = CursorToken.decode(stmt.position.pos_id)
        except ValueError:
            pass  # head or another non-cursor position: always scan
    rows = wait_rows(engine, stmt, after, wait_timeout)
    # nothing read: the cursor did not move
    next_pos = CursorToken.of_row(rows[-1]).encode() if rows else pos

    return {
        "events": [_event_of_row(r) for r in rows],
        "nextQueryRequest": {
            "query": query,
            "pos": next_pos,
            "offset": 0,
            "limit": lim,
            "waitTimeout": wait_timeout,
        },
        "err": None,
    }


def write_batch(engine, req: dict) -> dict:
    """Ingestor.Write analogue (api/ingestor.go:22-31): write-level tags
    and fields apply to all events; event tuples are (timestamp, message,
    fields)."""
    tags = req.get("tags")
    if not tags:
        raise ApiError(400, "tags are required")
    fields = req.get("fields") or None
    if isinstance(fields, str):
        from .model.tags import parse_tags

        fields = parse_tags(fields) if fields else None
    # api.LogEvent objects become (ts, msg, fields); anything else goes
    # to engine.write as is, whose event-shape check answers 400
    events = [
        (ev.get("timestamp"), ev.get("message", ""), ev.get("fields") or {})
        if isinstance(ev, dict) else ev
        for ev in req.get("events") or []
    ]
    try:
        res = engine.write(tags, events, fields=fields)
    except Exception as e:
        raise ApiError(400, str(e)) from e
    res = dict(res)
    res["err"] = None
    return res


def execute_stmt(engine, req: dict) -> dict:
    """Admin.Execute analogue (api/admin.go:24-45): any non-SELECT LQL,
    result rendered as formatted text output."""
    query = req.get("query") or ""
    try:
        stmt = parse_lql(query)
    except Exception as e:
        raise ApiError(400, f"bad LQL: {e}") from e
    if isinstance(stmt, ast.Select):
        raise ApiError(400, "use /api/v1/query for SELECT statements")
    try:
        res = engine.execute(query)
    except Exception as e:
        raise ApiError(400, str(e)) from e
    if isinstance(res, dict):
        output = json.dumps(res, default=str)
    else:  # DataFrame (SHOW PARTITIONS / SHOW PIPES / DESCRIBE ...)
        rows = res.limit(1000).collect()
        cols = res.columns
        lines = ["\t".join(cols)]
        lines += ["\t".join(str(r[c]) for c in cols) for r in rows]
        output = "\n".join(lines)
    return {"output": output, "err": None}


def ensure_pipe(engine, req: dict) -> dict:
    """Pipes.EnsurePipe analogue (api/pipes.go:21-54): create the pipe if
    it doesn't exist; either way return its definition. ``destination``
    is server-defined (the ``{logrange.pipe=<name>}`` partition)."""
    from .lql.parser import parse_source, parse_where
    from .pipes.service import pipe_tags
    from .model.tags import tag_line as _tag_line

    name = req.get("name") or ""
    if not name:
        raise ApiError(400, "pipe name is required")
    tags_cond = req.get("tagsCond") or ""
    filter_cond = req.get("filterCond") or ""
    try:
        source = parse_source(tags_cond) if tags_cond else None
        where = parse_where(filter_cond) if filter_cond else None
    except Exception as e:
        raise ApiError(400, f"bad pipe condition: {e}") from e
    try:
        res = engine.create_pipe(ast.CreatePipe(name, source, where))
    except Exception as e:
        raise ApiError(400, str(e)) from e
    defn = engine.describe_pipe(ast.DescribePipe(name))
    return {
        "pipe": {
            "name": name,
            "tagsCond": defn.get("source") or "",
            "filterCond": defn.get("where") or "",
            "destination": _tag_line(pipe_tags(name)),
        },
        "status": res["status"],
        "err": None,
    }


class _Handler(BaseHTTPRequestHandler):
    # set by serve(): the engine this handler serves
    engine = None
    protocol_version = "HTTP/1.1"
    # headers and body go out in two sends on a keep-alive socket: with
    # Nagle on, the body waits for the client's delayed ACK (~40 ms on
    # every small response)
    disable_nagle_algorithm = True

    def log_message(self, *args):  # quiet
        pass

    def _send(self, status: int, payload: dict) -> None:
        body = json.dumps(payload).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if self.path == "/api/v1/ping":
            self._send(200, {"status": "ok"})
        else:
            self._send(404, {"err": f"unknown path {self.path}"})

    MAX_BODY = 64 << 20  # one write batch tops out well under this

    def do_POST(self):
        try:
            n = int(self.headers.get("Content-Length") or 0)
            if n > self.MAX_BODY:
                # the unread body would be parsed as the next request on a
                # keep-alive connection — close instead
                self.close_connection = True
                self._send(413, {"err": f"body {n} bytes exceeds {self.MAX_BODY}"})
                return
            req = json.loads(self.rfile.read(n) or b"{}")
        except Exception as e:
            self._send(400, {"err": f"bad JSON body: {e}"})
            return
        try:
            if self.path == "/api/v1/query":
                self._send(200, query_once(self.engine, req))
            elif self.path == "/api/v1/write":
                self._send(200, write_batch(self.engine, req))
            elif self.path == "/api/v1/execute":
                self._send(200, execute_stmt(self.engine, req))
            elif self.path == "/api/v1/pipes":
                self._send(200, ensure_pipe(self.engine, req))
            else:
                self._send(404, {"err": f"unknown path {self.path}"})
        except ApiError as e:
            self._send(e.status, {"err": str(e)})
        except Exception as e:  # surface, don't kill the connection thread
            self._send(500, {"err": f"internal: {e}"})


class Server:
    """Embedded HTTP server bound to an Engine.

    >>> srv = Server(engine).start()      # port 0 → ephemeral
    >>> srv.port
    >>> srv.stop()
    """

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        self.host = host
        self._requested_port = port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        assert self._httpd is not None, "server not started"
        return self._httpd.server_address[1]

    def start(self) -> "Server":
        handler = type("BoundHandler", (_Handler,), {"engine": self.engine})
        self._httpd = ThreadingHTTPServer((self.host, self._requested_port), handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
