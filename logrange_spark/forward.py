"""Forwarder: continuous export of query results to external sinks.

The reference forwarder (pkg/forwarder/forwarder.go, worker.go) runs a
pull loop per configured pipe — cursor position → api.Select → sink →
persist position. Spark-first, that whole loop is one checkpointed
Structured Streaming query per forwarder job:

    readStream(logs) → tag/WHERE filter → format template → foreachBatch sink

Sinks mirror pkg/forwarder/sink: syslog over tcp/udp/tls with optional
root-CA (pkg/syslog/syslog.go:38-40,128-147, config.go:24-78), RFC3164
or the reference's RFC5424 framing (pkg/syslog/message.go:43-56) with
newline replacement and line-length truncation, and stdout (stdout.go).
Positions/retries/backoff are Spark's checkpoint + trigger machinery.
"""

from __future__ import annotations

import os
import socket
import ssl
from dataclasses import dataclass, replace
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .compiler.formatter import compile_format
from .compiler.select import CursorToken, compile_select
from .engine import wait_rows
from .lql import ast
from .lql.parser import parse_lql

PROTO_TCP = "tcp"
PROTO_UDP = "udp"

# UDP payload hard ceiling is 65507 bytes; clamp below it so an oversized
# line truncates explicitly instead of raising EMSGSIZE mid-batch
_UDP_MAX_BYTES = 65000
PROTO_TLS = "tls"


@dataclass
class SyslogConfig:
    host: str = "127.0.0.1"
    port: int = 514
    facility: int = 16  # local0
    severity: int = 6  # info
    hostname: str = "logrange-spark"
    tag: str = "logrange"
    # transport (reference: pkg/syslog/config.go:24-43)
    protocol: str = PROTO_TCP  # tcp | udp | tls
    root_ca_file: str = ""  # PEM chain for tls; system store when empty
    connect_timeout_s: float = 5.0
    write_timeout_s: float = 5.0
    # framing (reference: pkg/syslog/message.go:43-56)
    framing: str = "rfc3164"  # rfc3164 | rfc5424
    replace_newline: bool = False
    line_len_limit: int = 1024

    def check(self) -> None:
        if self.protocol not in (PROTO_TCP, PROTO_UDP, PROTO_TLS):
            raise ValueError(f"unknown protocol={self.protocol!r}")
        if self.protocol != PROTO_TLS and self.root_ca_file:
            raise ValueError("root_ca_file requires protocol='tls'")


def _open_conn(cfg: SyslogConfig) -> socket.socket:
    """Dial the configured transport (syslog.go:128-147)."""
    if cfg.protocol == PROTO_UDP:
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        sock.connect((cfg.host, cfg.port))
        return sock
    sock = socket.create_connection((cfg.host, cfg.port), timeout=cfg.connect_timeout_s)
    if cfg.protocol == PROTO_TLS:
        # a private CA replaces the trust roots but hostname verification
        # stays ON — any-cert-from-this-CA must not impersonate the
        # configured endpoint (Go's tls.Config{RootCAs} behaves the same)
        ctx = ssl.create_default_context(cafile=cfg.root_ca_file or None)
        sock = ctx.wrap_socket(sock, server_hostname=cfg.host)
    sock.settimeout(cfg.write_timeout_s)
    return sock


def format_lines(df: DataFrame, template: str) -> DataFrame:
    """Apply a P1 format template → single ``line`` column."""
    return df.select(compile_format(template).alias("line"))


def _header(cfg: SyslogConfig) -> str:
    pri = cfg.facility * 8 + cfg.severity
    now = datetime.now(timezone.utc)
    if cfg.framing == "rfc5424":
        # reference framing: "<pri>1 time host tag - - - msg"
        # (pkg/syslog/message.go:53-55)
        ts = now.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
        return f"<{pri}>1 {ts} {cfg.hostname} {cfg.tag} - - - "
    ts = now.strftime("%b %d %H:%M:%S")
    return f"<{pri}>{ts} {cfg.hostname} {cfg.tag}: "


def _frame(line: str, cfg: SyslogConfig) -> str:
    """Newline handling + truncation (pkg/syslog/message.go:44-51)."""
    if cfg.replace_newline:
        line = line.replace("\n", "")
    if cfg.line_len_limit > 0 and len(line) > cfg.line_len_limit:
        line = line[: cfg.line_len_limit] + "... [truncated]"
    return line


class SyslogSink:
    """foreachBatch sink writing syslog lines over tcp, udp or tls.

    One connection per batch per partition; partition-local iteration so
    nothing funnels through the driver. UDP sends one datagram per line
    (standard syslog/UDP transport); tcp/tls use newline framing.
    """

    def __init__(self, cfg: SyslogConfig):
        cfg.check()
        self.cfg = cfg

    def __call__(self, batch_df: DataFrame, _batch_id: int) -> None:
        cfg = self.cfg
        header = _header(cfg)

        def write_partition(rows):
            sock = None
            try:
                for r in rows:
                    if sock is None:  # connect lazily: empty partitions don't dial
                        sock = _open_conn(cfg)
                    line = r["line"] if "line" in r else str(r[0])
                    payload = (header + _frame(line, cfg) + "\n").encode("utf-8")
                    if cfg.protocol == PROTO_UDP:
                        dgram = payload.rstrip(b"\n")
                        if len(dgram) > _UDP_MAX_BYTES:
                            # a >64k datagram raises EMSGSIZE and kills the
                            # whole batch; clamp with an explicit marker
                            # (sub-64k >MTU datagrams IP-fragment, as with
                            # every UDP syslog sender, the reference's too).
                            # decode(errors="ignore") drops a split
                            # multi-byte sequence at the cut so the
                            # datagram stays valid UTF-8
                            head = dgram[: _UDP_MAX_BYTES - 16].decode(
                                "utf-8", "ignore"
                            ).encode("utf-8")
                            dgram = head + b"...[truncated]"
                        sock.send(dgram)
                    else:
                        sock.sendall(payload)
            finally:
                if sock is not None:
                    sock.close()

        batch_df.foreachPartition(write_partition)


class ConsoleSink:
    def __call__(self, batch_df: DataFrame, _batch_id: int) -> None:
        for r in batch_df.collect():
            print(r["line"] if "line" in r else str(r[0]))


class ForwarderHandle:
    """Caller-facing handle for a running forwarder. The engine may
    restart the underlying streaming query (to widen the source glob
    when a new matching partition is born), so the handle — not the
    query object — is the stable reference. ``stop()`` unregisters the
    forwarder and stops the current query."""

    def __init__(self, engine, name: str):
        self._engine = engine
        self._name = name
        self.query = None
        self._stopped = __import__("threading").Event()

    def stop(self) -> None:
        eng = self._engine
        with eng._pipes_lock:
            eng._forwarders.pop(self._name, None)
            eng._forwarder_srcs.pop(self._name, None)
            q = self.query
        self._stopped.set()
        if q is not None:
            q.stop()

    def exception(self):
        return self.query.exception() if self.query is not None else None

    def awaitTermination(self, timeout: float | None = None) -> bool:
        """Block while the forwarder is registered. Unblocks ONLY when
        ``stop()`` is called on this handle (True) or the timeout expires
        (False) — not during engine-driven relaunches (glob widening,
        supervisor restart-on-error), and not on a query failure either,
        because under supervision a failure is transient: the supervisor
        relaunches it. Probing query state here would race the relaunch
        window where the old query is stopped but the new one hasn't been
        assigned yet."""
        return self._stopped.wait(timeout)


def start_forwarder(
    engine,
    name: str,
    lql: str,
    sink,
    template: str = "{vars} - {msg}",
    checkpoint: str | None = None,
):
    """Start a continuous forwarder for a SELECT query.

    The SELECT's FROM/WHERE compile onto the stream; POSITION/OFFSET/LIMIT
    are cursor concepts and are ignored in follow mode (the checkpoint IS
    the position, mirroring forwarder.go's saved cursor state).

    Like pipes, the stream source is pruned to the FROM condition's
    matching partition directories (tag conditions are partition-
    constant), and the engine restarts the forwarder onto a widened glob
    when a new matching partition is born — see pipes/service.py for the
    no-loss argument. Delivery to the side-effecting sink is
    at-least-once across restarts, matching the reference forwarder.
    Returns a ForwarderHandle (stable across internal restarts).
    """
    stmt = parse_lql(lql)
    if not isinstance(stmt, ast.Select):
        raise ValueError("forwarder expects a SELECT query")
    template = stmt.format or template

    from .model.schema import STREAM_SCHEMA
    from .compiler.tagexpr import compile_tags
    from .compiler.whereexpr import compile_where

    def to_lines(df):
        if stmt.source is not None:
            df = df.where(compile_tags(stmt.source))
        if stmt.where is not None:
            df = df.where(compile_where(stmt.where))
        if stmt.range is not None:
            if stmt.range.min_ns is not None:
                df = df.where(F.col("ts") >= stmt.range.min_ns)
            if stmt.range.max_ns is not None:
                df = df.where(F.col("ts") <= stmt.range.max_ns)
        return df.select(compile_format(template).alias("line"))

    cp = checkpoint or os.path.join(engine.root, "forwarder-checkpoints", name)
    handle = ForwarderHandle(engine, name)

    def launch():
        # The streaming side is only the raw file reader; filters and the
        # format projection run on the batch DataFrame inside foreachBatch.
        # Two reasons (same as pipes/service.py): compile_format uses the
        # higher-order F.transform, which trips the Spark 4.1 empty-start
        # IncrementalExecution re-analysis bug when put in the STREAMING
        # plan; and the raw batch handoff renames columns positionally, so
        # the schema must be STREAM_SCHEMA (src last) and any by-name
        # logic must run batch-side.
        srcs = (
            engine.resolve_sources(stmt.source, cap=False)
            if stmt.source is not None
            else None
        )
        reader = engine.spark.readStream.schema(STREAM_SCHEMA)
        if srcs:
            reader = reader.option("basePath", engine.logs_path)
            path = f"{engine.logs_path}/src={{{','.join(srcs)}}}"
        else:
            path = engine.logs_path
        engine._forwarder_srcs[name] = set(srcs) if srcs is not None else None
        old = handle.query
        if old is not None:
            try:
                old.stop()
            except Exception:
                pass
        handle.query = (
            reader.parquet(path)
            .writeStream.outputMode("append")
            .option("checkpointLocation", cp)
            .trigger(processingTime="1 second")
            .foreachBatch(lambda batch_df, batch_id: sink(to_lines(batch_df), batch_id))
            .start()
        )
        return handle.query

    launch.handle = handle  # lets engine.stop_pipes find the live query
    with engine._pipes_lock:
        engine._forwarders[name] = (stmt.source, launch)
        launch()
    engine._ensure_pipe_supervisor()  # restart-on-error covers forwarders too
    return handle

# --------------------------------------------------------------------------
# Cursor-pull tier: forwarders/pipes over the QUERY API (Engine or
# ShardReader) — the reference forwarder's exact shape
# (pkg/forwarder/worker.go:48-104 pulls api.Select from a saved position,
# pushes to the sink, persists the position). The streaming-source
# forwarder above needs filesystem access to ONE store's layout; this
# tier needs only the query surface (select / tail_cursor / write_epoch /
# wait_for_write / chunks_after_cursor / resolve_sources), so it runs
# unchanged over the sharded read-only tier.

PULL_WAIT_S = 1.0  # longest one pull blocks for new rows before the stop check


class CursorHandle:
    """Handle for a cursor-pull worker thread."""

    def __init__(self):
        import threading

        self._stop = threading.Event()
        self._thread: "threading.Thread | None" = None
        self.error: Exception | None = None
        # transient failures the loop retried past (observability: the
        # worker keeps running, but a flapping sink shows up here —
        # HEALTH CONTRACT: a live-looking handle with a growing
        # ``consecutive_retries`` is a worker making no progress;
        # callers monitoring forwarder health must poll it, or pass
        # ``max_retries`` so a permanently-failing loop escalates to
        # ``error`` and terminates instead of spinning silently).
        # ``consecutive_retries`` resets on the next successful
        # iteration; ``last_retry_error``/``retries`` are sticky
        # forensics (the most recent retried error, the lifetime count).
        self.last_retry_error: Exception | None = None
        self.retries: int = 0
        self.consecutive_retries: int = 0

    def stop(self) -> None:
        self._stop.set()
        t = self._thread
        if t is not None:
            t.join(timeout=30.0)

    def awaitTermination(self, timeout: float | None = None) -> bool:
        return self._stop.wait(timeout)


def _load_cursor(state_path: str):
    import json as _json

    try:
        with open(state_path) as f:
            tok = _json.load(f).get("cursor")
        return CursorToken.decode(tok) if tok else None
    except (OSError, ValueError):
        return None


def _save_cursor(state_path: str, cursor) -> None:
    import json as _json

    tmp = f"{state_path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        _json.dump({"cursor": cursor.encode()}, f)
    os.replace(tmp, state_path)


def _pull_loop(source, lql: str, state_path: str, deliver, handle: CursorHandle,
               retry_s: float = 5.0, max_retries: int | None = None) -> None:
    """The worker loop: saved position → ``engine.wait_rows`` (the one
    WaitNewData loop, bounded by PULL_WAIT_S so a stop is seen) →
    deliver → persist position (at-least-once across worker crashes:
    the position advances only AFTER a successful delivery; a crash in
    between re-delivers the last batch — the reference worker's
    semantics, worker.go:48-104).
    Writer restarts on the store are invisible here: the query surface
    re-snapshots per call. Late records (ts below the cursor watermark)
    are outside the value-cursor contract, exactly as for follow().

    TRANSIENT failures (a sink connection blip, a query hiccup) do not
    stop the worker: each iteration catches, records the error on the
    handle (``last_retry_error``/``retries``), sleeps ``retry_s`` and
    retries — the reference worker's 5 s retry for both query and sink
    failures (pkg/forwarder/worker.go). The cursor only advances after
    a successful delivery, so a retried iteration re-delivers the same
    batch (at-least-once) instead of dropping it.

    A PERMANENT failure (dead sink, programming error in deliver) would
    otherwise spin here forever while the handle looks alive — the r15
    review finding. ``max_retries`` bounds CONSECUTIVE failed
    iterations: when exceeded, the loop raises the last error, which
    ``_start_pull_thread`` surfaces as ``handle.error`` and the worker
    terminates — the loud-death escalation. ``None`` (the default,
    matching the reference worker's retry-forever loop,
    worker.go:74-83) keeps retrying; callers choosing it MUST poll
    ``handle.consecutive_retries`` for health (it resets on the next
    successful iteration; ``last_retry_error``/``retries`` are sticky
    forensics). ``handle.error`` is
    otherwise reserved for non-retryable setup failures (bad LQL)
    raised before the loop starts."""
    stmt0 = parse_lql(lql)
    if not isinstance(stmt0, ast.Select):
        raise ValueError("cursor forwarder expects a SELECT query")
    base = ast.Select(None, stmt0.source, stmt0.range, stmt0.where,
                      None, None, stmt0.limit)
    cursor = _load_cursor(state_path)
    if cursor is None and stmt0.position is not None:
        pos = stmt0.position.pos_id
        if pos.lower() == "tail":
            cursor = source.tail_cursor(stmt0)
        elif pos.lower() != "head":
            cursor = CursorToken.decode(pos)
    while not handle._stop.is_set():
        try:
            q = base if cursor is None else replace(
                base, position=ast.Position(cursor.encode()))
            batch = wait_rows(source, q, cursor, PULL_WAIT_S)
            if batch:
                deliver(batch)
                cursor = CursorToken.of_row(batch[-1])
                _save_cursor(state_path, cursor)
            # a FULL successful iteration (delivered, or verified-empty)
            # resets the consecutive counter: the prior failure was
            # transient. Reset sits after deliver/save so a permanently
            # failing sink still counts CONSECUTIVE failures.
            handle.consecutive_retries = 0
        except Exception as e:  # noqa: BLE001 — retry transient failures
            handle.last_retry_error = e
            handle.retries += 1
            handle.consecutive_retries += 1
            if (
                max_retries is not None
                and handle.consecutive_retries > max_retries
            ):
                raise  # escalate: _start_pull_thread sets handle.error
            handle._stop.wait(retry_s)


def _start_pull_thread(source, name, lql, state_path, deliver,
                       retry_s: float = 5.0,
                       max_retries: int | None = None) -> CursorHandle:
    import threading

    handle = CursorHandle()

    def run():
        try:
            _pull_loop(source, lql, state_path, deliver, handle,
                       retry_s=retry_s, max_retries=max_retries)
        except Exception as e:  # surfaced via handle.error, loop ends
            handle.error = e
        finally:
            handle._stop.set()

    t = threading.Thread(target=run, name=f"cursor-fwd-{name}", daemon=True)
    handle._thread = t
    t.start()
    return handle


def start_cursor_forwarder(
    source,
    name: str,
    lql: str,
    sink,
    template: str = "{vars} - {msg}",
    state_dir: str | None = None,
    retry_s: float = 5.0,
    max_retries: int | None = None,
) -> CursorHandle:
    """Forwarder over the query API: works on a single Engine AND on a
    sharded root's ShardReader (which the streaming-source forwarder
    cannot serve — its file stream is single-store). The sink receives a
    one-column ``line`` DataFrame per pulled batch, so ``SyslogSink`` /
    ``ConsoleSink`` plug in unchanged. The position persists under
    ``state_dir`` (default: alongside the store root) and delivery is
    at-least-once across forwarder crashes — position saved after the
    sink, the reference's contract."""
    from .model.schema import LOG_SCHEMA
    from .model.tags import parse_tags as _parse_tags

    sd = state_dir or os.path.join(source.root, "forwarder-cursors")
    os.makedirs(sd, exist_ok=True)
    state_path = os.path.join(sd, f"{name}.json")
    stmt = parse_lql(lql)
    tmpl = (stmt.format if isinstance(stmt, ast.Select) else None) or template
    fmt = compile_format(tmpl).alias("line")
    counter = {"n": 0}

    def deliver(batch):
        # rebuild the tags map from tag_line: format templates ({vars},
        # {vars:k}) read it, and the default projection doesn't carry it
        df = source.spark.createDataFrame(
            [
                (r["ts"], r["msg"], dict(r["fields"] or {}),
                 _parse_tags(r["tag_line"]), r["tag_line"], r["src"],
                 r["seq"])
                for r in batch
            ],
            LOG_SCHEMA,
        ).select(fmt)
        counter["n"] += 1
        sink(df, counter["n"])

    return _start_pull_thread(source, name, lql, state_path, deliver,
                              retry_s=retry_s, max_retries=max_retries)


def start_cursor_pipe(
    source,
    dest_engine,
    name: str,
    lql: str,
    state_dir: str | None = None,
    retry_s: float = 5.0,
    max_retries: int | None = None,
) -> CursorHandle:
    """Read-only pipe over the query API, writing to a DIFFERENT store:
    the shard-tier analogue of CREATE PIPE (the reference's pipe worker
    also consumes the select API and writes to its own partition,
    pkg/pipe/worker.go). ``source`` is an Engine or ShardReader;
    ``dest_engine`` owns the destination store, where records land under
    the ``{logrange.pipe=name}`` partition with the standard source-tag
    enrichment and (src, seq) provenance fields.

    Exactly-once: in steady state the cursor only moves forward, so
    every delivered row is fresh; the FIRST batch after a (re)start is
    suspicious (the previous incarnation may have crashed between the
    dest write and the cursor save) and anti-joins the destination's
    provenance pairs before appending — the same idempotency key the
    in-store pipe uses (pipes/service.py)."""
    from .pipes.service import PROV_SEQ, PROV_SRC, pipe_tags, pipe_transform
    from .model.schema import LOG_SCHEMA, src_for_tag_line
    from .model.tags import parse_tags as _parse_tags
    from .model.tags import tag_line as _tag_line

    sd = state_dir or os.path.join(dest_engine.root, "pipe-cursors")
    os.makedirs(sd, exist_ok=True)
    state_path = os.path.join(sd, f"{name}.json")
    stmt = parse_lql(lql)
    if not isinstance(stmt, ast.Select):
        raise ValueError("cursor pipe expects a SELECT query")
    dest_src = src_for_tag_line(_tag_line(pipe_tags(name)))
    dest_dir = os.path.join(dest_engine.logs_path, f"src={dest_src}")
    first = {"suspicious": True}

    def deliver(batch):
        # the default projection carries tag_line, not the tags map the
        # enrichment needs — rebuild it driver-side (parse_tags is the
        # exact inverse of tag_line's canonical quoting)
        df = source.spark.createDataFrame(
            [
                (r["ts"], r["msg"], dict(r["fields"] or {}),
                 _parse_tags(r["tag_line"]), r["tag_line"], r["src"],
                 r["seq"])
                for r in batch
            ],
            LOG_SCHEMA,
        )
        # filters already ran in the select; the transform re-applies
        # them idempotently and adds enrichment + provenance + identity
        out = pipe_transform(df, name, stmt.source, stmt.where)
        if first["suspicious"] and os.path.isdir(dest_dir):
            existing = (
                dest_engine.spark.read.parquet(dest_dir)
                .select(
                    F.col("fields").getItem(PROV_SRC).alias("_psrc"),
                    F.col("fields").getItem(PROV_SEQ).alias("_pseq"),
                )
                .where(F.col("_psrc").isNotNull())
                .distinct()
            )
            out = (
                out.withColumn("_psrc", F.col("fields").getItem(PROV_SRC))
                .withColumn("_pseq", F.col("fields").getItem(PROV_SEQ))
                .join(existing, ["_psrc", "_pseq"], "left_anti")
                .drop("_psrc", "_pseq")
            )
        first["suspicious"] = False
        if not out.isEmpty():
            dest_engine.append_df(out)

    return _start_pull_thread(source, name, lql, state_path, deliver,
                              retry_s=retry_s, max_retries=max_retries)
