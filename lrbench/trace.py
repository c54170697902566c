"""Spans around the public entry points of each layer, installed by
replacing module and class attributes from outside the library.

A span records name, start, end, its parent (the enclosing span on the
same thread) and the request id: the ``_bench_id`` key the benchmark adds
to each HTTP request body, which the server ignores. Spans stay in memory
until the run ends. A layer's self time is its span's duration minus the
time its child spans cover.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

LAYER_OF = {  # span name -> layer (named after the repo module)
    "server.query_once": "server", "server.write_batch": "server",
    "server.encode": "server", "lql.parse": "lql",
    "engine.resolve": "engine", "engine.select": "engine", "engine.write": "engine",
    "engine.chunks_after_cursor": "engine", "engine.tail_cursor": "engine",
    "engine.wait_for_write": "engine", "compiler.compile_select": "compiler",
    "ingest.normalize": "ingest", "spark.collect": "spark",
}


class Span:
    __slots__ = ("name", "start", "end", "parent", "rid", "attrs", "child_s")

    def __init__(self, name, start, parent, rid):
        self.name, self.start, self.parent, self.rid = name, start, parent, rid
        self.end = None
        self.attrs: dict = {}
        self.child_s = 0.0

    @property
    def dur_ms(self) -> float:
        return (self.end - self.start) * 1e3

    @property
    def self_ms(self) -> float:
        return self.dur_ms - self.child_s * 1e3


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []
        self.on = False

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @property
    def rid(self):
        return getattr(self._tls, "rid", None)

    @contextmanager
    def span(self, name: str, rid=None):
        if not self.on:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        if rid is None:
            rid = parent.rid if parent is not None else self.rid
        sp = Span(name, time.perf_counter(), parent, rid)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if parent is not None:
                parent.child_s += sp.end - sp.start
            with self._lock:
                self.spans.append(sp)

    def patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``after(span,
        args, result)`` may attach attributes."""
        tracer = self

        def make(orig):
            def wrapped(*args, **kw):
                with tracer.span(name) as sp:
                    res = orig(*args, **kw)
                    if sp is not None and after is not None:
                        after(sp, args, res)
                    return res
            wrapped.__wrapped__ = orig
            return wrapped

        self.patch(owner, attr, make)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
        self.on = False


def install(tracer: Tracer, spark) -> None:
    """Spans for every layer the served workloads reach."""
    from pyspark.sql import DataFrame

    import logrange_spark.engine as engine_mod
    import logrange_spark.server as server_mod
    from logrange_spark.engine import Engine

    sc = spark.sparkContext

    def make_query_once(orig):
        def query_once(engine, req):
            rid = req.get("_bench_id")
            tracer._tls.rid = rid
            if rid is not None and rid >= 0:
                sc.setJobGroup(f"lrbench-{rid}", "lrbench request", False)
            try:
                with tracer.span("server.query_once", rid=rid):
                    return orig(engine, req)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return query_once

    def make_write_batch(orig):
        def write_batch(engine, req):
            tracer._tls.rid = req.get("_bench_id")
            with tracer.span("server.write_batch", rid=tracer.rid) as sp:
                res = orig(engine, req)
                if sp is not None:
                    sp.attrs["records"] = res.get("records", 0)
                return res
        return write_batch

    class TimedJson:
        """``json`` as the server module sees it, with ``dumps`` (the
        response encoding) spanned."""

        loads = staticmethod(json.loads)

        @staticmethod
        def dumps(obj, **kw):
            with tracer.span("server.encode"):
                return json.dumps(obj, **kw)

    tracer.patch(server_mod, "query_once", make_query_once)
    tracer.patch(server_mod, "write_batch", make_write_batch)
    tracer.patch(server_mod, "json", lambda orig: TimedJson)
    tracer.wrap(server_mod, "parse_lql", "lql.parse")

    def resolved(sp, args, res):
        sp.attrs["srcs"] = list(res)
    tracer.wrap(Engine, "resolve_sources", "engine.resolve", resolved)
    tracer.wrap(Engine, "select", "engine.select")
    tracer.wrap(Engine, "tail_cursor", "engine.tail_cursor")
    tracer.wrap(engine_mod, "compile_select", "compiler.compile_select")

    def normalized(sp, args, res):
        sp.attrs["records"] = len(res)
    tracer.wrap(engine_mod, "normalize_rows", "ingest.normalize", normalized)
    tracer.wrap(Engine, "write", "engine.write")

    def skip(sp, args, res):
        sp.attrs["skip"] = not res
    tracer.wrap(Engine, "chunks_after_cursor", "engine.chunks_after_cursor", skip)

    def woke(sp, args, res):
        sp.attrs["woke"] = res != args[1]
    tracer.wrap(Engine, "wait_for_write", "engine.wait_for_write", woke)

    def compacted(sp, args, res):
        sp.attrs["report"] = res
    tracer.wrap(Engine, "_compact_src_ids", "compact", compacted)

    def make_collect(orig):
        def collect(df):
            with tracer.span("spark.collect") as sp:
                rows = orig(df)
            if sp is not None and isinstance(sp.rid, int) and sp.rid >= 0:
                sp.attrs["files"] = files_read(df)
            return rows
        return collect

    try:  # Spark 4 runs the classic (non-Connect) subclass
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        pass
    tracer.patch(DataFrame, "collect", make_collect)
    tracer.on = True


def _jseq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def files_read(df) -> int | None:
    """Sum of the ``numFiles`` metric of every file scan node in the
    executed plan (adaptive and query-stage wrappers included)."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
    except Exception:  # plan not available: no metric for this request
        return None
    total, todo, seen = 0, [plan], 0
    while todo and seen < 500:
        node = todo.pop()
        seen += 1
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics().get("numFiles")
            if m.isDefined():
                total += int(m.get().value())
        todo += _jseq(node.children())
    return total


def spark_counts(sc, rids) -> dict:
    """Jobs and tasks per request id, from Spark's status tracker."""
    st = sc.statusTracker()
    out = {}
    for rid in rids:
        jobs = st.getJobIdsForGroup(f"lrbench-{rid}")
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo else 0
        out[rid] = (len(jobs), tasks)
    return out
