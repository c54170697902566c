"""Sharded ingest tier (logrange_spark/shard.py): routing determinism,
per-shard engine ownership, and the union query view."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from logrange_spark import Engine
from logrange_spark import shard as sh

NS = 10**9
BASE = 1_700_000_000 * NS


def test_shard_of_deterministic_and_spread():
    srcs = [f"src-{i}" for i in range(200)]
    a = [sh.shard_of(s, 4) for s in srcs]
    b = [sh.shard_of(s, 4) for s in srcs]
    assert a == b
    assert set(a) == {0, 1, 2, 3}  # all shards used at 200 srcs
    # n=1 routes everything to shard 0
    assert {sh.shard_of(s, 1) for s in srcs} == {0}
    with pytest.raises(ValueError):
        sh.shard_of("x", 0)


def test_shard_for_tags_matches_engine_src(spark):
    """Router and engine must derive the same src from the same tags —
    otherwise a query for a tag set would look in the wrong shard."""
    root = tempfile.mkdtemp(prefix="lrshard-")
    try:
        e = Engine(spark, sh.shard_root(root, 0))
        out = e.write({"name": "web", "ns": "prod"},
                      [(BASE, "m", {})])
        assert sh.shard_of(out["src"], 4) == sh.shard_for_tags(
            {"name": "web", "ns": "prod"}, 4
        )
        # tag-order independence (tag_line canonicalizes)
        assert sh.shard_for_tags(
            {"ns": "prod", "name": "web"}, 4
        ) == sh.shard_for_tags({"name": "web", "ns": "prod"}, 4)
        e.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.fixture()
def sharded(spark):
    root = tempfile.mkdtemp(prefix="lrshard-")
    engines = [Engine(spark, sh.shard_root(root, i)) for i in range(2)]
    yield root, sh.ShardRouter(engines)
    for e in engines:
        e.close()
    shutil.rmtree(root, ignore_errors=True)


def test_router_round_trip_and_union_view(spark, sharded):
    root, router = sharded
    tagsets = [{"name": f"app{i}"} for i in range(6)]
    per_src = {}
    for t in tagsets:
        for batch in range(2):
            out = router.write(
                t,
                [(BASE + (batch * 10 + j) * NS, f"{t['name']} m{batch}-{j}",
                  {"b": str(batch)}) for j in range(10)],
            )
            assert out["shard"] == sh.shard_for_tags(t, 2)
            per_src[out["src"]] = out["last_seq"]
    # both shards actually hold data (6 srcs at 2 shards)
    assert all(len(e._catalog) > 0 for e in router.engines)

    logs = sh.read_shard_logs(spark, root)
    assert logs.count() == 6 * 2 * 10
    # per-src seq is contiguous 1..n within its owning shard
    got = {
        r["src"]: (r["n"], r["mx"])
        for r in logs.groupBy("src")
        .agg(F.count("*").alias("n"), F.max("seq").alias("mx"))
        .collect()
    }
    for src, last in per_src.items():
        assert got[src] == (20, 20) and last == 20
    # src-pruned read returns exactly one partition's rows
    one = next(iter(per_src))
    assert logs.where(F.col("src") == one).count() == 20
    # cross-shard global ordering by (ts, src, seq) is a plain sort
    first = logs.orderBy("ts", "src", "seq").limit(6).collect()
    assert [r["ts"] for r in first] == [BASE] * 6


def test_read_shard_logs_missing(spark):
    with pytest.raises(FileNotFoundError):
        sh.read_shard_logs(spark, "/nonexistent-shard-root")
    with pytest.raises(FileNotFoundError):
        sh.ShardReader(spark, "/nonexistent-shard-root")


# ------------------------------------------------------------ query tier
def _writes():
    """Deterministic multi-partition workload, applied identically to
    the sharded router and to a single-store engine — src ids derive
    from tag lines and seq from write order, so every LQL answer must
    be IDENTICAL row-for-row across the two layouts."""
    out = []
    for i in range(5):
        tags = {"name": f"app{i}", "ns": "prod" if i % 2 == 0 else "dev"}
        for batch in range(2):
            out.append((tags, [
                (BASE + (i * 100 + batch * 50 + j) * NS,
                 f"msg {i}/{batch}/{j} {'ERROR' if j % 4 == 0 else 'ok'}",
                 {"n": str(j)})
                for j in range(25)
            ]))
    return out


LQLS = [
    "SELECT FROM {ns=prod} WHERE msg CONTAINS 'ERROR' LIMIT 10000",
    "SELECT LIMIT 40",
    "SELECT POSITION tail OFFSET -25 LIMIT 25",  # tail across shards
    f'SELECT RANGE ["{BASE + 120 * NS}":"{BASE + 300 * NS}"] LIMIT 10000',
    "SELECT FROM name=app3 OR name=app0 WHERE fields:n < '2' LIMIT 10000",
]


@pytest.fixture()
def twin_stores(spark):
    """(sharded root + live writers closed, single-store engine) with
    identical content."""
    sroot = tempfile.mkdtemp(prefix="lrshard-q-")
    eroot = tempfile.mkdtemp(prefix="lrsingle-q-")
    engines = [Engine(spark, sh.shard_root(sroot, i)) for i in range(2)]
    router = sh.ShardRouter(engines)
    single = Engine(spark, eroot)
    for tags, recs in _writes():
        router.write(tags, recs)
        single.write(tags, recs)
    yield sroot, engines, single
    for e in engines:
        e.close()
    single.close()
    shutil.rmtree(sroot, ignore_errors=True)
    shutil.rmtree(eroot, ignore_errors=True)


def test_shard_reader_lql_equals_single_store(spark, twin_stores):
    sroot, engines, single = twin_stores
    # the reader opens read-only WHILE the writer engines still own
    # their shards (no flock conflict)
    reader = sh.ShardReader(spark, sroot)
    for lql in LQLS:
        got = [tuple(r) for r in reader.query(lql).collect()]
        want = [tuple(r) for r in single.query(lql).collect()]
        assert got == want and len(got) > 0, lql
    # sql() over the union view
    n = reader.sql("SELECT count(*) AS n FROM logs").collect()[0]["n"]
    assert n == 5 * 2 * 25


def test_shard_reader_cursor_paging_equals_single_store(spark, twin_stores):
    sroot, _, single = twin_stores
    reader = sh.ShardReader(spark, sroot)
    # page forward from the global start in 30-row pages, both layouts
    from logrange_spark.compiler.select import CursorToken

    def pages(q):
        tok, out = None, []
        for _ in range(12):  # 250 rows / 30-row pages + slack
            lql = (
                "SELECT LIMIT 30"
                if tok is None
                else f"SELECT POSITION '{tok}' LIMIT 30"
            )
            rows = q(lql).collect()
            if not rows:
                break
            out.extend(tuple(r) for r in rows)
            last = rows[-1]
            tok = CursorToken(last["ts"], last["src"], last["seq"]).encode()
        return out

    got, want = pages(reader.query), pages(single.query)
    assert got == want and len(got) == 250


def test_shard_reader_show_partitions_global_pagination(spark, twin_stores):
    sroot, _, single = twin_stores
    from logrange_spark.lql import ast

    reader = sh.ShardReader(spark, sroot)
    stmt = ast.ShowPartitions(None, 0, None)
    got = [tuple(r) for r in reader.show_partitions(stmt).collect()]
    want = [tuple(r) for r in single.show_partitions(stmt).collect()]
    assert got == want and len(got) == 5
    # global limit, not per-shard
    stmt2 = ast.ShowPartitions(None, 1, 2)
    got2 = [tuple(r) for r in reader.show_partitions(stmt2).collect()]
    assert got2 == want[1:3]


def test_shard_reader_is_read_only(spark, twin_stores):
    sroot, _, _ = twin_stores
    reader = sh.ShardReader(spark, sroot)
    e = reader.engines[0]
    with pytest.raises(RuntimeError, match="read_only"):
        e.write({"name": "x"}, [(BASE, "m", {})])
    with pytest.raises(RuntimeError, match="read_only"):
        e.compact()
    from logrange_spark.lql.parser import parse_lql

    with pytest.raises(RuntimeError, match="read_only"):
        e.truncate(parse_lql("TRUNCATE MAXSIZE 0"))


def test_shard_reader_auto_refresh_per_query(spark, twin_stores):
    """The query tier must see committed writes WITHOUT an explicit
    refresh(): every query checks the shard state-file fingerprint."""
    sroot, engines, _ = twin_stores
    reader = sh.ShardReader(spark, sroot)
    before = reader.query("SELECT LIMIT 10000").count()
    sh.ShardRouter(engines).write(
        {"name": "auto"}, [(BASE + 20_000 * NS, "auto row", {})]
    )
    assert reader.query("SELECT LIMIT 10000").count() == before + 1


def test_shard_reader_serves_http(spark, twin_stores):
    """The HTTP server runs unmodified over a ShardReader: query with
    cursor pos, execute SHOW PARTITIONS, WaitNewData observes a write
    from a shard's (separate) writer engine, and mutations are refused."""
    import json as _json
    import threading
    import urllib.request

    from logrange_spark.server import Server

    sroot, engines, _ = twin_stores
    reader = sh.ShardReader(spark, sroot, poll_s=0.1)
    srv = Server(reader).start()
    url = f"http://127.0.0.1:{srv.port}"

    def post(path, body, expect_err=False):
        req = urllib.request.Request(
            url + path, data=_json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req) as r:
                return _json.loads(r.read())
        except urllib.error.HTTPError as e:
            if not expect_err:
                raise
            return {"status": e.code, **_json.loads(e.read() or b"{}")}

    try:
        res = post("/api/v1/query",
                   {"query": "SELECT FROM {ns=prod} LIMIT 40"})
        assert len(res["events"]) == 40 and res["err"] is None
        nxt = res["nextQueryRequest"]
        res2 = post("/api/v1/query", nxt)
        assert len(res2["events"]) > 0
        # cursor continues, no overlap
        assert res2["events"][0] != res["events"][0]

        out = post("/api/v1/execute", {"query": "SHOW PARTITIONS"})
        assert len(out["output"].splitlines()) == 1 + 5

        # WaitNewData across processes: tail + waitTimeout, then a write
        # through the shard's WRITER engine lands while the server waits
        def later():
            sh.ShardRouter(engines).write(
                {"name": "live"}, [(BASE + 30_000 * NS, "live row", {})]
            )

        t = threading.Timer(0.6, later)
        t.start()
        res3 = post("/api/v1/query", {
            "query": "SELECT FROM {name=live} POSITION tail LIMIT 10",
            "waitTimeout": 10,
        })
        t.join()
        assert [e["message"] for e in res3["events"]] == ["live row"]

        # mutations are refused by the read-only tier
        ref = post("/api/v1/write", {
            "tags": "{name=x}",
            "events": [{"timestamp": BASE, "message": "m"}],
        }, expect_err=True)
        assert ref["status"] in (400, 500)
        assert "read-only query tier" in ref["err"]
        ref2 = post("/api/v1/execute",
                    {"query": "TRUNCATE MAXSIZE 0"}, expect_err=True)
        assert ref2["status"] == 400 and "read-only" in ref2["err"]
    finally:
        srv.stop()


def test_incremental_refresh_read_only(spark):
    """Engine.refresh_read_only applies only appended chunk-log records
    (bookmark advance), survives torn tails, and invalidates when the
    writer compacts the log in place."""
    root = tempfile.mkdtemp(prefix="lrinc-")
    try:
        w = Engine(spark, root)
        w.write({"name": "a"}, [(BASE, "m0", {})])
        r = Engine(spark, root, read_only=True)
        assert sum(len(v) for v in r._chunk_stats.values()) == 1
        # appended state arrives incrementally
        w.write({"name": "a"}, [(BASE + NS, "m1", {})])
        w.write({"name": "b"}, [(BASE + 2 * NS, "m2", {})])
        assert r.refresh_read_only() is True
        assert sum(len(v) for v in r._chunk_stats.values()) == 3
        assert set(r._catalog) == set(w._catalog)
        # no change -> no-op True, bookmark stable
        off = r._chunk_log_offset
        assert r.refresh_read_only() is True and r._chunk_log_offset == off
        # torn tail: a partial line is NOT consumed
        with open(w._chunk_log_path, "ab") as f:
            f.write(b'{"src": "x", "chunk": "c", "op": "ad')
        assert r.refresh_read_only() is True
        assert r._chunk_log_offset == off
        with open(w._chunk_log_path, "r+b") as f:
            f.truncate(off)
        # in-place compaction invalidates the bookmark
        with w._write_lock:
            w._compact_chunk_log()
        w.write({"name": "a"}, [(BASE + 3 * NS, "m3", {})])
        assert r.refresh_read_only() is False
        r.close()
        w.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_shard_reader_sees_writes_after_log_compaction(spark, twin_stores):
    """ShardReader.refresh falls back to a full re-open for a shard
    whose chunk log was compacted underneath."""
    sroot, engines, _ = twin_stores
    reader = sh.ShardReader(spark, sroot)
    before = reader.query("SELECT LIMIT 10000").count()
    for e in engines:
        with e._write_lock:
            e._compact_chunk_log()
    sh.ShardRouter(engines).write(
        {"name": "postcompact"}, [(BASE + 40_000 * NS, "pc", {})]
    )
    assert reader.query("SELECT LIMIT 10000").count() == before + 1
    got = reader.query("SELECT FROM {name=postcompact} LIMIT 5").collect()
    assert [r["msg"] for r in got] == ["pc"]


def test_shard_reader_refresh_sees_new_writes(spark, twin_stores):
    sroot, engines, _ = twin_stores
    reader = sh.ShardReader(spark, sroot)
    before = reader.query("SELECT LIMIT 10000").count()
    router = sh.ShardRouter(engines)
    router.write({"name": "late"}, [(BASE + 10_000 * NS, "late row", {})])
    # catalog/pruning snapshots predate the write; refresh re-opens
    reader.refresh()
    after = reader.query("SELECT LIMIT 10000").count()
    assert after == before + 1
    got = reader.query("SELECT FROM {name=late} LIMIT 10").collect()
    assert len(got) == 1 and got[0]["msg"] == "late row"

def test_shard_reader_describe_partition(spark, twin_stores):
    """Delegated to the owning shard; unknown partitions get the
    single-store empty-info answer (never masked by a cross-shard
    exception sweep)."""
    sroot, _, single = twin_stores
    from logrange_spark.lql.parser import parse_lql

    reader = sh.ShardReader(spark, sroot)
    stmt = parse_lql("DESCRIBE PARTITION {name=app1,ns=dev}")
    got = reader.describe_partition(stmt)
    want = single.describe_partition(stmt)

    def stable(info):  # chunk file NAMES are store-local uuids
        return {
            **{k: v for k, v in info.items() if k != "chunks"},
            "chunks": sorted(
                tuple(sorted((k, v) for k, v in c.items() if k != "chunk"))
                for c in info["chunks"]
            ),
        }

    assert stable(got) == stable(want) and got["records"] == 50
    stmt2 = parse_lql("DESCRIBE PARTITION {name=nope}")
    got2 = reader.describe_partition(stmt2)
    assert got2["records"] == 0 and got2["chunks"] == []


def test_shard_reader_pipe_statements(spark, twin_stores):
    """SHOW PIPES / DESCRIBE PIPE work read-only over the persisted
    per-shard definitions; pipe lifecycle is cleanly refused (the
    server surfaces the RuntimeError as a 400, not an AttributeError
    500)."""
    sroot, engines, _ = twin_stores
    # persist a definition exactly as the writer process does
    engines[0]._pipes["p1"] = {
        "name": "p1", "source": "", "where": "msg CONTAINS 'ERROR'",
    }
    engines[0]._save_pipes()
    reader = sh.ShardReader(spark, sroot)
    names = [r["name"] for r in reader.execute("SHOW PIPES").collect()]
    assert names == ["p1"]
    d = reader.execute("DESCRIBE PIPE p1")
    assert d["where"] == "msg CONTAINS 'ERROR'"
    # liveness is writer-process state the read-only tier can't observe
    assert d["active"] is None and d["source_srcs"] is None
    with pytest.raises(ValueError, match="does not exist"):
        reader.execute("DESCRIBE PIPE nosuch")
    from logrange_spark.lql import ast

    with pytest.raises(RuntimeError, match="read-only"):
        reader.create_pipe(ast.CreatePipe("p2", None, None))
    with pytest.raises(RuntimeError, match="read-only"):
        reader.delete_pipe("p1")
    with pytest.raises(RuntimeError, match="read-only"):
        reader.execute("CREATE PIPE p3")


def test_read_only_open_races_log_creation(spark, twin_stores, monkeypatch):
    """Regression: a writer creating chunks.jsonl between the replay
    block's exists() check and the bookmark line used to raise
    NameError (good_offset unbound) in the read-only open path. The
    bookmark must come from the replay, never from a re-stat."""
    import os as _os

    sroot, engines, _ = twin_stores
    root0 = engines[0].root
    log_path = engines[0]._chunk_log_path
    real_exists = _os.path.exists
    state = {"calls": 0}

    def racy_exists(p):
        if _os.fspath(p) == log_path:
            state["calls"] += 1
            if state["calls"] == 1:
                return False  # "writer hasn't created it yet"
        return real_exists(p)

    monkeypatch.setattr("os.path.exists", racy_exists)
    e = Engine(spark, root0, read_only=True)
    monkeypatch.undo()
    # replay was skipped, so the bookmark starts at 0 ...
    assert e._chunk_log_offset == 0
    # ... and the next refresh replays the whole log from there
    assert e.refresh_read_only() is True
    assert e._chunk_log_offset > 0
    assert e._chunk_count == sum(
        len(v) for v in engines[0]._chunk_stats.values()
    )
    e.close()


def test_shard_growth_moves_no_old_srcs(spark):
    """Growing the shard count must not move (or re-route) any existing
    partition: srcs written at N=4 keep their shard when the store
    re-opens at N=8 (catalog/directory pins beat the hash), only NEW
    srcs spread over the grown count, and the union query is
    row-identical to a never-grown single store."""
    import os

    sroot = tempfile.mkdtemp(prefix="lrshard-grow-")
    eroot = tempfile.mkdtemp(prefix="lrsingle-grow-")
    single = Engine(spark, eroot)
    try:
        engines4 = [Engine(spark, sh.shard_root(sroot, i)) for i in range(4)]
        router4 = sh.ShardRouter(engines4)
        old_writes = [
            ({"name": f"app{i}"}, [(BASE + i * NS, f"old {i}", {})])
            for i in range(20)
        ]
        placed_at_4 = {}
        for tags, recs in old_writes:
            out = router4.write(tags, recs)
            single.write(tags, recs)
            placed_at_4[out["src"]] = out["shard"]
        for e in engines4:
            e.close()

        # snapshot each src's physical file set before the growth
        def src_files():
            out = {}
            for i, r in enumerate(sh.shard_roots(sroot)):
                logs = os.path.join(r, "logs")
                if not os.path.isdir(logs):
                    continue
                for d in os.listdir(logs):
                    if d.startswith("src="):
                        files = sorted(os.listdir(os.path.join(logs, d)))
                        out[d[4:]] = (i, files)
            return out

        before = src_files()

        engines8 = [Engine(spark, sh.shard_root(sroot, i)) for i in range(8)]
        router8 = sh.ShardRouter(engines8)
        try:
            # old srcs: routed to their ORIGINAL shard, not md5 % 8
            for i, (tags, _) in enumerate(old_writes):
                recs = [(BASE + (1000 + i) * NS, f"new {i}", {})]
                out = router8.write(tags, recs)
                single.write(tags, recs)
                assert out["shard"] == placed_at_4[out["src"]], (i, out)
            # genuinely new srcs must land beyond the old count for at
            # least one of them (they hash over 8 now)
            new_shards = set()
            for i in range(30):
                tags = {"name": f"fresh{i}"}
                recs = [(BASE + (2000 + i) * NS, f"fresh {i}", {})]
                out = router8.write(tags, recs)
                single.write(tags, recs)
                new_shards.add(out["shard"])
            assert max(new_shards) >= 4, new_shards

            # no old src directory changed shard; old files untouched
            after = src_files()
            for src, (i4, files4) in before.items():
                i8, files8 = after[src]
                assert i8 == i4, (src, i4, i8)
                assert set(files4) <= set(files8), src

            # union query row-identical to the single store
            reader = sh.ShardReader(spark, sroot)
            got = [tuple(r) for r in reader.query("SELECT LIMIT 10000").collect()]
            want = [tuple(r) for r in single.query("SELECT LIMIT 10000").collect()]
            assert got == want and len(got) == 70
            reader.close()
        finally:
            for e in engines8:
                e.close()
    finally:
        single.close()
        shutil.rmtree(sroot, ignore_errors=True)
        shutil.rmtree(eroot, ignore_errors=True)


def test_resolve_shard_growth_stable(spark):
    """resolve_shard: filesystem-pinned for existing srcs from ANY
    process (no router state), hash for unseen ones."""
    sroot = tempfile.mkdtemp(prefix="lrshard-rs-")
    try:
        engines = [Engine(spark, sh.shard_root(sroot, i)) for i in range(2)]
        router = sh.ShardRouter(engines)
        out = router.write({"name": "pinme"}, [(BASE, "x", {})])
        for e in engines:
            e.close()
        src = out["src"]
        # grown count: the existing src resolves to its directory's shard
        assert sh.resolve_shard(sroot, src, 8) == out["shard"]
        # unseen src falls through to the hash
        assert sh.resolve_shard(sroot, "feedbeef00000000", 8) == sh.shard_of(
            "feedbeef00000000", 8
        )
    finally:
        shutil.rmtree(sroot, ignore_errors=True)


def _wait_for(cond, timeout=30.0, step=0.2):
    import time

    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if cond():
            return True
        time.sleep(step)
    return cond()


def test_shard_reader_follow_tail_sees_writer_writes(spark, twin_stores):
    """ShardReader.follow runs the store's follow loop over the reader:
    POSITION tail skips what exists and yields a row that a shard's
    writer engine commits while the follower waits."""
    import threading

    sroot, engines, _ = twin_stores
    router = sh.ShardRouter(engines)
    router.write({"name": "shfol"}, [(BASE, "old", {})])
    reader = sh.ShardReader(spark, sroot, poll_s=0.1)
    waiting = threading.Event()
    orig_wait = reader.wait_for_write

    def wait_for_write(*a, **kw):
        waiting.set()
        return orig_wait(*a, **kw)

    reader.wait_for_write = wait_for_write
    got = []

    def consume():
        for batch in reader.follow("SELECT FROM {name=shfol} POSITION tail",
                                   wait_timeout_s=30):
            got.extend(r["msg"] for r in batch)
            return

    t = threading.Thread(target=consume)
    t.start()
    assert waiting.wait(60)
    router.write({"name": "shfol"}, [(BASE + NS, "new", {})])
    t.join(timeout=60)
    assert not t.is_alive()
    assert got == ["new"]


def test_shard_reader_sees_a_commit_that_lands_during_its_refresh(
    spark, twin_stores, monkeypatch
):
    """A writer commit landing after a refresh replayed the shard stores
    but before it recorded the state fingerprint must not be hidden: the
    next query refreshes again and sees the row (the fingerprint used to
    be taken after the replay, so the reader stayed stale until the next
    write — a cursor forwarder over the reader then never delivered it)."""
    sroot, engines, _ = twin_stores
    router = sh.ShardRouter(engines)
    reader = sh.ShardReader(spark, sroot)
    orig = Engine.refresh_read_only
    calls = []

    def refresh_then_commit(self):
        ok = orig(self)
        calls.append(self.root)
        if len(calls) == len(reader.engines):  # every store replayed
            router.write({"name": "midrefresh"}, [(BASE, "landed mid-refresh", {})])
        return ok

    monkeypatch.setattr(Engine, "refresh_read_only", refresh_then_commit)
    router.write({"name": "trigger"}, [(BASE, "t", {})])
    assert len(reader.query("SELECT FROM {name=trigger}").collect()) == 1
    assert len(calls) == len(reader.engines)
    monkeypatch.setattr(Engine, "refresh_read_only", orig)
    rows = reader.query("SELECT FROM {name=midrefresh}").collect()
    assert [r["msg"] for r in rows] == ["landed mid-refresh"]
    reader.close()


def test_cursor_forwarder_drains_sharded_root(spark):
    """The cursor-pull forwarder (forward.start_cursor_forwarder) runs
    over a ShardReader: drains existing rows, keeps following across a
    WRITER-process restart, and a forwarder restart resumes from the
    persisted cursor — every unique message delivered exactly once."""
    import socketserver
    import threading

    from logrange_spark import forward as fw

    class _Collector(socketserver.StreamRequestHandler):
        def handle(self):
            for line in self.rfile:
                self.server.lines.append(line.decode("utf-8").rstrip("\n"))

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Collector)
    srv.lines = []
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    sroot = tempfile.mkdtemp(prefix="lrshard-cfwd-")
    state = tempfile.mkdtemp(prefix="lrshard-cfwd-state-")
    engines = [Engine(spark, sh.shard_root(sroot, i)) for i in range(2)]
    reader = handle = None
    try:
        router = sh.ShardRouter(engines)
        for i in range(20):
            router.write({"name": f"app{i % 4}"},
                         [(BASE + i * NS, f"fwd-{i}", {})])
        reader = sh.ShardReader(spark, sroot, poll_s=0.1)
        sink = fw.SyslogSink(
            fw.SyslogConfig(port=srv.server_address[1])
        )
        handle = fw.start_cursor_forwarder(
            reader, "cf", 'SELECT "{msg}"', sink, state_dir=state
        )
        assert _wait_for(lambda: len(srv.lines) >= 20), len(srv.lines)

        # WRITER restart: close every shard engine, reopen, write more
        for e in engines:
            e.close()
        engines = [Engine(spark, sh.shard_root(sroot, i)) for i in range(2)]
        router = sh.ShardRouter(engines)
        for i in range(20, 30):
            router.write({"name": f"app{i % 4}"},
                         [(BASE + i * NS, f"fwd-{i}", {})])
        assert _wait_for(lambda: len(srv.lines) >= 30), len(srv.lines)

        # forwarder restart: resumes from the persisted cursor — the
        # first 30 messages must NOT re-deliver
        handle.stop()
        assert handle.error is None, handle.error
        handle = fw.start_cursor_forwarder(
            reader, "cf", 'SELECT "{msg}"', sink, state_dir=state
        )
        for i in range(30, 35):
            router.write({"name": f"app{i % 4}"},
                         [(BASE + i * NS, f"fwd-{i}", {})])
        assert _wait_for(lambda: len(srv.lines) >= 35), len(srv.lines)
        import time

        time.sleep(2.0)  # would-be duplicates need a beat to show up
        msgs = [l.split(": ", 1)[1] for l in srv.lines]
        assert sorted(msgs) == sorted(f"fwd-{i}" for i in range(35)), (
            len(msgs), sorted(set(msgs) - {f"fwd-{i}" for i in range(35)}))
    finally:
        if handle is not None:
            handle.stop()
        if reader is not None:
            reader.close()
        for e in engines:
            e.close()
        srv.shutdown()
        shutil.rmtree(sroot, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)


def test_cursor_pipe_shard_to_other_store(spark):
    """The read-only cursor pipe copies a sharded root's matching rows
    into a DIFFERENT store's pipe partition with enrichment + provenance,
    exactly-once across a pipe restart (first-batch provenance
    anti-join)."""
    from logrange_spark import forward as fw
    from logrange_spark.pipes.service import PROV_SEQ, PROV_SRC

    sroot = tempfile.mkdtemp(prefix="lrshard-cpipe-")
    droot = tempfile.mkdtemp(prefix="lrshard-cpipe-dest-")
    engines = [Engine(spark, sh.shard_root(sroot, i)) for i in range(2)]
    dest = Engine(spark, droot)
    reader = handle = None
    try:
        router = sh.ShardRouter(engines)
        for i in range(12):
            router.write(
                {"name": f"app{i % 3}", "ns": "prod"},
                [(BASE + i * NS, f"p-{i} {'ERROR' if i % 2 == 0 else 'ok'}",
                  {"i": str(i)})],
            )
        reader = sh.ShardReader(spark, sroot, poll_s=0.1)
        handle = fw.start_cursor_pipe(
            reader, dest, "xp",
            "SELECT FROM {ns=prod} WHERE msg CONTAINS 'ERROR'",
        )

        def piped():
            return dest.query(
                "SELECT FROM {logrange.pipe=xp} LIMIT 10000"
            ).collect()

        assert _wait_for(lambda: len(piped()) >= 6), len(piped())
        # enrichment: source tags ride as fields; provenance pair present
        r0 = piped()[0]
        assert r0["fields"]["ns"] == "prod"
        assert PROV_SRC in r0["fields"] and PROV_SEQ in r0["fields"]

        # restart the pipe (same dest, same state) mid-stream; new rows
        # flow, old rows do not duplicate
        handle.stop()
        assert handle.error is None, handle.error
        handle = fw.start_cursor_pipe(
            reader, dest, "xp",
            "SELECT FROM {ns=prod} WHERE msg CONTAINS 'ERROR'",
        )
        for i in range(12, 18):
            router.write(
                {"name": f"app{i % 3}", "ns": "prod"},
                [(BASE + i * NS, f"p-{i} {'ERROR' if i % 2 == 0 else 'ok'}",
                  {"i": str(i)})],
            )
        assert _wait_for(lambda: len(piped()) >= 9), len(piped())
        import time

        time.sleep(2.0)
        rows = piped()
        pairs = [(r["fields"][PROV_SRC], r["fields"][PROV_SEQ]) for r in rows]
        assert len(pairs) == len(set(pairs)), sorted(pairs)
        assert sorted(r["msg"] for r in rows) == sorted(
            f"p-{i} ERROR" for i in range(0, 18, 2)
        )
    finally:
        if handle is not None:
            handle.stop()
        if reader is not None:
            reader.close()
        for e in engines:
            e.close()
        dest.close()
        shutil.rmtree(sroot, ignore_errors=True)
        shutil.rmtree(droot, ignore_errors=True)


def test_shard_router_truncate(spark, twin_stores):
    """TRUNCATE fans out to every shard's writer engine and the merged
    report matches the single-store run (same BEFORE cut); the union
    query afterward is row-identical to the truncated single store."""
    sroot, engines, single = twin_stores
    router = sh.ShardRouter(engines)
    cut = BASE + 150 * NS
    rep = router.truncate(f'TRUNCATE BEFORE "{cut}"')
    srep = single.truncate(
        __import__("logrange_spark.lql.parser", fromlist=["parse_lql"])
        .parse_lql(f'TRUNCATE BEFORE "{cut}"')
    )
    assert rep["deleted_files"] == srep["deleted_files"] > 0
    assert {p["src"] for p in rep["partitions"]} == {
        p["src"] for p in srep["partitions"]
    }
    assert all("shard" in p for p in rep["partitions"])
    reader = sh.ShardReader(spark, sroot)
    got = [tuple(r) for r in reader.query("SELECT LIMIT 10000").collect()]
    want = [tuple(r) for r in single.query("SELECT LIMIT 10000").collect()]
    assert got == want
    reader.close()
    with pytest.raises(ValueError, match="TRUNCATE"):
        router.truncate("SELECT LIMIT 1")


def test_shard_truncate_maxdbsize_after_growth(spark):
    """TRUNCATE MAXDBSIZE on a GROWN sharded store runs the GLOBAL
    oldest-partition-first order (reference partition.go:516-581):
    identical deletions and survivors to the single-store run, even
    though growth-stable routing leaves ALL old history on the
    original shards (the skew that made the pre-r15 even per-shard
    budget over-delete)."""
    import os

    from logrange_spark.lql.parser import parse_lql

    def du(root):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    sroot = tempfile.mkdtemp(prefix="lrshard-g-")
    eroot = tempfile.mkdtemp(prefix="lrsingle-g-")
    engines = [Engine(spark, sh.shard_root(sroot, i)) for i in range(2)]
    single = Engine(spark, eroot)
    reader = None
    try:
        router = sh.ShardRouter(engines)
        # old history: early timestamps, lands on shards 0-1 only
        for j in range(6):
            tags = {"name": f"old{j}", "ns": "prod"}
            recs = [
                (BASE + (j * 50 + k) * NS, f"old-{j}-{k} " + "x" * 64, {})
                for k in range(25)
            ]
            router.write(tags, recs)
            single.write(tags, recs)
        for e in engines:
            e.close()
        # grow 2 -> 4: pinned old srcs stay put, new srcs hash over 4
        engines = [Engine(spark, sh.shard_root(sroot, i)) for i in range(4)]
        router = sh.ShardRouter(engines)
        for j in range(8):
            tags = {"name": f"new{j}", "ns": "prod"}
            recs = [
                (BASE + (10_000 + j * 50 + k) * NS,
                 f"new-{j}-{k} " + "y" * 64, {})
                for k in range(25)
            ]
            router.write(tags, recs)
            single.write(tags, recs)
        # the skew is real: every old partition sits on shards 0-1
        for i in (2, 3):
            assert not any(
                "old" in line for line in engines[i]._catalog.values()
            )
        total = du(eroot)
        # old history is ~6/14 of total bytes; a 0.65 budget cuts 0.35
        # — strictly inside the old partitions under oldest-first
        budget = int(total * 0.65)
        lql = f"TRUNCATE MAXDBSIZE {budget}"
        # DRYRUN predicts without deleting
        dry = router.truncate(f"TRUNCATE DRYRUN MAXDBSIZE {budget}")
        assert du(sroot) == total
        rep = router.truncate(lql)
        srep = single.truncate(parse_lql(lql))
        assert rep["deleted_bytes"] == srep["deleted_bytes"] > 0
        assert rep["deleted_files"] == srep["deleted_files"] > 0
        assert dry["deleted_bytes"] == rep["deleted_bytes"]
        assert du(sroot) <= budget
        # survivors are row-identical to the single-store global cut —
        # in particular, NO new-src data was sacrificed to shard skew
        reader = sh.ShardReader(spark, sroot)
        got = [tuple(r) for r in reader.query("SELECT LIMIT 10000").collect()]
        want = [
            tuple(r) for r in single.query("SELECT LIMIT 10000").collect()
        ]
        assert got == want and len(got) > 0
        assert sum(1 for r in got if "new-" in r[1]) == 8 * 25
    finally:
        if reader is not None:
            reader.close()
        for e in engines:
            e.close()
        single.close()
        shutil.rmtree(sroot, ignore_errors=True)
        shutil.rmtree(eroot, ignore_errors=True)


def test_cursor_forwarder_retries_transient_sink_failures(spark):
    """A sink blip must NOT stop the cursor forwarder: the loop records
    the error on the handle, waits retry_s and re-delivers the same
    batch (at-least-once — the reference worker's 5 s retry,
    pkg/forwarder/worker.go). Only stop() ends the worker."""
    from logrange_spark import forward as fw

    root = tempfile.mkdtemp(prefix="lrshard-retry-")
    state = tempfile.mkdtemp(prefix="lrshard-retry-state-")
    e = Engine(spark, root)
    handle = None
    try:
        for i in range(6):
            e.write({"name": "app"}, [(BASE + i * NS, f"r-{i}", {})])
        got: list[str] = []
        fails = {"n": 2}

        def sink(df, _n):
            if fails["n"] > 0:
                fails["n"] -= 1
                raise ConnectionResetError("sink blip")
            got.extend(r["line"] for r in df.collect())

        handle = fw.start_cursor_forwarder(
            e, "rt", 'SELECT "{msg}"', sink, state_dir=state, retry_s=0.1
        )
        assert _wait_for(lambda: len(got) >= 6), (len(got), handle.error)
        assert handle.error is None
        assert handle.retries >= 2
        assert isinstance(handle.last_retry_error, ConnectionResetError)
        # the failed deliveries were retried, not skipped: every row
        # arrives (duplicates allowed by the at-least-once contract,
        # but none were produced here — the cursor never advanced on
        # the failed attempts)
        assert sorted(set(got)) == [f"r-{i}" for i in range(6)]
    finally:
        if handle is not None:
            handle.stop()
        e.close()
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)


def test_rebalance_shards_after_growth(spark):
    """Offline rebalance moves every src to its pure-hash home under
    the grown count: row-identical union before/after, catalogs and
    chunk stats travel with the data, seq high-water continues on the
    new owner, and a second run is a no-op."""
    import os

    root = tempfile.mkdtemp(prefix="lrshard-rb-")
    engines = [Engine(spark, sh.shard_root(root, i)) for i in range(2)]
    try:
        router = sh.ShardRouter(engines)
        last_seq = {}
        for j in range(8):
            tags = {"name": f"rb{j}", "ns": "prod"}
            out = router.write(
                tags,
                [(BASE + (j * 40 + k) * NS, f"rb-{j}-{k}", {"k": str(k)})
                 for k in range(20)],
            )
            last_seq[out["src"]] = out["last_seq"]
        for e in engines:
            e.close()
        # grow 2 -> 4 and add new srcs (these hash over 4 natively)
        engines = [Engine(spark, sh.shard_root(root, i)) for i in range(4)]
        router = sh.ShardRouter(engines)
        for j in range(8, 14):
            tags = {"name": f"rb{j}", "ns": "prod"}
            out = router.write(
                tags,
                [(BASE + (j * 40 + k) * NS, f"rb-{j}-{k}", {"k": str(k)})
                 for k in range(20)],
            )
            last_seq[out["src"]] = out["last_seq"]
        before = sorted(
            tuple(r)
            for r in sh.read_shard_logs(spark, root)
            .select("ts", "msg", "src", "seq")
            .collect()
        )
        # mis-homed srcs exist (2-shard-era srcs whose md5 % 4 != pin)
        mis = [
            src
            for i, e in enumerate(engines)
            for src in e._catalog
            if sh.shard_of(src, 4) != i
        ]
        assert mis, "fixture should produce at least one mis-homed src"

        dry = sh.rebalance_shards(engines, dry_run=True)
        assert {m["src"] for m in dry["moves"]} == set(mis)
        assert sorted(
            tuple(r)
            for r in sh.read_shard_logs(spark, root)
            .select("ts", "msg", "src", "seq")
            .collect()
        ) == before  # dry run moved nothing

        rep = sh.rebalance_shards(engines)
        assert rep["files_moved"] > 0 and rep["bytes_moved"] > 0
        # every src now sits at its pure-hash home, catalog included
        for i, e in enumerate(engines):
            for src in e._catalog:
                assert sh.shard_of(src, 4) == i
                assert os.path.isdir(
                    os.path.join(e.logs_path, f"src={src}")
                )
        after = sorted(
            tuple(r)
            for r in sh.read_shard_logs(spark, root)
            .select("ts", "msg", "src", "seq")
            .collect()
        )
        assert after == before
        # chunk stats travelled: SHOW PARTITIONS still zero-footer-read
        reader = sh.ShardReader(spark, root)
        from logrange_spark.lql import ast as _ast

        shown = reader.show_partitions(
            _ast.ShowPartitions(None, 0, None)
        ).collect()
        assert len(shown) == 14 and all(r["records"] == 20 for r in shown)
        reader.close()
        # seq continues on the new owner: write through a fresh router
        router = sh.ShardRouter(engines)
        out = router.write(
            {"name": "rb0", "ns": "prod"}, [(BASE + 10_000 * NS, "cont", {})]
        )
        assert out["last_seq"] == last_seq[out["src"]] + 1
        assert out["shard"] == sh.shard_of(out["src"], 4)
        # idempotent: a second pass plans nothing
        again = sh.rebalance_shards(engines)
        assert again["moves"] == [] and again["files_moved"] == 0
    finally:
        for e in engines:
            e.close()
        shutil.rmtree(root, ignore_errors=True)



def test_rebalance_shards_crash_resume(spark):
    """The documented recovery contract: a crash right after the
    os.rename commit point (data in the target tree, BOTH catalogs
    untouched) is completed by simply rerunning rebalance_shards —
    rename skips, target registers, source drops. Also pins the
    engine-order guard and the all-shards-empty union read."""
    import os

    root = tempfile.mkdtemp(prefix="lrshard-cr-")
    engines = [Engine(spark, sh.shard_root(root, i)) for i in range(2)]
    try:
        router = sh.ShardRouter(engines)
        for j in range(6):
            router.write(
                {"name": f"cr{j}"},
                [(BASE + (j * 10 + k) * NS, f"cr-{j}-{k}", {})
                 for k in range(10)],
            )
        for e in engines:
            e.close()
        engines = [Engine(spark, sh.shard_root(root, i)) for i in range(4)]
        # engine-order guard: a shuffled list must be refused
        with pytest.raises(ValueError, match="shard-index order"):
            sh.rebalance_shards(list(reversed(engines)))
        # simulate the crash: manually rename ONE mis-homed src into its
        # target tree, leaving every catalog as-is
        moved = None
        for i, e in enumerate(engines):
            for src in sorted(e._catalog):
                home = sh.shard_of(src, 4)
                if home != i:
                    a, b = engines[i], engines[home]
                    os.makedirs(b.logs_path, exist_ok=True)
                    os.rename(
                        os.path.join(a.logs_path, f"src={src}"),
                        os.path.join(b.logs_path, f"src={src}"),
                    )
                    moved = (src, i, home)
                    break
            if moved:
                break
        assert moved, "fixture should produce a mis-homed src"
        before = sorted(
            tuple(r)
            for r in sh.read_shard_logs(spark, root)
            .select("ts", "msg", "src", "seq")
            .collect()
        )
        assert len(before) == 60  # the renamed dir is read exactly once
        # the rerun completes the half-move and every other move
        rep = sh.rebalance_shards(engines)
        src, frm, home = moved
        assert any(m["src"] == src for m in rep["moves"])
        for i, e in enumerate(engines):
            for s in e._catalog:
                assert sh.shard_of(s, 4) == i
        after = sorted(
            tuple(r)
            for r in sh.read_shard_logs(spark, root)
            .select("ts", "msg", "src", "seq")
            .collect()
        )
        assert after == before
    finally:
        for e in engines:
            e.close()
        shutil.rmtree(root, ignore_errors=True)


def test_read_shard_logs_all_empty(spark):
    """A grown-but-unwritten store (every shard tree empty) reads as an
    empty frame with the standard log schema instead of failing parquet
    schema inference."""
    import os

    root = tempfile.mkdtemp(prefix="lrshard-empty-")
    try:
        for i in range(2):
            os.makedirs(os.path.join(sh.shard_root(root, i), "logs"))
        df = sh.read_shard_logs(spark, root)
        assert df.count() == 0
        assert "ts" in df.columns and "src" in df.columns
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_cli_rebalance_and_truncate(spark):
    """The CLI admin wrappers wire through to rebalance_shards /
    ShardRouter.truncate (embedded-engine mode, safe session stop)."""
    import io
    import json
    import os
    from contextlib import redirect_stdout

    from logrange_spark.cli import main as cli_main

    root = tempfile.mkdtemp(prefix="lrshard-cli-")
    engines = [Engine(spark, sh.shard_root(root, i)) for i in range(2)]
    try:
        router = sh.ShardRouter(engines)
        for j in range(6):
            router.write(
                {"name": f"cli{j}"},
                [(BASE + (j * 10 + k) * NS, f"cli-{j}-{k}", {})
                 for k in range(10)],
            )
        for e in engines:
            e.close()
        engines = []
        # grow to 4 via the CLI (--shards 4), dry run first
        buf = io.StringIO()
        with redirect_stdout(buf):
            assert cli_main(
                ["rebalance", "--root", root, "--shards", "4", "--dry-run"]
            ) == 0
        dry = json.loads(buf.getvalue())
        assert dry["dry_run"] and dry["n_shards"] == 4
        buf = io.StringIO()
        with redirect_stdout(buf):
            assert cli_main(
                ["rebalance", "--root", root, "--shards", "4"]
            ) == 0
        rep = json.loads(buf.getvalue())
        assert rep["files_moved"] == dry["files_moved"]
        engines = [Engine(spark, sh.shard_root(root, i)) for i in range(4)]
        for i, e in enumerate(engines):
            for s in e._catalog:
                assert sh.shard_of(s, 4) == i
        for e in engines:
            e.close()
        engines = []
        # sharded TRUNCATE through the CLI (everything is old → all cut)
        cut = BASE + 10_000 * NS
        buf = io.StringIO()
        with redirect_stdout(buf):
            assert cli_main(
                ["truncate", f'TRUNCATE BEFORE "{cut}"', "--root", root]
            ) == 0
        trep = json.loads(buf.getvalue())
        assert trep["deleted_files"] > 0
        assert not any(
            f.endswith(".parquet")
            for i in range(4)
            for _, _, fs in os.walk(
                os.path.join(sh.shard_root(root, i), "logs")
            )
            for f in fs
        )
    finally:
        for e in engines:
            e.close()
        shutil.rmtree(root, ignore_errors=True)


def test_cli_refuses_partial_store(spark):
    """--shards smaller than the on-disk shard count must be refused:
    a truncate over half the store would budget MAXDBSIZE against a
    partial total, and a rebalance would re-home srcs mod the wrong N."""
    import os

    from logrange_spark.cli import main as cli_main

    root = tempfile.mkdtemp(prefix="lrshard-partial-")
    try:
        for i in range(4):
            os.makedirs(os.path.join(sh.shard_root(root, i), "logs"))
        with pytest.raises(SystemExit, match="partial store"):
            cli_main(["rebalance", "--root", root, "--shards", "2"])
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rebalance_crash_between_register_and_drop(spark):
    """r15 review (shard.py:330): a crash AFTER the target registered a
    move but BEFORE the source dropped its entries leaves the src in
    BOTH shard catalogs with the data directory only on the target.
    Pins: (a) a read-only union over the mid-crash store is
    row-identical (the rename moved the data atomically; the stale
    source entry scans an absent directory), (b) a ShardRouter built on
    the mid-crash store pins the double-listed src to the DIRECTORY
    holder — a write lands beside the data with seq continuing, never
    resurrecting the departed source tree (an engine-open auto-heal
    was rejected: it cannot distinguish this window from the
    rename→register one, where dropping the source entry orphans the
    moved data — r16 review), (c) a rebalance rerun completes the
    interrupted move's metadata and every remaining move."""
    import os

    root = tempfile.mkdtemp(prefix="lrshard-reg-")
    engines = [Engine(spark, sh.shard_root(root, i)) for i in range(2)]
    try:
        router = sh.ShardRouter(engines)
        last_seq = {}
        for j in range(6):
            out = router.write(
                {"name": f"rg{j}"},
                [(BASE + (j * 10 + k) * NS, f"rg-{j}-{k}", {})
                 for k in range(10)],
            )
            last_seq[out["src"]] = out["last_seq"]
        for e in engines:
            e.close()
        engines = [Engine(spark, sh.shard_root(root, i)) for i in range(4)]
        before = sorted(
            tuple(r)
            for r in sh.read_shard_logs(spark, root)
            .select("ts", "msg", "src", "seq")
            .collect()
        )

        # crash injection: the source-side drop is the FIRST
        # _drop_chunks call rebalance makes (target side only
        # _record_chunks) — raising there stops the run with the target
        # fully registered and the source untouched
        real_drop = Engine._drop_chunks

        def failing_drop(self, src, chunks):
            raise RuntimeError("injected crash before the source drop")

        Engine._drop_chunks = failing_drop
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                sh.rebalance_shards(engines)
        finally:
            Engine._drop_chunks = real_drop

        # the ambiguous state exists: exactly one src listed twice
        listed = {}
        for i, e in enumerate(engines):
            for src in e._catalog:
                listed.setdefault(src, []).append(i)
        doubled = {s: v for s, v in listed.items() if len(v) > 1}
        assert len(doubled) == 1, doubled
        (src, (src_shard, dst_shard)), = doubled.items()
        assert sh.shard_of(src, 4) == dst_shard
        assert not os.path.isdir(
            os.path.join(engines[src_shard].logs_path, f"src={src}")
        )
        assert os.path.isdir(
            os.path.join(engines[dst_shard].logs_path, f"src={src}")
        )

        # (a) read-only union over the mid-crash store: row-identical
        assert sorted(
            tuple(r)
            for r in sh.read_shard_logs(spark, root)
            .select("ts", "msg", "src", "seq")
            .collect()
        ) == before
        reader = sh.ShardReader(spark, root)
        assert reader.query("SELECT LIMIT 10000").count() == len(before)
        reader.close()

        # (b) a router built on the mid-crash store pins the
        # double-listed src to the DIRECTORY holder: the write lands
        # beside the data, seq continues from the target's merged
        # high-water, and the source tree is never resurrected
        from logrange_spark.model.schema import src_for_tag_line
        from logrange_spark.model.tags import tag_line

        moved_tag = None
        for j in range(6):
            if src_for_tag_line(tag_line({"name": f"rg{j}"})) == src:
                moved_tag = {"name": f"rg{j}"}
                break
        assert moved_tag is not None
        router = sh.ShardRouter(engines)
        out = router.write(moved_tag, [(BASE + 99_999 * NS, "cont", {})])
        assert out["shard"] == dst_shard
        assert out["last_seq"] == last_seq[src] + 1
        assert not os.path.isdir(
            os.path.join(engines[src_shard].logs_path, f"src={src}")
        )

        # (c) the rerun COMPLETES the interrupted move's metadata
        # (plans it from the surviving source entry; rename skips,
        # target re-registers, source drops) and every remaining move;
        # the post-crash write survives with its chunk stats intact
        rep = sh.rebalance_shards(engines)
        assert any(m["src"] == src for m in rep["moves"])
        listed2 = {}
        for i, e in enumerate(engines):
            for s in e._catalog:
                assert sh.shard_of(s, 4) == i
                listed2.setdefault(s, []).append(i)
        assert all(len(v) == 1 for v in listed2.values()), listed2
        after = sorted(
            tuple(r)
            for r in sh.read_shard_logs(spark, root)
            .select("ts", "msg", "src", "seq")
            .collect()
        )
        assert after == sorted(
            before + [(BASE + 99_999 * NS, "cont", src, last_seq[src] + 1)]
        )
    finally:
        for e in engines:
            e.close()
        shutil.rmtree(root, ignore_errors=True)


def test_shard_reader_live_across_growth_and_rebalance(spark):
    """VERDICT r15 #6 — the live-reader drill: a ShardReader opened
    BEFORE a grow + rebalance must not silently miss moved srcs. The
    reader's freshness fingerprint folds the shard ROOT LIST, so its
    next query detects the changed shard set, rebuilds its snapshot
    onto the new roots, and returns row-identical results; a reader
    built fresh after the move agrees."""
    root = tempfile.mkdtemp(prefix="lrshard-live-")
    engines = [Engine(spark, sh.shard_root(root, i)) for i in range(2)]
    reader = None
    reader2 = None
    try:
        router = sh.ShardRouter(engines)
        for j in range(6):
            router.write(
                {"name": f"lv{j}"},
                [(BASE + (j * 10 + k) * NS, f"lv-{j}-{k}", {})
                 for k in range(10)],
            )
        reader = sh.ShardReader(spark, root)
        rows0 = sorted(
            tuple(r) for r in reader.query("SELECT LIMIT 10000").collect()
        )
        assert len(rows0) == 60
        old_engines = list(reader.engines)

        # offline grow 2 -> 4 and rebalance (writers exclusive)
        for e in engines:
            e.close()
        engines = [Engine(spark, sh.shard_root(root, i)) for i in range(4)]
        rep = sh.rebalance_shards(engines)
        assert rep["files_moved"] > 0

        # the STALE reader's next query rebuilds onto the 4-shard set
        rows1 = sorted(
            tuple(r) for r in reader.query("SELECT LIMIT 10000").collect()
        )
        assert rows1 == rows0
        assert len(reader.engines) == 4
        assert reader.engines is not old_engines

        # a reader built after the move agrees
        reader2 = sh.ShardReader(spark, root)
        rows2 = sorted(
            tuple(r) for r in reader2.query("SELECT LIMIT 10000").collect()
        )
        assert rows2 == rows0
    finally:
        if reader is not None:
            reader.close()
        if reader2 is not None:
            reader2.close()
        for e in engines:
            e.close()
        shutil.rmtree(root, ignore_errors=True)


def test_truncate_maxdbsize_spares_post_plan_write(spark):
    """r15 review (shard.py:190): MAXDBSIZE plans whole-partition drops
    as EXPLICIT plan-time file lists, so a chunk that lands on a
    planned src between planning and execution survives — it was never
    counted against the budget. Simulated by injecting the write from
    inside the planner seam (after every shard planned, before any
    executed)."""
    import os

    root = tempfile.mkdtemp(prefix="lrshard-ttw-")
    engines = [Engine(spark, sh.shard_root(root, i)) for i in range(2)]
    try:
        router = sh.ShardRouter(engines)
        outs = {}
        for j in range(4):
            out = router.write(
                {"name": f"tw{j}"},
                [(BASE + (j * 10 + k) * NS, f"tw-{j}-{k}", {"pad": "x" * 200})
                 for k in range(10)],
            )
            outs[out["src"]] = out
        # victim: the globally oldest src (tw0) — MAXDBSIZE 0 plans
        # every partition away
        real_plan = Engine._truncate_plan
        injected = {"done": False}

        def plan_then_write(self, stmt):
            res = real_plan(self, stmt)
            # after the LAST shard planned, land a late write on tw0
            if self is engines[-1] and not injected["done"]:
                injected["done"] = True
                router.write(
                    {"name": "tw0"},
                    [(BASE + 999 * NS, "late survivor", {})],
                )
            return res

        Engine._truncate_plan = plan_then_write
        try:
            router.truncate("TRUNCATE MAXDBSIZE 0")
        finally:
            Engine._truncate_plan = real_plan
        rows = [
            tuple(r)
            for r in sh.read_shard_logs(spark, root)
            .select("msg").collect()
        ]
        assert rows == [("late survivor",)], rows
        # the late chunk kept its src alive (catalog + routing intact);
        # every fully-planned partition is gone
        from logrange_spark.model.schema import src_for_tag_line
        from logrange_spark.model.tags import tag_line

        src0 = src_for_tag_line(tag_line({"name": "tw0"}))
        live = [
            (i, s) for i, e in enumerate(engines) for s in e._catalog
        ]
        assert live == [(router.shard_for({"name": "tw0"}), src0)], live
    finally:
        for e in engines:
            e.close()
        shutil.rmtree(root, ignore_errors=True)


def test_cursor_forwarder_max_retries_escalates(spark):
    """r15 review (forward.py): a PERMANENTLY failing sink must not
    spin behind a live-looking handle forever — with ``max_retries``
    the worker dies loud: ``handle.error`` carries the failure, the
    thread terminates, and the cursor never advanced (a fixed sink
    redelivers from the same position)."""
    from logrange_spark import forward as fw

    root = tempfile.mkdtemp(prefix="lrshard-esc-")
    state = tempfile.mkdtemp(prefix="lrshard-esc-state-")
    e = Engine(spark, root)
    handle = None
    try:
        for i in range(3):
            e.write({"name": "app"}, [(BASE + i * NS, f"e-{i}", {})])

        def dead_sink(df, _n):
            raise ConnectionResetError("sink is gone for good")

        handle = fw.start_cursor_forwarder(
            e, "esc", 'SELECT "{msg}"', dead_sink, state_dir=state,
            retry_s=0.05, max_retries=3,
        )
        assert handle.awaitTermination(30.0), "worker should die loud"
        assert isinstance(handle.error, ConnectionResetError)
        assert handle.consecutive_retries > 3
        # the position never advanced: a replacement forwarder with a
        # healthy sink delivers everything from the start
        got: list[str] = []

        def good_sink(df, _n):
            got.extend(r["line"] for r in df.collect())

        handle2 = fw.start_cursor_forwarder(
            e, "esc", 'SELECT "{msg}"', good_sink, state_dir=state,
            retry_s=0.05,
        )
        try:
            assert _wait_for(lambda: len(got) >= 3), got
            assert sorted(got) == [f"e-{i}" for i in range(3)]
            assert handle2.error is None
            assert handle2.consecutive_retries == 0
        finally:
            handle2.stop()
    finally:
        if handle is not None:
            handle.stop()
        e.close()
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)


def test_shard_reader_sees_grown_but_unwritten_shards(spark):
    """Growth without a rebalance: adding empty shard-NNN stores must
    flip the reader's freshness fingerprint (the root list is part of
    the state), so the next query rebuilds onto the wider set — and
    returns identical rows, since the new shards are empty."""
    import os

    root = tempfile.mkdtemp(prefix="lrshard-grow-")
    engines = [Engine(spark, sh.shard_root(root, i)) for i in range(2)]
    reader = None
    try:
        router = sh.ShardRouter(engines)
        for j in range(4):
            router.write(
                {"name": f"gw{j}"},
                [(BASE + (j * 10 + k) * NS, f"gw-{j}-{k}", {})
                 for k in range(10)],
            )
        reader = sh.ShardReader(spark, root)
        rows0 = sorted(
            tuple(r) for r in reader.query("SELECT LIMIT 10000").collect()
        )
        assert len(rows0) == 40 and len(reader.engines) == 2
        old_by_root = {e.root: e for e in reader.engines}
        # grow: two empty stores appear (no writes, no rebalance)
        for i in (2, 3):
            os.makedirs(os.path.join(sh.shard_root(root, i), "logs"))
        rows1 = sorted(
            tuple(r) for r in reader.query("SELECT LIMIT 10000").collect()
        )
        assert rows1 == rows0
        assert len(reader.engines) == 4
        # the UNCHANGED shards kept their engines (r16 review: a
        # set-change rebuild must not re-open every snapshot from
        # scratch — that re-reads the whole multi-shard chunk log on
        # each growth event; only the new roots pay an open)
        for e in reader.engines:
            if e.root in old_by_root:
                assert e is old_by_root[e.root]
        assert not reader._retired
        # a write routed to a NEW shard is visible on the next query
        engines2 = [Engine(spark, sh.shard_root(root, i)) for i in (2,)]
        try:
            engines2[0].write(
                {"name": "gw-new"}, [(BASE + 999 * NS, "fresh", {})]
            )
            rows2 = reader.query("SELECT LIMIT 10000").collect()
            assert len(rows2) == 41
        finally:
            engines2[0].close()
    finally:
        if reader is not None:
            reader.close()
        for e in engines:
            e.close()
        shutil.rmtree(root, ignore_errors=True)


def test_router_write_refuses_mid_move_src(spark):
    """r16 review: in the rename→register crash window the src is
    single-listed on the SOURCE with its directory already on the
    target — a routed write must fail loud (writing would recreate the
    source tree and the rebalance rerun would strand the new chunk),
    and succeed after the rerun completes the move."""
    import os

    root = tempfile.mkdtemp(prefix="lrshard-refuse-")
    engines = [Engine(spark, sh.shard_root(root, i)) for i in range(2)]
    try:
        router = sh.ShardRouter(engines)
        last_seq = {}
        for j in range(6):
            out = router.write(
                {"name": f"rf{j}"},
                [(BASE + (j * 10 + k) * NS, f"rf-{j}-{k}", {})
                 for k in range(10)],
            )
            last_seq[out["src"]] = out["last_seq"]
        for e in engines:
            e.close()
        engines = [Engine(spark, sh.shard_root(root, i)) for i in range(4)]
        # simulate the crash: rename ONE mis-homed src's directory into
        # its target tree, catalogs untouched (the crash_resume shape)
        moved = None
        for i, e in enumerate(engines):
            for src in sorted(e._catalog):
                home = sh.shard_of(src, 4)
                if home != i:
                    os.makedirs(engines[home].logs_path, exist_ok=True)
                    os.rename(
                        os.path.join(e.logs_path, f"src={src}"),
                        os.path.join(engines[home].logs_path, f"src={src}"),
                    )
                    moved = (src, i, home)
                    break
            if moved:
                break
        assert moved
        src, src_shard, dst_shard = moved
        moved_tag = None
        for j in range(6):
            from logrange_spark.model.schema import src_for_tag_line
            from logrange_spark.model.tags import tag_line
            if src_for_tag_line(tag_line({"name": f"rf{j}"})) == src:
                moved_tag = {"name": f"rf{j}"}
                break
        assert moved_tag is not None
        router = sh.ShardRouter(engines)
        with pytest.raises(RuntimeError, match="interrupted rebalance"):
            router.write(moved_tag, [(BASE + 777 * NS, "refused", {})])
        # other srcs write fine through the same router
        ok_tag = next(
            {"name": f"rf{j}"} for j in range(6)
            if {"name": f"rf{j}"} != moved_tag
        )
        router.write(ok_tag, [(BASE + 778 * NS, "fine", {})])
        # after the rerun completes the move, the write succeeds on the
        # new home with seq continuing
        sh.rebalance_shards(engines)
        router = sh.ShardRouter(engines)
        out = router.write(moved_tag, [(BASE + 779 * NS, "landed", {})])
        assert out["shard"] == dst_shard
        assert out["last_seq"] == last_seq[src] + 1
    finally:
        for e in engines:
            e.close()
        shutil.rmtree(root, ignore_errors=True)


def test_truncate_skips_phantom_dirless_src(spark):
    """r16 review: a src whose directory moved away mid-rebalance must
    not be counted into a MAXDBSIZE budget (its bytes live on the
    target) nor have its catalog entry popped by a whole-partition
    drop — the plan skips it; a rebalance rerun owns the residue."""
    import os

    root = tempfile.mkdtemp(prefix="lrshard-phantom-")
    e = Engine(spark, sh.shard_root(root, 0))
    stash = tempfile.mkdtemp(prefix="lrshard-phantom-stash-")
    try:
        for j in range(2):
            e.write(
                {"name": f"ph{j}"},
                [(BASE + (j * 10 + k) * NS, f"ph-{j}-{k}",
                  {"pad": "x" * 100})
                 for k in range(10)],
            )
        srcs = sorted(e._catalog)
        phantom = srcs[0]
        os.rename(
            os.path.join(e.logs_path, f"src={phantom}"),
            os.path.join(stash, f"src={phantom}"),
        )
        from logrange_spark.lql.parser import parse_lql

        rep = e.truncate(parse_lql("TRUNCATE MAXDBSIZE 0"))
        # only the REAL src was planned and deleted; the phantom's
        # bytes never entered the budget and its entry survives
        assert phantom in e._catalog and phantom in e._chunk_stats
        assert srcs[1] not in e._catalog
        # restore the directory (the "rebalance rerun"): rows readable
        os.rename(
            os.path.join(stash, f"src={phantom}"),
            os.path.join(e.logs_path, f"src={phantom}"),
        )
        assert e.query("SELECT LIMIT 10000").count() == 10
    finally:
        e.close()
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(stash, ignore_errors=True)
