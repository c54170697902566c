"""Serving-layer e2e: write → query → cursor paging → admin → truncate,
over the wire (reference contract: api/querier.go:41-83,
pkg/backend/querier.go:40-130)."""

from __future__ import annotations

import threading
import time

import pytest

from logrange_spark.client import Client
from logrange_spark.server import Server

from .conftest import BASE_TS, NS


@pytest.fixture()
def served(engine):
    srv = Server(engine).start()
    c = Client(f"http://127.0.0.1:{srv.port}")
    yield engine, c
    srv.stop()


def test_ping(served):
    _, c = served
    assert c.ping()


def test_write_query_page_truncate(served):
    engine, c = served
    # write over the wire
    res = c.write(
        "name=web,ns=prod",
        [(BASE_TS + i * NS, f"req {i}", {"status": "200"}) for i in range(25)],
        fields={"host": "h1"},
    )
    assert res["records"] == 25
    assert res["err"] is None

    # first page
    r1 = c.query("SELECT FROM {name=web}", limit=10)
    assert len(r1["events"]) == 10
    assert r1["events"][0]["message"] == "req 0"
    assert r1["events"][0]["tags"] == "name=web,ns=prod"
    assert "host=h1" in r1["events"][0]["fields"]
    assert "status=200" in r1["events"][0]["fields"]

    # consecutive page via the returned nextQueryRequest (the reference's
    # iteration contract)
    r2 = c.query(r1["nextQueryRequest"])
    assert len(r2["events"]) == 10
    assert r2["events"][0]["message"] == "req 10"
    r3 = c.query(r2["nextQueryRequest"])
    assert [e["message"] for e in r3["events"]] == [f"req {i}" for i in range(20, 25)]
    # exhausted: empty page, cursor does not move
    r4 = c.query(r3["nextQueryRequest"])
    assert r4["events"] == []
    assert r4["nextQueryRequest"]["pos"] == r3["nextQueryRequest"]["pos"]

    # admin over the wire
    out = c.execute("SHOW PARTITIONS")
    assert "name=web,ns=prod" in out

    # truncate over the wire
    out = c.execute('TRUNCATE {name=web} BEFORE "2100-01-01"')
    assert "web" in out or "truncated" in out.lower() or out  # formatted text
    assert c.query("SELECT FROM {name=web}", limit=10)["events"] == []


@pytest.mark.parametrize("page", [1, 4, 7, 25, 100])
def test_paging_is_lossless_at_any_page_size(served, page):
    """Concatenated pages equal the full ordered result for any page
    size — no lost, duplicated, or reordered rows at page boundaries."""
    engine, c = served
    engine.write({"name": "sweep"}, [(BASE_TS + i * NS, f"s{i}", {}) for i in range(25)])
    got = []
    for events in c.pages("SELECT FROM {name=sweep}", limit=page):
        got.extend(e["message"] for e in events)
    assert got == [f"s{i}" for i in range(25)]


def test_query_offset_and_explicit_pos(served):
    engine, c = served
    c.write("name=pag", [(BASE_TS + i * NS, f"m{i}", {}) for i in range(10)])
    r = c.query("SELECT FROM {name=pag}", offset=7, limit=5)
    assert [e["message"] for e in r["events"]] == ["m7", "m8", "m9"]
    # explicit pos: head restarts from the beginning
    r = c.query("SELECT FROM {name=pag}", pos="head", limit=2)
    assert [e["message"] for e in r["events"]] == ["m0", "m1"]


def test_limit_zero_no_wait_is_empty(served):
    _, c = served
    r = c.query("SELECT", limit=0)
    assert r["events"] == []


def test_bad_requests(served):
    _, c = served
    with pytest.raises(RuntimeError, match="limit"):
        c.query("SELECT", limit=-1)
    with pytest.raises(RuntimeError, match="wait timeout"):
        c.query("SELECT", wait_timeout=1000)
    with pytest.raises(RuntimeError, match="SELECT"):
        c.execute("SELECT LIMIT 5")
    with pytest.raises(RuntimeError, match="bad LQL"):
        c.query("SELEKT FROM")


@pytest.mark.parametrize("events", [
    ["12", "9x"],
    [[BASE_TS, "ok"], 7],
    [[BASE_TS]],
    [[BASE_TS, "m", {}, "extra"]],
])
def test_malformed_events_rejected_and_nothing_written(served, events):
    """An event must be a dict or a [ts, msg] / [ts, msg, fields] list.
    Anything else is a 400, and no event of the batch is stored (a bare
    string used to be split into characters: "12" → ts=1, msg="2")."""
    import json
    import urllib.error
    import urllib.request

    engine, c = served
    req = urllib.request.Request(
        f"{c.base_url}/api/v1/write",
        data=json.dumps({"tags": "name=bad", "events": events}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=30)
    assert ei.value.code == 400
    assert "event" in json.loads(ei.value.read())["err"]
    assert c.query("SELECT FROM {name=bad}", limit=10)["events"] == []


def test_tail_query_with_wait_sees_new_data(served, monkeypatch):
    """POSITION tail over the wire = start at end-of-stream; with
    waitTimeout the server must observe rows written after the tail was
    taken (round-3 review fix: the tail is seeded into a value cursor
    rather than re-running the always-empty batch tail plan)."""
    engine, c = served
    c.write("name=tailsrv", [(BASE_TS, "existing", {})])
    # the writer waits until the query blocks (the tail is taken by
    # then), not a fixed delay that a cold first compile can outrun
    waiting = threading.Event()
    orig_wait = engine.wait_for_write

    def wait_for_write(*a, **kw):
        waiting.set()
        return orig_wait(*a, **kw)

    monkeypatch.setattr(engine, "wait_for_write", wait_for_write)

    def later():
        waiting.wait(60)
        engine.write({"name": "tailsrv"}, [(BASE_TS + NS, "new arrival", {})])

    t = threading.Thread(target=later)
    t.start()
    r = c.query("SELECT FROM {name=tailsrv} POSITION tail", limit=10, wait_timeout=20)
    t.join(timeout=60)
    assert [e["message"] for e in r["events"]] == ["new arrival"]
    # and the returned cursor continues from there
    r2 = c.query(r["nextQueryRequest"])
    assert r2["events"] == []


def test_cursor_echo_at_end_of_stream_runs_no_scan(served, monkeypatch):
    """A nextQueryRequest echo at end-of-stream is answered from the
    chunk catalog alone: no row can follow the cursor, so no Spark scan
    runs, even before any wait."""
    engine, c = served
    engine.write({"name": "drained"}, [(BASE_TS + i * NS, f"d{i}", {}) for i in range(3)])
    r1 = c.query("SELECT FROM {name=drained}", limit=10)
    assert len(r1["events"]) == 3
    calls = {"n": 0}
    orig = engine.select

    def counting_select(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(engine, "select", counting_select)
    r2 = c.query({**r1["nextQueryRequest"], "waitTimeout": 0})
    assert r2["events"] == []
    assert r2["nextQueryRequest"]["pos"] == r1["nextQueryRequest"]["pos"]
    assert calls["n"] == 0


def test_small_responses_have_no_transport_stall(served):
    """Headers and body of a small response leave in two sends on a
    keep-alive connection; with Nagle's algorithm on, the second waits
    for the client's delayed ACK (~40 ms a response)."""
    import http.client
    import statistics

    _, c = served
    conn = http.client.HTTPConnection(c.base_url.split("//", 1)[1], timeout=30)
    try:
        times = []
        for _ in range(10):
            t0 = time.perf_counter()
            conn.request("GET", "/api/v1/ping")
            resp = conn.getresponse()
            assert resp.status == 200 and resp.read()
            times.append(time.perf_counter() - t0)
    finally:
        conn.close()
    assert statistics.median(times) < 0.020


def test_tail_query_on_empty_stream(served):
    _, c = served
    r = c.query("SELECT FROM {name=ghost} POSITION tail", limit=5)
    assert r["events"] == []


def test_empty_stream_tail_wait_expiry_loses_nothing(served):
    """Round-4 race: tail on an EMPTY stream whose wait expires must
    return a beginning-of-stream cursor, so events written between that
    response and the next page are returned, not silently skipped (the
    old code echoed the request's empty pos and re-seeded tail at the
    then-current last row)."""
    engine, c = served
    r1 = c.query("SELECT FROM {name=gaps} POSITION tail", limit=5, wait_timeout=1)
    assert r1["events"] == []
    # written AFTER the wait expired, BEFORE the next page
    engine.write({"name": "gaps"}, [(BASE_TS, "in the gap", {})])
    r2 = c.query(r1["nextQueryRequest"])
    assert [e["message"] for e in r2["events"]] == ["in the gap"]


def test_wait_is_event_driven_not_polling(served, monkeypatch):
    """A no-match query with waitTimeout must run ONE scan and then block
    on the write condition — not re-run the pruned scan every 0.5 s
    (round-4: 120 driver jobs per 60 s wait window per waiting client)."""
    engine, c = served
    engine.write({"name": "quiet"}, [(BASE_TS, "present", {})])
    calls = {"n": 0}
    orig = engine.select

    def counting_select(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(engine, "select", counting_select)
    t0 = time.monotonic()
    r = c.query("SELECT FROM {name=quiet} WHERE msg CONTAINS 'absent'",
                limit=10, wait_timeout=2)
    assert r["events"] == []
    assert time.monotonic() - t0 >= 2  # it did wait the window out
    assert calls["n"] == 1  # ...without a single re-scan


def test_limit_zero_returns_immediately_even_with_wait(served):
    _, c = served
    t0 = time.monotonic()
    r = c.query("SELECT", limit=0, wait_timeout=30)
    assert r["events"] == []
    assert time.monotonic() - t0 < 5  # reference: read loop never runs


def test_wait_timeout_sees_new_data(served):
    engine, c = served
    c.write("name=live", [(BASE_TS, "old", {})])
    r1 = c.query("SELECT FROM {name=live}", limit=100)
    assert len(r1["events"]) == 1

    def later():
        time.sleep(1.5)
        engine.write({"name": "live"}, [(BASE_TS + NS, "fresh", {})])

    t = threading.Thread(target=later)
    t.start()
    t0 = time.monotonic()
    r2 = c.query({**r1["nextQueryRequest"], "waitTimeout": 20})
    t.join()
    assert [e["message"] for e in r2["events"]] == ["fresh"]
    assert time.monotonic() - t0 < 20  # returned as soon as data arrived


def test_one_write_wakes_every_waiting_client(served):
    """notify_all semantics: N clients blocked in waitTimeout reads must
    ALL observe a single write, each via its own re-scan."""
    import concurrent.futures as cf

    engine, c = served
    c.write("name=fanout", [(BASE_TS, "seed", {})])
    r0 = c.query("SELECT FROM {name=fanout}", limit=100)

    def waiter(_):
        return c.query({**r0["nextQueryRequest"], "waitTimeout": 20})

    with cf.ThreadPoolExecutor(5) as pool:
        futs = [pool.submit(waiter, i) for i in range(5)]
        time.sleep(1.5)  # let all five enter the wait
        engine.write({"name": "fanout"}, [(BASE_TS + NS, "wakeup", {})])
        results = [f.result(timeout=30) for f in futs]
    for r in results:
        assert [e["message"] for e in r["events"]] == ["wakeup"]


def test_formatted_query_over_the_wire(served):
    engine, c = served
    c.write("name=fmtd", [(BASE_TS, "hello", {"lvl": "info"})])
    r = c.query('SELECT "{vars:lvl}|{msg}" FROM {name=fmtd}', limit=10)
    assert r["events"][0]["message"] == "info|hello"


def test_concurrent_writes_keep_seq_monotonic(served):
    """Writes land concurrently from handler threads; the engine write
    lock must keep per-src seq assignment gap-free and duplicate-free."""
    engine, c = served
    workers = 8
    per = 5

    def wr(i):
        return c.write("name=conc", [(BASE_TS + i * 1000 + j, f"w{i}.{j}", {}) for j in range(per)])

    import concurrent.futures as cf

    with cf.ThreadPoolExecutor(workers) as pool:
        results = list(pool.map(wr, range(workers)))
    assert all(r["records"] == per for r in results)
    rows = engine.query("SELECT FROM {name=conc} LIMIT 100").collect()
    seqs = sorted(r["seq"] for r in rows)
    assert seqs == list(range(1, workers * per + 1))


def test_ensure_pipe_over_the_wire(served):
    engine, c = served
    res = c.ensure_pipe("wired", tags_cond="{name=piped}", filter_cond="msg CONTAINS 'keep'")
    assert res["status"] == "created"
    assert res["pipe"]["destination"] == "logrange.pipe=wired"
    # idempotent (EnsurePipe contract: create only if it doesn't exist)
    assert c.ensure_pipe("wired")["status"] == "exists"

    c.write("name=piped", [(BASE_TS, "keep me", {}), (BASE_TS + NS, "drop me", {})])

    deadline = time.monotonic() + 30
    events = []
    while time.monotonic() < deadline and not events:
        events = c.query("SELECT FROM {logrange.pipe=wired}", limit=10)["events"]
        if not events:
            time.sleep(0.5)
    assert [e["message"] for e in events] == ["keep me"]
    assert c.execute("DELETE PIPE wired")


def test_cli_query_and_exec(served, capsys, monkeypatch):
    import io

    from logrange_spark.cli import main

    engine, c = served
    server = c.base_url
    monkeypatch.setattr("sys.stdin", io.StringIO("one\ntwo\n"))
    assert main(["write", "--tags", "name=cli", "--server", server]) == 0
    assert main(["query", "SELECT FROM {name=cli}", "--server", server]) == 0
    out = capsys.readouterr().out
    assert "one" in out and "two" in out
    assert main(["exec", "SHOW PARTITIONS", "--server", server]) == 0
    assert "name=cli" in capsys.readouterr().out
