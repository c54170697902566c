"""Self-tests of the benchmark's own machinery (no Spark, no server).

    python -m pytest lrbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from lrbench import common
from lrbench import ingest_pipe_tail as ip
from lrbench import serve_query as sq


def test_summary_reports_count_and_highest_supported_percentile():
    assert common.summarize(list(range(1000)))["supported"] == 99.0
    s = common.summarize(list(range(200)))
    assert s["n"] == 200 and s["supported"] == 95.0
    assert s["p50"] == pytest.approx(99.5) and s["p95"] == pytest.approx(189.05)
    assert common.summarize(list(range(60)))["supported"] == 50.0
    assert common.summarize(list(range(15)))["supported"] is None
    with pytest.raises(ValueError):
        common.percentile([], 50)


def test_open_loop_charges_a_stall_to_the_requests_due_behind_it():
    rate, stall_k = 50.0, 3  # one request due every 20 ms

    def send(k):
        time.sleep(0.2 if k == stall_k else 0.001)

    sent = ip.open_loop(20, rate, send, time.perf_counter() + 0.05)
    lat = {k: (ack - due) * 1e3 for k, due, _, ack in sent}
    late = {k: (start - due) * 1e3 for k, due, start, _ in sent}
    assert lat[stall_k] >= 195
    # the next requests wait for the stall and are charged from their due time
    assert lat[stall_k + 1] >= 170 and late[stall_k + 1] >= 170
    assert late[stall_k + 3] >= 120
    # the schedule did not slip: requests due after the backlog drained are on time
    assert late[19] < 15 and lat[19] < 25
    assert all(k == i for i, (k, *_rest) in enumerate(sent))


def test_open_loop_records_a_failed_send_and_keeps_the_schedule():
    def send(k):
        if k == 1:
            raise RuntimeError("refused")

    sent = ip.open_loop(3, 100.0, send, time.perf_counter())
    assert [s[3] is None for s in sent] == [False, True, False]


@pytest.fixture(scope="module")
def store():
    return sq.Store(3)


def _events(rows):
    return [{"timestamp": ts, "message": msg, "fields": f, "tags": ""} for ts, msg, f in rows]


@pytest.mark.parametrize("shape", sq.SHAPES)
def test_serve_checker_accepts_the_expected_rows(store, shape):
    import random

    op = sq.make_query(random.Random(5), shape)
    assert sq.check_op(store, op, _events(sq.expected(store, op))) is None


def test_serve_checker_rejects_a_wrong_or_duplicated_row(store):
    import random

    op = sq.make_query(random.Random(9), "range")
    rows = sq.expected(store, op)
    assert len(rows) > 2
    wrong = list(rows)
    wrong[1] = (wrong[1][0], wrong[1][1] + "x", wrong[1][2])
    assert "values or order differ" in sq.check_op(store, op, _events(wrong))
    dup = rows[:1] + rows[:-1]
    assert sq.check_op(store, op, _events(dup)) is not None
    assert sq.check_op(store, op, _events(rows + rows[-1:])) is not None
    assert sq.check_op(store, op, _events(rows[::-1])) is not None


def test_delivery_checker_rejects_duplicate_missing_and_unexpected_rows():
    want = {"b0 r0", "b0 r1", "b1 r0"}
    assert ip.delivery_problems(want, ["b0 r0", "b1 r0", "b0 r1"]) == {}
    assert set(ip.delivery_problems(want, ["b0 r0", "b0 r0", "b0 r1", "b1 r0"])) == {"duplicate"}
    assert set(ip.delivery_problems(want, ["b0 r0", "b0 r1"])) == {"missing"}
    assert set(ip.delivery_problems(want, sorted(want) + ["b9 r9"])) == {"unexpected"}


class _FakeFollower:
    def __init__(self, name, msgs):
        self.name_, self.error = name, None
        self.recv = [(m, 100.0 + i) for i, m in enumerate(msgs)]


def test_follower_check_counts_a_duplicated_record_as_a_failure():
    gen = ip.Gen(1)
    plan = [gen.batch(f"b{k}", k % ip.PARTS) for k in range(8)]
    want = {n: {m for _, meta in plan for (p, lvl, m) in meta if ip.FOLLOWERS[n][1](p, lvl, m)}
            for n in ip.FOLLOWERS}
    got = {n: sorted(want[n]) for n in want}
    got["tail_one"].append(got["tail_one"][0])
    raw = {"plan": plan, "sent": [(k, 99.0, 99.0, 99.01) for k in range(8)],
           "followers": [_FakeFollower(n, got[n]) for n in ip.FOLLOWERS],
           "want": want}
    fails = common.Failures()
    m = ip.check_and_measure(raw, fails)
    assert fails.by_check == {"ingest.follow.tail_one.duplicate": 1}
    assert m["tail"]["n"] > 0 and m["pipe_missed"] == 0


def _span(name, start_ms, end_ms, parent=None, rid=1):
    from lrbench.trace import Span

    sp = Span(name, start_ms / 1e3, parent, rid)
    sp.end = end_ms / 1e3
    if parent is not None:
        parent.child_s += sp.end - sp.start
    return sp


def test_accounting_shows_a_missing_span_as_a_shortfall():
    from lrbench import layers

    def spans(covered: bool):
        q = _span("server.query_once", 0, 100)
        out = [q, _span("lql.parse", 0, 10, q), _span("engine.select", 10, 50, q),
               _span("server.encode", 100, 105)]
        if covered:
            out.append(_span("spark.collect", 50, 98, q))
        return out

    rtt, shape_of = {1: 110.0}, {1: "point"}
    full = layers.shape_accounting(spans(True), rtt, shape_of)
    assert full["serve.point.unaccounted_frac"] == pytest.approx(2 / 110)
    assert full["_layers.point"]["unattributed"] == pytest.approx(2)
    # the 48 ms of an unwrapped call is not charged to any named layer
    gap = layers.shape_accounting(spans(False), rtt, shape_of)
    assert gap["serve.point.unaccounted_frac"] == pytest.approx(50 / 110)
    assert gap["_layers.point"]["server"] == pytest.approx(10)


def test_benchmark_json_declares_the_metrics_the_workloads_report():
    from lrbench import batch_analytics as ba
    from lrbench import run

    e2e, per_layer = run.declared()
    assert set(e2e) == {"setup_s", "op_ms"}
    for name in ba.ROWS:
        for k in ("build_s", "exec_s", "jobs", "shuffle_write_mb"):
            assert f"batch.{name}.{k}" in per_layer
    for shape in sq.SHAPES:
        assert f"serve.{shape}.unaccounted_frac" in per_layer


def test_stop_descendants_stops_a_process_that_left_the_group():
    # like Spark's Python worker daemon: a grandchild in a process group of
    # its own, whose parent has already exited
    script = f"""
import subprocess, sys
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from lrbench import common
common.become_subreaper()
mid = subprocess.Popen([sys.executable, "-c", "import subprocess; "
                        "print(subprocess.Popen(['sleep', '60'], start_new_session=True).pid)"],
                       stdout=subprocess.PIPE, text=True)
print(mid.stdout.readline().strip(), flush=True)
mid.wait()
common.stop_descendants(10)
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         timeout=30)
    assert out.returncode == 0, out.stderr
    assert not os.path.exists(f"/proc/{int(out.stdout.split()[0])}")
