"""ingest_pipe_tail: open-loop writer with tail and pipe followers.

One writer thread sends 100-record batches at a fixed offered rate,
round-robin over 8 partitions, timing each from its due time. Two tail
followers (one partition; a 4-partition tag group with a filter) and one
pipe follower read with ``waitTimeout`` over HTTP. Every partition and
the pipe exist, and the pipe has delivered a probe, before timing
starts. One partition is pre-filled to just under the engine's 64-file
auto-compaction threshold, so compaction runs inside the window.
"""

from __future__ import annotations

import os
import random
import threading
import time

from .common import Http, median, percentile, summarize

PARTS = 8
BATCH = 100
RATE = 2.0          # offered batches per second, below where visibility grows
# chunks written before timing, per partition: one partition sits just
# under the engine's auto-compaction threshold (> 64 files) and crosses it
# on its second write of the window (~5.5 s in), as in a steady state
# where each partition compacts every 65 writes. Each pre-filled chunk is
# also backlog the pipe reads (64 files per trigger) before set-up ends.
PREFILL = {3: 63}
WAIT_S = 2          # follower waitTimeout
DRAIN_S = 20.0      # how long followers may take to deliver the last batch
PIPE = "bench_warn"
LVLS = ("info", "info", "warn", "debug")  # 1/4 of records reach the pipe
BASE_NS = 1_750_000_000 * 10**9


def part_tags(p: int) -> dict:
    return {"svc": f"ing{p}", "grp": f"g{p // 4}", "env": "ingest"}


FOLLOWERS = {
    # name: (LQL, record filter over (partition, lvl, msg))
    "tail_one": ("SELECT FROM {svc=ing0} POSITION tail",
                 lambda p, lvl, msg: p == 0),
    "tail_group": ("SELECT FROM {grp=g1} WHERE msg CONTAINS 'GET' POSITION tail",
                   lambda p, lvl, msg: p // 4 == 1 and "GET" in msg),
    "pipe": ("SELECT FROM {logrange.pipe=%s} POSITION tail" % PIPE,
             lambda p, lvl, msg: lvl == "warn"),
}


class Gen:
    """Seeded batch contents; ts strictly increase across every batch the
    run writes, so value cursors never skip a later write."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_ts = BASE_NS

    def batch(self, label: str, p: int, n: int = BATCH) -> tuple[dict, list[tuple]]:
        rows, meta = [], []
        for j in range(n):
            lvl = self.rng.choice(LVLS)
            verb = self.rng.choice(("GET", "PUT", "GET", "POST"))
            msg = f"{label} r{j} {verb} /v1/{self.rng.randrange(50)} lvl={lvl}"
            rows.append([self.next_ts, msg, {"lvl": lvl, "user": f"u{self.rng.randrange(99)}"}])
            meta.append((p, lvl, msg))
            self.next_ts += 1000
        return {"tags": part_tags(p), "events": rows}, meta


def write_parallel(port: int, bodies: list[dict], threads: int) -> list[dict]:
    """Closed-loop writes (set-up only); returns the responses in order."""
    out, errors = [None] * len(bodies), []

    def worker(k: int) -> None:
        http = Http(port)
        try:
            for i in range(k, len(bodies), threads):
                out[i] = http.post("/api/v1/write", bodies[i])
        except Exception as e:  # surfaced below
            errors.append(repr(e))
        finally:
            http.close()

    ts = [threading.Thread(target=worker, args=(k,)) for k in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errors:
        raise RuntimeError(f"set-up write failed: {errors[0]}")
    return out


def prefill(port: int, gen: Gen, threads: int, logs_path: str, srcs: dict) -> None:
    """Bring each PREFILL partition to its chunk-file count."""
    bodies = []
    for p, n in PREFILL.items():
        d = os.path.join(logs_path, f"src={srcs[p]}")
        have = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        bodies += [gen.batch(f"pre{p}-{c}", p)[0] for c in range(have, n)]
    write_parallel(port, bodies, threads)


def setup(port: int, gen: Gen, threads: int, logs_path: str, log=print) -> dict:
    """Partitions, pipe, pre-fill, and a pipe probe delivered end to end.
    Returns the partition -> src map."""
    t_setup = time.perf_counter()
    # every partition exists before the pipe starts: a partition born
    # later would restart the pipe
    res = write_parallel(port, [gen.batch(f"pre{p}-0", p)[0] for p in range(PARTS)], threads)
    srcs = {p: r["src"] for p, r in enumerate(res)}
    http = Http(port)
    try:
        http.post("/api/v1/pipes", {"name": PIPE, "tagsCond": "{env=ingest}",
                                    "filterCond": "fields:lvl = 'warn'"})
        prefill(port, gen, threads, logs_path, srcs)
        log(f"  partitions, pipe and pre-fill in {time.perf_counter() - t_setup:.2f} s")
        # the pipe's start-up latency belongs to set-up: probe until a
        # warn record written now is visible at the destination quickly
        probes = []
        free = [p for p in range(PARTS) if p not in PREFILL]  # keep the pre-fill exact
        for k in range(12):
            body, meta = gen.batch(f"probe{k}", free[k % len(free)], 8)
            want = {m for (_, lvl, m) in meta if lvl == "warn"}
            if not want:
                continue
            t0 = time.perf_counter()
            http.post("/api/v1/write", body)
            seen, req = set(), {"query": FOLLOWERS["pipe"][0].replace(" POSITION tail", "")
                                + " POSITION tail OFFSET -50", "_bench_id": -1}
            while not want <= seen:
                if time.perf_counter() - t0 > 60:
                    raise RuntimeError("pipe delivered no probe within 60 s")
                time.sleep(0.1)
                seen = {e["message"] for e in http.post("/api/v1/query", req)["events"]}
            probes.append(time.perf_counter() - t0)
            if len(probes) >= 2 and probes[-1] < 3.0:
                break
        log(f"  pipe probes (s): {[round(x, 2) for x in probes]}")
        return srcs
    finally:
        http.close()


class Follower(threading.Thread):
    """Follows one LQL statement with waitTimeout, echoing
    nextQueryRequest; records each event's receive time."""

    def __init__(self, port: int, name: str, bench_base: int):
        super().__init__(daemon=True)
        self.port, self.name_ = port, name
        self.query = FOLLOWERS[name][0]
        self.recv: list[tuple[str, float]] = []
        self.log: list[tuple[int, float, int]] = []  # (rid, rtt ms, events)
        self.error: str | None = None
        self.stop_at: float | None = None
        self.bench_base = bench_base
        self.ready = threading.Event()

    def run(self) -> None:
        http = Http(self.port, timeout_s=WAIT_S + 60)
        k = 0
        try:
            # pin the start position before the writer starts: the first
            # answer (waitTimeout 0) carries the end-of-stream cursor
            req = {"query": self.query, "limit": 10_000, "_bench_id": -1}
            req = dict(http.post("/api/v1/query", req)["nextQueryRequest"],
                       waitTimeout=WAIT_S)
            self.ready.set()
            while self.stop_at is None or time.perf_counter() < self.stop_at:
                rid = req["_bench_id"] = self.bench_base + k
                k += 1
                t0 = time.perf_counter()
                res = http.post("/api/v1/query", req)
                now = time.perf_counter()
                self.log.append((rid, (now - t0) * 1e3, len(res["events"])))
                self.recv += [(e["message"], now) for e in res["events"]]
                req = dict(res["nextQueryRequest"])
        except Exception as e:  # reported as a failed check
            self.error = repr(e)
        finally:
            http.close()


def drive(port: int, gen: Gen, seconds: float, fails) -> dict:
    """Followers first, then the open-loop writer for ``seconds``; then
    the followers drain. Returns the raw timings."""
    followers = [Follower(port, n, 10**6 * (i + 1)) for i, n in enumerate(FOLLOWERS)]
    for f in followers:
        f.start()
    for f in followers:
        if not f.ready.wait(60):
            raise RuntimeError(f"follower {f.name_} did not start: {f.error}")
    n_batches = max(1, int(seconds * RATE))
    plan = [gen.batch(f"b{k}", k % PARTS) for k in range(n_batches)]
    write_rtt = {}
    box = {"http": Http(port)}

    def send(k: int) -> None:
        fails.attempt()
        t0 = time.perf_counter()
        try:
            box["http"].post("/api/v1/write", dict(plan[k][0], _bench_id=f"w{k}"))
        except Exception as e:
            fails.fail("ingest.write", repr(e))
            box["http"].close()
            box["http"] = Http(port)
            raise
        write_rtt[f"w{k}"] = (time.perf_counter() - t0) * 1e3

    t0 = time.perf_counter() + 0.2
    try:
        sent = open_loop(len(plan), RATE, send, t0)
    finally:
        box["http"].close()
    window_end = time.perf_counter()
    # drain: every tail follower holds its last acknowledged matching
    # record, and so does the pipe follower; when the destination holds
    # them but the follower does not (see pipe.follower_missed), the
    # follower gets a short grace
    acked = {k for k, _, _, a in sent if a is not None}
    want = {f.name_: {m for k in acked for (p, lvl, m) in plan[k][1]
                      if FOLLOWERS[f.name_][1](p, lvl, m)} for f in followers}
    first_ts = plan[0][0]["events"][0][0]

    def has(f) -> bool:
        return want[f.name_] <= {m for m, _ in f.recv}

    end = window_end + DRAIN_S
    next_poll = window_end + 2.0
    http = Http(port)
    try:
        while time.perf_counter() < end:
            tails = all(has(f) for f in followers if f.name_ != "pipe")
            if tails and all(has(f) for f in followers):
                break
            now = time.perf_counter()
            if tails and now >= next_poll and end > now + 3.0:
                # each poll is a query: keep it off the pipe's back
                if want["pipe"] <= set(destination(http, first_ts)):
                    end = now + 3.0
                next_poll = now + 2.0
            time.sleep(0.1)
    finally:
        http.close()
    for f in followers:
        f.stop_at = time.perf_counter()
    for f in followers:
        f.join(WAIT_S + 65)
    return {"plan": plan, "sent": sent, "followers": followers, "want": want,
            "write_rtt": write_rtt, "first_ts": first_ts}


def open_loop(n: int, rate: float, send, t0: float) -> list[tuple]:
    """Call ``send(k)`` for k < n, each when it is due (t0 + k/rate),
    never earlier, whatever the previous call cost; a stall makes later
    calls late rather than thinning the schedule. Returns (k, due,
    start, ack or None when ``send`` raised)."""
    sent = []
    for k in range(n):
        due = t0 + k / rate
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        start = time.perf_counter()
        try:
            send(k)
            sent.append((k, due, start, time.perf_counter()))
        except Exception:  # counted by ``send``; the schedule goes on
            sent.append((k, due, start, None))
    return sent


def delivery_problems(want: set, got: list) -> dict[str, str]:
    """What breaks exactly-once delivery of ``want``: records delivered
    twice, never delivered, or delivered without matching."""
    problems = {}
    dup = len(got) - len(set(got))
    if dup:
        problems["duplicate"] = f"{dup} records delivered twice"
    missing, extra = want - set(got), set(got) - want
    if missing:
        problems["missing"] = (f"{len(missing)} acknowledged records never delivered, "
                               f"e.g. {sorted(missing)[:2]}")
    if extra:
        problems["unexpected"] = (f"{len(extra)} records that do not match, "
                                  f"e.g. {sorted(extra)[:2]}")
    return problems


def destination(http: Http, first_ts: int) -> list[str]:
    """Messages at the pipe destination with ts >= first_ts, all pages."""
    req = {"query": "SELECT FROM {logrange.pipe=%s} RANGE '%d'" % (PIPE, first_ts),
           "limit": 10_000}
    out = []
    while True:
        res = http.post("/api/v1/query", req)
        if not res["events"]:
            return out
        out += [e["message"] for e in res["events"]]
        req = res["nextQueryRequest"]


def check_destination(port: int, raw: dict, fails) -> None:
    """Every acknowledged matching record at the destination exactly once."""
    http = Http(port)
    try:
        got = destination(http, raw["first_ts"])
    finally:
        http.close()
    fails.attempt()
    window = [m for m in got if m.startswith("b")]  # not the set-up records
    for kind, detail in delivery_problems(raw["want"]["pipe"], window).items():
        fails.fail(f"ingest.pipe.destination.{kind}", detail)


def check_and_measure(raw: dict, fails) -> dict:
    """Exactly-once delivery per follower, then latencies from due time."""
    plan, sent = raw["plan"], raw["sent"]
    due = {k: d for k, d, _, _ in sent}
    batch_of = {m: k for k, (_, meta) in enumerate(plan) for (_, _, m) in meta}
    vis: dict[str, list[float]] = {}
    pipe_missed = 0
    for f in raw["followers"]:
        fails.attempt()
        if f.error:
            fails.fail(f"ingest.follow.{f.name_}.error", f.error)
        want = raw["want"][f.name_]
        got = [m for m, _ in f.recv if m in batch_of]
        for kind, detail in delivery_problems(want, got).items():
            if f.name_ == "pipe" and kind == "missing":
                # the pipe's delivery is checked at its destination
                # (check_destination); a record the pipe delivers below
                # the follower's value cursor is never read by it
                pipe_missed = len(want - set(got))
            else:
                fails.fail(f"ingest.follow.{f.name_}.{kind}", detail)
        last_seen: dict[int, float] = {}
        for m, t in f.recv:
            k = batch_of.get(m)
            if k is not None and k in due:
                last_seen[k] = max(last_seen.get(k, 0.0), t)
        vis[f.name_] = [(k, (t - due[k]) * 1e3) for k, t in sorted(last_seen.items())]
    writes = [(a - d) * 1e3 for _, d, _, a in sent if a is not None]
    service = [(a - s) * 1e3 for _, _, s, a in sent if a is not None]
    late = [(s - d) * 1e3 for _, d, s, _ in sent]
    # visibility in due order, so the halves are the window's halves
    tail = [v for _, v in sorted(vis["tail_one"] + vis["tail_group"])]
    pipe = [v for _, v in vis["pipe"]]

    def trend(xs: list[float]) -> float:
        h = len(xs) // 2
        return median(xs[h:]) / median(xs[:h]) if h else float("nan")

    return {
        "write": summarize(writes, (50.0, 99.0)),
        "service": summarize(service),
        "tail": summarize(tail),
        "pipe": summarize(pipe),
        "late_p99_ms": percentile(late, 99) if late else float("nan"),
        "tail_trend": trend(tail),
        "pipe_trend": trend(pipe),
        "pipe_missed": pipe_missed,
        "batches": len(sent),
    }

