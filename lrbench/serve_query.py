"""serve_query: read-only LQL over HTTP, closed loop of 2 clients.

Set-up builds a 20-partition x 20-chunk x 1,000-row store through the
write endpoint (20 chunks per partition stays under the engine's
64-file auto-compaction threshold, so no background compaction runs),
then each client issues a seeded mix of five query shapes. Every
response is compared afterwards with rows computed from the generated
data; a mismatch counts as a failed operation.
"""

from __future__ import annotations

import random
import threading
import time

from .common import Http, summarize

PARTS, CHUNKS, ROWS = 20, 20, 1000
BASE_NS = 1_700_000_000 * 10**9
STEP_NS = 1_000_000  # global record i has ts BASE_NS + i*STEP_NS (unique)
CODES = ("200",) * 14 + ("404", "404", "500", "503")
WORDS = ("users", "orders", "cart", "search", "login", "items", "stats")
SHAPES = ("point", "tail", "range", "fanout", "page")
PAGE_LIMIT = 200
CLIENTS = 2
WARM_OPS = 60  # queries after the store is built, before timing


def part_tags(p: int) -> dict:
    return {"svc": f"svc{p:02d}", "env": "bench"}


class Store:
    """The generated records, in global ts order; record i lives in
    partition i % PARTS, chunk (i // PARTS) // ROWS."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        n = PARTS * CHUNKS * ROWS
        self.ts = [BASE_NS + i * STEP_NS for i in range(n)]
        self.code = [rng.choice(CODES) for _ in range(n)]
        self.user = [f"u{rng.randrange(500)}" for _ in range(n)]
        self.msg = [
            f"GET /api/{rng.choice(WORDS)} code={self.code[i]} id={i} k{rng.randrange(100)}."
            for i in range(n)
        ]

    def fields(self, i: int) -> str:
        return f"code={self.code[i]},user={self.user[i]}"

    def chunk(self, p: int, c: int) -> list[list]:
        first = c * ROWS * PARTS + p
        return [
            [self.ts[i], self.msg[i], {"code": self.code[i], "user": self.user[i]}]
            for i in range(first, first + ROWS * PARTS, PARTS)
        ]

    def rows(self, parts, pred=lambda i: True) -> list[int]:
        ps = set(parts)
        return [i for i in range(len(self.ts)) if i % PARTS in ps and pred(i)]


def make_query(rng: random.Random, shape: str) -> dict:
    """One operation: its LQL text and how to compute the expected rows."""
    p = rng.randrange(PARTS)
    src = "{svc=svc%02d,env=bench}" % p
    if shape == "point":
        code, k = rng.choice(("404", "500", "503")), rng.randrange(100)
        return {"shape": shape, "query":
                f"SELECT FROM {src} WHERE fields:code = '{code}' AND msg CONTAINS ' k{k}.' LIMIT 100",
                "parts": [p], "limit": 100,
                "pred": ("code_k", code, f" k{k}.")}
    if shape == "tail":
        return {"shape": shape, "query": f"SELECT FROM {src} POSITION tail OFFSET -100",
                "parts": [p], "tail": 100, "pred": None}
    if shape == "range":
        n_part = CHUNKS * ROWS
        start = rng.randrange(n_part - 300)
        lo = BASE_NS + (start * PARTS) * STEP_NS
        hi = lo + 200 * PARTS * STEP_NS
        return {"shape": shape, "query": f"SELECT FROM {src} RANGE ['{lo}':'{hi}']",
                "parts": [p], "limit": 10_000, "pred": ("range", lo, hi)}
    if shape == "fanout":
        k = rng.randrange(100)
        return {"shape": shape, "query":
                f"SELECT FROM svc LIKE 'svc*' WHERE msg CONTAINS ' k{k}.' LIMIT 1000",
                "parts": list(range(PARTS)), "limit": 1000,
                "pred": ("contains", f" k{k}.")}
    if shape == "page":
        word = rng.choice(WORDS)
        return {"shape": shape, "query":
                f"SELECT FROM {src} WHERE msg CONTAINS '/{word} ' LIMIT {PAGE_LIMIT}",
                "parts": [p], "limit": 3 * PAGE_LIMIT, "pages": 3,
                "pred": ("contains", f"/{word} ")}
    raise ValueError(shape)


def expected(store: Store, op: dict) -> list[tuple]:
    pred = op["pred"]
    if pred is None:
        f = lambda i: True  # noqa: E731
    elif pred[0] == "code_k":
        f = lambda i: store.code[i] == pred[1] and pred[2] in store.msg[i]  # noqa: E731
    elif pred[0] == "range":
        f = lambda i: pred[1] <= store.ts[i] <= pred[2]  # noqa: E731
    else:
        f = lambda i: pred[1] in store.msg[i]  # noqa: E731
    ids = store.rows(op["parts"], f)
    ids = ids[-op["tail"]:] if "tail" in op else ids[: op["limit"]]
    return [(store.ts[i], store.msg[i], store.fields(i)) for i in ids]


def got_rows(events: list[dict]) -> list[tuple]:
    return [(e["timestamp"], e["message"], e["fields"]) for e in events]


def check_op(store: Store, op: dict, events: list[dict]) -> str | None:
    """None when the op's rows equal the expected rows, in order."""
    want, got = expected(store, op), got_rows(events)
    if got == want:
        return None
    return (f"{op['shape']} {op['query']!r}: {len(got)} rows vs {len(want)} expected"
            f"{'' if len(got) != len(want) else ' (values or order differ)'}")


def run_op(http: Http, op: dict, bench_id: int) -> tuple[list[dict], list[float]]:
    """Issue one op; returns its events and per-round-trip times (ms)."""
    req = {"query": op["query"]}
    events, rtts = [], []
    for page in range(op.get("pages", 1)):
        # one id per round trip, so the server-side spans of each page
        # can be told apart; the server ignores the extra key
        req["_bench_id"] = bench_id * 4 + page if bench_id >= 0 else -1
        t0 = time.perf_counter()
        res = http.post("/api/v1/query", req)
        rtts.append((time.perf_counter() - t0) * 1e3)
        events += res["events"]
        req = dict(res["nextQueryRequest"])
    return events, rtts


def build_store(port: int, store: Store, threads: int) -> None:
    jobs = [(p, c) for c in range(CHUNKS) for p in range(PARTS)]
    errors = []

    def worker(k: int) -> None:
        http = Http(port)
        try:
            for p, c in jobs[k::threads]:
                http.post("/api/v1/write", {"tags": part_tags(p), "events": store.chunk(p, c)})
        except Exception as e:  # surfaced below: set-up must not half-succeed
            errors.append(repr(e))
        finally:
            http.close()

    ts = [threading.Thread(target=worker, args=(k,)) for k in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errors:
        raise RuntimeError(f"store build failed: {errors[0]}")


def drive(port: int, seed: int, seconds: float, fails, stop: threading.Event | None = None,
          id_base: int = 0, max_ops: int = 10**5):
    """CLIENTS closed-loop clients for ``seconds`` (or until ``stop``, or
    ``max_ops`` operations).
    Each client takes the five shapes in a fresh seeded order every
    cycle, so every window holds the same shape mix. Returns
    ([(op, events, rtts, bench_id)] in completion order, elapsed s)."""
    done: list = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds
    counter = iter(range(id_base, id_base + max_ops))
    stop = stop or threading.Event()

    def client(c: int) -> None:
        rng = random.Random(seed * 1000 + c)
        http = Http(port)
        order: list = []
        try:
            while time.perf_counter() < deadline and not stop.is_set():
                if not order:
                    order = rng.sample(SHAPES, len(SHAPES))
                op = make_query(rng, order.pop())
                with lock:
                    bid = next(counter, None)
                if bid is None:
                    break
                fails.attempt()
                try:
                    events, rtts = run_op(http, op, bid)
                except Exception as e:
                    fails.fail("serve_query.http", f"{op['query']}: {e!r}")
                    http.close()
                    http = Http(port)
                    continue
                with lock:
                    done.append((op, events, rtts, bid))
        finally:
            http.close()

    ts = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return done, time.perf_counter() - t0


def build_and_warm(port: int, store: Store, seed: int, threads: int, warm_ops: int) -> float:
    """Build the store while the query mix already runs (unchecked), then
    run ``warm_ops`` more queries: the JVM compiles the query path only
    after many executions, and a fixed amount of work, not of time, puts
    every run's measured window at the same point of that curve. Returns
    the ``perf_counter`` time at which the store was built."""
    from .common import Failures

    stop = threading.Event()
    warm = threading.Thread(target=drive, args=(port, seed ^ 0x5EED, 600.0, Failures(), stop))
    warm.start()
    try:
        build_store(port, store, threads)
    finally:
        stop.set()
        warm.join()
    built = time.perf_counter()
    drive(port, seed ^ 0xC0DE, 600.0, Failures(), max_ops=warm_ops)
    return built


def check_all(store: Store, done, fails) -> None:
    for op, events, _, _ in done:
        err = check_op(store, op, events)
        if err:
            fails.fail(f"serve_query.rows.{op['shape']}", err)


def metrics(done, elapsed: float) -> dict:
    """Round-trip percentiles, overall and per shape, round trips/s, and
    ``op_ms``: the mean over the five shapes of each shape's median round
    trip, so the figure does not depend on how many of each shape a
    window happens to hold."""
    rtts = [x for _, _, r, _ in done for x in r]
    per_shape = {}
    for shape in SHAPES:
        xs = [x for op, _, r, _ in done if op["shape"] == shape for x in r]
        per_shape[shape] = summarize(xs) if xs else {"n": 0, "p50": 0.0, "p95": 0.0}
    return {"rtt": summarize(rtts), "per_shape": per_shape,
            "ops_per_s": len(rtts) / elapsed,
            "op_ms": sum(s["p50"] for s in per_shape.values()) / len(SHAPES)}
