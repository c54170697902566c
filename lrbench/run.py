#!/usr/bin/env python3
"""logrange_spark benchmark: served LQL reads, open-loop ingest with tail
and pipe followers, and a batch registry subset.

Run from the repository root:

    python3 lrbench/run.py --workload serve_query --seed 1 --seconds 20 --trace 0

``--workload all`` runs the three workloads in turn. ``--trace 0`` runs
the server as a separate ``python -m logrange_spark.cli serve`` process
and reports the end-to-end metrics; ``--trace 1`` runs it in process,
measures untraced and traced windows, and reports the per-layer metrics
plus the tracing overhead. The last line of standard output is one JSON
object: correct, attempted, failed, metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lrbench import common  # noqa: E402
from lrbench.common import Failures, Task, WorkDir, host_cpus, median, report  # noqa: E402

WORKLOADS = ("serve_query", "ingest_pipe_tail", "batch_analytics")
SERVER_HEAP = "3g"
BATCH_HEAP = "4g"
SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCHMARK.json")


def declared() -> tuple[dict[str, str], dict[str, str]]:
    """The end-to-end and the per-layer metrics, name -> unit, as
    BENCHMARK.json declares them."""
    with open(SPEC) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def log(msg: str) -> None:
    print(msg, flush=True)


class InProcess:
    """Engine + HTTP server inside the benchmark process (traced runs)."""

    def __init__(self, root: str, work: WorkDir, heap: str):
        os.environ.update(work.env(heap))
        from logrange_spark import Engine, build_session
        from logrange_spark.server import Server

        self.spark = build_session(app_name="lrbench", extra_conf={
            "spark.sql.warehouse.dir": work.sub("warehouse")})
        self.spark.sparkContext.setLogLevel("ERROR")
        self.engine = Engine(self.spark, root)
        self.server = Server(self.engine).start()
        self.port = self.server.port

    def peak_rss_mb(self) -> float:
        return common.peak_rss_mb(os.getpid())

    def stop(self) -> None:
        self.server.stop()
        self.engine.close()
        self.spark.stop()


def start_server(root: str, work: WorkDir, trace: bool):
    if trace:
        return InProcess(root, work, SERVER_HEAP)
    srv = common.ServerProcess(root, work, SERVER_HEAP, "server.log")
    try:
        srv.wait_ready()
    except BaseException:
        srv.stop()
        raise
    return srv


class ChunkWatch(threading.Thread):
    """Largest chunk-file count of any partition, sampled twice a second."""

    def __init__(self, logs_path: str):
        super().__init__(daemon=True)
        self.logs_path, self.max = logs_path, 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.5):
            try:
                for d in os.listdir(self.logs_path):
                    p = os.path.join(self.logs_path, d)
                    n = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
                    self.max = max(self.max, n)
            except OSError:
                continue

    def stop(self) -> int:
        self._halt.set()
        self.join(5)
        return self.max


def overhead(untraced: dict, traced: dict) -> dict:
    """traced / untraced - 1 for the gated ``op_ms`` and the workload's
    heavier operation (``heavy_p50_ms``)."""
    return {f"overhead.{k}_frac": (traced[k] / untraced[k] - 1.0) if untraced[k] else 0.0
            for k in ("op_ms", "heavy_p50_ms")}


# ------------------------------------------------------------ serve_query
def run_serve(seed: int, seconds: float, trace: bool, work: WorkDir, fails: Failures):
    from lrbench import serve_query as sq

    root = work.sub("store")
    t0 = time.perf_counter()
    store = Task(sq.Store, seed)
    srv = start_server(root, work, trace)
    try:
        store = store.result()
        built = sq.build_and_warm(srv.port, store, seed, min(4, host_cpus()), sq.WARM_OPS)
        setup_s = built - t0
        log(f"  set-up {setup_s:.2f} s (server, store {sq.PARTS}x{sq.CHUNKS}x{sq.ROWS}), "
            f"then {sq.WARM_OPS} warm-up queries in {time.perf_counter() - built:.1f} s")
        if trace:
            return serve_traced(srv, seed, seconds, fails, store, setup_s)
        done, elapsed = sq.drive(srv.port, seed, seconds, fails)
        sq.check_all(store, done, fails)
        m = sq.metrics(done, elapsed)
        e2e = {"setup_s": setup_s, "op_ms": m["op_ms"], "peak_rss_mb": srv.peak_rss_mb()}
        return e2e, serve_lines(setup_s, m), {}
    finally:
        srv.stop()


def serve_pair(m) -> dict:
    return {"op_ms": m["op_ms"], "heavy_p50_ms": m["per_shape"]["fanout"]["p50"]}


def serve_lines(setup_s, m):
    rtt = m["rtt"]
    log(f"  percentile support: p{rtt['supported']} has >= 10 samples beyond it")
    return ([("setup_s", setup_s, "s", None),
             ("op_ms", m["op_ms"], "ms", rtt["n"]),
             ("query_p50_ms", rtt["p50"], "ms", rtt["n"]),
             ("query_p95_ms", rtt["p95"], "ms", rtt["n"]),
             ("query_per_s", m["ops_per_s"], "1/s", rtt["n"])]
            + [(f"serve.{shape}.p50_ms", s["p50"], "ms", s["n"])
               for shape, s in m["per_shape"].items()])


def serve_traced(srv, seed, seconds, fails, store, setup_s):
    """Four half-length slices, untraced and traced in turn, so warm-up
    drift falls on both sides of the tracing-overhead comparison."""
    from lrbench import layers
    from lrbench import serve_query as sq
    from lrbench.trace import Tracer, install

    tracer = Tracer()
    runs = {False: ([], 0.0), True: ([], 0.0)}
    for i in range(4):
        traced = i % 2 == 1
        if traced:
            install(tracer, srv.spark)
        try:
            done, el = sq.drive(srv.port, seed + i, seconds / 2, fails, id_base=i * 10**5)
        finally:
            tracer.uninstall()
        runs[traced] = (runs[traced][0] + done, runs[traced][1] + el)
    for done, _ in runs.values():
        sq.check_all(store, done, fails)
    um, m = sq.metrics(*runs[False]), sq.metrics(*runs[True])
    rtt, shape_of = {}, {}
    for op, _, rtts, bid in runs[True][0]:
        for page, x in enumerate(rtts):
            rtt[bid * 4 + page] = x
            shape_of[bid * 4 + page] = op["shape"]
    pl = layers.query_layers(tracer.spans, rtt, srv.spark.sparkContext,
                             srv.engine.logs_path)
    for shape, s in m["per_shape"].items():
        pl[f"serve.{shape}.p50_ms"], pl[f"serve.{shape}.p95_ms"] = s["p50"], s["p95"]
    acc = layers.shape_accounting(tracer.spans, rtt, shape_of)
    for shape in sq.SHAPES:
        meds = acc.pop(f"_layers.{shape}", {})
        log(f"  {shape:<7} traced median {m['per_shape'][shape]['p50']:8.1f} ms; layer time "
            "medians: " + ", ".join(f"{k} {v:.1f}" for k, v in sorted(meds.items()))
            + f"; unaccounted {acc[f'serve.{shape}.unaccounted_frac']:.3f}")
    pl.update(acc)
    pl.update(layers.write_layers(tracer.spans, {}))
    pl.update(overhead(serve_pair(um), serve_pair(m)))
    pl["query_p50_ms"], pl["query_p95_ms"] = um["rtt"]["p50"], um["rtt"]["p95"]
    e2e = {"setup_s": setup_s, "op_ms": um["op_ms"], "peak_rss_mb": srv.peak_rss_mb()}
    return e2e, serve_lines(setup_s, um), pl


# ------------------------------------------------------- ingest_pipe_tail
def run_ingest(seed: int, seconds: float, trace: bool, work: WorkDir, fails: Failures):
    from lrbench import ingest_pipe_tail as ip

    root = work.sub("store")
    t0 = time.perf_counter()
    srv = start_server(root, work, trace)
    try:
        log(f"  server ready in {time.perf_counter() - t0:.2f} s")
        gen = ip.Gen(seed)
        threads = min(4, host_cpus())
        srcs = ip.setup(srv.port, gen, threads, os.path.join(root, "logs"), log)
        setup_s = time.perf_counter() - t0
        log(f"  set-up {setup_s:.2f} s (offered rate {ip.RATE} batches/s x {ip.BATCH} records)")
        watch = ChunkWatch(os.path.join(root, "logs"))
        watch.start()
        t1 = time.perf_counter()
        raw = ip.drive(srv.port, gen, seconds, fails)
        max_chunks = watch.stop()
        log(f"  window and drain {time.perf_counter() - t1:.1f} s")
        m = ip.check_and_measure(raw, fails)
        ip.check_destination(srv.port, raw, fails)
        e2e = {"setup_s": setup_s, "op_ms": m["service"]["p50"]}
        lines = ingest_lines(setup_s, m, max_chunks)
        if not trace:
            e2e["peak_rss_mb"] = srv.peak_rss_mb()
            return e2e, lines, {}
        # the traced window starts from the same state: the pre-filled
        # partitions compacted during the first window
        ip.prefill(srv.port, gen, threads, os.path.join(root, "logs"), srcs)
        return ingest_traced(srv, gen, seconds, fails, e2e, lines, m)
    finally:
        srv.stop()


def ingest_pair(m) -> dict:
    # the gated figure is the write's service time (send to
    # acknowledgement), set by the server alone; delivery to the tail
    # followers is the heavier operation
    return {"op_ms": m["service"]["p50"], "heavy_p50_ms": m["tail"]["p50"]}


def ingest_lines(setup_s, m, max_chunks):
    return [("setup_s", setup_s, "s", None),
            ("op_ms", m["service"]["p50"], "ms", m["service"]["n"]),
            ("write_p50_ms", m["write"]["p50"], "ms", m["write"]["n"]),
            ("write_p99_ms", m["write"]["p99"], "ms", m["write"]["n"]),
            ("tail_visible_p50_ms", m["tail"]["p50"], "ms", m["tail"]["n"]),
            ("tail_visible_p95_ms", m["tail"]["p95"], "ms", m["tail"]["n"]),
            ("pipe_visible_p50_ms", m["pipe"]["p50"], "ms", m["pipe"]["n"]),
            ("pipe_visible_p95_ms", m["pipe"]["p95"], "ms", m["pipe"]["n"]),
            ("pipe.follower_missed", m["pipe_missed"], "count", None),
            ("gen.late_p99_ms", m["late_p99_ms"], "ms", m["batches"]),
            ("gen.visible_trend", m["tail_trend"], "ratio", m["tail"]["n"]),
            ("gen.pipe_visible_trend", m["pipe_trend"], "ratio", m["pipe"]["n"]),
            ("compact.max_chunks_per_partition", max_chunks, "count", None)]


def ingest_traced(srv, gen, seconds, fails, e2e, lines, um):
    from lrbench import ingest_pipe_tail as ip
    from lrbench import layers
    from lrbench.trace import Tracer, install

    sc = srv.spark.sparkContext
    tracer = Tracer()
    first_job = layers.last_job_id(sc) + 1
    since = datetime.now(timezone.utc).replace(tzinfo=None)
    watch = ChunkWatch(srv.engine.logs_path)
    watch.start()
    install(tracer, srv.spark)
    try:
        raw = ip.drive(srv.port, gen, seconds, fails)
    finally:
        tracer.uninstall()
    max_chunks = watch.stop()
    m = ip.check_and_measure(raw, fails)
    follow_reqs = {rid: n for f in raw["followers"] for rid, _, n in f.log}
    follow_rtt = {rid: ms for f in raw["followers"] for rid, ms, _ in f.log}
    pl = layers.query_layers(tracer.spans, follow_rtt, sc, srv.engine.logs_path)
    pl.update(layers.write_layers(tracer.spans, raw["write_rtt"]))
    pl.update(layers.follow_layers(tracer.spans, follow_reqs))
    pl.update(layers.compact_layers(tracer.spans))
    pl["compact.max_chunks_per_partition"] = max_chunks
    pl["spark.background_jobs"] = layers.background_jobs(sc, first_job)
    pl.update(layers.pipe_layers(srv.spark, since))
    pl["gen.late_p99_ms"] = m["late_p99_ms"]
    pl["gen.visible_trend"] = m["tail_trend"]
    pl["gen.pipe_visible_trend"] = m["pipe_trend"]
    pl["pipe.follower_missed"] = m["pipe_missed"]
    for k, v in (("write_p50_ms", um["write"]["p50"]), ("write_p99_ms", um["write"]["p99"]),
                 ("tail_visible_p50_ms", um["tail"]["p50"]),
                 ("tail_visible_p95_ms", um["tail"]["p95"]),
                 ("pipe_visible_p50_ms", um["pipe"]["p50"]),
                 ("pipe_visible_p95_ms", um["pipe"]["p95"])):
        pl[k] = v
    ip.check_destination(srv.port, raw, fails)
    pl.update(overhead(ingest_pair(um), ingest_pair(m)))
    e2e["peak_rss_mb"] = srv.peak_rss_mb()
    return e2e, lines, pl


# -------------------------------------------------------- batch_analytics
def run_batch(seed: int, seconds: float, trace: bool, work: WorkDir, fails: Failures):
    from lrbench import batch_analytics as ba

    t0 = time.perf_counter()
    data = work.sub("tables")
    os.environ.update(work.env(BATCH_HEAP))
    tables = Task(ba.generate, data, seed)
    from logrange_spark import build_session

    spark = build_session(app_name="lrbench-batch", extra_conf={
        "spark.sql.warehouse.dir": work.sub("warehouse")})
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tables.result()
        t_warm = time.perf_counter()
        b = ba.Batch(spark, data, ROOT)
        # untimed warm pass: build and collect each row; cc_pipeline, half
        # of a pass, warms on a thread of its own beside the other rows,
        # and each row's DuckDB twin runs on a third thread
        with ThreadPoolExecutor(1) as oracle:
            checks = {}

            def warm(names):
                for name in names:
                    fails.attempt()
                    try:
                        _, df = b.build(name)
                        rows = [tuple(r) for r in df.collect()]
                        checks[name] = oracle.submit(b.check, name, df.columns, rows)
                    except Exception as e:  # a row that raises is a failed row
                        fails.fail(f"batch.oracle.{name}",
                                   f"{type(e).__name__}: {str(e)[:200]}")

            heavy = Task(warm, ["cc_pipeline"])
            warm([n for n in ba.ROWS if n != "cc_pipeline"])
            heavy.result()
            for name, check in checks.items():
                try:
                    err = check.result()
                except Exception as e:
                    err = f"oracle {type(e).__name__}: {str(e)[:200]}"
                if err:
                    fails.fail(f"batch.oracle.{name}", err)
        setup_s = time.perf_counter() - t0
        log(f"  set-up {setup_s:.2f} s: session and tables {t_warm - t0:.1f} s, "
            f"warm pass with oracle checks {time.perf_counter() - t_warm:.1f} s")
        # passes fill the window; one the last pass says would overrun it
        # is not started
        passes, deadline, k, last = [], time.perf_counter() + seconds, 0, 0.0
        while not passes or time.perf_counter() + last <= deadline:
            t_pass, times = time.perf_counter(), {}
            for name in ba.ROWS:
                group = f"lrbench-{k}-{name}" if trace else None
                fails.attempt()
                try:
                    times[name] = b.run_row(name, group)
                except Exception as e:
                    fails.fail(f"batch.run.{name}", repr(e)[:200])
            passes.append(times)
            k += 1
            last = time.perf_counter() - t_pass
        totals = [sum(a + e for a, e in p.values()) for p in passes]
        cc = [sum(p["cc_pipeline"]) for p in passes if "cc_pipeline" in p]
        e2e = {"setup_s": setup_s, "op_ms": median(totals) * 1e3,
               "peak_rss_mb": common.peak_rss_mb(os.getpid())}
        lines = [("setup_s", setup_s, "s", None),
                 ("op_ms", e2e["op_ms"], "ms", len(totals)),
                 ("batch_total_s", median(totals), "s", len(totals)),
                 ("cc_pipeline_s", median(cc) if cc else 0.0, "s", len(cc))]
        pl = batch_layers(spark, passes) if trace else {}
        return e2e, lines, pl
    finally:
        spark.stop()


def batch_layers(spark, passes) -> dict:
    """Per row: build and execute time, jobs and shuffle written, from the
    status store's stages of the row's job group."""
    from lrbench import batch_analytics as ba

    store = spark.sparkContext._jsc.sc().statusStore()
    st = spark.sparkContext.statusTracker()
    pl, tot = {}, {"build_s": 0.0, "exec_s": 0.0, "jobs": 0, "shuffle_write_mb": 0.0,
                   "spill_mb": 0.0}
    for name in ba.ROWS:
        b = median([p[name][0] for p in passes if name in p])
        e = median([p[name][1] for p in passes if name in p])
        jobs, shuffle, spill = 0, 0.0, 0.0
        for k in range(len(passes)):
            for j in st.getJobIdsForGroup(f"lrbench-{k}-{name}"):
                jobs += 1
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    # Scala default arguments, spelled out for py4j
                    attempts = store.stageData(
                        sid, False, getattr(store, "stageData$default$3")(), False,
                        getattr(store, "stageData$default$5")())
                    for i in range(attempts.size()):
                        sd = attempts.apply(i)
                        shuffle += sd.shuffleWriteBytes() / 2**20
                        spill += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        n = max(1, len(passes))
        row = {"build_s": b, "exec_s": e, "jobs": jobs / n, "shuffle_write_mb": shuffle / n}
        for k, v in row.items():
            pl[f"batch.{name}.{k}"] = v
            tot[k] += v
        tot["spill_mb"] += spill / n
    for k, v in tot.items():
        pl[f"batch.{k}"] = v
    return pl


# ----------------------------------------------------------------- main
RUNNERS = {"serve_query": run_serve, "ingest_pipe_tail": run_ingest,
           "batch_analytics": run_batch}


def forget_gateway() -> None:
    """An in-process session's JVM is gone: the next workload launches a
    new one."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        SparkContext._gateway = SparkContext._jvm = None


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            units: dict[str, str]) -> tuple[Failures, dict]:
    """One workload. Returns its failures and the metrics ``units``
    declares (name -> unit); a per-layer metric of a layer the workload
    bypasses reports 0."""
    fails = Failures()
    work = WorkDir(os.path.join(ROOT, ".lrbench_work"))
    log(f"== {workload} seed={seed} seconds={seconds:g} trace={int(trace)}")
    try:
        e2e, lines, pl = RUNNERS[workload](seed, seconds, trace, work, fails)
    finally:
        # the server's or the in-process Spark JVM, and the Python workers
        # that left its process group, end before their files are removed
        common.stop_descendants()
        forget_gateway()
        work.close()
    failed_frac = fails.failed / max(1, fails.attempted)
    report(lines + [("peak_rss_mb", e2e["peak_rss_mb"], "MB", None),
                    ("failed_frac", failed_frac, "frac", fails.attempted)])
    for check, n in sorted(fails.by_check.items()):
        log(f"  FAILED {check}: {n}x, e.g. {fails.examples[check]}")
    if trace:
        unknown = sorted(set(pl) - set(units))
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
        report([(k, v, units[k], None) for k, v in pl.items()])
        return fails, {k: (float(pl.get(k, 0.0)), u) for k, u in units.items()}
    return fails, {k: (float(e2e[k]), u) for k, u in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import logrange_spark  # noqa: F401  the system under test, from the checkout
    except ImportError as e:
        print(f"cannot import logrange_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    def on_term(signum, frame):
        raise SystemExit(128 + signum)  # unwinds through every cleanup

    signal.signal(signal.SIGTERM, on_term)
    common.become_subreaper()
    units = declared()[1 if args.trace else 0]
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    total, metrics = Failures(), {}
    for name in names:
        fails, m = run_one(name, args.seed, args.seconds, bool(args.trace), units)
        total.attempted += fails.attempted
        for check, n in fails.by_check.items():
            total.by_check[check] = n
        metrics.update({(f"{name}.{k}" if len(names) > 1 else k): v for k, v in m.items()})
    print(common.result_line(total, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
