"""Per-layer metrics from the spans of a traced window."""

from __future__ import annotations

import glob
import os
from collections import defaultdict
from datetime import datetime

from .common import median
from .trace import LAYER_OF, spark_counts

SHAPES = ("point", "tail", "range", "fanout", "page")


def _by_rid(spans, rids) -> dict:
    out = defaultdict(list)
    for sp in spans:
        if sp.rid in rids:
            out[sp.rid].append(sp)
    return out


def _sum(spans, name, attr="dur_ms") -> float:
    return sum(getattr(s, attr) for s in spans if s.name == name)


def query_layers(spans, rtt: dict, sc, logs_path: str) -> dict:
    """Read-path layer metrics over the requests in ``rtt`` (rid -> ms)."""
    by = _by_rid(spans, set(rtt))
    rids = [r for r in rtt if by.get(r)]
    m = {}
    m["lql.parse_ms"] = median([_sum(by[r], "lql.parse") for r in rids])
    m["engine.resolve_ms"] = median([_sum(by[r], "engine.resolve") for r in rids])
    resolves = [s for r in rids for s in by[r] if s.name == "engine.resolve"]
    misses = {id(s.parent) for r in rids for s in by[r]
              if s.name == "spark.collect" and s.parent is not None
              and s.parent.name == "engine.resolve"}
    m["engine.resolve_cache_hit_frac"] = (
        sum(id(s) not in misses for s in resolves) / len(resolves) if resolves else 0.0)
    m["compiler.compile_select_ms"] = median([_sum(by[r], "compiler.compile_select") for r in rids])
    m["engine.select_ms"] = median([_sum(by[r], "engine.select") for r in rids])
    m["spark.collect_ms"] = median([_sum(by[r], "spark.collect") for r in rids])
    counts = spark_counts(sc, rids)
    m["spark.jobs_per_query"] = sum(j for j, _ in counts.values()) / max(1, len(rids))
    m["spark.tasks_per_query"] = sum(t for _, t in counts.values()) / max(1, len(rids))
    files, fracs = [], []
    for r in rids:
        f = sum(s.attrs.get("files") or 0 for s in by[r] if s.name == "spark.collect")
        srcs = {x for s in by[r] if s.name == "engine.resolve" for x in s.attrs.get("srcs", ())}
        files.append(f)
        if srcs:
            fracs.append(f / max(1, _chunk_files(logs_path, srcs)))
    m["engine.files_read"] = median(files)
    m["engine.files_read_frac"] = median(fracs) if fracs else 0.0
    transport = [rtt[r] - _sum(by[r], "server.query_once") - _sum(by[r], "server.encode")
                 for r in rids]
    m["server.query_transport_ms"] = median(transport)
    m["server.encode_ms"] = median([_sum(by[r], "server.encode") for r in rids])
    m["server.query_self_ms"] = median([_sum(by[r], "server.query_once", "self_ms")
                                        for r in rids])
    return m


def _chunk_files(logs_path: str, srcs) -> int:
    return sum(len(glob.glob(os.path.join(logs_path, f"src={s}", "*.parquet"))) for s in srcs)


def self_times(spans, rtt_ms) -> dict:
    """Layer -> time (ms) for one request. Each named span adds its self
    time to its layer, and ``server`` also holds the transport: the round
    trip outside ``query_once`` and the response encoding. ``query_once``'s
    own self time, the work no named span covers, is kept apart as
    ``unattributed``, so a span that is missing shows as a shortfall."""
    out = defaultdict(float)
    inside = 0.0
    for s in spans:
        if s.name == "server.query_once":
            out["unattributed"] += s.self_ms
        else:
            layer = LAYER_OF.get(s.name)
            if layer is not None:
                out[layer] += s.self_ms
        if s.name in ("server.query_once", "server.encode"):
            inside += s.dur_ms
    out["server"] += rtt_ms - inside
    return dict(out)


def shape_accounting(spans, rtt: dict, shape_of: dict) -> dict:
    """Per shape: the medians of each layer's time and how far their sum,
    ``unattributed`` left out, falls from the median round trip
    (``unaccounted_frac`` = |1 - sum / median|)."""
    by = _by_rid(spans, set(rtt))
    m = {}
    for shape in SHAPES:
        rids = [r for r in rtt if shape_of.get(r) == shape and by.get(r)]
        if not rids:
            m[f"serve.{shape}.unaccounted_frac"] = 0.0
            continue
        per = [self_times(by[r], rtt[r]) for r in rids]
        layers = sorted({k for p in per for k in p})
        meds = {k: median([p.get(k, 0.0) for p in per]) for k in layers}
        named = sum(v for k, v in meds.items() if k != "unattributed")
        m[f"serve.{shape}.unaccounted_frac"] = abs(1.0 - named / median([rtt[r] for r in rids]))
        m[f"_layers.{shape}"] = meds
    return m


def write_layers(spans, wrtt: dict) -> dict:
    norm = [s for s in spans if s.name == "ingest.normalize"]
    writes = [s for s in spans if s.name == "engine.write"]
    by = _by_rid(spans, set(wrtt))
    busy = sum(s.dur_ms for s in norm) / 1e3
    return {
        "ingest.normalize_ms": median([s.dur_ms for s in norm]) if norm else 0.0,
        "engine.write_ms": median([s.dur_ms for s in writes]) if writes else 0.0,
        "ingest.records_per_s": sum(s.attrs.get("records", 0) for s in norm) / busy if busy else 0.0,
        "server.write_transport_ms": median(
            [wrtt[r] - _sum(by[r], "server.write_batch") - _sum(by[r], "server.encode")
             for r in wrtt if by.get(r)]) if wrtt else 0.0,
    }


def follow_layers(spans, follow_reqs: dict) -> dict:
    """follow_reqs: rid -> number of events the response carried."""
    by = _by_rid(spans, set(follow_reqs))
    wakeups = productive = 0
    scans = []
    for r, n_events in follow_reqs.items():
        sp = by.get(r, [])
        w = sum(1 for s in sp if s.name == "engine.wait_for_write" and s.attrs.get("woke"))
        wakeups += w
        productive += 1 if (w and n_events) else 0
        n_scan = sum(1 for s in sp if s.name == "engine.select")
        if n_scan:
            scans.append((_sum(sp, "engine.select") + _sum(sp, "spark.collect")) / n_scan)
    return {
        "follow.responses": len(follow_reqs),
        "follow.empty_frac": (wakeups - productive) / wakeups if wakeups else 0.0,
        "follow.scan_ms": median(scans) if scans else 0.0,
    }


def compact_layers(spans) -> dict:
    runs = files = 0
    for s in spans:
        if s.name == "compact" and s.attrs.get("report"):
            for rep in s.attrs["report"].values():
                runs += 1
                files += rep["files_before"] - rep["files_after"] + 1
    return {"compact.runs": runs, "compact.files_rewritten": files}


def pipe_layers(spark, since: datetime) -> dict:
    """From each active streaming query's ``recentProgress``."""
    trig, add, rate, batches, run_ids = [], [], [], 0, set()
    for q in spark.streams.active:
        for p in q.recentProgress:
            ts = datetime.strptime(p.timestamp[:19], "%Y-%m-%dT%H:%M:%S")
            if ts < since:
                continue
            run_ids.add(str(p.runId))
            if p.numInputRows:
                batches += 1
                trig.append(p.durationMs.get("triggerExecution", 0))
                add.append(p.durationMs.get("addBatch", 0))
                rate.append(p.processedRowsPerSecond or 0.0)
    return {
        "pipe.batches": batches,
        "pipe.trigger_ms_p50": median(trig) if trig else 0.0,
        "pipe.add_batch_ms_p50": median(add) if add else 0.0,
        "pipe.input_rows_per_s": median(rate) if rate else 0.0,
        "pipe.restarts": max(0, len(run_ids) - 1),
    }


def background_jobs(sc, first_job: int, our_prefix: str = "lrbench-") -> int:
    """Jobs since ``first_job`` outside the benchmark's job groups."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    n = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() < first_job:
            continue
        g = j.jobGroup()
        if not (g.isDefined() and str(g.get()).startswith(our_prefix)):
            n += 1
    return n


def last_job_id(sc) -> int:
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

