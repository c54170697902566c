"""Sharded ingest tier: N writer processes, one store each, one query view.

The single-process writer tops out near ~600k rec/s because row
normalization and Arrow/parquet encoding share one CPython GIL
(SCALE.md "Sustained ingest", tools/ingest_profile.py) — the same
reason the reference scales ingest with multiple ingestor NODES rather
than threads (logrange is a multi-node system: api/ingestor.go writes
route to partition-owning hosts). The Spark-native analogue is a
sharded STORE:

- **Write side**: partitions (srcs) hash-route to one of N shard
  stores (``shard_of``); each shard is owned by ONE engine process
  (the store flock enforces it), so every per-shard invariant —
  atomic seq reservation, visible-in-seq-order commits, catalog
  consistency, auto-compaction — holds exactly as in the single-store
  engine, with zero cross-process coordination. Routing is pure
  hashing: no coordinator, no shared state, linear scaling until the
  disk saturates.
- **Read side**: a shard store is just a parquet logs tree, so the
  query tier reads the UNION of shard trees (``read_shard_logs``) —
  one DataFrame with the standard log schema, every pushdown
  (src pruning, ts min/max, column pruning) intact per shard. A
  tag-routed query touches exactly one shard's files; a fan-out query
  scans all shards in parallel tasks.

The cross-shard ordering contract is the same as the single store's
cross-SRC contract: seq orders within a src (and srcs never span
shards); cross-src/cross-shard reads order by (ts, src, seq) exactly
as compiler/select.py already does. Measured end to end by
tools/ingest_shard_scale.py (SCALE.md round-13 ingest section).
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import TYPE_CHECKING

from .model.schema import src_for_tag_line
from .model.tags import parse_tags, tag_line

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

    from .engine import Engine


def shard_of(src: str, n_shards: int) -> int:
    """Stable shard index for a partition id (md5 of the src string —
    NOT Python's salted hash(); must agree across processes/restarts)."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    return int.from_bytes(hashlib.md5(src.encode()).digest()[:8], "big") % n_shards


def shard_for_tags(tags: str | dict, n_shards: int) -> int:
    """Pure-hash shard index for a write's tag set (routes exactly like
    the engine derives src from tags, so router and engine always
    agree). This is the FRESH-store rule; on a store with history use
    ``resolve_shard`` / ``ShardRouter`` so existing partitions keep
    their shard across a shard-count change."""
    tmap = (
        parse_tags(tags)
        if isinstance(tags, str)
        else {str(k): str(v) for k, v in tags.items()}
    )
    return shard_of(src_for_tag_line(tag_line(tmap)), n_shards)


def shard_root(root: str, i: int) -> str:
    return os.path.join(root, f"shard-{i:03d}")


def resolve_shard(root: str, src: str, n_shards: int) -> int:
    """Growth-stable shard index for a partition id: a src whose
    partition directory ALREADY EXISTS on some shard stays there — so
    growing the shard count never moves (or re-ingests) old data — and
    only unseen srcs route by hash over the CURRENT count.

    Plain ``shard_of`` is ``md5 % N``: growing 8→16 shards remaps
    ~15/16 of srcs, which at the 100 TB design point means re-ingesting
    the store. The pin is derived from the filesystem (the partition
    dir the writer creates on first write), so it needs no coordination
    service and is crash-safe: every process that can see the store
    derives the same answer. Cost is one isdir() per existing shard on
    a MISS only — callers cache positive answers (``ShardRouter``
    does). Two routers racing on a brand-new src both fall through to
    the same hash, so they agree without locking. Distribution: old
    srcs keep their layout, new srcs spread over the grown count;
    rebalancing (moving whole src dirs and their catalog entries) is a
    separate offline job by design.
    """
    for i in range(n_shards):
        if os.path.isdir(
            os.path.join(shard_root(root, i), "logs", f"src={src}")
        ):
            return i
    return shard_of(src, n_shards)


def shard_roots(root: str) -> list[str]:
    """Existing shard store roots under ``root``, index order."""
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if d.startswith("shard-") and os.path.isdir(os.path.join(root, d))
    ]


class ShardRouter:
    """Write-side router over per-shard Engines.

    In production each shard engine lives in its OWN process (the GIL
    is the point); this class is the in-process form used by tests and
    by single-process callers that only need the routing semantics.
    ``engines[i]`` must own ``shard_root(root, i)``.

    Routing is GROWTH-STABLE (round 14): a src already present in some
    shard's catalog keeps its shard — re-opening the store with MORE
    engines never moves old partitions — and only unseen srcs hash over
    the current count. The pin map seeds from the live engines'
    catalogs and caches first-write decisions.
    """

    def __init__(self, engines: list["Engine"]):
        if not engines:
            raise ValueError("need at least one engine")
        self.engines = engines
        self._pins: dict[str, int] = {}
        for i, e in enumerate(engines):
            for src in e._catalog:
                if src in self._pins:
                    # double-listed src: the signature of a rebalance
                    # move that crashed between the target's catalog
                    # registration and the source's drop. The rename
                    # commit point means the DATA lives in exactly one
                    # shard — pin to the directory holder, so a routed
                    # write lands beside the data instead of
                    # resurrecting the departed tree on the source
                    # (r16 review; a rebalance rerun clears the
                    # residual double listing)
                    j = self._pins[src]
                    holder = next(
                        (
                            k
                            for k in (j, i)
                            if os.path.isdir(os.path.join(
                                engines[k].logs_path, f"src={src}"
                            ))
                        ),
                        i,
                    )
                    self._pins[src] = holder
                    continue
                self._pins[src] = i

    def _src_of(self, tags: str | dict) -> str:
        tmap = (
            parse_tags(tags)
            if isinstance(tags, str)
            else {str(k): str(v) for k, v in tags.items()}
        )
        return src_for_tag_line(tag_line(tmap))

    def _shard_of_src(self, src: str) -> int:
        i = self._pins.get(src)
        if i is None:
            i = shard_of(src, len(self.engines))
            self._pins[src] = i
        return i

    def shard_for(self, tags: str | dict) -> int:
        return self._shard_of_src(self._src_of(tags))

    def write(self, tags: str | dict, events: list,
              fields: dict | None = None) -> dict:
        # one tag-line canonicalization per batch: write needs BOTH the
        # src (crash-window check below) and its shard, so derive the
        # shard from the src instead of re-parsing via shard_for
        src = self._src_of(tags)
        i = self._shard_of_src(src)
        # fail-loud on the rename→register rebalance crash window: the
        # src is cataloged here but its directory already MOVED to
        # another shard that hasn't registered it yet (single-listed,
        # so the pin-to-directory-holder rule above can't see it).
        # Writing here would recreate the source tree; the rebalance
        # rerun then skips the rename (the destination exists) and the
        # new chunk's file would be stranded — refusing the write keeps
        # the store admin-recoverable (rerun rebalance, then retry).
        # One isdir stat per batch; the cross-shard scan only runs in
        # the anomalous cataloged-but-dirless case.
        e = self.engines[i]
        if src in e._catalog and not os.path.isdir(
            os.path.join(e.logs_path, f"src={src}")
        ):
            holder = next(
                (
                    j
                    for j, o in enumerate(self.engines)
                    if j != i
                    and os.path.isdir(
                        os.path.join(o.logs_path, f"src={src}")
                    )
                ),
                None,
            )
            if holder is not None:
                raise RuntimeError(
                    f"src {src} is cataloged on shard {i} but its data "
                    f"directory sits on shard {holder} — an interrupted "
                    "rebalance move; run rebalance_shards to completion, "
                    "then retry the write"
                )
        out = e.write(tags, events, fields)
        out["shard"] = i
        return out

    def truncate(self, lql: str, now_ns: int | None = None) -> dict:
        """Retention across the sharded store. BEFORE/MINSIZE/MAXSIZE
        are per-partition rules, so they fan out to every shard's
        writer engine unchanged (each owns its partitions; per-shard
        runs compose without coordination).

        MAXDBSIZE runs as ONE GLOBAL oldest-partition-first pass over
        all shards — exactly the single-store order
        (partition.go:516-581). The router already holds every shard's
        engine, so the "coordination" is one chunk-catalog read per
        shard (the same read a per-shard pass would do); no budget
        split is needed. This matters because growth-stable routing
        (``resolve_shard``) makes shard-size skew the steady state
        after growth — an even total/n_shards split (the pre-r15
        behavior) handed the near-empty new shards unused budget and
        silently over-deleted history on the loaded old shards."""
        from .lql import ast as _ast
        from .lql.parser import parse_lql

        stmt = parse_lql(lql, now_ns)
        if not isinstance(stmt, _ast.Truncate):
            raise ValueError("truncate() accepts TRUNCATE statements only")
        base = _ast.Truncate(
            dry_run=stmt.dry_run, source=stmt.source,
            min_size=stmt.min_size, max_size=stmt.max_size,
            before_ns=stmt.before_ns, max_db_size=None,
        )
        report = {
            "partitions": [], "deleted_files": 0, "deleted_bytes": 0,
            "dry_run": stmt.dry_run,
        }
        # phase 1 planning per shard (post-phase-1 sizes feed phase 2,
        # matching Engine.truncate's in-process ordering)
        states = []
        for i, e in enumerate(self.engines):
            rep, plans, sizes, oldest, nfiles, survivors = (
                e._truncate_plan(base)
            )
            for p in rep["partitions"]:
                report["partitions"].append({**p, "shard": i})
            report["deleted_files"] += rep["deleted_files"]
            report["deleted_bytes"] += rep["deleted_bytes"]
            states.append((e, plans, sizes, oldest, nfiles, survivors))
        if stmt.max_db_size is not None:
            total = sum(sum(s[2].values()) for s in states)
            order = sorted(
                ((oldest.get(src, 0), src, i)
                 for i, (_, _, sizes, oldest, _, _) in enumerate(states)
                 for src in sizes),
            )
            for _, src, i in order:
                if total <= stmt.max_db_size:
                    break
                _, plans, sizes, _, nfiles, survivors = states[i]
                # explicit plan-time file list, not a wildcard: the
                # plan→execute window is wide here (phase 1 plans EVERY
                # shard before any executes), so a write landing on a
                # planned src in between must survive — it was never
                # counted against the MAXDBSIZE budget (r15 review)
                plans[src] = plans.get(src, []) + survivors[src]
                total -= sizes[src]
                report["deleted_bytes"] += sizes[src]
                report["deleted_files"] += nfiles[src]
                sizes[src] = 0
        if not stmt.dry_run:
            for e, plans, *_ in states:
                if plans:
                    e._truncate_execute(plans)
        return report


def rebalance_shards(engines: list["Engine"], dry_run: bool = False) -> dict:
    """OFFLINE rebalance: move every src to its pure-hash home under the
    CURRENT shard count.

    Growth-stable routing (``resolve_shard``) pins existing srcs to
    their original shards forever, so a grown store stays permanently
    imbalanced — all old data on the original shards, new shards
    near-empty (the deliberate deferral at the routing layer). This
    job completes the design: run it with exclusive ownership of every
    shard store (the passed engines must be the only writers, and no
    live ShardReader/ShardRouter should be serving during the drill —
    rebuild them afterwards, their catalog snapshots and pin maps go
    stale) and each mis-homed src's whole directory moves to
    ``shard_of(src, n)``. Afterwards the store is laid out exactly as
    a fresh n-shard store would be, so pure hashing, ``resolve_shard``
    and the pin map all agree again.

    Per move: ``os.rename`` of the src directory into the target store
    (shard roots share one parent, same filesystem) is the COMMIT
    POINT — data lives in exactly one shard tree at every instant, so
    a union read never double-counts. Metadata then transfers target-
    first, source-last: the target registers the tag-line catalog
    entry, the chunk stats (one chunk-log append — the same write-time
    bookkeeping a native write does) and the seq high-water mark, each
    persisted atomically; only then does the source drop its entries.
    A crash anywhere leaves a state a RERUN completes: the src is
    still listed in the source catalog (drop is last), the planner
    re-plans the same move, and every step is idempotent (rename
    skipped when the target directory already exists, catalog/stat
    registration overwrites, seq high-water merges by max).

    Reference: the reference has no rebalancer (single-node); this is
    the shard tier's OPTIMIZE-analogue admin job, sized in SCALE.md
    (round 15 drill)."""
    import time as _time

    n = len(engines)
    if n == 0:
        raise ValueError("need at least one engine")
    # the list ORDER is the routing function: engines[i] must own
    # shard_root(root, i), or every "home" computed below is wrong and
    # the job would shuffle data to the wrong shards
    for i, e in enumerate(engines):
        base = os.path.basename(os.path.normpath(e.root))
        if base != f"shard-{i:03d}":
            raise ValueError(
                f"engines[{i}] owns {base!r}, expected 'shard-{i:03d}' — "
                "pass the engines in shard-index order"
            )
    t0 = _time.time()
    plan: list[tuple[str, int, int, str]] = []
    for i, e in enumerate(engines):
        for src, line in sorted(e._catalog.items()):
            home = shard_of(src, n)
            if home != i:
                plan.append((src, i, home, line))
    report: dict = {"n_shards": n, "moves": [], "bytes_moved": 0,
                    "files_moved": 0, "dry_run": dry_run}
    for src, i, home, line in plan:
        a, b = engines[i], engines[home]
        a._check_writable()
        b._check_writable()
        with a._write_lock:
            stats = {k: dict(v) for k, v in a._chunk_stats.get(src, {}).items()}
            seq_hw = a.seq_state._hw.get(src)
        nbytes = sum(st["size"] for st in stats.values())
        report["moves"].append({"src": src, "from": i, "to": home,
                                "files": len(stats), "bytes": nbytes})
        report["bytes_moved"] += nbytes
        report["files_moved"] += len(stats)
        if dry_run:
            continue
        src_dir = os.path.join(a.logs_path, f"src={src}")
        dst_dir = os.path.join(b.logs_path, f"src={src}")
        # lock order per engine is the standard maint -> src -> write;
        # the two engines' locks never interleave with another mover
        # (moves run sequentially) so there is no cross-engine cycle
        with a._maint_lock(src), a._src_lock(src), b._src_lock(src):
            if os.path.isdir(src_dir) and not os.path.isdir(dst_dir):
                os.makedirs(b.logs_path, exist_ok=True)
                os.rename(src_dir, dst_dir)  # commit point
            with b._write_lock:
                b._catalog[src] = line
                b._record_chunks(
                    src, [{"chunk": k, **v} for k, v in sorted(stats.items())]
                )
                if seq_hw is not None:
                    b.seq_state._hw[src] = max(
                        seq_hw, b.seq_state._hw.get(src, 0)
                    )
                    b.seq_state.save()
                b._catalog_epoch += 1
                b._resolve_cache.clear()
                with open(b._catalog_path + ".tmp", "w") as f:
                    json.dump(b._catalog, f)
                os.replace(b._catalog_path + ".tmp", b._catalog_path)
            with a._write_lock:
                a._drop_chunks(src, None)
                a._catalog.pop(src, None)
                if a.seq_state._hw.pop(src, None) is not None:
                    a.seq_state.save()
                a._catalog_epoch += 1
                a._resolve_cache.clear()
                with open(a._catalog_path + ".tmp", "w") as f:
                    json.dump(a._catalog, f)
                os.replace(a._catalog_path + ".tmp", a._catalog_path)
    report["wall_sec"] = round(_time.time() - t0, 3)
    return report


class ShardReader:
    """The query tier over a sharded store: full LQL across all shards.

    Opens every shard READ-ONLY (`Engine(read_only=True)` — no
    ownership flock, mutations refused), so it runs concurrently with
    the live writer processes. Source resolution and chunk-catalog file
    pruning happen PER SHARD (each shard's engine prunes with its own
    chunk stats — a narrow query still opens only the files it can
    touch, in only the shards that hold matching partitions), and ONE
    `compile_select` runs over the pruned union, so the global
    (ts, src, seq) ordering, POSITION/OFFSET/LIMIT and cursor
    semantics are exactly the single-store engine's — a src never
    spans shards, so the union is a disjoint re-partitioning of the
    same record stream.

    Snapshot semantics: the reader sees each shard's catalog and chunk
    state as of `refresh()` (or construction). Writers publish state
    atomically (os.replace) or append-tolerantly (chunks.jsonl), so a
    concurrent writer can never corrupt the snapshot — only postdate
    it. `ignoreMissingFiles` covers chunks compacted away between
    planning and execution, the same contract as the single store.
    """

    #: state files whose (mtime, size) change whenever a writer commits
    _STATE_FILES = ("chunks.jsonl", "catalog.json", "seq.json")

    def __init__(self, spark: "SparkSession", root: str,
                 poll_s: float = 0.2):
        import threading

        from .engine import Engine

        self.spark = spark
        self.root = root
        self.poll_s = poll_s
        roots = shard_roots(root)
        if not roots:
            raise FileNotFoundError(f"no shard-* stores under {root!r}")
        self._refresh_lock = threading.Lock()
        # taken before the stores are read (see _refresh_locked)
        self._fingerprint = self._state_fingerprint()
        self.engines = [Engine(spark, r, read_only=True) for r in roots]
        # engines replaced by refresh() are NOT closed inline: a query
        # planned against the previous snapshot may still be reading
        # them from another handler thread (the server is threaded).
        # Read-only engines hold no locks or file handles, so deferring
        # their close() to ShardReader.close() is a bounded, cheap leak
        # (one engine per bookmark-invalidating refresh, which only
        # happens when a writer compacts its chunk log).
        self._retired: list["Engine"] = []

    def refresh(self) -> None:
        """Bring every shard snapshot up to date at O(new state): each
        engine replays only the chunk-log bytes appended since its
        bookmark (Engine.refresh_read_only) — under sustained 1M+ rec/s
        ingest a full snapshot rebuild per query re-read the WHOLE
        growing log. A shard whose log was compacted underneath (the
        bookmark invalidates) re-opens from scratch; both paths are
        driver-side JSON/stat work, no Spark job."""
        with self._refresh_lock:
            self._refresh_locked()

    def _refresh_locked(self) -> None:
        from .engine import Engine

        # the fingerprint is taken BEFORE the stores are read: a commit
        # landing during the replay then still differs from it, so the
        # next freshness check refreshes again (taken after, it would
        # cover a commit the replay missed until the next write)
        fp = self._state_fingerprint()
        # shard-SET change (growth, or an offline rebalance that added
        # stores): a snapshot built on the old root list would silently
        # miss every src that moved to a shard it never opened — the
        # r15 stale-reader hazard. Rebuild the engine list from the
        # current root set; the fingerprint folds the root list, so the
        # per-query freshness check trips on growth too.
        roots = shard_roots(self.root)
        if roots != [e.root for e in self.engines]:
            # reuse the engine of every root that PERSISTS across the
            # change (its content may have moved under rebalance — the
            # incremental per-engine refresh below picks that up via
            # bookmark replay or invalidation re-open); only genuinely
            # new roots pay a from-scratch open, removed roots retire.
            # Retiring all N engines here re-read the WHOLE multi-shard
            # chunk log on every growth event — the exact O(whole-log)
            # cost the bookmark path exists to avoid (r16 review).
            by_root = {e.root: e for e in self.engines}
            keep = set(roots)
            self._retired.extend(
                e for e in self.engines if e.root not in keep
            )
            self.engines = [
                by_root[r] if r in by_root
                else Engine(self.spark, r, read_only=True)
                for r in roots
            ]
        fresh = []
        for e in self.engines:
            try:
                ok = e.refresh_read_only()
            except Exception:
                ok = False
            if ok:
                fresh.append(e)
            else:
                self._retired.append(e)
                fresh.append(Engine(self.spark, e.root, read_only=True))
        self.engines = fresh
        self._fingerprint = fp

    def _snapshot(self) -> list["Engine"]:
        """Freshness check + engine-list snapshot as ONE atomic step.
        Every query path works from the returned local list: refresh()
        from a concurrent handler thread swaps self.engines, and a
        query that read the attribute twice could otherwise plan
        against two different snapshots (or a just-swapped one)."""
        with self._refresh_lock:
            if self._state_fingerprint() != self._fingerprint:
                self._refresh_locked()
            return list(self.engines)

    # ---------------------------------------------------- freshness
    def _state_fingerprint(self) -> int:
        """Deterministic fold over every shard's state-file (mtime, size)
        — a pure os.stat pass (microseconds), no Spark, no file reads.
        Writers publish each commit by appending chunks.jsonl / replacing
        seq.json, so the fingerprint changes iff the store did."""
        import zlib

        # the root list is part of the state: a new shard-NNN store
        # must flip the fingerprint even before anything writes to it
        roots = shard_roots(self.root)
        fp = ";".join(os.path.basename(r) for r in roots).encode() + b"|"
        for r in roots:
            for name in self._STATE_FILES:
                try:
                    st = os.stat(os.path.join(r, "state", name))
                    fp += b"%d:%d;" % (st.st_mtime_ns, st.st_size)
                except OSError:
                    fp += b"-;"
        return zlib.crc32(fp)

    def _maybe_refresh(self) -> None:
        """Per-query freshness: re-open the shard snapshots iff a writer
        has committed since the last look (the query tier's equivalent
        of the single store's always-current in-process catalog)."""
        self._snapshot()

    # write_epoch / wait_for_write give engine.wait_rows (the one
    # WaitNewData loop) a cross-PROCESS signal: there is no shared
    # condition variable with the writer processes, so the wait is a
    # state-file poll at ``poll_s`` — write→visible latency on the query
    # tier floors at the poll interval (documented trade; the in-process
    # engine's event-driven follow keeps its ~130 ms p50).
    def write_epoch(self) -> int:
        return self._state_fingerprint()

    def wait_for_write(self, epoch: int, timeout: float) -> int:
        import time as _time

        deadline = _time.monotonic() + max(0.0, timeout)
        while True:
            fp = self._state_fingerprint()
            if fp != epoch:
                self.refresh()
                return fp
            if _time.monotonic() >= deadline:
                return fp
            _time.sleep(min(self.poll_s, max(0.0, deadline - _time.monotonic())))

    # --------------------------------------------------------- query
    def resolve_sources(self, source, cap: bool = True) -> list[str]:
        """Union of the per-shard tag-index visits (each uses its own
        resolution cache); the ≤50-source cursor cap applies to the
        MERGED list, matching the single-store semantics."""
        return self._resolve_on(self._snapshot(), source, cap)

    @staticmethod
    def _resolve_on(engines: list["Engine"], source, cap: bool) -> list[str]:
        srcs = sorted(
            s for e in engines for s in e.resolve_sources(source, cap=False)
        )
        cap_n = engines[0].max_sources
        return srcs[:cap_n] if cap else srcs

    def chunks_after_cursor(self, src_ids: list[str], tok) -> bool:
        """Catalog-only fast-path check across shards (Engine semantics:
        conservative True when a src is unknown to every shard)."""
        known = set()
        for e in self._snapshot():
            mine = [s for s in src_ids if s in e._catalog]
            known.update(mine)
            if mine and e.chunks_after_cursor(mine, tok):
                return True
        return any(s not in known for s in src_ids)

    def tail_cursor(self, stmt):
        """Seed a value cursor at the current end-of-stream: the max of
        the per-shard catalog seeds (srcs never span shards, so the
        global last position is the max over shards). Inherits
        Engine.tail_cursor's catalog fast path — no Spark job per
        attach; a shard with legacy no-seq chunk stats probes only its
        own store."""
        best = None
        for e in self._snapshot():
            tok = e.tail_cursor(stmt)
            if tok is not None and (
                best is None
                or (tok.ts, tok.src, tok.seq) > (best.ts, best.src, best.seq)
            ):
                best = tok
        return best

    def execute(self, lql: str, now_ns: int | None = None):
        """Query-tier LQL dispatch: SELECT / SHOW PARTITIONS / DESCRIBE
        PARTITION. Every mutating statement (write/pipes/truncate) is
        refused — mutations belong to the shard's writer process."""
        from .lql import ast
        from .lql.parser import parse_lql

        stmt = parse_lql(lql, now_ns)
        if isinstance(stmt, ast.Select):
            return self.select(stmt, now_ns)
        if isinstance(stmt, ast.ShowPartitions):
            return self.show_partitions(stmt)
        if isinstance(stmt, ast.DescribePartition):
            return self.describe_partition(stmt)
        if isinstance(stmt, ast.ShowPipes):
            return self.show_pipes(stmt)
        if isinstance(stmt, ast.DescribePipe):
            return self.describe_pipe(stmt)
        raise RuntimeError(
            "read-only query tier: mutating statements must go to the "
            "shard's writer process"
        )

    def describe_partition(self, stmt) -> dict:
        """DESCRIBE PARTITION, delegated to the ONE shard whose catalog
        owns the matching partition (srcs never span shards). An unknown
        partition gets the single-store empty-info answer from shard 0;
        a real failure on the owning shard propagates instead of being
        masked by later shards' not-found."""
        from .model.schema import src_for_tag_line
        from .model.tags import tag_line as _tag_line

        engines = self._snapshot()
        src = src_for_tag_line(_tag_line(stmt.tags))
        for e in engines:
            if src in e._catalog:
                return e.describe_partition(stmt)
        return engines[0].describe_partition(stmt)

    # ------------------------------------------------- pipes (read-only)
    # Pipe DEFINITIONS are per-shard writer state persisted in each
    # store (defs.json) — the query tier can list and describe them,
    # but lifecycle belongs to the writer processes (the reference's
    # pipe service lives on the partition-owning host, pkg/pipe).
    def show_pipes(self, stmt) -> "DataFrame":
        names = sorted({n for e in self._snapshot() for n in e._pipes})
        df = self.spark.createDataFrame([(n,) for n in names] or [],
                                        "name string")
        if stmt.offset:
            df = df.offset(stmt.offset)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
        return df

    def describe_pipe(self, stmt) -> dict:
        for e in self._snapshot():
            d = e._pipes.get(stmt.name)
            if d is not None:
                out = dict(d)
                # liveness is writer-process state the read-only tier
                # cannot observe; report the stored definition only
                out["active"] = None
                out["source_srcs"] = None
                return out
        raise ValueError(f"pipe {stmt.name!r} does not exist")

    def create_pipe(self, stmt) -> dict:
        raise RuntimeError(
            "read-only query tier: pipes are created on the shard's "
            "writer process"
        )

    def delete_pipe(self, name: str) -> dict:
        raise RuntimeError(
            "read-only query tier: pipes are deleted on the shard's "
            "writer process"
        )

    def logs(self) -> "DataFrame":
        return read_shard_logs(self.spark, self.root)

    def select(self, sel, now_ns: int | None = None) -> "DataFrame":
        from functools import reduce

        from .compiler.select import compile_select
        from .lql import ast

        engines = self._snapshot()
        src_ids = self._resolve_on(engines, sel.source, cap=True)
        e0 = engines[0]
        limit = (
            min(sel.limit, e0.max_limit)
            if sel.limit is not None
            else e0.max_limit
        )
        sel = ast.Select(sel.format, sel.source, sel.range, sel.where,
                         sel.position, sel.offset, limit)
        parts = []
        for e in engines:
            mine = [s for s in src_ids if s in e._catalog]
            if not mine:
                continue  # tag-routed query: shard holds no match
            df = e._pruned_logs(mine, sel)
            parts.append(df if df is not None else e.logs())
        if not parts:
            parts = [e0.logs()]  # empty-match: compile against schema
        logs = reduce(lambda a, b: a.unionByName(b), parts)
        return compile_select(logs, sel, now_ns, src_ids=src_ids)

    def query(self, lql: str, now_ns: int | None = None) -> "DataFrame":
        from .lql import ast
        from .lql.parser import parse_lql

        stmt = parse_lql(lql, now_ns)
        if not isinstance(stmt, ast.Select):
            raise ValueError("query() accepts SELECT statements only")
        return self.select(stmt, now_ns)

    def sql(self, q: str) -> "DataFrame":
        self.logs().createOrReplaceTempView("logs")
        return self.spark.sql(q)

    def follow(self, lql: str, wait_timeout_s: float = 60.0):
        """tail -f across all shards: ``engine.follow_rows`` over this
        reader (its wait is the cross-process state-file poll, so
        write→visible latency floors at ``self.poll_s``)."""
        from .engine import follow_rows

        return follow_rows(self, lql, wait_timeout_s)

    def show_partitions(self, stmt) -> "DataFrame":
        """Merged SHOW PARTITIONS: per-shard metadata WITHOUT the
        offset/limit (those are GLOBAL pagination), union, re-sort by
        the single-store ordering, then paginate."""
        from functools import reduce

        engines = self._snapshot()

        from pyspark.sql import functions as F

        from .lql import ast

        unpaged = ast.ShowPartitions(stmt.source, 0, None)
        parts = [e.show_partitions(unpaged) for e in engines]
        df = reduce(lambda a, b: a.unionByName(b), parts).orderBy(
            F.col("size").desc(), F.col("tag_line")
        )
        if stmt.offset:
            df = df.offset(stmt.offset)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
        return df

    def write(self, tags, events, fields=None) -> dict:
        raise RuntimeError(
            "read-only query tier: writes go to the shard's writer "
            "process (route via ShardRouter.shard_for / resolve_shard "
            "— growth-stable: existing srcs keep their original shard)"
        )

    def close(self) -> None:
        with self._refresh_lock:
            for e in self.engines + self._retired:
                e.close()
            self._retired = []


def read_shard_logs(spark: "SparkSession", root: str) -> "DataFrame":
    """One DataFrame over every shard store's logs (standard log
    schema incl. the ``src`` partition column). Each shard tree is read
    with its own partition discovery and the union is by name, so
    src-pruning/ts-pushdown work per shard exactly as for one store;
    the union adds no shuffle (it concatenates scan tasks)."""
    from functools import reduce

    roots = shard_roots(root)
    if not roots:
        raise FileNotFoundError(f"no shard-* stores under {root!r}")
    parts = []
    for r in roots:
        logs = os.path.join(r, "logs")
        # a shard with no data yet (freshly grown, or fully drained by
        # rebalance/TRUNCATE) has nothing to infer a schema from — skip
        # it; it contributes zero rows either way
        if not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(logs)
            for f in fs
        ):
            continue
        parts.append(
            spark.read.option("basePath", logs).parquet(logs)
        )
    if not parts:
        from .model.schema import LOG_SCHEMA

        return spark.createDataFrame([], LOG_SCHEMA)
    return reduce(lambda a, b: a.unionByName(b), parts)
