"""Engine: storage-backed log store + LQL execution.

The single-process composition root, playing the roles of the reference's
Ingestor/Querier/Admin services (api/ingestor.go, api/querier.go,
pkg/backend/admin.go) over one parquet table:

    <root>/logs/src=<id>/*.parquet     data, partitioned by src
    <root>/state/catalog.json          src → tag_line (the tag index)
    <root>/state/seq.json              src → seq high-water mark
    <root>/state/chunks.json           src → per-file chunk stats
    <root>/pipes/defs.json             pipe definitions
    <root>/pipes/checkpoints/<name>/   streaming checkpoints

Query execution is stateless: pagination uses value cursors, not server
state. The catalog is the analogue of the in-memory tag index
(pkg/tindex/inmem.go) — tiny, driver-side, and turns arbitrary tag
predicates into ``src IN (...)`` static partition pruning on the big scan.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lql import ast
from .lql.parser import parse_lql
from .model.schema import LOG_SCHEMA
from .model.tags import parse_tags, tag_line
from .compiler.select import CursorToken, compile_select
from .compiler.tagexpr import compile_tags
from .ingest.writer import SeqState, normalize_rows

# server-side limits mirroring the reference (pkg/backend/querier.go:42-43,
# pkg/cursor/cursor.go:186)
MAX_LIMIT = 10_000
MAX_SOURCES = 50


class Engine:
    def __init__(self, spark: SparkSession, root: str, max_limit: int = MAX_LIMIT,
                 max_sources: int = MAX_SOURCES, read_only: bool = False):
        self.spark = spark
        self.root = root
        # read_only opens the store WITHOUT the ownership flock (the
        # live writer process holds it) and refuses every mutation: the
        # query-tier mode (shard.ShardReader) — it sees the catalog and
        # chunk state as of open time (all store state files are
        # written atomically / append-tolerant, so a concurrent writer
        # can never corrupt this snapshot), and re-opens to refresh.
        self.read_only = read_only
        self.logs_path = os.path.join(root, "logs")
        self.state_dir = os.path.join(root, "state")
        self.pipes_dir = os.path.join(root, "pipes")
        self.max_limit = max_limit
        self.max_sources = max_sources
        os.makedirs(self.logs_path, exist_ok=True)
        os.makedirs(self.state_dir, exist_ok=True)
        # Single-writer-process contract (the reference is likewise a
        # single daemon owning its store, cmd/logrange): the chunk
        # catalog, seq state and per-src locks are in-process, so two
        # Engines on one store root could interleave write/compact/
        # truncate and corrupt metadata. An advisory flock on the store
        # root enforces the contract: held for the Engine's lifetime,
        # released by close() or automatically when the process dies
        # (crash-safe — no stale pid files). Also refuses a second
        # Engine INSTANCE on the same root within one process: flock is
        # per open-file-description.
        self._store_lock = None
        if not read_only:
            try:
                import fcntl

                lock_file = open(os.path.join(self.state_dir, "LOCK"), "w")
                try:
                    fcntl.flock(lock_file, fcntl.LOCK_EX | fcntl.LOCK_NB)
                except OSError:
                    lock_file.close()
                    raise RuntimeError(
                        f"store {root!r} is already owned by a running "
                        "Engine (single-writer-process contract); close() "
                        "it first"
                    )
                self._store_lock = lock_file
            except ImportError:  # non-POSIX: documented, not enforced
                pass
        self.seq_state = SeqState(os.path.join(self.state_dir, "seq.json"))
        # serializes seq-range reservation + catalog/stat upserts: writes
        # arrive concurrently from HTTP handler threads and pipe streaming
        # threads. Only METADATA mutation holds it — the parquet writes
        # themselves run outside (unique filenames make them safe), so
        # concurrent writers don't serialize through Spark actions.
        self._write_lock = threading.Lock()
        # per-src writer locks: a src's seq reservation and its data-file
        # commit happen atomically, so files become VISIBLE in seq order —
        # the invariant value-cursor tail/follow consumers rely on (a
        # later-seq batch landing first would advance the cursor past a
        # still-in-flight earlier batch, losing it forever). Different
        # srcs still write fully in parallel. Lock order: src lock OUTER,
        # _write_lock inner; multi-src holders (append_df) acquire in
        # sorted order, so there is no cycle.
        self._src_locks: dict[str, threading.Lock] = {}
        self._maint_locks: dict[str, threading.Lock] = {}
        # write notification: tail/wait consumers block on this condition
        # instead of polling re-scans (reference analogue: the journal
        # write signal behind WaitNewData, pkg/cursor/cursor.go:316-327)
        self._write_cv = threading.Condition()
        self._write_epoch = 0
        self._catalog: dict[str, str] = {}
        self._catalog_path = os.path.join(self.state_dir, "catalog.json")
        self._catalog_stat: tuple | None = None
        if os.path.exists(self._catalog_path):
            st = os.stat(self._catalog_path)
            with open(self._catalog_path) as f:
                self._catalog = json.load(f)
            self._catalog_stat = (st.st_mtime_ns, st.st_size)
        # tag-resolution cache: the tag-index visit runs one small Spark
        # job (catalog frame + compiled predicate); its answer only
        # changes when the catalog does, so repeat visitors — every
        # follow wakeup, every server page, every pipe restart check —
        # hit this dict instead of paying ~0.4 s of job overhead. Keyed
        # by the source expression's canonical string; invalidated
        # wholesale by bumping _catalog_epoch at every catalog mutation.
        self._resolve_cache: dict[tuple[str, bool], list[str]] = {}
        self._catalog_epoch = 0
        # chunk-stats catalog: (records, size, min_ts, max_ts) per file,
        # recorded AT WRITE TIME so SHOW PARTITIONS / TRUNCATE read a tiny
        # driver-side dict instead of O(#files) parquet footers — the
        # design that survives 100 TB. Footer reads remain as the repair
        # path for files the catalog doesn't know (see describe_many).
        #
        # Persistence is the Delta-log shape: a snapshot plus chunks.jsonl,
        # an append-only delta log (one line per added or dropped chunk) —
        # each write appends O(batch) bytes instead of re-serializing the
        # whole catalog (O(#files) per write would itself be a
        # scale-killer). The snapshot is SHARDED per src under chunks.d/
        # (one JSON file per src): compaction rewrites only the srcs
        # touched since the last compaction (the dirty set), so the
        # write-stall under _write_lock is O(dirty chunks), never
        # O(catalog) — at the 100 TB target (~10⁶ chunks) a monolithic
        # snapshot rewrite would stall writers for seconds every time the
        # log doubled. chunks.json is the pre-shard legacy snapshot; it
        # loads first (shards overlay it) and the first compaction
        # migrates it into shards. Measured (tools/catalog_scale.py):
        # 100k chunks boot in ~0.2 s / ~65 MB driver RSS → ~2 s / ~0.7 GB
        # extrapolated at 10⁶ — within the 8 GB driver budget; beyond
        # that the shards' schema maps 1:1 onto a parquet catalog table.
        self._chunk_stats: dict[str, dict[str, dict]] = {}
        self._chunk_stats_path = os.path.join(self.state_dir, "chunks.json")
        self._chunk_shards_dir = os.path.join(self.state_dir, "chunks.d")
        self._chunk_log_path = os.path.join(self.state_dir, "chunks.jsonl")
        self._chunk_log_lines = 0
        self._dirty_srcs: set[str] = set()
        if os.path.exists(self._chunk_stats_path):
            with open(self._chunk_stats_path) as f:
                self._chunk_stats = json.load(f)
        if os.path.isdir(self._chunk_shards_dir):
            for fn in os.listdir(self._chunk_shards_dir):
                if not fn.endswith(".json"):
                    continue
                try:
                    with open(os.path.join(self._chunk_shards_dir, fn)) as f:
                        self._chunk_stats[fn[:-5]] = json.load(f)
                except ValueError:
                    # torn shard from a crash mid-replace: the log replay
                    # below re-derives what it can; describe_many's footer
                    # repair path covers the rest
                    continue
        # good_offset is bound BEFORE the exists() check: a concurrent
        # writer can create chunks.jsonl between this stat and the
        # bookmark line below (exactly the live-writer scenario read-only
        # opens exist for), and the bookmark must not re-stat the path.
        good_offset = 0
        if os.path.exists(self._chunk_log_path):
            torn = False
            with open(self._chunk_log_path, "rb") as f:
                for raw in f:
                    line = raw.decode("utf-8", errors="replace").strip()
                    if not line:
                        good_offset += len(raw)
                        continue
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        # torn tail line from a crash mid-append: stop the
                        # replay here (standard WAL tolerance) — the repair
                        # path in describe_many re-derives anything lost
                        torn = True
                        break
                    good_offset += len(raw)
                    self._chunk_log_lines += 1
                    # replayed srcs are dirty: their shard (or the legacy
                    # snapshot) predates these log entries, so the next
                    # compaction must rewrite them
                    self._dirty_srcs.add(rec["src"])
                    self._apply_chunk_log_rec(rec)
            if torn and not read_only:
                # Truncate to the last fully-parsed record so the next
                # append (mode 'a') starts on a clean line. Without this,
                # the first record written after the crash concatenates
                # onto the partial line — corrupting that record and hiding
                # every later valid line from the next restart's replay.
                # (A read-only engine must never touch the OWNER's file —
                # the torn tail is simply left for the next refresh.)
                with open(self._chunk_log_path, "r+b") as f:
                    f.truncate(good_offset)
        # incremental-refresh bookmark (read-only engines): byte offset of
        # the last fully-applied log record plus a tail fingerprint that
        # detects the writer compacting the log in place underneath us
        self._chunk_log_offset = good_offset
        self._chunk_log_tail = self._read_log_tail(self._chunk_log_offset)
        # live chunk count, maintained incrementally (the per-append
        # recount was O(#srcs) per write batch)
        self._chunk_count = sum(len(v) for v in self._chunk_stats.values())
        # NOTE on rebalance crash residue (r15 review, r16 revision): a
        # crash between a rebalance move's target-side registration and
        # its source-side drop leaves THIS store listing a src whose
        # directory already moved — a catalog entry with no on-disk
        # data. The engine does NOT heal that at open: dropping the
        # entry here would be catastrophic in the OTHER crash window
        # (rename committed, target not yet registered — the source
        # entry is then the only copy of the src's tag_line, and
        # dropping it orphans the moved data from every catalog). Both
        # windows are instead resolved by rerunning rebalance_shards
        # (idempotent: rename skips, target re-registers, source
        # drops), reads over the mid-crash store are safe (the stale
        # entry scans an absent directory), and ShardRouter pins a
        # double-listed src to the shard that HOLDS its directory, so
        # routed writes never split-brain (shard.py).
        self._pipes: dict[str, dict] = {}
        self._pipe_queries: dict[str, Any] = {}
        # per-pipe pruned src set (None = no tag condition / no pruning);
        # maintained by pipes.service.start_pipe, compared on partition
        # birth to decide whether a pipe must restart onto a wider glob
        self._pipe_srcs: dict[str, set | None] = {}
        self._pipes_lock = threading.Lock()
        self._partitions_dirty = False
        self._autocompact_pending: set[str] = set()
        self._autocompact_running: set[str] = set()
        # forwarders register (source_ast, relaunch) for the same
        # partition-birth glob-widening treatment as pipes (forward.py)
        self._forwarders: dict[str, tuple] = {}
        self._forwarder_srcs: dict[str, set | None] = {}
        self._pipe_supervisor: threading.Thread | None = None
        self._supervisor_stop = threading.Event()
        self._pipes_path = os.path.join(self.pipes_dir, "defs.json")
        if os.path.exists(self._pipes_path):
            with open(self._pipes_path) as f:
                self._pipes = json.load(f)

    # ------------------------------------------------------------- ingest
    def write(self, tags: str | dict, events: list, fields: dict | None = None) -> dict:
        """Append a batch of events into the partition identified by ``tags``.

        Mirrors Ingestor.Write (api/ingestor.go:22-31): write-level fields
        are merged into each record. Returns {src, tag_line, first_seq,
        last_seq, records}.

        The rows are already driver-resident, so the chunk file is written
        directly with pyarrow — no Spark job on the ingest hot path.
        Writers to DIFFERENT srcs run fully in parallel; writers to the
        SAME src serialize on its per-src lock so seq reservation and file
        commit stay atomic (files become visible in seq order — the
        value-cursor tail invariant). The catalog registration happens
        only after the data file landed, so a failed write can't leave a
        phantom partition. (The reference's chunk writer is likewise a
        serialized per-journal appender, pkg/records/chunk/chunkfs.)
        """
        from .model.schema import src_for_tag_line

        self._check_writable()
        tmap = parse_tags(tags) if isinstance(tags, str) else {str(k): str(v) for k, v in tags.items()}
        src = src_for_tag_line(tag_line(tmap))
        # row normalization is the write path's Python CPU — run it
        # OUTSIDE every lock (profiled: holding the global lock across
        # it serialized ~1/3 of the sustained multi-writer wall); only
        # the seq-range reservation below needs serialization
        batch = normalize_rows(tags, fields, events)
        if not len(batch):
            return {"src": batch.src, "tag_line": batch.tag_line, "records": 0}
        with self._src_lock(src):
            with self._write_lock:
                batch.first_seq, batch.last_seq = self.seq_state.next_range(
                    batch.src, len(batch)
                )
                self.seq_state.save()
            stats = self._write_chunk_file(batch.src, batch)
            with self._write_lock:
                self._register_partition(batch.src, batch.tag_line)
                self._record_chunks(batch.src, [stats])
        self._notify_write()
        return {
            "src": batch.src,
            "tag_line": batch.tag_line,
            "first_seq": batch.first_seq,
            "last_seq": batch.last_seq,
            "records": len(batch),
        }

    def _write_chunk_file(self, src: str, batch) -> dict:
        """Write one NormalizedBatch as ONE parquet file (the chunk
        analogue) via pyarrow, returning its stats for the chunk catalog.
        Written to a dot-prefixed temp name (invisible to Spark's file
        listing) and os.replace'd into place, so readers never see a
        partial file. The batch is columnar already — arrays build with
        no per-row python work, the constant tags/tag_line columns are
        list-multiplied references, seq is the reserved range."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        part_dir = os.path.join(self.logs_path, f"src={src}")
        os.makedirs(part_dir, exist_ok=True)
        name = f"batch-{uuid.uuid4().hex}.parquet"
        kv = pa.map_(pa.string(), pa.string())
        n = len(batch)
        titems = list(batch.tags.items())
        # LOG_SCHEMA order (ts,msg,fields,tags,tag_line,src,seq); src is
        # the directory partition key and stays out of the file, matching
        # Spark's partitionBy layout
        table = pa.table(
            {
                "ts": pa.array(batch.ts, pa.int64()),
                "msg": pa.array(batch.msg, pa.string()),
                "fields": pa.array(batch.fields, kv),
                "tags": pa.array([titems] * n, kv),
                "tag_line": pa.array([batch.tag_line] * n, pa.string()),
                "seq": pa.array(
                    range(batch.first_seq, batch.last_seq + 1), pa.int64()
                ),
            }
        )
        tmp = os.path.join(part_dir, f".{name}.tmp")
        try:
            pq.write_table(table, tmp)
        except BaseException:
            try:
                os.remove(tmp)  # don't leave orphaned temp files behind
            except FileNotFoundError:
                pass
            raise
        fpath = os.path.join(part_dir, name)
        os.replace(tmp, fpath)
        return {"chunk": name, "records": n,
                "size": os.path.getsize(fpath),
                "min_ts": min(batch.ts), "max_ts": max(batch.ts),
                # seq high-water for forward-cursor pruning (the chunk is
                # one reserved range, so last_seq IS the max)
                "max_seq": batch.last_seq}

    def append_df(self, df: DataFrame) -> None:
        """Append an already-normalized log DataFrame (pipe destination path).

        seq is assigned per-src from the persisted high-water mark; the
        input order within a src is preserved by (ts, seq-of-source).

        The write lock covers ONLY the seq-range reservation and catalog
        upsert — the Spark actions (count, window-number, parquet write)
        run outside it, so concurrent pipes don't serialize through the
        driver. Each job writes to its own staging directory and the files
        are then moved into the partition dirs under unique names: no
        shared ``_temporary`` dir between concurrent jobs, and readers see
        whole files only.
        """
        import uuid

        from pyspark.sql.window import Window

        self._check_writable()
        counts = {r["src"]: r["n"] for r in df.groupBy("src").agg(F.count("*").alias("n")).collect()}
        if not counts:
            return
        srcs = sorted(counts)
        lines = {r["src"]: r["tag_line"] for r in df.select("src", "tag_line").distinct().collect()}

        # sorted acquisition of every involved src lock (no deadlock with
        # other multi-src writers); reservation → write → commit is atomic
        # per src, so files become visible in seq order
        locks = [self._src_lock(s) for s in srcs]
        for lk in locks:
            lk.acquire()
        try:
            with self._write_lock:
                bases = {}
                for s in srcs:
                    first, _last = self.seq_state.next_range(s, counts[s])
                    bases[s] = first - 1
                self.seq_state.save()

            w = Window.partitionBy("src").orderBy("ts", "seq")
            numbered = df.withColumn("_rn", F.row_number().over(w))
            base_map = F.create_map(*[x for s in srcs for x in (F.lit(s), F.lit(bases[s]))])
            out = numbered.withColumn("seq", (base_map[F.col("src")] + F.col("_rn")).cast("long")).drop("_rn")

            staging = os.path.join(self.root, "staging", uuid.uuid4().hex)
            out.select([f.name for f in LOG_SCHEMA.fields]).write.mode(
                "overwrite"
            ).partitionBy("src").parquet(staging)
            moved: dict[str, list[str]] = {}
            for d in sorted(os.listdir(staging)):
                if not d.startswith("src="):
                    continue
                src = d[len("src="):]
                part_dir = os.path.join(self.logs_path, d)
                os.makedirs(part_dir, exist_ok=True)
                for f in sorted(os.listdir(os.path.join(staging, d))):
                    if f.endswith(".parquet"):
                        name = f"batch-{uuid.uuid4().hex}.parquet"
                        os.replace(os.path.join(staging, d, f), os.path.join(part_dir, name))
                        moved.setdefault(src, []).append(name)
            shutil.rmtree(staging, ignore_errors=True)

            # register + seed the chunk catalog AFTER the data landed
            # (footer reads bounded by THIS batch's file count)
            for src, names in moved.items():
                part_dir = os.path.join(self.logs_path, f"src={src}")
                stats = [self._file_stat(part_dir, n) for n in names]
                with self._write_lock:
                    self._register_partition(src, lines.get(src, ""))
                    self._record_chunks(src, [s for s in stats if s is not None])
        finally:
            for lk in reversed(locks):
                lk.release()
        self._notify_write()

    def _register_partition(self, src: str, line: str) -> None:
        # caller holds _write_lock
        if src not in self._catalog:
            # partition birth: pipes pruned to a src glob may need to
            # widen (checked post-lock, see _notify_write)
            self._partitions_dirty = True
        if self._catalog.get(src) != line:
            self._catalog[src] = line
            self._catalog_epoch += 1
            self._resolve_cache.clear()
            tmp = self._catalog_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._catalog, f)
            os.replace(tmp, self._catalog_path)

    def _record_chunks(self, src: str, stats: list[dict]) -> None:
        # caller holds _write_lock
        if not stats:
            return
        d = self._chunk_stats.setdefault(src, {})
        if len(d) + len(stats) > self.AUTO_COMPACT_FILES:
            self._autocompact_pending.add(src)
        lines = []
        for st in stats:
            entry = {k: st[k] for k in ("records", "size", "min_ts", "max_ts")}
            # seq high-water (optional: legacy catalogs / stats without
            # parquet seq statistics simply stay non-prunable by seq)
            if st.get("max_seq") is not None:
                entry["max_seq"] = st["max_seq"]
            if st["chunk"] not in d:
                self._chunk_count += 1
            d[st["chunk"]] = entry
            lines.append(json.dumps({"src": src, "chunk": st["chunk"], **entry}))
        self._dirty_srcs.add(src)
        self._append_chunk_log(lines)

    def _drop_chunks(self, src: str, chunks: list[str] | None) -> None:
        """caller holds _write_lock; chunks=None drops the whole src."""
        if chunks is None:
            self._chunk_count -= len(self._chunk_stats.pop(src, {}))
            self._append_chunk_log([json.dumps({"op": "drop_src", "src": src})])
        else:
            d = self._chunk_stats.get(src, {})
            for name in chunks:
                if d.pop(name, None) is not None:
                    self._chunk_count -= 1
            self._append_chunk_log(
                [json.dumps({"op": "drop", "src": src, "chunk": n}) for n in chunks]
            )
        self._dirty_srcs.add(src)

    # Compaction thresholds: the 2x-live ratio keeps amortized compaction
    # cost O(1) per logged line; the absolute line cap bounds the boot
    # replay (a crash can otherwise leave a log of 2x the live set —
    # ~2·10⁶ lines at the 100 TB target, tens of seconds of line-by-line
    # JSON at boot). Sharded compaction is cheap (dirty srcs only), so
    # the cap costs little.
    CHUNK_LOG_MIN_LINES = 1024
    CHUNK_LOG_MAX_LINES = 65536

    def _append_chunk_log(self, lines: list[str]) -> None:
        # caller holds _write_lock. O(batch) per write; the log compacts
        # into the per-src snapshot shards when it outgrows the live set
        # (or the absolute cap) so boot replay stays bounded.
        if not lines:
            return
        with open(self._chunk_log_path, "a") as f:
            f.write("\n".join(lines) + "\n")
        self._chunk_log_lines += len(lines)
        if self._chunk_log_lines > self.CHUNK_LOG_MIN_LINES and (
            self._chunk_log_lines > 2 * self._chunk_count
            or self._chunk_log_lines > self.CHUNK_LOG_MAX_LINES
        ):
            self._compact_chunk_log()

    def _compact_chunk_log(self) -> None:
        # caller holds _write_lock: shards first, then truncate the log
        # (crash between the two replays a few redundant lines — idempotent).
        # Only srcs DIRTY since the last compaction rewrite their shard,
        # so the stall is O(dirty chunks), not O(catalog). The pre-shard
        # legacy snapshot (one monolithic chunks.json) migrates into
        # shards on the first compaction that sees it.
        legacy = os.path.exists(self._chunk_stats_path)
        dirty = set(self._dirty_srcs)
        if legacy:
            dirty |= set(self._chunk_stats)
        if dirty:
            os.makedirs(self._chunk_shards_dir, exist_ok=True)
        for src in dirty:
            shard = os.path.join(self._chunk_shards_dir, f"{src}.json")
            d = self._chunk_stats.get(src)
            if d:
                tmp = shard + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(d, f)
                os.replace(tmp, shard)
            elif os.path.exists(shard):
                os.remove(shard)
        if legacy:
            os.remove(self._chunk_stats_path)
        with open(self._chunk_log_path, "w") as f:
            pass
        self._chunk_log_lines = 0
        self._dirty_srcs.clear()

    def _check_writable(self) -> None:
        if self.read_only:
            raise RuntimeError(
                "engine opened read_only (query tier): the store is owned "
                "by its writer process; mutations must go through it"
            )

    def _apply_chunk_log_rec(self, rec: dict) -> None:
        op = rec.get("op", "add")
        if op == "add":
            self._chunk_stats.setdefault(rec["src"], {})[rec["chunk"]] = {
                k: rec[k]
                for k in ("records", "size", "min_ts", "max_ts", "max_seq")
                if k in rec
            }
        elif op == "drop":
            self._chunk_stats.get(rec["src"], {}).pop(rec["chunk"], None)
        elif op == "drop_src":
            self._chunk_stats.pop(rec["src"], None)

    _LOG_TAIL_BYTES = 64

    def _read_log_tail(self, offset: int) -> bytes:
        """The last ≤64 bytes of the chunk log ending at ``offset`` — an
        incremental-refresh fingerprint: if these bytes change, the
        writer compacted (truncate + rewrite) the log in place and the
        reader's bookmark is meaningless."""
        k = min(self._LOG_TAIL_BYTES, offset)
        if k <= 0:
            return b""
        try:
            with open(self._chunk_log_path, "rb") as f:
                f.seek(offset - k)
                return f.read(k)
        except OSError:
            return b""

    def refresh_read_only(self) -> bool:
        """Bring a read_only engine up to date with its OWNING writer at
        O(new state): reload catalog.json iff its stat changed, apply
        chunk-log records appended since the bookmark. Returns False
        when the writer compacted the log underneath (size regressed,
        or the tail fingerprint no longer matches) — the caller
        re-opens the store from scratch; True otherwise. A torn tail
        line (writer mid-append) stops the replay WITHOUT advancing the
        bookmark, so the next refresh picks the record up whole."""
        if not self.read_only:
            raise RuntimeError("refresh_read_only is for read_only engines")
        # catalog: small file, atomic os.replace publication
        try:
            st = os.stat(self._catalog_path)
            cstat = (st.st_mtime_ns, st.st_size)
        except OSError:
            cstat = None
        if cstat != self._catalog_stat:
            try:
                with open(self._catalog_path) as f:
                    cat = json.load(f)
            except (OSError, ValueError):
                return False  # mid-replace flicker: re-open to be safe
            with self._write_lock:
                if cat != self._catalog:
                    self._catalog = cat
                    self._catalog_epoch += 1
                    self._resolve_cache.clear()
                self._catalog_stat = cstat
        # chunk log: append-only between compactions
        try:
            size = os.stat(self._chunk_log_path).st_size
        except OSError:
            return self._chunk_log_offset == 0
        if size < self._chunk_log_offset:
            return False  # compacted underneath
        if self._read_log_tail(self._chunk_log_offset) != self._chunk_log_tail:
            return False  # compacted AND regrown past the bookmark
        if size == self._chunk_log_offset:
            return True
        good = self._chunk_log_offset
        recs = []
        with open(self._chunk_log_path, "rb") as f:
            f.seek(good)
            for raw in f:
                if not raw.endswith(b"\n"):
                    break  # partial append in flight
                line = raw.decode("utf-8", errors="replace").strip()
                if line:
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        break  # torn line: wait for the writer to finish
                    recs.append(rec)
                good += len(raw)
        with self._write_lock:  # concurrent planners read these dicts
            for rec in recs:
                self._apply_chunk_log_rec(rec)
            self._chunk_log_offset = good
            self._chunk_log_tail = self._read_log_tail(good)
            self._chunk_count = sum(
                len(v) for v in self._chunk_stats.values()
            )
        return True

    def _src_lock(self, src: str) -> threading.Lock:
        """Per-src writer lock (created on first use). Always acquired
        BEFORE _write_lock; multi-src holders acquire in sorted order."""
        with self._write_lock:
            lk = self._src_locks.get(src)
            if lk is None:
                lk = self._src_locks[src] = threading.Lock()
            return lk

    def _maint_lock(self, src: str) -> threading.Lock:
        """Per-src MAINTENANCE lock: serializes compaction vs TRUNCATE
        (either could otherwise resurrect or double-delete the files the
        other is rewriting) WITHOUT blocking writers — the writer path
        takes only ``_src_lock``, which maintenance holds just for its
        snapshot and commit phases, never across the Spark rewrite.
        Ordering: maint → src → write."""
        with self._write_lock:
            lk = self._maint_locks.get(src)
            if lk is None:
                lk = self._maint_locks[src] = threading.Lock()
            return lk

    # --------------------------------------------------- write notification
    def write_epoch(self) -> int:
        """Monotonic counter that advances on every completed write."""
        with self._write_cv:
            return self._write_epoch

    def wait_for_write(self, epoch: int, timeout: float) -> int:
        """Block until the write epoch advances past ``epoch`` or
        ``timeout`` elapses; returns the current epoch. Event-driven tail:
        idle waiters cost zero driver work until a write actually lands."""
        with self._write_cv:
            if self._write_epoch == epoch and timeout > 0:
                self._write_cv.wait(timeout)
            return self._write_epoch

    def _notify_write(self) -> None:
        with self._write_cv:
            self._write_epoch += 1
            self._write_cv.notify_all()
        if self._autocompact_pending:
            pending, self._autocompact_pending = self._autocompact_pending, set()
            self._maybe_autocompact(sorted(pending))
        if self._partitions_dirty:
            self._partitions_dirty = False
            # partition birth is rare (once per new tag_line ever): the
            # rescan runs Spark jobs (resolve_sources) and possibly pipe
            # restarts, so it must not block the write path
            threading.Thread(target=self._rescan_pipe_sources, daemon=True).start()

    def _rescan_pipe_sources(self) -> None:
        """Re-resolve every tag-pruned pipe's matching src set; restart
        pipes whose set changed so their source glob covers the new
        partition. Safe ordering: files under a newly matched dir were
        never listed by the old query, so the restarted query (same
        checkpoint) processes them from the beginning — no loss — and the
        first-batch provenance anti-join keeps delivery exactly-once."""
        from .lql.parser import parse_source
        from .pipes.service import start_pipe

        retry = False
        with self._pipes_lock:
            for name, defn in list(self._pipes.items()):
                # per-pipe isolation: a transient failure on one pipe
                # (resolve or restart) must not skip the remaining pipes
                # or the forwarder loop below
                try:
                    current = self._pipe_srcs.get(name)
                    if current is None:  # no tag condition → no pruning
                        continue
                    source = parse_source(defn.get("source") or "")
                    if source is None:
                        continue
                    fresh = set(self.resolve_sources(source, cap=False))
                    if fresh == current:
                        continue
                    q = self._pipe_queries.get(name)
                    if q is not None:
                        try:
                            q.stop()
                        except Exception:
                            pass
                    try:
                        self._pipe_queries[name] = start_pipe(self, defn)
                    except Exception:
                        # start_pipe widens _pipe_srcs BEFORE the query
                        # starts; roll it back so the set still reads as
                        # stale and the retry below actually restarts
                        self._pipe_srcs[name] = current
                        retry = True
                except Exception:
                    retry = True
            for name, (source, relaunch) in list(self._forwarders.items()):
                try:
                    current = self._forwarder_srcs.get(name)
                    if current is None or source is None:
                        continue
                    fresh = set(self.resolve_sources(source, cap=False))
                    if fresh == current:
                        continue
                    try:
                        relaunch()  # stops the old query, starts on the new glob
                    except Exception:
                        self._forwarder_srcs[name] = current
                        retry = True
                except Exception:
                    retry = True
        if retry:
            # a failed restart left the pipe stopped with exception()==None,
            # which the supervisor treats as deliberate — re-arm the dirty
            # flag so the next write triggers another rescan (a pipe with
            # no incoming writes has nothing to miss in the meantime)
            self._partitions_dirty = True

    # ------------------------------------------------------------- read
    def logs(self) -> DataFrame:
        return self.spark.read.schema(LOG_SCHEMA).parquet(self.logs_path)

    def catalog_df(self) -> DataFrame:
        rows = [(src, line, parse_tags(line)) for src, line in self._catalog.items()]
        return self.spark.createDataFrame(
            rows or [], "src string, tag_line string, tags map<string,string>"
        )

    def resolve_sources(self, source: ast.Source | None, cap: bool = True) -> list[str]:
        """Tag-index visit: tag condition → matching src ids.

        ``cap`` applies the reference's 50-journal cursor cap
        (pkg/cursor/cursor.go:186) — it is a *read-path* limit only;
        admin commands (SHOW PARTITIONS / TRUNCATE) visit every matching
        partition, mirroring pkg/backend/admin.go:93-96 (limit defaults
        to MaxUint32)."""
        if source is None:
            srcs = sorted(self._catalog)
        else:
            key = (_source_to_str(source), self._catalog_epoch)
            hit = self._resolve_cache.get(key)
            if hit is not None:
                srcs = hit
            else:
                pred = compile_tags(source)
                cat = self.catalog_df().where(pred).select("src")
                srcs = sorted(r[0] for r in cat.collect())
                # keyed by (expr, epoch): a mutation bumps the epoch (and
                # clears the dict), so a racing stale insert can never be
                # read by post-mutation callers
                self._resolve_cache[key] = srcs
        return srcs[: self.max_sources] if cap else srcs

    # ------------------------------------------------------------- execute
    def execute(self, lql: str, now_ns: int | None = None):
        """Execute any LQL statement. SELECT / SHOW PARTITIONS return a
        DataFrame; admin statements return a dict."""
        stmt = parse_lql(lql, now_ns)
        if isinstance(stmt, ast.Select):
            return self.select(stmt, now_ns)
        if isinstance(stmt, ast.ShowPartitions):
            return self.show_partitions(stmt)
        if isinstance(stmt, ast.ShowPipes):
            return self.show_pipes(stmt)
        if isinstance(stmt, ast.DescribePartition):
            return self.describe_partition(stmt)
        if isinstance(stmt, ast.DescribePipe):
            return self.describe_pipe(stmt)
        if isinstance(stmt, ast.CreatePipe):
            return self.create_pipe(stmt)
        if isinstance(stmt, ast.DeletePipe):
            return self.delete_pipe(stmt.name)
        if isinstance(stmt, ast.Truncate):
            return self.truncate(stmt)
        raise ValueError(f"unsupported statement: {stmt!r}")

    def _pruned_logs(self, src_ids: list[str], sel: ast.Select) -> DataFrame | None:
        """Time-index file pruning: build the scan from the EXPLICIT list
        of chunk files the query can possibly touch — the reference's
        chunk time index (pkg/chunk), re-expressed as driver-side pruning
        over the write-time chunk-stats catalog. Three prunable shapes:

        - RANGE: keep chunks whose [min_ts, max_ts] overlaps the range.
        - forward cursor (POSITION 'ts:src:seq', offset ≥ 0): matching
          rows have ts ≥ token ts, so chunks with max_ts below it are
          skipped — the hot paging/follow path stops re-listing history.
          Additionally (round 13) each chunk carries its seq high-water
          in the catalog, so a chunk whose ENTIRE key range sits at or
          before the token — (max_ts, src, max_seq) ≤ (tok.ts, tok.src,
          tok.seq) lexicographically, a safe upper bound on the chunk's
          max row key — is skipped even when its max_ts EQUALS the
          cursor ts. This is what makes tail-follow wakeups O(new
          chunks): once the follower has consumed the newest chunk, a
          wakeup for unrelated-partition writes prunes to ZERO files
          (no Spark job at all), and a same-partition wakeup opens only
          the chunks written since the cursor.
        - tail with negative offset and NO row predicates: walking chunks
          by max_ts descending, accumulate catalog record counts until
          ≥ n, then keep every chunk whose max_ts ≥ the smallest kept
          min_ts τ (all kept rows have ts ≥ τ, so the global last-n rows
          do too; an excluded chunk is entirely below τ). Row predicates
          disable this shape — catalog counts are unfiltered.
        - backward cursor (negative offset from an explicit token, no row
          predicates): the window is ≤ n rows at-or-before the token plus
          ≤ limit rows after it. Both sides use the tail-style
          accumulation with one twist: a chunk STRADDLING the token
          (min_ts ≤ tok.ts ≤ max_ts) is always kept but never counted —
          its records split across the boundary in unknown proportion,
          so counting only fully-below (max_ts strictly < tok.ts: a
          chunk with max_ts == tok.ts may hold rows AT tok.ts whose
          (src,seq) sorts after the token, so it straddles) resp.
          fully-above chunks keeps each accumulated total a lower bound
          on the rows available on that side, making the kept set a
          superset of the window.

        At 100 TB a narrow query then never lists or footer-reads a
        partition's full chunk history. Returns None (caller falls back
        to the directory scan) when nothing is prunable or any matching
        src is missing from the catalog (e.g. a rebuilt state dir) —
        pruning is strictly an optimization, never a correctness
        dependency. A chunk deleted between planning and execution
        (concurrent TRUNCATE/compact) is covered by ignoreMissingFiles,
        the same contract as the directory scan."""
        min_ns = sel.range.min_ns if sel.range is not None else None
        max_ns = sel.range.max_ns if sel.range is not None else None
        tail_k = None
        back_tok = back_k = fwd_tok = None
        pos = sel.position.pos_id.lower() if sel.position else "head"
        if pos == "tail":
            if (
                (sel.offset or 0) < 0
                and sel.where is None
                and sel.range is None
            ):
                tail_k = -sel.offset
            elif sel.where is not None or sel.range is not None:
                pass  # predicates present: only RANGE pruning (below) applies
        elif pos != "head":
            try:
                tok = CursorToken.decode(sel.position.pos_id)
            except Exception:
                return None  # malformed token: let compile_select report it
            if (sel.offset or 0) >= 0:
                # rows satisfy (ts,src,seq) > token ⇒ ts ≥ token.ts
                min_ns = tok.ts if min_ns is None else max(min_ns, tok.ts)
                fwd_tok = tok  # enables the per-chunk seq-high-water skip
            elif sel.where is None and sel.range is None:
                back_tok, back_k = tok.ts, -sel.offset
            # (with predicates a backward cursor gets RANGE pruning only)
        if (
            min_ns is None
            and max_ns is None
            and tail_k is None
            and back_tok is None
        ):
            return None

        cands: list[tuple[int, int, int, str]] = []  # (max_ts, min_ts, recs, path)
        with self._write_lock:
            for src in src_ids:
                chunks = self._chunk_stats.get(src)
                if chunks is None:
                    return None
                for chunk, st in chunks.items():
                    if (
                        fwd_tok is not None
                        and st.get("max_seq") is not None
                        and (st["max_ts"], src, st["max_seq"])
                        <= (fwd_tok.ts, fwd_tok.src, fwd_tok.seq)
                    ):
                        # every row key in this chunk is ≤ the cursor:
                        # (max_ts, src, max_seq) bounds the chunk's max
                        # (ts, src, seq) from above
                        continue
                    if (max_ns is None or st["min_ts"] <= max_ns) and (
                        min_ns is None or st["max_ts"] >= min_ns
                    ):
                        cands.append(
                            (st["max_ts"], st["min_ts"], st["records"],
                             os.path.join(self.logs_path, f"src={src}", chunk))
                        )
        if tail_k is not None and cands:
            cands.sort(reverse=True)
            total, tau = 0, cands[0][1]
            for mx, mn, recs, _ in cands:
                tau = min(tau, mn)
                total += recs
                if total >= tail_k:
                    break
            cands = [c for c in cands if c[0] >= tau]
        elif back_tok is not None and cands:
            straddle = [c for c in cands if c[1] <= back_tok <= c[0]]
            below = sorted((c for c in cands if c[0] < back_tok), reverse=True)
            above = sorted(c for c in cands if c[1] > back_tok)
            keep = {c[3] for c in straddle}
            total, tau = 0, None
            for mx, mn, recs, _ in below:  # last back_k rows ≤ token
                tau = mn if tau is None else min(tau, mn)
                total += recs
                if total >= back_k:
                    break
            keep.update(c[3] for c in below if tau is not None and c[0] >= tau)
            fwd_limit = sel.limit if sel.limit is not None else self.max_limit
            total, rho = 0, None
            for mx, mn, recs, _ in above:  # first fwd_limit rows > token
                rho = mx if rho is None else max(rho, mx)
                total += recs
                if total >= fwd_limit:
                    break
            keep.update(c[3] for c in above if rho is not None and c[1] <= rho)
            cands = [c for c in cands if c[3] in keep]
        files = [c[3] for c in cands]
        if not files:
            return self.spark.createDataFrame([], LOG_SCHEMA)
        return (
            self.spark.read.schema(LOG_SCHEMA)
            .option("basePath", self.logs_path)
            .parquet(*files)
        )

    def chunks_after_cursor(self, src_ids: list[str], tok) -> bool:
        """Catalog-only (no Spark job, no file system) check: could any
        chunk of ``src_ids`` hold a row with (ts, src, seq) > ``tok``?
        The tail-follow fast path — a wakeup triggered by a write to an
        UNRELATED partition answers False here in microseconds instead
        of paying a per-wakeup plan build + scan. Conservative: unknown
        srcs or catalog entries without a seq high-water return True
        (scan to find out); predicates are ignored (a filter can only
        shrink the result, so False remains safe)."""
        with self._write_lock:
            for src in src_ids:
                chunks = self._chunk_stats.get(src)
                if chunks is None:
                    return True
                for st in chunks.values():
                    if st.get("max_seq") is None:
                        return True
                    if (st["max_ts"], src, st["max_seq"]) > (
                        tok.ts, tok.src, tok.seq
                    ):
                        return True
        return False

    def select(self, sel: ast.Select, now_ns: int | None = None) -> DataFrame:
        src_ids = self.resolve_sources(sel.source)
        limit = min(sel.limit, self.max_limit) if sel.limit is not None else self.max_limit
        sel = ast.Select(sel.format, sel.source, sel.range, sel.where,
                         sel.position, sel.offset, limit)
        logs = self._pruned_logs(src_ids, sel)
        if logs is None:
            logs = self.logs()
        return compile_select(logs, sel, now_ns, src_ids=src_ids)

    def query(self, lql: str, now_ns: int | None = None) -> DataFrame:
        stmt = parse_lql(lql, now_ns)
        if not isinstance(stmt, ast.Select):
            raise ValueError("query() accepts SELECT statements only")
        return self.select(stmt, now_ns)

    def sql(self, query: str) -> DataFrame:
        """Full Spark SQL over the store (beyond-reference escape hatch,
        SURVEY §2.8): the log table is exposed as ``logs`` with the
        canonical columns (ts ns-long, msg, fields, tags, tag_line, src,
        seq). Tag/src predicates still prune partitions; everything else
        is ordinary Catalyst SQL."""
        self.logs().createOrReplaceTempView("logs")
        return self.spark.sql(query)

    def tail_cursor(self, stmt: "ast.Select"):
        """Seed a value cursor at the current end-of-stream for ``stmt``'s
        source: a CursorToken positioned at-or-after every existing row
        of the matching partitions, or None when they are empty
        (beginning-of-stream — everything that ever arrives is new). The
        single tail-seeding code path shared by ``follow`` and the
        server's blocking-wait endpoint, so tail-semantics fixes can't
        land in only one of them.

        Seeded from the in-memory chunk catalog under the write lock —
        no Spark job, and atomic with respect to concurrent writes: the
        old last-matching-row PROBE SCAN took hundreds of ms (one full
        plan build + backward scan per attach), during which a landing
        write was silently folded into the seed and never reported as
        new (observed: the server's 'tail sees data written after the
        query' contract broke whenever the seed scan outran the write).
        The catalog max over (max_ts, src, max_seq) is the end-of-stream
        boundary AS OF the lock acquisition — the reference seeds tail
        the same way, from the journal's current write position, not
        from a filtered record scan (pkg/cursor: POSITION tail = journal
        end). A where/range-filtered statement seeds at the same stream
        end: only rows arriving AFTER the attach are 'new', exactly the
        reference's position semantics.

        Falls back to the legacy probe scan when a matching chunk
        predates seq high-water stats (same posture as
        ``chunks_after_cursor``).
        """
        src_ids = self.resolve_sources(stmt.source)
        best = None
        with self._write_lock:
            for src in src_ids:
                for st in (self._chunk_stats.get(src) or {}).values():
                    if st.get("max_seq") is None:
                        best = None
                        break
                    cand = (st["max_ts"], src, st["max_seq"])
                    if best is None or cand > best:
                        best = cand
                else:
                    continue
                break  # legacy chunk without max_seq: probe below
            else:
                if best is not None:
                    return CursorToken(*best)
                return None
        probe = ast.Select(None, stmt.source, stmt.range, stmt.where,
                           ast.Position("tail"), -1, 1)
        rows = self.select(probe, None).collect()
        return CursorToken.of_row(rows[0]) if rows else None

    def follow(self, lql: str, wait_timeout_s: float = 60.0):
        """tail -f: generator yielding batches of new matching rows
        (``follow_rows`` over this store)."""
        return follow_rows(self, lql, wait_timeout_s)

    # ------------------------------------------------------------- admin
    def show_partitions(self, stmt: ast.ShowPartitions) -> DataFrame:
        """SHOW PARTITIONS: per-partition record count + on-disk size,
        sorted by size desc (reference: pkg/backend/admin.go:93-131).

        Metadata-only — record counts and byte sizes come from parquet
        footers / the file system, not a data scan, and the same size
        notion drives TRUNCATE's MAXSIZE/MAXDBSIZE budgeting (the
        reference's journal sizes are on-disk chunk bytes too)."""
        src_ids = self.resolve_sources(stmt.source, cap=False)
        infos = self.describe_many(src_ids)
        rows = [
            (infos[src]["tag_line"], infos[src]["records"], infos[src]["size"])
            for src in src_ids
        ]
        df = self.spark.createDataFrame(
            rows or [], "tag_line string, records long, size long"
        ).orderBy(F.col("size").desc(), F.col("tag_line"))
        if stmt.offset:
            df = df.offset(stmt.offset)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
        return df

    @staticmethod
    def _file_stat(part_dir: str, name: str) -> dict | None:
        """Footer-only stats for one parquet file (the chunk analogue).
        pyarrow releases the GIL during the footer read, so these pool.
        Returns None if the file vanished (concurrent TRUNCATE) — the
        metadata twin of ignoreMissingFiles on the data path."""
        import pyarrow.parquet as pq

        fpath = os.path.join(part_dir, name)
        try:
            md = pq.ParquetFile(fpath)
        except FileNotFoundError:
            return None
        # resolve PHYSICAL leaf indexes by path: nested columns (the
        # fields/tags maps) flatten into key/value leaves, so the arrow
        # field index does not line up with row-group column order
        ts_idx = seq_idx = None
        if md.metadata.num_row_groups:
            rg0 = md.metadata.row_group(0)
            for i in range(rg0.num_columns):
                path = rg0.column(i).path_in_schema
                if path == "ts":
                    ts_idx = i
                elif path == "seq":
                    seq_idx = i
        mn, mx, mx_seq = None, None, None
        for rg in range(md.metadata.num_row_groups):
            if ts_idx is not None:
                st = md.metadata.row_group(rg).column(ts_idx).statistics
                if st is not None and st.has_min_max:
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
            if seq_idx is not None:
                sq = md.metadata.row_group(rg).column(seq_idx).statistics
                if sq is not None and sq.has_min_max:
                    mx_seq = sq.max if mx_seq is None else max(mx_seq, sq.max)
        try:
            size = os.path.getsize(fpath)
        except FileNotFoundError:
            return None
        out = {"chunk": name, "records": md.metadata.num_rows,
               "size": size, "min_ts": mn, "max_ts": mx}
        if mx_seq is not None:
            out["max_seq"] = mx_seq
        return out

    def describe_many(self, src_ids: list[str]) -> dict[str, dict]:
        """Partition stats for many srcs from the chunk catalog.

        The common case does ZERO parquet footer reads: stats were
        recorded at write time (``_record_chunks``), so SHOW PARTITIONS /
        TRUNCATE cost one dict lookup per file — the only shape that
        survives 100 TB, where O(#files) driver metadata I/O is fatal.
        Files the catalog doesn't know (stores written before the catalog
        existed, externally-dropped files) fall back to pooled footer
        reads and are recorded back — a self-healing repair path, so the
        two bookkeeping sources can't drift.
        """
        from concurrent.futures import ThreadPoolExecutor

        stats: dict[str, list[dict]] = {src: [] for src in src_ids}
        jobs: list[tuple[str, str, str]] = []  # (src, part_dir, file) repairs
        # Snapshot each per-src dict under the lock: writers / compact /
        # truncate mutate the same nested dicts from other threads, and an
        # unlocked read can observe a src mid-rewrite (compact's
        # drop-then-record window) — transiently empty stats that trigger
        # redundant footer-read repairs appending duplicate log lines.
        with self._write_lock:
            known_by_src = {src: dict(self._chunk_stats.get(src, {}))
                            for src in src_ids}
        for src in src_ids:
            part_dir = os.path.join(self.logs_path, f"src={src}")
            known = known_by_src[src]
            if os.path.isdir(part_dir):
                for name in sorted(os.listdir(part_dir)):
                    if not name.endswith(".parquet"):
                        continue
                    st = known.get(name)
                    if st is not None:
                        stats[src].append({"chunk": name, **st})
                    else:
                        jobs.append((src, part_dir, name))

        if jobs:
            repaired: dict[str, list[dict]] = {}
            with ThreadPoolExecutor(max_workers=min(32, max(4, len(jobs)))) as pool:
                for (src, _, _), st in zip(
                    jobs, pool.map(lambda j: self._file_stat(j[1], j[2]), jobs)
                ):
                    if st is not None:  # file deleted mid-scan
                        stats[src].append(st)
                        repaired.setdefault(src, []).append(st)
            with self._write_lock:
                for src, sts in repaired.items():
                    self._record_chunks(src, sts)

        out = {}
        for src in src_ids:
            chunks = sorted(stats[src], key=lambda c: c["chunk"])
            out[src] = {
                "tag_line": self._catalog.get(src, ""),
                "src": src,
                "records": sum(c["records"] for c in chunks),
                "size": sum(c["size"] for c in chunks),
                "chunks": chunks,
            }
        return out

    def describe_partition(self, stmt: ast.DescribePartition) -> dict:
        """DESCRIBE PARTITION {tags}: per-file stats (the file = chunk
        analogue; reference: pkg/backend/admin.go:257-280)."""
        line = tag_line(stmt.tags)
        from .model.schema import src_for_tag_line
        src = src_for_tag_line(line)
        info = self.describe_many([src])[src]
        info["tag_line"] = line
        return info

    def truncate(self, stmt: ast.Truncate) -> dict:
        """Retention at file (chunk) granularity, mirroring
        pkg/partition/partition.go:408-490 + 516-581:

        phase 1 per partition: drop oldest files while (size > MAXSIZE or
        oldest file's max_ts < BEFORE), never below MINSIZE; phase 2: drop
        oldest partitions until total ≤ MAXDBSIZE; delete emptied
        partitions. DRYRUN reports without deleting.
        """
        report, plans, sizes, oldest, nfiles, survivors = (
            self._truncate_plan(stmt)
        )
        if stmt.max_db_size is not None:
            total = sum(sizes.values())
            # oldest partitions first (by earliest record timestamp, then
            # src for determinism — reference: partition.go:516-581)
            order = sorted(sizes, key=lambda s: (oldest.get(s, 0), s))
            for src in order:
                if total <= stmt.max_db_size:
                    break
                # whole-partition drop as the EXPLICIT plan-time file
                # list, not a wildcard: a write that lands between
                # planning and execution was not counted against the
                # MAXDBSIZE budget and must survive (r15 review — the
                # old "*ALL*" rmtree deleted it uncounted); the emptied-
                # dir cleanup in _truncate_execute retires the partition
                # only if nothing new arrived
                plans[src] = plans.get(src, []) + survivors[src]
                total -= sizes[src]
                report["deleted_bytes"] += sizes[src]
                report["deleted_files"] += nfiles[src]
                sizes[src] = 0

        if not stmt.dry_run:
            self._truncate_execute(plans)
        return report

    def _truncate_plan(
        self, stmt: ast.Truncate
    ) -> tuple[dict, dict, dict, dict, dict, dict]:
        """Phase-1 planning (per-partition oldest-file drops for
        BEFORE/MINSIZE/MAXSIZE): returns ``(report, plans, sizes,
        oldest, nfiles, survivors)`` where sizes/nfiles are
        POST-phase-1 values and ``survivors`` lists each src's
        remaining chunk names — the MAXDBSIZE phase plans
        whole-partition drops as these EXPLICIT names so a write landed
        after planning is never deleted uncounted. Split out so
        ``ShardRouter.truncate`` can run the MAXDBSIZE phase GLOBALLY
        across shards (the single-store oldest-first order) instead of
        guessing per-shard budgets — growth-stable routing makes shard
        sizes skewed by design, so an even split over-deletes on the
        loaded shards (the r14 verdict defect)."""
        self._check_writable()
        src_ids = self.resolve_sources(stmt.source, cap=False)
        report = {"partitions": [], "deleted_files": 0, "deleted_bytes": 0, "dry_run": stmt.dry_run}
        sizes: dict[str, int] = {}
        oldest: dict[str, int] = {}
        nfiles: dict[str, int] = {}
        survivors: dict[str, list[str]] = {}
        plans: dict[str, list[str]] = {}

        infos = self.describe_many(src_ids)
        for src in src_ids:
            # phantom residue guard (r16 review): a src whose directory
            # is ABSENT is the signature of a rebalance move interrupted
            # before the source-side drop — its bytes live (and are
            # budgeted) on the target shard. Counting the stale stats
            # here would double-count the moved bytes into a MAXDBSIZE
            # total (over-deleting real history elsewhere), and a
            # whole-partition drop would pop the catalog entry — in the
            # rename→register window that entry is the only surviving
            # copy of the src's tag_line. Skip; the rebalance rerun
            # clears the residue.
            if not os.path.isdir(os.path.join(self.logs_path, f"src={src}")):
                continue
            info = infos[src]
            files = info["chunks"]
            size = info["size"]
            sizes[src] = size
            oldest[src] = min(
                (c["min_ts"] for c in files if c["min_ts"] is not None), default=0
            )
            nfiles[src] = len(files)
            drop: list[str] = []
            # oldest-first by min_ts then name
            files = sorted(files, key=lambda c: (c["min_ts"] if c["min_ts"] is not None else 0, c["chunk"]))
            remaining = size
            for c in files:
                too_big = stmt.max_size is not None and remaining > stmt.max_size
                too_old = stmt.before_ns is not None and c["max_ts"] is not None and c["max_ts"] < stmt.before_ns
                under_min = stmt.min_size is not None and remaining - c["size"] < stmt.min_size
                if (too_big or too_old) and not under_min:
                    drop.append(c["chunk"])
                    remaining -= c["size"]
                else:
                    break
            survivors[src] = [c["chunk"] for c in files[len(drop):]]
            if drop:
                plans[src] = drop
                report["partitions"].append({"src": src, "tag_line": self._catalog.get(src, ""),
                                             "files": len(drop), "bytes": size - remaining})
                report["deleted_files"] += len(drop)
                report["deleted_bytes"] += size - remaining
                sizes[src] = remaining
                nfiles[src] -= len(drop)
        return report, plans, sizes, oldest, nfiles, survivors

    def _truncate_execute(self, plans: dict[str, list[str]]) -> None:
        """Execute a truncate plan: per-src file deletions, emptied-dir
        cleanup, one atomic catalog rewrite. Whole-partition drops
        arrive as explicit plan-time file lists (see truncate()), so a
        chunk written after planning survives both the deletions and
        the cleanup; the legacy ``*ALL*`` wildcard branch remains for
        externally-built plans.

        maint lock first: a compaction rewrite in flight must not
        see its candidates deleted under it (it would resurrect the
        truncated rows at commit). Then the per-src writer lock: an
        in-flight writer holds it across its file commit, so
        deletion never interleaves with a half-landed batch (and a
        dir emptied here can't eat a concurrent write)."""
        for src, files in plans.items():
            with self._maint_lock(src), self._src_lock(src), self._write_lock:
                part_dir = os.path.join(self.logs_path, f"src={src}")
                if files == ["*ALL*"]:
                    shutil.rmtree(part_dir, ignore_errors=True)
                    self._drop_chunks(src, None)
                else:
                    for name in files:
                        try:
                            os.remove(os.path.join(part_dir, name))
                        except FileNotFoundError:
                            pass
                    self._drop_chunks(src, files)
                if not os.path.isdir(part_dir) or not any(
                    f.endswith(".parquet") for f in os.listdir(part_dir)
                ):
                    shutil.rmtree(part_dir, ignore_errors=True)
                    self._catalog.pop(src, None)
                    self._catalog_epoch += 1
                    self._resolve_cache.clear()
                    self._drop_chunks(src, None)
        with self._write_lock:
            with open(self._catalog_path + ".tmp", "w") as f:
                json.dump(self._catalog, f)
            os.replace(self._catalog_path + ".tmp", self._catalog_path)

    def compact(self, source: ast.Source | None = None,
                target_file_bytes: int = 100 << 20,
                small_file_bytes: int | None = None) -> dict:
        """Rewrite each partition's small files into ~``target_file_bytes``
        files (default 100 MB — the reference's chunk roll size,
        server/config.go:134). The ingest path writes one file per batch,
        so partitions accumulate small files exactly like the reference
        accumulates chunks; this is the OPTIMIZE analogue. Safe to re-run;
        partitions already at one file per target size are skipped.

        ``small_file_bytes``: when set, only files SMALLER than it are
        merged and already-rolled big files are left untouched. This
        bounds write amplification for append-heavy partitions (the
        auto-compact path): each byte is rewritten at most once per size
        tier instead of on every pass over the whole partition.
        """
        self._check_writable()
        return self._compact_src_ids(
            self.resolve_sources(source, cap=False), target_file_bytes,
            small_file_bytes,
        )

    def _compact_src_ids(self, src_ids: list[str], target_file_bytes: int,
                         small_file_bytes: int | None) -> dict:
        import math
        import uuid

        report: dict[str, dict] = {}
        for src in src_ids:
            # maintenance lock for the WHOLE operation: serializes this
            # rewrite against TRUNCATE (which could otherwise delete a
            # candidate mid-rewrite and have its rows resurrected by the
            # commit) and against a concurrent compaction of the same
            # src. Writers do NOT take it — the writer-visible _src_lock
            # is held only for the snapshot and commit phases below, so
            # a write never stalls behind the multi-second Spark rewrite
            # (measured: same-src compaction stalls pushed tail-follow
            # write→yield p99 past 2 s at a busy 10M-row store).
            mlk = self._maint_lock(src)
            if not mlk.acquire(blocking=False):
                continue  # src already under maintenance
            try:
                part_dir = os.path.join(self.logs_path, f"src={src}")
                with self._src_lock(src):
                    if not os.path.isdir(part_dir):
                        continue
                    files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
                    if small_file_bytes is not None:
                        cand = [
                            f for f in files
                            if os.path.getsize(os.path.join(part_dir, f)) < small_file_bytes
                        ]
                    else:
                        cand = files
                    total = sum(os.path.getsize(os.path.join(part_dir, f)) for f in cand)
                want = max(1, math.ceil(total / target_file_bytes))
                if len(cand) <= want:
                    continue
                tmp = part_dir + ".compact"
                shutil.rmtree(tmp, ignore_errors=True)
                # The rewrite reads the EXPLICIT candidate list, so a
                # write landing during it can neither be swept into the
                # rewrite nor deleted by the commit — new files and their
                # catalog entries pass through untouched. Files inside
                # src=<id>/ hold every column except the src partition
                # key; rewrite preserves the (ts, seq) order within
                # files via sortWithinPartitions for row-group ts locality.
                (
                    self.spark.read.parquet(
                        *[os.path.join(part_dir, f) for f in cand]
                    )
                    .coalesce(want)
                    .sortWithinPartitions("ts", "seq")
                    .write.mode("overwrite")
                    .parquet(tmp)
                )
                with self._src_lock(src):
                    for f in cand:
                        os.remove(os.path.join(part_dir, f))
                    new_names = []
                    for f in sorted(os.listdir(tmp)):
                        if f.endswith(".parquet"):
                            name = f"compact-{uuid.uuid4().hex}.parquet"
                            os.replace(os.path.join(tmp, f), os.path.join(part_dir, name))
                            new_names.append(name)
                    shutil.rmtree(tmp, ignore_errors=True)
                    # the chunk catalog follows the rewrite: merged
                    # entries out (exactly `cand` — never drop-all, a
                    # concurrent writer's fresh entry must survive), new
                    # files footer-read once (bounded by this pass's
                    # output)
                    stats = [self._file_stat(part_dir, n) for n in new_names]
                    with self._write_lock:
                        self._drop_chunks(src, cand)
                        self._record_chunks(src, [s for s in stats if s is not None])
                report[src] = {"files_before": len(files),
                               "files_after": len(files) - len(cand) + len(new_names),
                               "bytes": total}
            finally:
                mlk.release()
        return report

    # auto-compaction policy: when a partition's chunk count crosses the
    # threshold after a write, a daemon thread merges its sub-16MB files
    # toward the 100 MB roll size — the streaming small-files problem
    # handled store-side (pipes writing one file per trigger would
    # otherwise grow a partition's file count without bound). Pipes
    # consuming a compacted source stay duplicate-free: re-listed files
    # land as "suspicious" batches and hit the provenance anti-join
    # (pipes/service.py).
    AUTO_COMPACT_FILES = 64
    AUTO_COMPACT_SMALL_BYTES = 16 << 20

    def _maybe_autocompact(self, srcs: list[str]) -> None:
        # check-and-claim under _write_lock: concurrent _notify_write
        # callers must not spawn duplicate compactions for the same src
        with self._write_lock:
            need = [
                s for s in srcs
                if len(self._chunk_stats.get(s, {})) > self.AUTO_COMPACT_FILES
                and s not in self._autocompact_running
            ]
            if not need:
                return
            self._autocompact_running.update(need)

        def run() -> None:
            try:
                self._compact_src_ids(
                    need, 100 << 20, self.AUTO_COMPACT_SMALL_BYTES
                )
            except Exception:
                pass  # next write over the threshold retries
            finally:
                self._autocompact_running.difference_update(need)

        threading.Thread(target=run, daemon=True).start()

    # ------------------------------------------------------------- pipes
    def create_pipe(self, stmt: ast.CreatePipe) -> dict:
        from .pipes.service import start_pipe

        self._check_writable()
        with self._pipes_lock:
            if stmt.name in self._pipes:
                return {"pipe": stmt.name, "status": "exists"}
            defn = {
                "name": stmt.name,
                "source": _source_to_str(stmt.source),
                "where": _expr_to_str(stmt.where),
            }
            self._pipes[stmt.name] = defn
            self._save_pipes()
            q = start_pipe(self, defn)
            self._pipe_queries[stmt.name] = q
        self._ensure_pipe_supervisor()
        return {"pipe": stmt.name, "status": "created"}

    def delete_pipe(self, name: str) -> dict:
        self._check_writable()
        with self._pipes_lock:
            q = self._pipe_queries.pop(name, None)
            if q is not None:
                q.stop()
            self._pipe_srcs.pop(name, None)
            existed = self._pipes.pop(name, None) is not None
            self._save_pipes()
        return {"pipe": name, "status": "deleted" if existed else "missing"}

    def show_pipes(self, stmt: ast.ShowPipes) -> DataFrame:
        rows = [(n,) for n in sorted(self._pipes)]
        df = self.spark.createDataFrame(rows or [], "name string")
        if stmt.offset:
            df = df.offset(stmt.offset)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
        return df

    def describe_pipe(self, stmt: ast.DescribePipe) -> dict:
        d = self._pipes.get(stmt.name)
        if d is None:
            raise ValueError(f"pipe {stmt.name!r} does not exist")
        out = dict(d)
        # operational state beyond the reference's static definition
        # (pkg/pipe/service.go DescribePipe returns the stored config):
        # whether the streaming query is live, and which source
        # partitions the stream is currently pruned to (None = whole
        # store / no tag condition)
        q = self._pipe_queries.get(stmt.name)
        out["active"] = bool(q is not None and q.isActive)
        srcs = self._pipe_srcs.get(stmt.name)
        out["source_srcs"] = sorted(srcs) if srcs is not None else None
        return out

    def _ensure_pipe_supervisor(self) -> None:
        # under _pipes_lock: two concurrent create_pipe/start_forwarder
        # calls must not spawn two supervisors, and a supervisor winding
        # down after stop_pipes() must either be revived (stop event
        # cleared before its under-lock exit check) or observed as gone
        # (_pipe_supervisor reset to None in that same exit check) — the
        # shared lock makes those the only two outcomes
        with self._pipes_lock:
            self._supervisor_stop.clear()
            if self._pipe_supervisor is not None:
                return  # alive, or about to re-check the cleared event
            self._pipe_supervisor = threading.Thread(
                target=self._supervise_pipes, daemon=True
            )
            self._pipe_supervisor.start()

    def _supervise_pipes(self) -> None:
        """Restart pipe queries that terminated with an error (the
        reference's worker is likewise restarted by its service loop,
        pkg/pipe/service.go). A streaming query can die on transient
        races a batch retry can't fix from inside — e.g. a source file
        deleted by compact/TRUNCATE between the batch's listing and its
        read. The failed batch never committed, so the restarted query
        (same checkpoint) replays it, and the per-source high-water /
        provenance anti-join keeps delivery exactly-once."""
        from .pipes.service import start_pipe

        backoff = 2.0
        while True:
            if self._supervisor_stop.wait(backoff):
                # exit handshake: only quit if the stop is still in force
                # under the lock — _ensure_pipe_supervisor clears it
                # under the same lock to revive a winding-down thread
                with self._pipes_lock:
                    if self._supervisor_stop.is_set():
                        self._pipe_supervisor = None
                        return
                continue
            had_failure = False
            try:
                with self._pipes_lock:
                    for name, defn in list(self._pipes.items()):
                        q = self._pipe_queries.get(name)
                        if q is None or q.isActive:
                            continue
                        if q.exception() is None:
                            continue  # stopped deliberately
                        had_failure = True
                        try:
                            q.stop()
                        except Exception:
                            pass
                        # per-pipe isolation: one pipe whose restart keeps
                        # throwing must not starve later pipes/forwarders
                        try:
                            self._pipe_queries[name] = start_pipe(self, defn)
                        except Exception:
                            pass
                    for name, (_source, relaunch) in list(self._forwarders.items()):
                        h = getattr(relaunch, "handle", None)
                        q = h.query if h is not None else None
                        if q is None or q.isActive or q.exception() is None:
                            continue
                        had_failure = True
                        try:
                            relaunch()  # stops the dead query, relaunches
                        except Exception:
                            pass
            except Exception:
                had_failure = True
            # a permanently failing pipe (deleted store, stopped session)
            # must not hot-loop restart attempts with their Spark jobs:
            # back off while failures repeat, snap back once healthy
            backoff = min(30.0, backoff * 2) if had_failure else 2.0

    def stop_pipes(self) -> None:
        self._supervisor_stop.set()  # the daemon exits at its next tick
        with self._pipes_lock:
            for q in self._pipe_queries.values():
                try:
                    q.stop()
                except Exception:
                    pass
            self._pipe_queries.clear()
            self._pipe_srcs.clear()
            forwarders = list(self._forwarders.items())
            self._forwarders.clear()
            self._forwarder_srcs.clear()
        for _name, (_source, relaunch) in forwarders:
            # relaunch closures hold the handle; stop via the HANDLE so
            # its _stopped event fires — a thread blocked in
            # handle.awaitTermination() with no timeout must unblock on
            # engine shutdown, not hang forever
            h = getattr(relaunch, "handle", None)
            if h is not None:
                try:
                    h.stop()
                except Exception:
                    pass

    def close(self) -> None:
        """Stop streaming work and release the store ownership lock so
        another Engine (this process or another) may open the root."""
        self.stop_pipes()
        # fold the delta log into the snapshot shards (dirty srcs only)
        # so the next boot replays nothing — writer-owned state; a
        # read-only engine must never touch the owner's snapshots
        if not self.read_only:
            with self._write_lock:
                if self._chunk_log_lines > 0:
                    try:
                        self._compact_chunk_log()
                    except OSError:
                        pass  # read-only media: the log replays at next boot
        if self._store_lock is not None:
            try:
                self._store_lock.close()  # closing the fd drops the flock
            except Exception:
                pass
            self._store_lock = None

    def _save_pipes(self) -> None:
        os.makedirs(self.pipes_dir, exist_ok=True)
        tmp = self._pipes_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._pipes, f)
        os.replace(tmp, self._pipes_path)


def wait_rows(source, stmt: ast.Select, after: CursorToken | None,
              timeout_s: float) -> list:
    """The one WaitNewData loop (reference: pkg/cursor/cursor.go:316-327),
    shared by ``follow_rows``, the server's ``waitTimeout`` read and the
    cursor-pull workers. Returns the rows of ``stmt``, a positioned
    SELECT over ``source`` (an Engine or a ShardReader); while there are
    none it blocks on ``source.wait_for_write`` for up to ``timeout_s``
    and looks again after every write, so an idle wait runs no scan.

    ``after`` is the forward value cursor ``stmt`` reads past, or None.
    With a cursor, each look first asks the chunk catalog: when no chunk
    can hold a row past ``after`` (the data is consumed, or the write was
    to an unrelated partition) the scan is skipped with zero Spark jobs —
    what holds follow p99 at store scale. The write epoch is taken
    before the first look, so a write landing during a look wakes the
    next wait instead of being lost.
    """
    def look() -> list:
        if after is not None and not source.chunks_after_cursor(
            source.resolve_sources(stmt.source), after
        ):
            return []
        return source.select(stmt).collect()

    epoch = source.write_epoch()
    rows = look()
    deadline = time.monotonic() + timeout_s
    while not rows:
        remaining = deadline - time.monotonic()
        if remaining <= 0:
            break
        new_epoch = source.wait_for_write(epoch, remaining)
        if new_epoch != epoch:
            epoch = new_epoch
            rows = look()
    return rows


def follow_rows(source, lql: str, wait_timeout_s: float = 60.0):
    """tail -f over ``source`` (an Engine or a ShardReader): generator
    yielding batches of new matching rows, each read through
    ``wait_rows`` from the value cursor after the previous batch. Stops
    after ``wait_timeout_s`` (capped at 60 s like
    pkg/backend/querier.go:42) without a new batch. POSITION/OFFSET in
    the statement apply to the first batch only; POSITION tail starts at
    end-of-stream.
    """
    stmt = parse_lql(lql)
    if not isinstance(stmt, ast.Select):
        raise ValueError("follow() accepts SELECT statements only")
    if stmt.format:
        raise ValueError("follow() requires the default projection (no format)")
    wait_timeout_s = min(wait_timeout_s, 60.0)
    cursor = None
    if stmt.position and stmt.position.pos_id.lower() == "tail":
        cursor = source.tail_cursor(stmt)
        stmt = replace(stmt, position=None, offset=None)
    while True:
        if cursor is not None:
            stmt = replace(stmt, position=ast.Position(cursor.encode()), offset=None)
        batch = wait_rows(source, stmt, cursor, wait_timeout_s)
        if not batch:
            return
        cursor = CursorToken.of_row(batch[-1])
        yield batch


def _source_to_str(source: ast.Source | None) -> str:
    if source is None:
        return ""
    if source.tags is not None:
        return "{" + tag_line(source.tags) + "}"
    return _expr_to_str(source.expr)


def _expr_to_str(e: ast.Expr | None) -> str:
    if e is None:
        return ""
    if isinstance(e, ast.Or):
        return " OR ".join(_expr_to_str(c) for c in e.children)
    if isinstance(e, ast.And):
        return " AND ".join(_expr_to_str(c) for c in e.children)
    if isinstance(e, ast.Not):
        return f"NOT ({_expr_to_str(e.child)})"
    if isinstance(e, ast.Condition):
        ident = e.ident.operand
        for fn in reversed(e.ident.funcs):
            ident = f"{fn}({ident})"
        return f"{ident} {e.op} '{e.value}'"
    raise ValueError(f"unknown expr {e!r}")
