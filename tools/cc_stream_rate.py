"""Sustained throughput of the streaming cc capstone
(streaming/cc_ingest.start_cc_ingest_stream).

Three measurement modes, all merging their block into
cc_stream_rate.json:

  python tools/cc_stream_rate.py [n_shards] [input_parquet]
      Single-stream rate: bootstrap from the sf0.01 documents table,
      stream the sf0.1 documents as N shard files, report end-to-end
      docs/sec from first shard landing to last survivor committed.
      ``input_parquet`` defaults to the sf0.1 documents table (5k
      docs); pass the scale_proof x10 table (50k docs) to measure real
      CommonCrawl-sized shards — the fixed per-micro-batch cost
      amortizes with shard size.

  python tools/cc_stream_rate.py concurrent [k] [n_shards]
      VERDICT r15 #7: k concurrent cc-ingest streams (distinct
      names/paths/checkpoints) over one local[32] session — does the
      fixed per-micro-batch overhead multiply or share? Reports
      aggregate docs/s next to the per-stream rates.

  python tools/cc_stream_rate.py index-growth [n_shards]
      VERDICT r15 #2 done-criterion: stream the SAME small shards
      against a SMALL (sf0.01, 500-doc) and a LARGE (scale_proof x10,
      50k-doc) persisted fingerprint index. With the r16 members-side
      anti-join the commit path carries no corpus-side Exchange, so
      the small-shard rate must not degrade as {path}_fps grows.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

GOP = {"min_words": 8, "min_stopword_hits": 0, "max_symbol_word_ratio": 1.0}
OUT_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "cc_stream_rate.json"
)


def _pages(df):
    """The synthetic documents are single unpunctuated lines, which
    C4's line rules reject wholesale; wrap each doc as a 3-line
    C4-passing page (each line ends in a terminal period and carries
    stop words), same text per line so cross-doc fingerprint distances
    are untouched."""
    from pyspark.sql import functions as F

    line = F.concat(
        F.lit("the content of this page is "),
        F.col("text"),
        F.lit(" and that must be the end."),
    )
    return df.select(
        "doc_id", F.concat_ws("\n", line, line, line).alias("text")
    )


def _bootstrap(spark, name, root, seed):
    from logrange_spark.streaming.cc_ingest import bootstrap_cc_corpus

    for t in ("fps", "fp_members", "fp_ids"):
        spark.sql(f"DROP TABLE IF EXISTS {name}_{t}")
    t0 = time.time()
    bootstrap_cc_corpus(
        spark, seed, name, f"{root}/{name}", ["casino"],
        gopher_kw=GOP, max_hamming=3, n_buckets=16,
        min_docs=3, min_doc_frac=0.05,
    )
    return round(time.time() - t0, 1)


def _start(spark, name, root, inp):
    from logrange_spark.streaming.cc_ingest import start_cc_ingest_stream

    os.makedirs(inp, exist_ok=True)
    return start_cc_ingest_stream(
        spark, inp, name, f"{root}/{name}", f"{root}/ckpt-{name}",
        "doc_id long, text string", ["casino"], gopher_kw=GOP,
        max_hamming=3, max_files_per_trigger=1,
    )


def _processed(q, seen):
    # recentProgress is a RING (last ~100 updates) — summing it
    # directly under-counts once batches outnumber the buffer;
    # accumulate per batchId instead (r15 review finding)
    for pr in q.recentProgress:
        seen[pr["batchId"]] = pr["numInputRows"]
    return sum(seen.values())


def _merge_out(block_name, block, path=None):
    """Merge ``block`` into the JSON artifact at ``path`` (default:
    this tool's cc_stream_rate.json) — under ``block_name``, or into
    the top level when None. The one merge protocol every scale tool
    shares (maintenance_scale.py reuses it; r16 review)."""
    path = path or OUT_PATH
    out = {}
    if os.path.exists(path):
        try:
            with open(path) as f:
                out = json.load(f)
        except ValueError:
            out = {}
    if block_name is None:
        out.update(block)
    else:
        out[block_name] = block
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(block))


def _session():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    from logrange_spark import build_session

    spark = build_session(app_name="cc-stream-rate")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_single(n_shards: int, in_path: str) -> int:
    from pyspark.sql import functions as F

    spark = _session()
    name = "ccrate"
    root = tempfile.mkdtemp(prefix="lr-cc-stream-rate-")
    out: dict = {"n_shards": n_shards}
    try:
        seed = _pages(
            spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .select("doc_id", "text")
        )
        out["bootstrap_sec"] = _bootstrap(spark, name, root, seed)
        out["seed_docs"] = seed.count()
        # incoming corpus: sf0.1 documents with REMAPPED ids so the
        # replay guard doesn't collide with seed ids (sf0.1 embeds the
        # sf0.01 rows — those stream docs are true near-dups and the
        # index correctly drops them)
        incoming = _pages(
            spark.read.parquet(in_path).select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                "text",
            )
        )
        n_in = incoming.count()
        out["stream_docs"] = n_in
        inp = f"{root}/incoming"
        q = _start(spark, name, root, inp)
        try:
            t0 = time.time()
            incoming.repartition(n_shards).write.mode("append").parquet(inp)
            seen: dict = {}
            deadline = time.time() + 1800
            while _processed(q, seen) < n_in and time.time() < deadline:
                time.sleep(1.0)
                if q.exception():
                    raise RuntimeError(str(q.exception()))
            done = _processed(q, seen) >= n_in
            time.sleep(3.0)  # drain the trailing commit
            wall = time.time() - t0
            out["stream_wall_sec"] = round(wall, 1)
            # a deadline exit publishes NO rate — dividing the FULL
            # input by a truncated wall overstates it (run_concurrent's
            # guard, applied to the single-stream path; r16 review)
            out["timed_out"] = not done
            out["docs_processed"] = _processed(q, seen)
            out["docs_per_sec"] = round(n_in / wall) if done else None
            surv = spark.read.parquet(f"{root}/{name}_docs")
            out["corpus_docs"] = surv.count()
            out["buckets"] = {
                r["bucket"]: r["n"]
                for r in surv.groupBy("bucket")
                .agg(F.count("*").alias("n"))
                .collect()
            }
        finally:
            q.stop()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    _merge_out(None, out)
    spark.stop()
    return 0


def run_concurrent(
    k: int, n_shards: int, in_path: str | None = None
) -> int:
    """``in_path`` (r17, VERDICT r16 #8): an alternative documents
    parquet to slice across the k streams — pass the scale_proof x10
    table to measure k concurrent streams at CommonCrawl-sized shards
    (the default sf0.1 table gives 1.25k-doc slices at k=4, two orders
    of magnitude under a real crawl shard). The block is keyed
    concurrency_k{k}_<absolute input path> so the small-shard datapoint
    stays and two inputs in same-named directories never collide."""
    from pyspark.sql import functions as F

    spark = _session()
    root = tempfile.mkdtemp(prefix="lr-cc-conc-")
    block: dict = {"streams": k, "n_shards_each": n_shards}
    queries = []
    try:
        seed = _pages(
            spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .select("doc_id", "text")
        )
        t0 = time.time()
        for i in range(k):
            _bootstrap(spark, f"ccc{i}", root, seed)
        block["bootstrap_sec_total"] = round(time.time() - t0, 1)
        # k disjoint id-space slices of the sf0.1 documents — each
        # stream ingests its own corpus, nothing shared but the session
        full = spark.read.parquet(
            in_path or "/root/testdata/sf0.1/documents.parquet"
        ).select("doc_id", "text")
        slices = [
            _pages(
                full.where(F.col("doc_id") % k == i).select(
                    (F.col("doc_id") + F.lit((i + 1) * 10_000_000)).alias(
                        "doc_id"
                    ),
                    "text",
                )
            ).persist()
            for i in range(k)
        ]
        n_ins = [s.count() for s in slices]
        block["stream_docs_each"] = n_ins
        inps = [f"{root}/in-{i}" for i in range(k)]
        queries = [
            _start(spark, f"ccc{i}", root, inps[i]) for i in range(k)
        ]
        t0 = time.time()
        for i in range(k):
            slices[i].repartition(n_shards).write.mode("append").parquet(
                inps[i]
            )
        seens: list[dict] = [{} for _ in range(k)]
        done_at = [None] * k
        deadline = time.time() + 2400
        while time.time() < deadline:
            all_done = True
            for i, q in enumerate(queries):
                if q.exception():
                    raise RuntimeError(str(q.exception()))
                if done_at[i] is None:
                    if _processed(q, seens[i]) >= n_ins[i]:
                        done_at[i] = time.time() - t0
                    else:
                        all_done = False
            if all_done:
                break
            time.sleep(1.0)
        time.sleep(3.0)
        block["per_stream_done_sec"] = [
            round(d, 1) if d is not None else None for d in done_at
        ]
        finished = [
            (n, d) for n, d in zip(n_ins, done_at) if d is not None
        ]
        block["timed_out_streams"] = len(n_ins) - len(finished)
        if finished:
            # aggregate over FINISHED streams only — dividing the full
            # input by a partial wall would overstate the rate
            wall = max(d for _n, d in finished)
            block["wall_sec"] = round(wall, 1)
            block["aggregate_docs_per_sec"] = round(
                sum(n for n, _d in finished) / wall
            )
        block["per_stream_docs_per_sec"] = [
            round(n / d) if d else None for n, d in zip(n_ins, done_at)
        ]
    finally:
        for q in queries:
            try:
                q.stop()
            except Exception:
                pass
        shutil.rmtree(root, ignore_errors=True)
    # keyed by stream count so multiple k-points coexist (a scaling
    # curve, not a single overwritten sample)
    key = f"concurrency_k{k}" if in_path is None else (
        f"concurrency_k{k}_{os.path.abspath(in_path)}"
    )
    _merge_out(key, block)
    spark.stop()
    return 0


def run_index_growth(n_shards: int) -> int:
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import scale_proof

    spark = _session()
    _x1, x10 = scale_proof.build(spark)
    root = tempfile.mkdtemp(prefix="lr-cc-idxg-")
    block: dict = {"n_shards": n_shards}
    try:
        # identical small shards for both runs: 2k sf0.1 docs, remapped
        # far away from both seeds' id spaces
        shards = _pages(
            spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
            .where(F.col("doc_id") % 5 == 3)
            .select(
                (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
                "text",
            )
        ).persist()
        n_in = shards.count()
        block["stream_docs"] = n_in

        for label, seed_path in (
            ("small_index", "/root/testdata/sf0.01/documents.parquet"),
            ("large_index", f"{x10}/documents.parquet"),
        ):
            seed = _pages(
                spark.read.parquet(seed_path).select("doc_id", "text")
            )
            name = f"ccig{label[:1]}"
            boot = _bootstrap(spark, name, root, seed)
            fps_n = spark.table(f"{name}_fps").count()
            inp = f"{root}/in-{label}"
            q = _start(spark, name, root, inp)
            try:
                t0 = time.time()
                shards.repartition(n_shards).write.mode("append").parquet(
                    inp
                )
                seen: dict = {}
                deadline = time.time() + 2400
                while _processed(q, seen) < n_in and time.time() < deadline:
                    time.sleep(1.0)
                    if q.exception():
                        raise RuntimeError(str(q.exception()))
                done = _processed(q, seen) >= n_in
                time.sleep(3.0)
                wall = time.time() - t0
            finally:
                q.stop()
            block[label] = {
                "seed_docs": seed.count(),
                "fps_rows": fps_n,
                "bootstrap_sec": boot,
                "stream_wall_sec": round(wall, 1),
                # a deadline exit must not fabricate the very
                # no-degradation datapoint this mode exists to prove
                # (full-input / truncated-wall overstates; r16 review)
                "timed_out": not done,
                "docs_processed": _processed(q, seen),
                "docs_per_sec": round(n_in / wall) if done else None,
            }
        r_small = block["small_index"]["docs_per_sec"]
        r_large = block["large_index"]["docs_per_sec"]
        block["rate_ratio_large_over_small"] = (
            round(r_large / r_small, 2) if r_small and r_large else None
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    _merge_out("index_growth", block)
    spark.stop()
    return 0


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "concurrent":
        k = int(args[1]) if len(args) > 1 else 3
        n = int(args[2]) if len(args) > 2 else 4
        in_path = args[3] if len(args) > 3 else None
        return run_concurrent(k, n, in_path)
    if args and args[0] == "index-growth":
        n = int(args[1]) if len(args) > 1 else 4
        return run_index_growth(n)
    n_shards = int(args[0]) if args else 10
    in_path = (
        args[1] if len(args) > 1
        else "/root/testdata/sf0.1/documents.parquet"
    )
    return run_single(n_shards, in_path)


if __name__ == "__main__":
    raise SystemExit(main())
