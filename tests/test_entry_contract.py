"""Driver-contract tests over __spark_entry__ (plan shape + smoke)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_limitless_lql_is_take_ordered_not_full_sort(spark):
    """LIMIT-less LQL entry queries carry the server-side 10k cap
    (reference: pkg/backend/querier.go:43), so the physical plan must be
    TakeOrderedAndProject — never a full global Sort at 100 TB."""
    q = entry.queries()["lql_fields_lex"]
    plan = _physical_plan(q(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # and no full-data Sort node feeding the result
    assert "Sort [" not in plan


def test_formatted_limitless_lql_is_take_ordered(spark):
    # lql_format rotated to retired_queries() in round 8; the plan
    # contract is unchanged
    q = entry.retired_queries()["lql_format"]
    plan = _physical_plan(q(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_queries_and_oracles_align(spark):
    """Every oracle key must have a queries() entry (driver contract)."""
    qs = entry.queries()
    sql = entry.oracle_sql()
    assert set(sql) <= set(qs)
    # every query is either oracle-checked or documented rows-only
    unoracled = set(qs) - set(sql)
    assert unoracled == set(), f"queries without oracle: {unoracled}"


# NOTE: the registry-size guard lives in tests/test_entry_registry.py —
# a module WITHOUT this file's testdata skip mark, so the <=50 invariant
# holds even in environments with no driver testdata (ADVICE round 4).


def test_salted_join_skew_oracle(spark):
    """salted_join's oracle row (kept out of the 50-entry registry): the
    salted inner join over the all-hot-keys event_type must be value-equal
    to DuckDB's plain join — the operator's soundness contract."""
    import duckdb

    s_rows = sorted(
        tuple(r) for r in entry._q_salted_join_skew(spark, SF_DIR).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    d_rows = sorted(tuple(r) for r in con.execute(entry.SALTED_JOIN_ORACLE_SQL).fetchall())
    assert len(s_rows) == 5 and s_rows == d_rows


@pytest.mark.parametrize("name,fn", [
    ("training_split", "_q_training_split"),
    ("stratified_sample", "_q_stratified_sample"),
])
def test_sampling_oracles(spark, name, fn):
    """Deterministic split/sampling oracle rows (pytest oracle; registry
    is at the 50-row cap): the md5-hex threshold selection must be
    value-identical between Spark and DuckDB."""
    import duckdb

    s_rows = sorted(tuple(r) for r in getattr(entry, fn)(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    d_rows = sorted(
        tuple(r) for r in con.execute(entry._sampling_oracle_sql()[name]).fetchall()
    )
    assert s_rows and s_rows == d_rows


def test_retired_range_relative_oracle(spark):
    """`lql_range_relative` was retired from the 50-entry registry in
    round 4; this test keeps its oracle check alive: the relative "-22d"
    literal with a pinned now must match the DuckDB twin exactly."""
    import duckdb

    q = entry._lql_at('SELECT FROM {name=view} RANGE "-22d"', entry.FIXED_NOW)
    s_rows = sorted(tuple(r) for r in q(spark, SF_DIR).collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    # -22d from the pinned now (2024-02-01) folds to exactly RANGE_LO
    d_rows = sorted(
        tuple(r)
        for r in con.execute(
            f"WITH {entry._LOGS_CTE} SELECT {entry._STD} FROM logs "
            f"WHERE tag_line = 'name=view' AND ts >= {entry.RANGE_LO // 1000} "
            "ORDER BY ts, src, seq LIMIT 10000"
        ).fetchall()
    )
    assert len(s_rows) == len(d_rows) and s_rows == d_rows


def test_approx_users_within_bound(spark):
    # rotated to retired_queries() in round 9; the HLL bound check lives
    # here (the registry twin can only pin the exact column)
    out = entry.retired_queries()["events_approx_users"](spark, SF_DIR).collect()
    assert out, "no rows"
    assert all(r["hll_within_bound"] for r in out)
    assert all(r["exact_users"] > 0 for r in out)


def test_repetition_stats_oracle(spark):
    """Gopher repetition signals (pytest oracle; registry at the 50-row
    cap): sorted-array folds on the Spark side must value-match DuckDB's
    unnest+groupBy recomputation of the same integer numerators."""
    import duckdb

    s_rows = sorted(tuple(r) for r in entry._q_repetition_stats(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    d_rows = sorted(tuple(r) for r in con.execute(entry.REPETITION_ORACLE_SQL).fetchall())
    assert len(s_rows) == len(d_rows) > 0
    assert s_rows == d_rows


def test_redact_oracle(spark):
    """PII redaction (pytest oracle; registry at the 50-row cap):
    sequential regexp_replace + pre-replacement counts must value-match
    DuckDB's RE2 evaluation of the identical portable patterns."""
    import duckdb

    s_rows = sorted(tuple(r) for r in entry._q_redact(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    d_rows = sorted(tuple(r) for r in con.execute(entry.REDACT_ORACLE_SQL).fetchall())
    assert len(s_rows) == len(d_rows) > 0
    assert s_rows == d_rows
    # every decorated doc had its synthetic PII found and removed
    assert all(r[2] >= 1 and r[3] >= 1 and r[4] >= 1 for r in s_rows)
    assert all("<EMAIL>" in r[1] and "<IP>" in r[1] and "<NUM>" in r[1] for r in s_rows)


def test_curation_full_oracle(spark):
    """End-to-end curation composition (pytest oracle; registry at the
    50-row cap): quality + repetition gates, LSH near-dup removal, PII
    counts, and deterministic split must value-match a single DuckDB
    recomputation of the whole flow."""
    import duckdb

    s_rows = sorted(tuple(r) for r in entry._q_curation_full(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    d_rows = sorted(tuple(r) for r in con.execute(entry._curation_full_sql()).fetchall())
    assert len(s_rows) == len(d_rows) > 0
    assert s_rows == d_rows
    # the pipeline actually gates and splits: fewer rows than the corpus,
    # more than half of them train
    n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert len(s_rows) < n_docs
    splits = [r[-1] for r in s_rows]
    assert splits.count("train") > len(splits) // 2


@pytest.mark.parametrize("name", ["lql_cursor_back", "lql_upper_func", "lql_format_full"])
def test_retired_lql_oracles(spark, name):
    """Rows rotated out of the 50-entry registry in round 7 (to make room
    for ann_pq_topk / repetition_stats / curation_full) keep their DuckDB
    oracle checks alive here — rotation must never lose coverage.

    Runs at sf0.01 — the scale the driver checked these oracles at. (At
    sf0.001 fewer than 400 records precede the cursor_back position, and
    the reference's clamp-at-head semantics — back up as far as possible,
    then read LIMIT forward, picking up post-position rows — correctly
    diverge from the plain "last 400 before the cursor" SQL twin.)"""
    import duckdb

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 testdata not present")
    q = entry.retired_queries()[name]
    s_df = q(spark, sf)
    s_rows = sorted(tuple(r) for r in s_df.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    res = con.execute(entry._RETIRED_LQL_ORACLES[name])
    assert [d[0] for d in res.description] == s_df.columns
    d_rows = sorted(tuple(r) for r in res.fetchall())
    assert len(s_rows) > 0 and s_rows == d_rows


@pytest.mark.parametrize("name", sorted(entry._RETIRED_ORACLES))
def test_retired_general_oracles(spark, name):
    """Rows rotated out of the 50-entry registry in round 8 (to make room
    for contamination / mixture_sample / text_unigram_ppl /
    text_bm25_topk / tfidf_keywords / hamming_fp_pairs) keep their DuckDB
    oracle checks alive here — rotation must never lose coverage."""
    import duckdb

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 testdata not present")
    q = entry.retired_queries()[name]
    s_df = q(spark, sf)
    s_rows = sorted(tuple(r) for r in s_df.collect())
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    res = con.execute(entry._RETIRED_ORACLES[name])
    assert [d[0] for d in res.description] == s_df.columns
    d_rows = sorted(tuple(r) for r in res.fetchall())
    assert len(s_rows) > 0 and s_rows == d_rows


def test_contamination_oracle(spark):
    """Benchmark decontamination (pytest oracle; registry at the 50-row
    cap): per-document 8-gram overlap against a deterministic eval slice
    must value-match the DuckDB recomputation, every corpus document
    present (clean docs with 0 overlap included), and benchmark members
    fully self-contaminated."""
    import duckdb

    s_df = entry._q_contamination(spark, SF_DIR)
    s_rows = sorted(tuple(r) for r in s_df.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    res = con.execute(entry._contamination_sql())
    assert [d[0] for d in res.description] == s_df.columns
    d_rows = sorted(tuple(r) for r in res.fetchall())
    assert len(s_rows) == len(d_rows) > 0
    assert s_rows == d_rows
    n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert len(s_rows) == n_docs
    by_id = {r[0]: r for r in s_rows}
    bench_ids = [i for i in by_id if i % 97 == 0 and by_id[i][1] > 0]
    assert bench_ids and all(by_id[i][3] == 1.0 for i in bench_ids)


def _alpha_words(prefix: str, n: int) -> list[str]:
    """``n`` distinct all-letter words (base-26 suffixes) for hand-built
    documents that must pass the alpha-word and word-length gates."""
    out = []
    for i in range(n):
        s, k = "", i
        for _ in range(3):
            s, k = chr(ord("a") + k % 26) + s, k // 26
        out.append(prefix + s)
    return out


def test_cc_pipeline_drops_doc_emptied_by_span_removal(spark, tmp_path):
    """A document that MinHash keeps but repeated-span removal empties
    has no tokens, hence no perplexity and no place in a training
    shard: the DuckDB twin (no per-doc LM row for it) and the Spark
    pipeline must both drop it. Doc 2's whole body is the tail of doc
    1's body, so doc 1 (lower id) keeps the span and doc 2 is emptied;
    their token Jaccard (~0.5) stays under the MinHash threshold."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = " ".join(["the"] + _alpha_words("span", 31))
    texts = {
        1: " ".join(_alpha_words("head", 30)) + " " + span,
        2: span,
        97: " ".join(["the"] + _alpha_words("bench", 34)),
    }
    for d in (4, 6, 7, 8, 11):
        texts[d] = " ".join(["the"] + _alpha_words(f"doc{chr(ord('a') + d)}", 36))
    ids = sorted(texts)
    pq.write_table(
        pa.table({"doc_id": ids, "text": [texts[i] for i in ids]}),
        str(tmp_path / "documents.parquet"),
    )

    s_df = entry._q_cc_pipeline(spark, str(tmp_path))
    s_rows = sorted(tuple(r) for r in s_df.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    res = con.execute(entry._cc_pipeline_sql())
    assert [d[0] for d in res.description] == s_df.columns
    d_rows = sorted(tuple(r) for r in res.fetchall())
    assert s_rows == d_rows
    kept = {r[0] for r in s_rows}
    assert 1 in kept and 2 not in kept


def test_cc_url_keep_best_ignores_null_doc_id(spark):
    """URL keep-best keeps the min doc_id per canonical URL. A record id
    with no digits parses to a null doc_id; it must not outrank the real
    keeper of its URL (a NULLS FIRST ordering would rank it first)."""
    recs = spark.createDataFrame(
        [
            (None, "http://www.cc.example/page/5?utm_source=x", b"n"),
            (5, "http://cc.example/page/5", b"a"),
            (9, "https://cc.example/page/5/", b"b"),
            (7, "http://cc.example/page/7", b"c"),
            (None, "  ", b"d"),
        ],
        "doc_id long, url string, payload binary",
    )
    got = sorted(
        (r["doc_id"] is None, r["doc_id"], bytes(r["payload"]))
        for r in entry._cc_url_keep_best(recs).collect()
    )
    # the blank-url record is its own keeper (url_dedup's auto-keep);
    # page/5 keeps doc 5, not the null-id refetch
    assert got == [(False, 5, b"a"), (False, 7, b"c"), (True, None, b"d")]
