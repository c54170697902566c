"""batch_analytics: a subset of the ``__spark_entry__`` registry, in process.

Tables are generated from the seed at about sf0.01 size; nothing outside
the working directory is read. Each row is built (the registry call, including
any eager pins) and executed (a noop write) once per pass, after an
untimed warm pass. The warm pass builds every row and collects it for
the comparison with its DuckDB twin from ``oracle_sql()``, using the
comparison rule of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time
from datetime import datetime, timedelta

# the issue's ten rows less dedup_near_duplicates and dedup_simhash64_pairs
# (MinHash dedup also runs inside cc_pipeline), lang_predict and
# kn_bigram_ppl: the four add ~30 s to a run, which the run budget lacks
ROWS = ("lql_contains", "lql_tail", "revenue_by_nation", "parse_k8json",
        "quality_signals", "cc_pipeline")
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents")
VOCAB = ("key agg row scan slow fast table value part hash merge batch the a line "
         "sort window spark order data column join small customer query stream "
         "filter group big vector").split()


def generate(out_dir: str, seed: int, scale: float = 0.01) -> None:
    """Seeded TPC-H-like tables plus events and documents, as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION{i:02d}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    save("customer", {
        "c_custkey": list(range(1, n_cust + 1)),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                     "MACHINERY")) for _ in range(n_cust)]})
    day0 = datetime(1992, 1, 1)
    save("orders", {
        "o_orderkey": list(range(1, n_ord + 1)),
        "o_custkey": [rng.randrange(1, n_cust + 1) for _ in range(n_ord)],
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(900, 500_000), 2) for _ in range(n_ord)],
        "o_orderdate": pa.array([day0 + timedelta(days=rng.randrange(2400))
                                 for _ in range(n_ord)], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                        "5-LOW")) for _ in range(n_ord)]})
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(1, n_ord + 1):
        for ln in range(1, rng.randrange(1, 8) + 1):
            q = float(rng.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(1, 20_001))
            li["l_suppkey"].append(rng.randrange(1, 1_001))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rng.uniform(900, 2000), 2))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(day0 + timedelta(days=rng.randrange(2500)))
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    save("lineitem", li)

    n_ev = int(1_000_000 * scale)
    t, ts = datetime(2024, 1, 1), []
    for _ in range(n_ev):
        t += timedelta(microseconds=rng.randrange(1, 520_000_000))
        ts.append(t)
    save("events", {
        "event_id": list(range(n_ev)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": [rng.randrange(150) for _ in range(n_ev)],
        "event_type": [rng.choice(("view", "click", "purchase", "signup", "error"))
                       for _ in range(n_ev)],
        "value": [round(rng.uniform(0, 400), 2) for _ in range(n_ev)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_ev)]})

    n_doc = int(50_000 * scale)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.15:  # planted near-duplicate
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randrange(8, 90))]
        texts.append(" ".join(words))
    save("documents", {
        "doc_id": list(range(n_doc)), "text": texts,
        "lang": [rng.choice(("en", "en", "en", "zh", "es", "de", "fr")) for _ in range(n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": [len(x) for x in texts]})


def _check_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(co, s_cols, s_rows, d_cols, d_rows) -> str | None:
    """``tools/check_oracle.py``'s rule: same column names, same row
    count, and equal order-insensitive canonical values (exact)."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} vs {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"rowcount {len(s_rows)} vs {len(d_rows)}"
    if co.canon_rows(s_cols, s_rows, strict=True) != co.canon_rows(d_cols, d_rows, strict=True):
        loose = (co.canon_rows(s_cols, s_rows, strict=False)
                 == co.canon_rows(d_cols, d_rows, strict=False))
        return "float drift beyond exact match" if loose else "values differ"
    return None


class Batch:
    def __init__(self, spark, data_dir: str, root: str):
        import __spark_entry__ as entry_mod

        self.spark = spark
        self.data_dir = data_dir
        self.queries = entry_mod.queries()
        self.oracles = entry_mod.oracle_sql()
        self.co = _check_oracle_module(root)

    def build(self, name: str):
        """(build_s, DataFrame): the registry call, eager pins included."""
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.data_dir)
        return time.perf_counter() - t0, df

    def run_row(self, name: str, group: str | None = None) -> tuple[float, float]:
        """(build_s, exec_s) for one registry row; execute is a noop write."""
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, name, False)
        try:
            build_s, df = self.build(name)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_s = time.perf_counter() - t0
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return build_s, exec_s

    def check(self, name: str, s_cols, s_rows) -> str | None:
        """None when the collected rows equal the DuckDB twin's, or what
        differs. Touches no Spark state, so it may run on another thread."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data_dir, t)}.parquet'")
            cur = con.execute(self.oracles[name])
            d_cols, d_rows = [d[0] for d in cur.description], cur.fetchall()
        finally:
            con.close()
        return compare(self.co, s_cols, s_rows, d_cols, d_rows)
