"""Mimic the driver's correctness gate locally.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf directory, then compares row count, column names,
and an order-insensitive canonical value comparison (exact for
ints/strings; floats compared both exactly and at 9 significant digits so
we can see WHICH kind of drift we have).

Usage: python tools/check_oracle.py [query ...] [--sf DIR]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal


def canon(v, strict: bool):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v) if strict else f"{v:.9g}"
    if isinstance(v, Decimal):
        return repr(float(v)) if strict else f"{float(v):.9g}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x, strict) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k], strict)}" for k in sorted(v)) + "}"
    return str(v)


def canon_rows(cols, rows, strict: bool):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i], strict) for i in order) for r in rows)


def main() -> int:
    import duckdb

    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod

    argv = sys.argv[1:]
    if "--sf" in argv:  # the spaced form of the usage line
        i = argv.index("--sf")
        argv[i : i + 2] = [f"--sf={argv[i + 1]}"]
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for a in argv:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args or list(qs)

    if "--tuned" in sys.argv:
        from logrange_spark import build_session

        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")  # x100/sf0.1-scale entry point; library default is 8g
        spark = build_session(app_name="check-oracle")
    else:
        # Mirror the driver harness: a VANILLA session — no engine confs.
        # Every conf the entry path needs must come from __spark_entry__
        # itself (see _ensure_session_conf); round 1 died on exactly this.
        from pyspark.sql import SparkSession

        # getOrCreate() would silently reuse an already-tuned session and
        # defeat the vanilla check — this script assumes it owns the
        # process; fail loudly if something created a session first.
        assert SparkSession.getActiveSession() is None, (
            "check_oracle must run in a fresh process: an active SparkSession "
            "exists, so the 'vanilla session' check would be meaningless"
        )
        spark = (
            SparkSession.builder.appName("check-oracle-vanilla")
            .master("local[8]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name in names:
        if name not in qs:
            print(f"?? {name}: no such query")
            failures += 1
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only): {len(s_rows)} rows  [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns {sorted(s_cols)} vs {sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if not problems:
            a = canon_rows(s_cols, s_rows, strict=True)
            b = canon_rows(d_cols, d_rows, strict=True)
            if a != b:
                a9 = canon_rows(s_cols, s_rows, strict=False)
                b9 = canon_rows(d_cols, d_rows, strict=False)
                if a9 == b9:
                    problems.append("float drift beyond exact match (9-sig-digit match OK)")
                else:
                    diff = [
                        (x, y) for x, y in zip(a9, b9) if x != y
                    ][:3]
                    problems.append(f"VALUES differ, e.g. {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems) + f"  [{time.time()-t0:.1f}s]")
            failures += 1
        else:
            print(f"OK   {name}: {len(s_rows)} rows exact-match  [{time.time()-t0:.1f}s]")

    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
