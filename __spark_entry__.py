"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship LQL query on sf0.001.
``queries()``    — one entry per implemented operator family (SURVEY.md §2
                   + the training-data-pipeline operators).
``oracle_sql()`` — DuckDB-equivalent SQL per query, generated from the
                   same constants the Spark operators use (shingle size,
                   seeds, stopword lists, ...), so both sides compute the
                   same deterministic result.

Determinism rules used throughout (so value hashes match the oracle):
- timestamps cross the boundary as epoch values (ns longs / dates), never
  as engine-native timestamp types;
- money sums go through exact DECIMAL accumulation, cast to DOUBLE at the
  end — identical in both engines;
- every hash is md5 (hex) — identical in both engines;
- LIMIT queries always ride the total order (ts, src, seq) so the
  selected set is unique.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logrange_spark.compiler.select import compile_select
from logrange_spark.engine import MAX_LIMIT
from logrange_spark.ingest import parsers
from logrange_spark.lql.parser import parse_lql
from logrange_spark.ops import ann, dedup, joins, multimodal, text
from logrange_spark.ops.util import spread

NS_PER_HOUR = 3_600 * 10**9
# RANGE bounds for the lql_range query, folded like the LQL compiler does
RANGE_LO = 1_704_844_800_000_000_000  # 2024-01-10 00:00:00 UTC
RANGE_HI = 1_705_708_800_000_000_000  # 2024-01-20 00:00:00 UTC


_CONFIGURED_SESSIONS: weakref.WeakSet = weakref.WeakSet()


def _ensure_session_conf(spark: SparkSession) -> None:
    """Make the entry contract hold on a *vanilla* SparkSession.

    GLOBAL-MUTATION CONTRACT: this sets session-wide confs (UTC session
    timezone, parquet nanosAsLong) on the *shared* driver session — any
    other queries the harness runs on the same session see them too.
    Both are required for correct results here (see below) and are
    idempotent; the WeakSet memo means the two conf RPCs fire once per
    session, not per table read.

    The driver harness builds its own session (not ``build_session``), so
    every conf the query paths rely on must be (re-)applied here at runtime.
    Both confs below are runtime-settable and idempotent:

    - ``nanosAsLong``: the testdata stores ``events.ts`` as parquet
      TIMESTAMP(NANOS); Spark refuses that type unless it is read back as
      a LongType of epoch-ns — exactly the log schema's ``ts``.
    - session timezone UTC: ``lql_format*`` render via ``date_format``;
      without this the rendered strings depend on the host timezone.
    """
    if spark in _CONFIGURED_SESSIONS:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _CONFIGURED_SESSIONS.add(spark)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # every query below assumes events.ts is epoch-ns long. The driver
        # testdata has stored ts as parquet TIMESTAMP(NANOS) (read back as
        # long via nanosAsLong) and as TIMESTAMP(MICROS) (read back as a
        # timestamp type) in different rounds — normalize both to ns-long.
        # The µs→ns widening is exact (×1000), so oracle twins that use
        # DuckDB's epoch_ns()/epoch_us() agree in either layout.
        t = dict(df.dtypes).get("ts")
        if t == "timestamp_ntz":
            # NTZ wall-clock is UTC by the data contract. timestampdiff on
            # NTZ values is pure wall-clock arithmetic — independent of the
            # session timezone at execution time (a cast to timestamp would
            # re-interpret the wall-clock in whatever tz the session has
            # when the lazy plan finally runs).
            df = df.withColumn(
                "ts",
                (
                    F.expr(
                        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                    )
                    * F.lit(1000)
                ).cast("long"),
            )
        elif t == "timestamp":
            df = df.withColumn(
                "ts", (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
            )
    return df


def _logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table viewed through the canonical log schema:
    ts(ns long), msg=props, fields={user}, tags={name=event_type},
    src=event_type, seq=event_id."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("ts"),
        F.col("props").alias("msg"),
        F.create_map(F.lit("user"), F.col("user_id").cast("string")).alias("fields"),
        F.create_map(F.lit("name"), F.col("event_type")).alias("tags"),
        F.concat(F.lit("name="), F.col("event_type")).alias("tag_line"),
        F.col("event_type").alias("src"),
        F.col("event_id").alias("seq"),
    )


# DuckDB version of the same view (fields:user → f_user)
_LOGS_CTE = """
logs AS (
  SELECT epoch_us(ts) AS ts,
         props AS msg,
         CAST(user_id AS VARCHAR) AS f_user,
         'name=' || event_type AS tag_line,
         event_type AS src,
         event_id AS seq
  FROM events
)
""".strip()

_STD = "ts, msg, tag_line, src, seq"


def _lql(lql_text: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stmt = parse_lql(lql_text)
        # LIMIT-less queries get the server-side 10k cap (reference:
        # pkg/backend/querier.go:43) — at scale this turns the full
        # global sort into TakeOrderedAndProject
        df = compile_select(_logs(spark, sf_dir), stmt, default_limit=MAX_LIMIT).select(
            "ts", "msg", "tag_line", "src", "seq"
        )
        # cross-engine boundary: µs (DuckDB truncates ns parquet to µs)
        return df.withColumn("ts", F.expr("ts div 1000"))

    return run


FIXED_NOW = 1_706_745_600_000_000_000  # 2024-02-01 00:00:00 UTC


def _lql_at(lql_text: str, now_ns: int) -> Callable[[SparkSession, str], DataFrame]:
    """LQL with a pinned 'now' so relative/special datetime literals fold
    deterministically (oracle-checkable)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stmt = parse_lql(lql_text, now_ns)
        df = compile_select(
            _logs(spark, sf_dir), stmt, now_ns=now_ns, default_limit=MAX_LIMIT
        ).select("ts", "msg", "tag_line", "src", "seq")
        return df.withColumn("ts", F.expr("ts div 1000"))

    return run


def _lql_fmt(lql_text: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stmt = parse_lql(lql_text)
        df = compile_select(_logs(spark, sf_dir), stmt, default_limit=MAX_LIMIT)
        return df.withColumn("ts", F.expr("ts div 1000"))

    return run


# --------------------------------------------------------------------- LQL
def _q_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _logs(spark, sf_dir)
        .groupBy("tag_line")
        .agg(
            F.count("*").alias("records"),
            F.sum(F.octet_length("msg")).alias("size"),
        )
    )


# --------------------------------------------------------- SQL analytics
_DEC = "decimal(12,2)"   # prices/quantities
_RATE = "decimal(4,2)"   # (1±discount/tax) factors


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread() (r16): the sf lineitem file is one row group, so the
    # scan+partial-agg chain ran in ONE task of 32 (guide §2.5 input
    # skew); interleaved A/B measured ~0.88x. No-op at scale. Decimal
    # sums are exact, so the repartition cannot drift any value.
    li = spread(_t(spark, sf_dir, "lineitem"), by="l_orderkey")
    ep = F.col("l_extendedprice").cast(_DEC)
    disc = (F.lit(1.0) - F.col("l_discount")).cast(_RATE)
    tax = (F.lit(1.0) + F.col("l_tax")).cast(_RATE)
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-10-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
            F.sum(ep).cast("double").alias("sum_base_price"),
            F.sum(ep * disc).cast("double").alias("sum_disc_price"),
            F.sum(ep * disc * tax).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )


def _q_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread() on the probe side (r16): same single-row-group rationale
    # as pricing_summary; the broadcast-join chain then runs 32-wide
    # (interleaved A/B ~0.8x, values byte-identical — decimal sums)
    li = spread(_t(spark, sf_dir, "lineitem"), by="l_orderkey")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (F.col("l_extendedprice").cast(_DEC) * (F.lit(1.0) - F.col("l_discount")).cast(_RATE))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread() on the probe side (r16) — see _q_revenue_by_segment
    li = spread(_t(spark, sf_dir, "lineitem"), by="l_orderkey")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice").cast(_DEC) * (F.lit(1.0) - F.col("l_discount")).cast(_RATE))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def _q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def _q_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("hour_bucket", F.expr(f"ts div {NS_PER_HOUR}"))
        .groupBy("event_type", "hour_bucket")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        )
    )


NS_PER_DAY = 86_400 * 10**9
FUNNEL_WINDOW_NS = 7 * NS_PER_DAY


def _q_events_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type (HyperLogLog++ sketch),
    made oracle-checkable via an error-bound contract.

    HLL register layouts / hash functions are engine-specific, so the
    estimate itself can't be value-compared cross-engine. Instead the
    query emits the exact count (oracle-checked directly) plus
    ``hll_within_bound`` — the HLL++ estimate at rsd=0.02 landing within
    a documented 5% (2.5σ) relative-error bound of the exact count. The
    oracle asserts that column is TRUE, which verifies the sketch path
    (the mergeable partial aggregation that replaces exact distinct at
    100 TB) without comparing register-level internals."""
    ev = _t(spark, sf_dir, "events")
    # the HLL sketch aggregates in its OWN branch: mixed with the exact
    # countDistinct, Spark re-keys partials by (event_type, user_id) and
    # allocates one HLL buffer per DISTINCT USER instead of one per
    # (partition, event_type) — the exact pathology the sketch exists to
    # avoid (same finding as ops/report.corpus_report, see SCALE.md)
    hll = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n"),
    ).join(F.broadcast(hll), "event_type")
    return agg.select(
        "event_type",
        "exact_users",
        "n",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("hll_within_bound"),
    )


def _q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort conversion funnel: per signup day, users whose first signup
    is followed by a purchase within 7 days. Plan shape: groupBy(user)
    shuffle → co-partitioned join on user → tiny cohort aggregation."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    conv = (
        (F.col("pts") > F.col("signup_ts"))
        & (F.col("pts") <= F.col("signup_ts") + F.lit(FUNNEL_WINDOW_NS))
    )
    per_user = (
        s.join(p, "user_id", "left")
        .groupBy("user_id", "signup_ts")
        .agg(F.max(F.when(conv, 1).otherwise(0)).alias("converted"))
    )
    return (
        per_user.withColumn("cohort_day", F.expr(f"signup_ts div {NS_PER_DAY}"))
        .groupBy("cohort_day")
        .agg(
            F.count("*").alias("n_signups"),
            F.sum("converted").alias("n_converted"),
            F.round(F.sum("converted") / F.count("*"), 6).alias("conversion_rate"),
        )
    )


def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (ops/joins.py; beyond-reference, SURVEY §2.8): each
    purchase enriched with the latest prior-or-equal click value of the
    same user. union + one window pass — a single shuffle on user_id,
    no join operator at all, whole plan codegen'd."""
    # whole computation in µs: DuckDB truncates parquet ns timestamps to
    # µs, and the ordering (not just the output) must agree across engines
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.expr("ts div 1000"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    return joins.asof_join(
        p, c, on=["user_id"], values=["value"], tie_break="event_id"
    ).select("event_id", "user_id", "ts", "asof_value")


def _q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed range join (ops/joins.py): clicks within the hour before
    each purchase, aggregated per purchase. Equality key (user_id)
    rides the join keys → hash/SMJ with the interval as residual."""
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.expr("ts div 1000"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), "value"
    )
    j = joins.range_join(
        p, c, on=["user_id"], left_ts="ts", right_ts="cts",
        lower=-NS_PER_HOUR // 1000, upper=0, how="left",
    )
    return j.groupBy(
        F.col("__l.event_id").alias("event_id"),
        F.col("__l.user_id").alias("user_id"),
        F.col("__l.ts").alias("ts"),
    ).agg(
        F.count(F.col("__r.cts")).alias("n_clicks"),
        F.coalesce(F.sum(F.col("__r.value").cast(_DEC)), F.lit(0).cast(_DEC))
        .cast("double")
        .alias("click_value"),
    )


US_PER_MIN = 60 * 10**6


def _q_events_corr_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-less interval join (ops/joins.range_join_buckets): clicks by
    ANY user within ±60 s of each error event. Time-bucket blocking
    turns the would-be nested-loop cross join into a bucket equi-join
    (right side duplicated ≤2×), then counts join back onto all errors."""
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.expr("ts div 1000"))
    e = ev.where(F.col("event_type") == "error").select("event_id", "ts")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("ts").alias("cts")
    )
    j = joins.range_join_buckets(
        e, c, left_ts="ts", right_ts="cts",
        lower=-US_PER_MIN, upper=US_PER_MIN,
    )
    counts = j.groupBy(F.col("__l.event_id").alias("event_id")).agg(
        F.count("*").alias("n_nearby")
    )
    return e.join(counts, "event_id", "left").select(
        "event_id", "ts", F.coalesce(F.col("n_nearby"), F.lit(0)).alias("n_nearby")
    )


def _q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP over (nation, segment): subtotals + grand total
    in one shuffle with map-side partial aggregation (the hypertable
    rollup analogue). nation/customer dims broadcast under AQE."""
    o = _t(spark, sf_dir, "orders")
    cst = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = o.join(cst, o.o_custkey == cst.c_custkey).join(
        F.broadcast(n), cst.c_nationkey == n.n_nationkey
    )
    return (
        j.rollup("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("(all)")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("(all)")).alias("segment"),
            "n_orders",
            "revenue",
        )
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-day event counts, one column per event type. The pivot
    value list is explicit so Spark skips the extra distinct-values job
    and the output schema is stable at any scale."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.expr(f"ts div {NS_PER_DAY}"))
        .groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


def _q_order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p95) per order priority.
    Exact percentile needs the per-group values together — fine at dim-
    like group counts; at 100 TB swap in approx_percentile (t-digest,
    mergeable map-side partials) — same call shape."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
        F.count("*").alias("n_orders"),
    )


def _q_nations_without_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT): nations that have customers but no
    high-balance (acctbal > 8000) supplier."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 8000)
    cust_nations = n.join(c, n.n_nationkey == c.c_nationkey).select("n_name")
    supp_nations = n.join(s, n.n_nationkey == s.s_nationkey).select("n_name")
    # subtract == SQL EXCEPT (set semantics): drops every nation that
    # appears on the supplier side, regardless of multiplicity
    return cust_nations.subtract(supp_nations)


def _q_nations_with_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cust_nations = n.join(c, n.n_nationkey == c.c_nationkey).select("n_name")
    supp_nations = n.join(s, n.n_nationkey == s.s_nationkey).select("n_name")
    return cust_nations.intersect(supp_nations)


# ----------------------------------------------------------------- dedup
def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return dedup.exact_duplicates(ev, "event_id", F.col("props"))


def _q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs, "doc_id", "text")


def _q_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.near_duplicates(docs, "doc_id", "text", threshold=0.8)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.near_duplicate_clusters(docs, "doc_id", "text", threshold=0.8)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bits=16 EXPLICIT: this retired row pins the small-corpus/oracle
    # layout (_simhash_sql); the library default is 64 since round 13.
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3, bits=16
    )


def _q_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash near-pairs (Manku/Jain/Sarma WWW'07 width) — the
    registered variant since round 12: the 16-bit layout saturates past
    ~10⁵ docs (SCALE.md sf1 sweep), so the registry checks the
    fingerprint the 100 TB path actually uses."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3, bits=64
    )


def _q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level minhash overlap between the even-id and odd-id halves
    of the documents table — the train/test split shape whose overlap a
    curator estimates before running per-document decontamination."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.corpus_minhash_overlap(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )


# ------------------------------------------------------------------ text
def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): pure per-row map, single-row-group scan (guide §2.5)
    return text.text_stats(spread(_t(spark, sf_dir, "documents")))


def _q_text_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language distribution with mean quality per language — the
    first thing a training-data curator asks of a new crawl. Rides the
    same n-gram lang-ID + quality expressions as text_stats, so the
    oracle is a GROUP BY over the shared generated SQL."""
    stats = text.text_stats(_t(spark, sf_dir, "documents"))
    # DECIMAL-accumulate the (already 6dp-rounded) quality so the mean is
    # exact regardless of partition summation order — same determinism
    # pattern as the money queries
    dec = "decimal(18,6)"
    return stats.groupBy("lang_guess").agg(
        F.count("*").alias("n_docs"),
        F.round(
            (F.sum(F.col("quality").cast(dec)) / F.count("*")).cast("double"), 6
        ).alias("avg_quality"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def _q_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(50)
    )


# Deterministic multi-line derivation of the (single-line) documents
# table for the boilerplate oracle: every doc gains a template footer on
# a doc_id-modulus schedule — 'subscribe…' rides ~3/7 of docs and the
# copyright line ~2/5 (both clear the 5% frequency gate), while the
# 'unique-<id>' lines never repeat. Same construction in the DuckDB SQL.
_BP_DERIVE = (
    "concat(text, chr(10), "
    "CASE WHEN doc_id % 7 < 3 THEN 'subscribe to our newsletter' "
    "ELSE concat('unique-', CAST(doc_id AS STRING)) END, chr(10), "
    "CASE WHEN doc_id % 5 < 2 THEN 'copyright footer 2024' ELSE '' END)"
)


def _q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line removal (ops/text.remove_boilerplate)
    over the derived multi-line corpus: per-doc rebuilt text plus
    line/removal counts — the removal pass is a pure map over a one-row
    broadcast dictionary."""
    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_BP_DERIVE} AS text"
    )
    return text.remove_boilerplate(docs)


# Deterministic messy-URL derivation for the URL-dedup rows (round 13):
# each 5-doc window is one "page" crawled under four cosmetic variants —
# scheme/host case, www. prefix, default port, tracking params, query
# order, trailing slash, fragment — plus one genuinely unique URL on a
# second domain. The DuckDB twin below builds the identical strings, so
# the oracle checks the normalization rules end to end.
_URL_DERIVE = (
    "CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN concat('https://www.Example.COM/page/', "
    "CAST(doc_id DIV 5 AS STRING), '?z=2&id=', CAST(doc_id DIV 5 AS STRING), "
    "'&utm_source=feed') "
    "WHEN 1 THEN concat('http://example.com:80/page/', "
    "CAST(doc_id DIV 5 AS STRING), '?id=', CAST(doc_id DIV 5 AS STRING), "
    "'&z=2&gclid=g', CAST(doc_id AS STRING)) "
    "WHEN 2 THEN concat('https://example.com/page/', "
    "CAST(doc_id DIV 5 AS STRING), '?utm_campaign=x&id=', "
    "CAST(doc_id DIV 5 AS STRING), '&z=2#frag') "
    "WHEN 3 THEN concat('https://blog.example.org/post/', "
    "CAST(doc_id AS STRING)) "
    "ELSE concat('HTTPS://www.example.com/page/', "
    "CAST(doc_id DIV 5 AS STRING), '/?z=2&id=', "
    "CAST(doc_id DIV 5 AS STRING)) END"
)

_URL_DERIVE_DUCK = (
    "CASE doc_id % 5 "
    "WHEN 0 THEN 'https://www.Example.COM/page/' || (doc_id // 5) "
    "|| '?z=2&id=' || (doc_id // 5) || '&utm_source=feed' "
    "WHEN 1 THEN 'http://example.com:80/page/' || (doc_id // 5) "
    "|| '?id=' || (doc_id // 5) || '&z=2&gclid=g' || doc_id "
    "WHEN 2 THEN 'https://example.com/page/' || (doc_id // 5) "
    "|| '?utm_campaign=x&id=' || (doc_id // 5) || '&z=2#frag' "
    "WHEN 3 THEN 'https://blog.example.org/post/' || doc_id "
    "ELSE 'HTTPS://www.example.com/page/' || (doc_id // 5) "
    "|| '/?z=2&id=' || (doc_id // 5) END"
)


def _url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "n_chars", f"{_URL_DERIVE} AS url"
    )


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level keep-best dedup (ops/url.url_dedup): normalize the
    derived messy URLs to canonical keys (RFC 3986 §6 safe set +
    tracking-param strip + query sort) and keep the largest document
    per key — one map stage plus ONE hash aggregation."""
    from logrange_spark.ops import url as url_ops

    return url_ops.url_dedup(_url_docs(spark, sf_dir), quality_col="n_chars")


def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl statistics (ops/url.domain_stats): the aggregate
    a RefinedWeb-style URL-filtering stage consults — doc counts,
    distinct canonical URLs, duplicate ratio, mean size."""
    from logrange_spark.ops import url as url_ops

    return url_ops.domain_stats(_url_docs(spark, sf_dir), chars_col="n_chars")


# ------------------------------------------------------------------- ann
def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ann.cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=10)


def _q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ann.bucketed_topk(emb, emb.where(F.col("vec_id") < 10), k=10)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ann.ivf_topk(emb, emb.where(F.col("vec_id") < 10), k=10)


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k (ops/ann.pq_topk): codebooks seeded from the 16
    lowest-id vectors (the pq_seed_codebooks convention) so the DuckDB
    oracle recomputes the identical constants from the table itself."""
    emb = _t(spark, sf_dir, "embeddings")
    books = ann.pq_seed_codebooks(emb)
    return ann.pq_topk(emb, emb.where(F.col("vec_id") < 10), k=10, codebooks=books)


def _q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        F.size(text.bpe_ish_tokens(c)).alias("n_bpe_tokens"),
        text.token_count(c).alias("n_ws_tokens"),
        F.length(c).alias("n_chars"),
    )


def _q_text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.rolling_hash(F.col("text")).alias("rhash"))


def _q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logrange_spark.streaming import sessionize

    ev = _t(spark, sf_dir, "events")
    timed = ev.select(
        "user_id", F.timestamp_micros(F.expr("ts div 1000")).alias("t")
    )
    return sessionize(timed, key_col="user_id", ts_col="t", gap="30 minutes")


def _q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows via F.window (the watermark-capable
    streaming aggregation, run in batch for the oracle). 6-hour windows
    keyed by event_type; Spark windows align to the epoch, so the oracle
    is plain epoch floor division."""
    from logrange_spark.streaming import windowed_counts

    ev = _t(spark, sf_dir, "events")
    timed = ev.select(
        "event_type", F.timestamp_micros(F.expr("ts div 1000")).alias("t")
    )
    return windowed_counts(timed, ts_col="t", window="6 hours", key_col="event_type")


def _q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition: quality filter → near-dup removal → survivors.

    The canonical training-data curation pipeline: documents scoring
    quality ≥ 0.5, with near-duplicates (token-Jaccard ≥ 0.8 via
    MinHash-LSH candidates) removed keep-first (drop the higher doc_id of
    each pair)."""
    docs = _t(spark, sf_dir, "documents")
    # quality is a pure map-side expression — filter the docs directly
    # instead of self-joining against the stats frame (no shuffle).
    # Round like text_stats does so the threshold matches the oracle's
    # rounded quality column.
    # r16: spread + materialize the filtered frame ONCE — it has two
    # independent consumers (the near-dup token frame and the final
    # text_stats projection), so the quality expression (a multi-
    # tokenization fold) evaluated twice, inside single-task scan
    # stages; the checkpoint runs it once, 32-wide, and both consumers
    # read materialized rows (same posture as the capstone's gated
    # frame).
    qdocs = (
        dedup.spread(docs.select("doc_id", "text"))
        .where(F.round(F.expr(text.quality_score_sql("text")), 6) >= 0.5)
        .localCheckpoint(eager=False)
    )
    # token frame off the checkpoint (the capstone's toked= pattern):
    # _token_frame would pay a second repartition exchange of the token
    # arrays — the checkpoint is already spread-wide, so the tokenize
    # is a pure map read with the same (size ≥ SHINGLE_N, id not null)
    # gate _token_frame applies.
    toked = qdocs.selectExpr(
        "doc_id", f"{text.tokens_sql('text')} AS _tok"
    ).where(
        (F.size("_tok") >= dedup.SHINGLE_N) & F.col("doc_id").isNotNull()
    )
    # O(n)-output drop set: provably equal to materializing all near-dup
    # pairs and dropping id_b, without the within-cluster pair volume.
    # unique=False: left_anti ignores right-side multiplicity, so the
    # drop set's final distinct exchange is pure waste here.
    drop = dedup.near_duplicate_drops(qdocs, "doc_id", "text", threshold=0.8,
                                      unique=False, toked=toked)
    # merge hint: the drop set grows with the corpus's duplicate volume
    # and its size estimate is join-derived — an estimate-driven
    # broadcast anti-join dies at a duplicate-heavy 100 TB corpus
    # (round-13 suite-wide broadcast audit)
    return text.text_stats(qdocs).select(
        "doc_id", "quality", "fingerprint"
    ).hint("merge").join(drop, "doc_id", "left_anti")


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ann.embedding_near_duplicates(emb, threshold=0.3)


def _q_salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-busting salted join, oracle-checked (not in the 50-entry
    registry — the driver report caps at 50 rows; its oracle runs in
    tests/test_entry_contract.py::test_salted_join_skew_oracle).

    event_type has only 5 values, so EVERY key is a hot key: a plain
    shuffle join puts ~20% of the fact table on one reducer. Salting
    spreads each key over 8 shuffle partitions; the soundness contract is
    that the result is identical to the plain inner join, which is
    exactly what the DuckDB twin checks.
    """
    from logrange_spark.ops.util import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.select("event_type").distinct()
        .withColumn("weight", F.length("event_type").cast("long"))
    )
    joined = salted_join(ev, dim, on="event_type", how="inner", salts=8)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(_DEC) * F.col("weight")).cast("double").alias(
            "weighted_value"
        ),
    )


def _q_training_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash 90/5/5 train/val/test split, oracle-checked
    (pytest oracle — the driver registry is at its 50-row cap; see
    tests/test_entry_contract.py::test_training_split_oracle). Pure
    map-side md5-hex threshold compare: no RNG, no shuffle, stable under
    corpus growth."""
    from logrange_spark.ops.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05},
                   salt="r5")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n"))
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (50% en, 10% everything else),
    oracle-checked in pytest alongside training_split."""
    from logrange_spark.ops.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, default=0.1,
                          salt="mix")
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_id"))
    )


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (ops/text.repetition_stats),
    oracle-checked in pytest (registry is at the driver's 50-row cap;
    tests/test_entry_contract.py::test_repetition_stats_oracle)."""
    from logrange_spark.ops.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _q_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (ops/text.redact) over synthesized PII-bearing text:
    the documents table's text is decorated with a deterministic email /
    IPv4 / long number per doc so every pattern exercises on real data.
    Oracle-checked in pytest (registry at the 50-row cap)."""
    from logrange_spark.ops.text import redact

    docs = _t(spark, sf_dir, "documents")
    decorated = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" ref 90000000"), (F.col("doc_id") % 10).cast("string"),
        ).alias("text"),
    )
    return redact(decorated)


REDACT_ORACLE_SQL = """
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example' || CAST(doc_id % 7 AS VARCHAR)
              || '.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              || ' ref 90000000' || CAST(doc_id % 10 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
           '[0-9]{9,}', '<NUM>', 'g') AS redacted,
       CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text,
           '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS INT) AS n_longnums
FROM d
""".strip()


# DuckDB twin: lines/grams via unnest+groupBy instead of sorted-array
# folds — an independent computation of the same integer numerators and
# denominators, so the single double division matches bit-for-bit.
def _repetition_sql(src: str = "documents") -> str:
    return REPETITION_ORACLE_TMPL.replace("FROM __SRC__", f"FROM {src}")


REPETITION_ORACLE_TMPL = """
WITH l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS w
  FROM __SRC__
),
lu AS (SELECT doc_id, unnest(lines) AS line FROM l),
lg AS (SELECT doc_id, line, count(*) AS c, len(line) AS ln
       FROM lu GROUP BY doc_id, line),
lagg AS (
  SELECT doc_id,
         SUM(c) AS n_lines,
         COUNT(*) AS n_distinct,
         SUM(CASE WHEN c > 1 THEN c * ln ELSE 0 END) AS dup_chars,
         SUM(c * ln) AS line_chars
  FROM lg GROUP BY doc_id
),
g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
              ELSE [] END AS grams,
         list_reduce(list_prepend(0, list_transform(w, x -> len(x))),
                     (a, b) -> a + b) AS token_chars
  FROM l
),
gu AS (SELECT doc_id, unnest(grams) AS gram FROM g),
gg AS (SELECT doc_id, gram, count(*) AS c, len(gram) AS ln
       FROM gu GROUP BY doc_id, gram),
gagg AS (SELECT doc_id, MAX(c * ln) AS top_chars FROM gg GROUP BY doc_id)
SELECT l.doc_id,
       CAST(COALESCE(lagg.n_lines, 0) AS INT) AS n_lines,
       round(CASE WHEN COALESCE(lagg.n_lines, 0) > 0
                  THEN 1.0 - lagg.n_distinct / CAST(lagg.n_lines AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_line_frac,
       round(CASE WHEN COALESCE(lagg.line_chars, 0) > 0
                  THEN lagg.dup_chars / CAST(lagg.line_chars AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_line_char_frac,
       round(LEAST(1.0, CASE WHEN COALESCE(g.token_chars, 0) > 0
                             THEN COALESCE(gagg.top_chars, 0)
                                  / CAST(g.token_chars AS DOUBLE)
                             ELSE 0.0 END), 6) AS top_ngram_char_frac
FROM l LEFT JOIN lagg USING (doc_id)
       LEFT JOIN g USING (doc_id)
       LEFT JOIN gagg USING (doc_id)
""".strip()

# back-compat alias (tests reference the old constant name)
REPETITION_ORACLE_SQL = _repetition_sql()


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (ops/text.contamination): per-document
    8-gram overlap against an eval set — here a deterministic slice of
    the corpus itself (doc_id % 97 == 0) so the DuckDB twin can rebuild
    the identical benchmark. Oracle-checked in pytest
    (tests/test_entry_contract.py::test_contamination_oracle; registry
    at the driver's 50-row cap)."""
    from logrange_spark.ops.text import contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return contamination(docs, bench, n=8)


def _contamination_sql(n: int = 8) -> str:
    return f"""
WITH {_tok_cte()},
sh AS (SELECT doc_id, list_distinct(
  [array_to_string(w[i:i+{n - 1}], ' ') FOR i IN range(1, greatest(len(w)-{n - 2}, 1))]) AS g
  FROM toks),
bench AS (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 97 = 0),
du AS (SELECT doc_id, unnest(g) AS gram FROM sh),
hits AS (SELECT doc_id, count(*) AS n_contaminated
         FROM du JOIN bench USING (gram) GROUP BY doc_id),
totals AS (SELECT doc_id, len(g) AS n_grams FROM sh)
SELECT t.doc_id,
       CAST(t.n_grams AS INT) AS n_grams,
       CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(CASE WHEN t.n_grams > 0
                  THEN coalesce(h.n_contaminated, 0) / CAST(t.n_grams AS DOUBLE)
                  ELSE 0.0 END, 6) AS contamination
FROM totals t LEFT JOIN hits h USING (doc_id)
""".strip()


# round-8 rotation: the round-7 LLM-pipeline operators enter the 50-row
# registry with DuckDB twins (VERDICT r7 next-round #2)

MIXTURE_WEIGHTS = {"en": 0.5, "de": 0.2, "es": 0.15, "fr": 0.1, "zh": 0.05}


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling (ops/sampling.mixture_sample): remix the
    corpus to a fixed language mixture at constant size. Deterministic
    md5-threshold fractional epochs, so the DuckDB twin recomputes the
    identical (doc_id, lang, copy) multiset."""
    from logrange_spark.ops.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_sample(docs, "doc_id", "lang", MIXTURE_WEIGHTS)


def _mixture_sql() -> str:
    wsum = sum(MIXTURE_WEIGHTS.values())
    vals = ", ".join(f"('{d}', {w!r})" for d, w in MIXTURE_WEIGHTS.items())
    # rate arithmetic mirrors mixture_sample's driver-side Python
    # expression shape exactly: ((total * w) / wsum) / n, IEEE doubles
    return f"""
WITH w(d, wt) AS (VALUES {vals}),
c AS (SELECT lang AS d, count(*) AS n FROM documents GROUP BY lang),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
r AS (SELECT c.d, ((CAST(t.total AS DOUBLE) * w.wt) / {wsum!r}) / CAST(c.n AS DOUBLE) AS rate
      FROM c JOIN w USING (d) CROSS JOIN t),
k AS (SELECT d.doc_id, d.lang,
             CAST(trunc(r.rate) AS INT)
             + CASE WHEN substr(md5('|' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                         < printf('%08x', CAST(round((r.rate - trunc(r.rate)) * 4294967296.0) AS BIGINT))
                    THEN 1 ELSE 0 END AS k
      FROM documents d JOIN r ON d.lang = r.d)
SELECT doc_id, lang, CAST(unnest(range(k)) AS INT) AS "copy" FROM k WHERE k > 0
""".strip()


def _q_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM scoring (ops/text.unigram_lm_score),
    corpus-trained vocabulary with add-alpha smoothing."""
    from logrange_spark.ops.text import unigram_lm_score

    return unigram_lm_score(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _unigram_sql(alpha: float = 0.5) -> str:
    # sf0.01's synthetic vocabulary (~31 tokens) is far below the 50k
    # vocab cut, so every token is in-vocab and the OOV path is dormant
    # (it stays covered by tests/test_ops.py::test_unigram_lm_score_*)
    return f"""
WITH {_tok_cte()},
ex AS (SELECT doc_id, unnest(w) AS t FROM toks),
cnt AS (SELECT t, count(*) AS c FROM ex GROUP BY t),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt, count(*) AS v FROM cnt),
vocab AS (SELECT t, ln((c + {alpha!r}) / (tt + {alpha!r} * (v + 1))) AS logp
          FROM cnt CROSS JOIN tot),
perdoc AS (SELECT doc_id, count(*) AS n_tokens,
                  round(avg(logp), 6) AS avg_logprob
           FROM ex JOIN vocab USING (t) GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       p.avg_logprob, round(exp(-p.avg_logprob), 4) AS ppl
FROM documents d LEFT JOIN perdoc p USING (doc_id)
""".strip()


def _q_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (ops/text.kn_bigram_lm
    / kn_bigram_score), model trained on the documents table itself and
    scored over it — CCNet's n-gram LM filter signal at order 2. Floats
    cross engines, so the registry row rounds like text_unigram_ppl:
    avg to 6dp, ppl recomputed from the ROUNDED avg at 4dp."""
    from logrange_spark.ops.text import kn_bigram_lm, kn_bigram_score

    # NO spread() here (r16, measured): this row is stage-barrier-bound
    # (33 stages, 2.5 executor-seconds total at sf0.1) — parallelizing
    # the 0.8 s tokenize map behind an extra exchange pair consistently
    # measured +0.4 s, not less.
    docs = _t(spark, sf_dir, "documents")
    model = kn_bigram_lm(docs)
    # self_scored (r17, VERDICT r16 #4): the score corpus IS the train
    # corpus, so every event's bigram is in the model and the ctx facts
    # ride the bigram table (window over u, model-scaled) — one
    # event-stream SMJ + one event-stream Exchange removed, scores
    # bit-identical (see kn_bigram_score's contract + focused test).
    s = kn_bigram_score(docs, model, self_scored=True)
    avg6 = F.round(F.col("avg_logprob"), 6)
    return s.select(
        "doc_id",
        "n_events",
        avg6.alias("avg_logprob"),
        F.round(F.exp(-avg6), 4).alias("ppl"),
    )


def _kn_sql(discount: float = 0.75, alpha: float = 0.5) -> str:
    # the score corpus IS the train corpus, so every event's context is
    # seen (cu > 0) and the unseen-context fallback stays dormant here —
    # covered by tests/test_ops.py::test_kn_bigram_twin
    return f"""
WITH {_tok_cte()},
ev AS (SELECT doc_id, us[i] AS u, ws[i] AS w
       FROM (SELECT doc_id, list_prepend('<s>', w) AS us,
                    list_append(w, '</s>') AS ws FROM toks),
            unnest(range(1, len(ws) + 1)) AS t(i)),
cuw AS (SELECT u, w, count(*) AS c FROM ev GROUP BY u, w),
ctx AS (SELECT u, CAST(sum(c) AS BIGINT) AS cu, count(*) AS n1u
        FROM cuw GROUP BY u),
cont AS (SELECT w, count(*) AS n1w FROM cuw GROUP BY w),
tot AS (SELECT count(*) AS n1pp, count(DISTINCT w) AS v FROM cuw),
scored AS (
  SELECT ev.doc_id,
         ln((greatest(coalesce(cuw.c, 0) - {discount!r}, 0.0)
             + {discount!r} * coalesce(ctx.n1u, 0)
               * ((coalesce(cont.n1w, 0) + {alpha!r})
                  / (tot.n1pp + {alpha!r} * (tot.v + 1)))) / ctx.cu) AS lp
  FROM ev
  LEFT JOIN cuw USING (u, w)
  LEFT JOIN ctx USING (u)
  LEFT JOIN cont USING (w)
  CROSS JOIN tot),
perdoc AS (SELECT doc_id, count(*) AS n_events,
                  round(avg(lp), 6) AS avg_logprob
           FROM scored GROUP BY doc_id)
SELECT doc_id, CAST(n_events AS BIGINT) AS n_events, avg_logprob,
       round(exp(-avg_logprob), 4) AS ppl
FROM perdoc
""".strip()


BM25_QUERY = "join hash scan"


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical search (ops/text.bm25_search), top-10 for a fixed
    3-term query over the documents table."""
    from logrange_spark.ops.text import bm25_search

    return bm25_search(_t(spark, sf_dir, "documents"), BM25_QUERY, k=10)


def _bm25_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    terms = sorted({t for t in BM25_QUERY.lower().split() if t})
    inlist = ", ".join(f"'{t}'" for t in terms)
    # constant folding mirrors bm25_search's Python-side arithmetic:
    # (k1+1), (1-b) and b are embedded as the exact doubles Spark uses
    return f"""
WITH {_tok_cte()},
dl AS (SELECT doc_id, len(w) AS dl, w FROM toks),
consts AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, t, count(*) AS tf, max(dl) AS dl
       FROM (SELECT doc_id, dl, unnest(w) AS t FROM dl)
       WHERE t IN ({inlist}) GROUP BY doc_id, t),
dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
sc AS (SELECT tf.doc_id,
              ln(1.0 + (consts.nd - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * {k1 + 1!r}
              / (tf.tf + {k1!r} * ({1 - b!r} + ({b!r} * tf.dl) / consts.avgdl)) AS s
       FROM tf JOIN dfreq USING (t) CROSS JOIN consts)
SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def _q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document smoothed tf-idf keywords (ops/text.tfidf_keywords),
    top-10 terms per document."""
    from logrange_spark.ops.text import tfidf_keywords

    return tfidf_keywords(_t(spark, sf_dir, "documents"), m=10)


def _tfidf_sql(m: int = 10) -> str:
    return f"""
WITH {_tok_cte()},
dl AS (SELECT doc_id, len(w) AS dl, w FROM toks),
tf AS (SELECT doc_id, t AS token, count(*) AS tf, max(dl) AS dl
       FROM (SELECT doc_id, dl, unnest(w) AS t FROM dl) GROUP BY doc_id, t),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
nd AS (SELECT count(*) AS n FROM toks),
sc AS (SELECT tf.doc_id, tf.token,
              round((tf.tf / CAST(tf.dl AS DOUBLE))
                    * (ln((nd.n + 1) / CAST(dfreq.df + 1 AS DOUBLE)) + 1), 6) AS score
       FROM tf JOIN dfreq USING (token) CROSS JOIN nd)
SELECT doc_id, token, score, CAST(rnk AS INT) AS "rank" FROM (
  SELECT doc_id, token, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
  FROM sc) WHERE rnk <= {m}
""".strip()


def _url_dedup_sql() -> str:
    from logrange_spark.ops.url import normalize_url_duckdb

    return f"""
WITH u AS (SELECT doc_id, n_chars, {_URL_DERIVE_DUCK} AS url FROM documents
           WHERE url IS NOT NULL AND trim(url,
             ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)
           ) <> ''),
n AS (SELECT doc_id, n_chars, {normalize_url_duckdb('url')} AS url_norm FROM u),
r AS (SELECT url_norm, doc_id, n_chars,
        row_number() OVER (PARTITION BY url_norm
                           ORDER BY n_chars DESC, doc_id) AS rn,
        count(*) OVER (PARTITION BY url_norm) AS nv
      FROM n WHERE url_norm IS NOT NULL)
SELECT url_norm, doc_id AS kept_id, nv AS n_variants FROM r WHERE rn = 1
""".strip()


def _domain_stats_sql() -> str:
    from logrange_spark.ops.url import normalize_url_duckdb, url_host_duckdb

    return f"""
WITH u AS (SELECT doc_id, n_chars, {_URL_DERIVE_DUCK} AS url FROM documents)
SELECT {url_host_duckdb('url')} AS host,
       count(*) AS n_docs,
       count(DISTINCT {normalize_url_duckdb('url')}) AS n_urls,
       avg(n_chars) AS avg_chars,
       round(1.0 - count(DISTINCT {normalize_url_duckdb('url')}) / count(*),
             6) AS dup_ratio
FROM u GROUP BY 1
""".strip()


def _q_hamming_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic banded-Hamming pair operator
    (ops/dedup.hamming_near_pairs — the engine behind the simhash
    near-dup paths) over a SQL-reproducible 64-bit fingerprint (the
    document's n_chars), so the DuckDB twin is a plain brute-force
    bit_count(xor) join. The banding, grid salting and
    first-matching-band residual are exactly what the simhash paths
    execute."""
    from logrange_spark.ops.dedup import hamming_near_pairs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("fp")
    )
    return hamming_near_pairs(docs, "doc_id", "fp", bits=64, max_hamming=2)


def _hamming_fp_sql(max_hamming: int = 2) -> str:
    return f"""
WITH f AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS fp FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM f a JOIN f b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
""".strip()


def _q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the complete training-data curation flow in
    one DataFrame program (pytest oracle; registry at the 50-row cap):

      1. gate: quality >= 0.5 AND Gopher repetition rules
         (dup_line_frac <= 0.3, top_ngram_char_frac <= 0.2)
      2. near-dup removal: MinHash-LSH candidates + token-Jaccard >= 0.8,
         keep-first (drop the higher doc_id of each pair)
      3. PII redaction counts on the survivors
      4. deterministic 90/5/5 split assignment (hash-threshold)

    Every stage is the already-oracle-checked operator; this row checks
    their COMPOSITION end-to-end against one DuckDB twin."""
    from logrange_spark.ops.sampling import hash_split
    from logrange_spark.ops.text import redact, repetition_stats

    docs = _t(spark, sf_dir, "documents")
    rep_ok = (
        repetition_stats(docs)
        .where((F.col("dup_line_frac") <= 0.3) & (F.col("top_ngram_char_frac") <= 0.2))
        .select("doc_id")
    )
    qdocs = docs.join(rep_ok, "doc_id").where(
        F.round(F.expr(text.quality_score_sql("text")), 6) >= 0.5
    )
    drop = dedup.near_duplicate_drops(qdocs, "doc_id", "text", threshold=0.8,
                                      unique=False)  # left_anti consumer
    kept = qdocs.join(drop, "doc_id", "left_anti")
    red = redact(kept)
    split = hash_split(kept.select("doc_id"), "doc_id",
                       {"train": 0.9, "val": 0.05, "test": 0.05}, salt="r5")
    return (
        red.select("doc_id", "n_emails", "n_ips", "n_longnums")
        .join(split.select("doc_id", "split"), "doc_id")
    )


def _curation_full_sql() -> str:
    from logrange_spark.ops.sampling import hex_threshold

    t_train, t_val = hex_threshold(0.9), hex_threshold(0.95)
    rep_gate = """
l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS wname
  FROM documents
),
lu AS (SELECT doc_id, unnest(lines) AS line FROM l),
lg AS (SELECT doc_id, line, count(*) AS c, len(line) AS ln
       FROM lu GROUP BY doc_id, line),
lagg AS (SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_distinct
         FROM lg GROUP BY doc_id),
gx AS (
  SELECT doc_id,
         CASE WHEN len(wname) >= 2
              THEN list_transform(range(1, len(wname)),
                                  i -> wname[i] || ' ' || wname[i+1])
              ELSE [] END AS grams,
         list_reduce(list_prepend(0, list_transform(wname, x -> len(x))),
                     (a, b) -> a + b) AS token_chars
  FROM l
),
gu AS (SELECT doc_id, unnest(grams) AS gram FROM gx),
gg AS (SELECT doc_id, gram, count(*) AS c, len(gram) AS ln
       FROM gu GROUP BY doc_id, gram),
gagg AS (SELECT doc_id, MAX(c * ln) AS top_chars FROM gg GROUP BY doc_id),
repok AS (
  SELECT l.doc_id FROM l
    LEFT JOIN lagg USING (doc_id)
    LEFT JOIN gx USING (doc_id)
    LEFT JOIN gagg USING (doc_id)
  WHERE round(CASE WHEN COALESCE(lagg.n_lines, 0) > 0
                   THEN 1.0 - lagg.n_distinct / CAST(lagg.n_lines AS DOUBLE)
                   ELSE 0.0 END, 6) <= 0.3
    AND round(LEAST(1.0, CASE WHEN COALESCE(gx.token_chars, 0) > 0
                              THEN COALESCE(gagg.top_chars, 0)
                                   / CAST(gx.token_chars AS DOUBLE)
                              ELSE 0.0 END), 6) <= 0.2
)""".strip()
    return (
        f"WITH {rep_gate}, "
        f"stats AS ({_text_stats_sql()}), "
        "q AS (SELECT s.doc_id FROM stats s JOIN repok USING (doc_id) "
        "      WHERE s.quality >= 0.5), "
        "qdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN q USING (doc_id)), "
        f"{_tok_cte('qdocs')}, {_shingle_cte()}, {_sig_cte()}, {_bands_cte()}, "
        "pairs AS (SELECT DISTINCT lb.doc_id AS id_a, rb.doc_id AS id_b "
        "  FROM bands lb JOIN bands rb "
        "  ON lb.band = rb.band AND lb.band_hash = rb.band_hash AND lb.doc_id < rb.doc_id), "
        "dtok AS (SELECT doc_id, list_distinct(w) AS tok FROM toks), "
        "nd AS (SELECT id_a, id_b FROM ("
        "  SELECT id_a, id_b, "
        "    round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) "
        "        / len(list_distinct(list_concat(a.tok, b.tok))), 6) AS jaccard "
        "  FROM pairs JOIN dtok a ON pairs.id_a = a.doc_id "
        "  JOIN dtok b ON pairs.id_b = b.doc_id) "
        "WHERE jaccard >= 0.8), "
        "kept AS (SELECT doc_id, text FROM qdocs "
        "         WHERE doc_id NOT IN (SELECT id_b FROM nd)) "
        "SELECT doc_id, "
        "  CAST(len(regexp_extract_all(text, "
        "      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, "
        "  CAST(len(regexp_extract_all(text, "
        "      '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS INT) AS n_ips, "
        "  CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS INT) AS n_longnums, "
        "  CASE WHEN substring(md5('r5|' || CAST(doc_id AS VARCHAR)), 1, 8) "
        f"            < '{t_train}' THEN 'train' "
        "       WHEN substring(md5('r5|' || CAST(doc_id AS VARCHAR)), 1, 8) "
        f"            < '{t_val}' THEN 'val' "
        "       ELSE 'test' END AS split "
        "FROM kept"
    )


def _sampling_oracle_sql() -> dict[str, str]:
    from logrange_spark.ops.sampling import hex_threshold

    t_train, t_val = hex_threshold(0.9), hex_threshold(0.95)
    t_en, t_def = hex_threshold(0.5), hex_threshold(0.1)
    return {
        "training_split": f"""
SELECT CASE WHEN substring(md5('r5|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{t_train}' THEN 'train'
            WHEN substring(md5('r5|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{t_val}' THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n
FROM documents GROUP BY 1, 2""".strip(),
        "stratified_sample": f"""
SELECT lang, count(*) AS n, min(doc_id) AS first_id
FROM documents
WHERE substring(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8)
      < CASE WHEN lang = 'en' THEN '{t_en}' ELSE '{t_def}' END
GROUP BY lang""".strip(),
    }


SALTED_JOIN_ORACLE_SQL = f"""
SELECT e.event_type AS event_type, count(*) AS n,
  CAST(SUM(CAST(e.value AS {_DEC}) * d.weight) AS DOUBLE) AS weighted_value
FROM events e
JOIN (SELECT DISTINCT event_type, CAST(LENGTH(event_type) AS BIGINT) AS weight
      FROM events) d
  ON e.event_type = d.event_type
GROUP BY e.event_type""".strip()


# --------------------------------------------------- ingestion parsers
# Oracle strategy for the collector parsers (SURVEY §2.1 S5-S8): build
# deterministic raw log lines FROM the events table on the Spark side,
# run the real parser transform over them, and have DuckDB compute the
# expected parse output directly from the source columns. This checks the
# whole construct→parse→normalize loop without golden files.

_K8S_TIME_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


# round-9 rotation: the round-8 LLM-pipeline operators enter the 50-row
# registry (repeated_spans, dsir_logratios, quality_score,
# semantic_dedup); events_approx_users / events_corr_window /
# revenue_by_segment / text_bpe_tokens rotate to retired_queries().
def _q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup spans (ops/dedup.repeated_spans, Lee et al.
    ACL'22 exact-span formulation): maximal token intervals covered by a
    ≥20-token window whose content occurs earlier in (doc, pos) order."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.repeated_spans(docs)


def _repeated_spans_sql(min_len: int = dedup.SPAN_MIN_LEN) -> str:
    """DuckDB twin: identical window md5s, keep-first by (doc_id, pos),
    gaps-and-islands merge with the same strict gap > min_len rule."""
    return f"""
WITH {_tok_cte()},
wins AS (
  SELECT doc_id, unnest(
    [{{'pos': i, 'whash': md5(array_to_string(w[i:i+{min_len - 1}], ' '))}}
     FOR i IN range(1, greatest(len(w) - {min_len - 2}, 1))],
    recursive := true)
  FROM toks WHERE len(w) >= {min_len}),
marked AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY whash) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY whash ORDER BY doc_id, pos) AS rn
  FROM wins),
dup AS (SELECT doc_id, pos FROM marked WHERE cnt >= 2 AND rn >= 2),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos - lag(pos) OVER w > {min_len} THEN 1 ELSE 0 END AS is_new
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
grp AS (
  SELECT doc_id, pos,
         SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS g
  FROM isl)
SELECT doc_id, CAST(min(pos) AS INT) AS start,
       CAST(max(pos) + {min_len} - min(pos) AS INT) AS length
FROM grp GROUP BY doc_id, g
""".strip()


DSIR_ORACLE_FEATURES = 4096  # small hashed space for the registry row


def _q_dsir_logratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-ratios (ops/sampling.dsir_logratios, Xie et
    al. 2302.03169) between the even-doc_id target slice and the odd
    raw slice, under the engine-portable md5-prefix feature hash so the
    DuckDB twin recomputes identical hashed feature ids."""
    from logrange_spark.ops import sampling

    docs = _t(spark, sf_dir, "documents")
    lr = sampling.dsir_logratios(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        n_features=DSIR_ORACLE_FEATURES,
        hasher=text.md5_prefix_hash,
    )
    return lr.select("feature", F.round("logratio", 6).alias("logratio"))


def _dsir_logratios_sql() -> str:
    from logrange_spark.ops.sampling import DSIR_ALPHA

    nf = DSIR_ORACLE_FEATURES
    a = float(DSIR_ALPHA)
    b = float(nf) * a
    return f"""
WITH {_tok_cte()},
sided AS (SELECT doc_id % 2 = 0 AS is_t,
                 list_concat(w, [w[i] || ' ' || w[i+1]
                                 FOR i IN range(1, greatest(len(w), 1))]) AS ts
          FROM toks),
feat AS (SELECT is_t, ('0x' || substr(md5(t), 1, 6))::INT % {nf} AS feature
         FROM (SELECT is_t, unnest(ts) AS t FROM sided)),
counts AS (SELECT feature,
                  sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t,
                  sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS r
           FROM feat GROUP BY feature),
tot AS (SELECT sum(t) AS ct, sum(r) AS cr FROM counts)
SELECT feature,
       round(ln((t + {a!r}) / (ct + {b!r})) - ln((r + {a!r}) / (cr + {b!r})), 6)
         AS logratio
FROM counts, tot
""".strip()


QUALITY_SCORE_FEATURES = 64  # dense pinned weight table for the oracle
# Pinned-weight formula shared by the Spark builder and the SQL twin:
# weight(f) = ((f·MUL) mod MOD − SUB) / DIV, plus the intercept row at
# feature −1. ONE definition — a constant changed here changes both
# engines together (a drifted duplicate would only surface as an opaque
# oracle hash mismatch).
QUALITY_WEIGHT_MUL, QUALITY_WEIGHT_MOD = 37, 21
QUALITY_WEIGHT_SUB, QUALITY_WEIGHT_DIV = 10, 10.0
QUALITY_SCORE_INTERCEPT = 0.25


def _pinned_weight_frame(spark: SparkSession, n_features: int) -> DataFrame:
    """The deterministic (feature, weight) table both oracle rows pin."""
    return (
        spark.range(n_features)
        .select(
            F.col("id").cast("int").alias("feature"),
            (
                (F.col("id") * QUALITY_WEIGHT_MUL % QUALITY_WEIGHT_MOD
                 - QUALITY_WEIGHT_SUB) / QUALITY_WEIGHT_DIV
            ).alias("weight"),
        )
        .unionByName(
            spark.range(1).select(
                F.lit(-1).alias("feature"),
                F.lit(QUALITY_SCORE_INTERCEPT).alias("weight"),
            )
        )
    )


def _pinned_weight_cte(nf: int) -> str:
    """The same pinned weight table as a DuckDB CTE body."""
    return (
        f"SELECT CAST(f AS INT) AS feature, "
        f"((f * {QUALITY_WEIGHT_MUL}) % {QUALITY_WEIGHT_MOD} "
        f"- {QUALITY_WEIGHT_SUB}) / {QUALITY_WEIGHT_DIV!r} AS weight\n"
        f"       FROM (SELECT unnest(range(0, {nf})) AS f)\n"
        f"       UNION ALL SELECT -1, {QUALITY_SCORE_INTERCEPT!r}"
    )


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-classifier scorer (ops/text.quality_classifier_score)
    under pinned deterministic weights (`_pinned_weight_frame`) over a
    dense 64-feature space — so the whole scoring plan (term bag →
    hashed mean-bag features → broadcast weight join → per-doc dot →
    sigmoid) is DuckDB-twin-checkable. Training itself stays
    pytest-covered (python-twin differentials in tests/test_ops.py)
    because Newton iterates aren't SQL-expressible."""
    docs = _t(spark, sf_dir, "documents")
    return text.quality_classifier_score(
        docs,
        _pinned_weight_frame(spark, QUALITY_SCORE_FEATURES),
        n_features=QUALITY_SCORE_FEATURES,
        hasher=text.md5_prefix_hash,
    )


def _quality_score_sql() -> str:
    nf = QUALITY_SCORE_FEATURES
    return f"""
WITH {_tok_cte()},
terms AS (SELECT doc_id,
                 list_concat(w, [w[i] || ' ' || w[i+1]
                                 FOR i IN range(1, greatest(len(w), 1))]) AS ts
          FROM toks),
tf AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 6))::INT % {nf} AS feature,
              count(*) / greatest(max(nt), 1) AS x
       FROM (SELECT doc_id, len(ts) AS nt, unnest(ts) AS t FROM terms)
       GROUP BY 1, 2),
feats AS (SELECT doc_id, feature, x FROM tf
          UNION ALL SELECT doc_id, -1, 1.0 FROM terms),
wt AS ({_pinned_weight_cte(nf)}),
dots AS (SELECT doc_id, sum(x * weight) AS dot
         FROM feats JOIN wt USING (feature) GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.ts) AS INT) AS n_terms,
       round(1.0 / (1.0 + exp(-coalesce(d.dot, 0.0))), 6) AS score
FROM terms t LEFT JOIN dots d USING (doc_id)
""".strip()


def _q_gopher_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher table-A1 document-rule signals
    (ops/text.gopher_quality_stats, Rae et al. 2021) — word bounds
    inputs, symbol/bullet/ellipsis/alpha fractions, stop-word
    presence — a pure map stage with a full DuckDB recomputation."""
    # spread(): pure per-row map, single-row-group scan (guide §2.5)
    return text.gopher_quality_stats(spread(_t(spark, sf_dir, "documents")))


# Derived multi-line corpus for the quality_signals row: template lines
# on doc_id-modulus schedules give every signal family real work —
# javascript/short lines for C4, lorem/brace page gates, a PII line for
# the redaction counters, and a within-doc DUPLICATE of line 2 (the
# final ELSE) for the repetition rules. Same construction in the twin.
_QS_DERIVE = (
    "concat(text, ' tail words to end.', chr(10), "
    "CASE WHEN doc_id % 3 = 0 THEN 'Enable javascript now please.' "
    "ELSE 'A perfectly good sentence right here.' END, chr(10), "
    "CASE WHEN doc_id % 5 = 0 THEN 'Brace yourself { for code.' "
    "WHEN doc_id % 5 = 1 THEN 'lorem ipsum filler text here.' "
    "WHEN doc_id % 7 = 0 THEN concat('Mail user', CAST(doc_id AS STRING), "
    "'@example.com about 123456789 now.') "
    "ELSE 'A perfectly good sentence right here.' END)"
)

_QS_DERIVE_DUCK = (
    "(text || ' tail words to end.' || chr(10) || "
    "CASE WHEN doc_id % 3 = 0 THEN 'Enable javascript now please.' "
    "ELSE 'A perfectly good sentence right here.' END || chr(10) || "
    "CASE WHEN doc_id % 5 = 0 THEN 'Brace yourself { for code.' "
    "WHEN doc_id % 5 = 1 THEN 'lorem ipsum filler text here.' "
    "WHEN doc_id % 7 = 0 THEN 'Mail user' || doc_id "
    "|| '@example.com about 123456789 now.' "
    "ELSE 'A perfectly good sentence right here.' END)"
)


def _q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass Dolma-style attribute row (ops/text.quality_signals,
    r14): every map-side quality signal — identity/lang, Gopher A1 +
    repetition rules, C4 flags, PII counts, blocklist — over the
    derived multi-line corpus, as ONE Exchange-free map stage. The
    DuckDB twin recomputes every column from the same derivation."""
    # spread() first (r16): the signal chain is a pure per-row map, so
    # its parallelism equals the scan's — a single-row-group parquet
    # file serializes the whole corpus onto one core (guide §2.5 input
    # skew; measured 3.35 s in ONE task of 32 at sf0.1). At scale the
    # input has ≥ parallelism files and spread is a no-op, keeping the
    # map Exchange-free.
    docs = spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id", f"{_QS_DERIVE} AS text"
    )
    return text.quality_signals(docs, blocklist=CC_BLOCKLIST)


def _quality_signals_sql() -> str:
    from logrange_spark.ops.text import (
        REDACT_EMAIL,
        REDACT_IPV4,
        REDACT_LONGNUM,
    )

    langs = sorted(text.LANG_STOPWORDS)
    hits = {l: _stopword_hits_sql(text.LANG_STOPWORDS[l]) for l in langs}
    hit_cols = ", ".join(f"{e} AS h_{l}" for l, e in hits.items())
    best = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    lang_case = "CASE "
    for l in langs:
        lang_case += f"WHEN h_{l} = best AND best > 0 THEN '{l}' "
    lang_case += "ELSE 'und' END"
    term = r'(\.|!|\?|")$'
    pat = text.blocklist_pattern(CC_BLOCKLIST)
    e_pat, i_pat, n_pat = REDACT_EMAIL, REDACT_IPV4, REDACT_LONGNUM
    return f"""
WITH qsd AS (SELECT doc_id, {_QS_DERIVE_DUCK} AS text FROM documents),
{_tok_cte('qsd')},
gs AS ({_gopher_stats_sql('qsd')}),
rep AS ({_repetition_sql('qsd')}),
c4k AS (SELECT doc_id, text AS raw,
         list_filter(
           list_filter(list_transform(string_split(text, chr(10)),
                                      x -> trim(x)), x -> x <> ''),
           x -> regexp_matches(x, '{term}')
             AND len(list_filter(string_split_regex(x, '\\s+'),
                                 t -> t <> '')) >= 5
             AND NOT contains(lower(x), 'javascript')) AS kept
        FROM qsd),
c4f AS (SELECT doc_id,
         CAST(len(kept) AS INT) AS n_kept,
         CAST(len(regexp_extract_all(array_to_string(kept, chr(10)),
                                     '[.!?]+')) AS INT) AS n_sentences,
         contains(lower(raw), 'lorem ipsum') AS has_lorem_ipsum,
         contains(raw, '{{') AS has_brace
        FROM c4k),
lh AS (SELECT doc_id, {hit_cols} FROM toks),
lng AS (SELECT doc_id, {lang_case} AS lang
        FROM (SELECT *, {best} AS best FROM lh))
SELECT q.doc_id,
  CAST(length(q.text) AS INT) AS n_chars,
  lng.lang,
  gs.n_words, gs.mean_word_len, gs.symbol_word_ratio,
  gs.bullet_line_frac, gs.ellipsis_line_frac, gs.alpha_word_frac,
  gs.stopword_hits,
  (gs.n_words BETWEEN 50 AND 100000
   AND gs.mean_word_len BETWEEN 3.0 AND 10.0
   AND gs.symbol_word_ratio <= 0.1 AND gs.bullet_line_frac <= 0.9
   AND gs.ellipsis_line_frac <= 0.3 AND gs.alpha_word_frac >= 0.8
   AND gs.stopword_hits >= 2) AS gopher_pass,
  rep.n_lines, rep.dup_line_frac, rep.dup_line_char_frac,
  rep.top_ngram_char_frac,
  c4f.n_kept, c4f.n_sentences, c4f.has_lorem_ipsum, c4f.has_brace,
  (c4f.n_sentences >= 3 AND NOT c4f.has_lorem_ipsum
   AND NOT c4f.has_brace) AS c4_pass,
  CAST(len(regexp_extract_all(q.text, '{e_pat}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(q.text, '{i_pat}')) AS INT) AS n_ips,
  CAST(len(regexp_extract_all(q.text, '{n_pat}')) AS INT) AS n_longnums,
  CAST(len(regexp_extract_all(lower(q.text), '{pat}')) AS INT)
    AS blocklist_hits,
  (len(regexp_extract_all(lower(q.text), '{pat}')) <= 0) AS blocklist_pass
FROM qsd q JOIN gs USING (doc_id) JOIN rep USING (doc_id)
JOIN c4f USING (doc_id) JOIN lng USING (doc_id)
""".strip()


def _gopher_stats_sql(src: str = "documents") -> str:
    from logrange_spark.ops.text import GOPHER_BULLETS, GOPHER_STOPWORDS

    bullets = " OR ".join(
        f"starts_with(x, '{b}')" for b in GOPHER_BULLETS
    )
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
WITH g AS (SELECT doc_id, coalesce(text, '') AS t FROM {src}),
parts AS (
  SELECT doc_id, t,
         list_filter(string_split_regex(lower(trim(t)), '\\s+'),
                     x -> x <> '') AS w,
         list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                     x -> x <> '') AS l
  FROM g),
m AS (
  SELECT doc_id,
         len(w) AS n_words, len(l) AS n_lines,
         list_reduce(list_prepend(0, list_transform(w, x -> len(x))),
                     (a, b) -> a + b) AS word_chars,
         length(t) - length(replace(t, '#', ''))
           + (length(t) - length(replace(t, '...', ''))) / 3
           + length(t) - length(replace(t, '…', '')) AS n_sym,
         len(list_filter(l, x -> {bullets})) AS n_bullet,
         len(list_filter(l, x -> ends_with(x, '...') OR ends_with(x, '…')))
           AS n_ell,
         len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         len(list_intersect(list_distinct(w), [{stops}])) AS n_stop
  FROM parts)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       round(CASE WHEN n_words > 0
                  THEN word_chars / CAST(n_words AS DOUBLE) ELSE 0.0 END, 6)
         AS mean_word_len,
       round(CASE WHEN n_words > 0
                  THEN n_sym / CAST(n_words AS DOUBLE) ELSE 0.0 END, 6)
         AS symbol_word_ratio,
       round(CASE WHEN n_lines > 0
                  THEN n_bullet / CAST(n_lines AS DOUBLE) ELSE 0.0 END, 6)
         AS bullet_line_frac,
       round(CASE WHEN n_lines > 0
                  THEN n_ell / CAST(n_lines AS DOUBLE) ELSE 0.0 END, 6)
         AS ellipsis_line_frac,
       round(CASE WHEN n_words > 0
                  THEN n_alpha / CAST(n_words AS DOUBLE) ELSE 0.0 END, 6)
         AS alpha_word_frac,
       CAST(n_stop AS INT) AS stopword_hits
FROM m
""".strip()


# Pinned one-vs-rest language models for the lang_predict oracle row:
# class j's weights reuse the quality formula with the feature index
# SALTED by j (so the three models are distinct but equally pinned),
# plus a dyadic-rational per-class intercept (j−1)/8 — exact in both
# engines. ONE definition serves the Spark builder and the SQL twin.
LANG_PREDICT_LANGS = ("de", "en", "fr")
LANG_PREDICT_SALT = 7


def _q_lang_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multiclass language-classifier scorer
    (ops/text.lang_classifier_predict — argmax one-vs-rest with sigmoid
    confidence) under pinned per-class weights, so the whole predict
    plan (shared feature frame → broadcast (lang, feature, weight) join
    → per-(doc, lang) dot → per-doc struct-max with lang tie-break) is
    DuckDB-twin-checkable. Training stays pytest-covered (one-vs-rest
    stack of the quality trainer, python-twin + chain tests)."""
    # spread(): the per-doc feature map ran in ONE scan task at sf0.1
    # (2.15 s, guide §2.5 input skew); no-op at scale. Re-A/B'd in r17
    # per VERDICT r16 #6 (interleaved 6×6 one session, quiet window):
    # WITH spread min 2.00 / median 2.23 s vs WITHOUT 2.15 / 2.27 —
    # kept; the extra jobs the r16 audit flagged are AQE stage splits
    # of a plan that is faster at every quantile.
    docs = spread(_t(spark, sf_dir, "documents"))
    nf = QUALITY_SCORE_FEATURES
    # ONE range(-1, nf) × an exploded (lang, j) literal array instead of
    # the former 3 × (range + bias-row union) = 12-frame unionByName
    # (r16): same (lang, feature, weight) rows — the per-feature weight
    # is the identical long-arithmetic expression with j as a column,
    # and the (j-1)/8.0 bias is exact dyadic either way — but the plan
    # is one stage instead of twelve 16-partition range stages, and the
    # build is one py4j projection instead of a union chain.
    lj = F.explode(
        F.array(
            *[
                F.struct(F.lit(lang).alias("lang"), F.lit(j).alias("j"))
                for j, lang in enumerate(LANG_PREDICT_LANGS)
            ]
        )
    )
    weights = (
        spark.range(-1, nf)
        .select(F.col("id").cast("int").alias("feature"), lj.alias("lj"))
        .select(
            F.col("lj.lang").alias("lang"),
            "feature",
            F.when(
                F.col("feature") == -1, (F.col("lj.j") - 1) / F.lit(8.0)
            )
            .otherwise(
                (
                    (
                        F.col("feature").cast("long")
                        + F.lit(LANG_PREDICT_SALT) * F.col("lj.j")
                    )
                    * QUALITY_WEIGHT_MUL
                    % QUALITY_WEIGHT_MOD
                    - QUALITY_WEIGHT_SUB
                )
                / QUALITY_WEIGHT_DIV
            )
            .alias("weight"),
        )
    )
    out = text.lang_classifier_predict(
        docs, weights, n_features=nf, hasher=text.md5_prefix_hash
    )
    return out.select(
        "doc_id", "lang_pred", F.round("score", 6).alias("score")
    )


def _lang_predict_sql() -> str:
    nf = QUALITY_SCORE_FEATURES
    langs = ", ".join(
        f"('{lang}', {j})" for j, lang in enumerate(LANG_PREDICT_LANGS)
    )
    return f"""
WITH {_tok_cte()},
terms AS (SELECT doc_id,
                 list_concat(w, [w[i] || ' ' || w[i+1]
                                 FOR i IN range(1, greatest(len(w), 1))]) AS ts
          FROM toks),
tf AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 6))::INT % {nf} AS feature,
              count(*) / greatest(max(nt), 1) AS x
       FROM (SELECT doc_id, len(ts) AS nt, unnest(ts) AS t FROM terms)
       GROUP BY 1, 2),
feats AS (SELECT doc_id, feature, x FROM tf
          UNION ALL SELECT doc_id, -1, 1.0 FROM terms),
ls AS (SELECT * FROM (VALUES {langs}) AS v(lang, j)),
wt AS (SELECT l.lang, CAST(f AS INT) AS feature,
              (((f + {LANG_PREDICT_SALT} * l.j) * {QUALITY_WEIGHT_MUL})
               % {QUALITY_WEIGHT_MOD} - {QUALITY_WEIGHT_SUB})
              / {QUALITY_WEIGHT_DIV!r} AS weight
       FROM (SELECT unnest(range(0, {nf})) AS f), ls l
       UNION ALL SELECT lang, -1, (j - 1) / 8.0 FROM ls),
dots AS (SELECT doc_id, lang, sum(x * weight) AS dot
         FROM feats JOIN wt USING (feature) GROUP BY 1, 2),
best AS (SELECT doc_id, lang, dot,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY dot DESC, lang) AS rn
         FROM dots)
SELECT doc_id, lang AS lang_pred,
       round(1.0 / (1.0 + exp(-dot)), 6) AS score
FROM best WHERE rn = 1
""".strip()


SEMANTIC_DEDUP_EPS = 0.3  # pair-cosine drop threshold for the oracle row


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup drop set (ops/ann.semantic_dedup_drops, Abbas et al.
    2303.09540) with the IVF seed convention (centroids = the 16
    lowest-vec_id vectors, ivf_seed convention shared with ann_ivf_topk)
    so the DuckDB twin recomputes the identical codebook from the table
    itself. assign="expr" — the bit-exact literal-codebook path."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.where(F.col("vec_id") < ann.IVF_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    ]
    return ann.semantic_dedup_drops(emb, cents, threshold=SEMANTIC_DEDUP_EPS)


def _semantic_dedup_sql() -> str:
    """DuckDB twin as the direct pairwise rule over ALL vectors: x is
    dropped iff some same-cluster y with cos(x,y) ≥ ε precedes it in
    keep-order (csim ASC, id ASC). Equivalent to the Spark side's
    exact-collapse + representative-pair + member-recovery plan because
    representatives are the min id of each identical-vector group (see
    ops/ann._emb_collapse), so precedence among members reduces to
    precedence among representatives. The vn > 0 filter mirrors the
    Spark side's try_divide + cid-IS-NOT-NULL convention: a zero-norm
    vector is neither assignable nor a dropper there, while IEEE '/'
    here would make its cosine NaN (ranked above everything by
    DuckDB's total order) and silently drop vectors Spark keeps."""
    dims, nc = 64, ann.IVF_CENTROIDS

    def l2(col: str) -> str:
        sq = f"CAST({col}[i] AS DOUBLE) * CAST({col}[i] AS DOUBLE)"
        return (
            f"sqrt(list_reduce(list_prepend(0.0, [{sq} FOR i IN range(1, {dims + 1})]), "
            "(acc, x) -> acc + x))"
        )

    def dot(a: str, b: str) -> str:
        prods = f"[CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) FOR i IN range(1, {dims + 1})]"
        return f"list_reduce(list_prepend(0.0, {prods}), (acc, x) -> acc + x)"

    return f"""
WITH en AS (SELECT vec_id, embedding, vn
            FROM (SELECT vec_id, embedding, {l2('embedding')} AS vn
                  FROM embeddings) WHERE vn > 0),
cn AS (SELECT vec_id AS cid, embedding AS cv, vn AS cnorm
       FROM en WHERE vec_id < {nc}),
ascore AS (
  SELECT v.vec_id AS id, v.embedding AS v, v.vn, c.cid,
         {dot('v.embedding', 'c.cv')} / (v.vn * c.cnorm) AS s
  FROM en v CROSS JOIN cn c),
assigned AS (
  SELECT id, v, vn, cid, s AS csim FROM (
    SELECT id, v, vn, cid, s,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) AS rn
    FROM ascore) WHERE rn = 1)
SELECT DISTINCT b.id AS vec_id
FROM assigned a JOIN assigned b
  ON a.cid = b.cid
 AND (a.csim < b.csim OR (a.csim = b.csim AND a.id < b.id))
 AND {dot('a.v', 'b.v')} / (a.vn * b.vn) >= {SEMANTIC_DEDUP_EPS}
""".strip()


def _k8s_time() -> F.Column:
    # integer div, NOT "/": epoch-ns exceeds double's 2^53 integer range
    return F.date_format(F.timestamp_micros(F.expr("ts div 1000")), _K8S_TIME_FMT)


def _q_parse_k8json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): build + parse is a pure per-row map over a single-row-
    # group parquet scan (1.58 s in ONE task at sf0.1, guide §2.5);
    # no-op at scale
    ev = spread(_t(spark, sf_dir, "events"))
    stream = F.when(F.col("event_id") % 2 == 0, F.lit("stdout")).otherwise(
        F.lit("stderr")
    )
    lines = ev.select(
        F.to_json(
            F.struct(
                F.concat(F.col("props"), F.lit("\n")).alias("log"),
                stream.alias("stream"),
                _k8s_time().alias("time"),
            )
        ).alias("value")
    )
    out = parsers.parse_k8json(lines)
    return out.select(
        F.expr("ts div 1000").alias("ts"),
        "msg",
        F.col("fields")["stream"].alias("stream"),
    )


def _q_parse_logfmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    body = F.concat(
        F.lit("evt="), F.col("event_type"),
        F.lit(" user="), F.col("user_id").cast("string"),
        F.lit(' note="user '), F.col("user_id").cast("string"),
        F.lit(" did "), F.col("event_type"), F.lit('"'),
    )
    lines = ev.select(
        F.to_json(
            F.struct(
                F.concat(body, F.lit("\n")).alias("log"),
                F.lit("stdout").alias("stream"),
                _k8s_time().alias("time"),
            )
        ).alias("value")
    )
    out = parsers.parse_logfmt(lines, fields=["evt", "user", "note"])
    return out.select(
        F.expr("ts div 1000").alias("ts"),
        "msg",
        F.col("fields")["evt"].alias("evt"),
        F.col("fields")["user"].alias("user"),
        F.col("fields")["note"].alias("note"),
    )


def _q_parse_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date auto-detection: three layouts cycling by event_id."""
    ev = _t(spark, sf_dir, "events")
    t = F.timestamp_micros(F.expr("ts div 1000"))
    stamp = (
        F.when(F.col("event_id") % 3 == 0, F.date_format(t, "yyyy-MM-dd HH:mm:ss"))
        .when(F.col("event_id") % 3 == 1, F.date_format(t, "yyyy/MM/dd HH:mm:ss"))
        .otherwise(F.date_format(t, "dd/MM/yyyy HH:mm:ss"))
    )
    lines = ev.select(F.concat(stamp, F.lit(" "), F.col("props")).alias("value"))
    out = parsers.parse_text(lines)
    return out.select(F.expr("ts div 1000").alias("ts"), "msg")


# ------------------------------------------------------------ multimodal
def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs, "doc_id", "text", kind="image", mime="text/plain")
    return media.select(
        "media_id",
        "kind",
        F.col("meta.size_bytes").alias("size_bytes"),
        F.col("meta.sha").alias("sha"),
        F.col("meta.mime").alias("mime"),
    )


# ----------------------------------------- WARC/WET corpus registry rows
# Both rows follow the parse_k8json convention: deterministic input is
# SYNTHESIZED from a driver table (documents), run through the real
# operator surface (binaryFile → streaming gzip decode → record split →
# mapInPandas), and the oracle recomputes the expected output directly
# from the same table — offsets included, via a running byte-length sum.
# The fixture collect is bounded (documents is 500 rows per sf unit) and
# content-addressed, so reruns reuse the file.

WET_URI_PREFIX = "http://docs.example/"
# header template pieces shared by the byte builder and the offset
# oracle (ASCII, so len == octet_length)
_WET_H1 = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "
_WET_H2 = "\r\nWARC-Record-ID: <urn:doc:"
_WET_H3 = ">\r\nContent-Length: "
_WET_H4 = "\r\n\r\n"
_WET_INFO_BODY = b"software: registry-fixture"
_WET_INFO = (
    b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: %d\r\n\r\n"
    % len(_WET_INFO_BODY)
) + _WET_INFO_BODY + b"\r\n\r\n"

# CommonCrawl capstone constants (cc_pipeline)
CC_BLOCKLIST = ("slow query",)
CC_MIN_WORDS = 30
CC_TERCILES = (1.0 / 3.0, 2.0 / 3.0)
CC_SHARDS = 4
CC_CONTAM_MAX = 0.5  # decontamination drop threshold (8-gram overlap)
_CC_HTTP = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"


# records per .warc.gz fixture file: the gzip member is the
# parallelism unit (not splittable), so the corpus must span MANY files
# for the scan to scale — 1000 docs/file gives 1 task at sf0.01 and 50
# at the 10x scale-proof size, exactly CommonCrawl's many-small-shards
# layout
# 250 docs per .warc.gz member: binaryFile parallelism is per FILE (gzip
# is unsplittable), so the sf0.1 fixture yields 20 decode tasks instead
# of 5 — the decode stage is the capstone's x1 bottleneck and 5 tasks
# left 27 of 32 cores idle (r15). Offsets/record ids derive from this
# constant on BOTH the Spark and oracle sides, so the twins move
# together; x100 (500k docs) becomes 2000 members, still the
# many-small-shards CommonCrawl layout.
WET_FIXTURE_CHUNK = 250


def _fixture_dir(tag: str, blobs: list[bytes]) -> str:
    """One .warc.gz per chunk blob under a content-addressed tmp dir —
    idempotent across reruns, never touches the testdata tree."""
    import gzip
    import hashlib
    import os
    import tempfile

    h = hashlib.md5(b"v2:%d" % len(blobs))
    for b in blobs:
        h.update(b)
    d = os.path.join(
        tempfile.gettempdir(), f"lrspark_{tag}_{h.hexdigest()[:16]}"
    )
    done = os.path.join(d, "_COMMIT")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        for i, blob in enumerate(blobs):
            path = os.path.join(d, f"{tag}_{i:05d}.warc.gz")
            tmp = f"{path}.{os.getpid()}.tmp"
            with gzip.open(tmp, "wb") as f:
                f.write(blob)
            os.replace(tmp, path)
        with open(done, "w") as f:
            f.write(str(len(blobs)))
    return d


def _chunked(rows: list[tuple[int, str]]) -> list[list[tuple[int, str]]]:
    return [
        rows[i : i + WET_FIXTURE_CHUNK]
        for i in range(0, len(rows), WET_FIXTURE_CHUNK)
    ]


def _doc_rows(spark: SparkSession, sf_dir: str) -> list[tuple[int, str]]:
    # pyarrow instead of a Spark collect (r16): this runs INSIDE the
    # timed fixture-staging step of every wet/cc bench run, and the
    # driver-side read of two columns of a local parquet file needs no
    # Spark job (measured ~0.6-1.5 s/call saved at sf0.1 — scheduling +
    # orderBy shuffle + row collection). Identical rows/order: sort_by
    # doc_id, null text → ''. Falls back to the Spark path for any
    # layout pyarrow can't read directly.
    try:
        import pyarrow.parquet as pq

        tb = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        ).sort_by("doc_id")
        return [
            (i, t if t is not None else "")
            for i, t in zip(tb["doc_id"].to_pylist(), tb["text"].to_pylist())
        ]
    except Exception:
        return [
            (r["doc_id"], r["text"] or "")
            for r in _t(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .collect()
        ]


def _wet_fixture_bytes(rows: list[tuple[int, str]]) -> bytes:
    out = bytearray(_WET_INFO)
    for doc_id, txt in rows:
        body = txt.encode("utf-8")
        out += (
            f"{_WET_H1}{WET_URI_PREFIX}{doc_id}{_WET_H2}{doc_id}"
            f"{_WET_H3}{len(body)}{_WET_H4}"
        ).encode("ascii")
        out += body + b"\r\n\r\n"
    return bytes(out)


def _q_wet_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET parse layer (ingest/wet.read_wet) as a registry row: the
    documents table serialized into spec-framed WET records (one gzip
    archive, streaming-decoded), re-read through binaryFile +
    mapInPandas. The oracle recomputes every column — including the
    decompressed-stream record_offset, via a running byte-length sum —
    from the documents table alone."""
    from logrange_spark.ingest import wet

    d = _fixture_dir(
        "wetdocs",
        [_wet_fixture_bytes(c) for c in _chunked(_doc_rows(spark, sf_dir))],
    )
    return wet.read_wet(spark, d, glob="*.warc.gz").select(
        F.col("target_uri").alias("url"),
        "record_offset",
        "record_id",
        "content_length",
        "text",
    )


def _wet_documents_sql() -> str:
    fixed = len(_WET_H1 + _WET_H2 + _WET_H3 + _WET_H4)
    pfx = len(WET_URI_PREFIX)
    return f"""
WITH d AS (SELECT doc_id, coalesce(text, '') AS text,
                  (row_number() OVER (ORDER BY doc_id) - 1)
                    // {WET_FIXTURE_CHUNK} AS chunk
           FROM documents),
r AS (SELECT doc_id, chunk,
        '{WET_URI_PREFIX}' || doc_id AS url,
        '<urn:doc:' || doc_id || '>' AS record_id,
        octet_length(encode(text)) AS clen, text,
        {fixed} + {pfx}
          + 2 * length(CAST(doc_id AS VARCHAR))
          + length(CAST(octet_length(encode(text)) AS VARCHAR)) AS hlen
      FROM d)
SELECT url,
       CAST({len(_WET_INFO)} + coalesce(sum(hlen + clen + 4) OVER (
          PARTITION BY chunk
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS BIGINT) AS record_offset,
       record_id,
       CAST(clen AS BIGINT) AS content_length,
       text
FROM r
""".strip()


def _cc_url(doc_id: int) -> str:
    """Crawl-frontier URL for a fixture page — a doc_id-modulus schedule
    of the cosmetic variants the URL stage must collapse. Docs ≡ 3
    (mod 5) claim the PREVIOUS doc's page under a www/utm variant, so
    the canonical key collides with doc_id-1's and URL keep-best (min
    id) drops exactly the ≡3 class. The DuckDB twin builds identical
    strings and runs normalize_url_duckdb over them."""
    m = doc_id % 5
    if m == 3:
        return f"https://www.CC.example/page/{doc_id - 1}?utm_source=feed"
    if m == 2:
        return f"http://cc.example/page/{doc_id}/"
    if m == 0:
        return f"http://CC.example:80/page/{doc_id}?b=2&a=1#frag"
    return f"http://cc.example/page/{doc_id}"


# template lines on doc_id-modulus schedules: every C4/boilerplate rule
# gets real work — <5-word lines and javascript lines die at the line
# filter, lorem/brace pages die at the page gates, pages short a third
# sentence (d%3==0 & odd & d%4!=0) die at the sentence gate, the three
# high-frequency template sentences become the boilerplate dictionary,
# and the unique contact line carries PII for the redaction stage.
_CC_L_CONTACT = "Contact user{d}@example.com about item 123456789 today."
_CC_L_ORDINARY = "A perfectly ordinary sentence sits right here."
_CC_L_JS = "Please enable javascript to continue browsing."
_CC_L_FINE = "Another fine sentence with several good words!"
_CC_L_LOREM = "Lorem ipsum dolor sit amet consectetur adipiscing."
_CC_L_BRACE = "Curly brace { appears here } sadly."
_CC_L_TINY = "tiny line."
_CC_L_FOOTER = "Subscribe to our newsletter for daily updates."


def _cc_page_lines(doc_id: int, txt: str) -> list[str]:
    import re as _re

    body = _re.sub("[ \\t\\r\\n\\f\\v\\u00a0]+", " ", txt).strip()
    lines = [body + "."]
    if doc_id % 4 == 0:
        lines.append(_CC_L_CONTACT.format(d=doc_id))
    lines.append(_CC_L_ORDINARY)
    lines.append(_CC_L_JS if doc_id % 3 == 0 else _CC_L_FINE)
    if doc_id % 11 == 7:
        lines.append(_CC_L_LOREM)
    if doc_id % 13 == 9:
        lines.append(_CC_L_BRACE)
    lines.append(_CC_L_TINY)
    if doc_id % 2 == 0:
        lines.append(_CC_L_FOOTER)
    return lines


def _cc_fixture_bytes(rows: list[tuple[int, str]]) -> bytes:
    import html as _html

    out = bytearray(_WET_INFO)
    for doc_id, txt in rows:
        paras = "".join(
            f"<p>{_html.escape(l)}</p>" for l in _cc_page_lines(doc_id, txt)
        )
        page = (
            f"<html><head><title>doc {doc_id}</title></head>"
            f"<body>{paras}</body></html>"
        )
        payload = _CC_HTTP + page.encode("utf-8")
        out += (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:doc:{doc_id}>\r\n"
            f"WARC-Target-URI: {_cc_url(doc_id)}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode("ascii")
        out += payload + b"\r\n\r\n"
    return bytes(out)


def _cc_url_keep_best(recs: DataFrame) -> DataFrame:
    """URL keep-best over (doc_id, url, payload): rank 1 of a window
    over the canonical URL key ordered by doc_id, i.e. the min doc_id
    per key. Records with a null or blank url each form their own
    partition and are kept (url_dedup's automatic keepers)."""
    from pyspark.sql.window import Window as PSWindow

    from logrange_spark.ops import url as url_ops

    _valid = F.col("url").isNotNull() & (
        F.btrim(F.col("url"), F.lit(" \t\n\r\f\v")) != ""
    )
    # nulls last: a record id with no digits parses to a null doc_id,
    # which must not outrank the real min-id keeper of its URL
    w_url = PSWindow.partitionBy("_ugrp", "_ukey").orderBy(
        F.col("doc_id").asc_nulls_last()
    )
    return (
        recs.select(
            "doc_id",
            "url",
            "payload",
            F.when(_valid, url_ops.normalize_url(F.col("url"))).alias(
                "_ukey"
            ),
            F.when(_valid, F.lit(0)).otherwise(F.col("doc_id")).alias(
                "_ugrp"
            ),
        )
        .withColumn("_rn", F.row_number().over(w_url))
        .where(F.col("_rn") == 1)
        .select("doc_id", "url", "payload")
    )


def _cc_stages(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, DataFrame]]:
    """CommonCrawl capstone — the FULL web-curation pipeline as ONE
    DataFrame program (every stage a module of this repo, in the order
    the published pipelines run them), returned as the list of named
    CUMULATIVE stage outputs so tools/cc_stage_timing.py can attribute
    wall time per stage; ``_q_cc_pipeline`` (the registry row) is the
    last stage:

    read_warc → URL keep-best dedup (RefinedWeb §3.1 — BEFORE any
    content work) → html_documents extraction → C4 §2.2 line rules +
    page gates → boilerplate line removal (dictionary trained on the
    C4-passed corpus) → Gopher document gate + C4 blocklist gate →
    MinHash near-dup removal (keep-first) → cross-document repeated-span
    removal (Lee et al. ACL'22) → benchmark decontamination (8-gram
    overlap ≥ CC_CONTAM_MAX drops) → PII redaction → CCNet perplexity
    terciles (unigram LM trained on the final corpus) → deterministic
    training shards.

    Returns (doc_id, contamination, n_emails, ppl, bucket, shard_id,
    shard_pos) per surviving document. The DuckDB twin recomputes every
    stage from the documents table: the fixture builds its pages from
    pre-normalized text lines, so HTML extraction round-trips
    line-for-line and the twin constructs the same line lists directly.

    Plan shape: three lazy localCheckpoints bound the re-execution —
    after the C4 rebuild (gzip decode + HTML parse + line rules run
    once; boilerplate/gates are cheap array maps over it), after span
    removal (the window-hash join runs once; the kept token array is
    checkpointed alongside the text), and after redaction (the LM's
    train, score and attach passes share one execution of the regex
    chain). The corpus is TOKENIZED ONCE at the
    gated frame; MinHash, span removal and contamination all consume
    that single spread token stream (r15 — each previously re-split
    the text). All data-scaled joins carry merge hints (round-13
    broadcast audit)."""
    from logrange_spark.ingest import wet
    from logrange_spark.ops import html as ophtml
    from logrange_spark.ops import sampling

    d = _fixture_dir(
        "ccpipe",
        [_cc_fixture_bytes(c) for c in _chunked(_doc_rows(spark, sf_dir))],
    )
    warc = wet.read_warc(spark, d, glob="*.warc.gz")
    # r17 (VERDICT r16 #1): ONE gzip+WARC decode. The r16 layout still
    # decoded twice — once to materialize the (doc_id, url) checkpoint
    # that fed url_dedup's aggregate + the auto-keeper union, and once
    # more on the keep-join probe side for the payload — and the merge
    # keep-join ALSO shuffled the payload corpus by doc_id. The keep
    # decision is min-doc_id per canonical URL key (url_dedup's
    # max_by(id, -id) rule), which a window computes directly on the
    # single decoded stream: row_number over the canonical key ordered
    # by doc_id, keep rank 1. url_dedup's exclusion set — null and
    # blank/whitespace-only urls, automatic keepers — maps to a
    # per-row unique window partition (_ugrp = doc_id, _ukey = null),
    # so each invalid-url doc is its own rank-1 keeper; valid docs
    # share _ugrp = 0 and partition by the canonical key. Equivalence
    # to the r16 kept_ids ∪ auto-keepers inner join (oracle-verified
    # at sf0.001/sf0.01, survivors re-pinned at x100):
    #   - doc_ids are unique per record (urn:doc:N, N unique at every
    #     SF and in the x100 replica layout), so the r16 keep-join was
    #     1:1 and kept exactly {min id per key} ∪ {invalid-url ids};
    #     rank-1-per-key keeps the same set, one row each.
    #   - normalize_url is null-preserving / never-null-introducing
    #     (ops/url.py), so the valid/invalid split is identical, and
    #     (_ugrp=0, _ukey) can never collide with an invalid row's
    #     partition (_ukey null ⟺ invalid).
    # Cost at 100 TB: the payload crosses ONE exchange — it crossed
    # one in r16 too (the doc_id-keyed SMJ probe side) — and is
    # decoded ONCE; the url_dedup aggregate exchange, the kept-side
    # sort, the union, and the urlkeys checkpoint all disappear.
    # Nothing corpus-scaled is broadcast or pinned. Skew: a hot
    # canonical key lands its refetches in one window partition —
    # bounded by per-URL refetch counts (the same rows previously
    # sorted through one SMJ partition keyed by their doc_ids).
    # Measured (x100, 500k pages, same-session A/B): see
    # OPTIMIZATION_r17.md — this replaces r16's 2-decode layout whose
    # same-window control read 194 s (vs 232 s unpinned, 259 s
    # full-payload pin).
    recs = warc.where(F.col("http_status") == 200).select(
        F.regexp_extract("record_id", "([0-9]+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("target_uri").alias("url"),
        "payload",
    )
    pages = ophtml.html_documents(_cc_url_keep_best(recs))
    # C4 line rules + page gates, then materialize ONCE: everything
    # below re-reads this frame (dictionary pass, gate maps, dedup
    # token frame), so the checkpoint pins decode+parse+line-rules to a
    # single execution.
    c4ed = (
        text.c4_line_rules(pages.select("doc_id", "text"))
        .where("c4_pass")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    # boilerplate dictionary trained on the C4-passed corpus (one line
    # groupBy), applied as a one-row broadcast map; then the Gopher +
    # blocklist gates compose as a pure map-side filter chain.
    cleaned = text.remove_boilerplate(c4ed).select("doc_id", "text")
    gated = (
        text.blocklist_gate(
            text.gopher_gate(
                text.gopher_quality_stats(cleaned, keep=("text",)),
                min_words=CC_MIN_WORDS,
                min_stopword_hits=1,
            ).where("gopher_pass"),
            CC_BLOCKLIST,
            keep=("text",),
        )
        .where("blocklist_pass")
        .select("doc_id", "text")
    )
    # tokenize ONCE at the gated frame (r15, VERDICT r14 #3): MinHash,
    # span removal and the contamination n-grams previously each split
    # the corpus text independently; one spread token frame now feeds
    # them all — the minhash consumer filters its ≥SHINGLE_N gate above
    # the shared exchange, and the span/rebuild consumers take the
    # anti-joined survivor slice of the SAME tokens (tokens of surv ≡
    # anti-join of tokens of gated, since dedup never edits tokens).
    # r16: the token frame is MATERIALIZED with the text riding along —
    # (doc_id, text, _tok) in one lazy localCheckpoint. The r15 layout
    # left this frame virtual, so each consumer re-executed the
    # boilerplate-dictionary + gate + tokenize chain above it (the
    # r16 job-count attribution measured the span-removal subtree at 26
    # Spark jobs, most of them re-runs of this chain — at sf0.1 the
    # capstone is job-count-bound at ~0.2 s fixed cost per job, and at
    # scale the re-run is 2× the tokenize/gate compute). One checkpoint
    # pins it; the downstream consumers (minhash signatures, the span
    # token stream, the survivor text) are column-pruned reads of it.
    # tokenize ABOVE the spread (r16, same move as _token_frame): the
    # exchange carries raw (doc_id, text) — strictly fewer bytes than
    # text + token arrays — and the regex split runs at full width
    # above it instead of inside the (possibly AQE-coalesced-to-1)
    # upstream map stage.
    toked_all = dedup.spread(
        gated, by="doc_id"
    ).selectExpr(
        "doc_id", "text", f"{text.tokens_sql('text')} AS _tok"
    ).localCheckpoint(eager=False)
    toked_mh = toked_all.select("doc_id", "_tok").where(
        (F.size("_tok") >= dedup.SHINGLE_N) & F.col("doc_id").isNotNull()
    )
    drop = dedup.near_duplicate_drops(
        gated, "doc_id", "text", threshold=0.8, unique=False, toked=toked_mh
    )
    surv = toked_all.select("doc_id", "text").join(drop, "doc_id", "left_anti")
    # survivor token stream checkpointed too (r16): repeated_spans
    # consumes it three times (window-hash probe, the probe's groupBy,
    # the rebuild join) and the anti-join above it carries the whole
    # verify/expand drop subplan — without the pin that subplan executed
    # once per consumer (measured: spanned_t 16 → 9 jobs).
    toked_surv = toked_all.select("doc_id", "_tok").join(
        drop, "doc_id", "left_anti"
    ).localCheckpoint(eager=False)
    # substring-level dedup: every repeated ≥20-token span keeps one
    # copy corpus-wide; rebuilt text is the lowercased token stream.
    # Second materialization point — three consumers below; the kept
    # token array travels WITH the checkpoint (with_tokens) so the
    # contamination stage never re-splits the rebuilt text. A document
    # the span removal empties is dropped here: with no tokens it has no
    # perplexity and no place in a training shard (the twin's per-doc
    # LM CTE has no row for it).
    spanned_t = (
        dedup.remove_repeated_spans(
            surv, toked=toked_surv, with_tokens=True
        )
        .select("doc_id", "text", "tokens")
        .where(F.size("tokens") > 0)
        .localCheckpoint(eager=False)
    )
    spanned = spanned_t.select("doc_id", "text")
    # benchmark decontamination: the deterministic doc_id%97 slice
    # stands in for the eval set (bounded, broadcast inside the op);
    # docs quoting ≥ CC_CONTAM_MAX of their 8-grams from it are dropped
    # (the benchmark docs themselves overlap fully and go too).
    # r16: the survivor text rides contamination's keep= pass-through
    # (per-doc totals frame — one row per doc), so the decontaminated
    # frame is a SELECT of the signal output instead of a second
    # corpus-scaled merge join of spanned against the keep set (the
    # totals⋈hits attach join the op pays anyway now carries the text;
    # one corpus text sort+shuffle leg removed). Row/value-identical:
    # totals is keyed 1:1 on doc_id, so filter+select ≡ the old
    # inner-join against the filtered keep frame.
    cont = text.contamination(
        spanned_t,
        spanned_t.where(F.col("doc_id") % 97 == 0),
        n=8,
        tokens_col="tokens",
        bench_tokens_col="tokens",
        keep=("text",),
    )
    decon = cont.where(F.col("contamination") < CC_CONTAM_MAX).select(
        "doc_id", "text", F.round("contamination", 6).alias("contamination")
    )
    # keep= carries contamination through the redaction map. Third
    # materialization point: unigram_lm_score reads red THREE times
    # (vocab training, the score explode, the per-doc attach join) —
    # without the checkpoint the contamination + redact regex chain
    # re-executed for each.
    red = text.redact(decon, keep=("contamination",)).localCheckpoint(
        eager=False
    )
    # fourth materialization point (r16): perplexity_buckets consumes
    # scored TWICE — once for the tercile thresholds, once for the
    # labeling join — and without the checkpoint each consumer re-ran
    # the ENTIRE unigram-LM train+score subtree (the r16 before-plan
    # shows the vocab/count subtrees duplicated wholesale). Four small
    # columns per surviving doc — the cheapest frame in the pipeline
    # to pin.
    # r16: contamination and n_emails ride the LM score's keep= attach
    # join (per-doc, 1:1 on doc_id) through the terciles and the shard
    # window, so the pipeline tail needs NO final merge join back to
    # red — one survivor-scaled sort+shuffle leg removed. The shard
    # assignment and within-shard order derive only from md5(salt|id)
    # (shard_corpus), so the extra two columns cannot move any row.
    scored = text.unigram_lm_score(
        red, "doc_id", "redacted", keep=("contamination", "n_emails")
    ).select(
        "doc_id", "contamination", "n_emails", "ppl"
    ).localCheckpoint(eager=False)
    labeled = text.perplexity_buckets(
        scored.select("*", F.lit("all").alias("_g")),
        "_g",
        "ppl",
        CC_TERCILES,
    )
    sharded = sampling.shard_corpus(
        labeled.select(
            "doc_id", "contamination", "n_emails", "ppl", "bucket"
        ),
        CC_SHARDS,
    )
    final = sharded.select(
        "doc_id", "contamination", "n_emails",
        "ppl", "bucket", "shard_id", "shard_pos",
    )
    return [
        ("url_extract", pages.select("doc_id", "text")),
        ("c4_line_rules", c4ed),
        ("boilerplate_gates", gated),
        ("minhash_dedup", surv),
        ("span_removal", spanned),
        ("decontamination", decon),
        ("redact_lm_score", scored),
        ("terciles_shards", final),
    ]


def _q_cc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cc_stages(spark, sf_dir)[-1][1]


def _cc_pipeline_sql() -> str:
    """The whole capstone as one DuckDB program, stage for stage: the
    URL variants rebuilt and keyed by normalize_url_duckdb (keep-min);
    the fixture page line lists reconstructed (extraction round-trips
    line-for-line, verified by the Spark side's fixture construction);
    C4 line filter + page gates; the boilerplate dictionary over the
    C4-passed corpus; Gopher + blocklist gates; the shared MinHash CTE
    stack; repeated-span removal (window md5 keep-first + islands);
    8-gram decontamination vs the doc_id%97 slice; PII redaction;
    survivor-trained unigram LM; tercile thresholds via quantile_cont;
    md5 shard assignment (first-8-hex fold mod k, full-digest order)."""
    from logrange_spark.ops.text import (
        REDACT_EMAIL,
        REDACT_IPV4,
        REDACT_LONGNUM,
    )
    from logrange_spark.ops.url import normalize_url_duckdb

    pat = text.blocklist_pattern(CC_BLOCKLIST)
    f1, f2 = (repr(float(f)) for f in CC_TERCILES)
    alpha = 0.5
    sp = dedup.SPAN_MIN_LEN
    ukey = normalize_url_duckdb("url")
    e_pat, i_pat, n_pat = REDACT_EMAIL, REDACT_IPV4, REDACT_LONGNUM
    contact = _CC_L_CONTACT.replace("{d}", "' || doc_id || '")
    term = r'(\.|!|\?|")$'
    return f"""
WITH urls AS (
  SELECT doc_id, CASE doc_id % 5
    WHEN 3 THEN 'https://www.CC.example/page/' || (doc_id - 1)
                || '?utm_source=feed'
    WHEN 2 THEN 'http://cc.example/page/' || doc_id || '/'
    WHEN 0 THEN 'http://CC.example:80/page/' || doc_id || '?b=2&a=1#frag'
    ELSE 'http://cc.example/page/' || doc_id END AS url
  FROM documents),
ukept AS (SELECT min(doc_id) AS doc_id
          FROM (SELECT doc_id, {ukey} AS k FROM urls
                WHERE url IS NOT NULL AND trim(url,
                  ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)
                ) <> '')
          WHERE k IS NOT NULL GROUP BY k
          UNION ALL
          SELECT doc_id FROM urls
          WHERE url IS NULL OR trim(url,
            ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)
          ) = ''),
cdocs AS MATERIALIZED (
  SELECT d.doc_id, list_filter([
      trim(regexp_replace(coalesce(d.text, ''),
                          '[ \t\r\n\f\v\\x{{00a0}}]+', ' ', 'g')) || '.',
      CASE WHEN d.doc_id % 4 = 0 THEN '{contact}' END,
      '{_CC_L_ORDINARY}',
      CASE WHEN d.doc_id % 3 = 0 THEN '{_CC_L_JS}'
           ELSE '{_CC_L_FINE}' END,
      CASE WHEN d.doc_id % 11 = 7 THEN '{_CC_L_LOREM}' END,
      CASE WHEN d.doc_id % 13 = 9 THEN '{_CC_L_BRACE}' END,
      '{_CC_L_TINY}',
      CASE WHEN d.doc_id % 2 = 0 THEN '{_CC_L_FOOTER}' END
    ], x -> x IS NOT NULL) AS lines
  FROM documents d JOIN ukept USING (doc_id)),
c4 AS (
  SELECT doc_id, array_to_string(lines, chr(10)) AS raw,
         list_filter(lines, x -> regexp_matches(x, '{term}')
           AND len(list_filter(string_split_regex(x, '\\s+'),
                               w -> w <> '')) >= 5
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM cdocs),
c4p AS MATERIALIZED (
  SELECT doc_id, kept, array_to_string(kept, chr(10)) AS text
  FROM c4
  WHERE len(regexp_extract_all(array_to_string(kept, chr(10)),
                               '[.!?]+')) >= 3
    AND NOT contains(lower(raw), 'lorem ipsum')
    AND NOT contains(raw, '{{')),
bfreq AS (SELECT line, count(*) AS dc
          FROM (SELECT DISTINCT doc_id, unnest(kept) AS line FROM c4p)
          GROUP BY line),
btot AS (SELECT count(*) AS n FROM c4p),
bp AS (SELECT coalesce(list(line), []) AS ls
       FROM bfreq, btot WHERE dc >= 2 AND dc >= n * 0.05),
clean AS MATERIALIZED (
  SELECT doc_id,
         array_to_string(list_filter(kept, l -> NOT list_contains(bp.ls, l)),
                         chr(10)) AS text
  FROM c4p, bp),
gs AS ({_gopher_stats_sql('clean')}),
gok AS (SELECT doc_id FROM gs
        WHERE n_words BETWEEN {CC_MIN_WORDS} AND 100000
          AND mean_word_len BETWEEN 3.0 AND 10.0
          AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
          AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
          AND stopword_hits >= 1),
bok AS (SELECT doc_id FROM clean
        WHERE len(regexp_extract_all(lower(text), '{pat}')) <= 0),
gated AS MATERIALIZED (SELECT c.doc_id, c.text FROM clean c
          JOIN gok USING (doc_id) JOIN bok USING (doc_id)),
{_tok_cte('gated')}, {_shingle_cte()}, {_sig_cte()}, {_bands_cte()},
pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
  ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
dtok AS (SELECT doc_id, list_distinct(w) AS tok FROM toks),
nd AS (SELECT id_a, id_b FROM (
  SELECT id_a, id_b,
    round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        / len(list_distinct(list_concat(a.tok, b.tok))), 6) AS jaccard
  FROM pairs JOIN dtok a ON pairs.id_a = a.doc_id
  JOIN dtok b ON pairs.id_b = b.doc_id)
  WHERE jaccard >= 0.8),
sv AS MATERIALIZED (SELECT doc_id, w FROM toks
       WHERE doc_id NOT IN (SELECT id_b FROM nd)),
wins AS (
  SELECT doc_id, unnest(
    [{{'pos': i, 'whash': md5(array_to_string(w[i:i+{sp - 1}], ' '))}}
     FOR i IN range(1, greatest(len(w) - {sp - 2}, 1))],
    recursive := true)
  FROM sv WHERE len(w) >= {sp}),
marked AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY whash) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY whash ORDER BY doc_id, pos) AS rn
  FROM wins),
dup AS (SELECT doc_id, pos FROM marked WHERE cnt >= 2 AND rn >= 2),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER iw IS NULL
                OR pos - lag(pos) OVER iw > {sp} THEN 1 ELSE 0 END AS is_new
  FROM dup WINDOW iw AS (PARTITION BY doc_id ORDER BY pos)),
grp AS (
  SELECT doc_id, pos,
         SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS g
  FROM isl),
ivs AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS iv
        FROM (SELECT doc_id, min(pos) AS s, max(pos) + {sp - 1} AS e
              FROM grp GROUP BY doc_id, g)
        GROUP BY doc_id),
srm AS MATERIALIZED (
  SELECT sv.doc_id,
    CASE WHEN ivs.iv IS NULL THEN w
         ELSE [w[i] FOR i IN range(1, len(w) + 1)
               IF len(list_filter(ivs.iv, v -> v.s <= i AND i <= v.e)) = 0]
    END AS w2
  FROM sv LEFT JOIN ivs USING (doc_id)),
csh AS MATERIALIZED (SELECT doc_id, w2, list_distinct(
  [array_to_string(w2[i:i+7], ' ')
   FOR i IN range(1, greatest(len(w2) - 6, 1))]) AS g
  FROM srm),
bench AS (SELECT DISTINCT unnest(g) AS gram FROM csh WHERE doc_id % 97 = 0),
chits AS (SELECT doc_id, count(*) AS nc
          FROM (SELECT doc_id, unnest(g) AS gram FROM csh)
          JOIN bench USING (gram) GROUP BY doc_id),
cont AS (SELECT doc_id, w2,
           round(CASE WHEN len(g) > 0
                      THEN coalesce(nc, 0) / CAST(len(g) AS DOUBLE)
                      ELSE 0.0 END, 6) AS contamination
         FROM csh LEFT JOIN chits USING (doc_id)),
red AS MATERIALIZED (SELECT doc_id, contamination,
          regexp_replace(regexp_replace(regexp_replace(
            array_to_string(w2, ' '),
            '{e_pat}', '<EMAIL>', 'g'),
            '{i_pat}', '<IP>', 'g'),
            '{n_pat}', '<NUM>', 'g') AS rtext,
          CAST(len(regexp_extract_all(array_to_string(w2, ' '),
                                      '{e_pat}')) AS INT) AS n_emails
        FROM cont WHERE contamination < {CC_CONTAM_MAX!r}),
sex AS (SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(trim(rtext)), '\\s+'), t -> t <> '')) AS t
        FROM red),
cnt AS (SELECT t, count(*) AS c FROM sex GROUP BY t),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt, count(*) AS v FROM cnt),
vocab AS (SELECT t, ln((c + {alpha!r}) / (tt + {alpha!r} * (v + 1))) AS logp
          FROM cnt CROSS JOIN tot),
perdoc AS (SELECT doc_id, round(avg(logp), 6) AS al
           FROM sex JOIN vocab USING (t) GROUP BY doc_id),
ppls AS (SELECT doc_id, round(exp(-al), 4) AS ppl FROM perdoc),
thr AS (SELECT quantile_cont(ppl, {f1}) AS t1,
               quantile_cont(ppl, {f2}) AS t2 FROM ppls),
lab AS (SELECT doc_id, ppl,
               CASE WHEN ppl <= t1 THEN 'head'
                    WHEN ppl <= t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ppls CROSS JOIN thr),
dig AS (SELECT doc_id, ppl, bucket,
               md5('|' || CAST(doc_id AS VARCHAR)) AS h FROM lab),
shr AS (SELECT doc_id, ppl, bucket, h,
         CAST(list_reduce(
           [strpos('0123456789abcdef', substr(h, i, 1)) - 1
            FOR i IN range(1, 9)],
           (a, b) -> a * 16 + b) % {CC_SHARDS} AS INT) AS shard_id
       FROM dig)
SELECT shr.doc_id, red.contamination, red.n_emails, ppl, bucket, shard_id,
       CAST(row_number() OVER (
         PARTITION BY shard_id ORDER BY h, shr.doc_id) AS INT) AS shard_pos
FROM shr JOIN red ON shr.doc_id = red.doc_id
""".strip()


# ================================================================ contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LQL over the log view of the events stream at sf0.001."""
    return _lql(
        "SELECT FROM {name=error} WHERE msg CONTAINS '7' LIMIT 500"
    )(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # LQL surface (reference SURVEY §2.2-2.5)
        "lql_contains": _lql("SELECT FROM {name=error} WHERE msg CONTAINS '7' LIMIT 500"),
        "lql_glob_like": _lql("SELECT FROM name=click OR name=view WHERE msg LIKE '{\"k\": 1?}'"),
        "lql_fields_lex": _lql("SELECT WHERE fields:user < '11'"),
        "lql_range": _lql('SELECT FROM {name=purchase} RANGE ["2024-01-10":"2024-01-20"]'),
        # NB: the driver's correctness report holds at most 50 rows, so
        # the registry is capped at exactly 50 entries and membership
        # rotates; SURVEY.md §8 "Registry rotation map" is the single
        # source of the rotation history. Every retired row stays
        # DuckDB-oracle-checked in tests/test_entry_contract.py via
        # `retired_queries` / `_RETIRED_LQL_ORACLES` / `_RETIRED_ORACLES`.
        "lql_range_special": _lql_at(
            'SELECT FROM {name=signup} RANGE "week"', 1_705_487_400_000_000_000
        ),  # now = Wed 2024-01-17 10:30 UTC → week starts Sun 2024-01-14
        "lql_tail": _lql("SELECT POSITION tail OFFSET -300 LIMIT 300"),
        "lql_cursor_page": _lql(f"SELECT POSITION '{RANGE_LO}::0' LIMIT 800"),
        "lql_not_expr": _lql("SELECT FROM name=click OR name=view WHERE NOT (fields:user PREFIX '1')"),
        "show_partitions": _q_show_partitions,
        # SQL analytics (beyond-reference surface, SURVEY §2.8);
        # rotation history in SURVEY §8's map
        "pricing_summary": _q_pricing_summary,
        "revenue_by_nation": _q_revenue_by_nation,
        "events_hourly": _q_events_hourly,
        "events_asof": _q_events_asof,
        "revenue_rollup": _q_revenue_rollup,
        "order_price_percentiles": _q_order_price_percentiles,
        "nations_without_suppliers": _q_nations_without_suppliers,
        "events_funnel": _q_events_funnel,
        # training-data pipeline: dedup (dedup_lsh_candidates rotated
        # out r10 — a strict sub-stage of dedup_near_duplicates, which
        # stays; see SURVEY §8's rotation map)
        "dedup_exact": _q_dedup_exact,
        "dedup_near_duplicates": _q_near_dups,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_simhash64_pairs": _q_simhash64_pairs,
        # corpus-level train/test overlap estimate
        "corpus_overlap": _q_corpus_overlap,
        # training-data pipeline: text analysis
        "text_stats": _q_text_stats,
        "kn_bigram_ppl": _q_kn_bigram,
        # round-9 rotation IN: substring dedup, DSIR, trained-classifier
        # scoring, SemDeDup (the round-8 operator family)
        "repeated_spans": _q_repeated_spans,
        "dsir_logratios": _q_dsir_logratios,
        "quality_score": _q_quality_score,
        "semantic_dedup": _q_semantic_dedup,
        # round-10 rotation IN: trained language-ID prediction (pinned
        # per-class weights; events_range_join rotated OUT — time-join
        # shape stays covered by events_asof) and the Gopher table-A1
        # document rules (for dedup_lsh_candidates)
        "lang_predict": _q_lang_predict,
        # round-14 rotation: the one-pass Dolma-style attribute row
        # replaces its strict-subset gopher_stats (retired to pytest,
        # and its signals stay registry-checked THROUGH this superset)
        "quality_signals": _q_quality_signals,
        # event-time streaming ops (batch-checkable session windows)
        "events_sessions": _q_events_sessions,
        # training-data pipeline: C4-style template cleaning (late r8)
        "boilerplate_removal": _q_boilerplate_removal,
        # training-data pipeline: similarity search
        "ann_cosine_topk": _q_ann_topk,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_pq_topk": _q_ann_pq,
        "dedup_embedding": _q_dedup_embedding,
        "training_pipeline": _q_training_pipeline,
        # training-data pipeline: quality + curation (rotated IN round 7)
        "repetition_stats": _q_repetition_stats,
        "curation_full": _q_curation_full,
        # training-data pipeline: round-7 ops rotated IN round 8
        "contamination": _q_contamination,
        "mixture_sample": _q_mixture_sample,
        "text_bm25_topk": _q_bm25_topk,
        "hamming_fp_pairs": _q_hamming_fp_pairs,
        # round-13 rotation IN: URL-level dedup + domain statistics (the
        # RefinedWeb URL stage, ops/url.py). text_unigram_ppl rotated OUT
        # (LM-scoring shape stays covered by kn_bigram_ppl) and
        # tfidf_keywords rotated OUT (tf-idf ranking shape stays covered
        # by text_bm25_topk); both keep DuckDB oracles in
        # tests/test_entry_contract.py.
        "url_dedup": _q_url_dedup,
        "domain_stats": _q_domain_stats,
        # ingestion parsers (SURVEY §2.1 S5-S8; parse_logfmt rotated out
        # r12 for wet_documents — the parser family keeps k8json + text
        # autodetect in-registry; see SURVEY §8's rotation map)
        "parse_k8json": _q_parse_k8json,
        "parse_text_autodetect": _q_parse_text,
        # round-12 rotation IN: the WET parse layer (offsets recomputed
        # by the oracle) and the CommonCrawl capstone composition
        # (ann_bucketed_topk rotated OUT — bucketed-ANN shape stays
        # covered by ann_ivf_topk's coarse quantizer)
        "wet_documents": _q_wet_documents,
        "cc_pipeline": _q_cc_pipeline,
        # multimodal plumbing
        "multimodal_meta": _q_multimodal_meta,
    }


def retired_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Rows rotated out of the 50-entry registry (driver report cap) but
    still DuckDB-oracle-checked in tests/test_entry_contract.py."""
    return {
        "lql_cursor_back": _lql(
            f"SELECT POSITION '{RANGE_LO}::0' OFFSET -400 LIMIT 400"
        ),
        "lql_offset_limit": _lql("SELECT OFFSET 2000 LIMIT 1000"),
        "lql_upper_func": _lql("SELECT WHERE UPPER(msg) CONTAINS '\"K\": 9'"),
        "lql_format_full": _lql_fmt(
            'SELECT "{ts.format(2006/01/02 15:04)} {vars} [{msg.json()}]" FROM {name=click}'
        ),
        # round-8 rotation (general rows; oracles in _RETIRED_ORACLES)
        "lql_format": _lql_fmt(
            'SELECT "{ts} {vars:name} {msg}" FROM {name=signup}'
        ),
        "top_orders_per_customer": _q_top_orders_per_customer,
        "distinct_customers": _q_distinct_customers,
        "nations_with_both": _q_nations_with_both,
        "events_daily_pivot": _q_events_daily_pivot,
        "text_rolling_hash": _q_text_rolling_hash,
        # round-8 late rotation (for corpus_overlap)
        "text_top_words": _q_top_words,
        # round-8 late rotation (for boilerplate_removal)
        "events_tumbling": _q_events_tumbling,
        # round-8 late rotation (for kn_bigram_ppl)
        "text_lang_dist": _q_text_lang_dist,
        # round-9 rotation (for repeated_spans / dsir_logratios /
        # quality_score / semantic_dedup)
        "events_approx_users": _q_events_approx_users,
        "events_corr_window": _q_events_corr_window,
        "revenue_by_segment": _q_revenue_by_segment,
        "text_bpe_tokens": _q_text_bpe_tokens,
        # round-10 rotation (for lang_predict / gopher_stats)
        "events_range_join": _q_events_range_join,
        "dedup_lsh_candidates": _q_lsh_candidates,
        # round-12 rotation (for wet_documents / cc_pipeline)
        "parse_logfmt": _q_parse_logfmt,
        "ann_bucketed_topk": _q_ann_bucketed,
        # round-12 late rotation (for dedup_simhash64_pairs — the 16-bit
        # fingerprint stays correct at sf0.01 but saturates at web scale;
        # the registry now checks the 64-bit variant instead)
        "dedup_simhash_pairs": _q_simhash_pairs,
        # round-13 rotation (for url_dedup / domain_stats)
        "text_unigram_ppl": _q_unigram_ppl,
        "tfidf_keywords": _q_tfidf_keywords,
        # round-14 rotation (for quality_signals — its strict superset)
        "gopher_stats": _q_gopher_stats,
    }


# ------------------------------------------------------- oracle generation
def _tok_cte(src: str = "documents") -> str:
    return (
        "toks AS (SELECT doc_id, "
        "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS w "
        f"FROM {src})"
    )


def _shingle_cte() -> str:
    n = dedup.SHINGLE_N
    return (
        f"sh AS (SELECT doc_id, list_distinct("
        f"[array_to_string(w[i:i+{n - 1}], ' ') FOR i IN range(1, greatest(len(w)-{n - 2}, 1))]"
        f") AS shingles FROM toks)"
    )


def _sig_cte() -> str:
    mins = ", ".join(
        f"min(md5('{s}|' || shingle)) AS mh{s}" for s in range(dedup.MINHASH_SEEDS)
    )
    return (
        "sh_ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh), "
        f"sig AS (SELECT doc_id, {mins} FROM sh_ex GROUP BY doc_id)"
    )


def _corpus_overlap_sql() -> str:
    """DuckDB twin of corpus_minhash_overlap over the even/odd doc_id
    split: per-corpus global min of md5(seed|shingle) per seed, then the
    fraction of agreeing seeds. Same shingle/seed constants as the LSH
    CTEs; unnest of an empty shingle list yields no rows, matching the
    Spark side's size(tokens) >= n guard for a min aggregate."""
    n = dedup.SHINGLE_N
    k = dedup.MINHASH_SEEDS

    def side(name: str, parity: int) -> str:
        mins = ", ".join(
            f"min(md5('{s}|' || shingle)) AS mh{s}" for s in range(k)
        )
        return (
            f"{name}_toks AS (SELECT list_filter("
            "string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS w "
            f"FROM documents WHERE doc_id % 2 = {parity}), "
            f"{name}_sh AS (SELECT list_distinct("
            f"[array_to_string(w[i:i+{n - 1}], ' ') "
            f"FOR i IN range(1, greatest(len(w)-{n - 2}, 1))]) AS shingles "
            f"FROM {name}_toks), "
            f"{name}_ex AS (SELECT unnest(shingles) AS shingle FROM {name}_sh), "
            f"{name}_sig AS (SELECT {mins} FROM {name}_ex)"
        )

    agree = " + ".join(
        f"CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END" for s in range(k)
    )
    return (
        f"WITH {side('a', 0)}, {side('b', 1)} "
        f"SELECT CAST({k} AS INTEGER) AS seeds, "
        f"CAST({agree} AS INTEGER) AS seeds_agree, "
        f"ROUND(CAST({agree} AS DOUBLE) / {k}, 6) AS jaccard_est "
        "FROM a_sig a, b_sig b"
    )


def _bands_cte() -> str:
    per = dedup.MINHASH_SEEDS // dedup.LSH_BANDS
    selects = []
    for b in range(dedup.LSH_BANDS):
        cols = " || '|' || ".join(f"mh{b * per + j}" for j in range(per))
        selects.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS band_hash FROM sig")
    return "bands AS (" + " UNION ALL ".join(selects) + ")"


def _lsh_pairs_sql() -> str:
    return (
        f"WITH {_tok_cte()}, {_shingle_cte()}, {_sig_cte()}, {_bands_cte()} "
        "SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b "
        "FROM bands l JOIN bands r "
        "ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id"
    )


def _near_dup_sql(threshold: float) -> str:
    return (
        f"WITH {_tok_cte()}, {_shingle_cte()}, {_sig_cte()}, {_bands_cte()}, "
        "pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b "
        "  FROM bands l JOIN bands r "
        "  ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), "
        "dtok AS (SELECT doc_id, list_distinct(w) AS tok FROM toks) "
        "SELECT id_a, id_b, jaccard FROM ("
        "  SELECT id_a, id_b, "
        "    round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) "
        "        / len(list_distinct(list_concat(a.tok, b.tok))), 6) AS jaccard "
        "  FROM pairs JOIN dtok a ON pairs.id_a = a.doc_id "
        "  JOIN dtok b ON pairs.id_b = b.doc_id) "
        f"WHERE jaccard >= {threshold}"
    )


def _clusters_sql(threshold: float) -> str:
    # transitive closure of the verified near-dup pair graph via a
    # recursive CTE: reach(id, r) enumerates every node reachable from
    # each doc, min(r) per doc is the cluster id — the same fixed point
    # the Spark side's star-contraction connected components converges to
    return (
        f"WITH RECURSIVE {_tok_cte()}, {_shingle_cte()}, {_sig_cte()}, "
        f"{_bands_cte()}, "
        "cpairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b "
        "  FROM bands l JOIN bands r "
        "  ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), "
        "dtok AS (SELECT doc_id, list_distinct(w) AS tok FROM toks), "
        "vpairs AS (SELECT id_a, id_b FROM ("
        "  SELECT id_a, id_b, "
        "    round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) "
        "        / len(list_distinct(list_concat(a.tok, b.tok))), 6) AS j "
        "  FROM cpairs JOIN dtok a ON cpairs.id_a = a.doc_id "
        "  JOIN dtok b ON cpairs.id_b = b.doc_id) "
        f"  WHERE j >= {threshold}), "
        "bi AS (SELECT id_a AS a, id_b AS b FROM vpairs "
        "  UNION ALL SELECT id_b, id_a FROM vpairs), "
        "reach(id, r) AS ("
        "  SELECT doc_id, doc_id FROM documents "
        "  UNION "
        "  SELECT bi.a, reach.r FROM bi JOIN reach ON bi.b = reach.id) "
        "SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id"
    )


def _simhash_sql(max_hamming: int) -> str:
    bits = 16  # the explicit oracle layout; the library default is 64
    votes = ", ".join(
        f"sum(CASE WHEN substr(md5(tok), {j + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    hash_expr = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    per = bits // dedup.SIMHASH_BANDS
    mask = (1 << per) - 1
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * per}) & {mask} AS bv FROM sh"
        for b in range(dedup.SIMHASH_BANDS)
    )
    return (
        f"WITH {_tok_cte()}, "
        "tok_ex AS (SELECT doc_id, unnest(w) AS tok FROM toks), "
        f"votes AS (SELECT doc_id, {votes} FROM tok_ex GROUP BY doc_id), "
        f"sh AS (SELECT doc_id, CAST({hash_expr} AS BIGINT) AS simhash FROM votes), "
        f"bands AS ({band_selects}) "
        "SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, "
        "  CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming "
        "FROM bands l JOIN bands r "
        "ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id "
        f"WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}"
    )


def _simhash64_sql(max_hamming: int) -> str:
    """DuckDB twin of the 64-bit fingerprint: token-hash words =
    CAST('0x' || substr(md5(tok), 1|9, 8) AS BIGINT) — bit-identical to
    Spark's conv(substring(md5(t), 1|9, 8), 16, 10); bit 63 enters as
    (-9223372036854775807 - 1) so the sum stays in BIGINT range, and
    (simhash >> s) & 65535 band values agree between engines because
    the mask discards the arithmetic-shift fill bits."""
    votes = ", ".join(
        f"sum(CASE WHEN (CAST('0x' || substr(md5(tok), {1 + 8 * (j // 32)}, 8)"
        f" AS BIGINT) >> {j % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    hash_expr = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(63)
    ) + " + (CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    per = 64 // dedup.SIMHASH_BANDS
    mask = (1 << per) - 1
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * per}) & {mask} AS bv FROM sh"
        for b in range(dedup.SIMHASH_BANDS)
    )
    return (
        f"WITH {_tok_cte()}, "
        "tok_ex AS (SELECT doc_id, unnest(w) AS tok FROM toks), "
        f"votes AS (SELECT doc_id, {votes} FROM tok_ex GROUP BY doc_id), "
        f"sh AS (SELECT doc_id, CAST({hash_expr} AS BIGINT) AS simhash FROM votes), "
        f"bands AS ({band_selects}) "
        "SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, "
        "  CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming "
        "FROM bands l JOIN bands r "
        "ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id "
        f"WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}"
    )


def _stopword_hits_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"len(list_filter(w, t -> list_contains([{lst}], t)))"


def _text_stats_sql() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    hits = {l: _stopword_hits_sql(text.LANG_STOPWORDS[l]) for l in langs}
    hit_cols = ", ".join(f"{expr} AS h_{l}" for l, expr in hits.items())
    best = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    lang_case = "CASE "
    for l in langs:
        lang_case += f"WHEN h_{l} = best AND best > 0 THEN '{l}' "
    lang_case += "ELSE 'und' END"
    punct = text.PUNCT_PATTERN.replace("'", "''")
    en_hits = hits["en"]
    return f"""
WITH {_tok_cte()},
base AS (
  SELECT d.doc_id, d.text, t.w,
         len(t.w) AS n_tokens,
         length(d.text) AS n_chars_computed,
         CASE WHEN length(d.text) > 0
              THEN CAST(length(d.text) - length(regexp_replace(d.text, '{punct}', '', 'g')) AS DOUBLE) / length(d.text)
              ELSE 0.0 END AS praw
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id),
hits AS (SELECT doc_id, text, w, n_tokens, n_chars_computed, praw, {hit_cols} FROM base),
scored AS (
  SELECT *, {best} AS best,
    0.4 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
    + 0.3 * (1.0 - least(praw / {text.QUALITY_MAX_PUNCT_RATIO}, 1.0))
    + 0.3 * least((CASE WHEN n_tokens > 0 THEN CAST({en_hits} AS DOUBLE) / n_tokens ELSE 0.0 END) / 0.1, 1.0)
      AS quality
  FROM hits)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_chars_computed AS INT) AS n_chars_computed,
       round(praw, 6) AS punct_ratio,
       {lang_case} AS lang_guess,
       round(quality, 6) AS quality,
       md5(array_to_string(w, ' ')) AS fingerprint
FROM scored
""".strip()


def _ann_dims_cte(table: str = "embeddings") -> str:
    """One-row CTE computing the occupancy-bounded sign-bit count from
    count(*) — the exact SQL twin of ann.bucket_dims, so the oracle keeps
    matching at ANY scale factor (no hard-coded corpus size)."""
    return (
        f"d AS (SELECT GREATEST({ann.ANN_BUCKET_DIMS}, LEAST({ann.ANN_MAX_BUCKET_DIMS}, "
        f"CAST(ceil(log2(GREATEST(count(*), 1) / {ann.ANN_TARGET_OCCUPANCY}.0)) AS INT))) "
        f"AS dims FROM {table})"
    )


def _ann_bucket_expr(col: str = "e.embedding") -> str:
    """Sign-bucket sum over up to ANN_MAX_BUCKET_DIMS dims, each term
    gated on i < d.dims (the dynamic bit count from _ann_dims_cte)."""
    return " + ".join(
        f"(CASE WHEN {i} < d.dims AND {col}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(ann.ANN_MAX_BUCKET_DIMS)
    )


def _ann_sql(bucketed: bool) -> str:
    dims = 64
    prods = "[CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) FOR i IN range(1, 65)]"
    qq = "CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)"
    cc = "CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)"
    dot = f"list_reduce(list_prepend(0.0, {prods}), (acc, x) -> acc + x)"
    qn = f"sqrt(list_reduce(list_prepend(0.0, [{qq} FOR i IN range(1, {dims + 1})]), (acc, x) -> acc + x))"
    cn = f"sqrt(list_reduce(list_prepend(0.0, [{cc} FOR i IN range(1, {dims + 1})]), (acc, x) -> acc + x))"
    if not bucketed:
        return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round({dot} / ({qn} * {cn}), 6) AS score
  FROM q JOIN c ON q.query_id <> c.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
""".strip()
    # bucketed: occupancy-bounded dims + Hamming-1 multi-probe, mirroring
    # ann.bucketed_topk (j = -1 is the self bucket, j >= 0 flips bit j)
    return f"""
WITH {_ann_dims_cte()},
e AS (SELECT vec_id, embedding, {_ann_bucket_expr()} AS bucket FROM embeddings e CROSS JOIN d),
js AS (SELECT unnest(range(-1, (SELECT dims FROM d))) AS j),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM e WHERE vec_id < 10),
qp AS (SELECT query_id, qv,
              CASE WHEN j = -1 THEN bucket ELSE xor(bucket, (1 << j)) END AS bucket
       FROM q CROSS JOIN js),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM e),
scored AS (
  SELECT query_id, neighbor_id,
         round({dot} / ({qn} * {cn}), 6) AS score
  FROM qp q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
""".strip()


def _ivf_sql(k: int = 10) -> str:
    dims = 64
    nc, npr = ann.IVF_CENTROIDS, ann.IVF_PROBE

    def l2(col: str) -> str:
        sq = f"CAST({col}[i] AS DOUBLE) * CAST({col}[i] AS DOUBLE)"
        return (
            f"sqrt(list_reduce(list_prepend(0.0, [{sq} FOR i IN range(1, {dims + 1})]), "
            "(acc, x) -> acc + x))"
        )

    def dot(a: str, b: str) -> str:
        prods = f"[CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) FOR i IN range(1, {dims + 1})]"
        return f"list_reduce(list_prepend(0.0, {prods}), (acc, x) -> acc + x)"

    return f"""
WITH en AS (SELECT vec_id, embedding, {l2('embedding')} AS vn FROM embeddings),
cn AS (SELECT vec_id AS cid, embedding AS cv, vn AS cnorm FROM en WHERE vec_id < {nc}),
ascore AS (
  SELECT v.vec_id AS id, c.cid,
         {dot('v.embedding', 'c.cv')} / (v.vn * c.cnorm) AS s
  FROM en v CROSS JOIN cn c),
assigned AS (
  SELECT id, cid FROM (
    SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) AS rn
    FROM ascore) WHERE rn = 1),
qp AS (
  SELECT id AS query_id, cid FROM (
    SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cid) AS rn
    FROM ascore WHERE id < 10) WHERE rn <= {npr}),
scored AS (
  SELECT q.query_id, a.id AS neighbor_id,
         round({dot('qe.embedding', 'ne.embedding')} / (qe.vn * ne.vn), 6) AS score
  FROM qp q
  JOIN assigned a ON q.cid = a.cid
  JOIN en qe ON qe.vec_id = q.query_id
  JOIN en ne ON ne.vec_id = a.id
  WHERE q.query_id <> a.id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
""".strip()


def _pq_sql(k: int = 10) -> str:
    """DuckDB twin of ``_q_ann_pq``: seeded codebooks, per-subspace L2
    argmin encode (via the same dot − ‖c‖²/2 identity and fold order as
    ops/ann.pq_encode_expr), reconstruction norms, per-query LUTs, ADC
    cosine, rank — all folds ordered to match Spark bit-for-bit."""
    m, sd, nc = ann.PQ_SUBSPACES, 64 // ann.PQ_SUBSPACES, ann.PQ_CODES

    def subdot(a: str, b: str) -> str:
        prods = f"[CAST({a}[sub*{sd}+i] AS DOUBLE) * {b}[i] FOR i IN range(1, {sd + 1})]"
        return f"list_reduce(list_prepend(0.0, {prods}), (acc, x) -> acc + x)"

    subsq = (
        f"list_reduce(list_prepend(0.0, [CAST(sv[sub*{sd}+i] AS DOUBLE) * "
        f"CAST(sv[sub*{sd}+i] AS DOUBLE) FOR i IN range(1, {sd + 1})]), "
        "(acc, x) -> acc + x)"
    )
    qq = "CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)"
    return f"""
WITH subs AS (SELECT unnest(range(0, {m})) AS sub),
seeds AS (SELECT vec_id AS code, embedding AS sv FROM embeddings WHERE vec_id < {nc}),
cb AS (
  SELECT sub, code,
         [CAST(sv[sub*{sd} + i] AS DOUBLE) FOR i IN range(1, {sd + 1})] AS cv,
         {subsq} AS sq
  FROM seeds CROSS JOIN subs),
c AS (SELECT vec_id AS neighbor_id, embedding AS v FROM embeddings),
es AS (
  SELECT neighbor_id, sub, code, sq,
         {subdot('v', 'cv')} - sq / 2.0 AS s
  FROM c CROSS JOIN cb),
codes AS (
  SELECT neighbor_id, sub, code, sq FROM (
    SELECT neighbor_id, sub, code, sq,
           ROW_NUMBER() OVER (PARTITION BY neighbor_id, sub ORDER BY s DESC, code) AS rn
    FROM es) WHERE rn = 1),
recon AS (
  SELECT neighbor_id,
         sqrt(list_reduce(list_prepend(0.0, list(sq ORDER BY sub)), (acc, x) -> acc + x)) AS rnorm
  FROM codes GROUP BY neighbor_id),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
qn AS (SELECT query_id,
              sqrt(list_reduce(list_prepend(0.0, [{qq} FOR i IN range(1, 65)]), (acc, x) -> acc + x)) AS qnorm
       FROM q),
luts AS (
  SELECT query_id, sub, code, {subdot('qv', 'cv')} AS lut
  FROM q CROSS JOIN cb),
num AS (
  SELECT l.query_id, cd.neighbor_id,
         list_reduce(list_prepend(0.0, list(l.lut ORDER BY cd.sub)), (acc, x) -> acc + x) AS adc
  FROM codes cd JOIN luts l ON l.sub = cd.sub AND l.code = cd.code
  GROUP BY l.query_id, cd.neighbor_id),
scored AS (
  SELECT n.query_id, n.neighbor_id, round(n.adc / (qn.qnorm * r.rnorm), 6) AS score
  FROM num n JOIN qn USING (query_id) JOIN recon r USING (neighbor_id)
  WHERE n.query_id <> n.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
""".strip()


def _training_pipeline_sql(min_quality: float = 0.5, threshold: float = 0.8) -> str:
    """Quality-filter → near-dup-removal pipeline over a qdocs CTE; the
    near-dup machinery is the same generated SQL as dedup_near_duplicates
    but rooted at the quality-filtered documents."""
    return (
        f"WITH stats AS ({_text_stats_sql()}), "
        f"q AS (SELECT doc_id, quality, fingerprint FROM stats WHERE quality >= {min_quality}), "
        "qdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN q USING (doc_id)), "
        f"{_tok_cte('qdocs')}, {_shingle_cte()}, {_sig_cte()}, {_bands_cte()}, "
        "pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b "
        "  FROM bands l JOIN bands r "
        "  ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id), "
        "dtok AS (SELECT doc_id, list_distinct(w) AS tok FROM toks), "
        "nd AS (SELECT id_a, id_b FROM ("
        "  SELECT id_a, id_b, "
        "    round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) "
        "        / len(list_distinct(list_concat(a.tok, b.tok))), 6) AS jaccard "
        "  FROM pairs JOIN dtok a ON pairs.id_a = a.doc_id "
        "  JOIN dtok b ON pairs.id_b = b.doc_id) "
        f"WHERE jaccard >= {threshold}) "
        "SELECT doc_id, quality, fingerprint FROM q "
        "WHERE doc_id NOT IN (SELECT id_b FROM nd)"
    )


def _emb_neardup_sql(threshold: float) -> str:
    dims = 64
    prods = f"[CAST(av[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE) FOR i IN range(1, {dims + 1})]"
    aa = "CAST(av[i] AS DOUBLE) * CAST(av[i] AS DOUBLE)"
    bb = "CAST(bv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE)"
    dot = f"list_reduce(list_prepend(0.0, {prods}), (acc, x) -> acc + x)"
    na = f"sqrt(list_reduce(list_prepend(0.0, [{aa} FOR i IN range(1, {dims + 1})]), (acc, x) -> acc + x))"
    nb = f"sqrt(list_reduce(list_prepend(0.0, [{bb} FOR i IN range(1, {dims + 1})]), (acc, x) -> acc + x))"
    # mirrors ann.embedding_near_duplicates: occupancy-bounded dims, left
    # side probes its bucket (j = -1) plus each one-bit flip — each
    # Hamming<=1 pair matches exactly once, so no DISTINCT
    return f"""
WITH {_ann_dims_cte()},
e AS (SELECT vec_id, embedding, {_ann_bucket_expr()} AS bucket FROM embeddings e CROSS JOIN d),
js AS (SELECT unnest(range(-1, (SELECT dims FROM d))) AS j),
lp AS (SELECT vec_id, embedding,
              CASE WHEN j = -1 THEN bucket ELSE xor(bucket, (1 << j)) END AS bucket
       FROM e CROSS JOIN js),
pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b, l.embedding AS av, r.embedding AS bv
  FROM lp l JOIN e r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
SELECT id_a, id_b, score FROM (
  SELECT id_a, id_b, round({dot} / ({na} * {nb}), 6) AS score FROM pairs)
WHERE score >= {threshold}
""".strip()


# expected parse output, computed directly from the source columns: the
# constructed k8s `time` field carries millisecond precision, so expected
# µs = (ns // 1e6) * 1e3; the text layouts carry second precision.
_PARSE_TS_MS = "(epoch_ns(ts) // 1000000) * 1000"
_PARSE_TS_S = "(epoch_ns(ts) // 1000000000) * 1000000"

_PARSE_K8JSON_SQL = f"""
SELECT {_PARSE_TS_MS} AS ts, props AS msg,
       CASE WHEN event_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END AS stream
FROM events
""".strip()

_PARSE_LOGFMT_SQL = f"""
SELECT {_PARSE_TS_MS} AS ts,
       'evt=' || event_type || ' user=' || user_id
           || ' note="user ' || user_id || ' did ' || event_type || '"' AS msg,
       event_type AS evt,
       CAST(user_id AS VARCHAR) AS "user",
       'user ' || user_id || ' did ' || event_type AS note
FROM events
""".strip()

def _bpe_tokens_sql() -> str:
    pat = text.BPE_ISH_PATTERN.replace("'", "''")
    return f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{pat}')) AS n_bpe_tokens,
       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       t -> t <> '')) AS n_ws_tokens,
       length(text) AS n_chars
FROM documents
""".strip()


def _rolling_hash_sql() -> str:
    return f"""
WITH {_tok_cte()}
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      [('0x' || substr(md5(t), 1, 8))::BIGINT FOR t IN w]),
         (acc, x) -> (acc * {text.ROLL_BASE} + x) % {text.ROLL_MOD}) AS rhash
FROM toks
""".strip()


# session_window semantics: a new session starts when the gap from the
# previous event is >= the window gap (half-open [t, t+gap) windows)
_SESSIONS_SQL = """
WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
m AS (
  SELECT user_id, tus, event_id,
         CASE WHEN lag(tus) OVER w IS NULL
                OR tus - lag(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
s AS (
  SELECT user_id, tus,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT user_id, min(tus) AS start_us, max(tus) AS end_us, count(*) AS n_events
FROM s GROUP BY user_id, sid
""".strip()


_PARSE_TEXT_SQL = f"""
SELECT {_PARSE_TS_S} AS ts,
       CASE CAST(event_id % 3 AS INT)
         WHEN 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
         WHEN 1 THEN strftime(ts, '%Y/%m/%d %H:%M:%S')
         ELSE strftime(ts, '%d/%m/%Y %H:%M:%S') END || ' ' || props AS msg
FROM events
""".strip()


_RETIRED_LQL_ORACLES = {
    # DuckDB twins of retired_queries() — checked by
    # tests/test_entry_contract.py::test_retired_lql_oracles
    "lql_cursor_back": f"WITH {_LOGS_CTE} SELECT * FROM ("
    f"SELECT {_STD} FROM logs "
    f"WHERE (ts, src, seq) <= ({RANGE_LO // 1000}, '', 0) "
    "ORDER BY ts DESC, src DESC, seq DESC LIMIT 400) "
    "ORDER BY ts, src, seq",
    "lql_offset_limit": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs "
    "ORDER BY ts, src, seq OFFSET 2000 LIMIT 1000",
    "lql_upper_func": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs "
    "WHERE contains(upper(msg), '\"K\": 9') "
    "ORDER BY ts, src, seq LIMIT 10000",
    # {vars} = tag_line + "," + fields kv; {msg.json()} escape chain
    # mirrors compiler/formatter._json_escape (backslash first)
    "lql_format_full": f"WITH {_LOGS_CTE} "
    "SELECT ts, src, seq, "
    "strftime(make_timestamp(ts), '%Y/%m/%d %H:%M') || ' ' "
    "|| tag_line || ',user=' || f_user || ' [' "
    "|| replace(replace(replace(replace(replace(msg, "
    "'\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t') "
    "|| ']' AS line "
    "FROM logs WHERE tag_line = 'name=click' "
    "ORDER BY ts, src, seq LIMIT 10000",
}

# Rows rotated out in round 8 — oracles preserved verbatim; checked by
# tests/test_entry_contract.py::test_retired_general_oracles with every
# table registered as a view (mirrors the driver's setup).
_RETIRED_ORACLES = {
    "lql_format": f"WITH {_LOGS_CTE} "
    "SELECT ts, src, seq, "
    "strftime(make_timestamp(ts), '%Y-%m-%dT%H:%M:%S') || 'Z' "
    "|| ' ' || src || ' ' || msg AS line "
    "FROM logs WHERE tag_line = 'name=signup' "
    "ORDER BY ts, src, seq LIMIT 10000",
    "top_orders_per_customer": """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) WHERE rn <= 3""".strip(),
    "distinct_customers": """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority""".strip(),
    "nations_with_both": """
SELECT n_name FROM nation JOIN customer ON n_nationkey = c_nationkey
INTERSECT
SELECT n_name FROM nation JOIN supplier ON n_nationkey = s_nationkey""".strip(),
    "events_daily_pivot": f"""
SELECT epoch_ns(ts) // {NS_PER_DAY} AS day,
       count(*) FILTER (event_type = 'click') AS click,
       count(*) FILTER (event_type = 'error') AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup') AS signup,
       count(*) FILTER (event_type = 'view') AS view
FROM events GROUP BY 1""".strip(),
    "text_rolling_hash": _rolling_hash_sql(),
    "text_top_words": """
SELECT token, count(*) AS cnt FROM (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            t -> t <> '')) AS token
  FROM documents)
GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".strip(),
    # Spark F.window aligns to the epoch, so 6-hour tumbling windows
    # are epoch floor division (µs columns; events ts are µs-aligned)
    "events_tumbling": f"""
SELECT event_type,
       (epoch_ns(ts) // {6 * 3600 * 10**9}) * {6 * 3600 * 10**6} AS window_start_us,
       (epoch_ns(ts) // {6 * 3600 * 10**9}) * {6 * 3600 * 10**6} + {6 * 3600 * 10**6} AS window_end_us,
       count(*) AS n
FROM events GROUP BY 1, 2, 3""".strip(),
    "text_lang_dist": f"""
SELECT lang_guess, count(*) AS n_docs,
       round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_quality,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM ({_text_stats_sql()}) GROUP BY lang_guess""".strip(),
    # round-9 rotation — oracles preserved verbatim from oracle_sql()
    "events_approx_users": """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       count(*) AS n, TRUE AS hll_within_bound
FROM events GROUP BY event_type""".strip(),
    "events_corr_window": f"""
WITH e AS (SELECT event_id, epoch_us(ts) AS ts FROM events
           WHERE event_type = 'error'),
c AS (SELECT epoch_us(ts) AS cts FROM events WHERE event_type = 'click'),
n AS (SELECT e.event_id, count(*) AS n_nearby
      FROM e JOIN c ON c.cts >= e.ts - {US_PER_MIN} AND c.cts < e.ts + {US_PER_MIN}
      GROUP BY 1)
SELECT e.event_id, e.ts, COALESCE(n.n_nearby, 0) AS n_nearby
FROM e LEFT JOIN n USING (event_id)""".strip(),
    "revenue_by_segment": """
SELECT c_mktsegment,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment""".strip(),
    "text_bpe_tokens": _bpe_tokens_sql(),
    # round-12 rotation — oracles preserved verbatim from oracle_sql()
    "parse_logfmt": _PARSE_LOGFMT_SQL,
    "ann_bucketed_topk": _ann_sql(bucketed=True),
    "dedup_simhash_pairs": _simhash_sql(3),
    # round-10 rotation — oracles preserved verbatim from oracle_sql()
    "dedup_lsh_candidates": _lsh_pairs_sql(),
    "events_range_join": f"""
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch_us(ts) AS cts, value FROM events
      WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts, count(c.cts) AS n_clicks,
       CAST(COALESCE(SUM(CAST(c.value AS DECIMAL(12,2))), 0) AS DOUBLE) AS click_value
FROM p LEFT JOIN c ON p.user_id = c.user_id
 AND c.cts >= p.ts - {NS_PER_HOUR // 1000} AND c.cts < p.ts
GROUP BY 1, 2, 3""".strip(),
    # round-13 rotation — oracles preserved verbatim from oracle_sql()
    "text_unigram_ppl": _unigram_sql(),
    "tfidf_keywords": _tfidf_sql(),
    "gopher_stats": _gopher_stats_sql(),
}

# DuckDB twin of _q_boilerplate_removal: same doc_id-modulus multi-line
# derivation, same trimmed-nonblank line model, same ≥2-docs AND ≥5%
# frequency gate (the ops/text defaults).
_BOILERPLATE_SQL = """
WITH docs2 AS (
  SELECT doc_id,
         text || chr(10)
         || CASE WHEN doc_id % 7 < 3 THEN 'subscribe to our newsletter'
                 ELSE 'unique-' || doc_id END || chr(10)
         || CASE WHEN doc_id % 5 < 2 THEN 'copyright footer 2024'
                 ELSE '' END AS text
  FROM documents),
dl AS (
  SELECT DISTINCT doc_id, trim(l) AS line
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM docs2)
  WHERE trim(l) <> ''),
freq AS (SELECT line, count(*) AS doc_count FROM dl GROUP BY line),
tot AS (SELECT count(*) AS n FROM docs2),
bp AS (SELECT line FROM freq, tot
       WHERE doc_count >= 2 AND doc_count >= n * 0.05),
bpl AS (SELECT coalesce(list(line), []) AS ls FROM bp),
lined AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> l <> '') AS lines
  FROM docs2)
SELECT doc_id,
       array_to_string(list_filter(lines, l -> NOT list_contains(bpl.ls, l)),
                       chr(10)) AS text,
       len(lines) AS n_lines,
       len(lines) - len(list_filter(lines, l -> NOT list_contains(bpl.ls, l)))
         AS n_removed
FROM lined, bpl""".strip()


def oracle_sql() -> dict[str, str]:
    dec = "DECIMAL(12,2)"
    rate = "DECIMAL(4,2)"
    rev = f"CAST(l_extendedprice AS {dec}) * CAST(1.0 - l_discount AS {rate})"
    return {
        "lql_contains": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs "
        "WHERE tag_line = 'name=error' AND contains(msg, '7') "
        "ORDER BY ts, src, seq LIMIT 500",
        "lql_glob_like": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs "
        "WHERE (src = 'click' OR src = 'view') "
        "AND regexp_matches(msg, '^\\{\"k\": 1[^/]\\}$') "
        "ORDER BY ts, src, seq LIMIT 10000",
        "lql_fields_lex": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs WHERE f_user < '11' "
        "ORDER BY ts, src, seq LIMIT 10000",
        "lql_range": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs "
        f"WHERE tag_line = 'name=purchase' AND ts >= {RANGE_LO // 1000} AND ts <= {RANGE_HI // 1000} "
        "ORDER BY ts, src, seq LIMIT 10000",
        # "week" special form folds to Sunday 2024-01-14 00:00 UTC
        "lql_range_special": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs "
        f"WHERE tag_line = 'name=signup' AND ts >= {1_705_190_400 * 10**6} "
        "ORDER BY ts, src, seq LIMIT 10000",
        "lql_tail": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs "
        "ORDER BY ts DESC, src DESC, seq DESC LIMIT 300",
        # cursor token (ts=RANGE_LO ns, src='', seq=0); all event ts are
        # µs-aligned so the ns↔µs domains are order-isomorphic
        "lql_cursor_page": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs "
        f"WHERE (ts, src, seq) > ({RANGE_LO // 1000}, '', 0) "
        "ORDER BY ts, src, seq LIMIT 800",
        "lql_not_expr": f"WITH {_LOGS_CTE} SELECT {_STD} FROM logs "
        "WHERE (src = 'click' OR src = 'view') AND NOT (f_user LIKE '1%') "
        "ORDER BY ts, src, seq LIMIT 10000",
        "show_partitions": f"WITH {_LOGS_CTE} SELECT tag_line, "
        "count(*) AS records, CAST(sum(octet_length(encode(msg))) AS BIGINT) AS size "
        "FROM logs GROUP BY tag_line",
        "pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS {dec})) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS {dec})) AS DOUBLE) AS sum_base_price,
  CAST(SUM({rev}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM({rev} * CAST(1.0 + l_tax AS {rate})) AS DOUBLE) AS sum_charge,
  count(*) AS count_order,
  CAST(SUM(CAST(l_quantity AS {dec})) AS DOUBLE) / count(*) AS avg_qty
FROM lineitem WHERE l_shipdate <= DATE '2024-10-01'
GROUP BY l_returnflag, l_linestatus""".strip(),
        "revenue_by_nation": f"""
SELECT r_name, n_name, CAST(SUM({rev}) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name""".strip(),
        "events_hourly": f"""
SELECT event_type, epoch_ns(ts) // {NS_PER_HOUR} AS hour_bucket,
  count(*) AS n, count(DISTINCT user_id) AS n_users,
  CAST(SUM(CAST(value AS {dec})) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2""".strip(),
        "events_asof": """
WITH u AS (
  SELECT user_id, epoch_us(ts) AS ts, 0 AS side, event_id AS tie,
         {'rts': epoch_us(ts), 'value': value} AS rrow,
         CAST(NULL AS BIGINT) AS event_id
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, epoch_us(ts), 1, 0, NULL, event_id
  FROM events WHERE event_type = 'purchase')
SELECT event_id, user_id, ts,
       (last_value(rrow IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, side, tie
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).value AS asof_value
FROM u QUALIFY side = 1""".strip(),
        "order_price_percentiles": """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
       count(*) AS n_orders
FROM orders GROUP BY 1""".strip(),
        "nations_without_suppliers": """
SELECT n_name FROM nation JOIN customer ON n_nationkey = c_nationkey
EXCEPT
SELECT n_name FROM nation JOIN supplier
  ON n_nationkey = s_nationkey AND s_acctbal > 8000""".strip(),
        "revenue_rollup": f"""
SELECT COALESCE(n_name, '(all)') AS nation,
       COALESCE(c_mktsegment, '(all)') AS segment,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS {dec})) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, c_mktsegment)""".strip(),
        "events_funnel": f"""
WITH s AS (
  SELECT user_id, min(epoch_ns(ts)) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT user_id, epoch_ns(ts) AS pts FROM events WHERE event_type = 'purchase'),
per_user AS (
  SELECT s.user_id, s.signup_ts,
         max(CASE WHEN p.pts > s.signup_ts
                   AND p.pts <= s.signup_ts + {FUNNEL_WINDOW_NS}
                  THEN 1 ELSE 0 END) AS converted
  FROM s LEFT JOIN p ON s.user_id = p.user_id
  GROUP BY s.user_id, s.signup_ts)
SELECT signup_ts // {NS_PER_DAY} AS cohort_day,
       count(*) AS n_signups,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(CAST(sum(converted) AS DOUBLE) / count(*), 6) AS conversion_rate
FROM per_user GROUP BY 1
""".strip(),
        "dedup_exact": """
SELECT md5(props) AS content_hash, min(event_id) AS keep_id,
       count(*) AS dup_count
FROM events GROUP BY md5(props) HAVING count(*) > 1""".strip(),
        "dedup_near_duplicates": _near_dup_sql(0.8),
        "dedup_clusters": _clusters_sql(0.8),
        "dedup_simhash64_pairs": _simhash64_sql(3),
        "text_stats": _text_stats_sql(),
        "kn_bigram_ppl": _kn_sql(),
        "corpus_overlap": _corpus_overlap_sql(),
        "ann_cosine_topk": _ann_sql(bucketed=False),
        "ann_ivf_topk": _ivf_sql(10),
        "ann_pq_topk": _pq_sql(10),
        "repetition_stats": _repetition_sql(),
        "curation_full": _curation_full_sql(),
        "repeated_spans": _repeated_spans_sql(),
        "dsir_logratios": _dsir_logratios_sql(),
        "quality_score": _quality_score_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "lang_predict": _lang_predict_sql(),
        "quality_signals": _quality_signals_sql(),
        "contamination": _contamination_sql(),
        "mixture_sample": _mixture_sql(),
        "text_bm25_topk": _bm25_sql(),
        "hamming_fp_pairs": _hamming_fp_sql(),
        "url_dedup": _url_dedup_sql(),
        "domain_stats": _domain_stats_sql(),
        "events_sessions": _SESSIONS_SQL,
        "boilerplate_removal": _BOILERPLATE_SQL,
        "dedup_embedding": _emb_neardup_sql(0.3),
        "training_pipeline": _training_pipeline_sql(0.5, 0.8),
        "parse_k8json": _PARSE_K8JSON_SQL,
        "parse_text_autodetect": _PARSE_TEXT_SQL,
        "wet_documents": _wet_documents_sql(),
        "cc_pipeline": _cc_pipeline_sql(),
        "multimodal_meta": """
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
       md5(text) AS sha, 'text/plain' AS mime
FROM documents""".strip(),
    }
