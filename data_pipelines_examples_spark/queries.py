"""Query catalog: every implemented operator expressed as a (Spark
DataFrame query, DuckDB oracle SQL) pair over the driver's testdata tables.

Each entry exercises one operator cluster from SURVEY.md §2 through the
engine's public API. The driver runs the Spark query and the oracle SQL
side-by-side at sf=0.01 and hash-compares values, so:

- every computed column is aliased identically on both sides;
- floating-point aggregates are summed as DECIMAL (element-wise cast
  before SUM) so results are exact and independent of partition/order —
  double sums would differ between engines in the low bits;
- every ordering used for ranks/limits has a unique tiebreaker.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.dedup import dedup_exact, scd_latest
from .operators.intervals import collapse_intervals
from .operators.json_ops import shred_json
from .operators.relational import band_join, equi_join, rank_pick, wildcard_rule_join
from .operators.unpivot import unpivot
from .operators.windows import cumulative_sum, sliding_range_agg

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _ensure_confs(spark: SparkSession) -> None:
    """The driver runs the catalog under its own vanilla SparkSession, so
    the confs correctness depends on must be (re)applied at query time:
    nanos parquet reading, permissive casts, UTC so timestamp values align
    with the DuckDB oracle."""
    for k, v in {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — conf may be static on some builds
            pass


# Lazy-plan memo for table opens (r13). ``spark.read.parquet`` costs a
# schema-inference pass (file listing + footer reads + several py4j round
# trips) on EVERY call — measured ~0.3 s per open on this host, paid per
# table per query per bench run. The memo stores the LAZY DataFrame (a
# plan, never data): every action over it still scans the parquet inputs
# — nothing is persisted, so clearCache/release_cached semantics are
# unchanged and no result or intermediate is ever reused across runs.
# Keyed by (session, dir, table, mtime): a regenerated testdata dir gets
# a fresh scan plan (the file index inside a plan is pinned at read time
# — same as before, but the mtime key bounds cross-call staleness), and
# a new SparkSession never sees another session's plans. r14 hardening:
# the session key is a WeakKeyDictionary, so a stopped
# session's plans (and their JVM-side references) drop with it instead
# of pinning for the process lifetime, and the mtime is the MAX over
# the path and any part files inside a directory table — a single part
# file overwritten in place without adding/removing entries bumps its
# own mtime even when the directory's is unchanged.
_TABLE_PLANS: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _table_mtime(path: str) -> float | None:
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return None
    if os.path.isdir(path):
        try:
            with os.scandir(path) as it:
                for entry in it:
                    try:
                        mtime = max(mtime, entry.stat().st_mtime)
                    except OSError:
                        pass
        except OSError:
            pass
    return mtime


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # confs are correctness-critical (UTC, ANSI off, nanosAsLong) and the
    # external driver may reset session confs between queries — reapply
    # unconditionally (a handful of conf.set round trips), memo hit or not
    _ensure_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    mtime = _table_mtime(path)
    per_session = _TABLE_PLANS.get(spark)
    if per_session is None:
        per_session = {}
        _TABLE_PLANS[spark] = per_session
    key = (sf_dir, name, mtime)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    if name == "events":
        # Normalize ts to session-TZ TimestampType regardless of how the
        # parquet stores it: TIMESTAMP(NANOS) files arrive as long nanos
        # under the nanosAsLong conf (floor-convert with integer division
        # — float division would lose precision at 1e18); TIMESTAMP(MICROS)
        # files arrive as timestamp/timestamp_ntz and only need a cast.
        ts_type = dict(df.dtypes)["ts"]
        if ts_type in ("bigint", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    per_session[key] = df
    return df


def _dsum(col, scale_in: int = 4):
    """Order-independent money sum: elementwise cast to DECIMAL(18,4)
    (exact for 2-decimal money values), exact decimal SUM, then a FINAL
    cast to DOUBLE. The internal decimal arithmetic is what makes the sum
    independent of partition/merge order; the final double cast is what
    makes the two clients materialize the same thing — the driver hashes
    raw materialized values, and a Spark Decimal('138014.0000') never
    hash-matches the float64 138014.0 DuckDB's client returns even though
    the values are equal. Exact-decimal→double conversion is the same
    correctly-rounded operation in both engines, so it is deterministic.

    TRY_CAST, not CAST: non-finite doubles (NaN/±inf — data errors in a
    money column) become NULL and are EXCLUDED from the sum, identically
    in both engines and regardless of ANSI mode. Plain CAST diverges:
    Spark non-ANSI silently NULLs, Spark ANSI throws, DuckDB throws.
    Oracles mirror with SQL TRY_CAST. Found by the --floats differential
    axis (tools/resample_testdata.py); detection belongs in a DQ rule,
    not in silent aggregate behavior."""
    return _dec_sum(col, scale_in).cast("double")


def _dec_sum(col, scale_in: int = 4):
    """The exact-decimal half of ``_dsum``: elementwise try_cast to
    DECIMAL(18,scale), decimal SUM, NO final double cast — for callers
    that keep accumulating exactly (e.g. a distributed prefix sum over
    the per-group sums, q106) and cast to double only at the very end.
    Spark widens the result to DECIMAL(28,4); do NOT downcast it back to
    the element type — a silent non-ANSI overflow NULL at scale is the
    only thing that buys. NaN/±inf handling is the try_cast contract
    documented on ``_dsum``; this helper is the single code path both
    share, so the convention is stated once rather than re-derived at
    call sites."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.try_cast(f"decimal(18,{scale_in})"))


def query(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    # import for decorator side effects; must be lazy (the ext modules
    # import this module)
    from . import (  # noqa: F401
        queries_ext,
        queries_ext2,
        queries_ext3,
        queries_ext4,
        queries_ext5,
    )


def queries() -> dict[str, QueryFn]:
    """Every catalog entry in registration order (a copy: callers cannot
    mutate the registry)."""
    _load_all()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4) — pricing summary, TPC-H Q1 shape
# ---------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(TRY_CAST(nullif(l_quantity, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(TRY_CAST(nullif(l_extendedprice, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(TRY_CAST(nullif(l_extendedprice, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4)) * (1 - TRY_CAST(nullif(l_discount, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by + multi-aggregate + order-by (reference cluster:
    notebooks/databricks/python/usage_analysis.py:185-188)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = (
        F.col("l_extendedprice").try_cast("decimal(18,4)")
        * (F.lit(1) - F.col("l_discount").try_cast("decimal(18,4)"))
    ).cast("decimal(18,4)")
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q02_top_customers",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(TRY_CAST(nullif(o.o_totalprice, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """,
)
def q02_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join + group-by + top-N (reference:
    notebooks/databricks/python/usage_analysis.py:181-207 top-N battery)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # Aggregate the fact BEFORE attaching dim attributes (r13, guide
    # §2.3): the exchange then carries (custkey, partial sums) instead of
    # (custkey, name, partial sums) and the agg hash map keys one bigint
    # instead of (bigint, string). c_custkey is the customer PK and the
    # join is inner on it, so grouping by custkey then joining is
    # row-identical to joining then grouping by (custkey, name).
    per_cust = o.groupBy("o_custkey").agg(
        _dsum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders")
    )
    return (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "revenue", "n_orders")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands interval collapse (SURVEY §2.5 W8) — flagship
# ---------------------------------------------------------------------------

_ORACLE_COLLAPSE = """
    WITH base AS (
      SELECT DISTINCT o_custkey AS memnum,
             CAST(o_orderdate AS DATE) AS begindt,
             CAST(o_orderdate AS DATE) + 30 AS enddt
      FROM orders
    ), marked AS (
      SELECT memnum, begindt, enddt,
        CASE WHEN MAX(enddt) OVER w IS NULL
               OR date_diff('day', MAX(enddt) OVER w, begindt) > 1
             THEN 1 ELSE 0 END AS new_island
      FROM base
      WINDOW w AS (PARTITION BY memnum ORDER BY begindt, enddt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), grp AS (
      SELECT memnum, begindt, enddt,
        SUM(new_island) OVER (PARTITION BY memnum ORDER BY begindt, enddt
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )
    SELECT memnum, MIN(begindt) AS eligeff_coll, MAX(enddt) AS eligend_coll
    FROM grp GROUP BY memnum, island
"""


def _order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_custkey").alias("memnum"),
        F.to_date("o_orderdate").alias("begindt"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("enddt"),
    )


@query("q03_interval_collapse", _ORACLE_COLLAPSE)
def q03_interval_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: collapse overlapping/adjacent member intervals (reference:
    notebooks/databricks/sql/overlap_query_no_recursive_cte_needed.sql:36-107).
    Single shuffle on the member key; all logic in window frames."""
    return collapse_intervals(_order_intervals(spark, sf_dir), "memnum")


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------

@query(
    "q04_customers_without_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q04_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (reference:
    notebooks/databricks/python/partiton_by_date_load_to_parquet_from_s3.py:121-169)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query(
    "q05_latest_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice + 0.0 AS o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC,
                                         o_totalprice DESC NULLS LAST) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def q05_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-pick / latest-snapshot (reference:
    dags/dataswm/servicenow_api_extract.py:2337-2342, bof rank-1 pick).

    o_totalprice closes the rank order (DESC NULLS LAST on both sides)
    and +0.0 canonicalizes −0.0: the sf1-density gate duplicates an
    orderkey and float-injects one copy, so (date, orderkey) ties with
    different prices made the rank-1 pick order-dependent."""
    o = _t(spark, sf_dir, "orders")
    return rank_pick(
        o,
        "o_custkey",
        [
            F.col("o_orderdate").desc(),
            F.col("o_orderkey").desc(),
            F.col("o_totalprice").desc_nulls_last(),
        ],
        use_row_number=True,
    ).select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.col("o_totalprice") + F.lit(0.0)).alias("o_totalprice"),
    )


@query(
    "q06_cumulative_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date,
             SUM(TRY_CAST(nullif(o_totalprice, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS rev_dec,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT order_date, CAST(rev_dec AS DOUBLE) AS daily_rev, n_orders,
           CAST(SUM(rev_dec) OVER (ORDER BY order_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_rev
    FROM daily
    """,
)
def q06_cumulative_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total (reference: notebooks/databricks/python/usage_analysis.py:173-177)."""
    o = _t(spark, sf_dir, "orders")
    # the running total must accumulate DECIMAL (order-independent exact
    # sum); only the final projection converts to double for the driver
    # rev_dec stays at Spark's widened DECIMAL(28,4) and the running sum
    # widens further — no downcast back to the element type anywhere: at
    # 100 TB the cumulative total WILL exceed DECIMAL(18,4)'s 10^14, and
    # a non-ANSI downcast silently NULLs it (the class of bug found in q106)
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            _dec_sum("o_totalprice").alias("rev_dec"),
            F.count("*").alias("n_orders"),
        )
    )
    out = cumulative_sum(daily, "rev_dec", "order_date", suffix="_cum")
    return out.select(
        "order_date",
        F.col("rev_dec").cast("double").alias("daily_rev"),
        "n_orders",
        F.col("rev_dec_cum").cast("double").alias("cum_rev"),
    )


@query(
    "q07_salted_join_priority_volume",
    """
    SELECT o.o_orderpriority,
           CAST(SUM(TRY_CAST(nullif(l.l_quantity, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q07_salted_join_priority_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's skewed join (its manual salt:
    notebooks/databricks/sql/sas_conversion_with_manual_salt_skewed_join.sql:161-206)
    as a plain equi join: adaptive execution's skew join splits a hot
    key's partitions at run time, so ``orders`` is never copied per salt
    value. The name keeps the reference's pattern it reproduces."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = equi_join(li, o, "o_orderkey")
    return (
        joined.groupBy("o_orderpriority")
        .agg(_dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n_items"))
        .orderBy("o_orderpriority")
    )


@query(
    "q08_part_unpivot",
    """
    WITH long AS (
      SELECT p_partkey, 'p_retailprice' AS key, CAST(p_retailprice AS DOUBLE) AS value FROM part
      UNION ALL
      SELECT p_partkey, 'p_size' AS key, CAST(p_size AS DOUBLE) AS value FROM part
    )
    SELECT key, COUNT(*) AS n,
           CAST(SUM(TRY_CAST(nullif(value, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM long WHERE value IS NOT NULL
    GROUP BY key ORDER BY key
    """,
)
def q08_part_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack() wide→long unpivot (reference:
    notebooks/databricks/sql/sas_conversion_with_manual_salt_skewed_join.sql:240)."""
    p = _t(spark, sf_dir, "part").withColumn(
        "p_size", F.col("p_size").cast("double")
    )
    long_df = unpivot(p, ["p_partkey"], ["p_retailprice", "p_size"])
    return (
        long_df.groupBy("key")
        .agg(F.count("*").alias("n"), _dsum("value").alias("total"))
        .orderBy("key")
    )


@query(
    "q09_json_shred_events",
    """
    SELECT event_type,
           CAST(SUM(TRY_CAST(CASE WHEN json_valid(props)
                 THEN json_extract_string(props, '$.k') END AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q09_json_shred_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-blob shred + aggregate (reference:
    dags/dataswm/servicenow_api_extract.py:188-217 JSON_EXTRACT_SCALAR + TRY_CAST).

    Malformed-JSON contract (string-injection gate, round 5): rows whose
    blob fails STRICT validation contribute NULL k on both sides — Spark
    via shred_json(strict=True) (get_json_object alone would extract from
    single-quoted pseudo-JSON), DuckDB via json_valid + TRY_CAST (bare
    json_extract RAISES on malformed input). Known residual disagreement
    set, out of contract: trailing garbage and NaN literals — see
    json_ops._STRICT_JSON_OPTS."""
    e = _t(spark, sf_dir, "events")
    shredded = shred_json(
        e, "props", {"k": ("$.k", "bigint")}, keep=["event_type"], strict=True
    )
    return (
        shredded.groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


@query(
    "q10_scd_latest_event_per_user",
    """
    SELECT user_id, event_id AS last_event_id, ts AS last_ts, event_type AS last_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q10_scd_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD latest-row dedup (reference:
    dags/dataswm/servicenow_api_extract.py:2328-2350 prev∪curr ROW_NUMBER)."""
    e = _t(spark, sf_dir, "events")
    return scd_latest(e, "user_id", "ts", tiebreak=["event_id"]).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
    )


@query(
    "q11_sessionize_events",
    """
    WITH per_ts AS (
      SELECT user_id, ts, COUNT(*) AS cnt
      FROM events GROUP BY user_id, ts
    ), flagged AS (
      SELECT user_id, ts, cnt,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM per_ts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts, cnt,
        CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(cnt) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q11_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization — the gaps-and-islands composition on event time
    (reference pattern: overlap_query_no_recursive_cte_needed.sql:36-107
    applied to a 30-minute inactivity gap).

    Tie-collapse first (the q22 lesson at sf1 density): session
    boundaries depend only on DISTINCT timestamps — same-ts events are
    one session by definition — but running the lag → cumsum chain over
    raw rows hands positional state between window passes, and
    fully-duplicated rows let each pass order a tie differently,
    splitting a tie group across two sessions nondeterministically.
    Aggregating to (user, ts, count) makes the order key unique, then
    n_events is the count-weighted sum.

    ONE exchange total: the explicit repartition on user_id satisfies
    both the (user, ts) aggregation (hash(user) clusters every
    (user, ts) group) and the session window's partitioning, so the
    tie-collapse costs no extra shuffle over the original plan —
    measured 1.8× vs the naive groupBy-then-window two-exchange shape
    at sf0.1, and one shuffle is the 100 TB requirement anyway."""
    e = _t(spark, sf_dir, "events").repartition("user_id")
    per_ts = e.groupBy("user_id", "ts").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy("ts")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev_ts)) > 1_800_000_000),
        1,
    ).otherwise(0)
    sess = per_ts.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum("cnt").cast("bigint").alias("n_events"),
    )


@query(
    "q12_sliding_distinct_users",
    """
    SELECT event_id,
           COUNT(DISTINCT user_id) OVER (PARTITION BY event_type ORDER BY epoch_us(ts)
                RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS users_10m
    FROM events
    """,
)
def q12_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 10-minute distinct-user count over an event-time RANGE frame
    (reference: windowed_lagN_awskms_postgres_date_partition.py:142-145;
    exact collect_set variant so the oracle can verify values — the approx
    variant is the same window with approx_count_distinct)."""
    e = _t(spark, sf_dir, "events")
    out = sliding_range_agg(
        e,
        "ts",
        F.collect_set("user_id"),
        "users_set_10m",
        partition_by="event_type",
        preceding_seconds=600,
    )
    return out.select("event_id", F.size("users_set_10m").cast("bigint").alias("users_10m"))


# ---------------------------------------------------------------------------
# Dedup / text / similarity (LLM-pipeline extensions)
# ---------------------------------------------------------------------------

@query(
    "q13_dedup_exact_documents",
    """
    -- IN (= semi join), NOT an inner join against the winner list: the
    -- operator's semantics are an ID SET of survivors (Spark side is a
    -- left_semi). Under id collisions (sf1-density bootstrap: one
    -- doc_id, ten copies, one string-injected) an id can win SEVERAL
    -- text groups, and an inner join would multiply its copies per win.
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
    ORDER BY d.doc_id
    """,
)
def q13_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy keeping min id — shuffles 8-byte hashes,
    not document bodies."""
    d = _t(spark, sf_dir, "documents")
    return dedup_exact(d, "text", keep="min", id_col="doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    ).orderBy("doc_id")


_Q14_STOPWORDS = "['the','and','of','to','in','is','that','for','with','a']"

_Q14_LANG_HITS = {
    "en": "['the','and','of','to','in','is','that','for','with','a']",
    "de": "['der','die','und','das','ist','nicht','ein','mit','für','auf']",
    "fr": "['le','la','les','et','des','est','pas','pour','dans','une']",
    "es": "['el','la','los','que','de','es','por','con','para','una']",
}

_Q14_ORACLE = (
    r"""
    WITH feats AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS n_bpe,
             length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
             list_min([('0x'||substr(md5(substr(text, i, 8)),1,15))::BIGINT
                       FOR i IN generate_series(1, greatest(length(text)-7, 1))]) AS fingerprint
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_chars, n_bpe, n_punct, n_upper, fingerprint,
             len(toks) AS n_tokens,
             len(list_filter(toks, t -> list_contains("""
    + _Q14_STOPWORDS
    + r""", t))) AS n_stop,
"""
    + ",\n".join(
        f"             len(list_filter(toks, t -> list_contains({arr}, t))) AS h_{lang}"
        for lang, arr in _Q14_LANG_HITS.items()
    )
    + r"""
      FROM feats
    ),
    ratios AS (
      SELECT doc_id, n_tokens, n_bpe AS n_bpe_tokens, n_chars AS n_chars_calc, fingerprint,
             n_punct / nullif(n_chars, 0) AS punct_ratio,
             n_stop / nullif(n_tokens, 0) AS stopword_ratio,
             n_upper / nullif(n_chars, 0) AS upper_ratio,
             h_en, h_de, h_fr, h_es
      FROM scored
    )
    SELECT doc_id, n_tokens, n_bpe_tokens, n_chars_calc, fingerprint,
           punct_ratio, stopword_ratio, upper_ratio,
           least(n_tokens::DOUBLE / 50.0, 1.0::DOUBLE) * 0.4
             + least(stopword_ratio * 5.0, 1.0::DOUBLE) * 0.3
             + (1.0::DOUBLE - least(punct_ratio * 5.0, 1.0::DOUBLE)) * 0.2
             + (1.0::DOUBLE - least(upper_ratio * 5.0, 1.0::DOUBLE)) * 0.1 AS quality,
           CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
                WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM ratios
    """
)


@query("q14_text_profile", _Q14_ORACLE)
def q14_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile: token counts (whitespace + BPE-ish regex),
    winnowing fingerprint, quality-score features and composite, and
    marker-stopword language ID — the full single-pass text-analysis
    battery for a training-data pipeline. Narrow projections only, fuses
    into the scan; the fingerprint/hash columns use the portable md5 hash
    so the oracle replicates them exactly (xxhash64 is the 100 TB path).

    Quality ratios are left unrounded: both engines compute identical IEEE
    doubles from the same integer divisions, whereas round() in the last
    ulp may differ."""
    from .operators.text import TOKEN_REGEX, doc_fingerprints, lang_id, quality_score

    d = _t(spark, sf_dir, "documents")
    d = quality_score(d, round_digits=None)
    d = lang_id(d)
    d = doc_fingerprints(d, hash_how="portable")
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), 0)).cast("bigint").alias("n_bpe_tokens"),
        F.col("n_chars_calc").cast("bigint").alias("n_chars_calc"),
        "fingerprint",
        "punct_ratio",
        "stopword_ratio",
        "upper_ratio",
        "quality",
        "lang_pred",
    )


@query(
    "q15_embedding_topk",
    """
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, c.vec_id,
                  list_dot_product(c.v, q.qv) /
                  (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim
           FROM c CROSS JOIN q
           WHERE c.vec_id <> q.query_id
         )
    SELECT query_id, vec_id, ROUND(sim, 6) AS cosine_sim, rank FROM (
      SELECT query_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q15_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: JVM-side zip_with/aggregate dot
    products, broadcast query set, one shuffle keyed by query_id."""
    emb = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS embedding"
    )
    queries_df = emb.filter("vec_id < 5").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    from .operators.similarity import brute_force_topk

    out = brute_force_topk(emb, queries_df, k=10, exclude_self=True)
    return out.selectExpr(
        "query_id",
        "vec_id",
        "round(cosine_sim, 6) AS cosine_sim",
        "CAST(`rank` AS BIGINT) AS `rank`",
    )


# ---------------------------------------------------------------------------
# Band join + wildcard rule join (SURVEY §2.3 J8/J9)
# ---------------------------------------------------------------------------

@query(
    "q16_size_band_join",
    """
    WITH bands(band, lo, hi) AS (VALUES ('small', 0, 15), ('medium', 16, 35), ('large', 36, 100))
    SELECT b.band, COUNT(*) AS n_parts,
           CAST(SUM(TRY_CAST(nullif(p.p_retailprice, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM part p JOIN bands b ON p.p_size >= b.lo AND p.p_size <= b.hi
    GROUP BY b.band ORDER BY b.band
    """,
)
def q16_size_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (between) join against a broadcast rule dim (reference:
    notebooks/zeppelin/bof_30_migrate.scala:1098-1103)."""
    p = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("small", 0, 15), ("medium", 16, 35), ("large", 36, 100)],
        "band string, lo int, hi int",
    )
    joined = band_join(p, bands, "p_size", "lo", "hi")
    return (
        joined.groupBy("band")
        .agg(F.count("*").alias("n_parts"), _dsum("p_retailprice").alias("total_price"))
        .orderBy("band")
    )


@query(
    "q17_wildcard_rule_tiering",
    """
    WITH fact AS (
      SELECT c.c_custkey, c.c_mktsegment, n.n_name
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    rules(priority, seg, nat, tier) AS (VALUES
      (10, 'BUILDING', '*', 'gold'),
      (20, '*', 'GERMANY', 'silver'),
      (90, '*', '*', 'bronze')
    ),
    matched AS (
      SELECT f.c_custkey, r.tier, r.priority,
             ROW_NUMBER() OVER (PARTITION BY f.c_custkey ORDER BY r.priority) AS rn
      FROM fact f JOIN rules r
        ON (r.seg = '*' OR r.seg = f.c_mktsegment)
       AND (r.nat = '*' OR r.nat = f.n_name)
    )
    SELECT c_custkey, tier FROM matched WHERE rn = 1 ORDER BY c_custkey
    """,
)
def q17_wildcard_rule_tiering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard-predicate rule join + priority rank-pick (reference:
    notebooks/zeppelin/bof_30_migrate.scala:58-168,525-578)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    fact = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_mktsegment", "n_name"
    )
    rules = spark.createDataFrame(
        [
            (10, "BUILDING", "*", "gold"),
            (20, "*", "GERMANY", "silver"),
            (90, "*", "*", "bronze"),
        ],
        "priority int, seg string, nat string, tier string",
    )
    out = wildcard_rule_join(
        fact,
        rules,
        {"seg": "c_mktsegment", "nat": "n_name"},
        priority_col="priority",
        pick_per=["c_custkey"],
    )
    # distinct: the query's answer is a tier PER CUSTOMER (the oracle's
    # ROW_NUMBER emits one row per custkey); wildcard_rule_join itself
    # tiers fact ROWS, so duplicate customer rows would each surface —
    # no-op on unique custkeys, aligned under duplicates
    return out.select("c_custkey", "tier").distinct().orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------

@query(
    "q18_open_not_fulfilled_custkeys",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_custkey
    """,
)
def q18_open_not_fulfilled_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / subtract diff-validation (reference:
    notebooks/databricks/python/from_api_call_to_columnar_db.py:688-703)."""
    o = _t(spark, sf_dir, "orders")
    open_k = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_k = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_k.subtract(done_k).orderBy("o_custkey")
