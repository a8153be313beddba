"""Query catalog, part 3: predicate/scalar-function coverage and composite
pipeline shapes (SURVEY §2.2, §2.8; BASELINE bench shape 2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import dedup_by_key
from .operators.json_ops import json_to_map
from .operators.relational import equi_join
from .operators.unpivot import unpivot
from .operators.windows import approx_distinct_over_range, sliding_range_agg
from .oracles import (
    embedding_dedup_lsh_sql,
    gauss_plane_tables,
    gauss_planes,
    lsh_topk_sql,
)
from .queries import _dsum, _t, query


@query(
    "q36_map_key_filter",
    """
    SELECT event_type, COUNT(*) AS n_high
    FROM events
    WHERE TRY_CAST(CASE WHEN json_valid(props)
          THEN json_extract_string(props, '$.k') END AS BIGINT) > 50
    GROUP BY event_type ORDER BY event_type
    """,
)
def q36_map_key_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-key predicates over a parsed JSON map (reference:
    usage_analysis.py:95-100,392 — array_contains(map_keys(...)) + typed
    subscript filter). The oracle is the direct-JSON equivalent; malformed
    JSON rows are dropped on both sides (Spark STRICT from_json → NULL map
    filters false — default from_json would parse single-quoted blobs the
    oracle's json_valid rejects; oracle json_valid + TRY_CAST → NULL
    compares false). Residual out-of-contract shapes: trailing garbage,
    NaN — json_ops._STRICT_JSON_OPTS."""
    e = _t(spark, sf_dir, "events")
    m = json_to_map(e, "props", "f", strict=True)
    return (
        m.filter(
            F.array_contains(F.map_keys("f"), "k")
            & (F.col("f").getItem("k").cast("bigint") > 50)
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_high"))
        .orderBy("event_type")
    )


@query(
    "q37_string_functions",
    """
    SELECT p_partkey,
           upper(substring(p_name, 1, 8)) AS name_prefix,
           regexp_extract(p_type, '([A-Z]+)$', 1) AS type_last,
           length(p_name) AS name_len,
           reverse(p_brand) AS brand_rev,
           -- explicit NULL semantics: DuckDB concat() treats NULL as
           -- '', Spark concat_ws SKIPS null args (dropping the ':') and
           -- F.concat nulls the whole row — coalesce on BOTH sides is
           -- the only encoding the engines agree on
           concat(coalesce(p_brand, ''), ':', coalesce(p_type, '')) AS brand_type
    FROM part
    WHERE p_type LIKE '%OMY' OR p_name LIKE 'red%'
    """,
)
def q37_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery + LIKE predicates (SURVEY §2.8:
    substr/length/reverse/concat/regexp_extract; P9 LIKE —
    hive_to_hive_cte.py:46-59)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("%OMY") | F.col("p_name").like("red%")
    ).select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("type_last"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.reverse("p_brand").alias("brand_rev"),
        F.concat_ws(
            ":",
            F.coalesce(F.col("p_brand"), F.lit("")),
            F.coalesce(F.col("p_type"), F.lit("")),
        ).alias("brand_type"),
    )


@query(
    "q38_null_safe_join",
    """
    WITH a AS (
      SELECT event_id, nullif(event_type, 'click') AS et FROM events WHERE event_id < 500
    ), b AS (
      SELECT nullif(event_type, 'click') AS et, COUNT(*) AS n_type
      FROM events GROUP BY 1
    )
    SELECT a.event_id, a.et, b.n_type
    FROM a JOIN b ON a.et IS NOT DISTINCT FROM b.et
    """,
)
def q38_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join — null keys match null keys (reference:
    bof_30_migrate.scala:40,1223 ``<=>`` joins; Spark eqNullSafe)."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_id") < 500).select(
        "event_id", F.nullif("event_type", F.lit("click")).alias("et")
    )
    b = (
        e.select(F.nullif("event_type", F.lit("click")).alias("bt"))
        .groupBy("bt")
        .agg(F.count("*").alias("n_type"))
    )
    return a.join(b, a["et"].eqNullSafe(b["bt"])).select("event_id", "et", "n_type")


@query(
    "q39_one_hot_segments",
    """
    SELECT c_custkey,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS seg_building,
           CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS seg_machinery,
           CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS seg_automobile,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_bucket
    FROM customer
    """,
)
def q39_one_hot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE one-hot encoding battery + chained when/otherwise (reference:
    mlflow_pymatch_single_node.py:33-112; usage_analysis.py:76-82)."""
    c = _t(spark, sf_dir, "customer")
    one_hot = [
        F.when(F.col("c_mktsegment") == seg, 1).otherwise(0).alias(f"seg_{seg.lower()}")
        for seg in ("BUILDING", "MACHINERY", "AUTOMOBILE")
    ]
    bucket = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_bucket")
    )
    return c.select("c_custkey", *one_hot, bucket)


@query(
    "q40_sas_composite_shape",
    """
    WITH joined AS (
      SELECT o.o_orderpriority, l.l_orderkey, l.l_linenumber,
             l.l_returnflag, l.l_linestatus
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), long AS (
      SELECT o_orderpriority, l_orderkey, l_linenumber, 'l_returnflag' AS key, l_returnflag AS flag FROM joined
      UNION ALL
      SELECT o_orderpriority, l_orderkey, l_linenumber, 'l_linestatus' AS key, l_linestatus AS flag FROM joined
    ), deduped AS (
      SELECT DISTINCT o_orderpriority, key, flag FROM long WHERE flag IS NOT NULL
    )
    SELECT o_orderpriority, key, COUNT(*) AS n_distinct_flags
    FROM deduped GROUP BY o_orderpriority, key
    ORDER BY o_orderpriority, key
    """,
)
def q40_sas_composite_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAS-conversion composite: skewed join → stack unpivot →
    dropDuplicates on the business key → aggregate (reference:
    sas_conversion_with_manual_salt_skewed_join.sql:161-255; BASELINE bench
    shape 2). The reference's manual salt is a plain equi join here;
    adaptive execution's skew join splits hot partitions at run time.
    Filters apply before the unpivot fan-out."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = equi_join(li, o, "o_orderkey").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    long_df = unpivot(
        joined,
        ["o_orderpriority", "l_orderkey", "l_linenumber"],
        ["l_returnflag", "l_linestatus"],
        value_col="flag",
    )
    deduped = dedup_by_key(
        long_df.select("o_orderpriority", "key", "flag"),
        ["o_orderpriority", "key", "flag"],
    )
    return (
        deduped.groupBy("o_orderpriority", "key")
        .agg(F.count("*").alias("n_distinct_flags"))
        .orderBy("o_orderpriority", "key")
    )


@query(
    "q41_approx_sliding_distinct",
    """
    SELECT event_id,
           COUNT(DISTINCT user_id) OVER (PARTITION BY event_type ORDER BY epoch_us(ts)
                RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS users_10m_exact,
           TRUE AS hll_within_bound
    FROM events
    """,
)
def q41_approx_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx distinct users over a trailing 10-minute RANGE frame — the
    scale path for q12 (reference: windowed_lagN...py:142-145). HLL sketch
    VALUES are engine-specific, so the sketch itself can't be hash-graded;
    what CAN be is its error contract. The projection is the exact count
    plus ``hll_within_bound`` = |approx − exact| ≤ max(4, ⌈0.2·exact⌉);
    the oracle computes the exact window and asserts the bound TRUE, so a
    drifting HLL implementation (or a broken frame translation on the
    approx path) fails the driver hash instead of going unobserved.
    Measured max abs error on this corpus: 3 at sf0.1 (frames hold ≤16
    distinct users — HLL±1-3 at these cardinalities); the bound has ≥33%
    headroom. The exact twin here exists only to grade the contract — at
    100 TB you run ``approx_distinct_over_range`` alone (sub-linear HLL
    state per frame vs collect_set's O(distinct) array)."""
    e = _t(spark, sf_dir, "events")
    out = approx_distinct_over_range(
        e, "ts", "user_id", "approx_users_10m",
        partition_by="event_type", preceding_seconds=600,
    )
    out = sliding_range_agg(
        out, "ts", F.collect_set("user_id"), "users_set_10m",
        partition_by="event_type", preceding_seconds=600,
    )
    exact = F.size("users_set_10m").cast("bigint")
    bound = F.greatest(F.lit(4).cast("bigint"), F.ceil(0.2 * exact))
    return out.select(
        "event_id",
        exact.alias("users_10m_exact"),
        (F.abs(F.col("approx_users_10m") - exact) <= bound).alias(
            "hll_within_bound"
        ),
    )


@query(
    "q44_hourly_rollup",
    """
    WITH minutely AS (
      SELECT date_trunc('minute', ts) AS minute_ts, event_type,
             COUNT(*) AS n, CAST(SUM(TRY_CAST(nullif(value, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT date_trunc('hour', minute_ts) AS hour_ts, event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(v) AS DOUBLE) AS max_minute_value,
           CAST(SUM(v) AS DOUBLE) AS sum_value
    FROM minutely GROUP BY 1, 2
    """,
)
def q44_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute→hour re-aggregation rollup (reference:
    windowed_lagN_awskms_postgres_date_partition.py:228-238). The hour agg
    reuses the minute agg's partitioning when AQE allows — partial
    aggregation makes the second pass nearly free."""
    e = _t(spark, sf_dir, "events")
    # Keep v EXACT decimal through both agg levels (a double intermediate
    # would make the hour-level re-sum order-dependent); only the final
    # projection casts to DOUBLE for driver-hash parity.
    minutely = e.groupBy(
        F.date_trunc("minute", "ts").alias("minute_ts"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").try_cast("decimal(18,4)")).cast("decimal(18,4)").alias("v"),
    )
    return minutely.groupBy(
        F.date_trunc("hour", "minute_ts").alias("hour_ts"), "event_type"
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.max("v").cast("double").alias("max_minute_value"),
        F.sum("v").cast("double").alias("sum_value"),
    )


@query(
    "q45_schema_evolution_union",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
    ), v2 AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT * FROM v1 UNION ALL SELECT * FROM v2
    """,
)
def q45_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union across schema versions: the old version lacks a column; it is
    aligned to the target schema with typed nulls then unioned (reference:
    from_raw_to_hive_with_glue.py:44-88 lit(None) + reduce-union)."""
    from functools import reduce

    from .schema import align_to_schema, schema_from_ddl

    o = _t(spark, sf_dir, "orders")
    target = schema_from_ddl(
        "o_orderkey bigint, o_custkey bigint, o_totalprice double, o_orderpriority string"
    )
    v1 = align_to_schema(
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        target,
    )
    v2 = align_to_schema(
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ),
        target,
    )
    return reduce(DataFrame.unionByName, [v1, v2])


@query(
    "q46_right_outer_fill",
    """
    SELECT c.c_custkey, c.c_name,
           COALESCE(o.n_orders, 0) AS n_orders
    FROM (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q46_right_outer_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join keeping all dim rows + coalesce fill (reference:
    sap_bw_api.scala:318-319 rightouter archive merge)."""
    o = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(F.count("*").alias("__n"))
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right_outer").select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_orders"),
    )


# Hyperplane constants shared verbatim between the Spark expression trees
# and the generated oracle SQL: the embeddings tables are 64-dim at every
# SF (TESTDATA.md), so the planes are import-time constants.
_EMB_DIM = 64
_Q42_PLANE_TABLES = gauss_plane_tables(n_tables=8, n_planes=6, dim=_EMB_DIM, seed=7)
_Q43_PLANES = gauss_planes(n_planes=4, dim=_EMB_DIM, seed=42)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return emb


@query(
    "q42_embedding_dedup_pairs",
    embedding_dedup_lsh_sql(_Q42_PLANE_TABLES, threshold=0.4),
)
def q42_embedding_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table hyperplane LSH
    + exact in-bucket verification — the 100 TB dedup path (no all-pairs
    crossJoin anywhere). The oracle replicates the full algorithm from the
    same plane constants, so the approximation itself is hash-verified;
    the exact all-pairs baseline is pytest-pinned (test_similarity)."""
    from .operators.similarity import embedding_dedup_pairs_lsh

    pairs = embedding_dedup_pairs_lsh(
        _emb(spark, sf_dir), _Q42_PLANE_TABLES, threshold=0.4
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("cosine_sim").cast("decimal(10,6)").cast("double").alias("cosine_sim"),
    )


@query("q43_lsh_topk", lsh_topk_sql(_Q43_PLANES, k=10, query_max_id=5))
def q43_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-k — the 100 TB ANN path
    (only bucket-mates are scored); exact q15 is the recall baseline. The
    oracle recomputes the same buckets from the same plane literals, so
    the approximate result is hash-verified, not rows-only."""
    from .operators.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = lsh_topk(emb, queries_df, _Q43_PLANES, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.col("cosine_sim").cast("decimal(10,6)").cast("double").alias("cosine_sim"),
        F.col("rank").cast("bigint").alias("rank"),
    )


@query(
    "q47_sql_text_pipeline",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(TRY_CAST(nullif(o_totalprice, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderstatus <> 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q47_sql_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text entry path with temp views + native named parameters — the
    reference's dominant lifecycle (SURVEY §3.1: build text → spark.sql →
    action), minus the string-interpolation injection surface."""
    from .sql import run_sql

    o = _t(spark, sf_dir, "orders")
    return run_sql(
        spark,
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(TRY_CAST(nullif(o_totalprice, CAST('NaN' AS DOUBLE)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM q47_orders
        WHERE o_orderdate >= :cutoff AND o_orderstatus <> :excluded
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        views={"q47_orders": o},
        params={"cutoff": "1996-01-01 00:00:00", "excluded": "F"},
    )


@query(
    "q48_ivf_topk_full_probe",
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
    SELECT query_id, vec_id, CAST(CAST(sim AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim, rank FROM (
      SELECT query_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q48_ivf_topk_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with n_probe = n_centroids — exactly brute force, so the
    exact-top-k oracle verifies the whole IVF path (KMeans training,
    bucket assignment, probe selection, bucket-restricted scoring).
    Production uses n_probe < n_centroids for the 1/(k/n_probe) scan cut."""
    from .operators.similarity import ivf_topk, kmeans_centroids

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    centroids = kmeans_centroids(emb, k=4, seed=42)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(emb, queries_df, centroids, n_probe=4, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.col("cosine_sim").cast("decimal(10,6)").cast("double").alias("cosine_sim"),
        F.col("rank").cast("bigint").alias("rank"),
    )
